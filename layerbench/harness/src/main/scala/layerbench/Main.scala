package layerbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload: set-up (inputs plus one warm
  * pass), then one timed phase. With `--trace 1` a traced phase and a
  * second untraced one follow, each on fresh state; the two untraced
  * phases are the reference for the tracing overhead. The last stdout
  * line is the result JSON. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.work, "tmp"))
    Disk.watchLiveHeap()
    val spark = Session.build(a)
    val line = try run(a, spark) finally spark.stop()
    println(line)
    System.out.flush()
    // streaming and Spark helper threads must not keep the JVM alive
    System.exit(0)
  }

  private def run(a: Args, spark: SparkSession): String = {
    val wl: Workload = a.workload match {
      case "etl_batch" => new EtlBatch(spark, a)
      case "table_commits" => new TableCommits(spark, a)
      case "query_mix" => new QueryMix(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = (System.currentTimeMillis() - a.t0Ms) / 1e3
    wl.setup()
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1e3
    println(f"  set-up: JVM and session $sessionS%.2f s, inputs and warm pass ${setupS - sessionS}%.2f s")
    // harness waits, outside set-up: the calibration loop's own JIT
    // warm-up, then a quiet compiler before the first timed op
    Calib.time(spark)
    Settle.jit()
    val base = new Phase(spark, a.seconds, None, a.corrupt)
    val baseExtra = wl.run(base, "a")
    base.finish()
    println(f"  harness waits ${(System.currentTimeMillis() - a.t0Ms) / 1e3 - setupS - base.elapsed}%.2f s, " +
      f"timed phase ${base.elapsed}%.2f s")
    if (!a.trace) Report.endToEnd(a, setupS, base, baseExtra)
    else {
      val tr = new Tracer(spark)
      tr.install()
      val traced = new Phase(spark, a.seconds, Some(tr), a.corrupt)
      val extra = wl.run(traced, "b")
      traced.finish()
      tr.uninstall()
      // a second untraced phase after the traced one, so that warm-up
      // drift between phases does not read as tracing overhead
      val after = new Phase(spark, a.seconds, None, a.corrupt)
      wl.run(after, "c")
      after.finish()
      Report.perLayer(a, Seq(base, after), traced, tr, extra)
    }
  }
}
