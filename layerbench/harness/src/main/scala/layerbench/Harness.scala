package layerbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, t0Ms: Long, corrupt: Boolean, traceOut: String, goldenOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("t0-ms").toLong,
      kv.get("corrupt").contains("1"), kv.getOrElse("trace-out", ""),
      kv.getOrElse("golden-out", ""))
  }
}

/** The one session configuration every workload runs under. */
object Session {
  def conf(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50",
    "spark.ui.retainedTasks" -> "500",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse",
    "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
    "spark.sql.catalog.graft.warehouse" -> s"$work/graft-warehouse")

  def build(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    var b = SparkSession.builder().appName(s"layerbench-${a.workload}")
    conf(cpus, a.work).foreach { case (k, v) => b = b.config(k, v) }
    // counted metadata calls, in traced runs only
    if (a.trace) b = b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A fixed CPU-bound Spark job: one task per core, each a fixed integer
  * loop. Timed at the start, middle and end of a phase; drift between the
  * three marks a host that other work is contending for. */
object Calib {
  def time(spark: SparkSession): Double = {
    System.gc()
    val n = spark.sparkContext.defaultParallelism
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(0 until n, n).map { i =>
        var x = i.toLong + 1
        var j = 0
        while (j < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; j += 1 }
        x
      }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).min
  }
}

/** Waits, after a warm pass, until the JIT has compiled what the warm pass
  * made hot: ops timed while the compiler threads still compete for the
  * cores read slower for reasons that are not the engine's. */
object Settle {
  def jit(maxSeconds: Double = 3.0): Unit = {
    val bean = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = bean.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && (System.nanoTime() - t0) / 1e9 < maxSeconds) {
      Thread.sleep(250)
      val now = bean.getTotalCompilationTime
      quiet = if (now - last < 25) quiet + 1 else 0
      last = now
    }
    System.gc()
  }
}

final case class OpRec(id: Int, kind: String, cls: String, startNs: Long,
    endNs: Long, var ok: Boolean, rows: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** One timed phase of a closed loop with a single client: an op starts
  * only after the previous op and its output check have finished. */
final class Phase(val spark: SparkSession, val seconds: Int,
    val tracer: Option[Tracer], corrupt: Boolean) {
  val ops = ArrayBuffer[OpRec]()
  val calib = ArrayBuffer[Double](Calib.time(spark))
  private val t0 = System.nanoTime()
  private var midDone = false
  private var checks = 0
  val notes = ArrayBuffer[String]()
  /** Per-op values a workload records for the trace (e.g. history length). */
  val opInfo = scala.collection.mutable.Map[Int, Map[String, Double]]()

  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  /** True while the phase must go on: until `min` units (batches, cycles,
    * queries) are done and `seconds` have passed. A fixed minimum keeps the
    * timed mix the same from run to run; `seconds` is a floor. Takes the
    * mid-run calibration half-way through the minimum. */
  def more(done: Int, min: Int): Boolean = {
    if (!midDone && done * 2 >= min) { calib += Calib.time(spark); midDone = true }
    done < min || elapsed < seconds
  }

  def finish(): Unit = calib += Calib.time(spark)

  def calibDrift: Double = (calib.max - calib.min) / calib.min

  /** Runs one timed op. `rows` is the user rows it moved. A throw counts
    * the op as failed. */
  def op[T](kind: String, cls: String)(body: => T)(rows: T => Long): Option[T] = {
    val id = ops.size
    val st = tracer.map(_.beginOp(id, kind))
    val a = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        notes += s"op $id $kind failed: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
        None
    }
    val b = System.nanoTime()
    for (t <- tracer; s <- st) t.endOp(s, a, b)
    ops += OpRec(id, kind, cls, a, b, r.isDefined, r.map(rows).getOrElse(0L))
    r
  }

  /** Output check against the last op. A mismatch marks that op failed.
    * With `corrupt` set, every third observed value is altered before the
    * comparison; the self-test uses it to show mismatches are counted. */
  def expect(what: String, got: Any, want: Any): Boolean = {
    checks += 1
    val seen = if (corrupt && checks % 3 == 0) s"corrupted:$got" else got
    val ok = seen == want
    if (!ok) {
      ops.lastOption.foreach(_.ok = false)
      if (notes.size < 50) notes += s"check failed: $what: got $seen, want $want"
    }
    ok
  }

  def failed: Int = ops.count(!_.ok)
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Directory helpers; harness-side bookkeeping outside the timed window. */
object Disk {
  def bytes(dir: String): Long = files(dir).map(Files.size).sum
  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }
  }
  /** Heap in use right after a collection, the largest over the run: the
    * most the program held live, whatever the collector's sizing. */
  @volatile private var liveHeapPeak = 0L
  def watchLiveHeap(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { liveHeapPeak = math.max(liveHeapPeak, used) }
          }, null, null)
      case _ =>
    }
  }
  def liveHeapPeakMb: Double = liveHeapPeak / 1048576.0
  /** Heap in use after a full collection: what the program retains. */
  def retainedHeapMb: Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** A workload runs timed phases; each phase starts from fresh state. */
trait Workload {
  /** Inputs and one untimed warm pass; counted in `setup_s`. */
  def setup(): Unit
  /** One timed phase; returns the workload's own layer metrics. */
  def run(ph: Phase, tag: String): Map[String, Double]
}
