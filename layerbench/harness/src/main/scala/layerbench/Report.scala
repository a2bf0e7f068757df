package layerbench

import java.nio.file.{Files, Paths}

/** Turns phases into the result line: end-to-end metrics for an untraced
  * run, per-layer metrics for a traced one. Human-readable lines go first;
  * the JSON result is the last line. */
object Report {
  /** Every per-layer metric and its unit. A layer a workload does not
    * reach reads 0 there. */
  val layerUnits: Seq[(String, String)] = Seq(
    "pipeline.extract_s" -> "s", "pipeline.validate_s" -> "s",
    "pipeline.curate_s" -> "s", "pipeline.deploy_s" -> "s",
    "pipeline.attempts" -> "count", "catalog.partitions_repaired" -> "count",
    "io.zone_bytes_written" -> "bytes",
    "io.manifest.retained" -> "count", "io.live_files" -> "count",
    "io.files_per_commit" -> "count", "io.write_amp" -> "ratio",
    "io.compact_s" -> "s", "io.compact_bytes_rewritten" -> "bytes",
    "streaming.files_per_epoch" -> "count",
    "sources.dml.delete_cow_s" -> "s", "sources.dml.delete_mor_s" -> "s",
    "sources.dml.update_cow_s" -> "s", "sources.dml.update_mor_s" -> "s",
    "sources.dml.merge_cow_s" -> "s", "sources.dml.merge_mor_s" -> "s",
    "table.commit_s.p50" -> "s", "table.commit_s.p90" -> "s",
    "table.read_s.p50" -> "s", "table.read_s.p90" -> "s",
    "table.space_amp" -> "ratio",
    "spark.driver_pre_s" -> "s", "spark.driver_pre_s.first_tenth" -> "s",
    "spark.driver_pre_s.last_tenth" -> "s",
    "spark.plan.analysis_s" -> "s", "spark.plan.optimization_s" -> "s",
    "spark.plan.planning_s" -> "s", "spark.exec_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.driver_post_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "fs.bytes_read" -> "bytes", "fs.bytes_written" -> "bytes",
    "fs.read_ops" -> "count", "fs.list_ops" -> "count",
    "trace.overhead_frac" -> "ratio") ++
    QueryMix.names.map(n => s"query.$n.s" -> "s")

  private def line(name: String, v: Double, unit: String, extra: String = ""): Unit =
    println(f"  $name%-34s ${Json.num(v)}%-22s $unit $extra")

  private def result(ph: Seq[Phase], metrics: Seq[(String, Double, String)]): String = {
    val attempted = ph.map(_.ops.size).sum
    val failed = ph.map(_.failed).sum
    Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  private def header(a: Args, ph: Seq[Phase]): Unit = {
    val attempted = ph.map(_.ops.size).sum
    val failed = ph.map(_.failed).sum
    println(s"layerbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}")
    ph.foreach { p =>
      val drift = p.calibDrift
      println(f"  calibration ${p.calib.map(c => f"$c%.3f").mkString("/")} s, drift " +
        f"${drift * 100}%.1f%%${if (drift > 0.2) " -> contended" else ""}")
      p.notes.foreach(n => println(s"  note: $n"))
    }
    println(f"  failed_frac ${if (attempted == 0) 1.0 else failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted ops)")
    if (ph.exists(_.calibDrift > 0.2)) println("  contended: true")
  }

  def endToEnd(a: Args, setupS: Double, ph: Phase, extra: Map[String, Double]): String = {
    header(a, Seq(ph))
    val lat = ph.ops.map(_.secs).toSeq
    val busy = lat.sum
    val n = lat.size
    def beyond(p: Double) = lat.count(_ > Stats.pct(lat, p))
    val m = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", n / busy, "1/s"),
      ("rows_per_s", ph.ops.map(_.rows).sum / busy, "rows/s"),
      ("retained_heap_mb", Disk.retainedHeapMb, "MB"))
    m.foreach { case (k, v, u) => line(k, v, u) }
    // printed, not in the result: both move with the collector's heap
    // sizing as much as with the program (quartile spread up to 0.18
    // over seeds on the reference machine)
    line("peak_rss_mb", Disk.peakRssMb, "MB", "(VmHWM)")
    line("live_heap_peak_mb", Disk.liveHeapPeakMb, "MB", "(largest heap in use after a collection)")
    // printed, not in the result: a run holds too few ops for percentiles
    // that stay within a regression bound from run to run on a shared host
    def thin(p: Double) = if (beyond(p) < 10) ", thin" else ""
    Seq(0.5, 0.9).foreach { p =>
      line(f"op_s.p${(p * 100).toInt}", Stats.pct(lat, p), "s", s"(n=$n, ${beyond(p)} beyond${thin(p)})")
    }
    // layers measured only in traced runs read 0 here and are left out
    extra.toSeq.filter(_._2 != 0).sortBy(_._1).foreach { case (k, v) => line(k, v, "", "(workload detail)") }
    result(Seq(ph), m)
  }

  /** Per-op split of an op's wall time around its Spark jobs. */
  private final case class Split(pre: Double, exec: Double, gap: Double, post: Double)

  private def split(s: OpStats, tr: Tracer): Split = {
    val jobs = s.jobs.map { case (a, b) =>
      (math.max(tr.msToNs(a), s.startNs), math.min(tr.msToNs(b), s.endNs))
    }.filter { case (a, b) => b >= a }.toSeq
    val dur = (s.endNs - s.startNs) / 1e9
    if (jobs.isEmpty) Split(dur, 0, 0, 0)
    else {
      val first = jobs.map(_._1).min
      val last = jobs.map(_._2).max
      val exec = Tracer.union(jobs) / 1e9
      Split((first - s.startNs) / 1e9, exec, (last - first) / 1e9 - exec, (s.endNs - last) / 1e9)
    }
  }

  def perLayer(a: Args, untraced: Seq[Phase], traced: Phase, tr: Tracer,
      extra: Map[String, Double]): String = {
    header(a, untraced :+ traced)
    val ops = tr.ops.toSeq
    val splits = ops.map(split(_, tr))
    def mean(f: OpStats => Double) = Stats.mean(ops.map(f))
    val tenth = math.max(1, ops.size / 10)
    // paired by op index: every phase runs the same seeded op sequence
    val n = (untraced.map(_.ops.size) :+ traced.ops.size).min
    val ratios = (0 until n).filter(i => untraced.forall(_.ops(i).kind == traced.ops(i).kind))
      .map(i => traced.ops(i).secs / Stats.mean(untraced.map(_.ops(i).secs)))
    val spark = Map(
      "spark.driver_pre_s" -> Stats.mean(splits.map(_.pre)),
      "spark.driver_pre_s.first_tenth" -> Stats.mean(splits.take(tenth).map(_.pre)),
      "spark.driver_pre_s.last_tenth" -> Stats.mean(splits.takeRight(tenth).map(_.pre)),
      "spark.exec_s" -> Stats.mean(splits.map(_.exec)),
      "spark.driver_gap_s" -> Stats.mean(splits.map(_.gap)),
      "spark.driver_post_s" -> Stats.mean(splits.map(_.post)),
      "spark.plan.analysis_s" -> mean(_.analysisMs / 1e3),
      "spark.plan.optimization_s" -> mean(_.optimizationMs / 1e3),
      "spark.plan.planning_s" -> mean(_.planningMs / 1e3),
      "spark.jobs" -> mean(_.jobs.size.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_run_s" -> mean(_.taskRunMs / 1e3),
      "spark.gc_s" -> mean(_.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
      "spark.shuffle_fetch_wait_s" -> mean(_.fetchWaitMs / 1e3),
      "spark.spill_bytes" -> mean(_.spill.toDouble),
      "spark.input_bytes" -> mean(_.input.toDouble),
      "spark.output_bytes" -> mean(_.output.toDouble),
      "fs.bytes_read" -> mean(_.fsRead.toDouble),
      "fs.bytes_written" -> mean(_.fsWritten.toDouble),
      "fs.read_ops" -> mean(_.fsOpens.toDouble),
      "fs.list_ops" -> mean(_.fsLists.toDouble),
      "trace.overhead_frac" -> (if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1))
    val all = spark ++ extra
    val metrics = layerUnits.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
    metrics.foreach { case (k, v, u) => line(k, v, u) }
    println(f"  tracing overhead: median traced/untraced op time ${Json.num(all("trace.overhead_frac"))} " +
      s"over ${ratios.size} paired ops (untraced ${untraced.map(_.ops.size).mkString("+")}, " +
      s"traced ${traced.ops.size})")
    val self = Tracer.selfTime(tr.spans.toSeq)
    println("  self time by span (count, seconds):")
    self.toSeq.sortBy(-_._2._2).foreach { case (k, (c, s)) => println(f"    $k%-34s $c%6d $s%10.4f") }
    if (a.traceOut.nonEmpty) writeTrace(a, traced, tr, splits, self, all)
    result(untraced :+ traced, metrics)
  }

  private def writeTrace(a: Args, ph: Phase, tr: Tracer, splits: Seq[Split],
      self: Map[String, (Int, Double)], metrics: Map[String, Double]): Unit = {
    val t0 = tr.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = tr.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "op" -> s.op.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9)))
    }
    val ops = tr.ops.zip(splits).map { case (s, sp) =>
      val info = ph.opInfo.getOrElse(s.op, Map.empty)
      Json.obj(Seq("op" -> s.op.toString, "kind" -> Json.str(s.kind),
        "s" -> Json.num((s.endNs - s.startNs) / 1e9),
        "driver_pre_s" -> Json.num(sp.pre), "exec_s" -> Json.num(sp.exec),
        "driver_gap_s" -> Json.num(sp.gap), "driver_post_s" -> Json.num(sp.post),
        "jobs" -> s.jobs.size.toString, "stages" -> s.stages.toString, "tasks" -> s.tasks.toString,
        "analysis_ms" -> s.analysisMs.toString, "optimization_ms" -> s.optimizationMs.toString,
        "planning_ms" -> s.planningMs.toString,
        "fs_read_ops" -> s.fsOpens.toString, "fs_list_ops" -> s.fsLists.toString) ++
        info.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    val layers = self.toSeq.sortBy(_._1).map { case (k, (c, s)) =>
      k -> Json.obj(Seq("count" -> c.toString, "self_s" -> Json.num(s)))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString,
      "session" -> Json.obj(Session.conf(Runtime.getRuntime.availableProcessors(), "<work>")
        .map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "layers_self_time" -> Json.obj(layers),
      "ops" -> Json.arr(ops.toSeq),
      "spans" -> Json.arr(spans.toSeq)))
    Files.createDirectories(Paths.get(a.traceOut).getParent)
    Files.writeString(Paths.get(a.traceOut), doc + "\n")
    println(s"  trace written: ${a.traceOut}")
  }
}
