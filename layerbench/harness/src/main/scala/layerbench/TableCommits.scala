package layerbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.io.Manifest

/** One graft catalog table, created by CTAS and then driven through a
  * seeded mix of SQL writes (INSERT, DELETE, UPDATE, MERGE in COW or MOR
  * mode, an AvailableNow stream append, periodic compaction) with reads
  * interleaved (full-scan aggregate, point lookup, VERSION AS OF). There
  * is no vacuum, so the retained history grows with every commit. An
  * in-memory model, key -> value, checks every read. */
final class TableCommits(spark: SparkSession, a: Args) extends Workload {
  private val initialRows = 20000L
  /** Files the CTAS lands, so every manifest of the history lists as
    * many files as a table after that many small appends. */
  private val initialFiles = 40
  /** Metadata-only commits (ALTER TABLE SET TBLPROPERTIES) made, untimed,
    * between the first and the second cycle: the second cycle runs at the
    * history depth where per-commit metadata cost has grown, the first on
    * a fresh table, so the pair shows the rise. */
  private val historyCommits = 40
  /** Keys per INSERT, stream append and DML range. */
  private val width = 200L
  private val modulus = 1000003L
  /** One cycle, in a seeded order. Every cycle has the same statements, and
    * a timed phase runs at least two, so every run times the same mix. */
  private val cycle = Seq("insert", "delete", "update", "merge", "stream") ++
    Seq.fill(2)("scan") ++ Seq.fill(2)("point") ++ Seq.fill(2)("timetravel")
  private val dmlKinds = Seq("delete", "update", "merge")

  def setup(): Unit = run(new Phase(spark, 0, None, corrupt = false), "warm", warm = true)

  def run(ph: Phase, tag: String): Map[String, Double] = run(ph, tag, warm = false)

  private def run(ph: Phase, tag: String, warm: Boolean): Map[String, Double] = {
    val t = s"graft.bench.t_$tag"
    val stage = s"graft.bench.s_$tag"
    val dir = s"${a.work}/graft-warehouse/bench/t_$tag"
    val rnd = new scala.util.Random(a.seed * 2654435761L + 17)
    val traced = ph.tracer.nonEmpty
    def span[T](name: String)(body: => T): T = ph.tracer.fold(body)(_.span(name)(body))
    def sql(q: String) = span("sources.sql")(spark.sql(q).collect())

    val c0 = rnd.nextInt(1000).toLong
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.sql(s"CREATE TABLE $t USING graft AS SELECT id AS k, " +
      s"(id * 7919 + $c0) % $modulus AS v, concat('row-', id) AS s FROM range(0, $initialRows, 1, ${if (warm) 4 else initialFiles})")
    spark.sql(s"CREATE TABLE $stage (k BIGINT, v BIGINT, s STRING) USING graft")

    val model = mutable.LongMap[Long]()
    var sum = 0L
    def put(k: Long, v: Long): Unit = { sum += v - model.getOrElse(k, 0L); model(k) = v }
    def del(k: Long): Unit = model.remove(k).foreach(sum -= _)
    (0L until initialRows).foreach(k => put(k, (k * 7919 + c0) % modulus))
    var next = initialRows

    def manifests: Seq[Long] = {
      val st = Files.list(Paths.get(dir))
      try st.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("manifest-") && n.endsWith(".json") =>
          n.stripPrefix("manifest-").stripSuffix(".json").toLong }.toList
      finally st.close()
    }
    val versions = mutable.Map[Long, (Long, Long)]() // commit seq -> (rows, sum)
    def recordHead(): Unit = versions(manifests.max) = (model.size.toLong, sum)
    recordHead()

    def dataFiles: Int = Disk.files(dir).count(p => p.toString.endsWith(".parquet"))
    def tableBytes(d: String): Long = Disk.files(d).filterNot(_.toString.endsWith(".crc"))
      .map(Files.size).sum

    var tableMode = "cow"
    var userRows = 0L
    var writtenBytes = 0L
    val filesAdded = mutable.Map[String, ArrayBuffer[Double]]()
    val compactBytes = ArrayBuffer[Double]()
    var liveFiles = 0
    val ckpt = s"${a.work}/ckpt-$tag"

    def write(kind: String, mode: String): Unit = {
      val before = if (traced) (dataFiles, Disk.bytes(dir)) else (0, 0L)
      val c = rnd.nextInt(1000).toLong
      // DML key ranges fall in the CTAS rows, so a statement's rewrite cost
      // does not depend on which later small insert files a range hits
      val lo = (rnd.nextDouble() * (initialRows - width)).toLong
      val hi = lo + width
      val kindName = if (mode.isEmpty) kind else s"${kind}_$mode"
      if (kind == "stream") // staged rows, outside the timed op
        spark.sql(s"INSERT INTO $stage SELECT id AS k, (id * 7919 + $c) % $modulus AS v, " +
          s"concat('row-', id) AS s FROM range($next, ${next + width})")
      // a mode switch is a metadata commit of its own, outside the timed op
      if (mode.nonEmpty && mode != tableMode) {
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.dml.mode' = '$mode')")
        tableMode = mode
        recordHead()
      }
      val res = ph.op(kindName, "write") {
        kind match {
          case "insert" =>
            sql(s"INSERT INTO $t SELECT id AS k, (id * 7919 + $c) % $modulus AS v, " +
              s"concat('row-', id) AS s FROM range($next, ${next + width})")
            width
          case "delete" =>
            sql(s"DELETE FROM $t WHERE k >= $lo AND k < $hi")
            (lo until hi).count(model.contains).toLong
          case "update" =>
            sql(s"UPDATE $t SET v = (v + $c) % $modulus WHERE k >= $lo AND k < $hi")
            (lo until hi).count(model.contains).toLong
          case "merge" =>
            sql(s"MERGE INTO $t AS tgt USING (SELECT id AS k, (id * 31 + $c) % $modulus AS v, " +
              s"concat('row-', id) AS s FROM range($lo, $hi)) src ON tgt.k = src.k " +
              "WHEN MATCHED THEN UPDATE SET v = src.v " +
              "WHEN NOT MATCHED THEN INSERT (k, v, s) VALUES (src.k, src.v, src.s)")
            width
          case "stream" =>
            span("streaming.toTable")(spark.readStream.table(stage).writeStream
              .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
              .toTable(t).awaitTermination())
            width
          case "compact" =>
            sql(s"CALL graft.system.compact(table => 'bench.t_$tag')")
            0L
        }
      }(identity)
      if (res.isDefined) kind match {
        case "insert" | "stream" =>
          (next until next + width).foreach(k => put(k, (k * 7919 + c) % modulus))
          next += width
        case "delete" => (lo until hi).foreach(del)
        case "update" => (lo until hi).foreach(k => model.get(k).foreach(v => put(k, (v + c) % modulus)))
        case "merge" =>
          (lo until hi).foreach(k => put(k, (k * 31 + c) % modulus))
          next = math.max(next, hi)
        case _ =>
      }
      res.foreach(r => userRows += r)
      recordHead()
      if (traced) {
        val (f1, b1) = (dataFiles, Disk.bytes(dir))
        writtenBytes += b1 - before._2
        val group = kind match { case "compact" | "stream" => kind case _ => "commit" }
        filesAdded.getOrElseUpdate(group, ArrayBuffer()) += (f1 - before._1).toDouble
        if (kind == "compact") compactBytes += (b1 - before._2).toDouble
      }
    }

    def read(kind: String): Unit = kind match {
      case "scan" =>
        val r = ph.op("scan", "read")(sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $t"))(_ => 0L)
        r.foreach(rows => ph.expect("scan", (rows.head.getLong(0), rows.head.getLong(1)),
          (model.size.toLong, sum)))
      case "point" =>
        val k = (rnd.nextDouble() * next).toLong
        val r = ph.op("point", "read")(sql(s"SELECT v, s FROM $t WHERE k = $k"))(_ => 0L)
        r.foreach(rows => ph.expect(s"point $k", rows.map(x => (x.getLong(0), x.getString(1))).toSeq,
          model.get(k).map(v => (v, s"row-$k")).toSeq))
      case "timetravel" =>
        val seqs = versions.keys.toIndexedSeq.sorted
        val at = seqs(rnd.nextInt(seqs.size))
        val r = ph.op("timetravel", "read")(
          sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $t VERSION AS OF $at"))(_ => 0L)
        r.foreach(rows => ph.expect(s"version $at", (rows.head.getLong(0), rows.head.getLong(1)),
          versions(at)))
    }

    // COW or MOR per DML kind, flipped every cycle, so each pair of cycles
    // runs every kind once in each mode, and each mode at both history
    // depths. The assignment is fixed, not seeded: a seeded one made the
    // pairing of mode and depth, and with it the run's cost, vary by seed.
    var modes = Map("delete" -> "mor", "update" -> "cow", "merge" -> "mor")
    var c = 0
    while (if (warm) c < 2 else ph.more(c, 2)) {
      if (c == 1 && !warm) {
        val h0 = System.nanoTime()
        (1 to historyCommits).foreach { i =>
          spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bench.history' = '$i')")
          recordHead()
        }
        println(f"  history: $historyCommits commits in ${(System.nanoTime() - h0) / 1e9}%.2f s")
      }
      modes = modes.map { case (k, m) => k -> (if (m == "mor") "cow" else "mor") }
      // the warm pass runs each kind once, then each DML kind in its
      // other mode, so that no timed op is the first of its code path
      val kinds =
        if (warm) { if (c == 0) cycle.distinct :+ "compact" else dmlKinds }
        else rnd.shuffle(cycle) ++ (if (c % 2 == 1) Seq("compact") else Nil)
      kinds.foreach { kind =>
        if (traced) ph.opInfo(ph.ops.size) = Map("retained" -> manifests.size.toDouble)
        if (Set("scan", "point", "timetravel")(kind)) read(kind)
        else write(kind, modes.getOrElse(kind, ""))
        if (traced) {
          liveFiles = span("io.manifest.currentFiles")(Manifest.currentFiles(spark, dir).size)
          ph.opInfo(ph.ops.size - 1) = ph.opInfo.getOrElse(ph.ops.size - 1, Map.empty) +
            ("live_files" -> liveFiles.toDouble)
        }
      }
      c += 1
    }
    // final state check, outside the timing
    val fin = spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $t").collect().head
    ph.expect("final scan", (fin.getLong(0), fin.getLong(1)), (model.size.toLong, sum))

    // the live rows written once, for the amplification ratios (traced runs)
    val onceBytes = if (!traced) Double.NaN else {
      val once = s"${a.work}/once-$tag"
      spark.table(t).coalesce(1).write.parquet(once)
      tableBytes(once).toDouble
    }
    val bytesPerRow = onceBytes / math.max(1, model.size)
    def lat(cls: String) = ph.ops.filter(_.cls == cls).map(_.secs).toSeq
    def kindMedian(k: String) = Stats.median(ph.ops.filter(_.kind == k).map(_.secs).toSeq)
    val dml = for (k <- Seq("delete", "update", "merge"); m <- Seq("cow", "mor"))
      yield s"sources.dml.${k}_${m}_s" -> kindMedian(s"${k}_$m")
    (dml ++ Seq(
      "table.commit_s.p50" -> Stats.pct(lat("write"), 0.5),
      "table.commit_s.p90" -> Stats.pct(lat("write"), 0.9),
      "table.read_s.p50" -> Stats.pct(lat("read"), 0.5),
      "table.read_s.p90" -> Stats.pct(lat("read"), 0.9),
      "table.space_amp" -> tableBytes(dir) / onceBytes,
      "io.manifest.retained" -> manifests.size.toDouble,
      "io.live_files" -> liveFiles.toDouble,
      "io.files_per_commit" -> Stats.mean(filesAdded.getOrElse("commit", ArrayBuffer()).toSeq),
      "io.write_amp" -> writtenBytes / math.max(1.0, userRows * bytesPerRow),
      "io.compact_s" -> kindMedian("compact"),
      "io.compact_bytes_rewritten" -> Stats.mean(compactBytes.toSeq),
      "streaming.files_per_epoch" -> Stats.mean(filesAdded.getOrElse("stream", ArrayBuffer()).toSeq)
    )).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }.toMap
  }
}
