package layerbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.io.TableIO
import graft.meta.{ColumnMeta, Meta, TableMeta}
import graft.ops.Reshape
import graft.pipeline.{Pipeline, PipelineContext, ReferencePipeline, Stage}

/** The paper's weekly job: `Pipeline.backfill` over consecutive weekly
  * dates. Extract lands seeded postcodes.io-shaped records; validate,
  * curate and deploy are the engine's reference stages, unchanged. The
  * raw-hist zone keeps every batch, and curate re-reads all of it, so
  * batches get slower as history grows. One op is one batch. */
final class EtlBatch(spark: SparkSession, a: Args) extends Workload {
  import ReferencePipeline._

  private val regions = Seq("South West", "London", "North East", "North West",
    "Eastern", "East Midlands", "West Midlands", "Yorkshire and The Humber",
    "South East", "Wales", "Scotland", "Northern Ireland")

  /** Rows per batch: fixed, so that the seed changes what lands, not how much. */
  private val rowsPerBatch = 2000

  /** postcodes.io response records `{status, result: {..., codes: {...}}}`. */
  private def records(b: Int): Seq[String] = {
    val rnd = new scala.util.Random(a.seed * 1000003L + b)
    (0 until rowsPerBatch).map { i =>
      val r = regions(rnd.nextInt(regions.size))
      val region = rnd.nextInt(3) match { case 0 => r.toUpperCase case 1 => r.toLowerCase case _ => r }
      val admin = if (rnd.nextInt(7) == 0) "null" else s""""District ${rnd.nextInt(300)}""""
      val lon = -5.0 + rnd.nextInt(700000) / 100000.0
      val lat = 50.0 + rnd.nextInt(800000) / 100000.0
      s"""{"status": 200, "result": {"postcode": "P${b}X$i ${rnd.nextInt(10)}AB",""" +
        s""" "quality": ${1 + rnd.nextInt(9)}, "eastings": ${100000 + rnd.nextInt(500000)},""" +
        s""" "northings": ${100000 + rnd.nextInt(800000)}, "country": "England",""" +
        s""" "european_electoral_region": "$region", "region": "$r",""" +
        s""" "longitude": $lon, "latitude": $lat, "admin_district": $admin,""" +
        s""" "codes": {"admin_district": "E0${6000000 + rnd.nextInt(999999)}"}}}"""
    }
  }

  /** The extract as a pipeline stage: records → flatten one level with
    * `codes_` prefixes → contiguous row index → one jsonl.gz in land. */
  private final class SeededExtract(batch: () => Int) extends Stage {
    val name = "extract"
    def run(ctx: PipelineContext): Unit = {
      import ctx.spark.implicits._
      val raw = ctx.spark.read.json(ctx.spark.createDataset(records(batch())))
      val flat = Reshape.flattenOneLevel(raw, "result").drop("status")
      val indexed = Reshape.withRowIndex(flat, "index")
      TableIO.writeJsonlGz(indexed,
        TableIO.landPartitionPath(ctx(LandKey), ctx(TableKey), ctx(LandTsKey).toLong),
        singleFile = true)
    }
  }

  /** A stage recorded as a span in traced runs. */
  private final class Traced(inner: Stage, tr: Option[Tracer]) extends Stage {
    val name: String = inner.name
    def run(ctx: PipelineContext): Unit = tr match {
      case Some(t) => t.span(s"pipeline.${inner.name}")(inner.run(ctx))
      case None => inner.run(ctx)
    }
  }

  private def writeMeta(dir: String): Unit = {
    val rawCols = Seq("postcode", "country", "european_electoral_region", "region",
      "admin_district", "codes_admin_district").map(ColumnMeta(_, "character")) ++
      Seq("quality", "eastings", "northings", "index").map(ColumnMeta(_, "int")) ++
      Seq("longitude", "latitude").map(ColumnMeta(_, "double"))
    val calcCols = Seq(ColumnMeta("european_electoral_region", "character"),
      ColumnMeta("n", "int"), ColumnMeta("dea_version", "character"),
      ColumnMeta("dea_snapshot_date", "date"))
    Files.createDirectories(Paths.get(s"$dir/raw"))
    Files.createDirectories(Paths.get(s"$dir/curated"))
    Files.writeString(Paths.get(s"$dir/raw/random_postcodes.json"),
      Meta.renderTable(TableMeta("random_postcodes", "json", rawCols)))
    Files.writeString(Paths.get(s"$dir/curated/random_postcodes.json"),
      Meta.renderTable(TableMeta("random_postcodes", "parquet",
        rawCols :+ ColumnMeta("dea_version", "character"))))
    Files.writeString(Paths.get(s"$dir/curated/calculated.json"),
      Meta.renderTable(TableMeta("calculated", "parquet", calcCols,
        partitions = Seq("dea_snapshot_date"))))
    Files.writeString(Paths.get(s"$dir/curated/database.json"),
      """{"name": "example_postcodes_db", "bucket": "unused", "base_folder": "database"}""")
  }

  private val start = java.time.LocalDate.of(2019, 1, 6)
    .plusWeeks(new scala.util.Random(a.seed).nextInt(200).toLong)

  def setup(): Unit = {
    // the warm pass is two batches on their own root
    run(new Phase(spark, 0, None, corrupt = false), "warm", warm = true)
  }

  def run(ph: Phase, tag: String): Map[String, Double] = run(ph, tag, warm = false)

  private def run(ph: Phase, tag: String, warm: Boolean): Map[String, Double] = {
    val root = s"${a.work}/etl-$tag"
    writeMeta(s"$root/meta")
    var batch = 0
    val pipeline = new Pipeline(Seq(new SeededExtract(() => batch), ValidateStage(),
      CurateStage(), DeployCatalogStage()).map(new Traced(_, ph.tracer)))
    val stageSecs = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
    var attempts = 0
    var landed = 0L
    var zoneBytes = 0L
    var partitions = 0L
    val curated = s"$root/curated/database/random_postcodes"
    while (if (warm) batch < 2 else ph.more(batch, EtlBatch.minBatches)) {
      val ds = start.plusWeeks(batch.toLong).toString
      val ts = 1546300800L + batch * 604800L
      val version = s"v${a.seed}.$batch"
      val ctx = PipelineContext(spark, Map(
        LandKey -> s"$root/land", RawHistKey -> s"$root/raw_hist",
        CuratedKey -> s"$root/curated", MetaDirKey -> s"$root/meta",
        TableKey -> "random_postcodes", LandTsKey -> ts.toString,
        SnapshotDateKey -> ds), version = version, log = _ => ())
      val n = rowsPerBatch
      val res = ph.op("batch", "write") {
        ph.tracer match {
          case Some(t) => t.span("pipeline.backfill")(pipeline.backfill(ctx, Seq(ds), s"$root/state"))
          case None => pipeline.backfill(ctx, Seq(ds), s"$root/state")
        }
      }(_ => n.toLong)
      res.flatMap(_.get(ds)).foreach { r =>
        r.reports.foreach { s =>
          stageSecs.getOrElseUpdate(s.stage, ArrayBuffer()) += s.durationMs / 1e3
          attempts += s.attempts
        }
        if (!r.succeeded) ph.expect(s"batch $ds succeeded", false, true)
      }
      landed += n
      // output checks, outside the timed op
      spark.read.parquet(curated).createOrReplaceTempView("bench_curated")
      val got = spark.sql("SELECT count(*), count_if(dea_version <> '" + version + "'), " +
        "(SELECT SUM(n) FROM example_postcodes_db.calculated " +
        s"WHERE dea_snapshot_date = '$ds') FROM bench_curated").collect().head
      ph.expect(s"$ds curated rows", got.getLong(0), landed)
      ph.expect(s"$ds version stamp", got.getLong(1), 0L)
      ph.expect(s"$ds SUM(n)", got.get(2), landed)
      ph.expect(s"$ds land emptied",
        TableIO.listDataFiles(spark, s"$root/land/random_postcodes").isEmpty, true)
      if (ph.tracer.nonEmpty) {
        partitions = spark.sql("SHOW PARTITIONS example_postcodes_db.calculated").count()
        zoneBytes += Disk.bytes(TableIO.landPartitionPath(s"$root/raw_hist", "random_postcodes", ts)) +
          Disk.bytes(curated) + Disk.bytes(s"$root/curated/database/calculated/dea_snapshot_date=$ds")
        ph.opInfo(ph.ops.size - 1) = Map("history_rows" -> landed.toDouble,
          "partitions" -> partitions.toDouble)
      }
      batch += 1
    }
    def med(stage: String) = Stats.median(stageSecs.getOrElse(stage, ArrayBuffer(0.0)).toSeq)
    Map(
      "pipeline.extract_s" -> med("extract"),
      "pipeline.validate_s" -> med("test-extract"),
      "pipeline.curate_s" -> med("run-curated"),
      "pipeline.deploy_s" -> med("deploy-database"),
      "pipeline.attempts" -> attempts.toDouble / math.max(1, batch),
      "catalog.partitions_repaired" -> partitions.toDouble,
      "io.zone_bytes_written" -> zoneBytes.toDouble / math.max(1, batch))
  }

}

object EtlBatch {
  /** Batches per timed phase, at least. */
  val minBatches = 8
}
