package layerbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A fixed list of `SparkEntry` queries over a generated TPC-H-shaped
  * fixture, in a seeded order per pass. Four are short relational queries
  * (planning and scan dominate); two are heavy LLM-data operators
  * (shuffle and compute dominate). One op is one query, collected to the
  * driver; its row count and an order-insensitive checksum of every
  * column are checked against the golden values in
  * `query_mix_golden.tsv`. */
final class QueryMix(spark: SparkSession, a: Args) extends Workload {
  import QueryMix._
  private val dir = s"${a.work}/fixture"

  private val golden: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/layerbench/query_mix_golden.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t"))
      .map(f => f(0) -> (f(1).toLong, f(2))).toMap
    finally in.close()
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    QueryFixture.write(spark, dir)
    println(f"  fixture written in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    run(new Phase(spark, 0, None, corrupt = false), "warm", warm = true)
  }

  def run(ph: Phase, tag: String): Map[String, Double] = run(ph, tag, warm = false)

  private def run(ph: Phase, tag: String, warm: Boolean): Map[String, Double] = {
    // every phase of a run times the same seeded order
    val rnd = new scala.util.Random(a.seed * 40503L + 7)
    val observed = mutable.LinkedHashMap[String, (Long, String)]()
    var pass = 0
    while (if (warm) pass < 2 else ph.more(pass, QueryMix.minPasses)) {
      // the warm pass runs every query once, then the heavy ones again:
      // their first warm run still leaves much of their code to compile
      val order = if (warm) { if (pass == 0) names else heavy } else rnd.shuffle(names)
      order.foreach { name =>
        val cls = if (heavy.contains(name)) "heavy" else "relational"
        val fn = SparkEntry.queries(name)
        val res = ph.op(name, cls) {
          val df = ph.tracer.fold(fn(spark, dir))(_.span("queries.build")(fn(spark, dir)))
          ph.tracer.fold(df.collect())(_.span("spark.collect")(df.collect()))
        }(_.length.toLong)
        res.foreach { rows =>
          val got = (rows.length.toLong, QueryMix.checksum(rows))
          observed.getOrElseUpdate(name, got)
          ph.expect(name, got, golden.getOrElse(name, (-1L, "no golden value")))
        }
      }
      pass += 1
    }
    if (warm && a.goldenOut.nonEmpty) {
      Files.writeString(Paths.get(a.goldenOut), observed.map { case (n, (r, c)) => s"$n\t$r\t$c" }
        .mkString("# query\trows\tchecksum\n", "\n", "\n"))
      println(s"  golden values written: ${a.goldenOut}")
    }
    names.map(n => s"query.$n.s" -> Stats.median(ph.ops.filter(_.kind == n).map(_.secs).toSeq)).toMap
  }
}

object QueryMix {
  val relational = Seq("q_lower_agg", "q1_agg", "q_join_three", "q_window_rank")
  val heavy = Seq("q_dedup_minhash", "q_simsearch_pq")
  val names: Seq[String] = relational ++ heavy

  /** Passes over the query list per timed phase, at least. */
  val minPasses = 1

  /** Order-insensitive checksum of a result: per column, the wrapping sum
    * of a hash of each value's rendering; then a hash over the columns. */
  def checksum(rows: Array[Row]): String = {
    val width = rows.headOption.map(_.length).getOrElse(0)
    val sums = new Array[Long](width)
    rows.foreach { r =>
      var i = 0
      while (i < width) { sums(i) += MurmurHash3.stringHash(render(r.get(i))).toLong; i += 1 }
    }
    val h = MurmurHash3.orderedHash(sums.toSeq)
    f"$width%d:${h & 0xffffffffL}%08x:${sums.foldLeft(0L)(_ ^ _)}%016x"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }
}

final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Region(r_regionkey: Int, r_name: String)
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** The query fixture: the TPC-H-shaped tables the query list reads plus
  * documents and embeddings, one Parquet directory per table. Generated from a fixed seed, so the
  * golden results hold for every run; `--seed` orders the queries. */
object QueryFixture {
  val customers = 750
  val orders = 7500
  val documents = 300
  val embeddings = 300
  val dim = 64

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val words = Seq("a", "the", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
    "vector", "window", "red")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val day = 86400000L
  private val epoch1992 = 694224000000L

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(20240601L)
    // tables are built here and written concurrently at the end
    val pending = ArrayBuffer[() => Unit]()
    def save[T](ds: org.apache.spark.sql.Dataset[T], name: String): Unit =
      pending += (() => ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))

    save(regions.indices.map(i => Region(i, regions(i))).toDS(), "region")
    save((0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS(), "nation")
    save((0 until customers).map(i => Customer(i, f"Customer#$i%09d", rnd.nextInt(25),
      cents(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(5)))).toDS(), "customer")
    val ord = ArrayBuffer[Order]()
    val li = ArrayBuffer[LineItem]()
    (0 until orders).foreach { o =>
      val date = epoch1992 + rnd.nextInt(2557) * day
      val lines = 1 + rnd.nextInt(7)
      var total = 0.0
      (1 to lines).foreach { n =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        val price = cents(qty * (900 + rnd.nextInt(2100)) + rnd.nextInt(100) / 100.0)
        total += price
        val ship = date + (1 + rnd.nextInt(120)) * day
        li += LineItem(o, rnd.nextInt(2000), rnd.nextInt(100), n, qty, price,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
          if (ship < epoch1992 + 2190 * day) "F" else "O", new Timestamp(ship))
      }
      ord += Order(o, rnd.nextInt(customers), Seq("F", "O", "P")(rnd.nextInt(3)), cents(total),
        new Timestamp(date), priorities(rnd.nextInt(5)))
    }
    save(ord.toSeq.toDS(), "orders")
    save(li.toSeq.toDS(), "lineitem")

    // every tenth document is a near copy of an earlier one, so the
    // dedup operators find pairs
    val texts = ArrayBuffer[String]()
    (0 until documents).foreach { i =>
      texts += (if (i % 10 == 9) {
        val base = texts(rnd.nextInt(i)).split(" ")
        base.updated(rnd.nextInt(base.length), words(rnd.nextInt(words.size))).mkString(" ")
      } else Seq.fill(20 + rnd.nextInt(60))(words(rnd.nextInt(words.size))).mkString(" "))
    }
    save(texts.zipWithIndex.map { case (t, i) =>
      Document(i, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }.toSeq.toDS(), "documents")
    save((0 until embeddings).map { i =>
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.15).toFloat)
      Embedding(i, v, rnd.nextInt(10))
    }.toDS(), "embeddings")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(pending.size)
    try pending.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
    require(Files.isDirectory(Paths.get(s"$dir/lineitem.parquet")), "fixture not written")
  }
}
