package layerbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local file system with a count of directory listings and file
  * opens. Traced runs install it as `fs.file.impl`; the engine's own code
  * is unchanged. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val opens = new AtomicLong
}

/** One traced span: a harness call into a layer, an op, or a Spark job. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long)

/** Spark-listener and file-system counts gathered while one op ran. */
final class OpStats(val op: Int, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  val jobStart = mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[(Long, Long)]() // start, end in ms since epoch
  var stages, tasks = 0L
  var taskRunMs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var fsRead, fsWritten, fsOpens, fsLists = 0L
}

/** In-memory tracer for one timed phase. Spans are recorded around the
  * harness's calls into each layer; Spark's listeners and the Hadoop file
  * system statistics are attributed to the op that is open. Nothing is
  * written until the run ends. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[OpStats]()
  @volatile private var cur: Option[OpStats] = None
  private val stack = mutable.Stack[Int]()
  private var curOp = -1
  // maps the listener's wall-clock milliseconds onto the nanoTime axis
  private val offNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - offNs

  private val jobs = new SparkListener {
    private def withOp(f: OpStats => Unit): Unit = cur.foreach(s => s.synchronized(f(s)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      withOp(_.jobStart(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { s =>
      s.jobStart.remove(e.jobId).foreach(st => s.jobs += (st -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      withOp(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { s =>
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = cur.foreach { s =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      s.synchronized {
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def uninstall(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  private def fsBytes: (Long, Long) = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics
    var r, w = 0L
    all.forEach { st => r += st.getBytesRead; w += st.getBytesWritten }
    (r, w)
  }

  /** Opens an op. Events of earlier untimed work are flushed first, so
    * they are not counted against this op. */
  def beginOp(op: Int, kind: String): OpStats = {
    BenchBus.drain(spark.sparkContext)
    val s = new OpStats(op, kind)
    val (r, w) = fsBytes
    s.fsRead = -r; s.fsWritten = -w
    s.fsOpens = -CountingLocalFs.opens.get; s.fsLists = -CountingLocalFs.lists.get
    curOp = op
    cur = Some(s)
    s
  }

  /** Closes the op opened by [[beginOp]]; `startNs`/`endNs` bound the
    * timed body. */
  def endOp(s: OpStats, startNs: Long, endNs: Long): Unit = {
    BenchBus.drain(spark.sparkContext)
    cur = None
    val (r, w) = fsBytes
    s.fsRead += r; s.fsWritten += w
    s.fsOpens += CountingLocalFs.opens.get; s.fsLists += CountingLocalFs.lists.get
    s.startNs = startNs; s.endNs = endNs
    val opSpan = nextId()
    // layer spans recorded inside the op hang under the op span
    for (i <- spans.indices if spans(i).op == s.op && spans(i).parent == Tracer.OpParent)
      spans(i) = spans(i).copy(parent = opSpan)
    spans += Span(opSpan, -1, s"op.${s.kind}", s.op, startNs, endNs)
    val mine = spans.filter(_.op == s.op).toSeq
    s.jobs.sortBy(_._1).foreach { case (st, en) =>
      val (a, b) = (msToNs(st), msToNs(en))
      // the innermost span open when the job started (1 ms clock grain)
      val host = mine.filter(sp => sp.startNs <= a + 1000000L && sp.endNs >= a)
        .sortBy(sp => sp.endNs - sp.startNs).headOption.map(_.id).getOrElse(opSpan)
      spans += Span(nextId(), host, "spark.job", s.op, a, math.max(a, b))
    }
    ops += s
    curOp = -1
  }

  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  /** Records `body` as a span named `name`, a child of the innermost open
    * span, or of the op when none is open. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId()
    val parent = if (stack.nonEmpty) stack.top else Tracer.OpParent
    val t0 = System.nanoTime()
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, name, curOp, t0, System.nanoTime())
    }
  }
}

object Tracer {
  /** Provisional parent of a span recorded before its op span exists. */
  val OpParent = -2

  /** Time each span name spends outside its children, summed over the
    * spans of that name. */
  def selfTime(spans: Seq[Span]): Map[String, (Int, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { sp =>
        val ivs = kids.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
          .filter { case (a, b) => b > a }
        (sp.endNs - sp.startNs - union(ivs)) / 1e9
      }
      name -> (ss.size, self.sum)
    }
  }

  /** Union length of `[start, end)` intervals. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
