package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a statement (`parent == -1`) or a call into one
  * engine layer made by that statement.
  */
final case class Span(id: Int, stmt: String, pass: Int, layer: String,
    parent: Int, startNs: Long, endNs: Long)

final case class JobRec(jobId: Int, span: Int, startMs: Long, endMs: Long,
    stages: Seq[Int])

final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Spans kept in memory and written out when the run ends. Statement spans
  * are always recorded (they are the end-to-end latencies); layer spans only
  * when `layers` is on. The active span id travels to Spark jobs as a local
  * property so [[JobListener]] can key job, stage and task counts by it.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  var layers = false
  private var stack: List[Int] = Nil
  private var stmt = ""
  private var pass = -1

  /** Wall-clock epoch of `System.nanoTime() == 0`, so span times and the
    * listener's millisecond job times share one clock.
    */
  val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def statement[T](id: String, passNo: Int)(f: => T): T = {
    stmt = id; pass = passNo
    record("stmt", force = true)(f)
  }

  def span[T](layer: String)(f: => T): T = record(layer, force = false)(f)

  private def record[T](layer: String, force: Boolean)(f: => T): T =
    if (!force && !layers) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, stmt, pass, layer, parent, System.nanoTime(), -1L)
      stack = id :: stack
      if (layers) sc.setLocalProperty(JobListener.SpanKey, id.toString)
      try f
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        if (layers)
          sc.setLocalProperty(JobListener.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }
}

object JobListener {
  val SpanKey = "perfbench.span"
}

/** Job spans and per-stage task totals, keyed by the span that launched the
  * job. Registered by the benchmark only for traced passes.
  */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  private val open = scala.collection.mutable.Map[Int, JobRec]()
  @volatile var lastEventNs: Long = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    open(e.jobId) = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages += StageRec(i.stageId, i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    lastEventNs = System.nanoTime()
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so the records cover everything the pass launched.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
      (synchronized(open.nonEmpty) || System.nanoTime() - lastEventNs < 100000000L))
      Thread.sleep(20)
  }
}
