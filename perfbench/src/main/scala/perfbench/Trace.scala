package perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** Outside-in spans around calls into the program's layers.
  *
  * A span sets the Spark job group of the calling thread, so every job it
  * submits, and every task of those jobs, is attributed to it by
  * [[TaskAttribution]]. Jobs submitted from other threads without a group
  * (the SPARQL server's handler threads) go to the innermost open span.
  * Spans stay in memory until the run ends.
  *
  * A span's self time is its duration minus the durations of its direct
  * children. A child may run outside its parent's interval (an explicit
  * `parent`): the server and integrate layers are timed as their entry
  * point's wall time minus the parts re-run in-process right after (parse,
  * load, lower, plan, execute), the only split visible from outside.
  */
final class Tracer(sc: SparkContext) {

  final case class Span(id: Int, name: String, layer: String,
      parent: Int, opId: Int, startNs: Long, var endNs: Long) {
    def dur: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  @volatile var current: Int = -1
  val attribution = new TaskAttribution(this)
  sc.addSparkListener(attribution)

  def group(id: Int): String = s"perfbench-span-$id"

  /** Run `f` as a span of `layer`. Its parent is the innermost open span,
    * or `parent` when given: a child measured outside its parent's
    * interval (see the class comment).
    */
  def span[T](layer: String, name: String, opId: Int,
      parent: Option[Int] = None)(f: => T): T = {
    val id = spans.size
    val s = Span(id, name, layer,
      parent.getOrElse(stack.headOption.getOrElse(-1)), opId,
      System.nanoTime(), 0L)
    spans += s
    val saved = stack
    stack = id :: saved
    enter(id)
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = saved
      saved.headOption match {
        case Some(p) => enter(p)
        case None => current = -1; sc.clearJobGroup()
      }
    }
  }

  private def enter(id: Int): Unit = {
    current = id
    sc.setJobGroup(group(id), spans(id).name, interruptOnCancel = false)
  }

  def selfTime(s: Span): Double =
    s.dur - spans.filter(_.parent == s.id).map(_.dur).sum

  /** Block until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.sql.PerfbenchBridge.drainListeners(sc)
}

/** Per-span task metrics, keyed by the job group of the submitting span. */
final class TaskAttribution(tr: Tracer) extends SparkListener {

  final class Acc {
    var jobs = 0
    var tasks = 0
    var failed = 0
    var runMs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }

  private val stageSpan = mutable.HashMap[Int, Int]()
  val bySpan = mutable.HashMap[Int, Acc]()

  private def acc(span: Int): Acc = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    val span = g.filter(_.startsWith("perfbench-span-"))
      .map(_.stripPrefix("perfbench-span-").toInt).getOrElse(tr.current)
    if (span >= 0) {
      acc(span).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.taskMs += m.executorRunTime
        val total = info.finishTime - info.launchTime
        a.waitMs += m.executorDeserializeTime + math.max(0L, total -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult)
            info.finishTime - info.gettingResultTime else 0L))
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}
