package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer (or a phase, or the build/action half of a
  * query call). `own` holds the counters attributed to this span alone;
  * [[Tracer.inclusive]] adds its descendants'.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val run: String) {
  var start = 0L
  var end = 0L
  val own: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Every run times its spans (the end-to-end
  * metrics are sums of them); only a traced run also registers
  * [[StageCounters]], whose job, CPU, shuffle and scheduling counters are
  * attributed to the span open when each job was submitted, through a
  * thread-local Spark property that child threads (stream executions,
  * broadcast builders) inherit.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var counters: Option[StageCounters] = None
  var run = ""

  def traced: Boolean = counters.isDefined

  def start(): Unit = if (counters.isEmpty) {
    val c = new StageCounters
    sc.addSparkListener(c)
    counters = Some(c)
  }

  def stop(): Unit = counters.foreach { c =>
    org.apache.spark.BusDrain(sc)
    sc.removeSparkListener(c)
    counters = None
  }

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), run)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(StageCounters.Key, s.id.toString)
    val builds0 = graft.pipeline.ZoneBuildTally.builds.get
    s.start = System.nanoTime()
    try body
    finally {
      s.end = System.nanoTime()
      s.own("zone_builds") += graft.pipeline.ZoneBuildTally.builds.get - builds0
      stack = stack.tail
      sc.setLocalProperty(StageCounters.Key,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Moves the listener's counters onto their spans; call once the calls
    * of a pass have returned.
    */
  def collect(): Unit = counters.foreach { c =>
    org.apache.spark.BusDrain(sc)
    c.drainInto(spans)
  }

  /** `own` plus every descendant's counters, per span id. Zone builds are
    * counted by the span that saw the tally move, which already includes
    * its children, so they are not summed again.
    */
  def inclusive(): Map[Int, Map[String, Double]] = {
    val acc = mutable.Map.empty[Int, mutable.Map[String, Double]]
    spans.reverseIterator.foreach { s =>
      val m = acc.getOrElseUpdate(s.id, mutable.Map.empty.withDefaultValue(0.0))
      s.own.foreach { case (k, v) => m(k) += v }
      if (s.parent >= 0) {
        val p = acc.getOrElseUpdate(s.parent, mutable.Map.empty.withDefaultValue(0.0))
        m.foreach { case (k, v) => if (k != "zone_builds") p(k) += v }
      }
    }
    acc.view.mapValues(_.toMap).toMap
  }
}

/** Spark listener of a traced run: per span, the jobs submitted, executor
  * CPU, shuffle bytes written, and the scheduling wait of each stage (its
  * first task's launch minus the stage's submission).
  */
final class StageCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val acc = new ConcurrentHashMap[(Int, String), DoubleAdder]()

  private def add(span: Int, key: String, v: Double): Unit =
    acc.computeIfAbsent((span, key), _ => new DoubleAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(StageCounters.Key)))
      .fold(-1)(_.toInt)
    add(span, "jobs", 1)
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    firstLaunch.merge(e.stageId, e.taskInfo.launchTime,
      (a, b) => math.min(a.longValue, b.longValue))
    Option(e.taskMetrics).foreach { m =>
      add(span, "cpu_s", m.executorCpuTime / 1e9)
      add(span, "shuffle_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val span = stageSpan.getOrDefault(info.stageId, -1)
    for (sub <- info.submissionTime; first <- Option(firstLaunch.remove(info.stageId)))
      add(span, "sched_wait_s", math.max(0L, first.longValue - sub) / 1e3)
  }

  def drainInto(spans: mutable.ArrayBuffer[Span]): Unit = {
    acc.forEach { (k: (Int, String), v: DoubleAdder) =>
      val (span, key) = k
      if (span >= 0 && span < spans.size) spans(span).own(key) += v.sumThenReset()
    }
  }
}

object StageCounters {
  val Key = "pipebench.span"
}

/** Streaming progress of a traced run, registered on every session through
  * `spark.sql.streaming.streamingQueryListeners` (the streaming ingest runs
  * in a child session of its own).
  */
final class TriggerListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    TriggerListener.triggers.add(1)
    TriggerListener.triggerSeconds.add(
      Option(e.progress.durationMs.get("triggerExecution")).fold(0L)(_.longValue) / 1e3)
  }
}

object TriggerListener {
  val Conf = "spark.sql.streaming.streamingQueryListeners"
  val triggers = new DoubleAdder
  val triggerSeconds = new DoubleAdder
}
