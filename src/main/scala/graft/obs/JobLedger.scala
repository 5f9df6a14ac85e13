package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Job, completed-stage and task counts with summed executor CPU (ns) and
  * executor run time (ms).
  */
final class JobCounts {
  val jobs, stages, tasks, cpuNs, runMs = new AtomicLong(0L)

  private[obs] def reset(): Unit =
    Seq(jobs, stages, tasks, cpuNs, runMs).foreach(_.set(0L))

  private[obs] def addTask(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) { cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime) }
    tasks.incrementAndGet(): Unit
  }

  def cpuSec: Double = cpuNs.get / 1e9
  def runSec: Double = runMs.get / 1e3
}

/** The engine's one Spark listener. For each job it records the scope tag
  * the job was submitted under (the [[JobLedger.ScopeKey]] local property),
  * the call site, wall time, and its stage and task counts with executor
  * CPU and run time; [[totals]] sums the same counters.
  *
  * An unscoped ledger counts every event the bus delivers while it is
  * attached, task ends of stages it never saw start included: Bench's
  * per-query tally, whose gate-diagnosis bands were calibrated on exactly
  * that count. A ledger scoped to a tag counts only the jobs submitted
  * while the calling thread held the tag (see [[JobLedger.scoped]]; child
  * threads and the SQL broadcast pool inherit it) and their stages and
  * tasks.
  *
  * [[compiles]] and [[compileMs]] count the generated classes Janino
  * compiled since attach or the last [[reset]], with their summed compile
  * time. Spark keeps these per JVM and compiles on driver and task threads
  * alike, so they cover the ledger's time window, scoped or not: run one
  * measured thing per window.
  *
  * Bus delivery is asynchronous: read after [[drain]].
  */
final class JobLedger private (sc: SparkContext, scope: Option[String])
    extends SparkListener {
  import JobLedger.Job

  val totals = new JobCounts
  private val byId = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  /** The jobs recorded since the last [[reset]], in submission order. */
  def jobs: Seq[Job] = byId.values.asScala.toSeq.sortBy(_.id)

  @volatile private var codegen0 = JobLedger.codegenNow()

  def reset(): Unit = {
    totals.reset(); byId.clear(); stageJob.clear()
    codegen0 = JobLedger.codegenNow()
  }

  /** Classes compiled (cache misses of Spark's generated-code cache). */
  def compiles: Long = JobLedger.codegenNow()._1 - codegen0._1

  /** Summed Janino compile time of [[compiles]], in milliseconds. */
  def compileMs: Double = (JobLedger.codegenNow()._2 - codegen0._2) / 1e6

  def detach(): Unit = sc.removeSparkListener(this)

  /** Waits for the bus to go quiet as seen by this ledger: first until the
    * queued events are delivered (bounded), then until the task, job and
    * stage counts stay jointly stable for 3 consecutive 5 ms reads, capped
    * at 2 s. The second step absorbs task ends posted after the action
    * returned (killed or speculative tasks); it must cover stages and jobs
    * too, because their events ride the bus behind the last task end.
    */
  def drain(): Unit = {
    org.apache.spark.ListenerBusDrain(sc, JobLedger.DrainCapMs)
    var last = -1L
    var stable = 0
    var spins = 0
    while (stable < 3 && spins < JobLedger.DrainCapMs / 5) {
      val c = totals.tasks.get + totals.jobs.get + totals.stages.get
      if (c == last) stable += 1 else { stable = 0; last = c }
      try Thread.sleep(5L)
      catch { // restore the flag and stop waiting
        case _: InterruptedException => Thread.currentThread().interrupt(); stable = 3
      }
      spins += 1
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    val tag = props.flatMap(p => Option(p.getProperty(JobLedger.ScopeKey)))
    if (scope.forall(tag.contains)) {
      // jobs submitted outside a Dataset action (RDD actions, stream
      // bookkeeping) carry no call-site property; their result stage's
      // name holds the same "<action> at <file>:<line>" text
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      val job = new Job(js.jobId, tag, site.getOrElse("?"), js.time)
      byId.put(js.jobId, job)
      js.stageIds.foreach(stageJob.put(_, job))
      job.counts.jobs.incrementAndGet()
      totals.jobs.incrementAndGet()
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(byId.get(je.jobId)).foreach(_.endMs = je.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val job = Option(stageJob.get(e.stageInfo.stageId))
    if (scope.isEmpty || job.nonEmpty) {
      job.foreach(_.counts.stages.incrementAndGet())
      totals.stages.incrementAndGet()
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(te.stageId))
    if (scope.isEmpty || job.nonEmpty) {
      job.foreach(_.counts.addTask(te))
      totals.addTask(te)
    }
  }
}

object JobLedger {

  /** The local property that carries a job's scope tag. */
  val ScopeKey = "graft.ledger.scope"

  private val DrainCapMs = 2000L

  /** (classes compiled, summed compile ns) in this JVM so far. */
  private def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** One job as the ledger saw it; `endMs` stays -1 while it runs. */
  final class Job(val id: Int, val scope: Option[String], val site: String,
      val startMs: Long) {
    val counts = new JobCounts
    @volatile var endMs: Long = -1L
    def wallSec: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  }

  /** A ledger registered on `sc`; counts every event, or with `scope` only
    * the jobs submitted under that tag.
    */
  def attach(sc: SparkContext, scope: Option[String] = None): JobLedger = {
    val ledger = new JobLedger(sc, scope)
    sc.addSparkListener(ledger)
    ledger
  }

  /** Runs `body` with this thread's jobs tagged `tag`, then restores the
    * previous tag.
    */
  def scoped[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, tag)
    try body
    finally sc.setLocalProperty(ScopeKey, prev)
  }
}
