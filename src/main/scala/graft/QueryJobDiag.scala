package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Scratch per-job attribution for ANY declared query (dev tool, not a
  * declared query): runs the named query cold + steady under the session
  * conf GRAFT_CHILD_CONF selects (mirroring the bench child), printing one
  * line per Spark job (wall, Σ task CPU, Σ task wall, tasks, call site).
  * Usage: sbt "runMain graft.QueryJobDiag <sfDir> <queryName>"
  */
object QueryJobDiag {

  private final class JobTally extends SparkListener {
    final class Acc(val t0: Long, val site: String) {
      var cpuNs: Long = 0L; var runMs: Long = 0L
      var tasks: Long = 0L; var wallMs: Long = -1L
    }
    val jobs = new ConcurrentHashMap[Int, Acc]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobs.put(js.jobId, new Acc(System.nanoTime(), site))
      js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (!stageToJob.containsKey(te.stageId)) return
      val acc = jobs.get(stageToJob.get(te.stageId))
      if (acc != null && te.taskMetrics != null) acc.synchronized {
        acc.cpuNs += te.taskMetrics.executorCpuTime
        acc.runMs += te.taskMetrics.executorRunTime
        acc.tasks += 1
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val acc = jobs.get(je.jobId)
      if (acc != null) acc.wallMs = (System.nanoTime() - acc.t0) / 1000000L
    }
    def report(label: String): Unit = {
      println(s"==== $label: ${jobs.size} jobs ====")
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, a) =>
        val flag = if (a.wallMs < 0) " (running)" else ""
        println(f"job $id%3d wall ${a.wallMs / 1e3}%6.2f s  cpu ${a.cpuNs / 1e9}%6.2f s  run ${a.runMs / 1e3}%6.2f s  tasks ${a.tasks}%4d  ${a.site}%s$flag%s")
      }
      val w = jobs.asScala.values.filter(_.wallMs >= 0).map(_.wallMs).sum / 1e3
      val c = jobs.asScala.values.map(_.cpuNs).sum / 1e9
      println(f"==== $label total: job-wall $w%.2f s, cpu $c%.2f s ====")
      jobs.clear(); stageToJob.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: QueryJobDiag <sfDir> <queryName>"
    if (args.length != 2) {
      System.err.println(usage)
      sys.exit(2)
    }
    val Array(sfDir, name) = args
    val fn = SparkEntry.queries.getOrElse(name, {
      System.err.println(s"$usage\nunknown query '$name'; known queries:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"query-job-diag-$name")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_CHILD_CONF") match {
      case Some("light") =>
        b.config("spark.sql.adaptive.enabled", "false")
        b.config("spark.sql.shuffle.partitions", "8")
      case Some("light2") =>
        b.config("spark.sql.adaptive.enabled", "false")
        b.config("spark.sql.shuffle.partitions", "2")
      case Some("light16") =>
        b.config("spark.sql.adaptive.enabled", "false")
        b.config("spark.sql.shuffle.partitions", "16")
      case _ => ()
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    val tally = new JobTally
    spark.sparkContext.addSparkListener(tally)
    def once(label: String): Unit = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"---- $label end-to-end wall: $wall%.2f s ----")
      tally.report(label)
    }
    once("cold")
    once("steady")
    once("steady2")
    spark.stop()
  }
}
