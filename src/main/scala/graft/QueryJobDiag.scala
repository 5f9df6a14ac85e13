package graft

import graft.obs.JobLedger

/** The run-and-attribute dev tool for ANY declared query: runs it cold and
  * twice steady on Bench's child session (so GRAFT_CHILD_CONF selects the
  * same conf tier the board measures it under), printing one line per Spark
  * job from the [[JobLedger]] (wall, stages, tasks, Σ task CPU, Σ task
  * wall, call site) and a total per run, with the run's codegen compiles
  * and their summed compile time. To price a zone build, remove the
  * fixture's zone dir (`target/{dedup,ann,lexical}zone/<sf>`) first: the
  * cold run then carries the build's jobs.
  * Usage: sbt "runMain graft.QueryJobDiag <sfDir> <queryName>"
  */
object QueryJobDiag {

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
    val spark = Bench.newSession()
    val ledger = JobLedger.attach(spark.sparkContext)
    def once(label: String): Unit = {
      ledger.drain()
      ledger.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      ledger.drain()
      val jobs = ledger.jobs
      println(f"---- $label end-to-end wall: $wall%.2f s ----")
      println(s"==== $label: ${jobs.size} jobs ====")
      jobs.foreach { j =>
        val c = j.counts
        val flag = if (j.endMs < 0) " (running)" else ""
        println(f"job ${j.id}%3d wall ${j.wallSec}%6.2f s  stages ${c.stages.get}%2d  " +
          f"tasks ${c.tasks.get}%4d  cpu ${c.cpuSec}%6.2f s  run ${c.runSec}%6.2f s  " +
          s"${j.site}$flag")
      }
      val t = ledger.totals
      println(f"==== $label total: job-wall ${jobs.map(_.wallSec).sum}%.2f s, " +
        f"cpu ${t.cpuSec}%.2f s, run ${t.runSec}%.2f s, jobs ${t.jobs.get}, " +
        s"stages ${t.stages.get}, tasks ${t.tasks.get}, " +
        f"compiles ${ledger.compiles} (${ledger.compileMs}%.0f ms) ====")
    }
    try Seq("cold", "steady", "steady2").foreach(once)
    finally { ledger.detach(); spark.stop() }
  }
}
