package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.JobLedger
import graft.operators.TextOps

/** Generated-code reuse under [[Tables.configure]]. Spark caches compiled
  * classes by (class loader, generated source); a query run again reuses
  * them only if it emits the same source and its tasks run in the same
  * loader. Before configure kept stage ids out of class names and sessions
  * on the executor's one default loader, every pass of the ingest path
  * recompiled hundreds of classes.
  *
  * Both halves are checked on what decides reuse — the class names, the
  * loader's session — not on compile counts or on comparing two runs'
  * sources. Spark's cache holds 100 classes in 4 LRU segments picked by a
  * hash of the loader's identity, so a query near that size
  * (incrementalNeardupStats has ~76) can thrash one segment in one JVM and
  * not in the next; and under load AQE may re-plan a run (a join turned
  * broadcast at a different point), which is new code either way.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  /** Runs the query `build` returns; the Janino compiles during the run,
    * and the whole-stage sources (the cache key's text) of its final plan.
    */
  private def run(build: => DataFrame): (Long, Set[String]) = {
    val ledger = JobLedger.attach(spark.sparkContext)
    val (compiles, df) =
      try {
        ledger.drain()
        ledger.reset()
        val df = build
        df.collect()
        ledger.drain()
        (ledger.compiles, df)
      } finally ledger.detach()
    val stages = collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    (compiles, stages.map(_.doCodeGen()._2.body).toSet)
  }

  test("incrementalNeardupStats' whole-stage classes are named without " +
      "their stage id, so a stage AQE numbers differently emits the same source") {
    val (_, first) = run(TextOps.incrementalNeardupStats(spark, sf0001))
    val (compiles, second) = run(TextOps.incrementalNeardupStats(spark, sf0001))
    assert(second.nonEmpty, "the plan must hold whole-stage code")
    val named = (first ++ second).filter(_.contains("GeneratedIteratorForCodegenStage"))
    assert(named.isEmpty, s"${named.size} whole-stage sources name their " +
      s"class after the stage id ($compiles compiles on the second run)")
  }

  test("a cache is planned in a session without artifact isolation, so " +
      "its tasks run in the executor's default class loader") {
    // Spark plans every cache in a clone of the caller's session; an
    // isolated clone gets a class loader of its own, and the cache's
    // stages then compile again each time it is built
    val cached = TextOps.arrivingBatch(spark, sf0001).persist()
    try {
      val sessions = cached.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.cachedPlan.session
      }
      assert(sessions.nonEmpty, "the frame must read its cache")
      sessions.foreach(s =>
        assert(s.conf.get("spark.sql.artifact.isolation.enabled") === "false"))
    } finally cached.unpersist(true)
  }
}
