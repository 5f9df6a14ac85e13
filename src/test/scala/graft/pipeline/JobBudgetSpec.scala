package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.obs.JobLedger

/** Spark-job budgets for the zone hot paths at sf0.001, counted by a
  * [[JobLedger]] scoped to the calling thread. Zones carry their own
  * schema (`_GRAFT_SCHEMA`), so opening a fresh zone plans from metadata
  * alone; a change that brings back a
  * footer-inference read or a second merge shuffle fails here instead of
  * showing up later as benchmark drift.
  */
class JobBudgetSpec extends AnyFunSuite with SparkFixture {

  /** Jobs `body` starts from this thread: the ledger's scope tag rides
    * along to every job it submits, AQE stage jobs included.
    */
  private def jobsOf(body: => Unit): Int = ledgerOf(body).size

  /** The jobs `body` starts from this thread (and threads it starts). */
  private def ledgerOf(body: => Unit): Seq[JobLedger.Job] = {
    val tag = "jobBudget"
    val sc = spark.sparkContext
    val ledger = JobLedger.attach(sc, scope = Some(tag))
    try {
      JobLedger.scoped(sc, tag)(body)
      ledger.drain()
      ledger.jobs
    } finally ledger.detach()
  }

  private def freshCompacted(): String = {
    val dir = CompactedZone.compactedDir(sf0001)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private val ensures: Seq[(String, () => Any)] = Seq(
    "DedupZone.ensurePairs" -> (() => DedupZone.ensurePairs(spark, sf0001)),
    "DedupZone.ensureClusters" -> (() => DedupZone.ensureClusters(spark, sf0001)),
    "DedupZone.ensureCorpusClusters" ->
      (() => DedupZone.ensureCorpusClusters(spark, sf0001)),
    "DedupZone.ensureContamination" ->
      (() => DedupZone.ensureContamination(spark, sf0001)),
    "DedupZone.ensureTrainPostings" ->
      (() => DedupZone.ensureTrainPostings(spark, sf0001)),
    "DedupZone.ensureLshIndex" -> (() => DedupZone.ensureLshIndex(spark, sf0001)),
    "DedupZone.ensureIngestArrivals" ->
      (() => DedupZone.ensureIngestArrivals(spark, sf0001)),
    "AnnZone.ensureIvfCentroids" -> (() => AnnZone.ensureIvfCentroids(spark, sf0001)),
    "AnnZone.ensureIvfLists" -> (() => AnnZone.ensureIvfLists(spark, sf0001)),
    "AnnZone.ensureIvfqLists" -> (() => AnnZone.ensureIvfqLists(spark, sf0001)),
    "AnnZone.ensureLshBuckets" -> (() => AnnZone.ensureLshBuckets(spark, sf0001)),
    "AnnZone.ensureCorpusLshBuckets" ->
      (() => AnnZone.ensureCorpusLshBuckets(spark, sf0001)),
    "AnnZone.ensurePqCodebook" -> (() => AnnZone.ensurePqCodebook(spark, sf0001)),
    "AnnZone.ensurePqCodes" -> (() => AnnZone.ensurePqCodes(spark, sf0001)))

  test("a fresh ensure of every DedupZone/AnnZone artifact runs 0 Spark jobs") {
    ensures.foreach { case (_, ensure) => ensure() } // build whatever is stale
    val jobs = ensures.map { case (name, ensure) => name -> jobsOf(ensure()) }
    assert(jobs.forall(_._2 == 0),
      s"fresh ensures must plan from stored metadata alone: ${jobs.filter(_._2 > 0)}")
  }

  test("a cold ensureCompacted over the 2 fixture snapshots runs <= 3 jobs; " +
      "building the compactedZoneRuns query afterwards runs 0") {
    RawZone.ensureBuilt(spark, sf0001)
    freshCompacted()
    try {
      val cold = jobsOf(CompactedZone.ensureCompacted(spark, sf0001))
      assert(cold > 0, "the listener must see the compaction's own jobs")
      // the touched-bucket collect (1) + the merge's one shuffle (1) + its
      // write (1)
      assert(cold <= 3, s"cold compaction of the backlog ran $cold jobs")
      val build = jobsOf(CompactedZone.compactedZoneRuns(spark, sf0001))
      assert(build === 0, "reading a compacted zone must not infer its schema")
    } finally freshCompacted()
  }

  test("a one-snapshot merge into a non-empty zone runs <= 3 jobs") {
    val rawDir = RawZone.ensureBuilt(spark, sf0001)
    val dir = freshCompacted()
    try {
      CompactedZone.mergeSnapshot(spark, rawDir, dir, "20240101-000000Z")
      val merge = jobsOf(
        CompactedZone.mergeSnapshot(spark, rawDir, dir, "20240102-000000Z"))
      assert(merge <= 3, s"a one-snapshot merge ran $merge jobs")
    } finally freshCompacted()
  }

  test("the ingest path at sf0.001: incrementalNeardupStats <= 20 jobs, " +
      "incrementalClusterStats <= 24, streamingNeardupIngest <= 9 with one " +
      "job after its stream ends") {
    import graft.operators.TextOps
    def neardup() = TextOps.incrementalNeardupStats(spark, sf0001).collect()
    def cluster() = TextOps.incrementalClusterStats(spark, sf0001).collect()
    def stream() = TextOps.streamingNeardupIngest(spark, sf0001).collect()
    // first calls build the zones the measured calls read
    neardup(); cluster(); stream()
    val n = jobsOf(neardup())
    assert(n <= 20, s"incrementalNeardupStats ran $n jobs")
    val c = jobsOf(cluster())
    assert(c <= 24, s"incrementalClusterStats ran $c jobs")
    // the stream's own jobs carry the call site of its start(); the rest
    // ran after awaitTermination, the closing ledger read (7 before: a
    // footer read and six AQE stage jobs for a few rows)
    val jobs = ledgerOf(stream())
    val closing = jobs.filterNot(_.site.startsWith("start at "))
    assert(jobs.size - closing.size > 0, "the ledger must see the stream's jobs")
    assert(closing.size <= 1,
      s"${closing.size} jobs after the stream ended: ${closing.map(_.site)}")
    assert(jobs.size <= 9, s"streamingNeardupIngest ran ${jobs.size} jobs")
  }
}
