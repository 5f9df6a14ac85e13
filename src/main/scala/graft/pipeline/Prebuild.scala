package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Serialized pre-build of EVERY persisted zone artifact at one SF — the
  * bench pre-phase (VERDICT r12 item 1a).
  *
  * Before this existed, each artifact was built lazily inside the warm run
  * of whichever bench child touched it first: correct (warm_sec reported
  * the cost) but it stretched the driver's measurement window by minutes
  * of build wall — `dedup_clusters` warmed 56 s, `bm25_topk` 48 s on the
  * r12 driver board — and every extra minute of window is exposure to
  * co-tenant load waves, which is what actually failed the r12 gate.
  * Building everything ONCE, serially, before any timed child starts keeps
  * warm runs to plan+IO-cache cost and shrinks the scored window.
  *
  * At 100 TB this is just the offline-index stance made explicit: index and
  * zone builds are scheduled jobs, not query-time side effects; queries
  * probe committed artifacts.
  *
  * Every call is an [[ArtifactZone]]-style build-if-stale no-op when the
  * artifact is fresh, so invoking this repeatedly costs one fingerprint
  * stat per artifact.
  */
object Prebuild {

  /** Ensure every zone artifact for `sfDir`; returns the number of builds
    * that actually ran (0 = everything was fresh).
    */
  def all(spark: SparkSession, sfDir: String): Long = {
    graft.functions.GraftExtensions.register(spark)
    val before = ZoneBuildTally.builds.get
    // RawZone family first: CompactedZone folds the raw zone, and the
    // connector zones re-serve its pages
    RawZone.ensureBuilt(spark, sfDir)
    RawZone.ensureCursorZone(spark, sfDir)
    RawZone.ensureCsvZone(spark, sfDir)
    RawZone.ensureOrcZone(spark, sfDir)
    CompactedZone.ensureCompacted(spark, sfDir)
    // text dedup artifacts (pairs → clusters is a DAG; ensure* handles it)
    DedupZone.ensurePairs(spark, sfDir)
    DedupZone.ensureClusters(spark, sfDir)
    DedupZone.ensureCorpusClusters(spark, sfDir)
    DedupZone.ensureContamination(spark, sfDir)
    DedupZone.ensureTrainPostings(spark, sfDir)
    DedupZone.ensureLshIndex(spark, sfDir)
    DedupZone.ensureIngestArrivals(spark, sfDir)
    // lexical index + its metadata artifact (df / n_train)
    LexicalZone.ensureBm25Postings(spark, sfDir)
    LexicalZone.ensureBm25Df(spark, sfDir)
    // vector indexes
    AnnZone.ensureIvfCentroids(spark, sfDir)
    AnnZone.ensureIvfLists(spark, sfDir)
    AnnZone.ensureIvfqLists(spark, sfDir)
    AnnZone.ensureCorpusLshBuckets(spark, sfDir)
    AnnZone.ensurePqCodebook(spark, sfDir)
    AnnZone.ensurePqCodes(spark, sfDir)
    AnnZone.ensureLshBuckets(spark, sfDir)
    // media feature store
    MediaZone.ensureImageFeatures(spark, sfDir)
    ZoneBuildTally.builds.get - before
  }
}
