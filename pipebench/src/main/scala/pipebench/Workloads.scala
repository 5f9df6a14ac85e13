package pipebench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import graft.operators.{QualityOps, TextOps, VectorOps}
import graft.pipeline.{AnnZone, CompactedZone, DedupZone, RawZone, ZoneBuildTally}

/** The reference ETL: backfill the lake from the source, re-read all of its
  * history through each transport, then land `K` refresh snapshots and
  * bring the compacted zone and the CSV up to date after each.
  */
final class EtlLake(spark: SparkSession, input: String, gen: String) extends Workload {
  private val snapshots = Option(new File(gen, "refresh").list()).fold(0)(_.length)
  private val answers = (0 to snapshots).map(k =>
    Check.expected(spark, s"$gen/expect/etl_$k.parquet"))
  private val csvDir = "out/workflow_runs"

  private def csvCheck(k: Int): Any => Option[String] = _ => {
    val (cols, want) = answers(k)
    Check.diff(cols, Check.csvRows(csvDir, cols), cols, want)
  }

  private def bucketFiles(dir: String): Map[String, Set[String]] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(b => b.getName -> Option(b.list()).fold(Set.empty[String])(_.toSet))
      .toMap

  def pass(p: Pass): Unit = {
    FileUtils.deleteQuietly(new File("target"))
    FileUtils.deleteQuietly(new File("out"))
    val builds0 = ZoneBuildTally.builds.get
    p.call("RawZone.build", "backfill")(RawZone.ensureBuilt(spark, input))()
    p.call("RawZone.cursor_build", "backfill")(RawZone.ensureCursorZone(spark, input))()
    p.call("CompactedZone.cold", "backfill")(CompactedZone.ensureCompacted(spark, input))()
    p.query("CompactedZone.read", "backfill")(CompactedZone.compactedZoneRuns(spark, input))(
      RawZone.writeWorkflowCsv(_, csvDir))(csvCheck(0))

    p.collect("RawZone.scan", "rescan", answers(0))(RawZone.pipelineRuns(spark, input))
    p.collect("sources.paged", "rescan", answers(0))(RawZone.pagedConnectorRuns(spark, input))
    p.collect("sources.cursor", "rescan", answers(0))(RawZone.cursorConnectorRuns(spark, input))

    val rawDir = RawZone.rawZoneDir(input)
    val zoneDir = CompactedZone.compactedDir(input)
    for (k <- 1 to snapshots) {
      // the snapshot lands outside the timed spans: the extractor's work
      val snap = new File(gen, s"refresh/$k")
      FileUtils.copyDirectory(snap, new File(rawDir))
      val before = bucketFiles(zoneDir)
      p.call("CompactedZone.merge", "refresh")(CompactedZone.ensureCompacted(spark, input))()
      val merge = p.lastSeconds
      val after = bucketFiles(zoneDir)
      val touched = after.keySet.filter(b => before.get(b) != after.get(b))
      val rewritten = touched.toSeq.map(b => Harness.dirBytes(new File(zoneDir, b))).sum
      p.extra("CompactedZone.merge.touched_ratio") +=
        touched.size.toDouble / CompactedZone.NumBuckets / snapshots
      p.extra("CompactedZone.merge.write_amp") +=
        rewritten.toDouble / Harness.dirBytes(snap) / snapshots
      p.query("CompactedZone.read", "refresh")(CompactedZone.compactedZoneRuns(spark, input))(
        RawZone.writeWorkflowCsv(_, csvDir))(csvCheck(k))
      p.extra(s"refresh_latency_$k") = merge + p.lastSeconds
    }
    p.extra("ZoneBuildTally.builds") += ZoneBuildTally.builds.get - builds0
  }
}

/** Loads `<gen>/expect/oracle/<query>.parquet`, the DuckDB result of the
  * query's `SparkEntry.oracleSql` over the same generated tables. The
  * oracles run beside the JVM's set-up; `_READY` marks them complete.
  */
private[pipebench] object Oracle {
  def awaitReady(gen: String): Unit = {
    val ready = new File(gen, "expect/oracle/_READY")
    val deadline = System.nanoTime() + 120e9.toLong
    while (!ready.isFile) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"no oracle results under $gen/expect/oracle")
      Thread.sleep(20)
    }
  }

  def apply(spark: SparkSession, gen: String, query: String): (Seq[String], Check.Rows) =
    Check.expected(spark, s"$gen/expect/oracle/$query.parquet")
}

/** The LLM data pipeline run cold: quality gate, exact dedup, the near-dup
  * pair, cluster and contamination builds, mixture and sampling, shuffle,
  * then the training manifest and its retention audit.
  */
final class LlmCorpus(spark: SparkSession, input: String, gen: String) extends Workload {
  private val want = Seq("quality_filter_counts", "dedup_exact_docs",
    "source_mixture_weights", "mixture_sample_stats", "stratified_sample_topk",
    "training_shuffle_stats", "training_manifest_stats", "retention_audit_stats")
    .map(q => q -> Oracle(spark, gen, q)).toMap

  /** Artifacts a cold pass builds: pairs, clusters, contamination. */
  val ExpectedBuilds = 3L

  def pass(p: Pass): Unit = {
    FileUtils.deleteQuietly(new File("target"))
    val builds0 = ZoneBuildTally.builds.get
    p.collect("QualityOps.gate", "corpus", want("quality_filter_counts"))(
      QualityOps.qualityFilterCounts(spark, input))
    p.collect("TextOps.exact_dedup", "corpus", want("dedup_exact_docs"))(
      TextOps.dedupExactDocs(spark, input))
    p.call("DedupZone.pairs", "corpus")(DedupZone.ensurePairs(spark, input))()
      .foreach(df => p.extra("DedupZone.pairs.rows") += df.count())
    p.call("DedupZone.clusters", "corpus")(DedupZone.ensureClusters(spark, input))()
      .foreach(df => p.extra("DedupZone.clusters.rows") += df.count())
    p.call("DedupZone.contamination", "corpus")(DedupZone.ensureContamination(spark, input))()
    p.collect("QualityOps.mixture", "corpus", want("source_mixture_weights"))(
      QualityOps.sourceMixtureWeights(spark, input))
    p.collect("QualityOps.mixture", "corpus", want("mixture_sample_stats"))(
      QualityOps.mixtureSampleStats(spark, input))
    p.collect("QualityOps.mixture", "corpus", want("stratified_sample_topk"))(
      QualityOps.stratifiedSampleTopk(spark, input))
    p.collect("QualityOps.shuffle", "corpus", want("training_shuffle_stats"))(
      QualityOps.trainingShuffleStats(spark, input))
    p.collect("TextOps.manifest", "corpus", want("training_manifest_stats"))(
      TextOps.trainingManifestStats(spark, input))
    p.collect("TextOps.retention", "corpus", want("retention_audit_stats"))(
      TextOps.retentionAuditStats(spark, input))
    val builds = ZoneBuildTally.builds.get - builds0
    p.extra("ZoneBuildTally.builds") += builds
    p.verify("ZoneBuildTally")(Check.zoneBuilds(builds, ExpectedBuilds))
  }
}

/** One arriving batch probed against corpus indexes built in set-up: the
  * exact, near-dup, cluster and contamination probes, the incremental ANN
  * top-k, and the same near-dup probe as a Structured-Streaming ingest.
  */
final class LlmIngest(spark: SparkSession, input: String, gen: String) extends Workload {
  private val want = Seq("incremental_dedup_stats", "incremental_cluster_stats",
    "contamination_index_pairs").map(q => q -> Oracle(spark, gen, q)).toMap
  // The near-dup ledgers lie between the exact ones at J >= 0.8 and J >= 1
  // (see Check.neardupBounds).
  private val neardupUpper = Oracle(spark, gen, "incremental_neardup_stats")
  private val neardupLower = Oracle(spark, gen, "incremental_neardup_stats_identical")
  private val annExact: Set[(Long, Long)] =
    spark.read.parquet(s"$gen/expect/ann_exact.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ensureIndexes(): Unit = {
    DedupZone.ensureLshIndex(spark, input)
    DedupZone.ensureTrainPostings(spark, input)
    DedupZone.ensureCorpusClusters(spark, input)
    DedupZone.ensureIngestArrivals(spark, input)
    AnnZone.ensureCorpusLshBuckets(spark, input)
  }

  override def prebuild(): Unit = {
    FileUtils.deleteQuietly(new File("target"))
    ensureIndexes()
  }

  def pass(p: Pass): Unit = {
    val builds0 = ZoneBuildTally.builds.get
    p.call("ArtifactZone.fresh_check", "fresh")(ensureIndexes())()
    p.collect("TextOps.incremental_dedup", "batch", want("incremental_dedup_stats"))(
      TextOps.incrementalDedupStats(spark, input))
    var batch: Option[(Seq[String], Check.Rows)] = None
    p.query("TextOps.incremental_neardup", "batch")(TextOps.incrementalNeardupStats(spark, input)) {
      df => (Check.columns(df), df.collect())
    } { case (cols, got) =>
      val rows = Check.rows(got)
      batch = Some((cols, rows))
      p.extra("TextOps.incremental_neardup.lsh_missed") +=
        Check.neardupMissed(cols, rows, neardupUpper._2)
      Check.neardupBounds(cols, rows, neardupUpper, neardupLower)
    }
    p.collect("TextOps.incremental_cluster", "batch", want("incremental_cluster_stats"))(
      TextOps.incrementalClusterStats(spark, input))
    p.collect("TextOps.contamination_probe", "batch", want("contamination_index_pairs"))(
      TextOps.contaminationIndexPairs(spark, input))
    p.query("VectorOps.incremental_ann", "batch")(VectorOps.incrementalAnnTopk(spark, input))(
      _.collect()) { rows =>
      val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = Check.recall(got, annExact)
      p.extra("VectorOps.incremental_ann.recall") += recall
      Check.recallFloor(recall)
    }
    val triggers0 = (TriggerListener.triggers.sum, TriggerListener.triggerSeconds.sum)
    var streamCols = Seq.empty[String]
    p.query("TextOps.stream_ingest", "stream")(TextOps.streamingNeardupIngest(spark, input)) {
      df => streamCols = Check.columns(df); df.collect()
    } { got =>
      val rows = Check.rows(got)
      Check.neardupBounds(streamCols, rows, neardupUpper, neardupLower).orElse(
        batch.flatMap { case (bc, br) =>
          Check.diff(streamCols, rows, bc, br).map("differs from incrementalNeardupStats: " + _)
        })
    }
    if (p.tracer.traced) {
      org.apache.spark.BusDrain(spark.sparkContext)
      p.extra("TextOps.stream_ingest.triggers") += TriggerListener.triggers.sum - triggers0._1
      p.extra("TextOps.stream_ingest.trigger_s") +=
        TriggerListener.triggerSeconds.sum - triggers0._2
    }
    val builds = ZoneBuildTally.builds.get - builds0
    p.extra("ZoneBuildTally.builds") += builds
    p.verify("ZoneBuildTally")(Check.zoneBuilds(builds, 0))
  }
}
