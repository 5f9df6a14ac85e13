package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, countDistinct, lit}

import graft.operators.TextOps

/** Materialized LEXICAL index zone: the BM25 inverted index as the
  * query-independent per-posting contribution relation
  * (term, train_doc, contrib) — what Lucene persists as its
  * impact-carrying postings. The build is one tokenize+aggregate pass per
  * corpus version (`TextOps.bm25IndexBuild`); the zone-backed query
  * (`bm25_index_topk`) pays dispatch + scoring only, while the cold
  * `bm25_topk` keeps building in-query so the honest index-build cost
  * stays on the board — and the two share ONE oracle, so the driver hash
  * gate re-proves index-backed ≡ cold rebuild every round (the
  * compacted_zone_runs pattern).
  *
  * Keyed on documents.parquet with [[ArtifactZone]]'s fingerprint/
  * temp-swap commit. The version string pins the scoring constants and
  * the train-split definition — a k1/b/split change must invalidate the
  * persisted index because contrib bakes them in.
  *
  * Layout: target/lexicalzone/<sf>/bm25_postings
  */
object LexicalZone {

  def zoneDir(sfDir: String): String =
    s"target/lexicalzone/${graft.Tables.sfName(sfDir)}"

  private[pipeline] def src(sfDir: String): java.io.File =
    new java.io.File(sfDir, "documents.parquet")

  // v3: postings ROUND-ROBIN-partitioned into parallelism-many files (v2's
  // by-key repartition was planner-elided and still wrote one file; layout
  // changes bump the version to force the rebuild)
  private[pipeline] val Bm25Version = "bm25-k1_1.2-b_0.75-sat2.2lit-train80-v3"

  def ensureBm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactZone.ensure(spark, s"${zoneDir(sfDir)}/bm25_postings", src(sfDir),
      Bm25Version) { dir =>
      val (postings, postingScores) = TextOps.bm25IndexBuild(spark, sfDir)
      // ROUND-ROBIN repartition into parallelism-many files: AQE coalesced
      // the build's final stage to ONE output file, which capped the
      // zone-backed query's postings scan at one task — invisible at sf0.1
      // (411 KB), catastrophic at 10× (167 s index-backed vs 16 s cold,
      // measured r13). Round-robin specifically, NOT repartition(N, term):
      // the build's own agg/joins already hash-partition by term, so a
      // by-key repartition is elided as redundant by the planner and AQE
      // then coalesces the surviving exchange by observed size — measured:
      // repartition(8, term) wrote 1 file, repartition(8) wrote 8. Disk
      // bucketing carries no metadata for path-addressed parquet anyway;
      // the probe re-partitions at query time (bm25IndexTopk).
      try ArtifactZone.write(
        postingScores.repartition(spark.sparkContext.defaultParallelism), dir)
      finally postings.unpersist(false)
    }

  /** Index METADATA artifact: (term, df, n_train) — df per vocabulary term
    * plus the train-doc count denormalized onto every row (the relation is
    * vocabulary-sized, the constant column costs nothing). Lucene keeps
    * exactly these in its index (df per term, docCount in segment info);
    * before this artifact existed the zone-backed query re-derived both
    * with TWO postings-wide aggregations per invocation — at 100 TB that
    * is re-scanning the inverted index to learn numbers the build already
    * knew (r13, VERDICT r12 item 5). Built FROM the committed postings
    * artifact (one aggregation pass at build time, DAG-ordered like
    * DedupZone's pairs→clusters), same version pin — a scoring-constant
    * change invalidates both together.
    */
  def ensureBm25Df(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactZone.ensure(spark, s"${zoneDir(sfDir)}/bm25_df", src(sfDir),
      Bm25Version) { dir =>
      val ps = ensureBm25Postings(spark, sfDir)
      ArtifactZone.write(ps.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(
          ps.agg(countDistinct(col("train_doc")).as("n_train")))), dir)
    }
}
