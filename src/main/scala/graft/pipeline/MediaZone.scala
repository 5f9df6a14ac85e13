package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MultimodalOps

/** Materialized media FEATURE STORE — the decode-once zone for the
  * multimodal family, completing the artifact-zone triple (text dedup →
  * [[DedupZone]], vector indexes → [[AnnZone]], media features → here).
  * Decoding is the expensive, embarrassingly-parallel step of any
  * multimodal pipeline; at 100 TB nobody re-decodes the corpus per
  * downstream query — features are extracted once per corpus version and
  * every consumer reads the (id, features) projection, which is what a
  * production feature store is. Keyed on documents.parquet (the media
  * payloads are content-synthesized from it) with [[ArtifactZone]]'s
  * fingerprint/temp-swap commit.
  *
  * Layout: target/mediazone/<sf>/image_features —
  *   (doc_id, format, n_bytes, width, height, pixel_mean, phash),
  * the content-keyed decode of [[MultimodalOps.contentMediaTable]].
  * `phash_neardup` consumes the phash column; `media_feature_stats` keeps
  * paying its own in-query decode (the id-seeded set) so the honest decode
  * cost stays on the board — the dedup-zone convention.
  */
object MediaZone {

  def zoneDir(sfDir: String): String =
    s"target/mediazone/${graft.Tables.sfName(sfDir)}"

  private[pipeline] def src(sfDir: String): java.io.File =
    new java.io.File(sfDir, "documents.parquet")

  /** Decoder/featurizer revision (ArtifactZone fingerprint component) —
    * bumped when the decode or feature semantics change, so a stale
    * feature store can't be served against a newer decoder (consumers like
    * phash_neardup compare zone features with current-code expectations).
    */
  private[pipeline] val FeatureVersion = "bmp-ppm-pixmean-phash8x8-v1"

  def ensureImageFeatures(spark: SparkSession, sfDir: String): DataFrame =
    ArtifactZone.ensure(spark, s"${zoneDir(sfDir)}/image_features", src(sfDir),
      FeatureVersion) {
      dir =>
        ArtifactZone.write(MultimodalOps
          .featurizeMedia(spark, MultimodalOps.contentMediaTable(spark, sfDir), 64)
          .toDF(), dir)
    }
}
