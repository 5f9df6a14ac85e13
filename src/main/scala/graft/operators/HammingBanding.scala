package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared EXACT Hamming-≤3 pair machinery over any 64-bit similarity hash —
  * one implementation behind both `TextOps.simhashNeardup` (text SimHash,
  * per-language) and `MultimodalOps.phashPairsFrom` (image pHash, global):
  * a perceptual hash IS a SimHash over the pixel domain, so the banding
  * algebra is identical and must not fork.
  *
  * The pipeline (Charikar '02 + pigeonhole banding):
  *   1. identical-hash collapse: rows with equal (extraKeys, hash) group to
  *      one representative; intra-group pairs are Hamming 0 by identity and
  *      never hit the pairwise join — the guard that makes degenerate
  *      (boilerplate-heavy) corpora cost one signature, not O(n²) pairs;
  *   2. 4 × 16-bit chunk banding over representatives: ≤ 3 differing bits
  *      can touch at most 3 of the 4 chunks, so every qualifying pair
  *      shares ≥ 1 equal chunk — banding loses NOTHING at this radius;
  *   3. a fail-loud Σ C(bucket, 2) candidate-pair budget in decimal(38,0)
  *      (a Long sum wraps negative past ~3·10⁹ reps in one bucket, silently
  *      bypassing the gate on exactly the corpora it exists to reject);
  *      capping buckets instead would silently void the exact radius;
  *   4. exact xor+popcount verify of candidates, then member re-expansion.
  *
  * Output: (doc_a, doc_b, hamming), doc_a < doc_b, totally ordered.
  */
object HammingBanding {

  /** @param rows       (idCol, hashCol) plus the extraKeys columns
    * @param extraKeys  grouping/join keys beyond the hash (e.g. "lang");
    *                   pairs only form within equal extra-key values
    * @param label      query name for the fail-loud budget message
    * @param scaleHint  what to use instead when the gate trips
    */
  private[operators] def bandedPairs(spark: SparkSession, rows: DataFrame,
      idCol: String, hashCol: String, extraKeys: Seq[String],
      maxHamming: Int, pairBudget: Long, label: String,
      scaleHint: String): DataFrame = {
    require(maxHamming <= 3, "4x16-bit chunk banding is exact only to Hamming 3")
    val id = col(idCol)
    val groups = rows.groupBy((extraKeys :+ hashCol).map(col): _*)
      .agg(min(id).as("rep"), sort_array(collect_list(id)).as("members"))
      .persist() // the gate, the chunk self-join and both expansions read it

    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).cast("int").as("hamming"))

    val chunkArr = array((0 until 4).map(c =>
      struct(lit(c).as("ci"),
        (shiftright(col(hashCol), c * 16) bitwiseAND lit(0xFFFFL)).as("cv"))): _*)
    val chunks = groups.select(
        Seq(col("rep"), col(hashCol)) ++ extraKeys.map(col) :+ explode(chunkArr).as("ch"): _*)
      .select(
        Seq(col("rep"), col(hashCol), col("ch.ci").as("ci"), col("ch.cv").as("cv")) ++
          extraKeys.map(col): _*)

    // Exactness gate: eager and cheap — `groups` is persisted, so this one
    // small aggregate materializes it for the main plan to reuse.
    val candPairs: java.math.BigDecimal =
      try {
        chunks.groupBy((extraKeys ++ Seq("ci", "cv")).map(col): _*)
          .agg(count(lit(1)).as("b"))
          .agg(coalesce(sum(col("b").cast("decimal(38,0)") * (col("b") - 1)),
            lit(0).cast("decimal(38,0)")).as("twicePairs"))
          .head().getDecimal(0)
          .divide(java.math.BigDecimal.valueOf(2)) // b·(b−1) is even — exact
      } catch {
        case t: Throwable => groups.unpersist(false); throw t
      }
    if (candPairs.compareTo(java.math.BigDecimal.valueOf(pairBudget)) > 0) {
      groups.unpersist(false)
      throw new IllegalStateException(
        s"$label: chunk banding would enumerate $candPairs candidate pairs " +
          s"(budget $pairBudget) — the corpus is too low-entropy for exact " +
          "4-chunk banding to stay subquadratic, and capping buckets would " +
          s"silently violate the exact Hamming<=$maxHamming contract. $scaleHint")
    }

    val joinCond = (extraKeys.map(k => col(s"x.$k") === col(s"y.$k")) ++ Seq(
      col("x.ci") === col("y.ci"), col("x.cv") === col("y.cv"),
      col("x.rep") < col("y.rep"))).reduce(_ && _)
    val repPairs = chunks.as("x").join(chunks.as("y"), joinCond)
      .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
        bit_count(col(s"x.$hashCol") bitwiseXOR col(s"y.$hashCol")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

    val ga = groups.select(col("rep").as("rep_a"), col("members").as("ms_a"))
    val gb = groups.select(col("rep").as("rep_b"), col("members").as("ms_b"))
    val cross = repPairs.join(ga, "rep_a").join(gb, "rep_b")
      .select(explode(col("ms_a")).as("da"), col("ms_b"), col("hamming"))
      .select(col("da"), explode(col("ms_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))

    // armed only AFTER the gate's eager aggregate — arming earlier would let
    // the gate action itself unpersist `groups` out from under the main plan
    TextOps.unpersistAfterAction(spark, groups)
    within.unionByName(cross).orderBy(col("doc_a"), col("doc_b"))
  }
}
