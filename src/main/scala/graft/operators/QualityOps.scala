package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-quality operators over `documents` — the rule-based filtering /
  * splitting / scrubbing stages every large-scale training-data pipeline
  * runs between dedup and tokenization (the C4 / Gopher cleaning recipes):
  * within-document repetition measurement, multi-rule quality gating,
  * deterministic hash-based dataset splits, and lexicon redaction.
  *
  * 100 TB notes:
  *   - Every operator here is one narrow codegen'd pass per document plus a
  *     per-language hash aggregate — no joins, no windows; shuffle payload is
  *     a handful of integer counters per (doc × rule), never text.
  *   - All per-document predicates use exact integer arithmetic (e.g.
  *     `2·n_tokens ≤ n_chars` instead of `n_chars/n_tokens ≥ 2`), so rule
  *     outcomes are engine-exact and the DuckDB oracles hash-match.
  *   - The hash split keys on md5 of the stable document id — re-running the
  *     pipeline on a grown corpus never reassigns an existing document's
  *     split (the property that keeps eval sets uncontaminated across
  *     pipeline runs).
  */
object QualityOps {

  private def words(c: Column): Column = filter(split(c, " "), w => w =!= "")

  /** Adjacent token bigrams ("w1 w2"), empty when the doc has < 2 tokens. */
  private def bigrams(ws: Column): Column =
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i => concat_ws(" ", slice(ws, i, lit(2)))))
      .otherwise(array().cast("array<string>"))

  /** Within-document repetition stats per language (the Gopher repetition
    * signals, Rae '21 §A1.1): duplicate-bigram mass = 1 − distinct/total
    * adjacent bigrams. A doc whose text loops a template scores high even
    * when no OTHER doc matches it — the complement of the cross-document
    * dedup family in [[TextOps]]. Ratios derive from exact integer sums; the
    * per-doc "repetitive" flag (> 10% duplicate bigrams) compares integers
    * scaled by 10, so no float boundary can flip it between engines.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"), bigrams(words(col("text"))).as("bg"))
      .select(col("lang"), size(col("bg")).as("n2"),
        size(array_distinct(col("bg"))).as("d2"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n2")).as("n_bigrams"),
        sum(col("n2") - col("d2")).as("n_dup_bigrams"),
        round(sum(col("n2") - col("d2")).cast("double") / sum(col("n2")), 6)
          .as("dup_ratio"),
        sum(when(lit(10) * (col("n2") - col("d2")) > col("n2"), 1L).otherwise(0L))
          .as("n_repetitive"))
      .orderBy(col("lang"))
  }

  val repetitionStatsSql: String =
    """WITH tok AS (
      |  SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents
      |), bg AS (
      |  SELECT lang, CASE WHEN len(ws) >= 2
      |                    THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
      |                    ELSE []::VARCHAR[] END AS bg
      |  FROM tok
      |), per_doc AS (
      |  SELECT lang, len(bg) AS n2, len(list_distinct(bg)) AS d2 FROM bg
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n2) AS BIGINT) AS n_bigrams,
      |       CAST(sum(n2 - d2) AS BIGINT) AS n_dup_bigrams,
      |       round(CAST(sum(n2 - d2) AS BIGINT)::DOUBLE / CAST(sum(n2) AS BIGINT), 6) AS dup_ratio,
      |       CAST(sum(CASE WHEN 10 * (n2 - d2) > n2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
      |FROM per_doc
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** The ONE C4-gate rule set as a struct of the four per-doc flags —
    * shared by [[qualityFilterCounts]] (which also reports per-rule fail
    * counts) and `TextOps.trainingManifestStats` (which needs the
    * conjunction), so the two surfaces can never disagree on what "clean"
    * means (the [[Splits]] stance, ADVICE r10). Rule set documented on
    * [[qualityFilterCounts]].
    */
  private[operators] def c4Flags(ws: Column): Column = {
    val stop = Seq("the", "a", "of")
    val nTokens = size(ws)
    val nChars = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
    val nStop = size(filter(ws, w => w.isin(stop.map(lit(_)): _*)))
    val n2 = size(bigrams(ws))
    val d2 = size(array_distinct(bigrams(ws)))
    struct(
      (nTokens >= 10 && nTokens <= 1000).as("ok_len"),
      (lit(2) * nTokens <= nChars && nChars <= lit(12) * nTokens).as("ok_wordlen"),
      (nStop > 0).as("ok_stopword"),
      (lit(5) * (n2 - d2) <= n2).as("ok_repeat"))
  }

  /** Multi-rule quality gate (C4 / Gopher-style): per language, how many
    * docs pass ALL rules and how many fail each individual rule (failures
    * are not exclusive — a doc can fail several). Rules, all in exact
    * integer form:
    *   len      — 10 ≤ n_tokens ≤ 1000
    *   wordlen  — mean word length in [2, 12]: 2·n_tokens ≤ n_chars ≤ 12·n_tokens
    *   stopword — at least one stopword ("the"/"a"/"of")
    *   repeat   — duplicate-bigram mass ≤ 20%: 5·(n2 − d2) ≤ n2
    * The thresholds are corpus-tuning knobs; the operator's contract is the
    * counting mechanics, which is what the oracle pins.
    */
  def qualityFilterCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"), c4Flags(words(col("text"))).as("f"))
      .select(col("lang"), col("f.ok_len").as("ok_len"),
        col("f.ok_wordlen").as("ok_wordlen"),
        col("f.ok_stopword").as("ok_stopword"),
        col("f.ok_repeat").as("ok_repeat"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ok_len") && col("ok_wordlen") && col("ok_stopword") && col("ok_repeat"), 1L)
          .otherwise(0L)).as("n_pass"),
        sum(when(!col("ok_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(!col("ok_wordlen"), 1L).otherwise(0L)).as("n_fail_wordlen"),
        sum(when(!col("ok_stopword"), 1L).otherwise(0L)).as("n_fail_stopword"),
        sum(when(!col("ok_repeat"), 1L).otherwise(0L)).as("n_fail_repeat"))
      .orderBy(col("lang"))
  }

  val qualityFilterCountsSql: String =
    """WITH tok AS (
      |  SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents
      |), feat AS (
      |  SELECT lang,
      |         len(ws) AS n_tokens,
      |         coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS n_chars,
      |         len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS n_stop,
      |         CASE WHEN len(ws) >= 2
      |              THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
      |              ELSE []::VARCHAR[] END AS bg
      |  FROM tok
      |), flags AS (
      |  SELECT lang,
      |         (n_tokens >= 10 AND n_tokens <= 1000) AS ok_len,
      |         (2 * n_tokens <= n_chars AND n_chars <= 12 * n_tokens) AS ok_wordlen,
      |         (n_stop > 0) AS ok_stopword,
      |         (5 * (len(bg) - len(list_distinct(bg))) <= len(bg)) AS ok_repeat
      |  FROM feat
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN ok_len AND ok_wordlen AND ok_stopword AND ok_repeat THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |       CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
      |       CAST(sum(CASE WHEN NOT ok_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
      |       CAST(sum(CASE WHEN NOT ok_stopword THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
      |       CAST(sum(CASE WHEN NOT ok_repeat THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_repeat
      |FROM flags
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** The id-stable split bucket shared by [[hashSplitCounts]] and
    * [[packingShardedStats]] — one definition for the whole engine
    * ([[Splits]], ADVICE r10). */
  private def md5Bucket: Column = Splits.bucket

  /** train/val/test label over [[md5Bucket]] ([[Splits.splitName]]). */
  private def splitName: Column = Splits.splitName

  /** Deterministic train/val/test split: bucket = first 32 md5 bits of the
    * document id, mod 100 → train < 80 ≤ val < 90 ≤ test. Content-free and
    * id-stable, so (a) the split is reproducible from the id alone with no
    * stored assignment table, and (b) growing the corpus never moves an
    * existing doc between splits — the property that keeps a held-out set
    * clean across pipeline re-runs. Same md5-prefix trick as
    * `TextOps.rollingFingerprints`: engine-independent bits, exact oracle.
    */
  def hashSplitCounts(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), splitName.as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("split"))
  }

  val hashSplitCountsSql: String =
    """WITH assigned AS (
      |  SELECT lang, doc_id,
      |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT lang, doc_id,
      |               ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      |        FROM documents)
      |)
      |SELECT lang, split, count(*) AS n_docs,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM assigned
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  /** Lexicon term redaction — the PII-scrub operator shape (emails, phone
    * numbers, ids → sentinel) with a stand-in lexicon, since the synthetic
    * corpus contains no digit runs (same stance as `TextOps.langMarkers`:
    * the distributed mechanics are under test, not the lexicon). One
    * codegen'd regexp pass per doc computes hit count and the scrubbed
    * text; per language we report documents touched, total hits, and exact
    * byte deltas. The regex stays in the Java∩RE2 common subset
    * (alternation + \b) so both engines match identically.
    */
  def redactionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val pattern = "\\b(spark|stream|table)\\b"
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"), length(col("text")).as("chars_before"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0))).as("n_hits"),
        length(regexp_replace(col("text"), pattern, "<TERM>")).as("chars_after"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_docs_changed"),
        sum(col("n_hits")).as("n_hits"),
        sum(col("chars_before")).as("chars_before"),
        sum(col("chars_after")).as("chars_after"))
      .orderBy(col("lang"))
  }

  val redactionStatsSql: String =
    """WITH per_doc AS (
      |  SELECT lang, length(text) AS chars_before,
      |         len(regexp_extract_all(text, '\b(spark|stream|table)\b')) AS n_hits,
      |         length(regexp_replace(text, '\b(spark|stream|table)\b', '<TERM>', 'g')) AS chars_after
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
      |       CAST(sum(n_hits) AS BIGINT) AS n_hits,
      |       CAST(sum(chars_before) AS BIGINT) AS chars_before,
      |       CAST(sum(chars_after) AS BIGINT) AS chars_after
      |FROM per_doc
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Out-of-vocabulary quality score — the LM-based-filter shape (CCNet
    * scores documents against a reference language model; the distributed
    * mechanics are identical with the LM reduced to its vocabulary): pass 1
    * builds the per-language vocabulary (a word is in-vocab iff its document
    * frequency ≥ 10% of that language's documents — RELATIVE, so the
    * operator behaves identically across scale factors), pass 2 left-joins
    * every token against it and aggregates OOV mass per language. The
    * "high-OOV" doc flag (> 5% OOV tokens) uses scaled-integer comparison.
    * 100 TB shape: the vocabulary is the classic broadcast dim (or a
    * (lang, word)-keyed shuffle join when it outgrows broadcast); token
    * traffic carries (lang, word, doc_id) only, never text.
    */
  def oovStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("lang"), col("doc_id"),
      explode(words(col("text"))).as("word"))
    val langDocs = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
    val vocab = tok.groupBy(col("lang"), col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(langDocs, "lang")
      .filter(col("df") * 10 >= col("nd"))
      .select(col("lang"), col("word"), lit(1).as("in_vocab"))
    // FULL OUTER, not left (r11 count()-pruning audit): the vocabulary is
    // built FROM `tok`, so its (lang, word) keys are a subset of tok's and
    // the forms are row-identical — but the pruned unique-key left join
    // was eliminated under a cardinality-only action, deleting the whole
    // vocab-build subtree from the bench's timed plan.
    val perDoc = tok.join(vocab, Seq("lang", "word"), "full_outer")
      .groupBy(col("lang"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_oov")).as("total_oov"),
        round(sum(col("n_oov")).cast("double") / sum(col("n_tokens")), 6).as("oov_ratio"),
        sum(when(col("n_oov") * 20 > col("n_tokens"), 1L).otherwise(0L)).as("n_high_oov"))
      .orderBy(col("lang"))
  }

  val oovStatsSql: String =
    """WITH tok AS (
      |  SELECT lang, doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
      |  FROM documents
      |), lang_docs AS (
      |  SELECT lang, count(*) AS nd FROM documents GROUP BY lang
      |), vocab AS (
      |  SELECT f.lang, f.word
      |  FROM (SELECT lang, word, count(DISTINCT doc_id) AS df FROM tok GROUP BY lang, word) f
      |  JOIN lang_docs d ON f.lang = d.lang
      |  WHERE f.df * 10 >= d.nd
      |), per_doc AS (
      |  SELECT t.lang, t.doc_id, count(*) AS n_tokens,
      |         sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
      |  FROM tok t LEFT JOIN vocab v ON t.lang = v.lang AND t.word = v.word
      |  GROUP BY t.lang, t.doc_id
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_oov) AS BIGINT) AS total_oov,
      |       round(CAST(sum(n_oov) AS BIGINT)::DOUBLE / CAST(sum(n_tokens) AS BIGINT), 6) AS oov_ratio,
      |       CAST(sum(CASE WHEN n_oov * 20 > n_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_high_oov
      |FROM per_doc
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Sequence-packing layout — the concatenate-and-chunk model LLM training
    * uses to fill fixed context windows: per language, documents in stable
    * doc_id order are laid end to end and a document belongs to the bin
    * (context window of `binTokens` tokens) where it STARTS, i.e.
    * bin = ⌊exclusive-prefix-sum(tokens) / binTokens⌋. One ordered window
    * cumsum + a hash aggregate; all integers, exact oracle.
    *
    * 100 TB honesty: an ordered prefix sum over a whole language is
    * inherently sequential, so at scale packing runs WITHIN shards (e.g. the
    * [[hashSplitCounts]] split × a shard key), exactly as production packers
    * do — the per-shard layout is this same operator with `lang` replaced by
    * the shard key.
    */
  def packingBinStats(spark: SparkSession, sfDir: String): DataFrame = {
    val binTokens = 4096L
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perDoc
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / binTokens))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  val packingBinStatsSql: String =
    """WITH per_doc AS (
      |  SELECT lang, doc_id,
      |         len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_tokens
      |  FROM documents
      |), binned AS (
      |  SELECT lang, doc_id, n_tokens,
      |         -- CAST: DuckDB's windowed sum(BIGINT) is HUGEINT and `//` keeps it;
      |         -- canonicalize to BIGINT so the checker's pandas bridge sees int64
      |         -- (same canonicalization as the non-windowed sums below).
      |         CAST((coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096) AS BIGINT) AS bin
      |  FROM per_doc
      |)
      |SELECT lang, bin, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM binned
      |GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin

  /** SHARDED sequence packing — the scale form [[packingBinStats]]'s scaladoc
    * promises: the ordered prefix sum runs WITHIN (lang × md5-split) shards,
    * exactly as production packers bound their inherently-sequential window.
    * Same window machinery, shard key = (lang, split); at 100 TB the shard
    * key widens further (split × file-group) but the operator is unchanged —
    * each shard's layout is independent, so shards parallelize perfectly and
    * no partition's window ever exceeds one shard's documents.
    */
  def packingShardedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val binTokens = 4096L
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), splitName.as("split"),
        size(words(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("split")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perDoc
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum_before") / binTokens))
      .groupBy(col("lang"), col("split"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("split"), col("bin"))
  }

  val packingShardedStatsSql: String =
    """WITH per_doc AS (
      |  SELECT lang, doc_id,
      |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |         len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_tokens
      |  FROM (SELECT *,
      |          ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      |        FROM documents)
      |), binned AS (
      |  SELECT lang, split, doc_id, n_tokens,
      |         CAST((coalesce(sum(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096) AS BIGINT) AS bin
      |  FROM per_doc
      |)
      |SELECT lang, split, bin, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM binned
      |GROUP BY lang, split, bin
      |ORDER BY lang, split, bin""".stripMargin

  /** Token-BUDGET data selection — the "best data under a budget" stage of
    * training-set construction: per language, documents ranked by a quality
    * score (greedy selection), admitted while the EXCLUSIVE running token
    * total is under budget — so the document that crosses the budget line is
    * still admitted, the standard greedy-prefix rule. The score here is the
    * stopword-density proxy in scaled-INTEGER form (`1000·n_stop div
    * n_words`) so the ranking is engine-exact; production swaps in a model
    * score and keeps the identical selection machinery.
    *
    * The budget LEDGER is denominated in LEARNED subword tokens
    * ([[TextOps.learnedMergeTokenCounts]] — VERDICT r8 item 4: training
    * budgets are spent in tokenizer units, and a whitespace count both
    * overstates short-word text and understates long-word text by 2–4×).
    * The score stays a word-level density — ranking and accounting are
    * separate concerns, as in production where the score is a model output.
    *
    * Scale shape: the subword table is vocab-sized and joins back by word;
    * then one window cumsum per (ranked) language — the same per-shard
    * prefix-sum cost model as [[packingShardedStats]]; selection state is
    * O(1) per row, and the output is per-language aggregates.
    */
  def budgetSelectionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 64000L // merged-token denomination (≈3.2 subwords/word here)
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), words(col("text")).as("ws"))
    val exploded = docs.select(col("doc_id"), explode(col("ws")).as("word"))
    val wtok = TextOps.learnedMergeTokenCounts(exploded.select(col("word")))
    val perDocMerged = exploded.join(wtok, "word")
      .groupBy(col("doc_id")).agg(sum(col("n_sub")).as("n_merged"))
    val perDoc = docs
      .select(col("lang"), col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(filter(col("ws"), w => w.isin("the", "a", "of"))).cast("long").as("n_stop"))
      .join(perDocMerged, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_merged"), lit(0L)))
      .withColumn("score",
        when(col("n_words") > 0, expr("(n_stop * 1000) div n_words")).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perDoc
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("n_tokens")).as("tokens_selected"),
        min(col("score")).as("min_score"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  val budgetSelectionStatsSql: String =
    s"""WITH ${TextOps.learnedMergeCte},
      |per_doc AS (
      |  SELECT t.lang, t.doc_id,
      |         len(t.ws)::BIGINT AS n_words,
      |         len(list_filter(t.ws, w -> w IN ('the', 'a', 'of')))::BIGINT AS n_stop,
      |         coalesce(m.n_merged, 0) AS n_tokens
      |  FROM tok t LEFT JOIN (
      |    SELECT e.doc_id, CAST(sum(w.n_sub) AS BIGINT) AS n_merged
      |    FROM expl e JOIN wtok w ON e.word = w.word
      |    GROUP BY e.doc_id
      |  ) m ON t.doc_id = m.doc_id
      |), scored AS (
      |  SELECT lang, doc_id, n_tokens,
      |         CASE WHEN n_words > 0 THEN (n_stop * 1000) // n_words ELSE 0 END AS score
      |  FROM per_doc
      |), ranked AS (
      |  SELECT lang, doc_id, n_tokens, score,
      |         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM scored
      |)
      |SELECT lang, count(*) AS n_selected,
      |       CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
      |       CAST(min(score) AS BIGINT) AS min_score,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM ranked
      |WHERE cum_before < 64000
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** LM-PERPLEXITY quality filter — the CCNet stage proper (Wenzek '19
    * trains a KenLM on Wikipedia and ranks CommonCrawl by perplexity;
    * [[oovStats]] carries the vocabulary half of that recipe, this operator
    * carries the language-model half): pass 1 trains a per-language bigram
    * LM on the TRAIN split only ([[md5Bucket]] < 80 — scoring data never
    * trains its own filter, the decontamination stance), pass 2 scores
    * EVERY document's bigrams against it and aggregates a per-language
    * perplexity profile plus a high-perplexity flag count.
    *
    * Engine-exactness: real perplexity is Σ −log p — float logs whose last
    * ulp differs across engines. The surprisal here is QUANTIZED TO INTEGER
    * BITS: for a seen bigram, bits = length(bin(c1 div c12)) =
    * ⌊log₂(c1/c12)⌋ + 1 (the identity ⌊log₂(a/b)⌋ = bitlength(a div b) − 1
    * for a ≥ b ≥ 1 — pure integer arithmetic, no transcendental functions),
    * and an unseen bigram pays a fixed 20-bit OOV penalty (order-of-magnitude
    * of a ~1e-6 backoff probability). The high-perplexity flag
    * (mean > 5.5 bits/bigram) compares `2·total_bits > 11·n_bg` — scaled
    * integers, so no float boundary can flip it between engines. Documents
    * with < 2 tokens have no bigrams and are out of scope of an LM filter.
    *
    * 100 TB shape: the LM is a (lang, bigram)-keyed dim built by one
    * hash aggregate over train-split token traffic — broadcast when a
    * language's vocab² stays small, (lang, bigram)-shuffle postings join
    * (the [[TextOps]] decontamination layout) when it doesn't; either way
    * the scoring pass streams each corpus bigram exactly once and shuffles
    * (lang, bigram, doc_id) triples, never text. At real scale the bigram
    * key would hash to 64 bits to shrink the shuffle; kept as the string
    * here so the oracle pins the exact join semantics.
    */
  def perplexityFilterStats(spark: SparkSession, sfDir: String): DataFrame = {
    // spread the tokenize+bigram explode BEFORE it runs (r19, guide §2.5
    // input skew): the documents fixture is one thin parquet file = one
    // scan partition, so BOTH corpus bigram passes (the LM build and the
    // scoring side) ran their explode+hash in a single task — measured 12
    // tasks / cpu ≈ wall·1.6 for the whole query. Spread ONLY when the scan
    // is actually starved (fewer scan partitions than cores): at 100 TB the
    // scan is thousands of splits and an unconditional round-robin here
    // would shuffle the raw text corpus once for nothing.
    val rawDocs = Tables.documents(spark, sfDir)
    val par = spark.sparkContext.defaultParallelism
    val docs =
      if (rawDocs.rdd.getNumPartitions < par) rawDocs.repartition(par)
      else rawDocs
    val bgw = docs
      .select(col("lang"), col("doc_id"), md5Bucket.as("b"),
        explode(bigrams(words(col("text")))).as("bg"))
    val train = bgw.filter(col("b") < 80)
      .select(col("lang"), split(col("bg"), " ").getItem(0).as("w1"), col("bg"))
    // The LM-sized bigram table is PERSISTED and the unigram counts ROLL UP
    // from it (Σ_bg c12 per (lang, w1) ≡ the count of train rows per
    // (lang, w1) — identical values by definition, same oracle): through
    // r14 the c12 / c1 / scored branches each recompiled the full
    // tokenize+bigram-explode subtree — three corpus passes per run, the
    // same AQE branch-recompute mode the dedup pair cache and the bm25
    // postings cache close. Now the corpus is exploded exactly twice: once
    // into this cache, once on the scoring side (which needs per-occurrence
    // rows and cannot share an exchange with the aggregates). At 100 TB
    // this is also the only sane shape: the persisted relation is
    // vocabulary²-bounded (the LM), never the exploded corpus.
    //
    // DELIBERATELY no eager count (measured r14): the cache materializes
    // inside the caller's single action, where the BlockManager's
    // per-block cache locks make the c1 roll-up and the LM join compute
    // the shared subtree exactly once (the dedupClusters iteration-0
    // contract) while the scoring side's independent corpus pass runs
    // CONCURRENTLY — an eager count serialized the two corpus passes and
    // measured 4.1 s wall against 2.4 s for this shape (CPU equal, 4.0).
    val c12 = train.groupBy(col("lang"), col("w1"), col("bg"))
      .agg(count(lit(1)).as("c12"))
      .persist()
    val c1 = c12.groupBy(col("lang"), col("w1")).agg(sum(col("c12")).as("c1"))
    val lm = c12.join(c1, Seq("lang", "w1"))
      .select(col("lang"), col("bg"), col("c1"), col("c12"))
    // FULL OUTER, not left (r11 count()-pruning audit): the LM is trained
    // on the train-split subset of `bgw`, so its (lang, bg) keys are a
    // subset of bgw's and the forms are row-identical — full outer keeps
    // the LM-build subtree in the bench's timed plan where a pruned
    // unique-key left join was eliminated.
    val scored = bgw.join(lm, Seq("lang", "bg"), "full_outer")
      .select(col("lang"), col("doc_id"),
        when(col("c12").isNull, 20L)
          .otherwise(length(bin(expr("c1 div c12"))).cast("long")).as("bits"))
    val perDoc = scored.groupBy(col("lang"), col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("bits")).as("total_bits"))
    val result = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        sum(col("total_bits")).as("total_bits"),
        round(sum(col("total_bits")).cast("double") / sum(col("n_bg")), 6)
          .as("bits_per_bigram"),
        sum(when(lit(2) * col("total_bits") > lit(11) * col("n_bg"), 1L)
          .otherwise(0L)).as("n_high_ppl"))
      .orderBy(col("lang"))
    graft.operators.TextOps.unpersistAfterAction(spark, c12)
    result
  }

  val perplexityFilterStatsSql: String =
    """WITH tok AS (
      |  SELECT lang, doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents
      |), bgl AS (
      |  SELECT lang, doc_id, CASE WHEN len(ws) >= 2
      |                  THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
      |                  ELSE []::VARCHAR[] END AS bgs
      |  FROM tok
      |), bgw AS (
      |  SELECT lang, doc_id, unnest(bgs) AS bg,
      |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      |  FROM bgl
      |), train AS (
      |  SELECT lang, string_split(bg, ' ')[1] AS w1, bg FROM bgw WHERE b < 80
      |), c12 AS (
      |  SELECT lang, w1, bg, count(*) AS c12 FROM train GROUP BY lang, w1, bg
      |), c1 AS (
      |  SELECT lang, w1, count(*) AS c1 FROM train GROUP BY lang, w1
      |), lm AS (
      |  SELECT c12.lang, c12.bg, c1.c1, c12.c12
      |  FROM c12 JOIN c1 ON c12.lang = c1.lang AND c12.w1 = c1.w1
      |), scored AS (
      |  SELECT g.lang, g.doc_id,
      |         CASE WHEN l.c12 IS NULL THEN 20
      |              ELSE length(bin(l.c1 // l.c12)) END AS bits
      |  FROM bgw g LEFT JOIN lm l ON g.lang = l.lang AND g.bg = l.bg
      |), per_doc AS (
      |  SELECT lang, doc_id, count(*) AS n_bg, sum(bits) AS total_bits
      |  FROM scored GROUP BY lang, doc_id
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
      |       CAST(sum(total_bits) AS BIGINT) AS total_bits,
      |       round(CAST(sum(total_bits) AS BIGINT)::DOUBLE / CAST(sum(n_bg) AS BIGINT), 6) AS bits_per_bigram,
      |       CAST(sum(CASE WHEN 2 * total_bits > 11 * n_bg THEN 1 ELSE 0 END) AS BIGINT) AS n_high_ppl
      |FROM per_doc
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Deterministic DATA-MIXTURE sampling: per-language admit rates applied
    * via an id-keyed md5 bucket — the mixture-weighting stage of corpus
    * assembly (Pile/LLaMA-style recipes up/down-weight sources exactly like
    * this; rates here stand in for tuned mixture weights). Hash-based
    * admission makes the sample reproducible from ids alone (no stored
    * sample list), stable under corpus growth (an existing doc's verdict
    * never flips — the [[hashSplitCounts]] property), and embarrassingly
    * parallel: the admit predicate is one codegen'd scan filter, no shuffle
    * before the per-language stats rollup. The bucket salts the id with
    * "mix:" so sampling is INDEPENDENT of the train/val/test split bucket —
    * unsalted reuse would correlate the sample with the split assignment.
    *
    * Output per language: corpus size, admitted size, admitted token mass —
    * the numbers a mixture designer actually monitors.
    */
  def mixtureSampleStats(spark: SparkSession, sfDir: String): DataFrame = {
    val rates: Seq[(String, Int)] =
      Seq("en" -> 90, "es" -> 60, "de" -> 40, "fr" -> 25, "zh" -> 10)
    val rate = rates.tail.foldLeft(
        when(col("lang") === rates.head._1, rates.head._2)) {
      case (acc, (l, r)) => acc.when(col("lang") === l, r)
    }.otherwise(50)
    val bucket = Splits.saltedBucket("mix:", col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        size(words(col("text"))).as("n_tokens"),
        (bucket < rate).cast("int").as("admit"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("admit")).as("n_sampled"),
        sum(col("n_tokens") * col("admit")).as("sampled_tokens"),
        min(when(col("admit") === 1, col("doc_id"))).as("first_sampled"))
      .orderBy(col("lang"))
  }

  val mixtureSampleStatsSql: String =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
      |         CASE WHEN ('0x' || substring(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 <
      |                   (CASE lang WHEN 'en' THEN 90 WHEN 'es' THEN 60 WHEN 'de' THEN 40
      |                              WHEN 'fr' THEN 25 WHEN 'zh' THEN 10 ELSE 50 END)
      |              THEN 1 ELSE 0 END AS admit
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(admit) AS BIGINT) AS n_sampled,
      |       CAST(sum(n_tokens * admit) AS BIGINT) AS sampled_tokens,
      |       min(CASE WHEN admit = 1 THEN doc_id END) AS first_sampled
      |FROM d
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** FIXED-SIZE stratified sampling — the other half of the sampling story
    * [[mixtureSampleStats]] started: that operator admits at a RATE (sample
    * size drifts with corpus size); this one draws EXACTLY k = 20 documents
    * per language — the "give me 20 docs per stratum for eval/human review"
    * ask. Selection = the k smallest salted md5 hashes, which is a uniform
    * draw that is reproducible from ids alone and CONSISTENT under corpus
    * growth in the bottom-k sketch sense: a new document enters the sample
    * only by displacing the current largest hash, so consecutive pipeline
    * runs agree on all but the displaced picks (the property people reach
    * for reservoir sampling to get, without its sequential state).
    *
    * Scale shape: the oracle's `row_number() <= k` window, which Spark
    * plans as a Partial WindowGroupLimit below the shuffle — each partition
    * keeps ≤ k rows per language before the exchange, so at 100 TB the
    * shuffle moves k·strata rows per partition, not the corpus. Ties (rare
    * 32-bit hash collisions) break on doc_id in both engines.
    */
  def stratifiedSampleTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 20
    val h = conv(
      substring(md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), h.as("h"))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= k)
      .select(col("lang"), col("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  val stratifiedSampleTopkSql: String =
    """SELECT lang, pick, doc_id FROM (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang ORDER BY
      |           ('0x' || substring(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT,
      |           doc_id) AS pick
      |  FROM documents)
      |WHERE pick <= 20
      |ORDER BY lang, pick""".stripMargin

  /** Temperature-based SOURCE mixture reweighting — the corpus-curation step
    * that decides how much of each SOURCE (crawl, code, books, …) the
    * training mix draws: exponentiated smoothing p_s ∝ mass_s^α with
    * α = 0.5 (the mT5/XLM-R recipe; α < 1 up-samples low-resource sources
    * relative to their raw token mass). Complements [[mixtureSampleStats]]
    * (which APPLIES fixed per-stratum rates doc-by-doc): this operator
    * DERIVES the rates from the observed mass profile.
    *
    * Engine-exact without transcendentals: mass^0.5 = floor(sqrt(mass))
    * where sqrt is the IEEE-754 correctly-rounded op — identical in every
    * engine — and mass < 2^52 keeps the Double image exact, so the weight
    * is deterministic integer data; the mix rate is then integral division
    * in parts-per-million. 100 TB: one documents scan with map-side partial
    * aggregation down to |sources| rows; everything after the first agg is
    * dim-sized (the totals row is a broadcast).
    */
  def sourceMixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"), size(words(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_total"))
      .withColumn("weight", floor(sqrt(col("tokens_total").cast("double"))).cast("long"))
    // Degenerate-corpus guard (ADVICE r10): with tw = 0 (empty documents
    // table or all-empty texts) Spark's `div` yields NULL while DuckDB's
    // `//` errors — the engine and oracle would diverge instead of failing
    // loud. One-row CASE: the α-smoothed mixture is undefined at zero mass,
    // so fail loudly, matching the repo's gate convention.
    val total = perSource.agg(sum(col("weight")).as("tw"))
      .select(when(col("tw") > 0, col("tw"))
        .otherwise(raise_error(lit("sourceMixtureWeights: summed mixture " +
          "weight is 0 (empty or all-empty corpus) — mix_rate_ppm is " +
          "undefined; failing loud instead of diverging from the oracle"))
          .cast("long"))
        .as("tw"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("tokens_total"), col("weight"),
        expr("(weight * CAST(1000000 AS BIGINT)) div tw").as("mix_rate_ppm"))
      .orderBy(col("source"))
  }

  val sourceMixtureWeightsSql: String =
    """WITH d AS (
      |  SELECT source,
      |         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), s AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      |  FROM d GROUP BY source
      |), w AS (
      |  SELECT *, CAST(floor(sqrt(tokens_total::DOUBLE)) AS BIGINT) AS weight FROM s
      |), t AS (
      |  SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w
      |)
      |SELECT source, n_docs, tokens_total, weight,
      |       CAST((weight * 1000000) // tw AS BIGINT) AS mix_rate_ppm
      |FROM w CROSS JOIN t
      |ORDER BY source""".stripMargin

  /** MODEL-BASED quality filtering — the learned-classifier stage of the
    * curation recipe (GPT-3 appx. A / CCNet / LLaMA all train a linear
    * classifier on a "looks like the reference corpus" label and keep
    * high-scoring documents; the rule gate [[qualityFilterCounts]] is the
    * heuristic this stage generalizes). Here the classifier is a
    * per-language multinomial naive Bayes:
    *
    *   - LABELS: the shared [[c4Flags]] conjunction on TRAIN-split docs
    *     (bucket < [[Splits.TrainMax]]) — the gate bootstraps the model,
    *     exactly how production pipelines seed classifier labels from a
    *     heuristic pass.
    *   - WEIGHTS, integer-exact: the Laplace-smoothed log-likelihood ratio
    *     log₂ P(w|pos) − log₂ P(w|neg) in its DECOMPOSED bit-length form
    *       w = bitlen(cpos+1) + bitlen(tneg+V) − bitlen(cneg+1) − bitlen(tpos+V)
    *     with bitlen(x) = length(bin(x)) = ⌊log₂ x⌋ + 1. Each bitlen is
    *     within 1 bit of the true log₂, no product of counts is ever
    *     formed — so the weights stay exact int64 arithmetic at ANY corpus
    *     size (a (cpos+1)·(tneg+V) product form would overflow int64 once
    *     per-language token counts pass ~3·10⁹ · vocab), and the whole
    *     model hash-matches an exact DuckDB oracle — no transcendentals,
    *     the [[perplexityFilterStats]] stance.
    *   - PRIOR: bitlen(npos+1) − bitlen(nneg+1) over train doc counts.
    *   - SCORE: prior + Σ over token OCCURRENCES of weight (unseen terms
    *     contribute 0); keep = score > 0. Zero-token docs score the bare
    *     prior.
    *
    * Output per language: corpus size, train label counts, vocab size,
    * kept docs + kept token mass, and HELD-OUT agreement with the rule
    * gate on the test split — the precision proxy a curation team
    * actually monitors before trusting a classifier over the heuristic.
    *
    * 100 TB shape: training is two token-traffic hash aggregates to a
    * (lang, term)-keyed dim (Zipf-bounded — broadcast when small, postings
    * shuffle like the decontamination join when not); scoring streams each
    * corpus token exactly once through that join and shuffles (lang, term,
    * doc_id) triples, never text. No windows, no quadratic term anywhere.
    */
  def qualityClassifierStats(spark: SparkSession, sfDir: String): DataFrame = {
    def bitlen(x: Column): Column = length(bin(x)).cast("long")
    val base = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), words(col("text")).as("ws"),
        Splits.bucket.as("b"))
      .select(col("lang"), col("doc_id"), col("ws"), col("b"),
        size(col("ws")).cast("long").as("n_tokens"), c4Flags(col("ws")).as("f"))
      .withColumn("label_pos",
        col("f.ok_len") && col("f.ok_wordlen") && col("f.ok_stopword") &&
          col("f.ok_repeat"))
    val trainDocs = base.filter(col("b") < Splits.TrainMax)
    val termCounts = trainDocs
      .select(col("lang"), col("label_pos"), explode(col("ws")).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(sum(when(col("label_pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(!col("label_pos"), 1L).otherwise(0L)).as("cneg"))
    val langTotals = termCounts.groupBy(col("lang"))
      .agg(sum(col("cpos")).as("tpos"), sum(col("cneg")).as("tneg"),
        count(lit(1)).as("v"))
    val weights = termCounts.join(langTotals, "lang")
      .select(col("lang"), col("term"),
        (bitlen(col("cpos") + 1) + bitlen(col("tneg") + col("v"))
          - bitlen(col("cneg") + 1) - bitlen(col("tpos") + col("v"))).as("w"))
    val priors = trainDocs.groupBy(col("lang"))
      .agg((bitlen(sum(when(col("label_pos"), 1L).otherwise(0L)) + 1)
        - bitlen(sum(when(!col("label_pos"), 1L).otherwise(0L)) + 1)).as("prior"))
    // INNER join on the weights dim — result-identical to a left join
    // (an unmatched out-of-vocabulary token would contribute weight 0 to
    // the sum; a doc with ONLY such tokens drops out of docScore entirely
    // and the downstream coalesce scores it 0, same as a row of zeros) and
    // strictly better: OOV token rows die at the broadcastable join
    // instead of riding through the aggregate, and Catalyst cannot
    // eliminate an inner join under the bench's count() action the way it
    // eliminates a pruned unique-key left join.
    val docScore = base
      .select(col("lang"), col("doc_id"), explode(col("ws")).as("term"))
      .join(weights, Seq("lang", "term"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("w")).as("wsum"))
    // The docScore and vocab joins are FULL OUTER on purpose (the span
    // queries' count()-pruning stance): both are row-identical to left
    // joins by key containment — every docScore key is a base doc, every
    // langTotals lang appears in the rollup — but a left join whose right
    // side is an Aggregate with the join keys as grouping keys is
    // ELIMINATED by Catalyst under the bench's count() action, which would
    // silently skip the scoring and training passes in the timed window.
    // Full outer pins the cardinality proof on Catalyst, not on us. The
    // weights join stays a plain (broadcastable) left join — distorting
    // the scale plan for bench honesty would be backwards; count() may
    // prune only the per-term weight arithmetic there.
    val scored = base
      .select(col("lang"), col("doc_id"), col("b"), col("n_tokens"), col("label_pos"))
      .join(docScore, Seq("lang", "doc_id"), "full_outer")
      .join(priors, Seq("lang"), "left")
      .withColumn("score",
        coalesce(col("wsum"), lit(0L)) + coalesce(col("prior"), lit(0L)))
      .withColumn("keep", col("score") > 0)
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("b") < Splits.TrainMax && col("label_pos"), 1L)
          .otherwise(0L)).as("n_train_pos"),
        sum(when(col("b") < Splits.TrainMax && !col("label_pos"), 1L)
          .otherwise(0L)).as("n_train_neg"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        sum(when(col("b") >= Splits.ValMax, 1L).otherwise(0L)).as("n_test"),
        sum(when(col("b") >= Splits.ValMax && col("keep") === col("label_pos"), 1L)
          .otherwise(0L)).as("n_test_agree"))
      .join(langTotals.select(col("lang"), col("v")), Seq("lang"), "full_outer")
      .withColumn("vocab", coalesce(col("v"), lit(0L)))
      .drop("v")
      .orderBy(col("lang"))
  }

  val qualityClassifierStatsSql: String =
    """WITH tok AS (
      |  SELECT lang, doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws,
      |         ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      |  FROM documents
      |), feat AS (
      |  SELECT lang, doc_id, ws, b,
      |         CAST(len(ws) AS BIGINT) AS n_tokens,
      |         coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS n_chars,
      |         len(list_filter(ws, w -> w IN ('the', 'a', 'of'))) AS n_stop,
      |         CASE WHEN len(ws) >= 2
      |              THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
      |              ELSE []::VARCHAR[] END AS bg
      |  FROM tok
      |), lab AS (
      |  SELECT lang, doc_id, ws, b, n_tokens,
      |         ((n_tokens >= 10 AND n_tokens <= 1000)
      |          AND (2 * n_tokens <= n_chars AND n_chars <= 12 * n_tokens)
      |          AND (n_stop > 0)
      |          AND (5 * (len(bg) - len(list_distinct(bg))) <= len(bg))) AS label_pos
      |  FROM feat
      |), tc AS (
      |  SELECT lang, term,
      |         CAST(sum(CASE WHEN label_pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
      |         CAST(sum(CASE WHEN NOT label_pos THEN 1 ELSE 0 END) AS BIGINT) AS cneg
      |  FROM (SELECT lang, label_pos, unnest(ws) AS term FROM lab WHERE b < 80)
      |  GROUP BY lang, term
      |), tot AS (
      |  SELECT lang, CAST(sum(cpos) AS BIGINT) AS tpos,
      |         CAST(sum(cneg) AS BIGINT) AS tneg,
      |         CAST(count(*) AS BIGINT) AS v
      |  FROM tc GROUP BY lang
      |), wts AS (
      |  SELECT tc.lang, tc.term,
      |         (length(bin(cpos + 1)) + length(bin(tneg + v))
      |          - length(bin(cneg + 1)) - length(bin(tpos + v))) AS w
      |  FROM tc JOIN tot ON tc.lang = tot.lang
      |), pri AS (
      |  SELECT lang,
      |         (length(bin(CAST(sum(CASE WHEN label_pos THEN 1 ELSE 0 END) AS BIGINT) + 1))
      |          - length(bin(CAST(sum(CASE WHEN NOT label_pos THEN 1 ELSE 0 END) AS BIGINT) + 1))) AS prior
      |  FROM lab WHERE b < 80 GROUP BY lang
      |), ds AS (
      |  SELECT d.lang, d.doc_id, sum(coalesce(w.w, 0)) AS wsum
      |  FROM (SELECT lang, doc_id, unnest(ws) AS term FROM lab) d
      |  LEFT JOIN wts w ON d.lang = w.lang AND d.term = w.term
      |  GROUP BY d.lang, d.doc_id
      |), scored AS (
      |  SELECT l.lang, l.doc_id, l.b, l.n_tokens, l.label_pos,
      |         (coalesce(ds.wsum, 0) + coalesce(p.prior, 0)) AS score
      |  FROM lab l
      |  LEFT JOIN ds ON l.lang = ds.lang AND l.doc_id = ds.doc_id
      |  LEFT JOIN pri p ON l.lang = p.lang
      |), agg AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(sum(CASE WHEN b < 80 AND label_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_train_pos,
      |         CAST(sum(CASE WHEN b < 80 AND NOT label_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_train_neg,
      |         CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |         CAST(sum(CASE WHEN score > 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      |         CAST(sum(CASE WHEN b >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      |         CAST(sum(CASE WHEN b >= 90 AND ((score > 0) = label_pos) THEN 1 ELSE 0 END) AS BIGINT) AS n_test_agree
      |  FROM scored GROUP BY lang
      |)
      |SELECT a.lang, a.n_docs, a.n_train_pos, a.n_train_neg, a.n_kept,
      |       a.kept_tokens, a.n_test, a.n_test_agree,
      |       coalesce(t.v, 0) AS vocab
      |FROM agg a LEFT JOIN tot t ON a.lang = t.lang
      |ORDER BY a.lang""".stripMargin

  /** DETERMINISTIC TRAINING SHUFFLE + shard manifests — the last step
    * before a corpus ships to the trainer: break source/temporal locality
    * with a reproducible order, split into shards, publish a per-shard
    * manifest. Content-free recipe (the [[Splits]] stance): shard =
    * salted id bucket mod [[ShuffleShards]] (the SHUFFLE — adjacent ids
    * scatter across shards, and a grown corpus never moves an existing
    * doc), within-shard order = md5("shuf:" ++ id) with id tie-break (the
    * same reproducible-from-the-id-alone argument as the split buckets; a
    * re-run, a different cluster, or a different engine derives the
    * identical order — which the exact DuckDB oracle proves). Manifest per
    * shard: doc count, token mass, and the first/last docs in shard order
    * as the determinism witness.
    *
    * 100 TB shape: one scan; the window is PARTITIONED by shard (the
    * [[packingShardedStats]] layout — never a global sort), so each shard
    * orders independently and the manifest aggregate is map-side partial.
    * Production writes the shards with `partitionBy(shard)` sorted within
    * partitions by the same key; this query is the manifest/verification
    * half.
    */
  private[graft] val ShuffleShards = 8
  def trainingShuffleStats(spark: SparkSession, sfDir: String): DataFrame = {
    val key = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val shard = pmod(Splits.saltedBucket("shuf:", col("doc_id")),
      lit(ShuffleShards.toLong))
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        shard.as("shard"), key.as("k"))
    perDoc.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min_by(col("doc_id"), struct(col("k"), col("doc_id"))).as("first_doc"),
        max_by(col("doc_id"), struct(col("k"), col("doc_id"))).as("last_doc"))
      .orderBy(col("shard"))
  }

  /** Exact replay: same salted bucket, same md5 order key, argmin/argmax
    * via window rank (DuckDB's arg_min tie rule differs; rank is explicit).
    */
  val trainingShuffleStatsSql: String =
    s"""WITH per_doc AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_tokens,
       |         ('0x' || substring(md5('shuf:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 % $ShuffleShards AS shard,
       |         md5('shuf:' || doc_id::VARCHAR) AS k
       |  FROM documents
       |), ranked AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS rf,
       |         row_number() OVER (PARTITION BY shard ORDER BY k DESC, doc_id DESC) AS rl
       |  FROM per_doc
       |)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |       min(CASE WHEN rf = 1 THEN doc_id END) AS first_doc,
       |       min(CASE WHEN rl = 1 THEN doc_id END) AS last_doc
       |FROM ranked
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "training_shuffle_stats" -> (trainingShuffleStats(_, _)),
    "quality_classifier_stats" -> (qualityClassifierStats(_, _)),
    "source_mixture_weights" -> (sourceMixtureWeights(_, _)),
    "mixture_sample_stats" -> (mixtureSampleStats(_, _)),
    "repetition_stats" -> (repetitionStats(_, _)),
    "quality_filter_counts" -> (qualityFilterCounts(_, _)),
    "hash_split_counts" -> (hashSplitCounts(_, _)),
    "redaction_stats" -> (redactionStats(_, _)),
    "oov_stats" -> (oovStats(_, _)),
    "packing_bin_stats" -> (packingBinStats(_, _)),
    "packing_sharded_stats" -> (packingShardedStats(_, _)),
    "budget_selection_stats" -> (budgetSelectionStats(_, _)),
    "perplexity_filter_stats" -> (perplexityFilterStats(_, _)),
    "stratified_sample_topk" -> (stratifiedSampleTopk(_, _))
  )

  /** Bench solo-fork set (see TextOps.heavyQueries). perplexity_filter_stats
    * joined in r17 with a "default"-conf child: the r16 mid-weight "light"
    * tier (AQE off, 8-wide) SERIALIZES its 2-pass LM build — quiet-solo A/B
    * at sf0.1: default 2.90 s wall / 4.34 cpu / 10 jobs vs light 4.53 /
    * 4.41 / 2 jobs vs light16 4.80 / 5.89 — same work, the static width
    * starves the scoring joins of parallelism that AQE's runtime coalescing
    * gets right. The VERDICT r16 item-3 receipt: the driver's 6.38 s row
    * was this real ~1.6 s tier regression plus window noise.
    */
  val heavyQueries: Set[String] = Set("perplexity_filter_stats")

  def oracleSql: Map[String, String] = Map(
    "training_shuffle_stats" -> trainingShuffleStatsSql,
    "quality_classifier_stats" -> qualityClassifierStatsSql,
    "source_mixture_weights" -> sourceMixtureWeightsSql,
    "mixture_sample_stats" -> mixtureSampleStatsSql,
    "repetition_stats" -> repetitionStatsSql,
    "quality_filter_counts" -> qualityFilterCountsSql,
    "hash_split_counts" -> hashSplitCountsSql,
    "redaction_stats" -> redactionStatsSql,
    "oov_stats" -> oovStatsSql,
    "packing_bin_stats" -> packingBinStatsSql,
    "packing_sharded_stats" -> packingShardedStatsSql,
    "budget_selection_stats" -> budgetSelectionStatsSql,
    "perplexity_filter_stats" -> perplexityFilterStatsSql,
    "stratified_sample_topk" -> stratifiedSampleTopkSql
  )
}
