package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{GraftExtensions, TopKByScore}

/** Similarity search over `embeddings.embedding` (array<float>, dim 64) —
  * BASELINE north star.
  *
  * All vector math is higher-order Catalyst expressions (`zip_with` +
  * `aggregate`) — codegen-visible, no UDFs (SURVEY §2.2 UDF row).
  *
  * 100 TB design: brute-force top-k broadcasts the (small) query set and
  * scans candidates once — linear, shuffle-free except the final per-query
  * top-k. The LSH variant buckets vectors by random-hyperplane signatures so
  * each query probes only its bucket — the standard sub-linear ANN layout
  * (probe multiple buckets / repeat tables to trade recall for cost).
  */
object VectorOps {

  /** Codegen'd cosine via the native Catalyst expression `CosineSim` —
    * a fused primitive loop inside whole-stage codegen. The interpreted HOF
    * form (`aggregate(zip_with(...))`, ~100 µs/pair) lives on only as the
    * reference implementation in CustomFunctionSpec, which proves the two
    * agree bit-for-bit (identical left-to-right summation order) — so
    * swapping it in here cannot move an oracle hash (VERDICT r2 item 2).
    */
  private def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    GraftExtensions.register(spark)
    call_function("cosine_sim", a, b)
  }

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Brute-force exact cosine top-k: queries = vec_id < 10, k = 5.
    * Output is rank-compared on ids only (no float scores in the hash) —
    * FIXTURES §B.3.4.
    */
  def annCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cand = emb.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    // Broadcast the QUERY side (10 rows), stream the candidate corpus once —
    // the only orientation that survives a 100× corpus (the reverse would
    // broadcast the full embeddings table). Pinned by PlanShapeSpec.
    val sims = cand.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(spark, col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annCosineTopkSql: String =
    """SELECT query_id, rank, neighbor_id FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
      |                    c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Random-hyperplane (sign) LSH ANN — the sub-linear scale path (Charikar
    * '02 SimHash for vectors). L=16 hash tables × b=4 sign bits each;
    * hyperplanes are pseudo-random ±1 vectors derived via
    * xxhash64(table, plane, dim) — deterministic, no stored model. Candidates
    * = union over tables of same-bucket vectors, then exact cosine top-k on
    * the candidate set only. For a neighbor at cos θ, per-bit collision
    * p = 1 − θ/π, table hit p^b, overall 1 − (1 − p^b)^L (≈0.7 at cos 0.35,
    * →1 as clusters tighten).
    *
    * MULTI-PROBE (VERDICT r8 item 5; Lv et al. '07, restricted to the
    * Hamming-1 ring): each query probes its own bucket plus the b
    * single-bit-flip buckets in every table, lifting the per-table hit rate
    * from p^b to p^b + b·p^(b−1)(1−p) — measured recall 0.84 → ≥ 0.95 on
    * both test SFs (AnnRecallSpec pins ≥ 0.9). The expansion is strictly
    * QUERY-side (rows × (1+b) on the tiny query set); the indexed corpus
    * still shuffles exactly L rows per vector, so the 100 TB cost model is
    * unchanged. r11: the corpus bucket table is a materialized
    * [[graft.pipeline.AnnZone]] artifact — postings (t, b, id) only, built
    * once per corpus version; queries pay signature+probe+rerank, never the
    * corpus bucketing pass. Approximate → no DuckDB oracle (driver runs the
    * rows>0 check); recall vs the exact variant is asserted in ScalaTest.
    */
  def annLshTopk(spark: SparkSession, sfDir: String): DataFrame = {
    // r11: the corpus-side bucket table is a MATERIALIZED zone artifact
    // (AnnZone.ensureLshBuckets, keyed on embeddings.parquet) — postings
    // only, (t, b, neighbor_id): the vectors are NOT copied into the index
    // L=16 times; the rerank re-fetches them by id, the production
    // retrieval layout (index ≪ corpus, vector store fetched per candidate).
    val index = graft.pipeline.AnnZone.ensureLshBuckets(spark, sfDir)
      .select(col("neighbor_id"), col("t").as("ct"), col("b").as("cb"))
    val emb = embFrame(spark, sfDir)
    lshProbeTopK(spark, emb.filter(col("vec_id") < 10), index, emb,
      k = 5, excludeSelf = true, probeBudget = None)
  }

  /** Per-query bounded-heap top-k over scored (query_id, neighbor_id, cos)
    * rows, exploded to (query_id, rank, neighbor_id, cos) — the ONE
    * rank-materialization block shared by every ANN surface (lsh, ivf,
    * incremental), so tie-break (score desc, id asc) and rank semantics
    * cannot drift between them. The typed TopKByScore Aggregator is a
    * bounded min-heap with map-side PARTIAL aggregation: each partition
    * reduces to ≤ k rows per query before the shuffle, where a
    * row_number() window would shuffle and sort EVERY candidate row.
    */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKByScore(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    sims.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cos")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("nb._1").as("neighbor_id"), col("nb._2").as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The ONE sign-LSH probe kernel, shared by the declared `ann_lsh_topk`
    * (fixed query set, self-matches excluded) and the ingest-time
    * `incremental_ann_topk` (arriving-batch queries, disjoint corpus
    * index, probe-volume budget) — one kernel so the probe ring, rerank
    * rounding, and tie-break cannot diverge between the two paths; the
    * ingest query's recall-transfer argument ("arbitrary arriving vectors
    * see the declared-query recall") depends on that.
    *
    * Query-side signatures are one fused-loop sign_lsh_buckets pass
    * (posexplode position = table id). The probe set per (query, table) is
    * the own bucket + ALL Hamming-1 flips, masks derived from the
    * signature width so the ring stays complete if SignLshBuckets.Bits
    * ever changes (ADVICE r9). Candidate rerank fetches vectors by id — a
    * plain equi-join against the vector store, shuffle-planned with
    * broadcast off and left to AQE otherwise.
    */
  private def overBudgetError(probeRows: Long, budget: Long,
      bits: Int): IllegalStateException = {
    val radius = probeRadiusFor(bits)
    new IllegalStateException(
      s"lshProbeTopK: probe volume $probeRows rows exceeds the " +
        s"$budget budget even at the corpus-adaptive signature width " +
        s"($bits bits/table, Hamming-$radius probes) — " +
        "adaptiveSignatureBits already scales width with log2(corpus) " +
        s"up to ${graft.functions.SignLshBuckets.MaxBits} bits, and " +
        "the declared ingest query auto-shards past its budget " +
        "(incrementalAnnTopkImpl); tripping HERE means a single " +
        "id-shard blew its 2x headroom (pathological key skew) or a " +
        "caller passed a kernel-level budget directly.")
  }

  private def lshProbeTopK(spark: SparkSession, queryVecs: DataFrame,
      index: DataFrame, vecs: DataFrame, k: Int, excludeSelf: Boolean,
      probeBudget: Option[Long],
      bits: Int = graft.functions.SignLshBuckets.Bits,
      indexHist: Option[DataFrame] = None,
      ringSink: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame =
    lshProbeCandidatesOrVolume(spark, queryVecs, index, excludeSelf,
      probeBudget, bits, indexHist, ringSink) match {
      case Right(cand) => rerankCandidates(spark, cand, queryVecs, vecs, k)
      case Left((probeRows, budget)) =>
        throw overBudgetError(probeRows, budget, bits)
    }

  /** The candidate half of the kernel with the budget gate surfaced as a
    * VALUE: Right(deduped (query_id, neighbor_id) candidates) under
    * budget, Left(measured volume, budget) over it — so the
    * auto-dispatching caller ([[incrementalAnnTopkImpl]]) can shard without
    * a second volume measurement AND without exception-driven control flow,
    * while the gate keeps its r13 cost shape (the histogram action runs on
    * the PERSISTED ring frame the under-budget probe join then reuses —
    * a standalone pre-measurement was tried first and cost one extra
    * signature pass + histogram job per invocation, ~10% of the x10 row).
    * Callers compose [[rerankCandidates]] on the result (once per tick in
    * the sharded path — the r17 split's whole point).
    */
  private def lshProbeCandidatesOrVolume(spark: SparkSession, queryVecs: DataFrame,
      index: DataFrame, excludeSelf: Boolean,
      probeBudget: Option[Long],
      bits: Int = graft.functions.SignLshBuckets.Bits,
      // r17 tick-shared frames (VERDICT r16 item 5), both sharded-mode only:
      // `indexHist` is the PRE-AGGREGATED (ct, cb, ni) bucket histogram so
      // per-shard gates join a tiny cached frame instead of re-aggregating
      // the full posting table per sub-batch; `ringSink` transfers ring-
      // frame unpersist ownership to the caller — the kernel's own
      // unpersist-after-next-action hook is correct solo but WRONG inside
      // a shard loop, where the next action is the NEXT SHARD'S GATE and
      // the hook evicted every ring frame before the final union consumed
      // it (each shard's signature pass then re-ran inside the union).
      indexHist: Option[DataFrame] = None,
      ringSink: Option[scala.collection.mutable.Buffer[DataFrame]] = None): Either[(Long, Long), DataFrame] = {
    GraftExtensions.register(spark)
    val qBucketed = queryVecs.select(col("vec_id"), col("v"),
      posexplode(call_function("sign_lsh_buckets", col("v"), lit(bits)))
        .as(Seq("t", "b")))
    // Multi-probe ring: every bucket within Hamming distance `radius` of
    // the own signature. Radius 1 at the default width; radius 2 once the
    // signature widens past it — the multi-probe LSH trade (probe count
    // grows ~bits²/2 while occupancy shrinks 2^Δbits, a net win that also
    // recovers the per-table hit rate the extra bits cost).
    val radius = probeRadiusFor(bits)
    val flips1 = (0 until bits).map(p => col("b").bitwiseXOR(lit(1L << p)))
    val flips2 =
      if (radius < 2) Seq.empty
      else for (i <- 0 until bits; j <- (i + 1) until bits)
        yield col("b").bitwiseXOR(lit((1L << i) | (1L << j)))
    // THIN probe rows — ids only, never the 64-double query vector: the
    // probe join's output is O(probe volume) rows and the dedup shuffles
    // all of them, so a carried vector multiplies the dominant shuffle by
    // ~50× in bytes (r12 rehearsal: the fat-row form measured ~7 µs/probe
    // row against ~2 µs thin). Vectors are fetched BY ID after the dedup,
    // one row per surviving (query, neighbor) pair.
    val queries0 = qBucketed
      .select(col("vec_id").as("query_id"), col("t"),
        explode(array(col("b") +: (flips1 ++ flips2): _*)).as("qb"))
    val queries = probeBudget match {
      case None => queries0
      case Some(budget) =>
        // Fail-loud scale gate: exact probe-row count from the two tiny
        // bucket histograms (≤ L·2^bits rows per side), paid BEFORE the
        // probe join. The queries frame is persisted so the histogram
        // action materializes the signature pass once and the probe join
        // reuses it (r11 review: the gate previously re-ran the pass).
        // try/finally-shaped: any failure of the histogram action itself
        // must not leak the cache into the session (ADVICE r11).
        //
        // REPARTITION before the persist (r15, found at the x30 rehearsal):
        // the ring frame otherwise inherits the arriving batch's scan
        // partitioning — a single-file batch is 1-2 partitions — and the
        // broadcast probe join PRESERVES it, so the downstream dedup's
        // map-side partial aggregation builds its hash map over the ENTIRE
        // O(probe volume) join output inside 1-2 tasks: at x30 that is a
        // ~170M-row map in one task, a >2 GB page request, and
        // UNABLE_TO_ACQUIRE_MEMORY regardless of heap (observed at 8g AND
        // 32g). Spreading the persisted frame to cluster width bounds every
        // task's partial-agg state at volume/parallelism rows; the extra
        // exchange moves only the THIN pre-join rows (ids, ~2-4% of the
        // join output the dedup must digest anyway).
        val q = queries0
          .repartition(spark.sparkContext.defaultParallelism)
          .persist()
        val probeRows =
          try {
            q.groupBy(col("t"), col("qb"))
              .agg(count(lit(1)).as("nq"))
              .join(indexHist.getOrElse(
                  index.groupBy(col("ct"), col("cb")).agg(count(lit(1)).as("ni"))),
                col("t") === col("ct") && col("qb") === col("cb"))
              .agg(coalesce(sum(col("nq") * col("ni")), lit(0L)))
              .first().getLong(0)
          } catch {
            case t: Throwable => q.unpersist(); throw t
          }
        if (probeRows > budget) {
          q.unpersist()
          return Left((probeRows, budget))
        }
        ringSink match {
          case Some(sink) => sink += q // the shard loop owns the unpersist
          case None => TextOps.unpersistAfterAction(spark, q)
        }
        q
    }
    val bucketMatch = col("t") === col("ct") && col("qb") === col("cb")
    val joinCond =
      if (excludeSelf) bucketMatch && col("query_id") =!= col("neighbor_id")
      else bucketMatch
    val candidates = queries.join(index, joinCond)
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id") // union across tables+probes
    Right(candidates)
  }

  /** Exact rerank of deduped (query_id, neighbor_id) candidates: fetch
    * both vectors by id, integer-rounded cosine, bounded-heap top-k.
    * Split from the candidate stage (r17) so [[shardedProbe]] can union
    * its shards' THIN candidates and rerank ONCE per tick — the rerank's
    * corpus-vector fetch is a full corpus-side join build, and paying it
    * per sub-batch was most of the x100 ladder's 13× index-side
    * re-pricing. The unsharded path composes the two stages back into the
    * exact pre-split dataflow (same plan, same jobs).
    *
    * Rerank joins ORDERED so any shuffle-sort runs while the candidate
    * rows are THIN (r15, found at the x30 rehearsal): the former
    * qv-first order attached the 512-byte query vector to every pair and
    * THEN joined the corpus vectors — the moment the corpus projection
    * outgrows the broadcast threshold (x30: 60k vectors ≈ 31 MB) that
    * second join plans as sort-merge and SORTS the fat stream:
    * O(probe pairs) × ~530 B of sort spill, tens of GB on disk for a
    * query whose answer is k rows. Corpus-vector fetch first keeps the
    * sorted stream at 16 B/row; the query-vector attach then
    * auto-broadcasts (the batch projection is small at every tick —
    * a tick beyond broadcast would swap in a shuffle_hash hint, one
    * exchange and still no fat sort).
    */
  private def rerankCandidates(spark: SparkSession, candidates: DataFrame,
      queryVecs: DataFrame, vecs: DataFrame, k: Int,
      broadcastAttach: Boolean = false): DataFrame = {
    // `broadcastAttach` (r17, sharded tick only): the union-then-rerank
    // makes the attach side the WHOLE batch — at x100, 20k vectors ≈
    // 10.6 MB, just past the 10 MB auto-broadcast line, so the attach
    // silently degraded to sort-merge and SORTED the fat pair+cv stream
    // (57 GB of spill, then a task OOM — the exact r15 fat-sort failure).
    // A batch projection is broadcastable at any realistic tick size
    // (64 B/vector × even a million-vector tick = 64 MB), so the sharded
    // path forces the broadcast rather than trusting the size estimate.
    // The corpus fetch join stays AUTO: its sort-merge sorts the THIN
    // 16 B/row candidate stream — the r15-proven shape — where a
    // shuffle-hash hint was measured worse (it re-EXCHANGES the candidate
    // stream once per hinted join: +2 full shuffles of ~500M rows at
    // x100, which is what actually filled the disk on the first r17
    // attempt, not the hash itself). Unsharded paths keep auto plans
    // everywhere — their per-tick batch projections auto-broadcast and
    // the sf0.1 board plans stay bit-stable.
    val attach = {
      val q = queryVecs.select(col("vec_id").as("query_id"), col("v").as("qv"))
      if (broadcastAttach) broadcast(q) else q
    }
    val sims = candidates
      .join(vecs.select(col("vec_id"), col("v").as("cv")),
        col("neighbor_id") === col("vec_id"))
      .drop("vec_id")
      .join(attach, Seq("query_id"))
      .withColumn("cos", round(cosine(spark, col("qv"), col("cv")), 6))
    rankTopK(sims, k)
  }

  /** Sign-LSH index BUILD: the corpus-side (t, b, neighbor_id) posting
    * table — one fused-loop `sign_lsh_buckets` pass per vector, L rows per
    * vector (O(n·L), never O(n²)), postings only so the index carries ids,
    * not L copies of the vectors. Materialized by
    * [[graft.pipeline.AnnZone.ensureLshBuckets]].
    */
  private[graft] def lshBuckets(spark: SparkSession, emb: DataFrame,
      bits: Int = graft.functions.SignLshBuckets.Bits): DataFrame = {
    GraftExtensions.register(spark)
    emb.select(col("vec_id").as("neighbor_id"),
      posexplode(call_function("sign_lsh_buckets", col("v"), lit(bits)))
        .as(Seq("t", "b")))
  }

  /** Corpus-adaptive signature width (VERDICT r11 item 1 — the former
    * gate-message prose, now code): per-table bucket occupancy is
    * corpus/2^bits, so holding occupancy at a TARGET constant means
    * bits = log₂(corpus/target) — code length scales with log n, the
    * standard LSH sizing. Probe volume for the ingest path is then
    * O(batch · L · ring(bits) · target) ≈ O(n · log²n) instead of the
    * fixed-width O(n²). Floor = the default width (test SFs keep their
    * r11 artifacts bit-for-bit); ceiling = [[graft.functions.SignLshBuckets.MaxBits]],
    * past which the remaining mitigation is batch sharding (the gate says
    * so). Target occupancy 32 keeps sf0.001/sf0.01 at the floor and puts
    * the 10× rehearsal store (~18k corpus vectors) at 10 bits — measured
    * under the probe budget where fixed width tripped it (BASELINE.md r12).
    */
  private[graft] val LshTargetOccupancy = 32L
  private[graft] def adaptiveSignatureBits(corpusN: Long): Int = {
    import graft.functions.SignLshBuckets
    val needed = math.ceil(
      math.log(math.max(1L, corpusN).toDouble / LshTargetOccupancy) / math.log(2.0)).toInt
    math.min(SignLshBuckets.MaxBits, math.max(SignLshBuckets.Bits, needed))
  }

  /** Hamming probe radius for a signature width: 1 at the default width
    * (the r11 ring), 2 once the adaptive width exceeds it — the wider ring
    * recovers the per-table hit rate the extra bits cost (recall at the
    * wide width re-measured ≥ 0.9 in AnnRecallSpec).
    */
  private[graft] def probeRadiusFor(bits: Int): Int =
    if (bits <= graft.functions.SignLshBuckets.Bits) 1 else 2

  /** The width [[incrementalAnnTopk]] and its zone index agree on for a
    * given store: derived from the embeddings row count (parquet
    * metadata-only, O(1)) and the arriving-split fraction — both sides
    * recompute it deterministically, and the AnnZone artifact version
    * embeds it so a width change invalidates the persisted index.
    */
  private[graft] def corpusSignatureBits(spark: SparkSession, sfDir: String): Int = {
    val n = Tables.embeddingsCount(spark, sfDir)
    adaptiveSignatureBits(n * ArrivingBucketMin / 100)
  }

  /** IVF index BUILD, centroid half: K seeded centroids refined by two
    * distributed Lloyd iterations (see [[annIvfTopk]]'s scaladoc for the
    * full cost model). Materialized by
    * [[graft.pipeline.AnnZone.ensureIvfCentroids]].
    */
  /** IVF build parameters — hoisted so the zone's artifact VERSION string
    * and the builders can never disagree (a parameter change must
    * invalidate the persisted index).
    */
  private[graft] val IvfK = 16
  private[graft] val IvfReplication = 2
  private[graft] val IvfLloydIters = 2
  /** Probe width shared by the IVF variants and their SQL twins. ADVICE r15:
    * the IVFQ oracle SQL used to hardcode 2/10/16/256/65 — a constant edit
    * would desync query and oracle with nothing but a manual rehearsal to
    * catch it. All five now interpolate from these constants on BOTH sides.
    */
  private[graft] val IvfNprobe = 2
  // IVFQ cell-count rule: K = max(IvfK, ceil(√n)) — see ivfqK. (r16 shipped
  // K = ceil(n/256), a CONSTANT cell size; VERDICT r16 item 4 flagged the
  // consequence: the offline closure-assignment scan is n·K = O(n²/256),
  // fine at every tested scale and fatal at production n. √n growth keeps
  // the probed fraction shrinking while capping the build at O(n^1.5).)
  /** Embedding dimensionality (FIXTURES.md §B); DuckDB list indexes are
    * 1-based and `range` is exclusive-high, so twins render range(1, Dim+1).
    */
  private[graft] val EmbDim = 64
  /** The fixed declared-query set every ANN surface answers: vec_id < 10. */
  private[graft] val AnnQueryCount = 10

  /** The (vec_id, v) frame every vector operator starts from. */
  private[graft] def embFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))

  /** Growth-stable ARRIVING-BATCH split for embeddings (~10%): the shared
    * [[Splits.saltedBucket]] recipe applied to the vector store, salt
    * "annb:" so it is independent of every other split. The complement
    * ("the corpus") is what the incremental ANN index is built over; a
    * grown store never reassigns an existing vector's side. The salt and
    * threshold are CONSTANTS because the AnnZone corpus-index VERSION
    * string derives from them — an edit here must invalidate the persisted
    * index (r11 review).
    */
  private[graft] val ArrivingVecSalt = "annb:"
  private[graft] val ArrivingBucketMin = 90
  private[graft] def vecBucket: Column =
    Splits.saltedBucket(ArrivingVecSalt, col("vec_id"))
  private[graft] def isArrivingVec: Column = vecBucket >= ArrivingBucketMin

  private[graft] def ivfCentroids(spark: SparkSession, emb: DataFrame): DataFrame = {
    val k = IvfK
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

    // Nearest-centroid argmax as a max_by PARTIAL AGGREGATE (VERDICT r6
    // item 4): the former row_number window shuffled and sorted all n×K
    // scored rows per pass; max_by reduces each map partition to one row
    // per vector before the shuffle. The ordering struct(sim, -cid)
    // reproduces the window's (sim DESC, cid ASC) tie-break exactly.
    def nearest(scored: DataFrame): DataFrame =
      scored.groupBy(col("vec_id"))
        .agg(max_by(struct(col("cid"), col("v")),
          struct(col("sim"), -col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"), col("best.v").as("v"))

    // one Lloyd iteration: nearest centroid per vector → per-(cid, dim)
    // mean → re-assembled centroid vectors (empty clusters drop out,
    // standard)
    def lloyd(cs: DataFrame): DataFrame =
      nearest(
        emb.crossJoin(broadcast(cs))
          .withColumn("sim", cosine(spark, col("v"), col("cv"))))
      .select(col("cid"), col("v"))
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cv"))

    Iterator.iterate(seeds)(lloyd).drop(IvfLloydIters).next()
  }

  /** IVF index BUILD, list half: closure assignment of every vector to its
    * `replication` nearest refined centroids (SPANN-style, see
    * [[annIvfTopk]]'s scaladoc) — (cid, neighbor_id, cv2) posting lists,
    * materialized by [[graft.pipeline.AnnZone.ensureIvfLists]].
    */
  private[graft] def ivfLists(spark: SparkSession, emb: DataFrame,
      cents: DataFrame): DataFrame = {
    val replication = IvfReplication
    val scored = emb.crossJoin(broadcast(cents))
      .withColumn("sim", cosine(spark, col("v"), col("cv")))
    // Closure assignment: top-`replication` lists per vector via the same
    // bounded-heap partial aggregate as the probe side (no window
    // shuffle-sort; ties (sim DESC, cid ASC) as everywhere in this file).
    val assignK = udaf(new TopKByScore(replication),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    scored.groupBy(col("vec_id"))
      .agg(first(col("v")).as("cv2"), assignK(col("cid"), col("sim")).as("al"))
      .select(col("vec_id").as("neighbor_id"), col("cv2"),
        explode(col("al")).as("a"))
      .select(col("a._1").as("cid"), col("neighbor_id"), col("cv2"))
  }

  /** IVF (inverted-file) ANN — the clustering-based scale path, complement
    * to the hashing-based `annLshTopk` (both are mandated north-star
    * variants). Coarse quantizer: K deterministic seed centroids (the
    * embeddings of the K lowest vec_ids — fixed-seed init) refined by TWO
    * distributed Lloyd iterations (VERDICT r8 item 5 deepened the original
    * one-pass quantizer): assign every vector to its nearest centroid,
    * replace each centroid with its cluster mean, repeat. Fully declarative
    * — broadcast-assign + scalar (cid, dim, value) partial-agg means, no
    * driver collect; an iteration is one reusable step applied twice. Every
    * vector is then written to its `replication` nearest refined lists
    * (closure assignment à la SPANN: boundary vectors appear in both
    * adjacent lists, so a probe can't miss a true neighbor that Lloyd put
    * just across a cell boundary — measured here it lifts recall@5 from
    * ~0.85 to ≥0.94 at nprobe=2 with 2× list storage); a query probes its
    * `nprobe` nearest lists and exact-reranks only those candidates.
    *
    * 100 TB cost model: each assignment pass is a broadcast of K centroids
    * against a linear scan (no shuffle on the big side beyond the list
    * write); queries touch replication·nprobe/K of the corpus instead of
    * all of it, and list build stays a bounded-heap partial aggregate.
    * The index halves (refined centroids, closure-assigned lists) are
    * MATERIALIZED per corpus version in [[graft.pipeline.AnnZone]] (r11 —
    * the same artifact contract as the dedup zone), so neither the list
    * build nor query probing re-runs the Lloyd chain. Approximate → no
    * DuckDB oracle (driver rows-check); recall ≥ 0.9 vs the exact scan at
    * both test SFs in `AnnRecallSpec`, exercised THROUGH the zone.
    */
  def annIvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val nprobe = IvfNprobe
    // r11: the index halves are MATERIALIZED zone artifacts (AnnZone,
    // keyed on embeddings.parquet) — the two-Lloyd centroid chain and the
    // closure-assigned posting lists are built once per corpus version and
    // every query pays only its probe, which is how an IVF index is
    // actually operated: nobody re-runs Lloyd per query at 100 TB.
    val cents = graft.pipeline.AnnZone.ensureIvfCentroids(spark, sfDir)
    val lists = graft.pipeline.AnnZone.ensureIvfLists(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // score only the QUERY vectors against the centroid dim
    val scoredQ = emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(spark, col("v"), col("cv")))
    // top-nprobe probe lists per query via the typed bounded-heap aggregate
    // (same TopKByScore as the LSH path: map-side partial, no window; ties
    // (sim DESC, cid ASC) match the former window form).
    val probeK = udaf(new TopKByScore(nprobe),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val probes = scoredQ
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("qv"), probeK(col("cid"), col("sim")).as("pl"))
      .select(col("vec_id").as("query_id"), col("qv"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("qv"), col("p._1").as("cid"))

    val candidates = probes.join(lists, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val sims = candidates.withColumn("cos",
      round(cosine(spark, col("qv"), col("cv2")), 6))
    rankTopK(sims, 5)
  }

  /** EXACT-ORACLE IVF twin (r15 groundwork for VERDICT r14 item 8;
    * ADMITTED to the registry in r16 per VERDICT r15 item 2, after two
    * rounds of hash-green AnnOracleRehearsal validation at both SFs —
    * the ANN family's third exact-oracle member): the same coarse-quantize →
    * closure-assign → probe → exact-rerank pipeline as [[annIvfTopk]], run
    * entirely in the int8-QUANTIZED integer domain
    * ([[quantizedNeardupPairs]]' quantizer) with the K-lowest-vec_id SEED
    * quantizer and NO Lloyd refinement — a Lloyd step's cluster means are
    * non-integer, and a mean's summation order would put float-ulp risk back
    * into the assignment argmax, exactly the trade [[semanticDedupVectors]]
    * documents. Every comparison in the query — centroid assignment, probe
    * selection, rerank order — is integer dot / (sqrt·sqrt) arithmetic,
    * bit-identical in any engine, so the whole ANN query has an exact DuckDB
    * twin ([[annIvfqTopkSql]]) instead of a recall envelope. Validated
    * end-to-end by `graft.AnnOracleRehearsal` + tools/check.py; admission to
    * the registry is the r16 decision.
    *
    * Constants: K = max([[IvfK]], ⌈√n⌉) (see [[ivfqK]] — the FAISS-style
    * sizing, r17) so the probed fraction replication·nprobe/K = 4/√n
    * SHRINKS as the corpus grows — the IVF promise; replication and nprobe
    * ride the [[annIvfTopk]] values, and the rank block is the shared
    * [[rankTopK]].
    *
    * 100 TB shape: query-side identical to [[annIvfTopk]] — probes rerank
    * only their cells' candidates, fetched by id; probed rows per query =
    * replication·nprobe·(n/K) = 4√n, sub-linear in the corpus. The build
    * is one broadcast-assign scan (strictly cheaper than the Lloyd chain),
    * persisted by [[graft.pipeline.AnnZone.ensureIvfqLists]]; its n·K =
    * O(n^1.5) sim count is priced once per corpus version, never per
    * query (VERDICT r16 item 4 — the r16 constant-cell rule made this
    * scan O(n²/256), offline-fatal at production n).
    */
  /** IVFQ cell count for a corpus of `n` vectors: K = max([[IvfK]], ⌈√n⌉) —
    * shared by the query, the zone build, and the artifact version string
    * (all three must agree or a probe would address a stale-K posting
    * table).
    *
    * √n growth (r17, VERDICT r16 item 4; r16 shipped constant-256 cells):
    * cells now grow as √n instead of staying fixed, so the probed fraction
    * replication·nprobe/K = 4/√n still SHRINKS with the corpus — the IVF
    * promise holds — while the offline closure-assignment scan drops from
    * O(n²/256) to O(n·√n): at n = 10⁹ that is ~3×10¹³ sims (a real but
    * tractable offline job) instead of ~4×10¹⁵ (no zone build survives
    * that). This is the classic IVF sizing (K ≈ √n is the FAISS guidance);
    * a two-level coarse quantizer could cut the build to O(n·2·n^¼) but
    * adds a second assignment stage to keep integer-exact on both engines
    * for nothing the oracle can currently see.
    *
    * Determinism across engines: `sqrt` is IEEE-754 correctly rounded in
    * both the JVM and DuckDB and `ceil`/`greatest` are exact, so the SQL
    * twin's `greatest(IvfK, ceil(sqrt(count(*))))` computes the identical
    * K for any n — the exact-oracle contract survives the rule change.
    */
  private[graft] def ivfqK(n: Long): Long =
    math.max(IvfK.toLong,
      math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong)

  /** The zero-norm-guarded quantized frame every IVFQ surface starts from
    * (ADVICE r15): an all-zero embedding quantizes to a NaN vector (0/0
    * scale) whose cosine is NULL in CosineSim but NaN-ranked in DuckDB — a
    * hard hash mismatch on an exact-oracle contract. Dropping zero-max-abs
    * embeddings BEFORE quantization is exact, engine-identical arithmetic
    * (no NaN enters either side), and a no-op on the generator's fixtures;
    * the SQL twin carries the same predicate.
    */
  private[graft] def ivfqQuantized(spark: SparkSession, sfDir: String): DataFrame =
    pqQuantized(spark, sfDir,
      pre = _.filter(array_max(transform(toDouble(col("embedding")), x => abs(x))) > 0))

  /** IVFQ index BUILD half: the closure-assigned posting lists
    * (cid, neighbor_id, nv) — the n·K sim scan that must be priced once
    * per corpus version, not per query. Materialized by
    * [[graft.pipeline.AnnZone.ensureIvfqLists]]; every comparison is
    * integer dot / (sqrt·sqrt) arithmetic whose sums are exact in doubles
    * (products ≤ 127²·64 ≪ 2⁵³), so the artifact is bit-identical to an
    * inline recompute in any summation order and the oracle contract is
    * indifferent to WHERE the lists came from.
    */
  private[graft] def ivfqLists(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.embeddings(spark, sfDir).count()
    val q = ivfqQuantized(spark, sfDir)
    val seeds = q.filter(col("vec_id") < ivfqK(n))
      .select(col("vec_id").as("cid"), col("qv").as("sv"))
    val scored = q.crossJoin(broadcast(seeds))
      .withColumn("sim", cosine(spark, col("qv"), col("sv")))
    // closure assignment via the same bounded-heap partial aggregate as
    // every ANN surface (ties (sim DESC, cid ASC) — and sim is exact
    // integer arithmetic, so no ulp-dependent flips)
    val assignK = udaf(new TopKByScore(IvfReplication),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    scored.groupBy(col("vec_id"))
      .agg(first(col("qv")).as("nv"), assignK(col("cid"), col("sim")).as("al"))
      .select(col("vec_id").as("neighbor_id"), col("nv"), explode(col("al")).as("a"))
      .select(col("a._1").as("cid"), col("neighbor_id"), col("nv"))
  }

  private[graft] def annIvfqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val nprobe = IvfNprobe
    val n = Tables.embeddings(spark, sfDir).count()
    val k = ivfqK(n)
    val q = ivfqQuantized(spark, sfDir)
    // query side: lists come from the PERSISTED zone artifact (r16 — the
    // scale path the admission scaladoc promised: the n·K assignment scan
    // is an offline build per corpus version; a query pays 10·K probe sims
    // + the probed cells' rerank only). The probe scoring recomputes the
    // 10-query slice of `scored` inline — 10×K sims is cheaper than any
    // artifact round trip.
    val lists = graft.pipeline.AnnZone.ensureIvfqLists(spark, sfDir, Some(n))
    val seeds = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("sv"))
    val probeK = udaf(new TopKByScore(nprobe),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val probes = q.filter(col("vec_id") < AnnQueryCount)
      .crossJoin(broadcast(seeds))
      .withColumn("sim", cosine(spark, col("qv"), col("sv")))
      .groupBy(col("vec_id"))
      .agg(first(col("qv")).as("qv2"), probeK(col("cid"), col("sim")).as("pl"))
      .select(col("vec_id").as("query_id"), col("qv2"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("qv2"), col("p._1").as("cid"))
    val cand = probes.join(lists, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // rank on the ROUNDED quantized cosine (the quantizedNeardupPairs
    // rounding insurance) — ties resolve (cos DESC, id ASC) on both sides
    val sims = cand.withColumn("cos",
      round(cosine(spark, col("qv2"), col("nv")), 6))
    rankTopK(sims, 5).select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The DuckDB twin replays the exact integer-domain pipeline — same
    * quantizer, same dot/(sqrt·sqrt) arithmetic shape as
    * [[graft.functions.CosineSim]] (bit-identical on integer-valued
    * doubles), same (sim DESC, cid ASC) tie-breaks, same rounded rerank.
    */
  private[graft] val annIvfqTopkSql: String = {
    val d1 = EmbDim + 1 // DuckDB range() is exclusive-high, lists 1-based
    s"""WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |           x -> floor(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127)) AS qv
      |  FROM embeddings
      |  WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0
      |), seeds AS (
      |  SELECT vec_id AS cid, qv AS sv FROM q
      |  WHERE vec_id < (SELECT greatest($IvfK, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)
      |), scored AS (
      |  SELECT q.vec_id, s.cid,
      |         list_sum([q.qv[i] * s.sv[i] for i in range(1, $d1)]) /
      |           (sqrt(list_sum([q.qv[i] * q.qv[i] for i in range(1, $d1)])) *
      |            sqrt(list_sum([s.sv[i] * s.sv[i] for i in range(1, $d1)]))) AS sim
      |  FROM q CROSS JOIN seeds s
      |), lists AS (
      |  SELECT cid, vec_id AS neighbor_id FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
      |    FROM scored) WHERE rk <= $IvfReplication
      |), probes AS (
      |  SELECT cid, vec_id AS query_id FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
      |    FROM scored WHERE vec_id < $AnnQueryCount) WHERE rk <= $IvfNprobe
      |), cand AS (
      |  SELECT DISTINCT p.query_id, l.neighbor_id
      |  FROM probes p JOIN lists l ON p.cid = l.cid
      |  WHERE l.neighbor_id <> p.query_id
      |)
      |SELECT query_id, rank, neighbor_id FROM (
      |  SELECT c.query_id, c.neighbor_id,
      |         row_number() OVER (PARTITION BY c.query_id
      |           ORDER BY round(list_sum([a.qv[i] * b.qv[i] for i in range(1, $d1)]) /
      |             (sqrt(list_sum([a.qv[i] * a.qv[i] for i in range(1, $d1)])) *
      |              sqrt(list_sum([b.qv[i] * b.qv[i] for i in range(1, $d1)]))), 6) DESC,
      |           c.neighbor_id) AS rank
      |  FROM cand c JOIN q a ON a.vec_id = c.query_id
      |       JOIN q b ON b.vec_id = c.neighbor_id)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin
  }

  /** INGEST-TIME ANN — the vector-store half of the incremental family
    * (exact dedup → `incremental_dedup_stats`, near-dup →
    * `incremental_neardup_stats`, similarity search → here): an ARRIVING
    * batch of vectors ([[isArrivingVec]], the salted growth-stable ~10%
    * split) is answered against the EXISTING corpus by probing the
    * PERSISTED corpus-snapshot sign-LSH posting index
    * ([[graft.pipeline.AnnZone.ensureCorpusLshBuckets]]) — built over the
    * store MINUS the batch, because an index answering an arriving batch
    * cannot contain it. The hashing family is deliberately chosen over the
    * IVF quantizer for ingest: sign-LSH hyperplanes are data-independent,
    * so recall on ARBITRARY arriving vectors equals the declared-query
    * recall (measured ≥ 0.9 both SFs), where a corpus-trained quantizer
    * measured ~0.55 on the same batch at nprobe=2 — the full-store IVF
    * number is flattered by its seed-adjacent fixed query set.
    *
    * Per arriving vector: one fused-loop signature pass at the
    * CORPUS-ADAPTIVE width ([[corpusSignatureBits]] — log₂(corpus) bits,
    * both sides derive it deterministically from the store row count),
    * own-bucket + Hamming-ring probes per table (radius 2 past the
    * default width), exact rerank of candidates fetched BY ID from the
    * corpus scan, top-5. 100 TB cost model: occupancy is pinned near
    * [[LshTargetOccupancy]] by the adaptive width, so probe rows are
    * O(batch · L · bits² · occupancy) ≈ n·log²n — never a batch×corpus
    * scan and never an index rebuild per ingest; the posting table
    * refreshes once per corpus version like every other zone artifact. Approximate → no
    * DuckDB oracle (driver rows-check); recall vs the exact batch→corpus
    * scan is asserted at both test SFs in `AnnRecallSpec`.
    */
  def incrementalAnnTopk(spark: SparkSession, sfDir: String): DataFrame =
    incrementalAnnTopkImpl(spark, sfDir, IncrementalAnnProbeBudget)

  /** Shard cap for the auto-dispatch: past this the batch is too large for
    * one ingest tick even sharded — a deployment sizing error, not a knob
    * the engine should absorb silently.
    */
  private[graft] val MaxIngestShards = 256

  /** Probe-volume budget for [[incrementalAnnTopk]]: the batch grows with
    * the store (10%) AND bucket occupancy grows with the corpus (n/2^b per
    * table), so probe rows at FIXED signature width are
    * O(batch·corpus·L/2^b) — superlinear; the r11 rehearsal measured
    * 3.1 → 33 → 401 executor-CPU-s at 1×/3×/10× that way, and the 10×
    * point tripped this gate. r12 closed the cliff in code
    * ([[adaptiveSignatureBits]]): width scales with log₂(corpus), holding
    * occupancy near [[LshTargetOccupancy]], and the probe ring widens to
    * Hamming-2 past the default width to hold recall — probe volume is
    * then O(batch · L · bits² · occupancy) ≈ n·log²n, and the 10×
    * rehearsal passes UNDER this budget (BASELINE.md r12). The budget
    * remains as the DISPATCH THRESHOLD (r15): the exact probe-row count is
    * measured from the two bucket histograms (≤ L·2^b rows each — O(1)
    * cost) BEFORE paying the join, and past the budget the batch
    * auto-shards ([[incrementalAnnTopkImpl]]) instead of throwing — the
    * loud failure moved to the [[MaxIngestShards]] cap, where it marks a
    * deployment sizing error rather than a footprint decision the engine
    * can make itself.
    */
  private[graft] val IncrementalAnnProbeBudget = 64L << 20

  /** AUTO-DISPATCHING ingest probe (r15, VERDICT r14 item 3 — through r14
    * the over-budget path THREW and named the sharded kernel as a manual
    * mitigation): the kernel's own budget gate measures the exact probe
    * volume from the two bucket histograms on the persisted ring frame the
    * under-budget probe join then reuses (the r13 cost shape — one
    * measurement, shared signature pass), and surfaces an over-budget
    * verdict as a VALUE ([[lshProbeTopKOrVolume]]) instead of an
    * exception, so
    *   - volume ≤ budget → the single unsharded probe, job-for-job the
    *     pre-dispatch plan;
    *   - volume > budget → ceil(volume/budget) id-sharded sub-batches
    *     through the IDENTICAL kernel ([[shardedProbe]]), each under the
    *     budget — the union equals the unsharded run row-for-row
    *     (per-query independence, pinned in AnnRecallSpec), so dispatch is
    *     a footprint decision, never a semantics one;
    *   - past [[MaxIngestShards]] it still fails loudly (a tick that big is
    *     a deployment sizing error).
    */
  private[graft] def incrementalAnnTopkImpl(spark: SparkSession, sfDir: String,
      probeBudget: Long): DataFrame = {
    val bits = corpusSignatureBits(spark, sfDir)
    val index = graft.pipeline.AnnZone.ensureCorpusLshBuckets(spark, sfDir)
      .select(col("neighbor_id"), col("t").as("ct"), col("b").as("cb"))
    val emb = embFrame(spark, sfDir)
    // index holds corpus vectors only (batch ∩ corpus = ∅) — no self filter
    val batch = emb.filter(isArrivingVec)
    lshProbeCandidatesOrVolume(spark, batch, index, excludeSelf = false,
      probeBudget = Some(probeBudget), bits = bits) match {
      case Right(cand) => rerankCandidates(spark, cand, batch, emb, 5)
      case Left((total, _)) =>
        shardedProbe(spark, index, emb, batch, bits, total, probeBudget)
    }
  }

  /** Test hook (AnnRecallSpec): the full ingest-time probe at a FORCED
    * signature width, index built inline (not the zone artifact) so the
    * wide-signature recall can be measured on the small test corpora
    * where the adaptive rule would stay at the floor width.
    */
  private[graft] def incrementalAnnTopkAt(spark: SparkSession, sfDir: String,
      bits: Int): DataFrame = {
    val emb = embFrame(spark, sfDir)
    val index = lshBuckets(spark, emb.filter(!isArrivingVec), bits)
      .select(col("neighbor_id"), col("t").as("ct"), col("b").as("cb"))
    lshProbeTopK(spark, emb.filter(isArrivingVec), index, emb,
      k = 5, excludeSelf = false, probeBudget = Some(IncrementalAnnProbeBudget),
      bits = bits)
  }

  /** Exact probe-row volume of a query frame against the corpus index —
    * the gate's histogram arithmetic as a standalone estimator, used by
    * [[incrementalAnnTopkSharded]] to size the shard count before any
    * probe runs. O(L·2^bits) histogram rows per side.
    */
  private[graft] def probeRowVolume(spark: SparkSession, queryVecs: DataFrame,
      index: DataFrame, bits: Int): Long = {
    GraftExtensions.register(spark)
    val radius = probeRadiusFor(bits)
    val qBucketed = queryVecs.select(
      posexplode(call_function("sign_lsh_buckets", col("v"), lit(bits)))
        .as(Seq("t", "b")))
    val flips1 = (0 until bits).map(p => col("b").bitwiseXOR(lit(1L << p)))
    val flips2 =
      if (radius < 2) Seq.empty
      else for (i <- 0 until bits; j <- (i + 1) until bits)
        yield col("b").bitwiseXOR(lit((1L << i) | (1L << j)))
    qBucketed
      .select(col("t"), explode(array(col("b") +: (flips1 ++ flips2): _*)).as("qb"))
      .groupBy(col("t"), col("qb")).agg(count(lit(1)).as("nq"))
      .join(index.groupBy(col("ct"), col("cb")).agg(count(lit(1)).as("ni")),
        col("t") === col("ct") && col("qb") === col("cb"))
      .agg(coalesce(sum(col("nq") * col("ni")), lit(0L)))
      .first().getLong(0)
  }

  /** SHARDED ingest-time ANN — the past-the-width-ceiling mitigation the
    * probe-budget gate names, as code (r12; it was prose in r11): when a
    * tick's whole batch would exceed the per-tick probe budget, split it
    * into `ceil(total/budget)` id-ranged sub-batches (`pmod(vec_id, n)` —
    * deterministic, growth-stable) and run the IDENTICAL probe kernel per
    * shard, each under the budget gate. Per-query results are independent
    * (each arriving vector's top-k depends only on the corpus index), so
    * the union EQUALS the unsharded run row-for-row — asserted in
    * AnnRecallSpec against an unsharded reference. Peak shuffle/memory per
    * shard is bounded by the budget; total work is unchanged (sharding
    * bounds the per-tick footprint, the adaptive width bounds the total —
    * they compose, they don't substitute).
    */
  private[graft] def incrementalAnnTopkSharded(spark: SparkSession,
      sfDir: String, perTickBudget: Long,
      maxShards: Int = MaxIngestShards): DataFrame = {
    val bits = corpusSignatureBits(spark, sfDir)
    val index = graft.pipeline.AnnZone.ensureCorpusLshBuckets(spark, sfDir)
      .select(col("neighbor_id"), col("t").as("ct"), col("b").as("cb"))
    val emb = embFrame(spark, sfDir)
    val batch = emb.filter(isArrivingVec)
    val total = probeRowVolume(spark, batch, index, bits)
    shardedProbe(spark, index, emb, batch, bits, total, perTickBudget, maxShards)
  }

  /** The sharded kernel behind both the auto-dispatch and the forced-shard
    * test surface: `ceil(total/budget)` id-ranged sub-batches
    * (`pmod(vec_id, n)` — deterministic, growth-stable) through the
    * IDENTICAL probe, each under the per-tick budget.
    *
    * Tick-shared frames (r17, VERDICT r16 item 5): everything on the INDEX
    * side of the probe is shard-invariant, but each sub-batch's kernel
    * invocation used to re-read and re-aggregate it — at x100 (13 shards)
    * that re-priced the tick's index-side work 13×, CPU 6050 s against the
    * ~4000 the probe-volume model prices. Three frames now persist ONCE
    * per tick and serve every sub-batch: the thin posting table, its
    * (ct, cb) bucket histogram (each shard's budget gate joins the tiny
    * cached aggregate instead of re-scanning the postings), and the
    * (vec_id, v) vector frame the reranks fetch from (Spark's CacheManager
    * substitutes the cached plan into every shard query that contains it).
    * The per-shard RING frames stay per-shard persists but their unpersist
    * moves here (`ringSink`): the kernel's own unpersist-after-next-action
    * hook fired on the NEXT SHARD'S gate action and evicted each ring
    * before the final union consumed it, silently re-running every shard's
    * signature pass. All caches drop after the action that consumes the
    * returned union (or immediately on a failed shard gate).
    */
  private def shardedProbe(spark: SparkSession, index: DataFrame,
      emb: DataFrame, batch: DataFrame, bits: Int, total: Long,
      perTickBudget: Long, maxShards: Int = MaxIngestShards): DataFrame = {
    val needed = math.max(1L, (total + perTickBudget - 1) / perTickBudget)
    if (needed > maxShards) throw new IllegalStateException(
      s"incrementalAnnTopk: $total probe rows need $needed shards at " +
        s"budget $perTickBudget (cap $maxShards) — an ingest tick this " +
        "large is a deployment sizing error; raise the budget, widen the " +
        "signature, or split the tick upstream")
    val nShards = needed.toInt
    index.persist()
    val hist = index.groupBy(col("ct"), col("cb"))
      .agg(count(lit(1)).as("ni")).persist()
    emb.persist()
    val rings = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def dropAll(): Unit =
      (rings.toSeq :+ index :+ emb :+ hist).foreach(_.unpersist(false))
    val candParts =
      try (0 until nShards).map { s =>
        lshProbeCandidatesOrVolume(spark,
          batch.filter(pmod(col("vec_id"), lit(nShards.toLong)) === s),
          index, excludeSelf = false,
          // headroom factor 2: pmod splits probe volume approximately, not
          // exactly — a skewed shard still fails loudly rather than silently
          // blowing the footprint contract
          probeBudget = Some(perTickBudget * 2), bits = bits,
          indexHist = Some(hist), ringSink = Some(rings)) match {
          case Right(cand) => cand
          case Left((probeRows, budget)) =>
            throw overBudgetError(probeRows, budget, bits)
        }
      } catch { case t: Throwable => dropAll(); throw t }
    // ONE rerank over the unioned thin candidates (r17): shard query ids
    // are disjoint and rerank is per-pair, so reranking the union is
    // row-identical to per-shard reranks — but the corpus-vector fetch
    // join (the expensive shard-invariant side) now builds once per tick
    // instead of once per sub-batch. rankTopK inside supplies the
    // (query_id, rank) ordering the per-shard union used to re-sort for.
    val out = rerankCandidates(spark,
      candParts.reduce(_ unionByName _), batch, emb, 5, broadcastAttach = true)
    TextOps.unpersistAfterAction(spark, (rings.toSeq :+ index :+ emb :+ hist): _*)
    out
  }

  /** Fail-loud contract gate for the two all-pairs oracle forms below
    * (VERDICT r7 item 5, mirroring the simhash pair-budget stance): they are
    * DOCUMENTED small-SF exact cross-checks, and pointing one at a
    * production corpus must throw a diagnosis, not OOM the driver with an
    * n² broadcast. One cheap count() against the limit; the eager action
    * costs ~nothing next to the pair enumeration it guards.
    */
  private[graft] val AllPairsRowLimit = 100000L
  private[graft] def requireAllPairsScale(spark: SparkSession, sfDir: String,
      label: String, limit: Long = AllPairsRowLimit): Unit = {
    val n = Tables.embeddings(spark, sfDir).count()
    if (n > limit) throw new IllegalStateException(
      s"$label: $n embedding rows exceed the all-pairs oracle-form limit " +
        s"($limit) — this query enumerates O(n²) pairs and exists only as the " +
        "small-SF exact cross-check. Use the sub-linear scale paths instead " +
        "(ann_lsh_topk / ann_ivf_topk / semantic_dedup_vectors).")
  }

  /** Embedding-cosine near-dup: all vector pairs with cosine ≥ 0.4 — the
    * exact small-SF variant (the ANN/LSH path above is the 100 TB shape).
    * Broadcast all-pairs with explicit scan repartition (the 2 MB parquet
    * file would otherwise cap parallelism at one task).
    */
  def cosineNeardupPairs(spark: SparkSession, sfDir: String): DataFrame =
    cosineNeardupPairsImpl(spark, sfDir, AllPairsRowLimit)

  private[graft] def cosineNeardupPairsImpl(spark: SparkSession, sfDir: String,
      limit: Long): DataFrame = {
    requireAllPairsScale(spark, sfDir, "cosineNeardupPairs", limit)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos", round(cosine(spark, col("va"), col("vb")), 4))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val cosineNeardupPairsSql: String =
    """SELECT vec_a, vec_b, cos FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |WHERE cos >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Int8 scalar quantization: per-vector symmetric scale (max |x| → ±127),
    * values floor'd to integers — floor, not round, because floor of an
    * identical IEEE double is engine-identical while round's tie rule is
    * not (HALF_UP vs HALF_EVEN). The quantizer is therefore exactly
    * DuckDB-reproducible, and so is cosine over the quantized vectors
    * (integer-valued products sum exactly in double).
    *
    * 100 TB rationale: int8 storage cuts the resident vector set 4× and the
    * broadcast/shuffle payload with it; quantization composes with the
    * LSH/IVF candidate generation (it shrinks the vectors, not the pair
    * set). This query is the small-SF oracle form — same pair enumeration
    * as `cosineNeardupPairs` — plus per-pair agreement with the float
    * cosine, making the quantization error measurable in-engine.
    */
  def quantizedNeardupPairs(spark: SparkSession, sfDir: String): DataFrame =
    quantizedNeardupPairsImpl(spark, sfDir, AllPairsRowLimit)

  private[graft] def quantizedNeardupPairsImpl(spark: SparkSession, sfDir: String,
      limit: Long): DataFrame = {
    requireAllPairsScale(spark, sfDir, "quantizedNeardupPairs", limit)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val scale = array_max(transform(col("v"), x => abs(x)))
    val q = emb.select(col("vec_id"), col("v"),
      transform(col("v"), x => floor(x / scale * 127).cast("double")).as("qv"))
    val a = q.select(col("vec_id").as("vec_a"), col("v").as("va"), col("qv").as("qa"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = q.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("qv").as("qb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("qcos", round(cosine(spark, col("qa"), col("qb")), 4))
      .filter(col("qcos") >= 0.4)
      .withColumn("float_cos", round(cosine(spark, col("va"), col("vb")), 4))
      .select(col("vec_a"), col("vec_b"), col("qcos"), col("float_cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val quantizedNeardupPairsSql: String =
    """WITH q AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_transform(embedding::DOUBLE[],
      |           x -> floor(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127)) AS qv
      |  FROM embeddings
      |)
      |SELECT vec_a, vec_b, qcos, float_cos FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         round(list_cosine_similarity(a.qv, b.qv), 4) AS qcos,
      |         round(list_cosine_similarity(a.v, b.v), 4) AS float_cos
      |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
      |WHERE qcos >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  /** SEMANTIC dedup, SemDeDup-shaped (Abbas et al. '23: cluster the
    * embedding space, then dedup only WITHIN clusters — the widely-used LLM
    * dedup mode the corpus family was missing, VERDICT r7 item 6):
    *
    *   1. Coarse quantizer: the K lowest-vec_id embeddings as fixed-seed
    *      centroids (the IVF seeding recipe, `annIvfTopk`); every vector is
    *      assigned to its most-cosine-similar centroid.
    *   2. Within each cluster, greedy keep-first dedup: a vector is DROPPED
    *      iff an earlier (lower vec_id) cluster-mate sits at cosine ≥ τ —
    *      the per-cluster pairwise pass of the paper, with the deterministic
    *      keep-lowest-id survivor rule.
    *
    * Everything runs on the int8-QUANTIZED vectors (the `quantizedNeardupPairs`
    * recipe): integer-valued products sum EXACTLY in double in any order, so
    * the assignment argmax and the τ compare are bit-deterministic — which is
    * what makes an EXACT DuckDB oracle possible for a clustering query (the
    * oracle replays the same integer arithmetic in the same
    * dot/(sqrt·sqrt) shape; no float-ulp tie risk anywhere).
    *
    * 100 TB shape: assignment is a broadcast of K centroids against one
    * linear scan (no shuffle of the corpus); the dedup join shuffles on the
    * cluster key only, and its cost is the paper's own Σ n_c² per-cluster
    * model — K is a parameter that scales with corpus size (n_c ≈ n/K held
    * constant), and the quantized vectors cut the shuffled payload 4×. No
    * all-pairs term across clusters. Output: every vector with its cluster
    * and keep/drop verdict.
    */
  def semanticDedupVectors(spark: SparkSession, sfDir: String): DataFrame = {
    // K actually scales with the corpus (review r8: a fixed K would make the
    // within-cluster join O(n²/K) — quadratic — exactly what this query is
    // the scale answer FOR): target cluster size ≈ 256 vectors, floor 8, so
    // the per-cluster pair scan stays O(n·256) however large n grows. The
    // oracle computes the same k with the same integer arithmetic; both test
    // SFs land on k = 8 (n ≤ 2048).
    val n = Tables.embeddings(spark, sfDir).count()
    val k = math.max(8L, (n + 255L) / 256L)
    val tau = 0.4
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
    val scale = array_max(transform(col("v"), x => abs(x)))
    val q = emb.select(col("vec_id"),
      transform(col("v"), x => floor(x / scale * 127).cast("double")).as("qv"))
    val seeds = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("sv"))
    // nearest centroid as a max_by partial aggregate (the annIvfTopk layout);
    // struct(sim, -cid) = (sim DESC, cid ASC) tie-break, and sim itself is
    // exact integer arithmetic — no ulp-dependent assignment flips
    val assigned = q.crossJoin(broadcast(seeds))
      .withColumn("sim", cosine(spark, col("qv"), col("sv")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"),
        first(col("qv")).as("qv"))
      .persist()
    val a = assigned.select(col("cid").as("cid_a"), col("vec_id").as("vec_a"),
      col("qv").as("qa"))
    val b = assigned.select(col("cid").as("cid_b"), col("vec_id").as("vec_b"),
      col("qv").as("qb"))
    // dropped ⟺ an earlier same-cluster vector is τ-close: one left-semi
    // join keyed on the cluster id — never a cross-cluster pair
    val dropped = b.join(a,
        col("cid_b") === col("cid_a") && col("vec_a") < col("vec_b") &&
          cosine(spark, col("qa"), col("qb")) >= tau, "leftsemi")
      .select(col("vec_b").as("vec_id"), lit(0).as("kept"))
    val result = assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("kept"), lit(1)).as("is_kept"))
      .orderBy(col("vec_id"))
    TextOps.unpersistAfterAction(spark, assigned)
    result
  }

  /** The oracle replays the exact integer-domain pipeline: same quantizer,
    * same dot/(sqrt(n_a)·sqrt(n_b)) arithmetic shape as [[graft.functions.CosineSim]]
    * (bit-identical on integer-valued doubles), same (sim DESC, cid ASC)
    * assignment tie-break, same keep-lowest-id rule. `is_kept` is an int on
    * both sides (dtype-proof vs the checker).
    */
  val semanticDedupVectorsSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding::DOUBLE[],
      |           x -> floor(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127)) AS qv
      |  FROM embeddings
      |), seeds AS (
      |  SELECT vec_id AS cid, qv AS sv FROM q
      |  WHERE vec_id < (SELECT greatest(8, (count(*) + 255) // 256) FROM embeddings)
      |), scored AS (
      |  SELECT q.vec_id, s.cid,
      |         list_sum([q.qv[i] * s.sv[i] for i in range(1, 65)]) /
      |           (sqrt(list_sum([q.qv[i] * q.qv[i] for i in range(1, 65)])) *
      |            sqrt(list_sum([s.sv[i] * s.sv[i] for i in range(1, 65)]))) AS sim
      |  FROM q CROSS JOIN seeds s
      |), assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk
      |    FROM scored) WHERE rk = 1
      |), dup AS (
      |  SELECT DISTINCT bb.vec_id
      |  FROM assigned aa JOIN q qa ON qa.vec_id = aa.vec_id
      |       JOIN assigned bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
      |       JOIN q qb ON qb.vec_id = bb.vec_id
      |  WHERE list_sum([qa.qv[i] * qb.qv[i] for i in range(1, 65)]) /
      |          (sqrt(list_sum([qa.qv[i] * qa.qv[i] for i in range(1, 65)])) *
      |           sqrt(list_sum([qb.qv[i] * qb.qv[i] for i in range(1, 65)]))) >= 0.4
      |)
      |SELECT a.vec_id, a.cid, CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
      |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------- PQ ANN

  /** Product-quantization geometry: d = 64 split into M = 8 subspaces of 8
    * dims, K = 16 codebook entries per subspace ⇒ a vector's PQ code is
    * M × log₂K = 8 × 4 bits = 4 BYTES, vs 256 bytes of float32 — the 64×
    * memory collapse that makes 100 TB vector stores RAM-resident (Jégou
    * et al. '11; the FAISS IVF-PQ layout). */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqK = 16
  /** ADC shortlist size before exact rerank — the recall/cost knob.
    * Sized from the MEASURED true-neighbor ADC-rank distribution on this
    * corpus (sf0.01: within-50 = 0.76, within-100 = 0.96, worst rank 178):
    * 100 clears the 0.9 recall bar at both test SFs. At constant S,
    * production recall comes from BETTER CODEBOOKS (a Lloyd refinement
    * drops in via the [[ivfCentroids]] machinery) and IVF candidate
    * pruning (scan only probed cells' codes), not from scaling S with the
    * corpus — S governs only the rerank's by-id fetch volume. */
  private[graft] val PqShortlist = 100

  /** int8-quantized embedding frame (vec_id, qv) — the shared
    * [[quantizedNeardupPairs]] quantizer (floor, per-vector scale), so PQ
    * rides the same engine-deterministic integer domain. */
  private[graft] def pqQuantized(spark: SparkSession, sfDir: String,
      pre: DataFrame => DataFrame = identity): DataFrame = {
    // `pre` defaults to identity so every pre-r16 consumer keeps a
    // bit-identical plan; annIvfqTopk passes its zero-norm guard here
    // because the guard must run BEFORE quantization (a zero vector's
    // quantized form is already NaN).
    val emb = pre(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val scale = array_max(transform(col("v"), x => abs(x)))
    emb.select(col("vec_id"),
      transform(col("v"), x => floor(x / scale * 127).cast("double")).as("qv"))
  }

  /** PQ codebook: per subspace m, the K lowest-vec_id vectors' m-th
    * subvectors as entries (the fixed-seed recipe [[semanticDedupVectors]]
    * and IVF share — deterministic, SQL-replayable; a Lloyd refinement
    * would drop in exactly like [[ivfCentroids]] but would put a recursive
    * CTE in the oracle for no contract gain). (m, code, sv, cnorm). */
  private[graft] def pqCodebook(spark: SparkSession, sfDir: String): DataFrame =
    pqQuantized(spark, sfDir).filter(col("vec_id") < PqK)
      .select(col("vec_id").as("code"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .select(col("m"), col("code"),
        slice(col("qv"), col("m") * lit(PqSubDim) + 1, lit(PqSubDim)).as("sv"))
      .withColumn("cnorm",
        aggregate(col("sv"), lit(0.0), (a, x) => a + x * x))

  /** The (vec_id, m, xv) subvector relation every PQ build starts from. */
  private def pqSubvectors(spark: SparkSession, sfDir: String): DataFrame =
    pqQuantized(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * lit(PqSubDim) + 1, lit(PqSubDim)).as("xv"))

  /** Nearest-codebook-entry assignment of every subvector: exact L2,
    * lowest-code tie-break — the ONE encode rule, shared by [[pqCodes]]
    * and the Lloyd refinement so the two can never disagree on
    * assignment semantics. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb.select(col("m"), col("code"), col("sv"))), Seq("m"))
      .withColumn("l2", aggregate(
        zip_with(col("xv"), col("sv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(struct(col("code"), col("xv")),
        struct(col("l2"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"),
        col("best.code").as("code"), col("best.xv").as("xv"))

  /** PQ ENCODE: every corpus vector's per-subspace nearest codebook entry
    * by exact integer L2, lowest-code tie-break — (vec_id, m, code), the
    * 4-byte-per-vector relation the zone persists. One broadcast of the
    * 128-entry codebook against a single corpus scan. */
  private[graft] def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqAssign(pqSubvectors(spark, sfDir), pqCodebook(spark, sfDir))
      .select(col("vec_id"), col("m"), col("code"))

  /** Lloyd iteration count for the REFINED codebook ([[pqCodebookRefined]])
    * — part of the refined artifacts' zone version. */
  private[graft] val PqLloydIters = 2

  /** Lloyd-REFINED PQ codebook (VERDICT r11 item 8): the seed codebook
    * (K lowest-id subvectors) improved by [[PqLloydIters]] k-means steps in
    * the INTEGER domain — assign every corpus subvector to its nearest
    * entry (the shared [[pqAssign]] rule), replace each entry with its
    * members' per-dimension mean ROUNDED to the nearest integer
    * (floor(mean + 0.5)). Quantizing the mean keeps the whole chain
    * deterministic across partitionings: member components are
    * integer-valued doubles, so their sum is EXACT in IEEE double
    * regardless of aggregation order (< 2^53), the mean is an exact
    * rational rounded once, and the next assignment pass sees
    * bit-identical centroids on every run — the property the seed
    * codebook's DuckDB oracle rests on, preserved through refinement.
    * An entry that loses all members keeps its previous value (K stays
    * constant, matching the version geometry).
    *
    * OUTCOME (the item-8 experiment, run to completion): recall@5 at
    * constant shortlist measured WORSE than the seed book — 0.960 seed vs
    * 0.880 refined at sf0.01 — so NO production query adopted it; the
    * negative result is pinned in AnnRecallSpec (which re-measures both
    * books every run and fails if the ordering flips, prompting
    * re-evaluation) and recorded in BASELINE.md r12. The build and its
    * zone artifacts stay: they are the measurement apparatus.
    */
  private[graft] def pqCodebookRefined(spark: SparkSession, sfDir: String): DataFrame = {
    val sub = pqSubvectors(spark, sfDir).persist()
    sub.count() // every Lloyd pass references it (the dedupClusters lesson)
    def step(cb: DataFrame): DataFrame = {
      val means = pqAssign(sub, cb)
        .select(col("m"), col("code"), posexplode(col("xv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(floor(avg(col("x")) + lit(0.5)).as("mx"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("sv_new"))
      // keep the previous entry when a code loses all members
      cb.select(col("m"), col("code"), col("sv"))
        .join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("sv_new"), col("sv")).as("sv"))
        .withColumn("cnorm",
          aggregate(col("sv"), lit(0.0), (a, x) => a + x * x))
    }
    val result = Iterator.iterate(pqCodebook(spark, sfDir))(step)
      .drop(PqLloydIters).next()
    graft.operators.TextOps.unpersistAfterAction(spark, sub)
    result
  }

  /** PQ ENCODE under the refined book — the relation
    * [[graft.pipeline.AnnZone.ensurePqCodesRefined]] persists. */
  private[graft] def pqCodesRefined(spark: SparkSession, sfDir: String): DataFrame =
    pqAssign(pqSubvectors(spark, sfDir),
        graft.pipeline.AnnZone.ensurePqCodebookRefined(spark, sfDir))
      .select(col("vec_id"), col("m"), col("code"))

  /** PQ-compressed ANN — the memory-resident scale path of the similarity
    * family ([[annCosineTopk]] exact / [[annLshTopk]] sub-linear probes /
    * [[annIvfTopk]] partition pruning / THIS: 4-byte codes instead of
    * vectors, asymmetric-distance shortlist + exact rerank):
    *
    *   1. ADC tables: per (query, subspace, code), the integer inner
    *      product query-subvector · codebook-entry and the entry's norm —
    *      |Q|·M·K rows, broadcast.
    *   2. Shortlist: one scan of the persisted CODE relation
    *      ([[graft.pipeline.AnnZone.ensurePqCodes]] — M small ints per
    *      vector, never the vectors), Σ_m adc[m][code] partial-aggregated
    *      to a PQ-approximated cosine ip/(√qn·√xn̂); top-[[PqShortlist]]
    *      per query through the shared bounded-heap rank block.
    *   3. Rerank: fetch ONLY the shortlisted vectors by id (the
    *      [[lshProbeTopK]] production layout) and order by exact
    *      int8-cosine, 6-dp rounded, id tie-break.
    *
    * Every stage is integer-fed IEEE arithmetic in a fixed shape (the
    * [[semanticDedupVectors]] determinism argument) ⇒ EXACT DuckDB oracle —
    * rare for an ANN operator, and it pins shortlist boundaries and
    * tie-breaks, not just recall. Recall ≥ 0.9 vs the float-exact top-k is
    * asserted separately in AnnRecallSpec at both SFs.
    *
    * 100 TB: the scan is over N·M bytes of codes (the point of PQ);
    * composing with the IVF lists (scan only probed cells' codes) is the
    * FAISS IVFADC layout — the candidate-generator swap documented on
    * [[hardNegativePairs]]. */
  /** The quantized query frame (query_id, qv, qn) every PQ surface starts
    * from. */
  private def pqQueryFrame(spark: SparkSession, sfDir: String): DataFrame =
    pqQuantized(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv"),
        aggregate(col("qv"), lit(0.0), (a, x) => a + x * x).as("qn"))

  /** ADC lookup tables: per (query, subspace, code), the integer inner
    * product query-subvector · codebook-entry and the entry's norm —
    * |Q|·M·K rows, broadcast to wherever codes are scanned. */
  private def pqAdcTables(q: DataFrame, cb: DataFrame): DataFrame =
    q.select(col("query_id"), col("qn"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .select(col("query_id"), col("qn"), col("m"),
        slice(col("qv"), col("m") * lit(PqSubDim) + 1, lit(PqSubDim)).as("qsv"))
      .join(cb, Seq("m"))
      .select(col("query_id"), col("qn"), col("m"), col("code"), col("cnorm"),
        aggregate(zip_with(col("qsv"), col("sv"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("ip"))

  /** Σ_m ADC aggregation → PQ-approximated cosine per (query, neighbor):
    * the scoring shape both the flat-scan and the IVFADC surfaces share,
    * so shortlist semantics (all-zero-reconstruction rank-last rule
    * included) cannot diverge between them. Input: (query_id, vec_id, m,
    * code, ip, cnorm, qn) rows — whatever candidate generator produced
    * them. */
  private def pqAdcScore(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("ip")).as("ipq"), sum(col("cnorm")).as("xn"),
        first(col("qn")).as("qn"))
      // an all-zero PQ reconstruction has no angle: rank it last (a real
      // candidate at any similarity beats it deterministically)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("xn") > 0, col("ipq") / (sqrt(col("qn")) * sqrt(col("xn"))))
          .otherwise(lit(-2.0)).as("cos"))

  /** Shortlist top-[[PqShortlist]] per query, then exact int8-cosine rerank
    * of ONLY the shortlisted vectors fetched by id — the FAISS
    * shortlist+rerank contract, shared by the flat and IVFADC paths. */
  private def pqShortlistRerank(spark: SparkSession, sfDir: String,
      approx: DataFrame, q: DataFrame): DataFrame = {
    val shortlist = rankTopK(approx, PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qv = pqQuantized(spark, sfDir)
    val rerank = shortlist
      .join(qv.select(col("vec_id").as("neighbor_id"), col("qv").as("xv")),
        Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(spark, col("qv"), col("xv")), 6).as("cos"))
    rankTopK(rerank, 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annPqTopk(spark: SparkSession, sfDir: String): DataFrame =
    annPqTopkWith(spark, sfDir,
      graft.pipeline.AnnZone.ensurePqCodes(spark, sfDir),
      graft.pipeline.AnnZone.ensurePqCodebook(spark, sfDir))

  /** The flat ADC scan under an ARBITRARY (codes, codebook) pair — lets
    * AnnRecallSpec measure the Lloyd-refined book against the seed book at
    * constant shortlist (r11 item 8's experiment protocol). */
  private[graft] def annPqTopkWith(spark: SparkSession, sfDir: String,
      codes: DataFrame, cb: DataFrame): DataFrame = {
    val q = pqQueryFrame(spark, sfDir)
    val adc = pqAdcTables(q, cb)
    val approx = pqAdcScore(
      codes.join(broadcast(adc), Seq("m", "code"))
        .filter(col("vec_id") =!= col("query_id")))
    pqShortlistRerank(spark, sfDir, approx, q)
  }

  /** Exact replay: same quantizer, subspace slicing, integer-L2 encode with
    * (l2, code) tie-break, ADC ip/(√·√) shape, (cos DESC, id ASC) ranks at
    * BOTH the shortlist boundary and the final k — the whole PQ pipeline is
    * integer-fed fixed-shape IEEE arithmetic, so the two engines cannot
    * disagree on an ordering anywhere. */
  val annPqTopkSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding::DOUBLE[],
       |           x -> floor(x / list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) * 127)) AS qv
       |  FROM embeddings
       |), cb AS (
       |  SELECT m, vec_id AS code, list_slice(qv, m*$PqSubDim + 1, m*$PqSubDim + $PqSubDim) AS sv
       |  FROM q, range($PqM) r(m) WHERE vec_id < $PqK
       |), cbn AS (
       |  SELECT m, code, sv, list_sum(list_transform(sv, x -> x*x)) AS cnorm FROM cb
       |), sub AS (
       |  SELECT vec_id, m, list_slice(qv, m*$PqSubDim + 1, m*$PqSubDim + $PqSubDim) AS xv
       |  FROM q, range($PqM) r(m)
       |), codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY list_sum(list_transform(range(1, $PqSubDim + 1),
       |                        i -> (s.xv[i] - c.sv[i]) * (s.xv[i] - c.sv[i]))), c.code) AS rk
       |    FROM sub s JOIN cbn c ON s.m = c.m) WHERE rk = 1
       |), qs AS (
       |  SELECT vec_id AS query_id, qv,
       |         list_sum(list_transform(qv, x -> x*x)) AS qn
       |  FROM q WHERE vec_id < 10
       |), adc AS (
       |  SELECT query_id, qn, c.m, c.code, c.cnorm,
       |         list_sum(list_transform(range(1, $PqSubDim + 1),
       |           i -> qs.qv[c.m*$PqSubDim + i] * c.sv[i])) AS ip
       |  FROM qs, cbn c
       |), approx AS (
       |  SELECT a.query_id, k.vec_id AS neighbor_id,
       |         CASE WHEN sum(a.cnorm) > 0
       |              THEN sum(a.ip) / (sqrt(any_value(a.qn)) * sqrt(sum(a.cnorm)))
       |              ELSE -2.0 END AS cos
       |  FROM codes k JOIN adc a ON k.m = a.m AND k.code = a.code
       |  WHERE k.vec_id <> a.query_id
       |  GROUP BY a.query_id, k.vec_id
       |), shortlist AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |    FROM approx) WHERE rk <= $PqShortlist
       |), rerank AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(list_sum(list_transform(range(1, 65), i -> xq.qv[i] * xv.qv[i])) /
       |           (sqrt(list_sum(list_transform(xq.qv, x -> x*x))) *
       |            sqrt(list_sum(list_transform(xv.qv, x -> x*x)))), 6) AS cos
       |  FROM shortlist s
       |  JOIN q xv ON xv.vec_id = s.neighbor_id
       |  JOIN q xq ON xq.vec_id = s.query_id
       |)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rerank) WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** IVFADC candidate generation (the FAISS candidate-generator swap,
    * VERDICT r11 item 2): each query's top-`nprobe` IVF cells (broadcast
    * centroid scoring, the [[annIvfTopk]] probe block) joined to the
    * persisted closure-assigned posting lists — (query_id, neighbor_id)
    * pairs covering ONLY the probed cells' members, never the corpus.
    * Exposed private[graft] so the scan-containment assert in AnnRecallSpec
    * can pin "probed lists only" as a row-count fact, not a prose claim.
    */
  private[graft] def ivfPqCandidates(spark: SparkSession, sfDir: String,
      nprobe: Int = 2): DataFrame = {
    val cents = graft.pipeline.AnnZone.ensureIvfCentroids(spark, sfDir)
    // codes replace vectors: only (cid, neighbor_id) is read from the lists
    val lists = graft.pipeline.AnnZone.ensureIvfLists(spark, sfDir)
      .select(col("cid"), col("neighbor_id"))
    val emb = embFrame(spark, sfDir)
    val scoredQ = emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(spark, col("v"), col("cv")))
    val probeK = udaf(new TopKByScore(nprobe),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    scoredQ.groupBy(col("vec_id"))
      .agg(probeK(col("cid"), col("sim")).as("pl"))
      .select(col("vec_id").as("query_id"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("p._1").as("cid"))
      .join(lists, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** IVF×PQ ANN (FAISS IVFADC, Jégou et al. '11): the [[annIvfTopk]]
    * partition pruning composed with the [[annPqTopk]] memory collapse —
    * candidates come from the probed IVF cells' posting lists ONLY
    * ([[ivfPqCandidates]]), are scored by the SAME ADC tables and Σ_m
    * aggregation as the flat-scan PQ query ([[pqAdcScore]] — shared code,
    * so shortlist semantics cannot diverge), and the shortlist is exact
    * int8-reranked by id ([[pqShortlistRerank]]).
    *
    * 100 TB cost model — the point of the composition: the flat ADC scan
    * reads N·M code rows per query batch; this reads
    * (replication·nprobe/K)·N·M ≈ N·M/4 at the build constants here, and
    * the fraction is a FREE knob (K grows with the corpus, nprobe stays
    * fixed → probed fraction shrinks as the store grows). Both artifact
    * halves (lists, codes) are zone-persisted; the query pays centroid
    * scoring (broadcast, K rows) + probed-list code scan + by-id rerank.
    * Approximate → no DuckDB oracle (the Lloyd chain would need a
    * recursive CTE for no contract gain); recall ≥ 0.9 vs the float-exact
    * scan AND scan-containment (candidates ⊆ probed cells' members,
    * strictly fewer than the flat scan) are pinned in AnnRecallSpec.
    */
  def annIvfPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    // SEED codebook/codes, deliberately: the r11-item-8 Lloyd refinement
    // experiment MEASURED WORSE (recall@5 at shortlist 100 on sf0.01:
    // seed 0.960 vs refined 0.880 — integer-rounded means over ~31
    // members/entry pull entries off the data manifold; the negative
    // result is pinned in AnnRecallSpec and recorded in BASELINE.md r12)
    val codes = graft.pipeline.AnnZone.ensurePqCodes(spark, sfDir)
    val cb = graft.pipeline.AnnZone.ensurePqCodebook(spark, sfDir)
    val q = pqQueryFrame(spark, sfDir)
    val adc = pqAdcTables(q, cb)
    val cand = ivfPqCandidates(spark, sfDir)
    val approx = pqAdcScore(
      cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(broadcast(adc), Seq("query_id", "m", "code"))
        .withColumnRenamed("neighbor_id", "vec_id"))
    pqShortlistRerank(spark, sfDir, approx, q)
  }

  /** Multimodal alignment: text row ⋈ its embedding row on id — the
    * canonical "document + vector column" layout. Broadcast the smaller side.
    */
  def multimodalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"),
        col("n_chars"), size(col("embedding")).as("dim"))
      .orderBy(col("doc_id"))
  }

  val multimodalJoinSql: String =
    """SELECT doc_id, lang, label, n_chars, len(embedding) AS dim
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  /** HARD-NEGATIVE mining — the contrastive-training data-prep stage
    * (retrieval/embedding training wants, per anchor, the most-similar
    * examples with a DIFFERENT label: negatives the current embedding space
    * nearly confuses, which carry most of the gradient — the in-batch /
    * ANCE-style mining step expressed as a relational operator). Anchors =
    * vec_id < 10 (the standing query set); per anchor the top-3
    * highest-cosine candidates whose label differs.
    *
    * Same 100 TB orientation as [[annCosineTopk]]: broadcast the tiny
    * anchor set, stream the candidate corpus once, per-anchor top-k. The
    * label-mismatch predicate rides the broadcast-join condition, so
    * same-label rows drop before any cosine is computed. For FULL-corpus
    * mining (every document an anchor) the candidate generator swaps to the
    * [[annLshTopk]]/[[annIvfTopk]] index paths — mine within probed buckets
    * — with this exact scan as the per-bucket kernel; the relational shape
    * (filtered similarity join → bounded top-k) is unchanged. Output is
    * rank-compared on ids/labels only (no float scores in the hash), the
    * [[annCosineTopk]] stance.
    */
  def hardNegativePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
    val anchors = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("v").as("av"))
    val cand = emb.select(col("vec_id").as("negative_id"),
      col("label").as("negative_label"), col("v").as("cv"))
    val sims = cand.join(broadcast(anchors),
        col("anchor_label") =!= col("negative_label"))
      .withColumn("cos", cosine(spark, col("av"), col("cv")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("negative_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("anchor_id"), col("anchor_label"), col("rank"),
        col("negative_id"), col("negative_label"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  val hardNegativePairsSql: String =
    """SELECT anchor_id, anchor_label, rank, negative_id, negative_label FROM (
      |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
      |         c.vec_id AS negative_id, c.label AS negative_label,
      |         row_number() OVER (
      |           PARTITION BY a.vec_id
      |           ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
      |                    c.vec_id) AS rank
      |  FROM embeddings a JOIN embeddings c ON a.label <> c.label
      |  WHERE a.vec_id < 10)
      |WHERE rank <= 3
      |ORDER BY anchor_id, rank""".stripMargin

  /** Per-label embedding centroids: posexplode → per-(label, dim) mean →
    * re-assemble the vector ordered by dim. The elementwise-mean layout that
    * scales — the naive `collect_list(embedding)` per label would pull whole
    * groups onto single tasks; this shuffles scalar (label, dim, value)
    * triples with map-side partial aggregation.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    emb.select(col("label"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("m"))
      .groupBy(col("label"))
      // Serialized as a CSV of DECIMAL(18,6) strings: raw array cells crash
      // the driver's checker, and double→string rendering is engine-specific
      // (exponent notation) while fixed-scale decimal prints identically.
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("decimal(18,6)").cast("string")), ",").as("centroid"))
      .orderBy(col("label"))
  }

  val labelCentroidsSql: String =
    """SELECT label, array_to_string(list(v::DECIMAL(18,6)::VARCHAR ORDER BY pos), ',') AS centroid FROM (
      |  SELECT label, i AS pos, round(avg(embedding[i]::DOUBLE), 6) AS v
      |  FROM embeddings, range(1, 65) t(i)
      |  GROUP BY label, i)
      |GROUP BY label
      |ORDER BY label""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cosine_neardup_pairs" -> (cosineNeardupPairs(_, _)),
    "quantized_neardup_pairs" -> (quantizedNeardupPairs(_, _)),
    "semantic_dedup_vectors" -> (semanticDedupVectors(_, _)),
    "label_centroids" -> (labelCentroids(_, _)),
    "ann_cosine_topk" -> (annCosineTopk(_, _)),
    "hard_negative_pairs" -> (hardNegativePairs(_, _)),
    "ann_lsh_topk" -> (annLshTopk(_, _)),
    "ann_ivf_topk" -> (annIvfTopk(_, _)),
    // r16 admission (VERDICT r15 item 2): the integer-exact seed-quantizer
    // IVF twin, validated hash-green at sf0.01 + sf0.1 by AnnOracleRehearsal
    // through two rounds before registration
    "ann_ivfq_topk" -> (annIvfqTopk(_, _)),
    "ann_pq_topk" -> (annPqTopk(_, _)),
    "ann_ivfpq_topk" -> (annIvfPqTopk(_, _)),
    "incremental_ann_topk" -> (incrementalAnnTopk(_, _)),
    "multimodal_join" -> (multimodalJoin(_, _))
  )

  /** Bench solo-fork set (see TextOps.heavyQueries): the ANN/near-dup family
    * allocates enough per-pair state to need per-JVM timing isolation.
    */
  val heavyQueries: Set[String] = Set(
    "cosine_neardup_pairs", "quantized_neardup_pairs", "ann_cosine_topk",
    "hard_negative_pairs", "ann_lsh_topk", "ann_ivf_topk", "ann_ivfq_topk",
    "ann_ivfpq_topk", "incremental_ann_topk", "semantic_dedup_vectors")

  /** ann_lsh_topk / ann_ivf_topk intentionally absent: approximate results,
    * no exact SQL equivalent — driver records the weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "cosine_neardup_pairs" -> cosineNeardupPairsSql,
    "quantized_neardup_pairs" -> quantizedNeardupPairsSql,
    "semantic_dedup_vectors" -> semanticDedupVectorsSql,
    "label_centroids" -> labelCentroidsSql,
    "ann_cosine_topk" -> annCosineTopkSql,
    "ann_ivfq_topk" -> annIvfqTopkSql,
    "ann_pq_topk" -> annPqTopkSql,
    "hard_negative_pairs" -> hardNegativePairsSql,
    "multimodal_join" -> multimodalJoinSql
  )
}
