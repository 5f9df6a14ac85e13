package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** The custom-extension route (SURVEY §7.3): native Catalyst expressions
  * with codegen, each proven equivalent to its built-in/HOF reference
  * implementation — and the ANN surfaces' shared top-k rank block.
  */
class CustomFunctionSpec extends AnyFunSuite with SparkFixture {

  private def hofCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("CosineSim expression agrees with the HOF formulation bit-for-bit") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val pairs = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qa"), col("v").as("va"))
      .crossJoin(broadcast(
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
          .select(col("vec_id").as("qb"), col("v").as("vb"))))
    val maxDiff = pairs
      .select((expr("cosine_sim(va, vb)") - hofCosine(col("va"), col("vb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    // identical left-to-right summation order on both paths → bit equality
    assert(maxDiff === 0.0)
  }

  test("cosine_sim is SQL-callable and null-safe on degenerate inputs") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))  AS same,
        |       cosine_sim(array(1.0d, 0.0d), array(-1.0d, 0.0d)) AS opp,
        |       cosine_sim(array(0.0d, 0.0d), array(1.0d, 0.0d))  AS zero_norm,
        |       cosine_sim(array(1.0d), array(1.0d, 2.0d))        AS len_mismatch
        |""".stripMargin).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1) + 1.0) < 1e-15)
    assert(r.isNullAt(2), "zero-norm vector → null, not NaN")
    assert(r.isNullAt(3), "length mismatch → null")
  }

  test("intersect_size expression equals size(array_intersect) on sorted shingle sets") {
    GraftExtensions.register(spark)
    val docs = graft.operators.TextOps.hashedShingleDocs(spark, sf0001)
      .select(col("doc_id"), sort_array(col("sh")).as("sh"))
    val pairs = docs.select(col("doc_id").as("ia"), col("sh").as("a"))
      .crossJoin(broadcast(docs.limit(50).select(col("doc_id").as("ib"), col("sh").as("b"))))
      .filter(col("ia") < col("ib"))
    val mismatches = pairs
      .select(
        expr("intersect_size(a, b)").as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(mismatches === 0L)
  }

  test("intersect_size is null-safe and handles empty/disjoint arrays") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT intersect_size(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS two,
        |       intersect_size(array(1L, 2L), array(5L, 6L))         AS zero,
        |       intersect_size(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS empty,
        |       intersect_size(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nul
        |""".stripMargin).collect().head
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === 0)
    assert(r.isNullAt(3))
  }

  test("sign_lsh_buckets equals the per-bit HOF formulation bit-for-bit") {
    GraftExtensions.register(spark)
    val tables = graft.functions.SignLshBuckets.Tables
    val bits = graft.functions.SignLshBuckets.Bits
    // the HOF form the expression replaced — kept here as the reference
    def signBit(t: Int, p: Int, v: Column): Column = {
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => x * when(pmod(xxhash64(lit(t), lit(p), j), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    def bucket(t: Int, v: Column): Column =
      (0 until bits).map(p => signBit(t, p, v)).reduce(_ + _)

    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .limit(200)
    val mismatches = emb
      .select(
        expr("sign_lsh_buckets(v)").as("fast"),
        array((0 until tables).map(t => bucket(t, col("v"))): _*).as("ref"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(mismatches === 0L)
  }

  test("sign_lsh_buckets width parameter: wide signature's low bits equal the default " +
      "(planes are width-independent — VERDICT r11 item 1)") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf0001)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .limit(200)
    val defaultBits = graft.functions.SignLshBuckets.Bits
    val mismatches = emb
      .select(
        expr("sign_lsh_buckets(v)").as("narrow"),
        expr("sign_lsh_buckets(v, 10)").as("wide"))
      .filter(col("narrow") =!= transform(col("wide"),
        b => b.bitwiseAND(lit((1L << defaultBits) - 1))))
      .count()
    assert(mismatches === 0L)
    // and the wide form actually uses the extra planes: some bucket must
    // exceed the narrow id range on a 200-vector sample
    val wideMax = emb.select(expr("sign_lsh_buckets(v, 10)").as("w"))
      .select(array_max(col("w")).as("m")).agg(max(col("m"))).first().getLong(0)
    assert(wideMax >= (1L << defaultBits))
  }

  test("minhash_signature equals the explode + per-lane min(xxhash64) aggregate " +
      "bit-for-bit (VERDICT r9 item 1a)") {
    GraftExtensions.register(spark)
    val numHashes = 64
    // real shingle sets, including the word-soup collision structure the
    // banding relies on
    val docs = graft.operators.TextOps.hashedShingleDocs(spark, sf0001)
      .select(col("doc_id"), col("sh")).filter(size(col("sh")) > 0).limit(200)
    val fast = docs
      .select(col("doc_id"),
        expr(s"minhash_signature(sh, $numHashes)").as("mh"))
    val lanes = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh$i"))
    val ref = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy(col("doc_id")).agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("mh"))
    val mismatches = fast.as("f").join(ref.as("r"), "doc_id")
      .filter(col("f.mh") =!= col("r.mh")).count()
    assert(mismatches === 0L)
    assert(fast.count() === ref.count(), "every non-empty set must sign")
    // empty array → all-MaxValue lanes (callers filter; the contract is pinned)
    val empty = spark.sql(
      s"SELECT minhash_signature(CAST(array() AS array<bigint>), $numHashes) AS mh")
      .collect().head
    assert(empty.getSeq[Long](0).forall(_ == Long.MaxValue))
  }

  test("gather_sum expression equals the HOF aggregate(element_at) form bit-for-bit") {
    GraftExtensions.register(spark)
    // vectors and id lists from real data: per-document token-position
    // doubles gathered at md5-derived 1-based positions (some deliberately
    // out of range — gather_sum skips them, so the HOF twin filters the
    // same range)
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        transform(filter(split(col("text"), " "), w => w =!= ""),
          w => length(w).cast("double")).as("vec"))
      .withColumn("ids",
        transform(sequence(lit(0), lit(11)), i =>
          (pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
            i.cast("string"))), 1, 4), 16, 10)
            .cast("int"), lit(96)) + 1).cast("int")))
    val hof = aggregate(
      filter(col("ids"), i => i >= 1 && i <= size(col("vec"))),
      lit(0.0), (acc, i) => acc + element_at(col("vec"), i))
    val rows = docs
      .select((expr("gather_sum(vec, ids)") - hof).as("d"))
      .agg(max(abs(col("d"))), count(lit(1))).collect().head
    // identical left-to-right gather order on both paths → bit equality
    assert(rows.getDouble(0) === 0.0)
    assert(rows.getLong(1) > 0L)
  }

  test("gather_sum is null-safe and skips out-of-range ids") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT gather_sum(array(1.5d, 2.5d, 4.0d), array(1, 3))        AS pick,
        |       gather_sum(array(1.5d, 2.5d), array(0, 5))              AS oob,
        |       gather_sum(CAST(array() AS ARRAY<DOUBLE>), array(1))    AS empty,
        |       gather_sum(CAST(NULL AS ARRAY<DOUBLE>), array(1))       AS nul
        |""".stripMargin).collect().head
    assert(r.getDouble(0) === 5.5)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.0)
    assert(r.isNullAt(3))
  }

  test("rankTopK: min(k, n) rows per query, ranks 1..n, score desc then id asc") {
    import spark.implicits._
    // query 1: five rows, three tied at 0.9 (listed out of id order) and one
    // tie across the k cut; query 2: two rows, fewer than k. Spread over
    // three partitions, so the per-partition limit and the merge both run.
    val sims = Seq(
      (1L, 30L, 0.9), (1L, 10L, 0.9), (1L, 20L, 0.9), (1L, 5L, 0.5), (1L, 4L, 0.5),
      (2L, 7L, 0.1), (2L, 3L, 0.2)
    ).toDF("query_id", "neighbor_id", "cos").repartition(3)
    val got = graft.operators.VectorOps.rankTopK(sims, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, 1, 10L, 0.9), (1L, 2, 20L, 0.9), (1L, 3, 30L, 0.9), (1L, 4, 4L, 0.5),
      (2L, 1, 3L, 0.2), (2L, 2, 7L, 0.1)))
  }
}
