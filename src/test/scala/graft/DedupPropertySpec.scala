package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EtlOps

/** Property tests for the latest-per-key dedup contract
  * (`/root/reference/main.py:149-157`): output keys unique, survivor carries
  * the per-key maximum (ts, seq), survivors are a subset of the input.
  * (Raw scalacheck generators with pinned seeds — the scalatest-plus bridge
  * isn't in the offline dependency set.)
  */
class DedupPropertySpec extends AnyFunSuite with SparkFixture {

  private val rowGen: Gen[(Int, Long, Long, String)] = for {
    key <- Gen.choose(0, 20)
    ts <- Gen.choose(0L, 50L)
    seq <- Gen.choose(0L, 1000000L)
    payload <- Gen.alphaStr.map(_.take(8))
  } yield (key, ts, seq, payload)

  test("latestPerKey: unique keys, survivor = per-key argmax, subset of input") {
    import spark.implicits._
    (1 to 10).foreach { trial =>
      val rows = Gen.listOfN(200, rowGen)
        .apply(Gen.Parameters.default, Seed(trial.toLong))
        .getOrElse(fail(s"generator failed on trial $trial"))
      // make (key, ts, seq) unique so the argmax is well-defined
      val distinctRows = rows.distinctBy(r => (r._1, r._2, r._3))
      val df = distinctRows.toDF("key", "ts", "seq", "payload")
      val out = EtlOps.latestPerKey(df, Seq(col("key")), Seq(col("ts"), col("seq"))).collect()

      val expected = distinctRows.groupBy(_._1).map { case (_, grp) =>
        grp.maxBy(r => (r._2, r._3))
      }.toSet
      val got = out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

      assert(got.map(_._1).size === got.size, s"trial $trial: keys must be unique")
      assert(got === expected, s"trial $trial: survivor must be the per-key (ts, seq) argmax")
    }
  }

  test("latestPerKey agrees with the max_by aggregating form") {
    import spark.implicits._
    val df = Tables.events(spark, sf0001)
    val viaWindow = EtlOps.latestPerKey(df, Seq(col("user_id")), Seq(col("ts"), col("event_id")))
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    val viaMaxBy = df.groupBy($"user_id")
      .agg(max_by($"event_id", struct($"ts", $"event_id")).as("event_id"))
      .as[(Long, Long)].collect().toSet
    assert(viaWindow === viaMaxBy)
  }

  test("latestPerKey survives a pre-existing __graft_rn0 column (ADVICE r1)") {
    import spark.implicits._
    val df = Seq((1, 10L, "a"), (1, 20L, "b"), (2, 5L, "c"))
      .toDF("key", "ts", "__graft_rn0")
    val out = EtlOps.latestPerKey(df, Seq(col("key")), Seq(col("ts")))
      .orderBy("key").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("b", "c"))
    assert(out.head.schema.fieldNames.toSeq === Seq("key", "ts", "__graft_rn0"))
  }

  test("dedup clusters: a valid connected-components labeling of the pair graph") {
    import graft.operators.TextOps
    val rep = TextOps.dedupClusters(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(rep.size === Tables.documents(spark, sf0001).count(), "every doc labeled")
    rep.foreach { case (doc, r) =>
      assert(r <= doc, "rep is a component minimum, never above a member")
      assert(rep(r) === r, "the rep maps to itself")
    }
    // both endpoints of every near-dup pair share a component
    val pairs = TextOps.neardupJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(rep(a) === rep(b), s"pair ($a,$b) split across clusters")
    }
    // labeling is not trivially constant: docs in no pair stay singletons
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    rep.filterNot { case (d, _) => inPairs(d) }
      .foreach { case (d, r) => assert(r === d, "singleton must map to itself") }
  }

  test("clusterAssignment small-graph dispatch: driver union-find arm == " +
      "distributed min-label arm == oracle on randomized graphs (r14)") {
    import spark.implicits._
    import graft.operators.TextOps
    def fullCc(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val edgeGen = for {
      a <- Gen.choose(0, 79); b <- Gen.choose(0, 79) if a != b
    } yield (math.min(a, b).toLong, math.max(a, b).toLong)
    (1 to 4).foreach { trial =>
      val n = 80
      val edges = Gen.listOfN(55, edgeGen)
        .apply(Gen.Parameters.default, Seed(2000L + trial))
        .getOrElse(fail(s"gen failed on trial $trial")).distinct
      val docs = (0L until n.toLong).toDF("doc_id")
      def run(budget: Long): Map[Long, Long] = {
        // the kernel persists its own input, and each arm unpersists it
        val pairs = edges.toDF("doc_a", "doc_b")
        TextOps.clusterAssignment(spark, pairs, docs, budget)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val viaDriver = run(Long.MaxValue) // forces the union-find arm
      val viaDistributed = run(-1L)      // forces the min-label loop
      val expected = fullCc(n, edges)
      assert(viaDriver === expected,
        s"trial $trial: driver union-find arm diverged from oracle (edges: $edges)")
      assert(viaDistributed === expected,
        s"trial $trial: distributed arm diverged from oracle (edges: $edges)")
    }
  }

  test("clusterAssignment above the edge budget: the REAL dispatch takes the " +
      "distributed arm and labels a 120k-edge graph correctly (r14)") {
    import spark.implicits._
    import graft.operators.TextOps
    // deterministic pseudo-random graph over 50k nodes, >SmallGraphEdgeBudget
    // edges — exercises the production dispatch constant, not a forced arm
    val n = 50000
    val nEdges = 120000
    assert(nEdges > TextOps.SmallGraphEdgeBudget,
      "fixture must actually cross the dispatch budget")
    def lcg(s: Long): Long = (s * 6364136223846793005L + 1442695040888963407L)
    val edges = (0 until nEdges).map { i =>
      val h = lcg(i.toLong)
      val a = math.floorMod(h, n).toLong
      val b = math.floorMod(h >>> 17, n).toLong
      if (a == b) (a, (b + 1) % n) else (math.min(a, b), math.max(a, b))
    }.distinct
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val pairs = edges.toDF("doc_a", "doc_b").repartition(col("doc_a"))
    val got = TextOps.clusterAssignment(spark, pairs,
        (0L until n.toLong).toDF("doc_id")) // default budget → distributed arm
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected,
      "distributed min-label arm must equal the union-find oracle at volume")
  }

  test("incremental cluster merge: randomized graphs — merge(corpusCC, delta) == " +
      "fullCC(all pairs) on every trial (r12)") {
    import spark.implicits._
    import graft.operators.TextOps
    // driver-side CC oracle: union-find with path compression, min-id rep
    def fullCc(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } }
      // min-id rep: union by smaller root above keeps roots minimal
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val edgeGen = for {
      a <- Gen.choose(0, 59); b <- Gen.choose(0, 59) if a != b
    } yield (math.min(a, b).toLong, math.max(a, b).toLong)
    (1 to 6).foreach { trial =>
      val n = 60
      val edges = Gen.listOfN(45, edgeGen)
        .apply(Gen.Parameters.default, Seed(1000L + trial))
        .getOrElse(fail(s"gen failed on trial $trial")).distinct
      // batch = ids ≥ 48 (20%); corpus = the rest — mirrors the salted split
      val isBatch = (x: Long) => x >= 48
      val corpusEdges = edges.filter { case (a, b) => !isBatch(a) && !isBatch(b) }
      val deltaEdges = edges.filter { case (a, b) => isBatch(a) || isBatch(b) }
      val corpusIds = (0L until 48L)
      val corpusCc = fullCc(48, corpusEdges)
      val corpusAssign = corpusIds.map(i => (i, corpusCc(i))).toDF("doc_id", "cluster_rep")
      val delta = deltaEdges.toDF("doc_a", "doc_b")
      val batchDocs = (48L until 60L).toDF("doc_id")
      val merged = TextOps.mergeClusterAssignment(spark, corpusAssign, delta, batchDocs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = fullCc(n, edges)
      assert(merged === expected,
        s"trial $trial: merge diverged from full CC (edges: $edges)")
    }
  }

  test("repeatedSpanStats: a planted cross-doc 20-token span is counted exactly, " +
      "same-language only") {
    import graft.operators.TextOps
    import spark.implicits._
    val span = (1 to 20).map(i => s"planted$i").mkString(" ")
    def filler(seed: Int, n: Int) = (1 to n).map(i => s"w${seed}x$i").mkString(" ")
    // en: doc 1 carries the span once, doc 2 twice (head and tail), doc 4 not
    // at all; de: doc 3 carries it but has no same-language partner — a
    // cross-language span must NOT count (keys are (lang, hash))
    val docs = Seq(
      (1L, filler(1, 30) + " " + span + " " + filler(2, 5), "en", "s", 0L),
      (2L, span + " " + filler(3, 25) + " " + span, "en", "s", 0L),
      (3L, filler(4, 10) + " " + span, "de", "s", 0L),
      (4L, filler(5, 60), "en", "s", 0L))
    val dir = "target/tmp/spanspec"
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.repeatedSpanStats(spark, dir).collect()
    // every non-span window contains a per-doc filler token, so exactly ONE
    // duplicated key exists, in en: 1 occurrence in doc 1 + 2 in doc 2
    assert(out.length === 1, s"only en has a cross-doc span:\n${out.mkString("\n")}")
    val r = out.head
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[Long]("dup_span_keys") === 1L)
    assert(r.getAs[Long]("dup_span_occurrences") === 3L)
    assert(r.getAs[Long]("docs_affected") === 2L)
  }
}
