package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the embedding-similarity graph — the quality-signal
  * layer of a crawl-scale training-data pipeline: centrality as a document
  * quality prior (production pipelines weight pages by host-graph
  * PageRank-family scores) and local clustering structure as a redundancy
  * signal. The graph here is the cosine ≥ 0.4 near-dup relation
  * ([[VectorOps.cosineNeardupPairs]], oracle-checked on its own); at 100 TB
  * the edge source swaps to the LSH/banded candidate generators — the graph
  * algorithms below never ask where edges came from.
  *
  * Both operators follow the [[graft.operators.TextOps]] dedup-cluster
  * stance for iterative/relational graph work: state proportional to nodes
  * (ranks, degrees), traffic proportional to edges (contributions, wedge
  * joins), no driver-side adjacency, and every arithmetic step in exact
  * integers so the DuckDB oracles hash-match bit for bit.
  */
object GraphOps {

  /** The oriented (vec_a < vec_b) pair relation, persisted: both operators
    * below read it from several plan branches, and the all-pairs cosine
    * behind it must run once. The one fill count the materialization rule
    * keeps (see [[TextOps.unpersistAfterAction]], which the caller pairs
    * this with): with AQE off the planner sizes the census joins from the
    * filled cache (broadcasts; unfilled, the all-pairs estimate plans them
    * sort-merge), and under AQE it saves the ~6 one-task jobs the pair
    * relation's reading branches submit against an unfilled cache.
    */
  private def cachedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = VectorOps.cosineNeardupPairsImpl(spark, sfDir)
      .select(col("vec_a"), col("vec_b"))
      .persist()
    pairs.count()
    pairs
  }

  /** Undirected edge list (both orientations) over the cached pairs. */
  private def edgesOf(pairs: DataFrame): DataFrame =
    pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))

  /** SQL prelude shared by both oracles: the same edge relation, derived
    * with the exact arithmetic of `cosineNeardupPairsSql`. */
  private val edgesCte: String =
    """pairs AS (
      |  SELECT vec_a, vec_b FROM (
      |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
      |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |  WHERE cos >= 0.4
      |), edges AS (
      |  SELECT vec_a AS src, vec_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT vec_b AS src, vec_a AS dst FROM pairs
      |)""".stripMargin

  /** PAGERANK as a quality prior — two fixed iterations of the power
    * method in SCALED-INTEGER arithmetic: every node starts at
    * 1,000,000; one iteration is
    * `r' = 150000 + (850 · Σ_in (r_u div deg_u)) div 1000`
    * (damping 0.85 with the per-node base form; isolated nodes keep the
    * teleport mass 150000 + 0). Integer division makes each step
    * engine-exact, so a CENTRALITY computation — normally a float fixpoint
    * nobody can oracle — hash-matches DuckDB's unrolled twin exactly.
    * Fixed iteration count keeps the operator relational; production runs
    * the same loop to an epsilon the way [[TextOps]]' connected-components
    * loop does, with identical scale behavior: state O(nodes), one
    * edge-shuffle + node-aggregate per iteration, no adjacency ever
    * collected.
    *
    * The kernel is package-private so GraphOpsSpec can drive it over
    * hand-computed fixture graphs (the oracle proves Spark ≡ DuckDB; the
    * fixture proves the formula). `nodes` must have a `vec_id` column;
    * `pairs` must be (vec_a, vec_b) oriented vec_a < vec_b. Returns
    * (vec_id, r) after `iters` iterations.
    */
  private[graft] def rankOverPairs(nodes: DataFrame, pairs: DataFrame,
      iters: Int): DataFrame = {
    val e = edgesOf(pairs)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val withDeg = e.join(deg, "src")

    def iterate(rank: DataFrame): DataFrame = {
      val contrib = withDeg
        .join(rank.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      // FULL OUTER, not left (r11 count()-pruning audit): contrib's keys
      // are edge endpoints, a subset of `nodes` by construction (pairs are
      // mined from the same embeddings relation), so the two forms are
      // row-identical — but a pruned unique-key LEFT join is eliminated by
      // Catalyst under a cardinality-only action, which deleted BOTH
      // PageRank iterations from the bench's timed plan. Full outer pins
      // the iteration chain; the oracle gate re-proves row identity.
      nodes.select(col("vec_id"))
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          (lit(150000L) + expr("(850 * coalesce(cin, 0L)) div 1000")).as("r"))
    }

    val r0 = nodes.select(col("vec_id"), lit(1000000L).as("r"))
    (1 to iters).foldLeft(r0)((r, _) => iterate(r))
  }

  /** Output: per embedding label, node count, nodes in the graph, total /
    * max final rank, and how many nodes beat their starting mass (the
    * "hub" set a quality-weighting stage would upsample). */
  def graphRankStats(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val pairs = cachedPairs(spark, sfDir)
    val deg = edgesOf(pairs).groupBy(col("src")).agg(count(lit(1)).as("d"))
    val r2 = rankOverPairs(emb, pairs, iters = 2)
    TextOps.unpersistAfterAction(spark, pairs)
    r2.join(emb, "vec_id")
      .join(deg.withColumnRenamed("src", "vec_id")
        .withColumnRenamed("d", "deg"), Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("deg").isNotNull, 1L).otherwise(0L)).as("n_in_graph"),
        sum(col("r")).as("total_rank"),
        max(col("r")).as("max_rank"),
        sum(when(col("r") > 1000000L, 1L).otherwise(0L)).as("n_hubs"))
      .orderBy(col("label"))
  }

  val graphRankStatsSql: String =
    s"""WITH $edgesCte,
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      |r0 AS (SELECT vec_id, 1000000::BIGINT AS r FROM embeddings),
      |c1 AS (SELECT e.dst, sum(r.r // dg.d) AS cin
      |       FROM edges e JOIN r0 r ON e.src = r.vec_id JOIN deg dg ON e.src = dg.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT v.vec_id, 150000 + (850 * coalesce(c.cin, 0)) // 1000 AS r
      |       FROM embeddings v LEFT JOIN c1 c ON v.vec_id = c.dst),
      |c2 AS (SELECT e.dst, sum(r.r // dg.d) AS cin
      |       FROM edges e JOIN r1 r ON e.src = r.vec_id JOIN deg dg ON e.src = dg.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT v.vec_id, 150000 + (850 * coalesce(c.cin, 0)) // 1000 AS r
      |       FROM embeddings v LEFT JOIN c2 c ON v.vec_id = c.dst)
      |SELECT m.label, count(*) AS n_nodes,
      |       CAST(sum(CASE WHEN dg.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_graph,
      |       CAST(sum(r2.r) AS BIGINT) AS total_rank,
      |       CAST(max(r2.r) AS BIGINT) AS max_rank,
      |       CAST(sum(CASE WHEN r2.r > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_hubs
      |FROM r2 JOIN embeddings m ON r2.vec_id = m.vec_id
      |LEFT JOIN deg dg ON r2.vec_id = dg.src
      |GROUP BY m.label
      |ORDER BY m.label""".stripMargin

  /** TRIANGLE / WEDGE census — the local-clustering signal (a tight
    * triangle-rich neighborhood in a similarity graph is a redundancy
    * cluster; the global closure ratio says how "clumped" the near-dup
    * mass is). Node-iterator form on id-ORIENTED edges: every triangle
    * {a < b < c} is counted exactly once by joining its two out-edges
    * (a→b, b→c) against the closing edge (a→c) — wedge traffic is the
    * join's intermediate, never materialized per node. At 100 TB the
    * orientation switches from id order to DEGREE order (lower-degree
    * endpoint first, the Suri–Vassilvitskii/Cohen MapReduce-triangles
    * trick), which caps per-node wedge fan-out at O(√E) and turns the
    * worst-case hub blowup into the published O(E^{3/2}) bound — the
    * operator is otherwise unchanged.
    *
    * Output: one row — nodes touching an edge, undirected edge count,
    * wedge count Σ C(deg, 2), triangle count, and the global closure
    * ratio 3·triangles / wedges (rounded; ratio of exact integers).
    */
  /** The census kernel on an arbitrary oriented pair relation — see
    * [[rankOverPairs]] for the fixture-testing rationale. */
  private[graft] def censusOverPairs(pairs: DataFrame): DataFrame = {
    val oriented = pairs.select(col("vec_a").as("a"), col("vec_b").as("b")) // vec_a < vec_b
    val deg = edgesOf(pairs).groupBy(col("src")).agg(count(lit(1)).as("d"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    val triangles = wedges
      .join(oriented.as("e3"), col("wa") === col("e3.a") && col("wc") === col("e3.b"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      expr("sum((d * (d - 1)) div 2)").as("n_wedges"))
    val triCount = triangles.agg(count(lit(1)).as("n_triangles"))
    degStats.crossJoin(triCount) // 1×1 rows: global census join
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("closure_ratio"))
  }

  def graphTriangleStats(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = cachedPairs(spark, sfDir)
    val census = censusOverPairs(pairs)
    TextOps.unpersistAfterAction(spark, pairs)
    census
  }

  val graphTriangleStatsSql: String =
    s"""WITH $edgesCte,
      |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      |deg_stats AS (
      |  SELECT count(*) AS n_nodes,
      |         CAST(sum(d) // 2 AS BIGINT) AS n_edges,
      |         CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM pairs e1
      |  JOIN pairs e2 ON e1.vec_b = e2.vec_a
      |  JOIN pairs e3 ON e1.vec_a = e3.vec_a AND e2.vec_b = e3.vec_b)
      |SELECT n_nodes, n_edges, n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
      |       round(3.0 * n_triangles / n_wedges, 6) AS closure_ratio
      |FROM deg_stats, tri""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_rank_stats" -> (graphRankStats(_, _)),
    "graph_triangle_stats" -> (graphTriangleStats(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "graph_rank_stats" -> graphRankStatsSql,
    "graph_triangle_stats" -> graphTriangleStatsSql
  )

  /** Both run the all-pairs cosine edge source (the same allocation profile
    * that puts cosine_neardup_pairs in the solo-fork set). */
  val heavyQueries: Set[String] = Set("graph_rank_stats", "graph_triangle_stats")
}
