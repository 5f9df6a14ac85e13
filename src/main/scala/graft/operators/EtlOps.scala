package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Reference-semantics ETL operators (SURVEY.md §2.1), re-expressed as
  * declarative DataFrame transforms.
  *
  * The crown jewel is `latestPerKey` — the reference's latest-snapshot-per-run
  * dedup (`/root/reference/main.py:149-157`): newest extraction wins per run
  * id. Two forms:
  *   - `latestPerKey` (general): window `row_number() = 1`, which Spark's
  *     `InferWindowGroupLimit` limits to one row per key per partition
  *     before the shuffle (a Partial WindowGroupLimit over a sort), then
  *     sorts again after it. Keeps the whole surviving ROW, any width.
  *   - argmax-of-one-column via `max_by` (see `latestEventPerUser`): its
  *     struct buffer cannot live in a hash aggregate, so Spark plans a
  *     partial and a final SortAggregate, one sort on each side of the
  *     shuffle — the same sorts and the same one shuffle as the window.
  */
object EtlOps {

  /** Latest-snapshot-per-key dedup: the row ranked first by `newestFirst`
    * (every column descending) per `key`.
    * NOT `dropDuplicates(key)` — that keeps an arbitrary row; the reference
    * pins the newest (`main.py:149-157`), so ranking must be explicit.
    * Scale: one shuffle on `key`, carrying at most one row per key per
    * partition; at 100 TB prefer a lake pre-bucketed by `key` so the
    * shuffle is elided.
    */
  def latestPerKey(df: DataFrame, key: Seq[Column], newestFirst: Seq[Column]): DataFrame = {
    // Collision-safe rank column: pick a name absent from df.columns.
    val rn = Iterator.from(0).map(i => s"__graft_rn$i").find(!df.columns.contains(_)).get
    val w = Window.partitionBy(key: _*).orderBy(newestFirst.map(_.desc): _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Two-phase salted aggregation for pathologically skewed keys: phase 1
    * aggregates on (key, hash(row) % S) — the hot key's load spreads over S
    * reducers — phase 2 merges the S partials per key. For algebraic
    * aggregates Spark's map-side partial aggregation usually makes this
    * unnecessary; it matters when per-group state is large (collect-like,
    * exact distinct) and one key dominates. `agg` maps an output column to
    * (phase1, phase2) aggregate builders.
    */
  def saltedAgg(df: DataFrame, key: Seq[Column], salt: Column, buckets: Int,
      phase1: Seq[Column], phase2: Seq[Column]): DataFrame = {
    val p1 = df
      .groupBy(key :+ pmod(hash(salt), lit(buckets)).as("__salt"): _*)
      .agg(phase1.head, phase1.tail: _*)
    p1.groupBy(key: _*).agg(phase2.head, phase2.tail: _*)
  }

  /** Flagship (SURVEY.md §7.2): reference E3 read-path semantics on `events` —
    * latest event per user (ts desc, event_id desc tie-break), then count
    * survivors per event_type, totally ordered.
    *
    * Uses the argmax-aggregating form: `max_by(event_type, struct(ts, event_id))`
    * runs as a partial and a final SortAggregate (map-side combine, a sort
    * on each side of the exchange), the plan `latestPerKey`'s window gets
    * too. `latestPerKey` stays the general op for whole-row survival.
    */
  def latestEventPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.groupBy(col("user_id"))
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("event_type"))
  }

  val latestEventPerUserSql: String =
    """SELECT event_type, count(*) AS n_users
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Per-user event stats THROUGH the two-phase salted aggregate — the
    * oracle-checked proof that `saltedAgg` equals the plain one-phase
    * groupBy (salting is semantics-invisible; only the shuffle layout
    * changes). Decimal sum, not double: decimal addition is associative, so
    * the two-phase regrouping cannot drift a ulp from the oracle's
    * single-phase sum; the fixed-scale string render matches DuckDB
    * byte-for-byte (FIXTURES cross-engine rules).
    */
  def saltedUserStats(spark: SparkSession, sfDir: String): DataFrame =
    saltedAgg(
      Tables.events(spark, sfDir).select(col("user_id"), col("event_id"), col("value")),
      Seq(col("user_id")), col("event_id"), 16,
      Seq(sum(col("value").cast("decimal(18,4)")).as("s"), count(lit(1)).as("c")),
      Seq(sum(col("s")).cast("decimal(18,4)").cast("string").as("total_value"),
        sum(col("c")).as("n_events")))
      .orderBy(col("user_id"))

  val saltedUserStatsSql: String =
    """SELECT user_id,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))::VARCHAR AS total_value,
      |       count(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Replicated-salted equi-join for skewed keys — the JOIN-side complement
    * of [[saltedAgg]] (AQE's skew-join split handles sort-merge skew at
    * runtime; this is the explicit form for when a handful of hot keys
    * dominate and the planner can't see it, e.g. post-filter skew). The big
    * side gains a deterministic salt in [0, buckets); the small side is
    * replicated once per salt value; the join key becomes (keys, salt), so
    * one hot key's rows spread across `buckets` reducers instead of one.
    * Row multiplicity is untouched — the result equals the unsalted join
    * exactly (oracle-checked via `salted_join_type_stats`).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salt: Column, buckets: Int): DataFrame = {
    val sc = Iterator.from(0).map(i => s"__graft_salt$i")
      .find(n => !big.columns.contains(n) && !small.columns.contains(n)).get
    val saltedBig = big.withColumn(sc, pmod(hash(salt), lit(buckets)))
    val replicatedSmall = small.withColumn(sc,
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(replicatedSmall, keys :+ sc).drop(sc)
  }

  /** Events joined to their per-type totals THROUGH the salted join — 5
    * distinct keys over the whole table is exactly the pathological-skew
    * shape (every key is hot). The oracle runs the plain unsalted join:
    * equality proves salting is semantics-invisible.
    */
  def saltedJoinTypeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_total"))
    saltedJoin(ev, dim, Seq("event_type"), col("event_id"), 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), max(col("type_total")).as("type_total"))
      .orderBy(col("event_type"))
  }

  val saltedJoinTypeStatsSql: String =
    """WITH dim AS (
      |  SELECT event_type, count(*) AS type_total FROM events GROUP BY event_type
      |)
      |SELECT e.event_type, count(*) AS n_events, max(d.type_total) AS type_total
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  /** SCD2 (slowly-changing-dimension type 2) history build: each user's
    * purchase stream becomes validity intervals — `valid_from` = the event
    * time, `valid_to` = the NEXT event's time (null while current), via one
    * window pass. The standard warehouse snapshot-to-history op; downstream
    * as-of lookups become `BETWEEN valid_from AND valid_to` range probes.
    * One shuffle on user_id; at 100 TB the same window runs per key shard,
    * and an incremental variant folds only new events into open intervals
    * (the streaming twin is `StreamingOps.userStatsStream`'s keyed state).
    */
  def scd2UserValueHistory(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("seq", row_number().over(w))
      // boundary columns in MICROseconds: ordering uses the full nano ts,
      // but DuckDB timestamps are micro-resolution, so the exported
      // boundaries use the common precision (epoch_us on the oracle side)
      .withColumn("valid_from", expr("ts div 1000"))
      .withColumn("valid_to", lead(expr("ts div 1000"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("seq"), col("value"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("seq"))
  }

  // Spark reads events.ts as bigint nanos (nanosAsLong, see Tables); the
  // oracle's TIMESTAMP is micro-resolution, so both sides export micros.
  val scd2UserValueHistorySql: String =
    """SELECT user_id, seq, value, valid_from, valid_to, is_current FROM (
      |  SELECT user_id, value, epoch_us(ts) AS valid_from,
      |         row_number() OVER w AS seq,
      |         lead(epoch_us(ts)) OVER w AS valid_to,
      |         (lead(ts) OVER w IS NULL) AS is_current
      |  FROM events
      |  WHERE event_type = 'purchase'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |ORDER BY user_id, seq""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "latest_event_per_user" -> (latestEventPerUser(_, _)),
    "salted_user_stats" -> (saltedUserStats(_, _)),
    "salted_join_type_stats" -> (saltedJoinTypeStats(_, _)),
    "scd2_user_value_history" -> (scd2UserValueHistory(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "latest_event_per_user" -> latestEventPerUserSql,
    "salted_user_stats" -> saltedUserStatsSql,
    "salted_join_type_stats" -> saltedJoinTypeStatsSql,
    "scd2_user_value_history" -> scd2UserValueHistorySql
  )
}
