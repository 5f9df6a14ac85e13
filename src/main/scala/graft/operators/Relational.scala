package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Generalization suite over the star schema (SURVEY.md §2.2): joins
  * (broadcast / sort-merge / semi / anti / as-of / range), multi-aggregates,
  * rollup, set ops, per-group top-k, running windows.
  *
  * Scale/design notes (100 TB):
  *   - Small dims (`part`, `nation`, `supplier`) are explicitly
  *     `broadcast()`-hinted: no shuffle of the fact side.
  *   - Fact⋈fact (orders⋈lineitem) shuffles both sides on the join key —
  *     the sort-merge plan; at 100 TB co-locate by bucketing both tables on
  *     orderkey to elide the shuffle.
  *   - The as-of join is the union/sort form (last non-null carried forward),
  *     NOT a per-row range join: one shuffle + sort, no pair blowup.
  *   - Every query output is totally ordered on a unique key (driver
  *     hash-compares row streams; SURVEY §7.4), and double sums are rounded
  *     identically on both engines (FIXTURES §B.3.3).
  */
object Relational {

  /** Broadcast hash join: lineitem ⋈ part (small dim), revenue per brand.
    * `broadcast(part)` keeps the 600 M-row fact side un-shuffled at scale.
    */
  def joinBroadcastParts(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val pt = Tables.part(spark, sfDir)
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val joinBroadcastPartsSql: String =
    """SELECT p_brand,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Fact ⋈ fact: orders ⋈ lineitem on orderkey (sort-merge / shuffled hash at
    * scale — both sides big). Per-priority order stats.
    */
  def joinSortMergeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_line_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val joinSortMergeOrdersSql: String =
    """SELECT o_orderpriority,
      |       count(*) AS n_line_items,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_price
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Left semi join: customers having at least one URGENT order.
    * Semi keeps the build side de-duplicated — no fan-out, unlike inner+distinct.
    */
  def joinSemiCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val urgent = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val joinSemiCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left anti join: customers with NO urgent order (complement of the semi). */
  def joinAntiCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val urgent = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val joinAntiCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** TPC-H Q1-style multi-aggregate pricing summary: partial+final hash agg,
    * filter pushed to the parquet scan. All double sums rounded identically
    * on both engines (FIXTURES §B.3.3).
    */
  def aggPricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val aggPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
      |       round(avg(l_quantity), 2) AS avg_qty,
      |       round(avg(l_extendedprice), 2) AS avg_price,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Per-group top-k: 3 priciest orders per priority via row_number ≤ k.
    * Spark plans the filter as a Partial WindowGroupLimit below the
    * shuffle, so each partition keeps ≤ k rows per priority before the
    * exchange — the engine's one per-group top-k form.
    */
  def topkOrdersPerPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ord.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  val topkOrdersPerPrioritySql: String =
    """SELECT o_orderpriority, rk, o_orderkey, o_totalprice
      |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
      |             row_number() OVER (PARTITION BY o_orderpriority
      |                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |      FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_orderpriority, rk""".stripMargin

  /** Set ops: (nations with customers ∩ nations with suppliers)
    * ∪ (all nations ∖ nations with customers). Exercises intersect,
    * union-distinct, except in one deterministic query.
    */
  def setopsNations(spark: SparkSession, sfDir: String): DataFrame = {
    val custN = Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey")).distinct()
    val suppN = Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey")).distinct()
    val allN = Tables.nation(spark, sfDir).select(col("n_nationkey").as("nationkey"))
    custN.intersect(suppN)
      .union(allN.except(custN))
      .distinct()
      .orderBy(col("nationkey"))
  }

  val setopsNationsSql: String =
    """SELECT nationkey FROM (
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   INTERSECT
      |   SELECT s_nationkey FROM supplier)
      |  UNION
      |  (SELECT n_nationkey FROM nation
      |   EXCEPT
      |   SELECT c_nationkey FROM customer)
      |)
      |ORDER BY nationkey""".stripMargin

  /** Rollup over (status, priority): subtotal + grand-total rows.
    * NULLS FIRST pinned on both engines (Spark default asc = nulls first;
    * DuckDB default is nulls last).
    */
  def rollupOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    ord.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val rollupOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Running window per user: lag + running sum with an explicit ROWS frame
    * (RANGE would diverge across engines on duplicate ts). Running-sum
    * association order is the frame order on both engines → deterministic.
    */
  def windowRunningUserValue(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        round(sum(col("value")).over(wRun), 2).as("run_sum"),
        row_number().over(w).as("seq"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val windowRunningUserValueSql: String =
    """SELECT user_id, event_id, value,
      |       lag(value, 1) OVER w AS prev_value,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
      |       row_number() OVER w AS seq
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** As-of join: for each purchase, the user's most recent STRICTLY-earlier
    * click. Union/sort form — last non-null carried forward over a ROWS
    * (..., -1) frame: ONE shuffle+sort of the event stream, no pairwise
    * range-join blowup. This is the 100 TB as-of plan.
    */
  def asofPurchaseClick(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("click_id", when(col("event_type") === "click", col("event_id")))
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("last_click_id"))
      .orderBy(col("purchase_id"))
  }

  val asofPurchaseClickSql: String =
    """SELECT user_id, purchase_id, last_click_id FROM (
      |  SELECT user_id, event_id AS purchase_id, event_type,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  /** Range join: clicks by the same user within the hour before each purchase.
    * Equi-join on user_id (shuffle key) + nanosecond range predicate as a
    * post-join filter — integer nanos math, exact on both engines.
    */
  def rangeClicksBeforePurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    purchases
      .join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("ts") - lit(3600000000000L) &&
          col("c_ts") < col("ts"),
        "left")
      .groupBy(col("user_id"), col("purchase_id"))
      .agg(count(col("c_ts")).as("n_clicks_1h"))
      .orderBy(col("purchase_id"))
  }

  val rangeClicksBeforePurchaseSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, count(c.ts) AS n_clicks_1h
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND epoch_ns(c.ts) >= epoch_ns(p.ts) - 3600000000000
      | AND epoch_ns(c.ts) < epoch_ns(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.user_id, purchase_id
      |ORDER BY purchase_id""".stripMargin

  /** Left outer join with null-preserving aggregation: every customer keeps
    * a row whether or not they have orders; order-side measures coalesce to
    * zero. The aggregate runs BEFORE the join (shuffle on the pre-shrunk
    * per-customer rollup, not the raw fact table).
    */
  def joinOuterCustomerOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val perCust = ord.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("spent"))
    cust.join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("spent"), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  val joinOuterCustomerOrdersSql: String =
    """SELECT c_custkey,
      |       coalesce(n, 0) AS n_orders,
      |       coalesce(spent, 0.0) AS total_spent
      |FROM customer
      |LEFT OUTER JOIN (
      |  SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS spent
      |  FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Full outer join of two per-nation rollups: either side may be absent
    * for a nation; the other side's key carries through via coalesce of the
    * join keys — the standard reconciliation-report shape.
    */
  def joinFullOuterNationStats(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(spark, sfDir)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  val joinFullOuterNationStatsSql: String =
    """SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
      |       coalesce(n_cust, 0) AS n_cust,
      |       coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey)
      |FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
      |  ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Ranking-function family: rank / dense_rank / ntile over the same
    * deterministic window (price desc, key tiebreak). One shuffle on the
    * partition key; all four functions evaluate in a single window pass.
    */
  def rankFunctionsOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ord.select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .orderBy(col("o_orderpriority"), col("rnk"), col("o_orderkey"))
  }

  val rankFunctionsOrdersSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       ntile(4) OVER w AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin

  /** TPC-H Q3-shaped shipping-priority query: the canonical 3-way
    * fact⋈fact⋈dim join with filters on every input — customer segment,
    * order date below / ship date above a cutoff — then revenue per order
    * and a global top-10. The plan the optimizer should produce (and
    * `graft.Explain` confirms): all three filters pushed to the parquet
    * scans, orders⋈lineitem as the shuffle join on orderkey, the
    * segment-filtered customer side joined without shuffling the fact rows
    * more than once, and the final top-10 as TakeOrderedAndProject (no
    * global sort). Ordering is on the ROUNDED revenue + key tiebreak, so
    * cross-engine float ulps cannot flip ranks.
    */
  def revenueTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp_ntz")
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val revenueTopOrdersSql: String =
    """SELECT o_orderkey, o_orderdate,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-shaped regional revenue: the 6-table join
    * (region⋈nation⋈customer⋈orders⋈lineitem⋈supplier) with the classic
    * co-nationality predicate (customer and supplier share a nation).
    * Region and nation are `broadcast()`-hinted — tiny dims must never
    * shuffle the fact side; customer/orders/lineitem/supplier join on keys
    * (at 100 TB: bucket orders+lineitem on orderkey to elide that shuffle).
    * Output is one row per nation in the region, ordered by name — not by
    * the float revenue — for cross-engine rank stability.
    */
  def regionalRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val supp = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  val regionalRevenueSql: String =
    """SELECT n_name,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |JOIN lineitem ON l_suppkey = s_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** TPC-H Q10-shaped returned-item revenue ranking, expressed as ONE ANSI
    * SQL string executed by BOTH engines: Spark runs it via
    * `spark.sql` over temp views (the SQL entry point of the engine —
    * Catalyst plans it exactly like the DataFrame form), and the identical
    * text is the DuckDB oracle. Dialect-portable by construction; ordering
    * is on the rounded aggregate + key tiebreak.
    */
  val sqlApiRevenueText: String =
    """SELECT c_custkey, c_name, n_name,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  def sqlApiRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    spark.sql(sqlApiRevenueText)
  }

  /** BLOOM-PREFILTER join — the sideways-information-passing pattern for
    * selective fact⋈fact joins at 100 TB: build a Bloom filter over the
    * join keys surviving the SELECTIVE side's predicate (one aggregate →
    * a ~1 MiB binary), ship it as a scalar subquery, and apply it as a
    * scan-side predicate on the BIG side — so the petabyte side sheds
    * non-matching rows before paying the shuffle, the one cost that
    * dominates a large join. False positives are semantically harmless:
    * the exact join downstream removes them, which is why the result is
    * oracle-checked against the PLAIN join (bloom + exact join ≡ join, for
    * any filter contents).
    *
    * Spark-first: the bloom machinery is Spark's OWN runtime-filter pair
    * (`BloomFilterAggregate` / `BloomFilterMightContain` — what
    * `InjectRuntimeFilter` plants when its 10 GiB application-side
    * threshold is met, i.e. never at test SFs), surfaced as registered
    * functions by [[graft.functions.GraftExtensions]] so the plan is
    * explicit, deterministic, and testable: PlanShapeSpec pins the
    * `might_contain` predicate into the lineitem scan filter and
    * SourceAndSkewSpec-style pruning is asserted in CustomFunctionSpec
    * (bloom pass-rate strictly between the exact-match rate and 1).
    */
  val bloomPrefilterOrdersText: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM (SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem
      |      WHERE graft_might_contain(
      |        (SELECT graft_bloom_agg(o_orderkey) FROM orders
      |         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
      |        l_orderkey)) l
      |JOIN (SELECT o_orderkey, o_orderpriority FROM orders
      |      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) o
      |  ON l.l_orderkey = o.o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def bloomPrefilterOrders(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftExtensions.register(spark)
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(bloomPrefilterOrdersText)
  }

  /** Oracle = the PLAIN join: the bloom is a pure prefilter, so the result
    * must be byte-identical to never having built it. */
  val bloomPrefilterOrdersSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** BUCKETED co-located fact⋈fact join — the module scaladoc's "at 100 TB
    * co-locate by bucketing both tables on orderkey" made executable: both
    * sides are written as bucketed+sorted tables on their join key, so the
    * sort-merge join consumes the on-disk layout directly — NO shuffle on
    * either fact side (pinned in PlanShapeSpec); the only exchange left is
    * the final (tiny) per-priority aggregate. A within-partition Sort above
    * each scan remains — Spark removed sorted-bucket-scan elision
    * (SPARK-24528) — but sorting already-sorted runs is linear and local;
    * the eliminated shuffle is the part that matters at scale.
    *
    * 100 TB framing: this is THE lever for repeated fact⋈fact joins — the
    * shuffle is paid once at write time and amortized over every subsequent
    * join; bucket count scales with data (8 here, thousands on a cluster,
    * matched on both sides). The bucketed write runs inside the query
    * (Overwrite, per-SF table names) so the driver measures the honest
    * layout + query cost; a production lake writes once per ingest.
    * Bucket metadata lives in the session catalog (`saveAsTable` +
    * `spark.table`) — reading the same files path-wise would silently lose
    * the co-location guarantee.
    */
  /** Drop + clear a managed bucketed table so Overwrite CTAS always
    * succeeds: a PREVIOUS session's table files survive in the warehouse
    * while this session's in-memory catalog has never heard of the table —
    * without clearing the location, CTAS fails LOCATION_ALREADY_EXISTS.
    */
  private def resetBucketTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the catalog lowercases table names when deriving the managed location —
    // match it, or an uppercase SF name would clear the wrong path
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def bucketedJoinOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = Tables.sfName(sfDir).replaceAll("[^A-Za-z0-9]", "_")
    val ordersTbl = s"graft_orders_bkt_$sfName"
    val liTbl = s"graft_lineitem_bkt_$sfName"
    resetBucketTable(spark, ordersTbl)
    resetBucketTable(spark, liTbl)
    // repartition on the bucket key with the bucket count BEFORE the write:
    // Spark's bucket router and repartition use the same hash, so each
    // writer task owns exactly one bucket → ONE file per bucket, which is
    // what lets the scan trust the sortBy order and elide the merge-side
    // Sort (multi-file buckets force a defensive re-sort).
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(8, col("o_orderkey"))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordersTbl)
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(8, col("l_orderkey"))
      .write.format("parquet").mode(SaveMode.Overwrite)
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTbl)
    spark.table(liTbl)
      .join(spark.table(ordersTbl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val bucketedJoinOrdersSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** DECLARATIVE DATA-QUALITY CONSTRAINT AUDIT — the Deequ/dbt-test/
    * Great-Expectations staple every production lake runs before
    * publishing a table: a suite of named constraints evaluated into one
    * (constraint, n_checked, n_violations, pass) ledger. The suite here
    * exercises each constraint FAMILY once over the TPC-H tables:
    *
    *   - completeness (NOT NULL): o_orderkey
    *   - uniqueness: o_orderkey; composite (l_orderkey, l_linenumber)
    *   - referential integrity (FK ⊆ PK): orders.o_custkey → customer;
    *     lineitem.l_orderkey → orders
    *   - range: o_totalprice > 0; l_quantity ∈ [1, 50]
    *   - set membership: o_orderstatus ∈ {O, F, P}
    *
    * 100 TB shape: every per-table family (completeness/range/set) is ONE
    * conditional partial aggregate over one scan — adding checks adds
    * columns to the agg, not passes over the data (the Deequ analyzer
    * design); uniqueness is a count-distinct shuffle on the key (swap in
    * approx_count_distinct for a cheap advisory tier at extreme scale);
    * referential integrity is a left-anti join, broadcast when the PK
    * side is dim-sized, AQE-planned otherwise. The ledger is rows, so it
    * lands in the same dashboards as any other table.
    */
  def constraintAuditStats(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)

    // a 1-row analyzer frame → named ledger rows (fully declarative — the
    // whole audit is one lazy plan, no driver-side collects)
    def unroll(agg1row: DataFrame, entries: (String, String)*): DataFrame =
      agg1row.select(explode(array(entries.map { case (name, violCol) =>
        struct(lit(name).as("check_name"), col("n").as("n_checked"),
          col(violCol).cast("long").as("n_violations"))
      }: _*)).as("c")).select(col("c.*"))

    // one scan per table, every scalar constraint a conditional sum
    val oAgg = orders.agg(
      count(lit(1)).as("n"),
      sum(col("o_orderkey").isNull.cast("long")).as("null_key"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_key"),
      sum((!(col("o_totalprice") > 0)).cast("long")).as("bad_price"),
      sum((!col("o_orderstatus").isin("O", "F", "P")).cast("long")).as("bad_status"))
    val lAgg = lineitem.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) -
        countDistinct(col("l_orderkey"), col("l_linenumber"))).as("dup_line"),
      sum((col("l_quantity") < 1 || col("l_quantity") > 50).cast("long")).as("bad_qty"))
    // referential integrity: FK rows with no PK partner (anti joins)
    val orphanCust = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val orphanLine = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))

    unroll(oAgg,
        "orders.o_orderkey_not_null" -> "null_key",
        "orders.o_orderkey_unique" -> "dup_key",
        "orders.o_totalprice_positive" -> "bad_price",
        "orders.o_orderstatus_in_set" -> "bad_status")
      .unionByName(unroll(lAgg,
        "lineitem.orderkey_linenumber_unique" -> "dup_line",
        "lineitem.l_quantity_in_1_50" -> "bad_qty"))
      .unionByName(unroll(oAgg.crossJoin(orphanCust),
        "orders.o_custkey_fk_customer" -> "v"))
      .unionByName(unroll(lAgg.crossJoin(orphanLine),
        "lineitem.l_orderkey_fk_orders" -> "v"))
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy(col("check_name"))
  }

  /** Same suite, same names, computed straight off the tables. */
  val constraintAuditStatsSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n,
      |         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS null_key,
      |         count(*) - count(DISTINCT o_orderkey) AS dup_key,
      |         sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS bad_price,
      |         sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_status
      |  FROM orders
      |), l AS (
      |  SELECT count(*) AS n,
      |         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_line,
      |         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS bad_qty
      |  FROM lineitem
      |), oc AS (
      |  SELECT count(*) AS v FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |), lo AS (
      |  SELECT count(*) AS v FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |)
      |-- CAST: the sum(CASE...) branches type as HUGEINT and the UNION ALL
      |-- would widen the whole column; the driver's canonicalizer renders
      |-- HUGEINT unlike BIGINT ("0.0" vs "0") and fails the hash despite
      |-- value-identical results (CORRECTNESS_r12's one red row)
      |SELECT check_name, n_checked, CAST(n_violations AS BIGINT) AS n_violations,
      |       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS pass
      |FROM (
      |  SELECT 'lineitem.l_orderkey_fk_orders' AS check_name, l.n AS n_checked, lo.v AS n_violations FROM l, lo
      |  UNION ALL SELECT 'lineitem.l_quantity_in_1_50', l.n, l.bad_qty FROM l
      |  UNION ALL SELECT 'lineitem.orderkey_linenumber_unique', l.n, l.dup_line FROM l
      |  UNION ALL SELECT 'orders.o_custkey_fk_customer', o.n, oc.v FROM o, oc
      |  UNION ALL SELECT 'orders.o_orderkey_not_null', o.n, o.null_key FROM o
      |  UNION ALL SELECT 'orders.o_orderkey_unique', o.n, o.dup_key FROM o
      |  UNION ALL SELECT 'orders.o_orderstatus_in_set', o.n, o.bad_status FROM o
      |  UNION ALL SELECT 'orders.o_totalprice_positive', o.n, o.bad_price FROM o
      |)
      |ORDER BY check_name""".stripMargin

  /** Bench solo-fork set: the bucketed join runs two write jobs before the
    * read — multi-job timing should not share a JVM with batch-mates.
    */
  val heavyQueries: Set[String] = Set("bucketed_join_orders")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "constraint_audit_stats" -> (constraintAuditStats(_, _)),
    "sql_api_revenue" -> (sqlApiRevenue(_, _)),
    "bloom_prefilter_orders" -> (bloomPrefilterOrders(_, _)),
    "bucketed_join_orders" -> (bucketedJoinOrders(_, _)),
    "revenue_top_orders" -> (revenueTopOrders(_, _)),
    "regional_revenue" -> (regionalRevenue(_, _)),
    "join_outer_customer_orders" -> (joinOuterCustomerOrders(_, _)),
    "join_fullouter_nation_stats" -> (joinFullOuterNationStats(_, _)),
    "rank_functions_orders" -> (rankFunctionsOrders(_, _)),
    "join_broadcast_parts" -> (joinBroadcastParts(_, _)),
    "join_sortmerge_orders" -> (joinSortMergeOrders(_, _)),
    "join_semi_customers" -> (joinSemiCustomers(_, _)),
    "join_anti_customers" -> (joinAntiCustomers(_, _)),
    "agg_pricing_summary" -> (aggPricingSummary(_, _)),
    "topk_orders_per_priority" -> (topkOrdersPerPriority(_, _)),
    "setops_nations" -> (setopsNations(_, _)),
    "rollup_orders" -> (rollupOrders(_, _)),
    "window_running_user_value" -> (windowRunningUserValue(_, _)),
    "asof_purchase_click" -> (asofPurchaseClick(_, _)),
    "range_clicks_before_purchase" -> (rangeClicksBeforePurchase(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "constraint_audit_stats" -> constraintAuditStatsSql,
    // the oracle IS the Spark query text — one dialect-portable statement
    "sql_api_revenue" -> sqlApiRevenueText,
    "bloom_prefilter_orders" -> bloomPrefilterOrdersSql,
    "bucketed_join_orders" -> bucketedJoinOrdersSql,
    "revenue_top_orders" -> revenueTopOrdersSql,
    "regional_revenue" -> regionalRevenueSql,
    "join_outer_customer_orders" -> joinOuterCustomerOrdersSql,
    "join_fullouter_nation_stats" -> joinFullOuterNationStatsSql,
    "rank_functions_orders" -> rankFunctionsOrdersSql,
    "join_broadcast_parts" -> joinBroadcastPartsSql,
    "join_sortmerge_orders" -> joinSortMergeOrdersSql,
    "join_semi_customers" -> joinSemiCustomersSql,
    "join_anti_customers" -> joinAntiCustomersSql,
    "agg_pricing_summary" -> aggPricingSummarySql,
    "topk_orders_per_priority" -> topkOrdersPerPrioritySql,
    "setops_nations" -> setopsNationsSql,
    "rollup_orders" -> rollupOrdersSql,
    "window_running_user_value" -> windowRunningUserValueSql,
    "asof_purchase_click" -> asofPurchaseClickSql,
    "range_clicks_before_purchase" -> rangeClicksBeforePurchaseSql
  )
}
