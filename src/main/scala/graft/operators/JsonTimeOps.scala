package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** JSON scalar functions on `events.props` (reference `main.py:125,157`
  * json encode/decode) and event-time windowing on `events.ts` in batch
  * (SURVEY §2.2 streaming row).
  *
  * Cross-engine timestamp discipline (FIXTURES §B.3.1): `events.ts` is bigint
  * nanos on the Spark side, TIMESTAMP_NS in DuckDB. Bucketing is integer
  * nanos division on the Spark side; the oracle uses epoch_ns() with the same
  * literal divisor, so both engines bucket identical integers.
  */
object JsonTimeOps {

  /** JSON scalar extraction: pull `$.k` from the props JSON blob, aggregate
    * per event_type. `get_json_object` is a codegen'd Catalyst expression —
    * no UDF. Long sums: exact on both engines.
    */
  def jsonPropsStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n_k"))
      .orderBy(col("event_type"))
  }

  // CAST(sum(...) AS BIGINT): DuckDB sum(BIGINT) yields HUGEINT (int128),
  // which the driver canonicalizes differently from Spark's long.
  val jsonPropsStatsSql: String =
    """SELECT event_type,
      |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |       max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |       count(CAST(props->>'$.k' AS BIGINT)) AS n_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Round-trip: parse props with an explicit schema (`from_json`), then
    * re-serialize a projected struct (`to_json`) — reference ops #7/#18.
    * Output is the canonical serialized string, groupable and hashable.
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    ev.withColumn("parsed", from_json(col("props"), propsSchema))
      .withColumn("payload",
        to_json(struct(col("event_id").as("id"), col("parsed.k").as("k"))))
      .select(col("event_id"), col("payload"))
      .orderBy(col("event_id"))
  }

  // DuckDB builds the same minified JSON text {"id":<id>,"k":<k>}.
  val jsonRoundtripSql: String =
    """SELECT event_id,
      |       '{"id":' || event_id || ',"k":' || CAST(props->>'$.k' AS BIGINT) || '}' AS payload
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Scalar timestamp formatting (reference op #17, `main.py:129` strftime):
    * events per formatted UTC day.
    */
  def eventDateCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.withColumn("day", date_format(col("ts_utc"), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("day"))
  }

  val eventDateCountsSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
      |FROM events
      |GROUP BY day
      |ORDER BY day""".stripMargin

  private val HourNanos = 3600000000000L

  /** Tumbling 1-hour event-time window (batch): integer nanos bucketing —
    * identical arithmetic on both engines, immune to timestamp-type skew.
    * At scale this is a plain partial+final hash aggregate.
    */
  def tumblingHourlyStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.withColumn("hour_bucket", expr(s"ts div $HourNanos") * lit(HourNanos))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  val tumblingHourlyStatsSql: String =
    s"""SELECT (epoch_ns(ts) // $HourNanos) * $HourNanos AS hour_bucket,
       |       event_type,
       |       count(*) AS n_events,
       |       round(sum(value), 2) AS sum_value
       |FROM events
       |GROUP BY hour_bucket, event_type
       |ORDER BY hour_bucket, event_type""".stripMargin

  /** Sliding 1-hour window, 30-minute slide, expressed in batch: each event
    * lands in the two overlapping hour windows. Spark-native `window()` slide
    * semantics reproduced via explicit half-hour offsets so the DuckDB oracle
    * can mirror the math exactly.
    */
  def slidingHourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val half = HourNanos / 2
    val ev = Tables.events(spark, sfDir)
    ev.select(col("ts"), col("event_type"))
      .withColumn("win_start",
        explode(array(
          expr(s"(ts div $half) * $half"),
          expr(s"(ts div $half) * $half - $half"))))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("win_start"), col("event_type"))
  }

  val slidingHourlyCountsSql: String =
    s"""SELECT win_start, event_type, count(*) AS n_events
       |FROM (
       |  SELECT unnest([ (epoch_ns(ts) // ${HourNanos / 2}) * ${HourNanos / 2},
       |                  (epoch_ns(ts) // ${HourNanos / 2}) * ${HourNanos / 2} - ${HourNanos / 2} ]) AS win_start,
       |         event_type
       |  FROM events)
       |GROUP BY win_start, event_type
       |ORDER BY win_start, event_type""".stripMargin

  /** Session windows (30-minute inactivity gap) per user, counted in batch.
    * Spark side uses gaps-and-islands over integer nanos (the same algebra
    * `session_window` implements), keeping both engines on exact integers.
    */
  def sessionCountsPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val gap = HourNanos / 2
    val ev = Tables.events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") >= gap, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val sessionCountsPerUserSql: String =
    s"""SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
       |FROM (
       |  SELECT user_id,
       |         CASE WHEN lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |                OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |                   >= ${HourNanos / 2}
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events)
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Map scalar family: construct a map per event, extract / measure /
    * enumerate it — `map`, `element_at`, `map_keys`, `cardinality` (SURVEY
    * §2.2 scalar checklist's map row). Keys are enumerated SORTED and values
    * extracted by key, because map iteration order is engine-internal and
    * must never reach a hashed comparison.
    */
  def mapFuncsEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(col("event_id"),
        map(
          lit("type"), col("event_type"),
          lit("bucket"), pmod(col("user_id"), lit(10)).cast(StringType)).as("m"))
      .select(
        col("event_id"),
        element_at(col("m"), "type").as("m_type"),
        element_at(col("m"), "bucket").as("m_bucket"),
        size(col("m")).as("m_size"),
        array_join(array_sort(map_keys(col("m"))), ",").as("m_keys"))
      .orderBy(col("event_id"))
  }

  // DuckDB map[key] yields a one-element LIST → index [1] for the scalar.
  val mapFuncsEventsSql: String =
    """SELECT event_id,
      |       (m['type'])[1] AS m_type,
      |       (m['bucket'])[1] AS m_bucket,
      |       cardinality(m) AS m_size,
      |       array_to_string(list_sort(map_keys(m)), ',') AS m_keys
      |FROM (
      |  SELECT event_id,
      |         MAP {'type': event_type, 'bucket': CAST(user_id % 10 AS VARCHAR)} AS m
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  /** Time-series regularization: resample each user's event stream onto a
    * dense hourly grid (min…max observed hour, `sequence` + explode) and
    * forward-fill the hourly value with the last observed one
    * (`last(_, ignoreNulls)` over an unbounded-preceding row frame) — the
    * standard gap-filling step before feature windows or model joins, which
    * event-time windows alone don't give you (they emit only observed
    * buckets). Same integer-nanos hour arithmetic as the window family.
    * 100 TB shape: the grid explode is per-key and proportional to each
    * key's time span; the fill is one window pass per key shard — no
    * cross-key state.
    */
  def resampleHourlyFfill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hourly = ev
      .groupBy(col("user_id"), expr(s"ts div $HourNanos").as("hour"))
      .agg(round(sum(col("value")), 6).as("v"), count(lit(1)).as("n"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("v_ffill", round(last(col("v"), ignoreNulls = true).over(w), 6))
      .select(col("user_id"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        col("v_ffill"),
        col("n").isNotNull.as("observed"))
      .orderBy(col("user_id"), col("hour"))
  }

  val resampleHourlyFfillSql: String =
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_ns(ts) // $HourNanos AS hour,
       |         round(sum(value), 6) AS v, count(*) AS n
       |  FROM events
       |  GROUP BY user_id, hour
       |), grid AS (
       |  SELECT user_id, unnest(range(h0, h1 + 1)) AS hour
       |  FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY user_id)
       |)
       |SELECT g.user_id, g.hour,
       |       coalesce(h.n, 0) AS n_events,
       |       round(last_value(h.v IGNORE NULLS) OVER (
       |         PARTITION BY g.user_id ORDER BY g.hour
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_ffill,
       |       h.n IS NOT NULL AS observed
       |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
       |ORDER BY g.user_id, g.hour""".stripMargin

  /** MALFORMED-RECORD QUARANTINE — the robustness stage every 100 TB
    * ingest needs and clean fixtures never exercise: a JSONL feed where a
    * deterministic ~5% of lines are corrupt (salted id bucket < 5 →
    * truncated to the first 10 bytes, so NO field parses — Spark's
    * partial-result mode can't silently half-fill a row), read back in
    * PERMISSIVE mode with `columnNameOfCorruptRecord`, bad lines
    * quarantined into a `_QUARANTINED` ledger row instead of failing the
    * job or silently dropping (FAILFAST kills the batch for one bad line;
    * DROPMALFORMED lies about volume — the ledger is the honest third
    * option). Staged from `orders` (the RawZone staging stance: the feed
    * is derived deterministically from driver fixtures, never synthesized
    * data); JSON round-trip of long/string/double is exact (shortest-repr
    * doubles), so the oracle reproduces the ledger from the TABLE plus
    * the same salted-bucket corruption rule — proving quarantine lost
    * exactly the corrupted rows and nothing else.
    *
    * 100 TB shape: one text scan, the corrupt predicate is a column null
    * check, the ledger is a map-side partial aggregate; quarantined rows
    * in production also land in a dead-letter sink (here the count IS the
    * contract under test). Sum rounded to 2 dp — order-free (prices are
    * 2-dp values, sums ≪ the 1e-7 ulp band at this magnitude).
    */
  def corruptRecordStats(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = Tables.sfName(sfDir)
    val staged = s"target/jsonl/$sfName/orders"
    val line = to_json(struct(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice")))
    val corrupt = Splits.saltedBucket("cr:", col("o_orderkey")) < 5
    Tables.orders(spark, sfDir)
      .select(when(corrupt, substring(line, 1, 10)).otherwise(line).as("value"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(staged)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(staged)
    parsed
      .select(
        when(col("_corrupt_record").isNotNull, lit("_QUARANTINED"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(col("_corrupt_record").isNull, col("o_totalprice")).as("price"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        round(coalesce(sum(col("price")), lit(0.0)), 2).as("sum_price"))
      .orderBy(col("status"))
  }

  /** The table-side replay: same salted corruption rule, valid rows keep
    * their status and price, corrupt rows collapse into the quarantine
    * ledger row — equality proves the PERMISSIVE read lost exactly the
    * corrupted lines.
    */
  val corruptRecordStatsSql: String =
    """WITH b AS (
      |  SELECT o_orderstatus, o_totalprice,
      |         ('0x' || substring(md5('cr:' || o_orderkey::VARCHAR), 1, 8))::BIGINT % 100 AS bk
      |  FROM orders
      |)
      |SELECT CASE WHEN bk < 5 THEN '_QUARANTINED' ELSE o_orderstatus END AS status,
      |       count(*) AS n_rows,
      |       round(coalesce(sum(CASE WHEN bk >= 5 THEN o_totalprice END), 0.0), 2) AS sum_price
      |FROM b
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corrupt_record_stats" -> (corruptRecordStats(_, _)),
    "resample_hourly_ffill" -> (resampleHourlyFfill(_, _)),
    "map_funcs_events" -> (mapFuncsEvents(_, _)),
    "json_props_stats" -> (jsonPropsStats(_, _)),
    "json_roundtrip" -> (jsonRoundtrip(_, _)),
    "event_date_counts" -> (eventDateCounts(_, _)),
    "tumbling_hourly_stats" -> (tumblingHourlyStats(_, _)),
    "sliding_hourly_counts" -> (slidingHourlyCounts(_, _)),
    "session_counts_per_user" -> (sessionCountsPerUser(_, _))
  )

  def oracleSql: Map[String, String] = Map(
    "corrupt_record_stats" -> corruptRecordStatsSql,
    "resample_hourly_ffill" -> resampleHourlyFfillSql,
    "map_funcs_events" -> mapFuncsEventsSql,
    "json_props_stats" -> jsonPropsStatsSql,
    "json_roundtrip" -> jsonRoundtripSql,
    "event_date_counts" -> eventDateCountsSql,
    "tumbling_hourly_stats" -> tumblingHourlyStatsSql,
    "sliding_hourly_counts" -> slidingHourlyCountsSql,
    "session_counts_per_user" -> sessionCountsPerUserSql
  )
}
