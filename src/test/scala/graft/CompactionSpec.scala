package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CompactedZone, RawZone, ZoneBuildTally, ZoneSchema}

/** Incremental MERGE-style compaction (VERDICT r9 item 4): the compacted
  * zone must equal the full recompute while reading only NEW snapshot
  * partitions and rewriting only TOUCHED buckets.
  */
class CompactionSpec extends AnyFunSuite with SparkFixture {

  private def freshZone(): String = {
    val dir = CompactedZone.compactedDir(sf0001)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** The zone's committed `_GRAFT_SCHEMA` must equal what a mergeSchema
    * footer scan infers — the stored schema replaces that scan everywhere.
    */
  private def assertStoredSchemaIsInferred(dir: String): Unit = {
    val stored = ZoneSchema.read(dir)
    assert(stored.isDefined, s"$dir has no committed schema")
    val inferred = spark.read.option("mergeSchema", "true").parquet(dir).schema
    assert(stored.get.fields.sortBy(_.name).toSeq ===
      inferred.fields.sortBy(_.name).toSeq,
      s"stored ${stored.get.toDDL} != inferred ${inferred.toDDL}")
  }

  test("incremental compaction equals the full recompute, snapshot by snapshot") {
    freshZone()
    val got = CompactedZone.compactedZoneRuns(spark, sf0001).collect().toSeq
    val want = RawZone.pipelineRuns(spark, sf0001).collect().toSeq
    assert(got === want, "merged zone must equal the re-read-everything pipeline")
    assertStoredSchemaIsInferred(CompactedZone.compactedDir(sf0001))
    // idempotent: a second call merges nothing and answers identically
    assert(CompactedZone.compactedZoneRuns(spark, sf0001).collect().toSeq === want)
  }

  test("the incremental path reads ONLY the new snapshot's partition files") {
    val rawDir = RawZone.ensureBuilt(spark, sf0001)
    val files = CompactedZone.snapshotUpdates(spark, rawDir, "20240102-000000Z")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(_.contains("extracted_at=20240102-000000Z")),
      s"partition pruning must confine the scan to the new snapshot, saw:\n" +
        files.mkString("\n"))
    assert(files.forall(!_.contains("extracted_at=20240101")),
      "old snapshot partitions must not be opened by an incremental merge")
  }

  test("a targeted late snapshot rewrites only the buckets its keys land in") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001) // both fixture snapshots in
    val rawDir = RawZone.rawZoneDir(sf0001)
    // fabricate a third snapshot touching exactly two run ids -> ≤ 2 buckets
    val ids = Seq(12L, 17L)
    val snap = "20240103-000000Z"
    val repoDir = new java.io.File(s"$rawDir/repo=click/extracted_at=$snap")
    repoDir.mkdirs()
    val runs = ids.map(i =>
      s"""{"id":$i,"type":"click","value":9999.0,"user":{"id":7}}""")
    java.nio.file.Files.write(new java.io.File(repoDir, "part-late.txt").toPath,
      s"""{"workflow_runs":[${runs.mkString(",")}]}\n""".getBytes("UTF-8"))
    try {
      val untouched = (0 until CompactedZone.NumBuckets).toSet --
        ids.map(i => (i % CompactedZone.NumBuckets).toInt).toSet
      def bucketState(b: Int): Seq[(String, Long)] = {
        val d = new java.io.File(dir, s"bucket=$b")
        Option(d.listFiles()).toSeq.flatten.filter(_.isFile)
          .map(f => (f.getName, f.lastModified())).sortBy(_._1)
      }
      val before = untouched.map(b => b -> bucketState(b)).toMap
      val touched = CompactedZone.mergeSnapshot(spark, rawDir, dir, snap)
      assert(touched.toSet === ids.map(i => (i % CompactedZone.NumBuckets).toInt).toSet,
        "merge must report exactly the buckets holding updated keys")
      untouched.foreach(b => assert(bucketState(b) === before(b),
        s"bucket $b holds no updated key and must not be rewritten"))
      // and the merged rows won: the late snapshot's value is served
      val vals = spark.read.parquet(dir)
        .filter(col("id").isin(ids.map(Long.box): _*))
        .select(col("id"), col("value"), col("extracted_at"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(vals.toSet === ids.map(i => (i, 9999.0, snap)).toSet)
    } finally {
      // remove the fabricated snapshot dir and force a clean rebuild for
      // later suites/queries (the raw zone is otherwise treated as immutable)
      org.apache.commons.io.FileUtils.deleteQuietly(repoDir)
      freshZone()
    }
  }

  test("ADDITIVE SCHEMA EVOLUTION: a batch with a new column merges; history " +
      "reads as null for it; latest-wins and the contract projection hold (r12)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      // an evolved batch: two known ids re-emitted from a NEWER snapshot
      // with an extra `region` column the zone has never seen
      val evolved = Seq(
        (12L, 7L, "click", 4242.0, "20240104-000000Z", "emea"),
        (17L, 7L, "click", 4242.0, "20240104-000000Z", "apac"))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "region")
        .withColumn("bucket",
          pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, evolved)
      assertStoredSchemaIsInferred(dir)
      val zone = spark.read.option("mergeSchema", "true").parquet(dir)
      // the evolved rows carry the new field AND won latest-wins
      val won = zone.filter(col("id").isin(12L, 17L))
        .select(col("id"), col("value"), col("region"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(won === Set((12L, 4242.0, "emea"), (17L, 4242.0, "apac")))
      // history reads as null for the post-dated field — no row was rewritten
      // to fake a value it never had
      assert(zone.filter(!col("id").isin(12L, 17L) && col("region").isNotNull)
        .count() === 0L)
      // a second, SCHEMA-REGRESSED batch (no region) still merges: the
      // column fills null on the update side too
      val regressed = Seq((12L, 7L, "click", 5555.0, "20240105-000000Z"))
        .toDF("id", "user_id", "event_type", "value", "extracted_at")
        .withColumn("bucket",
          pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, regressed)
      assertStoredSchemaIsInferred(dir)
      val after = spark.read.option("mergeSchema", "true").parquet(dir)
        .filter(col("id") === 12L)
        .select(col("value"), col("region")).collect()
      assert(after.length === 1 && after(0).getDouble(0) === 5555.0 &&
        after(0).isNullAt(1),
        "the newest write wins wholesale — evolution never splices fields across versions")
      // and the declared contract projection is untouched by the extra column
      val runs = CompactedZone.compactedZoneRuns(spark, sf0001)
      assert(runs.columns.toSeq === Seq("id", "user_id", "event_type", "value"))
      assert(runs.filter(col("id") === 12L).select("value").first().getDouble(0) === 5555.0)
    } finally freshZone()
  }

  test("TYPE-WIDENING EVOLUTION: an int column re-declared long triggers a " +
      "one-time zone-wide rewrite at the wider type; latest-wins holds; " +
      "narrowing/cross-family retypes are rejected loudly (r13)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      // step 1 (additive): a batch introduces `score` as INT
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assertStoredSchemaIsInferred(dir)
      val t0 = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(t0.schema("score").dataType ===
        org.apache.spark.sql.types.IntegerType)
      // step 2 (widening): a later batch re-declares `score` as LONG with a
      // value no int can hold — the zone must widen, not truncate or fail
      val big = Int.MaxValue.toLong + 7L
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", big))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assertStoredSchemaIsInferred(dir)
      val t1 = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(t1.schema("score").dataType ===
        org.apache.spark.sql.types.LongType,
        "the zone column must come out LONG — homogeneous, or mergeSchema " +
          "dies on int32/int64 files next read")
      // the widening rewrite commits as ONE zone-directory swap (ADVICE
      // r13): the zone's metadata files must ride through it, or the next
      // ensureCompacted would see a fingerprintless zone and re-merge
      // everything
      assert(new java.io.File(dir, "_GRAFT_MERGED").isFile &&
        new java.io.File(dir, "_GRAFT_SRC").isFile,
        "zone metadata files must survive the widening swap")
      assert(!new java.io.File(dir + ".old-widen").exists() &&
        !new java.io.File(dir + ".tmp-merge").exists(),
        "the swap must clean up its staging directories")
      // the widened value survived exactly; the pre-widening row reads its
      // int value up-cast; history without the column reads null
      val scores = t1.filter(col("id").isin(12L, 17L))
        .select(col("id"), col("score")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(scores === Set((12L, 41L), (17L, big)))
      assert(t1.filter(!col("id").isin(12L, 17L) && col("score").isNotNull)
        .count() === 0L)
      // latest-wins is untouched by the rewrite
      assert(t1.filter(col("id") === 17L).select("value").first().getDouble(0) === 2.0)
      // step 3 (reverse arrival): an OLDER-schema batch still carrying INT
      // merges by coercion — no evolution, no zone-wide rewrite
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 3.0, "20240106-000000Z", 43))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assertStoredSchemaIsInferred(dir)
      val t2 = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(t2.schema("score").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(t2.filter(col("id") === 12L).select("score").first().getLong(0) === 43L)
      // step 4 (rejected): a cross-family retype must fail loudly, merging
      // nothing — not silently coerce
      val bad = intercept[IllegalStateException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (12L, 7L, "click", 4.0, "20240107-000000Z", "not-a-number"))
          .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      }
      assert(bad.getMessage.contains("retype"))
      assert(spark.read.option("mergeSchema", "true").parquet(dir)
        .filter(col("id") === 12L).select("value").first().getDouble(0) === 3.0,
        "a rejected retype must leave the zone exactly as it was")
      assertStoredSchemaIsInferred(dir)
    } finally freshZone()
  }

  test("widening-swap crash window: a failure between the two renames leaves " +
      "an ABSENT zone that ensureCompacted rebuilds — never a torn " +
      "mixed-type state (ADVICE r13, direct recovery proof)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    val prodHook = CompactedZone.widenSwapHook
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      // seed an int column, then crash the widening commit mid-swap
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      CompactedZone.widenSwapHook =
        () => throw new IllegalStateException("simulated crash mid-swap")
      val boom = intercept[IllegalStateException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (17L, 7L, "click", 2.0, "20240105-000000Z", Int.MaxValue.toLong + 7L)
          ).toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      }
      assert(boom.getMessage.contains("simulated crash"))
      // the crash window's contract: NO zone at the path (old moved aside,
      // new not yet in) — a reader can never observe mixed int32/int64
      // bucket files, which mergeSchema would reject forever
      assert(!new java.io.File(dir).exists(),
        "mid-swap crash must leave the zone path ABSENT, not torn")
      CompactedZone.widenSwapHook = prodHook
      // recovery: ensureCompacted treats the absent zone as empty, sweeps
      // the staging litter, and rebuilds from the raw zone
      val rebuilt = CompactedZone.compactedZoneRuns(spark, sf0001)
      assert(rebuilt.count() > 0L, "recovery must rebuild from raw")
      assert(!new java.io.File(dir + ".old-widen").exists() &&
        !new java.io.File(dir + ".tmp-merge").exists(),
        "recovery must sweep the crashed swap's staging litter")
      // the rebuilt zone matches the full recompute (the standing contract)
      val want = RawZone.pipelineRuns(spark, sf0001)
        .select("id", "user_id", "event_type", "value").orderBy("id").collect().toSeq
      val got = rebuilt.collect().toSeq
      assert(got === want, "rebuilt zone must equal the full recompute")
      assertStoredSchemaIsInferred(dir)
    } finally {
      CompactedZone.widenSwapHook = prodHook
      freshZone()
    }
  }

  test("COLUMN RENAME via explicit rename-map: metadata-only (no bucket " +
      "rewrite), chained renames resolve, implicit renames stay additive, " +
      "invalid declarations are rejected (r14)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      // seed an extra column under its original name
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      // snapshot the untouched buckets' file set: a rename must not touch them
      def bucketFiles(): Set[String] =
        Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
          .flatMap(b => b.listFiles().toSeq.map(f =>
            s"${b.getName}/${f.getName}:${f.lastModified}")).toSet
      val before = bucketFiles()
      // declare the rename; the batch carries the NEW logical name and a
      // key landing in a DIFFERENT bucket, so bucket=12's files must be
      // byte-untouched by the rename itself
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", 55L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "points")),
        renames = Map("score" -> "points"))
      assertStoredSchemaIsInferred(dir)
      val after = bucketFiles()
      assert(before.filter(_.startsWith("bucket=12/")) ===
        after.filter(_.startsWith("bucket=12/")),
        "a declared rename is METADATA-only: buckets not touched by the " +
          "batch's keys must keep their exact files")
      // the logical view shows ONE column, under the new name, for old and
      // new rows alike
      val t1 = CompactedZone.readZone(spark, dir)
      assert(!t1.columns.contains("score") && t1.columns.contains("points"))
      val pts = t1.filter(col("id").isin(12L, 17L))
        .select(col("id"), col("points")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pts === Set((12L, 41L), (17L, 55L)),
        "pre-rename rows must read their values under the new logical name")
      // chained rename across calls resolves through the stored mapping
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (19L, 7L, "click", 3.0, "20240106-000000Z", 66L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "pts")),
        renames = Map("points" -> "pts"))
      assertStoredSchemaIsInferred(dir)
      val t2 = CompactedZone.readZone(spark, dir)
      assert(t2.columns.contains("pts") && !t2.columns.contains("points"))
      assert(t2.filter(col("id") === 12L).select("pts").first().getLong(0) === 41L)
      // an UNDECLARED new name stays additive — never an implicit rename
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (23L, 7L, "click", 4.0, "20240107-000000Z", 9L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "grade")))
      assertStoredSchemaIsInferred(dir)
      val t3 = CompactedZone.readZone(spark, dir)
      assert(t3.columns.contains("pts") && t3.columns.contains("grade"),
        "a batch with a fresh column name is ADDITIVE; renames need a declaration")
      // invalid declarations fail loudly before anything is written
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (25L, 7L, "click", 5.0, "20240108-000000Z"))
          .toDF("id", "user_id", "event_type", "value", "extracted_at")),
          renames = Map("no_such_column" -> "x"))
      }
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (25L, 7L, "click", 5.0, "20240108-000000Z"))
          .toDF("id", "user_id", "event_type", "value", "extracted_at")),
          renames = Map("pts" -> "value"))
      }
      // the contract projection is untouched by the mapping machinery
      val runs = CompactedZone.compactedZoneRuns(spark, sf0001)
      assert(runs.columns.toSeq === Seq("id", "user_id", "event_type", "value"))
    } finally freshZone()
  }

  test("CHAINED rename declaration {a->b, b->x} resolves atomically: no " +
      "duplicate columns, each physical column surfaces under exactly its " +
      "final logical name (ADVICE r14 medium #1)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      // one declaration: score takes over the name 'value', value vacates
      // to 'v0' — legal because the whole set resolves at once; the old
      // sequential fold either duplicated a column (sorted order applied
      // score->value first) or rejected the set, depending on order
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", 55L))
        .toDF("id", "user_id", "event_type", "v0", "extracted_at", "value")),
        renames = Map("score" -> "value", "value" -> "v0"))
      assertStoredSchemaIsInferred(dir)
      val t = CompactedZone.readZone(spark, dir)
      assert(t.columns.count(_ == "value") === 1 &&
        t.columns.count(_ == "v0") === 1 && !t.columns.contains("score"),
        s"chained rename must leave exactly one of each name, saw ${t.columns.toSeq}")
      val rows = t.filter(col("id").isin(12L, 17L))
        .select(col("id"), col("value"), col("v0")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // id 12: old score=41 reads as value, old value=1.0 reads as v0
      assert(rows === Set((12L, 41L, 1.0), (17L, 55L, 2.0)),
        "each physical column must surface under its FINAL logical name only")
      // and a live-target collision without a vacating rename still throws
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (19L, 7L, "click", 3.0, "20240106-000000Z"))
          .toDF("id", "user_id", "event_type", "v0", "extracted_at")),
          renames = Map("v0" -> "value"))
      }
    } finally freshZone()
  }

  test("a fresh batch column reusing a renamed-away PHYSICAL name is " +
      "remapped, not conflated into the old column's files (ADVICE r14 " +
      "medium #2)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", 55L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "points")),
        renames = Map("score" -> "points"))
      // a NEW logical column named 'score' — the physical name 'score' is
      // tombstoned (it holds the column now called 'points'); writing it
      // physically as 'score' would conflate both into 'points' on read
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (19L, 7L, "click", 3.0, "20240106-000000Z", 77L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assertStoredSchemaIsInferred(dir)
      val t = CompactedZone.readZone(spark, dir)
      assert(t.columns.contains("points") && t.columns.contains("score"),
        s"the reborn 'score' must be a NEW logical column, saw ${t.columns.toSeq}")
      val rows = t.filter(col("id").isin(12L, 17L, 19L))
        .select(col("id"), col("points"), col("score")).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows === Set((12L, 41L, -1L), (17L, 55L, -1L), (19L, -1L, 77L)),
        "old rows keep points, new rows carry the reborn score, never mixed")
    } finally freshZone()
  }

  test("COLUMN DROP via explicit drop-list: metadata-only (untouched " +
      "buckets keep their files), masked on read, re-add gets a fresh " +
      "physical with null history, merge keys undroppable (VERDICT r14 #6)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      def bucketFiles(): Set[String] =
        Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
          .flatMap(b => b.listFiles().toSeq.map(f =>
            s"${b.getName}/${f.getName}:${f.lastModified}")).toSet
      val before = bucketFiles()
      // declare the drop on a batch keyed AWAY from bucket=12
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z"))
        .toDF("id", "user_id", "event_type", "value", "extracted_at")),
        drops = Seq("score"))
      assertStoredSchemaIsInferred(dir)
      assert(before.filter(_.startsWith("bucket=12/")) ===
        bucketFiles().filter(_.startsWith("bucket=12/")),
        "a declared drop is METADATA-only: buckets not touched by the " +
          "batch's keys must keep their exact files")
      val t1 = CompactedZone.readZone(spark, dir)
      assert(!t1.columns.contains("score"),
        "a dropped column must vanish from the logical schema")
      // RE-ADD: a later batch re-introduces 'score' — fresh physical name,
      // so the dropped values never resurrect under the reborn column
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (19L, 7L, "click", 3.0, "20240106-000000Z", 99L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assertStoredSchemaIsInferred(dir)
      val t2 = CompactedZone.readZone(spark, dir)
      val re = t2.filter(col("id").isin(12L, 19L))
        .select(col("id"), col("score")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(re === Set((12L, -1L), (19L, 99L)),
        "history must read NULL under a reborn column, never the dropped values")
      // invalid declarations fail loudly
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (21L, 7L, "click", 4.0, "20240107-000000Z"))
          .toDF("id", "user_id", "event_type", "value", "extracted_at")),
          drops = Seq("id"))
      }
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (21L, 7L, "click", 4.0, "20240107-000000Z"))
          .toDF("id", "user_id", "event_type", "value", "extracted_at")),
          drops = Seq("no_such"))
      }
      // a batch CARRYING the column it declares dropped is ambiguous intent
      intercept[IllegalArgumentException] {
        CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
          (21L, 7L, "click", 4.0, "20240107-000000Z", 1L))
          .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")),
          drops = Seq("score"))
      }
      // the contract projection is untouched by the drop machinery
      val runs = CompactedZone.compactedZoneRuns(spark, sf0001)
      assert(runs.columns.toSeq === Seq("id", "user_id", "event_type", "value"))
    } finally freshZone()
  }

  test("an OLDER-schema batch (int where the zone is long) landing only in " +
      "buckets the zone lacks is written at the zone's type") {
    val dir = "target/compactedzone-olderbatch/sf0.001"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 41L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      // id 17 lands in bucket 1, which holds no file yet: no base side
      // joins the union to coerce the batch's int up
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", 43))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      assert(ZoneSchema.committed(dir)("score").dataType ===
        org.apache.spark.sql.types.LongType)
      assertStoredSchemaIsInferred(dir)
      assert(CompactedZone.readZone(spark, dir).orderBy("id").select("score")
        .collect().map(_.getLong(0)).toSeq === Seq(41L, 43L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a widening batch through a caller that forbids it (the checkpointed " +
      "streaming fold) fails loudly instead of arming the absent-zone " +
      "recovery its checkpoint cannot replay (ADVICE r14 #4)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      // the zone's `value` is double; fabricate an int->long widening on a
      // fresh int column first, then re-declare it long with widening off
      val seed = Seq((12L, 7L, "click", 1.0, "20240104-000000Z", 5))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "n")
        .withColumn("bucket",
          pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      CompactedZone.mergeUpdates(spark, dir, seed)
      val widening = Seq((17L, 7L, "click", 2.0, "20240105-000000Z", 6L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "n")
        .withColumn("bucket",
          pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      val boom = intercept[IllegalStateException] {
        CompactedZone.mergeUpdates(spark, dir, widening, allowWidening = false)
      }
      assert(boom.getMessage.contains("widen"))
      // the batch path still widens it fine afterwards
      CompactedZone.mergeUpdates(spark, dir, widening)
      assert(CompactedZone.readZone(spark, dir).filter(col("id") === 17L)
        .select("n").first().getLong(0) === 6L)
    } finally freshZone()
  }

  test("the FULL evolution matrix composes on one zone history: add -> " +
      "widen -> rename -> drop -> re-add, each metadata/merge-level, the " +
      "contract projection green throughout (r15)") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      import spark.implicits._
      def bucketed(df: org.apache.spark.sql.DataFrame) = df.withColumn(
        "bucket", pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))
      // ADD: fresh int column 'score'
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (12L, 7L, "click", 1.0, "20240104-000000Z", 5))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      // WIDEN: re-declared long
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (17L, 7L, "click", 2.0, "20240105-000000Z", 6L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      // RENAME: score -> points (metadata-only, post-widening)
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (19L, 7L, "click", 3.0, "20240106-000000Z", 7L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "points")),
        renames = Map("score" -> "points"))
      val t1 = CompactedZone.readZone(spark, dir)
      assert(t1.filter(col("id") === 12L).select("points").first().getLong(0) === 5L,
        "widened-then-renamed history must read under the new name at the wide type")
      // DROP: points goes away (tombstones the PHYSICAL name 'score')
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (23L, 7L, "click", 4.0, "20240107-000000Z"))
        .toDF("id", "user_id", "event_type", "value", "extracted_at")),
        drops = Seq("points"))
      assert(!CompactedZone.readZone(spark, dir).columns.contains("points"))
      // RE-ADD under the ORIGINAL name 'score' — physical 'score' is
      // tombstoned, so the reborn column must NOT resurrect 5/6/7
      CompactedZone.mergeUpdates(spark, dir, bucketed(Seq(
        (29L, 7L, "click", 5.0, "20240108-000000Z", 9L))
        .toDF("id", "user_id", "event_type", "value", "extracted_at", "score")))
      val t2 = CompactedZone.readZone(spark, dir)
      val vals = t2.filter(col("id").isin(12L, 17L, 19L, 29L))
        .select(col("id"), col("score")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(vals === Set((12L, -1L), (17L, -1L), (19L, -1L), (29L, 9L)),
        "the reborn column must read null for every pre-drop row")
      // the declared contract projection survived the whole history
      val runs = CompactedZone.compactedZoneRuns(spark, sf0001)
      assert(runs.columns.toSeq === Seq("id", "user_id", "event_type", "value"))
      assert(runs.count() > 0)
    } finally freshZone()
  }

  test("a 3-snapshot backlog merged in ONE call equals snapshot-by-snapshot " +
      "merging, with one key re-extracted in every snapshot") {
    freshZone()
    val rawDir = RawZone.ensureBuilt(spark, sf0001)
    // a third snapshot re-extracting id 12, which snapshot 1 holds and
    // snapshot 2 re-extracts (12 % 3 == 0), plus one id only snapshot 1 has
    val snap3 = "20240103-000000Z"
    val repoDir = new java.io.File(s"$rawDir/repo=click/extracted_at=$snap3")
    repoDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(repoDir, "part-late.txt").toPath,
      ("""{"workflow_runs":[{"id":12,"type":"click","value":31.5,"user":{"id":7}},""" +
        """{"id":17,"type":"click","value":32.5,"user":{"id":7}}]}""" + "\n")
        .getBytes("UTF-8"))
    val serialDir = "target/compactedzone-serial/sf0.001"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(serialDir))
    try {
      val snaps = Seq("20240101-000000Z", "20240102-000000Z", snap3)
      val ids12 = snaps.map(s => CompactedZone.snapshotUpdates(spark, rawDir, s)
        .filter(col("id") === 12L).count())
      assert(ids12 === Seq(1L, 1L, 1L), "id 12 must be re-extracted in every snapshot")
      val builds0 = ZoneBuildTally.builds.get
      val dir = CompactedZone.ensureCompacted(spark, sf0001) // all 3 pending
      assert(ZoneBuildTally.builds.get - builds0 === 1L)
      assert(java.nio.file.Files.readAllLines(
        new java.io.File(dir, "_GRAFT_MERGED").toPath).toArray.toSeq === snaps,
        "the one merge must record the whole backlog")
      snaps.foreach(s => CompactedZone.mergeSnapshot(spark, rawDir, serialDir, s))
      def rows(d: String) = CompactedZone.readZone(spark, d)
        .select("id", "user_id", "event_type", "value", "extracted_at", "bucket")
        .orderBy("id").collect().toSeq
      val once = rows(dir)
      assert(once === rows(serialDir),
        "one backlog merge must equal merging snapshot by snapshot")
      assert(once.filter(_.getLong(0) == 12L).map(r => (r.getDouble(3), r.getString(4))) ===
        Seq((31.5, snap3)), "the newest extraction must win")
      assert(ZoneSchema.read(dir) === ZoneSchema.read(serialDir))
      assertStoredSchemaIsInferred(dir)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(repoDir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(serialDir))
      freshZone()
    }
  }

  test("a zone without _GRAFT_SCHEMA is stale: ensureCompacted rebuilds it, " +
      "and no read or merge falls back to footer inference") {
    freshZone()
    val dir = CompactedZone.ensureCompacted(spark, sf0001)
    try {
      val schemaFile = new java.io.File(dir, ZoneSchema.FileName)
      assert(schemaFile.delete())
      intercept[IllegalStateException](CompactedZone.readZone(spark, dir))
      import spark.implicits._
      intercept[IllegalStateException](CompactedZone.mergeUpdates(spark, dir,
        Seq((12L, 7L, "click", 1.0, "20240104-000000Z")).toDF(
          "id", "user_id", "event_type", "value", "extracted_at")
          .withColumn("bucket",
            pmod(col("id"), lit(CompactedZone.NumBuckets)).cast("int"))))
      val builds0 = ZoneBuildTally.builds.get
      val got = CompactedZone.compactedZoneRuns(spark, sf0001).collect().toSeq
      assert(ZoneBuildTally.builds.get - builds0 === 1L, "the zone must be rebuilt")
      assert(schemaFile.isFile)
      assert(got === RawZone.pipelineRuns(spark, sf0001).collect().toSeq)
      assertStoredSchemaIsInferred(dir)
    } finally freshZone()
  }

  test("streaming compaction: micro-batched foreachBatch merges equal the " +
      "batch latest-wins answer, drained over several triggers") {
    val rawDir = RawZone.ensureBuilt(spark, sf0001)
    val zoneDir = "target/compactedzone-streamtest/sf0.001"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zoneDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(zoneDir + ".checkpoint"))
    val q = CompactedZone.compactionStream(spark, rawDir, zoneDir)
    q.awaitTermination() // AvailableNow: drains the backlog, then stops
    // expected = latest-wins over EVERY raw page, batch-read in one go
    val flat = spark.read.schema(RawZone.pageSchema).json(rawDir)
      .select(col("extracted_at"), explode(col("workflow_runs")).as("run"))
      .select(col("run.id").as("id"), col("run.user.id").as("user_id"),
        col("run.type").as("event_type"), col("run.value").as("value"),
        col("extracted_at"))
    val want = graft.operators.EtlOps
      .latestPerKey(flat, Seq(col("id")), Seq(col("extracted_at")))
      .select("id", "user_id", "event_type", "value").orderBy("id").collect().toSeq
    val got = spark.read.parquet(zoneDir)
      .select("id", "user_id", "event_type", "value").orderBy("id").collect().toSeq
    assert(got === want,
      "stream-built zone must equal the batch latest-wins resolution")
    assertStoredSchemaIsInferred(zoneDir)
    // incrementality, not one giant batch: maxFilesPerTrigger split the
    // backlog across several merges (mixed/split snapshots are the point)
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      s"expected several non-empty micro-batches, saw ${q.recentProgress.length}")
  }
}
