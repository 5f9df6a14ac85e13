package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Streaming/batch parity: the same transforms over a file-source stream
  * (memory sink, processAllAvailable) must equal the batch results — Spark's
  * unified Dataset contract, and the streaming twin of the reference's
  * incremental-accumulation semantics.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  /** JSONL feed derived from sf0.001 events (with one duplicated event_id to
    * exercise streaming dedup), split across two files = two micro-batches.
    */
  private lazy val feedDir: String = {
    val dir = Files.createTempDirectory("graft_stream")
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts_utc"), col("user_id"), col("event_type"), col("value"))
    val rows = ev.toJSON.collect()
    val (a, b) = rows.splitAt(rows.length / 2)
    Files.writeString(dir.resolve("part1.jsonl"), a.mkString("\n"))
    // duplicate the first event into the second file: dedup must drop it
    Files.writeString(dir.resolve("part2.jsonl"), (b :+ rows.head).mkString("\n"))
    dir.toString
  }

  test("streaming dedup drops the duplicated event and matches batch cardinality") {
    val stream = StreamingOps.dedupedStream(StreamingOps.readEventStream(spark, feedDir))
    val q = stream.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out").count()
    val batch = Tables.events(spark, sf0001).count()
    assert(streamed === batch) // duplicate row was dropped, nothing else lost
  }

  test("streaming content dedup keeps one survivor per distinct text across micro-batches") {
    // doc feed: sf0.001 documents with synthetic ingest times; a later file
    // re-ingests the first three docs with NEW timestamps (the re-crawl
    // shape) — content dedup must still collapse them
    val dir = Files.createTempDirectory("graft_docstream")
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("ingest_ts",
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)"))
    val rows = docs.select(to_json(struct(col("doc_id"), col("ingest_ts"),
      col("lang"), col("text"))).as("j")).collect().map(_.getString(0))
    val (a, b) = rows.splitAt(rows.length / 2)
    Files.writeString(dir.resolve("part1.jsonl"), a.mkString("\n"))
    // new ids AND new (later) ingest timestamps, same text — a dedup keyed
    // on (hash, ts) instead of hash alone would NOT collapse these, which is
    // exactly the regression this fixture must catch
    val reingested = a.take(3).map(_
      .replaceAll("\"doc_id\":(\\d+)", "\"doc_id\":99$1")
      .replace("2024-01-01T00:", "2024-01-01T01:"))
    Files.writeString(dir.resolve("part2.jsonl"), (b ++ reingested).mkString("\n"))
    // pin file-source processing order (it sorts by modification time, and
    // same-millisecond writes tie): originals strictly before the re-crawl
    Files.setLastModifiedTime(dir.resolve("part1.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))

    // one file per trigger → the re-ingested copies arrive in a LATER
    // micro-batch than the originals (the re-crawl scenario); in a single
    // batch the surviving copy per hash would be arbitrary
    val stream = StreamingOps.dedupedDocStream(
      spark.readStream.schema(StreamingOps.docSchema)
        .option("maxFilesPerTrigger", 1).json(dir.toString))
    val q = stream.writeStream.format("memory").queryName("docdedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("docdedup_out")
    val batchDistinct = Tables.documents(spark, sf0001)
      .select(sha2(col("text"), 256)).distinct().count()
    assert(out.count() === batchDistinct, "one survivor per distinct content hash")
    assert(out.select("content_hash").distinct().count() === batchDistinct)
    // the re-ingested copies (doc_id >= 990) must all have been dropped
    assert(out.filter(col("doc_id") >= 990).count() === 0,
      "re-crawled duplicates with fresh timestamps must collapse")
  }

  test("streaming windowed counts equal the batch window aggregation") {
    val stream = StreamingOps.windowedCounts(StreamingOps.readEventStream(spark, feedDir))
    val q = stream.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    // the feed contains one duplicated event -> count it once extra in batch
    val streamed = spark.table("win_out")
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(streamed === Tables.events(spark, sf0001).count() + 1)
    // spot-check one bucket against batch
    val batchTop = Tables.events(spark, sf0001)
      .groupBy(window(col("ts_utc"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("event_type")).limit(1).collect().head
    val streamTop = spark.table("win_out")
      .orderBy(desc("n_events"), col("event_type")).limit(1).collect().head
    assert(streamTop.getAs[Long]("n_events") >= batchTop.getAs[Long]("n"))
  }

  test("streaming session_window agrees with the batch gaps-and-islands sessionization") {
    val stream = StreamingOps.sessionizedCounts(StreamingOps.readEventStream(spark, feedDir))
    val q = stream.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_out")
      .groupBy("user_id").count()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    val batch = graft.operators.JsonTimeOps.sessionCountsPerUser(spark, sf0001)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
    assert(streamed === batch,
      "session count per user must match between session_window (stream) and batch")
  }

  test("stream-stream interval join equals the batch join on the same feed") {
    val join = StreamingOps.clickPurchaseStreamJoin(
      StreamingOps.readEventStream(spark, feedDir),
      StreamingOps.readEventStream(spark, feedDir))
    val q = join.writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("join_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin over the SAME feed (including its duplicated event), same
    // predicate — exact pair-set parity, not just cardinality
    val feed = spark.read.schema(StreamingOps.eventSchema).json(feedDir)
    val c = feed.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_utc").as("click_ts"),
        col("event_id").as("click_id"))
    val p = feed.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_utc").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = c.join(p,
        col("c_user") === col("p_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "the feed must actually produce joined pairs")
  }

  test("mapGroupsWithState per-user stats match the batch flagship argmax") {
    import spark.implicits._
    val stream = StreamingOps.userStatsStream(spark,
      StreamingOps.readEventStream(spark, feedDir))
    val q = stream.writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // last state update per user wins
    val streamed = spark.table("state_out")
      .groupBy("user_id")
      .agg(max_by(col("last_event_id"), struct(col("n_events"))).as("last_event_id"))
      .as[(Long, Long)].collect().toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy($"user_id")
      .agg(max_by($"event_id", struct($"ts", $"event_id")).as("event_id"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("streaming near-dup ingest ≡ the batch probe operator, row-for-row") {
    // the drained AvailableNow stream (shards probing corpus index +
    // accumulated seen-shard state) must land on exactly the batch
    // operator's ledger — the same stream ≡ batch contract CompactionSpec
    // pins for the merge kernel
    val streamed = graft.operators.TextOps.streamingNeardupIngest(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextOps.incrementalNeardupStats(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("the fused probe's shard index is row-identical to lshIndexRows " +
      "(uncapped) over the same batch") {
    import graft.operators.TextOps
    val batch = TextOps.arrivingBatch(spark, sf0001).persist()
    try {
      val idx = graft.pipeline.DedupZone.ensureLshIndex(spark, sf0001)
        .withColumn("is_corpus", lit(true))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("lang", "rep", "sk", "sh", "band", "bkey").collect()
          .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val fused = rows(TextOps.probeClassifyAndIndex(spark, batch, idx)._2)
      val direct = rows(TextOps.lshIndexRows(spark, batch, capBuckets = false))
      assert(fused.keys.exists(_(4) == -1) && fused.keys.exists(_(4) != -1),
        "the fixture batch must yield both identity-rung and banded rows")
      assert(fused === direct)
    } finally batch.unpersist()
  }
}
