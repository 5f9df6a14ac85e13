package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EtlOps
import graft.pipeline.RawZone

/** The DSv2 paginated source (one InputPartition per page) and the salted
  * two-phase aggregation for skewed keys.
  */
class SourceAndSkewSpec extends AnyFunSuite with SparkFixture {

  test("PagedJsonSource reads the raw zone with one partition per page file") {
    val dir = RawZone.buildFromEvents(spark, sf0001)
    val pages = spark.read.format("graft.sources.PagedJsonSource").load(dir)

    // parallelism contract: partitions == page files
    val nFiles = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && !f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")) n += 1
      }
      n
    }
    assert(pages.rdd.getNumPartitions === nFiles)
    assert(nFiles > 1, "raw zone should span multiple pages")

    // transport-then-parse equals Spark's own JSON source (data columns)
    val viaConnector = pages
      .select(from_json(col("value"), RawZone.pageSchema).as("p"))
      .select(explode(col("p.workflow_runs")).as("run"))
      .select(col("run.id"))
    val viaJson = spark.read.schema(RawZone.pageSchema).json(dir)
      .select(explode(col("workflow_runs")).as("run"))
      .select(col("run.id"))
    assert(viaConnector.count() === viaJson.count())
    assert(viaConnector.except(viaJson).isEmpty && viaJson.except(viaConnector).isEmpty)

    // provenance column is populated
    assert(pages.filter(col("src_file").isNull || col("src_file") === "").count() === 0)
  }

  test("RetryPolicy: max-3 retries with exponential backoff, then rethrow (ref main.py:55-82)") {
    import graft.sources.RetryPolicy
    // succeeds on 3rd attempt → two backoff sleeps of 500, 1000 ms
    var attempts = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val got = RetryPolicy.withRetry(sleep = sleeps += _) { () =>
      attempts += 1
      if (attempts < 3) sys.error("flaky") else 42
    }
    assert(got === 42)
    assert(attempts === 3)
    assert(sleeps.toSeq === Seq(500L, 1000L))

    // never succeeds → exactly 1 + maxRetries attempts, full backoff
    // schedule, and the final failure propagates
    var attempts2 = 0
    val sleeps2 = scala.collection.mutable.ArrayBuffer[Long]()
    val e = intercept[RuntimeException] {
      RetryPolicy.withRetry(sleep = sleeps2 += _) { () =>
        attempts2 += 1
        sys.error(s"down ($attempts2)")
      }
    }
    assert(attempts2 === 4)
    assert(sleeps2.toSeq === Seq(500L, 1000L, 2000L))
    assert(e.getMessage === "down (4)")
  }

  test("paged connector pipeline equals the native JSON-scan pipeline") {
    val viaConnector = RawZone.pagedConnectorRuns(spark, sf0001)
    val viaNative = RawZone.pipelineRuns(spark, sf0001)
    assert(viaConnector.count() === viaNative.count())
    assert(viaConnector.except(viaNative).isEmpty &&
      viaNative.except(viaConnector).isEmpty)
  }

  test("cursor connector equals the listing connector — transport changes, answer must not") {
    val viaCursor = RawZone.cursorConnectorRuns(spark, sf0001)
    val viaListing = RawZone.pagedConnectorRuns(spark, sf0001)
    assert(viaCursor.exceptAll(viaListing).count() === 0)
    assert(viaListing.exceptAll(viaCursor).count() === 0)
    assert(viaCursor.count() > 0)
  }

  test("cursor chains are discovered by link-following, span pages, and reject cycles") {
    val dir = RawZone.ensureCursorZone(spark, sf0001)
    val pages = spark.read.format("graft.sources.CursorPagedJsonSource").load(dir)
    // one InputPartition per chained page, discovered without any file listing
    val nPages = pages.rdd.getNumPartitions
    assert(nPages > 1, "cursor zone should span multiple pages")
    assert(pages.count() === nPages, "each response capture carries one page document")

    // guard rails: a self-linking chain fails loudly instead of duplicating data
    val bad = new java.io.File("target/tmp/cursor_cycle/chain")
    bad.mkdirs()
    java.nio.file.Files.write(new java.io.File(bad, "start.json").toPath,
      "HTTP/1.1 200 OK\nLink: <start.json>; rel=\"next\"\n\n{\"workflow_runs\": []}\n"
        .getBytes("UTF-8"))
    val cycleErr = intercept[Exception] {
      spark.read.format("graft.sources.CursorPagedJsonSource")
        .load("target/tmp/cursor_cycle").count()
    }
    assert(cycleErr.getMessage.contains("cycle") ||
      Option(cycleErr.getCause).exists(_.getMessage.contains("cycle")))

    // ... and a dangling link fails loudly instead of truncating the chain
    val dang = new java.io.File("target/tmp/cursor_dangling/chain")
    dang.mkdirs()
    java.nio.file.Files.write(new java.io.File(dang, "start.json").toPath,
      "HTTP/1.1 200 OK\nLink: <p-missing.json>; rel=\"next\"\n\n{\"workflow_runs\": []}\n"
        .getBytes("UTF-8"))
    val dangErr = intercept[Exception] {
      spark.read.format("graft.sources.CursorPagedJsonSource")
        .load("target/tmp/cursor_dangling").count()
    }
    assert(dangErr.getMessage.contains("dangling") ||
      Option(dangErr.getCause).exists(_.getMessage.contains("dangling")))

    // ... and a traversal-shaped cursor token is rejected, not resolved (ADVICE r7)
    val esc = new java.io.File("target/tmp/cursor_escape/chain")
    esc.mkdirs()
    java.nio.file.Files.write(new java.io.File(esc, "start.json").toPath,
      "HTTP/1.1 200 OK\nLink: <../../../etc/passwd>; rel=\"next\"\n\n{\"workflow_runs\": []}\n"
        .getBytes("UTF-8"))
    val escErr = intercept[Exception] {
      spark.read.format("graft.sources.CursorPagedJsonSource")
        .load("target/tmp/cursor_escape").count()
    }
    def mentionsEscape(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("escape")) || mentionsEscape(t.getCause))
    assert(mentionsEscape(escErr))
  }

  test("reading the cursor zone leaves the archive unchanged") {
    // rebuilt first, so no earlier read can have left files in it
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(RawZone.cursorZoneDir(sf0001)))
    val dir = new java.io.File(RawZone.ensureCursorZone(spark, sf0001))
    def listing(): Seq[(String, Long, Long)] = {
      val it = org.apache.commons.io.FileUtils.iterateFiles(dir, null, true)
      val files = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      while (it.hasNext) {
        val f = it.next()
        files += ((dir.toPath.relativize(f.toPath).toString, f.length(), f.lastModified()))
      }
      files.sorted.toSeq
    }
    val before = listing()
    assert(spark.read.format("graft.sources.CursorPagedJsonSource").load(dir.toString)
      .count() > 0)
    assert(listing() === before, "planning and reading must not write into the archive")
  }

  test("a rewritten chain head: a re-read returns the current chain") {
    val root = new java.io.File("target/tmp/cursor_fresh")
    val dir = new java.io.File(root, "chain")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    dir.mkdirs()
    def page(name: String, next: Option[String], rows: Int): Unit = {
      val link = next.map(n => s"""Link: <$n>; rel="next"\n""").getOrElse("")
      val body = (1 to rows).map(i => s"""{"run":"$name-$i"}""").mkString("\n")
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        s"HTTP/1.1 200 OK\n$link\n$body\n".getBytes("UTF-8"))
    }
    page("start.json", Some("p2.json"), rows = 2)
    page("p2.json", None, rows = 2)
    def readAll(): Long =
      spark.read.format("graft.sources.CursorPagedJsonSource").load(root.toString).count()
    assert(readAll() === 4L)
    // extend the chain AT THE HEAD: start.json now links to a new page; a
    // reader serving a remembered page list would silently truncate the dataset
    page("start.json", Some("p1b.json"), rows = 2)
    page("p1b.json", Some("p2.json"), rows = 3)
    assert(readAll() === 7L,
      "a re-read must not serve the old page list")
  }

  test("a same-length head rewrite with all old pages intact: a re-read returns " +
      "the current chain") {
    val root = new java.io.File("target/tmp/cursor_samelen")
    val dir = new java.io.File(root, "chain")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    dir.mkdirs()
    def page(name: String, next: Option[String], rows: Int): java.io.File = {
      val link = next.map(n => s"""Link: <$n>; rel="next"\n""").getOrElse("")
      val body = (1 to rows).map(i => s"""{"run":"$name-$i"}""").mkString("\n")
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath,
        s"HTTP/1.1 200 OK\n$link\n$body\n".getBytes("UTF-8"))
      f
    }
    def readAll(): Long =
      spark.read.format("graft.sources.CursorPagedJsonSource").load(root.toString).count()
    val head = page("start.json", Some("pa.json"), rows = 2)
    page("pa.json", None, rows = 2)
    assert(readAll() === 4L)
    val lenBefore = head.length()
    // redirect the head to a DIFFERENT page while keeping start.json
    // byte-length identical ("pa" -> "pb") and leaving the old page in place
    // — a cache keyed on the head's length alone would accept this
    page("pb.json", None, rows = 3)
    page("start.json", Some("pb.json"), rows = 2)
    assert(head.length() === lenBefore, "fixture must reproduce a same-length rewrite")
    // make the rewrite observable at mtime granularity (a rewrite in the real
    // world happens later than the original write; local fs ms clocks can tie
    // within a fast test)
    head.setLastModified(head.lastModified() + 2000)
    assert(readAll() === 5L,
      "a same-length head rewrite must not serve the stale page list")

    // byte-identical head rewrite with a bumped mtime: same chain, same rows
    head.setLastModified(head.lastModified() + 2000)
    assert(readAll() === 5L)
    assert(readAll() === 5L)
  }

  test("salted two-phase aggregation equals direct aggregation under heavy skew") {
    import spark.implicits._
    // synthesize skew: one user owns ~87% of all rows
    val base = Tables.events(spark, sf0001).select($"user_id", $"value")
    val hot = spark.range(7000).select(lit(1L).as("user_id"), (rand(seed = 7) * 100).as("value"))
    val skewed = base.unionByName(hot)

    val direct = skewed.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
    val salted = EtlOps.saltedAgg(skewed,
      key = Seq($"user_id"),
      salt = $"value",
      buckets = 16,
      phase1 = Seq(count(lit(1)).as("n"), sum($"value").as("total")),
      phase2 = Seq(sum($"n").as("n"), round(sum($"total"), 2).as("total")))

    val d = direct.orderBy($"user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s = salted.orderBy($"user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(s === d, "salted plan must produce identical counts")
    // float sums: compare within rounding noise
    val dt = direct.agg(sum("total")).collect().head.getDouble(0)
    val st = salted.agg(sum("total")).collect().head.getDouble(0)
    assert(math.abs(dt - st) < 1e-6)
  }

  test("salted join equals the plain join under total-key skew") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001)
      .select($"event_id", $"event_type", $"value")
    val dim = ev.groupBy($"event_type").agg(count(lit(1)).as("type_total"))
    val plain = ev.join(dim, "event_type")
      .select($"event_id", $"event_type", $"type_total")
    val salted = EtlOps.saltedJoin(ev, dim, Seq("event_type"), $"event_id", 8)
      .select($"event_id", $"event_type", $"type_total")
    val p = plain.orderBy($"event_id").collect().map(_.toSeq).toSeq
    val s = salted.orderBy($"event_id").collect().map(_.toSeq).toSeq
    assert(s === p, "salting must not change join multiplicity or content")
  }

  test("SCD2 intervals: chained, non-overlapping, exactly one current per user") {
    val rows = EtlOps.scd2UserValueHistory(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, hist) =>
      val ordered = hist.sortBy(_.getAs[Int]("seq"))
      assert(ordered.count(_.getAs[Boolean]("is_current")) === 1)
      assert(ordered.last.getAs[Boolean]("is_current"), "open interval is the newest")
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") === b.getAs[Long]("valid_from"),
            "each interval closes exactly where the next opens")
        case _ =>
      }
    }
  }
}
