package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Per-operator sanity suites on sf0.001 (SURVEY §5). The differential
  * DuckDB oracle (tools/check.py, driver t2) is the primary correctness
  * gate; these assert structural invariants cheaply in-process.
  */
class OperatorSpec extends AnyFunSuite with SparkFixture {

  test("flagship: latest event per user counts sum to distinct users") {
    val out = EtlOps.latestEventPerUser(spark, sf0001).collect()
    val totalUsers = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_users")).sum === totalUsers)
  }

  test("semi + anti partition the customer set") {
    val semi = Relational.joinSemiCustomers(spark, sf0001).count()
    val anti = Relational.joinAntiCustomers(spark, sf0001).count()
    val all = Tables.customer(spark, sf0001).count()
    assert(semi + anti === all)
  }

  test("top-k emits at most k rows per group, rank-ordered") {
    val rows = Relational.topkOrdersPerPriority(spark, sf0001).collect()
    val byGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    byGroup.foreach { case (_, grp) =>
      assert(grp.length <= 3)
      assert(grp.map(_.getAs[Int]("rk")).sorted.toSeq === (1 to grp.length))
      val prices = grp.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.sameElements(prices.sorted.reverse), "ranked by price desc")
    }
  }

  test("rollup contains group, subtotal, and grand-total strata") {
    val rows = Relational.rollupOrders(spark, sf0001).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    val subtotals = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("n_orders") === Tables.orders(spark, sf0001).count())
    assert(subtotals.nonEmpty)
  }

  test("exact dedup groups exactly the distinct texts") {
    val out = TextOps.dedupExactDocs(spark, sf0001)
    val distinctTexts = Tables.documents(spark, sf0001).select("text").distinct().count()
    assert(out.count() === distinctTexts)
    assert(out.agg(sum("n_dups")).collect().head.getLong(0) ===
      Tables.documents(spark, sf0001).count())
  }

  test("bm25 top-k matches a driver-side exact BM25 kernel") {
    // independent in-memory re-computation of the whole retrieval, same
    // split/tokenization contract — the strongest in-process check short of
    // the DuckDB oracle (which also grades this query)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    def toks(t: String): Array[String] = t.split(" ").filter(_.nonEmpty)
    val train = docs.filter { case (id, _) => bucket(id) < 80 }
      .map { case (id, t) => (id, toks(t)) }.filter(_._2.nonEmpty)
    val test = docs.filter { case (id, _) => bucket(id) >= 90 }
      .map { case (id, t) => (id, toks(t).distinct.toSet) }
    val n = train.length.toDouble
    val avgdl = train.map(_._2.length.toLong).sum.toDouble / n
    val tfs = train.map { case (id, w) =>
      (id, w.groupBy(identity).map { case (k, v) => (k, v.length) })
    }
    val df = tfs.flatMap(_._2.keys).groupBy(identity).map { case (k, v) => (k, v.length) }
    val (k1, b) = (1.2, 0.75)
    val expected = test.flatMap { case (qid, qterms) =>
      val scored = tfs.flatMap { case (tid, tf) =>
        val s = qterms.toSeq.flatMap(t => tf.get(t).map { f =>
          math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * f * 2.2 /
            (f + k1 * ((1 - b) + b * tf.values.sum / avgdl))
        }).sum
        if (s > 0) Some((tid, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
      }
      scored.sortBy { case (tid, s) => (-s, tid) }.take(3).zipWithIndex.map {
        case ((tid, s), i) => ((qid, i + 1), (tid, s))
      }
    }.toMap
    val got = TextOps.bm25TopK(spark, sf0001).collect().map { r =>
      ((r.getAs[Long]("query_doc"), r.getAs[Int]("rk")),
        (r.getAs[Long]("train_doc"), r.getAs[Double]("score")))
    }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (key, (tid, s)) =>
      val (etid, es) = expected(key)
      assert(tid === etid, s"candidate at $key")
      assert(math.abs(s - es) < 1e-6, s"score at $key: got $s expected $es")
    }
  }

  test("bm25: the forced postings-join branch reproduces the dense kernel " +
      "row-for-row (VERDICT r10 item 3 branch equivalence)") {
    // denseVocabCap = 0 forces the open-vocabulary branch on the same
    // corpus; both branches are exact, so outputs must coincide byte-wise
    // on (query, rank) → (candidate, 6-dp score)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val dense = rowsOf(TextOps.bm25TopK(spark, sf0001))
    val postings = rowsOf(TextOps.bm25TopKImpl(spark, sf0001,
      denseVocabCap = 0L, postingsBudget = TextOps.Bm25PostingsBudget))
    assert(postings === dense)
  }

  test("bm25: the zone-backed index query reproduces the cold rebuild " +
      "row-for-row, and the artifact is reused on a fresh ensure") {
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val cold = rowsOf(TextOps.bm25TopK(spark, sf0001))
    val zoned = rowsOf(TextOps.bm25IndexTopk(spark, sf0001))
    assert(zoned === cold,
      "index-backed scoring must equal the in-query index build exactly")
    val dir = new java.io.File(
      s"${graft.pipeline.LexicalZone.zoneDir(sf0001)}/bm25_postings")
    val before = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    Thread.sleep(1100L)
    TextOps.bm25IndexTopk(spark, sf0001).collect()
    assert(dir.listFiles().map(f => f.getName -> f.lastModified).toMap === before,
      "a second query against an up-to-date index must not rebuild it")
  }

  test("bm25: an over-budget open-vocabulary corpus fails loudly, naming the " +
      "df-cutoff as the opt-in approximation") {
    val e = intercept[IllegalStateException] {
      TextOps.bm25TopKImpl(spark, sf0001, denseVocabCap = 0L,
        postingsBudget = 0L).count()
    }
    assert(e.getMessage.contains("df-proportion cutoff"))
    assert(e.getMessage.contains("fan-out"))
  }

  test("bm25: a dense-preferred corpus is immune to the postings budget — " +
      "branch 1 fires before the budget is ever consulted") {
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val viaDense = rowsOf(TextOps.bm25TopKImpl(spark, sf0001,
      denseVocabCap = TextOps.Bm25DenseVocabCap, postingsBudget = 0L))
    assert(viaDense === rowsOf(TextOps.bm25TopK(spark, sf0001)))
  }

  test("cluster representatives: survivor is each cluster's longest member, totals conserved") {
    val reps = TextOps.clusterRepresentatives(spark, sf0001).collect()
    val clusters = TextOps.dedupClusters(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(reps.map(_.getAs[Long]("n_members")).sum === clusters.size.toLong)
    val toks = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").count(_.nonEmpty).toLong).toMap
    val byCluster = clusters.toSeq.groupBy(_._2)
    reps.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = byCluster(cid).map(_._1)
      // independent survivor re-derivation: longest member, lowest-id tie-break
      val best = members.maxBy(id => (toks(id), -id))
      assert(r.getAs[Long]("keep_doc") === best)
      assert(clusters(best) === cid, "survivor must belong to its cluster")
      assert(r.getAs[Long]("n_members") === members.size.toLong)
      assert(r.getAs[Long]("kept_tokens") === toks(best))
      assert(r.getAs[Long]("dropped_tokens") === members.map(toks).sum - toks(best))
    }
  }

  test("retention audit: statuses partition the corpus and agree with the " +
      "survivor and contamination ledgers") {
    val out = TextOps.retentionAuditStats(spark, sf0001).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf0001).count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") === r.getAs[Long]("neardup_docs") +
        r.getAs[Long]("contaminated_docs") + r.getAs[Long]("retained_docs"),
        s"statuses must partition ${r.getAs[String]("lang")}")
      assert(r.getAs[Long]("total_tokens") === r.getAs[Long]("neardup_tokens") +
        r.getAs[Long]("contaminated_tokens") + r.getAs[Long]("retained_tokens"))
    }
    // near-dup drops ≡ cluster members minus survivors, per the
    // representatives ledger (shared survivorOrd — must agree exactly)
    val reps = TextOps.clusterRepresentatives(spark, sf0001).collect()
    assert(out.map(_.getAs[Long]("neardup_docs")).sum ===
      reps.map(r => r.getAs[Long]("n_members") - 1).sum)
    // contaminated drops ≡ dirty train docs that SURVIVED dedup
    val survivors = reps.map(_.getAs[Long]("keep_doc")).toSet
    val dirty = TextOps.decontaminationPairs(spark, sf0001).collect()
      .map(_.getAs[Long]("train_doc")).toSet
    assert(out.map(_.getAs[Long]("contaminated_docs")).sum ===
      (dirty & survivors).size.toLong)
  }

  test("source overlap matrix: cells partition the pair artifact and bound " +
      "their doc counts") {
    val out = TextOps.sourceOverlapStats(spark, sf0001).collect()
    // every pair lands in exactly one unordered source cell
    val nPairs = graft.pipeline.DedupZone.ensurePairs(spark, sf0001).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum === nPairs,
      "cells must partition the pair relation — no pair dropped or doubled")
    out.foreach { r =>
      assert(r.getAs[String]("src_lo") <= r.getAs[String]("src_hi"),
        "cells must be unordered (lexicographically normalized)")
      val p = r.getAs[Long]("n_pairs")
      val d = r.getAs[Long]("n_docs")
      assert(d >= 2 && d <= 2 * p,
        s"a cell of $p pairs touches between 2 and ${2 * p} distinct docs, saw $d")
      assert(r.getAs[Double]("min_jacc") <= r.getAs[Double]("max_jacc"))
    }
  }

  test("training manifest: a third driver-side funnel kernel reproduces the " +
      "per-language manifest exactly") {
    val out = TextOps.trainingManifestStats(spark, sf0001).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_bins"), r.getAs[Long]("util_ppm")))).toMap
    // independent funnel: survivor ledger ∩ train split ∩ not-dirty ∩ C4
    val keep = TextOps.clusterRepresentatives(spark, sf0001).collect()
      .map(_.getAs[Long]("keep_doc")).toSet
    val dirty = TextOps.decontaminationPairs(spark, sf0001).collect()
      .map(_.getAs[Long]("train_doc")).toSet
    def isTrain(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100 < 80
    }
    def c4Pass(ws: Seq[String]): Boolean = {
      val n = ws.size; val chars = ws.map(_.length.toLong).sum
      val stop = Set("the", "a", "of")
      val bg = if (n >= 2) ws.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
      n >= 10 && n <= 1000 && 2L * n <= chars && chars <= 12L * n &&
        ws.exists(stop) && 5L * (bg.size - bg.distinct.size) <= bg.size
    }
    val shipped = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").toSeq.filter(_.nonEmpty)))
      .filter { case (id, _, ws) =>
        keep(id) && !dirty(id) && isTrain(id) && c4Pass(ws) }
    val expected = shipped.groupBy(_._2).map { case (lang, docs) =>
      val sorted = docs.sortBy(_._1).map(_._3.size.toLong)
      val prefix = sorted.scanLeft(0L)(_ + _).init
      val bins = prefix.map(_ / 4096L).distinct.size.toLong
      val toks = sorted.sum
      lang -> ((docs.size.toLong, toks, bins, toks * 1000000L / (bins * 4096L)))
    }
    assert(out === expected,
      "the engine manifest must equal the independent driver funnel")
    assert(out.nonEmpty && out.values.forall(_._4 > 0L))
  }

  test("contamination removal ledger agrees with the pair relation it aggregates") {
    val out = TextOps.contaminationRemovalStats(spark, sf0001).collect()
    // same detection relation ⇒ the ledger's doc count is exactly the
    // distinct contaminated-train-doc count of decontamination_pairs
    val dirtyDocs = TextOps.decontaminationPairs(spark, sf0001)
      .select("train_doc").distinct().count()
    assert(out.map(_.getAs[Long]("removed_docs")).sum === dirtyDocs)
    // and the population is the train split, nothing more or less
    val trainCount = Tables.documents(spark, sf0001).select("doc_id").collect()
      .map(_.getLong(0))
      .count { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % 100 < 80
      }
    assert(out.map(_.getAs[Long]("n_train")).sum === trainCount.toLong)
    out.foreach { r =>
      assert(r.getAs[Long]("removed_tokens") <= r.getAs[Long]("train_tokens"))
      assert(r.getAs[Long]("removed_docs") <= r.getAs[Long]("n_train"))
    }
    // ADVICE r10: the full-outer join is row-identical to left ONLY while
    // every dirty id joins a train row. Both sides now share the Splits
    // constants, and this pins the invariant end-to-end: an unmatched dirty
    // id would surface as a null-lang group.
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("lang"))),
      "a null-lang group means a dirty id failed to join any train row — " +
        "the split definitions have drifted apart")
  }

  test("incremental near-dup equals the global J>=0.8 pair relation " +
      "restricted to the batch (probe ≡ full-corpus LSH)") {
    // the O(batch) index probe must classify exactly as the full
    // corpus×corpus pair relation would — derive expectation from the
    // (already exactly-oracled) global minhash pairs
    val pairs = TextOps.neardupMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val langs = Tables.documents(spark, sf0001).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchIds = langs.keySet.filter(bucket(_) >= 90)
    case class Agg(var n: Long = 0, var c: Long = 0, var b: Long = 0, var a: Long = 0)
    val expected = scala.collection.mutable.Map[String, Agg]()
    batchIds.toSeq.sorted.foreach { id =>
      val nb = adj.getOrElse(id, Set.empty)
      val e = expected.getOrElseUpdate(langs(id), Agg())
      e.n += 1
      if (nb.exists(bucket(_) < 90)) e.c += 1
      else if (nb.exists(o => batchIds(o) && o < id)) e.b += 1
      else e.a += 1
    }
    val got = TextOps.incrementalNeardupStats(spark, sf0001).collect()
    assert(got.map(_.getAs[String]("lang")).toSet === expected.keySet)
    got.foreach { r =>
      val e = expected(r.getAs[String]("lang"))
      assert((r.getAs[Long]("n_new"), r.getAs[Long]("dup_of_corpus"),
        r.getAs[Long]("dup_within_batch"), r.getAs[Long]("admitted")) ===
        ((e.n, e.c, e.b, e.a)), s"lang ${r.getAs[String]("lang")}")
    }
  }

  test("incremental dedup: classes partition the batch and match a driver-side kernel") {
    def md5bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val docs = Tables.documents(spark, sf0001)
      .select("lang", "doc_id", "text").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"),
        r.getAs[String]("text")))
    val corpus = docs.filter(d => md5bucket(d._2) < 90)
      .map(d => (d._1, d._3)).toSet
    val batch = docs.filter(d => md5bucket(d._2) >= 90)
    val firstIds = batch.groupBy(d => (d._1, d._3))
      .map { case (k, ds) => k -> ds.map(_._2).min }
    val expected = batch.groupBy(_._1).map { case (lang, ds) =>
      val dupCorpus = ds.count(d => corpus.contains((d._1, d._3)))
      val dupBatch = ds.count(d => !corpus.contains((d._1, d._3)) &&
        d._2 > firstIds((d._1, d._3)))
      lang -> (ds.length.toLong, dupCorpus.toLong, dupBatch.toLong)
    }
    val out = TextOps.incrementalDedupStats(spark, sf0001).collect()
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (nNew, dupC, dupB) = expected(lang)
      assert(r.getAs[Long]("n_new") === nNew)
      assert(r.getAs[Long]("dup_of_corpus") === dupC)
      assert(r.getAs[Long]("dup_within_batch") === dupB)
      // the three classes partition the batch
      assert(r.getAs[Long]("admitted") === nNew - dupC - dupB)
    }
    assert(out.map(_.getAs[Long]("n_new")).sum === batch.length.toLong)
  }

  test("span removal matches a driver-side interval-union kernel and repeated-span docs_affected") {
    // independent in-memory kernel: same tokenization/window/md5 contract,
    // but |union| computed by materializing covered position SETS — a third
    // formulation alongside the engine's sorted-starts fold and the oracle's
    // position explode
    val k = 20
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").split(" ").filter(_.nonEmpty)))
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val postings = docs.flatMap { case (id, lang, ws) =>
      if (ws.length < k) Seq.empty
      else (0 to ws.length - k).map(i =>
        ((lang, md5hex(ws.slice(i, i + k).mkString(" "))), (id, i)))
    }
    val dupKeys = postings.groupBy(_._1)
      .filter(_._2.map(_._2._1).distinct.length >= 2).keySet
    val coveredPerDoc = postings.filter(p => dupKeys.contains(p._1))
      .groupBy { case ((lang, _), (id, _)) => (lang, id) }
      .map { case ((lang, id), ps) =>
        ((lang, id), ps.flatMap { case (_, (_, s)) => s until s + k }.distinct.length.toLong)
      }
    val expected = docs.groupBy(_._2).map { case (lang, ds) =>
      val rem = coveredPerDoc.filter(_._1._1 == lang)
      (lang, (ds.length.toLong, ds.map(_._3.length.toLong).sum,
        rem.size.toLong, rem.values.sum))
    }
    val out = TextOps.spanRemovalStats(spark, sf0001).collect()
    assert(out.map(_.getAs[String]("lang")).toSeq === expected.keys.toSeq.sorted)
    out.foreach { r =>
      val (nDocs, tokTotal, docsMod, tokRem) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") === nDocs)
      assert(r.getAs[Long]("tokens_total") === tokTotal)
      assert(r.getAs[Long]("docs_modified") === docsMod)
      assert(r.getAs[Long]("tokens_removed") === tokRem)
    }
    // same duplication criterion as repeated_span_stats ⇒ identical doc sets
    val affected = TextOps.repeatedSpanStats(spark, sf0001).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("docs_affected")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("docs_modified") ===
        affected.getOrElse(r.getAs[String]("lang"), 0L))
    }
  }

  test("minhash-LSH near-dup finds every pair the brute-force scan finds at its threshold") {
    val brute = TextOps.neardupJaccardPairs(spark, sf0001)
      .filter(col("jacc") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.neardupMinhashLsh(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === brute, "banded LSH must recover the brute-force pair set at J>=0.8")
  }

  test("declared jaccard near-dup matches a driver-side exact kernel") {
    // The hand-rolled kernel (sorted-array merge intersect, HALF_UP round)
    // lives here as a cross-check ONLY — declared queries stay declarative
    // (VERDICT r2 item 3: no .collect() in a declared query's hot path).
    import spark.implicits._
    val threshold = 0.3
    val docs = TextOps.hashedShingleDocs(spark, sf0001)
      .select(col("doc_id"), col("lang"), sort_array(col("sh")).as("sh"))
      .as[(Long, String, Array[Long])].collect()
    val expected = (for {
      (ida, lang, sha) <- docs.iterator
      (idb, langB, shb) <- docs.iterator
      if lang == langB && ida < idb
    } yield {
      val na = sha.length; val nb = shb.length
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        if (sha(i) == shb(j)) { inter += 1; i += 1; j += 1 }
        else if (sha(i) < shb(j)) i += 1
        else j += 1
      }
      val jacc = BigDecimal(inter.toDouble / (na + nb - inter))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      (ida, idb, jacc)
    }).filter(_._3 >= threshold).toSet
    val got = TextOps.neardupJaccardPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("simhash near-dup: hamming-0 pairs include all exact-duplicate docs") {
    import spark.implicits._
    val out = TextOps.simhashNeardup(spark, sf0001)
      .filter(col("hamming") === 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exactDups = Tables.documents(spark, sf0001)
      .groupBy(col("lang"), sha2(col("text"), 256))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .as[(Long, Long)].collect().toSet
    assert(exactDups.subsetOf(out),
      "identical same-lang texts must appear at Hamming 0")
  }

  test("near-dup queries leave no persisted blocks after their consuming action") {
    // clean slate: other suites share this session and may cache legitimately
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val builders = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      TextOps.neardupJaccardPairs(_, _),
      TextOps.neardupMinhashLsh(_, _),
      TextOps.simhashNeardup(_, _),
      TextOps.dedupClusters(_, _))
    builders.foreach { q =>
      q(spark, sf0001).count()
      // the unpersist hook rides the async listener bus — poll, don't assume
      val deadline = System.nanoTime() + 5000000000L
      while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50L)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "cached blocks must not survive the action that consumed the query (ADVICE r4 item 3)")
    }
  }

  test("a query's caches outlive unrelated actions and drop with the action " +
      "that reads them") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    // the candidate-count gate fills the query's caches while it is built
    val pairs = TextOps.neardupJaccardPairs(spark, sf0001)
    assert(sc.getPersistentRDDs.nonEmpty, "building the query must fill its caches")
    spark.range(1).collect()
    org.apache.spark.ListenerBusDrain(sc, 5000L)
    Thread.sleep(200L) // an unpersist a listener started has landed by now
    assert(sc.getPersistentRDDs.nonEmpty,
      "an action that reads none of the query's caches must leave them held")
    val out = java.nio.file.Files.createTempDirectory("lifetime").toString
    try {
      pairs.write.mode("overwrite").parquet(out)
      val deadline = System.nanoTime() + 5000000000L
      while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50L)
      assert(sc.getPersistentRDDs.isEmpty,
        "the write that consumed the query must release every cache it read")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("a query built but never run holds its caches until clearCache(), and " +
      "its release hook goes with them") {
    val sc = spark.sparkContext
    def settle(): Unit = {
      spark.range(1).collect()
      org.apache.spark.ListenerBusDrain(sc, 5000L)
    }
    spark.catalog.clearCache()
    settle() // hooks of earlier tests' unconsumed queries drop here
    val before = TextOps.armedReleases.get
    TextOps.neardupJaccardPairs(spark, sf0001) // built, never consumed
    settle()
    assert(TextOps.armedReleases.get > before,
      "an unrelated action must leave the unconsumed query's hook armed")
    assert(sc.getPersistentRDDs.nonEmpty, "and its caches held")
    spark.catalog.clearCache()
    settle()
    assert(TextOps.armedReleases.get === before,
      "a hook whose caches were all cleared must not stay registered")
  }

  test("as-of join: every reported click precedes its purchase") {
    import spark.implicits._
    val ev = Tables.events(spark, sf0001)
      .select($"event_id", $"ts").as[(Long, Long)].collect().toMap
    val out = Relational.asofPurchaseClick(spark, sf0001).collect()
    out.filter(!_.isNullAt(2)).foreach { r =>
      val purchase = r.getAs[Long]("purchase_id")
      val click = r.getAs[Long]("last_click_id")
      assert(ev(click) <= ev(purchase), s"click $click must not be after purchase $purchase")
    }
  }

  test("session counts: n_sessions between 1 and n_events per user") {
    val rows = JsonTimeOps.sessionCountsPerUser(spark, sf0001).collect()
    rows.foreach { r =>
      val s = r.getAs[Long]("n_sessions")
      val n = r.getAs[Long]("n_events")
      assert(s >= 1 && s <= n)
    }
  }

  test("raw-zone pipeline output cardinality equals events cardinality") {
    val out = graft.pipeline.RawZone.pipelineRuns(spark, sf0001)
    assert(out.count() === Tables.events(spark, sf0001).count())
    // dedup provably chose snapshot 2: every id % 3 == 0 row carries +1000
    val bumped = out.filter(col("id") % 3 === 0).filter(col("value") < 1000.0).count()
    assert(bumped === 0)
  }

  test("Q3 shape: at most 10 orders, revenue-descending") {
    val rows = Relational.revenueTopOrders(spark, sf0001).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sorted.reverse))
  }

  test("Q5 shape: only nations of the chosen region appear") {
    val rows = Relational.regionalRevenue(spark, sf0001).collect()
    val asiaNations = Tables.nation(spark, sf0001)
      .join(Tables.region(spark, sf0001).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(rows.nonEmpty)
    rows.foreach(r => assert(asiaNations.contains(r.getAs[String]("n_name"))))
  }

  test("resample: dense per-user hour grid, forward fill always defined") {
    val rows = JsonTimeOps.resampleHourlyFfill(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, hist) =>
      val hours = hist.map(_.getAs[Long]("hour")).sorted
      assert(hours.last - hours.head + 1 === hours.length, "grid is dense")
      assert(hist.head.getAs[Boolean]("observed") ||
        hist.minBy(_.getAs[Long]("hour")).getAs[Boolean]("observed"),
        "grid starts at the first OBSERVED hour")
      hist.foreach(r => assert(!r.isNullAt(r.fieldIndex("v_ffill")),
        "fill is defined from the first grid hour onward"))
      // unobserved hours carry zero events and a carried value
      hist.filterNot(_.getAs[Boolean]("observed"))
        .foreach(r => assert(r.getAs[Long]("n_events") === 0L))
    }
  }

  test("ORC round-trip preserves the part aggregate exactly") {
    val viaOrc = graft.pipeline.RawZone.orcRoundtripParts(spark, sf0001).collect()
    val direct = Tables.part(spark, sf0001)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("p_retailprice")), 2).as("total_price"),
        min(col("p_partkey")).as("min_partkey"))
      .orderBy(col("p_brand")).collect()
    assert(viaOrc.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
  }
}
