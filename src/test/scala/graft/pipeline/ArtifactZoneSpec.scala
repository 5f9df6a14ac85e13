package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Contract tests for the shared artifact-commit kernel — r15: the
  * versioned-directory + pointer-CAS layout (in this package so the
  * `private[pipeline]` surface is directly drivable).
  */
class ArtifactZoneSpec extends AnyFunSuite with SparkFixture {

  private def versionDirs(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
      .map(_.getName)

  private def pointerNames(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("_GRAFT_PTR."))
      .map(_.getName).sorted

  /** Stage a CROSS-JVM winner's commit: a complete version dir (rows +
    * fingerprint) published through the real pointer CAS — what a racing
    * builder in another JVM leaves behind.
    */
  private def stageWinnerCommit(dir: java.io.File, source: java.io.File,
      rows: Seq[Long]): Unit = {
    import spark.implicits._
    val vname = s"v-winner-${rows.hashCode.abs}"
    rows.toDF("v").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(new java.io.File(dir, vname).getPath)
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(dir, vname), "_GRAFT_SRC").toPath,
      RawZone.sourceFingerprint(source).getBytes("UTF-8"))
    ArtifactZone.commitSchema(spark, new java.io.File(dir, vname).getPath)
    assert(ArtifactZone.casCommit(dir.getPath, vname))
  }

  test("a build that throws leaves neither a resolvable artifact nor " +
      "version-dir debris") {
    val dir = new java.io.File("target/artifactzone-spec/failing")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    val boom = intercept[IllegalStateException] {
      ArtifactZone.ensure(spark, dir.getPath, source) { tmp =>
        // simulate a build dying mid-write: partial output, then failure
        new java.io.File(tmp).mkdirs()
        java.nio.file.Files.write(
          new java.io.File(tmp, "part-partial").toPath, Array[Byte](1, 2, 3))
        throw new IllegalStateException("simulated build failure")
      }
    }
    assert(boom.getMessage.contains("simulated build failure"))
    assert(ArtifactZone.resolve(dir.getPath).isEmpty,
      "no version may be committed from a failed build")
    assert(versionDirs(dir).isEmpty,
      "a failed build must clean up its partial version dir")
  }

  test("an algorithm-version bump invalidates the artifact; same version " +
      "reuses; GC retains exactly current + previous versions") {
    val dir = new java.io.File("target/artifactzone-spec/versioned")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    var builds = 0
    def ensure(version: String) =
      ArtifactZone.ensure(spark, dir.getPath, source, version) { tmp =>
        builds += 1
        Seq(builds.toLong).toDF("v")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      }
    ensure("algo-v1").count()
    ensure("algo-v1").count()
    assert(builds === 1, "an unchanged version must serve the committed artifact")
    // the source file is untouched, but the algorithm changed: must rebuild —
    // a source-only fingerprint would silently serve the v1 index against
    // v2 query-time computation
    ensure("algo-v2").count()
    assert(builds === 2, "a version bump must force a rebuild")
    ensure("algo-v2").count()
    assert(builds === 2)
    // retention: v1's version dir SURVIVES v2's commit (the in-flight-
    // reader window), and a third commit garbage-collects it
    assert(versionDirs(dir).size === 2,
      "current + previous versions must both be retained after one rebuild")
    ensure("algo-v3").count()
    assert(builds === 3)
    assert(versionDirs(dir).size === 2,
      "a third commit must GC the oldest version: keep current + previous")
    assert(pointerNames(dir).size === 2,
      "dropped pointers must be GC'd with their versions")
    assert(ArtifactZone.ensure(spark, dir.getPath, source, "algo-v3") { _ =>
      fail("must not rebuild")
    }.collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("NO absent-zone window: while a rebuild is mid-commit, a concurrent " +
      "reader resolving the zone still scans the OLD committed version " +
      "(VERDICT r14 item 5 — the delete-then-rename window is gone)") {
    val dir = new java.io.File("target/artifactzone-spec/window")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    def build(rows: Seq[Long])(tmp: String): Unit =
      rows.toDF("v").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    ArtifactZone.ensure(spark, dir.getPath, source, "w-v1")(build(Seq(1L, 2L)))
    val oldPath = ArtifactZone.resolve(dir.getPath).get
    val prodCommit = ArtifactZone.commitHook
    var probedDuringCommit = 0L
    try {
      ArtifactZone.commitHook = (d, v) => {
        // the instant the OLD code had deleted the committed dir: a reader
        // must still resolve and scan the old version, files intact
        val p = ArtifactZone.resolve(d)
        assert(p.contains(oldPath), "mid-commit, the old version must resolve")
        probedDuringCommit = spark.read.parquet(p.get).count()
        ArtifactZone.casCommit(d, v)
      }
      val got = ArtifactZone.ensure(spark, dir.getPath, source, "w-v2")(
        build(Seq(7L, 8L, 9L)))
      assert(probedDuringCommit === 2L,
        "the concurrent reader must have scanned the old version mid-commit")
      assert(got.count() === 3L, "after the commit, the new version serves")
      // and the old version is STILL live (previous-version retention), so
      // a plan resolved against it pre-commit keeps scanning real files
      assert(spark.read.parquet(oldPath).count() === 2L)
    } finally ArtifactZone.commitHook = prodCommit
  }

  test("a crash BETWEEN build and pointer commit leaves the old version " +
      "committed and resolvable; the litter never shadows it") {
    val dir = new java.io.File("target/artifactzone-spec/crashed")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    def build(rows: Seq[Long])(tmp: String): Unit =
      rows.toDF("v").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    ArtifactZone.ensure(spark, dir.getPath, source, "c-v1")(build(Seq(1L)))
    val oldPath = ArtifactZone.resolve(dir.getPath).get
    val prodCommit = ArtifactZone.commitHook
    try {
      ArtifactZone.commitHook = (_, _) =>
        throw new RuntimeException("crash between build and pointer commit")
      intercept[RuntimeException] {
        ArtifactZone.ensure(spark, dir.getPath, source, "c-v2")(build(Seq(2L)))
      }
    } finally ArtifactZone.commitHook = prodCommit
    assert(ArtifactZone.resolve(dir.getPath).contains(oldPath),
      "a crash before the pointer CAS must leave the OLD version current")
    assert(spark.read.parquet(oldPath).count() === 1L)
    // the crashed build's version dir is unreferenced litter; the next
    // successful ensure (here: fresh, so a no-op read) must not serve it
    assert(ArtifactZone.ensure(spark, dir.getPath, source, "c-v1") { _ =>
      fail("v1 is still committed and fresh — must not rebuild")
    }.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("a racing builder that loses the pointer CAS to a SAME-fingerprint " +
      "winner self-heals by reading the winner's commit; persistent CAS " +
      "loss with no fresh winner fails loudly") {
    val dir = new java.io.File("target/artifactzone-spec/raced")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    def build(rows: Seq[Long])(tmp: String): Unit =
      rows.toDF("v").write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    val prodCommit = ArtifactZone.commitHook
    try {
      // hook: a cross-JVM winner takes the pointer slot in the same
      // instant, with the SAME fingerprint — our CAS loses
      ArtifactZone.commitHook = (d, _) => {
        stageWinnerCommit(new java.io.File(d), source, Seq(42L))
        false // this builder's own CAS "lost"
      }
      val got = ArtifactZone.ensure(spark, dir.getPath, source)(build(Seq(7L)))
      // the loser must serve the WINNER's rows, not throw, not its own
      assert(got.collect().map(_.getLong(0)).toSeq === Seq(42L))
      assert(versionDirs(new java.io.File(dir.getPath))
        .forall(_.startsWith("v-winner")),
        "the loser's version dir must be cleaned up")
    } finally ArtifactZone.commitHook = prodCommit
    // loud arm: the CAS keeps losing and no fresh winner ever appears —
    // bounded retries, then a committer-storm error
    val dir2 = new java.io.File("target/artifactzone-spec/storm")
    try {
      ArtifactZone.commitHook = (_, _) => false
      val boom = intercept[IllegalStateException] {
        ArtifactZone.ensure(spark, dir2.getPath, source)(build(Seq(1L)))
      }
      assert(boom.getMessage.contains("CAS"))
      assert(versionDirs(dir2).isEmpty)
    } finally ArtifactZone.commitHook = prodCommit
  }

  test("the fresher-winner race: a builder whose source changed mid-build " +
      "must NOT supersede a concurrent FRESHER commit (r14 contract, r15 " +
      "pointer form)") {
    // Under delete-then-rename this was the worst race: the stale loser
    // deleted the fresh winner's dir and renamed its own stale tmp in.
    // Under the pointer layout the stale builder's commit-time
    // re-validation notices the source moved, discards its build, and the
    // retry ADOPTS the winner's pointer — the winner's version dir is
    // never touched.
    val dir = new java.io.File("target/artifactzone-spec/fresher")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    dir.getParentFile.mkdirs()
    // a mutable COPY of a fixture file stands in for a source that changes
    // mid-build (the real testdata is read-only)
    val source = new java.io.File(dir.getParentFile, "source.parquet")
    java.nio.file.Files.copy(
      new java.io.File(sf0001, "documents.parquet").toPath, source.toPath)
    import spark.implicits._
    var builds = 0
    val got = ArtifactZone.ensure(spark, dir.getPath, source) { tmp =>
      builds += 1
      Seq(7L).toDF("v") // the soon-to-be-stale loser artifact
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      if (builds == 1) {
        // mid-build: the source advances AND a racing builder of the fresh
        // source commits first (cross-JVM, so it bypasses this JVM's lock)
        assert(source.setLastModified(source.lastModified() + 5000))
        stageWinnerCommit(dir, source, Seq(42L))
      }
    }
    assert(got.collect().map(_.getLong(0)).toSeq === Seq(42L),
      "the fresher winner's commit must be served, never superseded by the stale loser")
    assert(builds === 1, "the retry must find the fresh commit, not rebuild")
    val current = ArtifactZone.resolve(dir.getPath).get
    assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(current, "_GRAFT_SRC").toPath), "UTF-8") ===
      RawZone.sourceFingerprint(source),
      "the committed fingerprint must match the CURRENT source")
  }

  test("a source that keeps changing across consecutive builds fails loudly " +
      "instead of committing a never-fresh artifact (r14)") {
    val dir = new java.io.File("target/artifactzone-spec/churning")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    dir.getParentFile.mkdirs()
    val source = new java.io.File(dir.getParentFile, "churn.parquet")
    java.nio.file.Files.copy(
      new java.io.File(sf0001, "documents.parquet").toPath, source.toPath)
    import spark.implicits._
    var builds = 0
    val boom = intercept[IllegalStateException] {
      ArtifactZone.ensure(spark, dir.getPath, source) { tmp =>
        builds += 1
        Seq(builds.toLong).toDF("v")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
        // the source advances EVERY build — a broken deployment, not a race
        assert(source.setLastModified(source.lastModified() + 5000))
      }
    }
    assert(boom.getMessage.contains("changed fingerprint"))
    assert(builds === 3, "bounded retries: initial build + two re-attempts")
    assert(versionDirs(dir).isEmpty,
      "every discarded build must clean its version dir")
  }

  test("a failed rebuild does not clobber the previously committed artifact") {
    val dir = new java.io.File("target/artifactzone-spec/stable")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    ArtifactZone.ensure(spark, dir.getPath, source) { tmp =>
      Seq(1L, 2L, 3L).toDF("v")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    // stale the committed fingerprint so the next ensure attempts a rebuild
    val fp = new java.io.File(ArtifactZone.resolve(dir.getPath).get, "_GRAFT_SRC")
    assert(fp.exists(), "the commit must have written a fingerprint")
    java.nio.file.Files.write(fp.toPath, "stale".getBytes("UTF-8"))
    intercept[RuntimeException] {
      ArtifactZone.ensure(spark, dir.getPath, source) { _ =>
        throw new RuntimeException("rebuild dies")
      }
    }
    assert(ArtifactZone.resolve(dir.getPath).isDefined,
      "the old committed artifact must survive a failed rebuild")
    assert(spark.read.parquet(ArtifactZone.resolve(dir.getPath).get).count() === 3L)
    // a subsequent successful rebuild then commits normally
    val again = ArtifactZone.ensure(spark, dir.getPath, source) { tmp =>
      Seq(9L).toDF("v")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    assert(again.count() === 1L)
  }

  test("GC sweeps OLD unreferenced version litter at commit but never a " +
      "YOUNG one (a live cross-JVM builder's in-flight dir)") {
    val dir = new java.io.File("target/artifactzone-spec/litter")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    def ensure(version: String) =
      ArtifactZone.ensure(spark, dir.getPath, source, version) { tmp =>
        Seq(1L).toDF("v")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      }
    ensure("g-v1").count()
    // fabricate crash litter: an unreferenced version dir from a builder
    // that died pre-commit — one OLD (dead builder), one YOUNG (could be a
    // live cross-JVM builder mid-build)
    val old = new java.io.File(dir, "v-deadbuilder")
    val young = new java.io.File(dir, "v-livebuilder")
    Seq(old, young).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-partial").toPath, Array[Byte](1))
    }
    assert(old.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    ensure("g-v2").count() // commit fires GC
    assert(!old.exists(),
      "hour-old unreferenced version litter must be swept at commit")
    assert(young.exists(),
      "a young unreferenced version dir may be a live builder's — GC must not touch it")
  }

  test("resolveFresh: a committed-but-STALE zone resolves to nothing — the " +
      "no-build catalog path must skip it, never serve it (ADVICE r14 #3)") {
    val dir = new java.io.File("target/artifactzone-spec/stalefresh")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    dir.getParentFile.mkdirs()
    val source = new java.io.File(dir.getParentFile, "src.parquet")
    java.nio.file.Files.copy(
      new java.io.File(sf0001, "documents.parquet").toPath, source.toPath)
    import spark.implicits._
    ArtifactZone.ensure(spark, dir.getPath, source, "rf-v1") { tmp =>
      Seq(1L).toDF("v")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    assert(ArtifactZone.resolveFresh(dir.getPath, source, "rf-v1").isDefined)
    assert(ArtifactZone.resolveFresh(dir.getPath, source, "rf-v2").isEmpty,
      "an algorithm bump must read as stale")
    assert(source.setLastModified(source.lastModified() + 5000))
    assert(ArtifactZone.resolveFresh(dir.getPath, source, "rf-v1").isEmpty,
      "a regenerated source must read as stale")
    assert(ArtifactZone.resolve(dir.getPath).isDefined,
      "resolve (committed, freshness-agnostic) still sees the zone")
  }

  test("a version dir without _GRAFT_SCHEMA is not fresh: resolveFresh " +
      "skips it and ensure rebuilds instead of inferring its schema") {
    val dir = new java.io.File("target/artifactzone-spec/schemaless")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParentFile)
    val source = new java.io.File(sf0001, "documents.parquet")
    import spark.implicits._
    var builds = 0
    def ensure() = ArtifactZone.ensure(spark, dir.getPath, source, "s-v1") { tmp =>
      builds += 1
      Seq(builds.toLong).toDF("v")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    ensure()
    val v1 = ArtifactZone.resolve(dir.getPath).get
    assert(ArtifactZone.resolveFresh(dir.getPath, source, "s-v1").contains(v1))
    assert(new java.io.File(v1, ZoneSchema.FileName).delete())
    assert(ArtifactZone.resolveFresh(dir.getPath, source, "s-v1").isEmpty,
      "a version without its schema must read as stale")
    intercept[IllegalStateException](ArtifactZone.read(spark, v1))
    assert(ensure().collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(builds === 2, "the schemaless version must be rebuilt")
    assert(ArtifactZone.resolve(dir.getPath).exists(_ != v1))
  }

  test("the stored schema equals footer inference and survives its DDL " +
      "round trip, for the partitioned ingest_arrivals artifact (shard " +
      "column) and plain ones") {
    val versions = Seq(
      DedupZone.ensureIngestArrivals(spark, sf0001),
      { DedupZone.ensureLshIndex(spark, sf0001)
        ArtifactZone.resolve(s"${DedupZone.zoneDir(sf0001)}/lsh_index").get },
      { AnnZone.ensureIvfLists(spark, sf0001)
        ArtifactZone.resolve(s"${AnnZone.zoneDir(sf0001)}/ivf_lists").get })
    versions.foreach { v =>
      val stored = ZoneSchema.committed(v)
      val inferred = spark.read.parquet(v).schema
      assert(stored === inferred, s"$v: stored ${stored.toDDL}, inferred ${inferred.toDDL}")
      assert(org.apache.spark.sql.types.StructType.fromDDL(stored.toDDL) === stored)
      assert(ArtifactZone.read(spark, v).schema === inferred)
    }
    assert(ZoneSchema.committed(versions.head).fieldNames.contains("shard"))
    assert(ArtifactZone.read(spark, versions.head).count() ===
      spark.read.parquet(versions.head).count())
  }
}
