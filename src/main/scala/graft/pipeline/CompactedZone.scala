package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.operators.EtlOps

/** Incremental MERGE-style compaction of the raw zone (VERDICT r9 item 4).
  *
  * The reference re-reads EVERY historical snapshot on every transform
  * (`/root/reference/main.py:149-157,182` — `glob` over all `{repo}/{ts}`
  * dirs), and [[RawZone.pipelineRuns]] reproduces exactly that. A real lake
  * at 100 TB cannot: history grows without bound while the fresh slice per
  * arrival is tiny. This module maintains a COMPACTED zone — the
  * latest-wins resolution of all snapshots seen so far — that advances
  * incrementally: the pending snapshot partitions are merged by touching
  * ONLY
  *   (a) those snapshots' raw-zone partitions (partition-pruned JSON scan:
  *       `extracted_at IN (<pending>)` never lists other snapshot dirs), and
  *   (b) the compacted buckets holding updated keys.
  *
  * Layout: parquet partitioned by `bucket = pmod(id, NumBuckets)` — the
  * Spark-native MERGE substrate — plus metadata files beside the buckets:
  * {{{
  *   bucket=<b>/       one parquet file per bucket
  *   _GRAFT_MERGED     snapshots folded in, one per line
  *   _GRAFT_SRC        the raw zone's source fingerprint
  *   _GRAFT_SCHEMA     the physical schema (DDL) — a superset of every
  *                     bucket file's; readers pass it with `.schema`
  *   _GRAFT_RENAMES    column mapping, physical=logical (if any)
  *   _GRAFT_DROPS      tombstoned physical columns (if any)
  * }}}
  * An upsert rewrites the touched bucket directories wholesale (read base
  * buckets ∪ updates → latest-per-key → swap), which is precisely how
  * Delta/Iceberg-less parquet MERGE works at scale: cost ∝ |touched
  * buckets| + |updates|, never ∝ history. Bucket count scales with the
  * table (16 here ≈ test SFs; a 100 TB deployment raises it so a bucket
  * stays executor-sized — the algebra is unchanged).
  *
  * The swap is write-to-temp + per-bucket directory rename — atomic per
  * bucket on HDFS/posix; an object-store deployment would commit via
  * manifest instead. A type-WIDENING rewrite commits at ZONE granularity
  * (one directory swap) because its buckets are not mutually
  * schema-compatible mid-rewrite (see [[mergeUpdates]]). `_GRAFT_MERGED`
  * records which snapshots are already folded in (temp+rename, same
  * torn-write defense as the cursor manifest), and a source fingerprint
  * invalidates the whole zone when the fixture parquet is regenerated
  * (ADVICE r3 rule, same as [[RawZone]]). `_GRAFT_SCHEMA` is written
  * before the per-bucket swap (a superset is safe: columns a file lacks
  * read as null) and, for the widening swap, inside the staged dir so one
  * rename commits both; a zone without it is stale and rebuilt — there is
  * no inferring read path.
  *
  * Equivalence contract: after every snapshot is merged, the compacted
  * zone's projection is row-identical to the full recompute
  * ([[RawZone.pipelineRuns]] and its DuckDB oracle) — the declared
  * `compacted_zone_runs` query shares `pipelineRunsSql`, so the driver's
  * hash gate proves incremental ≡ recompute each round.
  */
object CompactedZone {

  val NumBuckets = 16

  def compactedDir(sfDir: String): String = {
    val sfName = sfDir.replaceAll("/+$", "").split('/').last
    s"target/compactedzone/$sfName"
  }

  private val StateFile = "_GRAFT_MERGED"

  private def readState(dir: java.io.File): Seq[String] = {
    val f = new java.io.File(dir, StateFile)
    if (!f.isFile) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def writeState(dir: java.io.File, merged: Seq[String]): Unit = {
    val tmp = new java.io.File(dir, StateFile + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      merged.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, StateFile).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Snapshot values (`extracted_at` partition dirs) present in the raw
    * zone, ascending — arrival order for the merge loop.
    */
  private def rawSnapshots(rawDir: String): Seq[String] = {
    val root = new java.io.File(rawDir)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("repo="))
      .flatMap(repo => Option(repo.listFiles()).toSeq.flatten)
      .filter(f => f.isDirectory && f.getName.startsWith("extracted_at="))
      .map(_.getName.stripPrefix("extracted_at="))
      .distinct.sorted
  }

  /** The given snapshots' runs, flattened to upsert rows — the
    * partition-pruned incremental read (the IN filter on the partition
    * column prunes at directory level; `CompactionSpec` asserts via
    * `input_file_name` that no other snapshot's files are opened).
    */
  private[graft] def snapshotUpdates(spark: SparkSession, rawDir: String,
      snaps: String*): DataFrame =
    spark.read.schema(RawZone.pageSchema).json(rawDir)
      .filter(col("extracted_at").isin(snaps: _*))
      .select(col("extracted_at"), explode(col("workflow_runs")).as("run"))
      .select(
        col("run.id").as("id"),
        col("run.user.id").as("user_id"),
        col("run.type").as("event_type"),
        col("run.value").as("value"),
        col("extracted_at"),
        pmod(col("run.id"), lit(NumBuckets)).cast("int").as("bucket"))

  /** Merge one snapshot into the compacted zone: latest-wins per id against
    * the touched buckets only. Returns the touched bucket ids.
    */
  private[graft] def mergeSnapshot(spark: SparkSession, rawDir: String,
      dir: String, snap: String): Seq[Int] =
    mergeUpdates(spark, dir, snapshotUpdates(spark, rawDir, snap))

  /** COLUMN-MAPPING metadata: physical (as-written-in-parquet) column name
    * → current logical name, the Delta column-mapping shape (r14, VERDICT
    * r13 item 7). A RENAME never rewrites a file: existing parquet keeps
    * its physical names forever, arriving batches translate logical →
    * physical before the merge, and reads translate physical → logical
    * after the scan ([[readZone]]). The map lives in `_GRAFT_RENAMES`
    * (one `physical=logical` line per renamed column, temp+atomic-rename
    * committed like [[StateFile]]) and is independent of the data files —
    * a crash between map update and bucket swap leaves a consistent zone
    * either way, because the mapping changes only NAMES.
    */
  private val RenamesFile = "_GRAFT_RENAMES"

  private[graft] def readRenames(dir: String): Map[String, String] = {
    val f = new java.io.File(dir, RenamesFile)
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(phys, logical) = line.split("=", 2)
        phys -> logical
      }.toMap
  }

  private def writeRenames(dir: java.io.File, map: Map[String, String]): Unit = {
    val tmp = new java.io.File(dir, RenamesFile + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      map.toSeq.sorted.map { case (p, l) => s"$p=$l" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, RenamesFile).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** COLUMN-DROP metadata (r15, VERDICT r14 item 6 — the matrix notch past
    * r14's rename): PHYSICAL column names dropped from the logical schema,
    * one per line in `_GRAFT_DROPS` (same temp+atomic-rename commit as
    * [[RenamesFile]]). A declared drop is metadata-only — files keep the
    * column's bytes forever, [[readZone]] masks it, and the physical name
    * is TOMBSTONED: a later batch re-introducing the same logical name gets
    * a fresh physical name ([[mergeUpdates]]' remap), so history reads null
    * under the reborn column instead of resurrecting dropped values —
    * Delta's column-mapping DROP semantics. Rejected by default: only the
    * explicit `drops` argument of [[mergeUpdates]] declares one; a batch
    * simply missing a column stays additive (nulls), never a drop.
    */
  private val DropsFile = "_GRAFT_DROPS"

  private[graft] def readDrops(dir: String): Set[String] = {
    val f = new java.io.File(dir, DropsFile)
    if (!f.isFile) Set.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).toSet
  }

  private def writeDrops(dir: java.io.File, drops: Set[String]): Unit = {
    val tmp = new java.io.File(dir, DropsFile + ".tmp")
    java.nio.file.Files.write(tmp.toPath,
      drops.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, DropsFile).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Read the zone under its LOGICAL schema: a scan under the stored
    * `_GRAFT_SCHEMA` (files may be schema-heterogeneous after additive
    * evolution; columns a file lacks read as null) with dropped
    * physical columns masked and the column-mapping renames applied as ONE
    * atomic projection. Every consumer reads through this so a rename or
    * drop is visible everywhere at once.
    *
    * Atomic projection, not a fold of `withColumnRenamed` (ADVICE r14
    * medium): a reachable chained mapping like {a→b, b→x} (declare b→x,
    * then a→b into the vacated slot) applied sequentially transiently
    * duplicates 'b' — physical 'a' renamed to 'b' while physical 'b' is
    * still present — and the next rename then captures BOTH columns. A
    * single select aliasing every physical column to its logical name has
    * no intermediate states to corrupt.
    */
  private[graft] def readZone(spark: SparkSession, dir: String): DataFrame = {
    val renames = readRenames(dir)
    val drops = readDrops(dir)
    val scan = spark.read.schema(ZoneSchema.committed(dir)).parquet(dir)
    scan.select(scan.schema.fieldNames.toSeq
      .filterNot(drops.contains)
      .map(p => col(p).as(renames.getOrElse(p, p))): _*)
  }

  /** Merge an ARBITRARY batch of upsert rows (the [[snapshotUpdates]]
    * shape) into the zone — the general form [[mergeSnapshot]] and the
    * streaming [[compactionStream]] both reduce to. The batch may mix
    * snapshots and arrive out of order: resolution keys on
    * (id, extracted_at) latest-wins, never on arrival order, so any
    * partition of the same updates into batches lands on the same zone.
    *
    * `renames` (r14): explicit column renames this merge DECLARES, as
    * (current logical name → new logical name) — metadata-only (no file
    * rewrite; see [[RenamesFile]]). The batch must already carry the NEW
    * names. Renames are rejected by default in every implicit form: a
    * batch that silently carries a fresh column name is ADDITIVE (the old
    * column stays, the new one appears — the only safe reading without a
    * declaration), and an invalid declaration (unknown source, colliding
    * target) throws before anything is written. The whole declaration set
    * resolves ATOMICALLY against the current logical schema, so a
    * simultaneous chain {a→b, b→x} is legal (b is vacated in the same
    * declaration) while {a→b} with a live 'b' still throws.
    *
    * `drops` (r15, VERDICT r14 item 6): explicit logical columns this merge
    * DROPS — metadata-only (see [[DropsFile]]); merge keys (id,
    * extracted_at, bucket) are not droppable. Rejected by default: a batch
    * missing a column is additive-null history, never a drop.
    *
    * A fresh batch column whose name collides with a renamed-away or
    * dropped PHYSICAL name is REMAPPED to a fresh physical name before the
    * merge (ADVICE r14 medium #2): writing it under the old physical name
    * would silently conflate new values into the old column's files —
    * readZone would present both as the old logical column and the new
    * logical name would never appear. The synthetic physical name (Delta's
    * column-mapping id trick) keeps the addition genuinely additive.
    */
  private[graft] def mergeUpdates(spark: SparkSession,
      dir: String, updates0: DataFrame,
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Seq.empty,
      allowWidening: Boolean = true): Seq[Int] = {
    val zone = new java.io.File(dir)
    zone.mkdirs()
    // resolve + persist the column mapping FIRST: the merge below runs
    // entirely on PHYSICAL names, so a declared rename/drop is one metadata
    // write and a batch-side projection — never a data rewrite
    val existing = readRenames(dir)
    val dropped0 = readDrops(dir)
    val existingBuckets = Option(zone.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt)
    val zoneFiles = existingBuckets.nonEmpty
    // the zone's physical schema as its last commit recorded it — no
    // footer scan; bucket files without it are a zone to rebuild
    val zoneSchema: StructType =
      if (zoneFiles) ZoneSchema.committed(dir) else new StructType()
    val physSchema: Seq[String] = zoneSchema.fieldNames.toSeq
    var mapping: Map[String, String] = existing
    var droppedPhys: Set[String] = dropped0
    if (renames.nonEmpty || drops.nonEmpty) {
      require(zoneFiles, "CompactedZone: cannot rename or drop columns of " +
        "an empty zone — there is nothing to map")
      // current LIVE logical schema: physical columns minus tombstones
      val currentLogical: Map[String, String] = physSchema
        .filterNot(dropped0.contains)
        .map(p => p -> existing.getOrElse(p, p)).toMap
      val liveLogicals = currentLogical.values.toSet
      (renames.keys ++ drops).foreach { from =>
        require(liveLogicals.contains(from), s"CompactedZone: declared " +
          s"column '$from' is not a column of the zone's logical schema " +
          s"${liveLogicals.toSeq.sorted}")
      }
      val mergeKeys = Set("id", "extracted_at", "bucket")
      drops.foreach(d => require(!mergeKeys.contains(d),
        s"CompactedZone: merge key '$d' cannot be dropped"))
      require(renames.keySet.intersect(drops.toSet).isEmpty,
        "CompactedZone: a column cannot be renamed and dropped in one merge")
      val newDrops = currentLogical.collect {
        case (p, l) if drops.contains(l) => p
      }.toSet
      // apply the whole rename set AT ONCE over the post-drop schema, then
      // check the FINAL logical names for duplicates — the atomic twin of
      // readZone's projection (a sequential fold both mis-rejects legal
      // chains and admits colliding ones depending on iteration order)
      val next: Map[String, String] = (currentLogical -- newDrops)
        .map { case (p, l) => p -> renames.getOrElse(l, l) }
      val collisions = next.values.groupBy(identity).collect {
        case (l, hits) if hits.size > 1 => l
      }
      require(collisions.isEmpty, "CompactedZone: rename target(s) " +
        s"${collisions.toSeq.sorted.mkString(", ")} collide with an existing column")
      mapping = next.filter { case (p, l) => p != l }
      droppedPhys = dropped0 ++ newDrops
    }
    // the batch arrives under LOGICAL names; merge under PHYSICAL ones —
    // again one atomic projection, with tombstone-colliding fresh columns
    // remapped to synthetic physical names
    updates0.columns.toSeq.intersect(drops).headOption.foreach(c =>
      throw new IllegalArgumentException(s"CompactedZone: the batch carries " +
        s"column '$c' declared dropped in the same merge — drop it from the " +
        "batch or skip the declaration"))
    val toPhysical = mapping.map { case (p, l) => l -> p }
    val tombstoned: Set[String] = mapping.keySet ++ droppedPhys
    val batchCols: Seq[(String, String)] = updates0.columns.toSeq.map { c =>
      toPhysical.get(c) match {
        case Some(p) => c -> p
        case None if tombstoned.contains(c) =>
          val taken = physSchema.toSet ++ mapping.keySet ++ droppedPhys ++
            mapping.values.toSet ++ updates0.columns
          val fresh = Iterator.from(1).map(k => s"${c}__$k")
            .find(!taken(_)).get
          mapping += (fresh -> c)
          c -> fresh
        case None => c -> c
      }
    }
    if (mapping != existing) writeRenames(zone, mapping)
    if (droppedPhys != dropped0) writeDrops(zone, droppedPhys)
    val updates = updates0.select(batchCols.map { case (l, p) =>
      col(l).as(p) }: _*)

    // the buckets this snapshot's keys land in — a ≤ NumBuckets-row driver
    // list; everything outside it is untouched by the merge. Deduplicated
    // per partition, then on the driver: one single-stage job, where
    // distinct() would add a shuffle stage (a second job under AQE)
    val touchedByKeys: Seq[Int] = updates.select(col("bucket")).rdd
      .mapPartitions(rows => rows.map(_.getInt(0)).toSet.iterator)
      .collect().distinct.toSeq.sorted
    if (touchedByKeys.isEmpty) return Seq.empty // empty batch: nothing to rewrite

    // TYPE-WIDENING EVOLUTION (r13, one notch past r12's additive rule):
    // a batch may re-declare an existing int column as long — the zone
    // widens. Parquet's mergeSchema cannot reconcile int32/int64 files for
    // one column, so unlike the additive case (heterogeneous files are
    // fine) widening is a ONE-TIME ZONE-WIDE REWRITE at the wider type:
    // every existing bucket joins `touched`, the union below coerces the
    // base side up, and the zone comes out homogeneous — still a merge-
    // level operation (no source re-read), just one that rewrites all
    // buckets once. The reverse arrival order (zone already long, an
    // OLDER-schema batch carries int) is not an evolution at all: the
    // union coerces the batch up and no file is rewritten beyond the
    // touched set. ANY other retype (narrowing, cross-family) is rejected
    // loudly — that is a zone rebuild decision, never a silent merge
    // (the Delta/Iceberg stance). Pinned in CompactionSpec.
    val widened: Set[String] =
      zoneSchema.fields.flatMap { zf =>
        updates.schema.fields.find(_.name == zf.name).flatMap { uf =>
          (zf.dataType, uf.dataType) match {
            case (a, b) if a == b => None
            case (IntegerType, LongType) => Some(zf.name) // widen the zone
            case (LongType, IntegerType) => None // older-schema batch: coerces up
            case (a, b) => throw new IllegalStateException(
              s"CompactedZone: column '${zf.name}' retype $a -> $b is not a " +
                "merge — only int->long widening evolves in place; " +
                "narrowing or cross-family retypes are a zone REBUILD and " +
                "must be an explicit operator decision, never a silent merge")
          }
        }
      }.toSet
    // ADVICE r14 low #4: the widening swap's crash-recovery contract (an
    // ABSENT zone, rebuilt by ensureCompacted from the raw zone) does NOT
    // compose with a checkpointed streaming caller — the stream's
    // checkpoint marks files processed independently, so a mid-swap crash
    // + restart would fold only NEW files into the empty zone, silently
    // losing prior merges. Such callers pass allowWidening = false and a
    // widening batch fails loudly instead of arming that seam.
    if (widened.nonEmpty && !allowWidening) throw new IllegalStateException(
      s"CompactedZone: batch widens column(s) ${widened.toSeq.sorted.mkString(", ")} " +
        "but this caller forbids widening (a checkpointed streaming fold " +
        "cannot replay a widening swap's absent-zone crash recovery — run " +
        "the widening through the batch mergeUpdates path first)")
    val touched: Seq[Int] =
      if (widened.isEmpty) touchedByKeys
      else (existingBuckets ++ touchedByKeys).distinct.sorted
    // an OLDER-schema batch (int where the zone is already long) is cast up
    // before the merge, so the files it writes carry the zone's type even
    // where no base bucket joins the union to coerce it
    val aligned = zoneSchema.fields.foldLeft(updates) { (df, zf) =>
      df.schema.find(_.name == zf.name) match {
        case Some(uf) if uf.dataType == IntegerType && zf.dataType == LongType =>
          df.withColumn(zf.name, col(zf.name).cast(LongType))
        case _ => df
      }
    }

    val base: Option[DataFrame] = {
      val present = existingBuckets.toSet.intersect(touched.toSet)
      if (present.isEmpty) None
      // the stored schema: after an additive-column merge (below) bucket
      // files can carry heterogeneous schemas; the union of all file
      // schemas is the zone's schema, exactly Delta/Iceberg's
      // additive-evolution rule, and _GRAFT_SCHEMA records that union
      else Some(spark.read.schema(zoneSchema).parquet(dir)
        .filter(col("bucket").isin(present.toSeq.map(Integer.valueOf): _*)))
    }
    // latest-wins within the batch too (a streaming batch can carry the
    // same id from several snapshots); a single-snapshot batch has unique
    // ids, so this is the identity there. allowMissingColumns = ADDITIVE
    // SCHEMA EVOLUTION (r12): an arriving batch may carry columns the zone
    // has never seen (and vice versa after one did) — either side's missing
    // columns fill with null, updated rows keep their new fields,
    // historical rows read as null for fields that postdate them; an
    // UNDECLARED drop or retype remains a rebuild, not a merge (the
    // Delta/Iceberg additive rule — declared drops are metadata-only via
    // `drops`, int→long widening rewrites in place below, everything else
    // throws). Pinned in CompactionSpec.
    //
    // ONE shuffle: repartition by bucket (one file per bucket dir, not
    // tasks × buckets), then latest-per-key on (bucket, id). bucket is a
    // function of id, so the groups are the same rows as keying on id
    // alone, and the aggregate WindowDedupToMaxBy plans reuses the bucket
    // partitioning instead of shuffling again.
    val merged = EtlOps.latestPerKey(
      base.fold(aligned)(_.unionByName(aligned, allowMissingColumns = true))
        .repartition(col("bucket")),
      Seq(col("bucket"), col("id")), Seq(col("extracted_at")))
    // the new physical schema: the old one (a superset of every untouched
    // file) with the rewritten buckets' types and new columns folded in,
    // the partition column last as a parquet scan reports it
    val nextSchema: StructType = {
      val written = merged.schema.filterNot(_.name == "bucket")
      val kept = zoneSchema.filterNot(_.name == "bucket").map(zf =>
        written.find(_.name == zf.name).getOrElse(zf))
      StructType(kept ++ written.filterNot(f => kept.exists(_.name == f.name)) ++
        merged.schema.filter(_.name == "bucket"))
    }

    // write-to-temp + swap: Spark refuses to overwrite a path that feeds
    // the plan being written, and rightly so — the temp dir makes the
    // merge all-or-nothing per bucket
    val tmp = dir + ".tmp-merge"
    merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(tmp)
    if (widened.isEmpty) {
      // the schema commits BEFORE the swap: a crash mid-loop leaves it a
      // superset of the files, and a missing column reads as null
      ZoneSchema.write(zone, nextSchema)
      // per-bucket swap — atomic per bucket; a crash mid-loop leaves some
      // buckets updated and some not, which is SAFE here: the snapshot is
      // not yet recorded in _GRAFT_MERGED, and latest-wins makes the replay
      // idempotent (every file is schema-compatible with every other)
      touched.foreach { b =>
        val dst = new java.io.File(zone, s"bucket=$b")
        val src = new java.io.File(tmp, s"bucket=$b")
        if (src.isDirectory) {
          if (dst.isDirectory) {
            Option(dst.listFiles()).foreach(_.foreach(_.delete()))
            dst.delete()
          }
          java.nio.file.Files.move(src.toPath, dst.toPath)
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    } else {
      // ZONE-GRANULARITY swap for the widening rewrite (ADVICE r13,
      // medium): the per-bucket loop is NOT safe here — a crash mid-loop
      // leaves mixed int32/int64 files for the widened column, mergeSchema
      // fails on every subsequent read, and the fingerprint-keyed
      // staleness check never auto-rebuilds: the zone is bricked until
      // manually deleted. The widened rewrite covers every bucket anyway,
      // so commit it as ONE directory swap: carry the zone's metadata
      // files (_GRAFT_MERGED / _GRAFT_SRC) into the temp dir, move the old
      // zone aside, move the temp in, drop the old. Either rename is
      // atomic; a crash between them leaves NO zone dir at the path, which
      // ensureCompacted treats as empty and rebuilds from the raw zone —
      // self-healing, never a torn mixed-type state.
      val tmpDir = new java.io.File(tmp)
      Option(zone.listFiles()).toSeq.flatten.filter(_.isFile).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(tmpDir, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      // the widened schema rides in the staged dir: one rename commits
      // the homogeneous files and the schema that describes them
      ZoneSchema.write(tmpDir, nextSchema)
      val old = new java.io.File(dir + ".old-widen")
      org.apache.commons.io.FileUtils.deleteQuietly(old)
      java.nio.file.Files.move(zone.toPath, old.toPath)
      widenSwapHook() // test seam: the crash window between the renames
      java.nio.file.Files.move(tmpDir.toPath, zone.toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(old)
    }
    touched
  }

  /** Test seam for the widening swap's crash window (fires between the
    * move-aside and the move-in — production is a no-op): CompactionSpec
    * injects a throw here and proves the recovery contract, an ABSENT zone
    * that [[ensureCompacted]] rebuilds from the raw zone, never a torn
    * mixed-type state.
    */
  private[graft] var widenSwapHook: () => Unit = () => ()

  /** Bring the compacted zone up to date with the raw zone, merging only
    * snapshots not yet folded in. Rebuilds from scratch when the SOURCE
    * fixture changed (fingerprint mismatch), mirroring [[RawZone]] rules.
    */
  def ensureCompacted(spark: SparkSession, sfDir: String): String = {
    val rawDir = RawZone.ensureBuilt(spark, sfDir)
    val dir = compactedDir(sfDir)
    val zone = new java.io.File(dir)
    val fpFile = new java.io.File(zone, "_GRAFT_SRC")
    val srcFp = {
      val raw = new java.io.File(rawDir, "_GRAFT_SRC")
      if (raw.isFile) new String(java.nio.file.Files.readAllBytes(raw.toPath), "UTF-8")
      else "unfingerprinted"
    }
    // a zone without a committed schema is stale too: it is rebuilt,
    // never read by footer inference
    val stale = zone.isDirectory && !(fpFile.isFile &&
      new String(java.nio.file.Files.readAllBytes(fpFile.toPath), "UTF-8") == srcFp &&
      new java.io.File(zone, ZoneSchema.FileName).isFile)
    if (stale) org.apache.commons.io.FileUtils.deleteQuietly(zone)
    // sweep staging debris a crashed merge/widening may have left (the
    // recovery contract: a crash leaves an absent-or-valid zone plus
    // SIBLING litter, never a torn zone — the litter dies here)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir + ".tmp-merge"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir + ".old-widen"))
    zone.mkdirs()

    val merged = readState(zone)
    val pending = rawSnapshots(rawDir).filterNot(merged.contains)
    // the whole pending backlog in ONE merge: resolution is latest-wins per
    // (id, extracted_at), never arrival order, so folding every pending
    // snapshot at once lands on the same zone as merging them one by one
    // (pinned in CompactionSpec) — and pays one merge's jobs, not one per
    // snapshot
    if (pending.nonEmpty) {
      ZoneBuildTally.builds.incrementAndGet()
      mergeUpdates(spark, dir, snapshotUpdates(spark, rawDir, pending: _*))
      writeState(zone, merged ++ pending)
    }
    if (!fpFile.isFile || stale)
      java.nio.file.Files.write(fpFile.toPath, srcFp.getBytes("UTF-8"))
    dir
  }

  /** Declared query: the compacted zone's current state, projected exactly
    * like [[RawZone.pipelineRuns]] — and oracle-checked against the SAME
    * SQL, so the driver's hash gate proves incremental merge ≡ full
    * recompute every round.
    */
  def compactedZoneRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureCompacted(spark, sfDir)
    // readZone: the stored-schema scan (buckets may be heterogeneous
    // after additive evolution) under the LOGICAL schema (column-mapping
    // renames applied); the projection below pins the contract columns
    readZone(spark, dir)
      .select(col("id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("id"))
  }

  /** STREAMING ingestion of the raw zone — the Structured-Streaming twin of
    * [[ensureCompacted]]'s batch loop, closing the loop SURVEY §2.2's
    * streaming row describes (the reference's re-read-everything batch IS
    * streaming-upsert semantics done manually): a file-source stream
    * discovers raw-zone page files as they land, and every micro-batch
    * folds into the compacted zone through the same [[mergeUpdates]] the
    * batch path uses. `maxFilesPerTrigger` keeps batches small so one
    * trigger can mix snapshots and split a snapshot across triggers —
    * both are correct because resolution is (id, extracted_at)
    * latest-wins, not arrival order; `Trigger.AvailableNow` drains the
    * backlog and stops, the catch-up mode a scheduled ingestion job runs.
    * The `extracted_at` lineage comes from `_metadata.file_path` (the
    * file-source metadata column), the streaming-safe form of the batch
    * path's Hive partition discovery.
    *
    * 100 TB: this is the standard parquet-lake CDC shape — checkpointed
    * file discovery, per-batch MERGE touching only the buckets a batch's
    * keys land in; backlog cost ∝ new files, never ∝ history.
    */
  def compactionStream(spark: SparkSession, rawDir: String,
      zoneDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val pages = spark.readStream
      .schema(RawZone.pageSchema)
      .option("maxFilesPerTrigger", 4)
      .json(rawDir + "/repo=*/extracted_at=*")
    val updates = pages
      .withColumn("extracted_at",
        regexp_extract(col("_metadata.file_path"), "extracted_at=([^/]+)/", 1))
      .select(col("extracted_at"), explode(col("workflow_runs")).as("run"))
      .select(
        col("run.id").as("id"),
        col("run.user.id").as("user_id"),
        col("run.type").as("event_type"),
        col("run.value").as("value"),
        col("extracted_at"),
        pmod(col("run.id"), lit(NumBuckets)).cast("int").as("bucket"))
    val fold: (DataFrame, Long) => Unit =
      (batch, _) => {
        // allowWidening = false: see the guard in mergeUpdates — this fold
        // is checkpointed, so the widening swap's absent-zone recovery
        // would silently drop every merge the checkpoint already covers
        mergeUpdates(batch.sparkSession, zoneDir, batch,
          allowWidening = false)
        ()
      }
    updates.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", zoneDir + ".checkpoint")
      .foreachBatch(fold)
      .start()
  }
}
