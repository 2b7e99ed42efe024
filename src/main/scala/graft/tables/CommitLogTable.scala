package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.FileAlreadyExistsException
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A transactional plain-parquet table format: versioned, atomically
  * committed manifests over immutable data files — the engine's answer to
  * the reference's Delta-lake plane (MERGE / OPTIMIZE / VACUUM / Change
  * Data Feed / time travel — `docs/databricks_setup.md:96,170-198`,
  * `bronze_prices_auto_loader.ipynb:158`, `README.md:174`) in an
  * environment with no lakehouse jars.
  *
  * Layout under the table root:
  * {{{
  *   _graft_log/v<20-digit>.json     one manifest per committed version
  *   _graft_log/changes/c-<uuid>/    persisted change rows (CDF) per commit
  *   data/c-<uuid>/[p=v/]part-*.parquet   immutable data files per commit
  * }}}
  *
  * The log is CHECKPOINTED (Delta's `_delta_log` actions + checkpoint
  * split): most commits serialize only their file DIFF (adds/removes vs
  * the parent version) plus full small metadata, and a full-snapshot
  * checkpoint manifest is forced every [[CommitLogTable.CheckpointInterval]]
  * versions — or whenever the diff would be at least as large as the
  * snapshot. Commit cost is therefore O(files touched), never O(files
  * total): at 100 TB (~10⁶ live files) a metadata-only rename writes a
  * ~200-byte diff, not a ~100 MB file list. Snapshot resolution replays
  * at most CheckpointInterval diffs forward from the nearest checkpoint
  * (cached per instance, so sequential access pays one raw read per
  * version); file-level partition pruning happens on this resolved
  * metadata rather than on directory listings. [[vacuumLog]] drops log
  * segments a later checkpoint supersedes, bounding history like Delta's
  * `logRetentionDuration`.
  *
  * ATOMICITY & ISOLATION. A commit writes its data files first (invisible
  * to readers — nothing references them), then publishes a fully-written
  * manifest via the storage seam's atomic create-if-absent
  * ([[Store.claim]]): a hard link on POSIX roots (bare paths and
  * `file:` URIs), `FileContext.rename(NONE)` on cluster filesystems
  * with atomic rename (`hdfs://`, `abfss://`) — either way exactly
  * one writer claims version N, giving
  * optimistic concurrency across THREADS and across PROCESSES alike
  * (nothing is shared in memory; the cross-JVM race is spec-pinned).
  * All metadata IO dispatches per-scheme through [[GFiles]], so the
  * same table format deploys on a local disk, HDFS, or an object
  * store. Caveat: an object store without atomic create-if-absent
  * (plain S3) cannot arbitrate by claim — deploy there with
  * `spark.graft.commit.coordinator=lease` ([[LeaseCoordinator]]),
  * exactly as Delta requires a coordinating LogStore for S3
  * multi-writer.
  * Losers first try to REBASE (commute) onto the winning snapshot — an
  * append always commutes, and a merge/compact commutes when the
  * interleaved commits touched disjoint partitions (Delta-style conflict
  * detection) — so concurrent writers on disjoint data retry the cheap
  * manifest publish, not the expensive computation. Only a genuine
  * conflict recomputes against the new snapshot. Readers resolve a
  * manifest once and read ONLY its file list, so a concurrent
  * compact/merge/vacuum never changes what an already-resolved reader
  * sees: old files are immutable and survive until [[vacuum]] drops
  * versions past the retention window.
  *
  * SCHEMA EVOLUTION. `append`/`merge` accept `mergeSchema = true` (the
  * reference's Bronze `mergeSchema` write option,
  * `bronze_prices_auto_loader.ipynb` cell 3, and Auto Loader's
  * `addNewColumns`, `docs/databricks_setup.md:120`): new batch columns
  * widen the table schema in the commit's manifest; existing data files
  * are NOT rewritten — the widened read schema null-backfills them at
  * scan, exactly as Delta does. Each manifest stores the schema OF ITS
  * VERSION, so time travel replays the schema that version had.
  * [[renameColumn]] is a metadata-only commit via column mapping: the
  * manifest maps logical names to immutable physical (in-file) names, so
  * a rename rewrites one JSON document, not 100 TB of parquet
  * (`docs/databricks_setup.md:96` — Delta column mapping `name` mode).
  *
  * Change Data Feed: merge/append/delete commits persist their change rows
  * (`_change_type` ∈ insert / update_preimage / update_postimage / delete)
  * as parquet under `_graft_log/changes/`, referenced from the manifest —
  * a durable, replayable change table ([[readChanges]]), not an in-flight
  * `foreachBatch` callback, and a checkpointed STREAMING source
  * ([[readChangesStream]] — the reference's `readChangeFeed` read).
  *
  * Scale notes: merge rewrites ONLY the files of partitions present in the
  * update batch (manifest-level pruning — the copy-on-write granularity
  * Delta uses); the change set falls out of the same full-outer join that
  * produces the new snapshot (one shuffle, no second pass); all row counts
  * come from parquet footers, never a data scan.
  */
final class CommitLogTable private (val spark: SparkSession, val dir: String) {
  import CommitLogTable._

  private val logDir = GPath(dir, LogDirName)

  /** Commit-loop observability (spec probes): how many times a commit
    * body was RE-EXECUTED after losing a publish race, vs. how many lost
    * races were resolved by the cheap manifest rebase instead.
    */
  private[graft] val commitRecomputes = new java.util.concurrent.atomic.AtomicLong
  private[graft] val commitRebases = new java.util.concurrent.atomic.AtomicLong

  /** Publish arbitration — session-selected (`spark.graft.commit
    * .coordinator`), test-injectable. See [[CommitCoordinator]].
    */
  private[graft] var coordinator: CommitCoordinator =
    CommitCoordinator.forSession(spark)

  // ---------------------------------------------------------------- reads

  /** Latest committed version (0 = created empty). Resolved via the
    * `_latest` hint file + forward existence probes, NOT a directory
    * listing: a long-lived streaming table commits once per micro-batch,
    * and a listing-based resolve would make every commit and snapshot
    * read O(#versions) — at one commit a minute that is half a million
    * directory entries within a year. The hint is a FLOOR (written
    * best-effort after each publish; two near-simultaneous winners may
    * leave it one behind), so the probe walks forward to the true head —
    * O(staleness), typically 0–1 probes. A missing/torn hint falls back
    * to the full listing.
    */
  def latestVersion: Long = latestFromHint().getOrElse(listVersions.last)

  private def latestFromHint(): Option[Long] =
    try {
      val p = logDir.resolve(LatestHintName)
      if (!GFiles.exists(p)) None
      else {
        val h = new String(GFiles.readAllBytes(p), UTF_8).trim.toLong
        if (!GFiles.exists(logDir.resolve(manifestName(h)))) None
        else {
          var v = h
          while (GFiles.exists(logDir.resolve(manifestName(v + 1)))) v += 1
          Some(v)
        }
      }
    } catch { case _: Exception => None }

  /** Best-effort head hint after a successful publish; losing a write
    * race only leaves the hint stale by one, which the forward probe in
    * [[latestVersion]] absorbs.
    */
  private def writeLatestHint(v: Long): Unit =
    try {
      val tmp = logDir.resolve(s".tmp-hint-${UUID.randomUUID()}")
      GFiles.write(tmp, v.toString.getBytes(UTF_8))
      GFiles.moveReplace(tmp, logDir.resolve(LatestHintName))
    } catch { case _: Exception => () }

  /** The CURRENT logical schema (latest manifest's). */
  def schema: StructType = snapshot().schema

  /** Snapshot read; `version` pins a historical snapshot (time travel).
    * The file list is resolved NOW — the returned frame is isolated from
    * any later commit — and is the scan's file index as it stands: no
    * directory is listed, and a filter on the frame skips every file
    * whose manifest stats rule it out (a `day = d` filter on a
    * day-partitioned table scans that day's files only). A pinned read FAILS FAST with a clear error if the
    * version's files were already vacuumed (the alternative is a
    * mid-scan FileNotFoundException from a task, or worse a partial
    * result if the scan raced the sweep) — the reader's half of the
    * vacuum/retention contract. The schema (and column names) returned
    * are the ones THAT version had: evolution and renames replay.
    */
  def read(version: Option[Long] = None): DataFrame = {
    val m = manifest(version.getOrElse(latestVersion))
    version.foreach(v => requireFilesPresent(m, s"read(version=$v)"))
    readFiles(m.files, m.schema, m.columnMapping)
  }

  /** Partition-pruned snapshot read: only files whose manifest partition
    * value (string form) is in `values` are read — pruning happens on the
    * manifest metadata, never on directory listings or footer reads. This
    * is the probed-index read path: an IVF / postings table stores one
    * partition per inverted list, and a query resolves its probe set to a
    * file list in one driver-side manifest pass (the same metadata-level
    * pruning a Delta reader does with its checkpoint's per-file stats).
    * Same snapshot-isolation and pinned-read fail-fast contract as
    * [[read]] (the existence check covers only the pruned subset — cheap
    * even on a query's hot path).
    */
  def readPartitions(values: Set[String],
      version: Option[Long] = None): DataFrame = {
    val m = manifest(version.getOrElse(latestVersion))
    require(m.partitionCols.nonEmpty,
      s"readPartitions on unpartitioned table $dir")
    // bare values are unambiguous only with ONE partition column — on a
    // composite table a caller's values could target any of them, and
    // matching the first silently returns the wrong (usually empty) set
    require(m.partitionCols.lengthCompare(1) == 0,
      s"readPartitions takes bare values, ambiguous over composite " +
        s"partitioning ${m.partitionCols.mkString("(", ", ", ")")} — " +
        "use partitionKeysWhere + readFiles, or read() with a filter")
    val pruned = m.files.filter(_.partitionVals.headOption.exists(values.contains))
    version.foreach(v => requireFilesPresent(
      m.copy(files = pruned), s"readPartitions(version=$v)"))
    readFiles(pruned, m.schema, m.columnMapping)
  }

  /** File count of the current (or pinned) snapshot — manifest-only. */
  def fileCount(version: Option[Long] = None): Int =
    manifest(version.getOrElse(latestVersion)).files.size

  /** Manifest-level DATA SKIPPING: read rows of `column` in [lo, hi]
    * (inclusive; a null bound is unbounded) scanning ONLY files whose
    * stored (min, max) for the column can intersect the range — the
    * per-file stats pruning Delta's transaction log provides, and the
    * read side of the clustered compact: after `compact(sortCols = k)`
    * file ranges on k are DISJOINT, so a point or narrow-range query
    * resolves to O(1 + range/fileWidth) files on manifest metadata alone,
    * with zero footer reads and zero data scanned for skipped files. The
    * residual predicate still applies (stats pruning is an optimization,
    * never the filter). Files without stats for the column (pre-stats
    * manifests, unsupported types) are read, not skipped — pruning can
    * only ever be a subset. Supported bound types: numbers, strings,
    * java.sql.Date, java.sql.Timestamp.
    */
  def readRange(column: String, lo: Any, hi: Any,
      version: Option[Long] = None): DataFrame = {
    val m = manifest(version.getOrElse(latestVersion))
    val keep = rangeFiles(m, column, lo, hi)
    version.foreach(v => requireFilesPresent(
      m.copy(files = keep), s"readRange(version=$v)"))
    val c = col(column)
    val preds = Option(lo).map(v => c >= lit(v)) ++ Option(hi).map(v => c <= lit(v))
    val base = readFiles(keep, m.schema, m.columnMapping)
    preds.reduceOption(_ && _).map(base.filter).getOrElse(base)
  }

  /** The files a [lo, hi] range on `column` cannot rule out — the pruning
    * half of [[readRange]], reusable by probes and layout specs.
    */
  private[graft] def rangeFiles(m: Manifest, column: String,
      lo: Any, hi: Any): Seq[LogFile] = {
    require(m.schema.fieldNames.contains(column),
      s"readRange: no column '$column' in ${m.schema.fieldNames.mkString(",")}")
    val phys = m.columnMapping.getOrElse(column, column)
    val dt = m.schema(column).dataType
    val loC = Option(lo).flatMap(v => statBound(dt, v))
    val hiC = Option(hi).flatMap(v => statBound(dt, v))
    m.files.filter { f =>
      f.stats.get(phys) match {
        case Some((mn, mx)) =>
          val mnC = statParse(dt, mn)
          val mxC = statParse(dt, mx)
          // keep iff [mn,mx] ∩ [lo,hi] could be non-empty; any conversion
          // failure keeps the file (pruning must stay conservative)
          (for { l <- loC; fileMax <- mxC } yield statLte(l, fileMax))
            .getOrElse(true) &&
          (for { h <- hiC; fileMin <- mnC } yield statLte(fileMin, h))
            .getOrElse(true)
        case None => true
      }
    }
  }

  /** Files a range read would scan at the current (or pinned) snapshot —
    * the layout-quality metric Z-order specs assert on.
    */
  private[graft] def rangeFileCount(column: String, lo: Any, hi: Any,
      version: Option[Long] = None): Int =
    rangeFiles(manifest(version.getOrElse(latestVersion)), column, lo, hi).size

  /** One row per committed version, oldest first: the table's history
    * (action + row/file statistics), from manifests only — no data read.
    */
  def history: DataFrame = {
    val rows = listVersions.map(manifest).map { m =>
      Row(m.version, m.action, m.rowsInserted, m.rowsUpdated, m.rowsDeleted,
        m.rowsTotal, m.files.size, m.tsMillis)
    }
    spark.createDataFrame(rows.asJava, HistorySchema).orderBy("version")
  }

  /** Replayable CDF: all change rows committed in versions
    * [`fromVersion`, `toVersion`], each tagged `_commit_version`. The tag
    * is stored in the change files at commit time; files written by the
    * pre-tag format (or restamp-skipped rebases) backfill it from the
    * manifest that references them — per-manifest framing makes that a
    * constant, so old-format tables keep correct version tags instead of
    * silently reading NULL. Versions without changes (create / compact /
    * restore / rename) contribute nothing. Change rows surface under the
    * CURRENT logical column names (files store immutable physical names,
    * so historical change files survive renames).
    */
  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    val live = listVersions.filter(v => v >= fromVersion && v <= toVersion)
    // an EXPLICIT lower bound (> 1) that reaches into log-vacuumed
    // history must fail, not silently skip: an incremental consumer
    // passing its cursor here would otherwise read an incomplete feed
    // that looks complete (Delta's VersionNotFound). The default
    // from-the-beginning read (fromVersion ≤ 1) keeps serving the
    // SURVIVING versions — the documented retention contract.
    if (fromVersion > 1) {
      val hi = math.min(toVersion, latestVersion)
      val missing = (fromVersion to hi).filterNot(live.contains)
      require(missing.isEmpty,
        s"readChanges($fromVersion, $toVersion): version(s) " +
          s"${missing.min}..${missing.max} were log-vacuumed — the " +
          "requested change range is no longer replayable; restart " +
          s"from $earliestVersion or later")
    }
    val ms = live.map(manifest).filter(_.changesDir.isDefined)
    ms.foreach(m => promoteChanges(m.changesDir.get)) // crash repair
    val latest = snapshot()
    val sch = changeSchema(latest.schema)
    val physSch = toPhysicalSchema(sch, latest.columnMapping)
    val logicalCols = sch.fields.map(f =>
      col(latest.columnMapping.getOrElse(f.name, f.name)).as(f.name)).toSeq
    // ONE scan over every version's change files — exact named files,
    // never a directory glob (resolveChangeFiles — the object-store-safe
    // read the manifest's changeFiles enable), planned from their names
    // and sizes alone (ManifestFileIndex: nothing is listed), so a wide
    // range plans one scan, not one per version. `_commit_version` is
    // stored in-data by post-tag writers; LEGACY files backfill it from
    // the version of the manifest naming them, which the index attaches
    // to each file as a constant column — no join, no broadcast.
    val versioned = ms.flatMap(m => resolveChangeFiles(m).map { case (p, bytes) =>
      LogFile(p.toString, Seq.empty, rows = 0L, bytes = bytes) -> m.version })
    if (versioned.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), sch)
    else {
      val version = versioned.map { case (f, v) => f.path -> v }.toMap
      ManifestFileIndex.scan(spark, versioned.map(_._1), f => GPath(f.path),
        physSch, spark.sessionState.newHadoopConf(),
        StructType.fromDDL("__ver BIGINT"), f => InternalRow(version(f.path)))
        .withColumn("_commit_version",
          coalesce(col("_commit_version"), col("__ver")))
        .select(logicalCols: _*)
    }
  }

  /** STREAMING CDF — the reference's `readChangeFeed` streaming read
    * (`bronze_prices_auto_loader.ipynb:158`) over the commit log: a
    * checkpointed parquet file stream globbing the per-commit change
    * directories. Exactly-once falls out of the file-source WAL; ordering
    * within a micro-batch comes from the stored `_commit_version`
    * (change files written by the pre-tag format backfill it from a
    * static change-dir→version map resolved at stream start — legacy
    * files are by definition already committed, so the static map covers
    * them all; files from commits AFTER stream start carry the stored
    * tag). Safe against optimistic-concurrency losers because a losing
    * writer deletes its own change files before retrying
    * ([[retryCommit]]) — phantom changes from lost commits never enter
    * the feed: change files stage OUTSIDE the globbed dir and move in
    * atomically only after their manifest wins the publish race. At
    * 100 TB the change volume is commit-proportional (the listing cost is
    * one directory glob per trigger), never corpus-proportional.
    */
  def readChangesStream: DataFrame = readChangesStream(startingVersion = 0L)

  /** [[readChangesStream]] from a given commit version onward — Delta's
    * `readChangeFeed` + `startingVersion` option: change rows of earlier
    * commits are excluded (a consumer bootstrapped from a snapshot at
    * version V streams the delta with `startingVersion = V + 1`).
    */
  def readChangesStream(startingVersion: Long): DataFrame = {
    // repair any commit that crashed between publish and promotion, so
    // the stream doesn't silently skip its (durable, committed) changes
    val ms = listVersions.map(manifest)
    ms.flatMap(_.changesDir).foreach(promoteChanges)
    val snap = snapshot()
    val sch = changeSchema(snap.schema)
    val physSch = toPhysicalSchema(sch, snap.columnMapping)
    val legacyMap = ms.collect { case m if m.changesDir.isDefined =>
      Row(GPath(m.changesDir.get).getFileName.toString, m.version) }
    val vmap = spark.createDataFrame(legacyMap.asJava,
      StructType.fromDDL("__chdir STRING, __ver BIGINT"))
    spark.readStream.schema(physSch).parquet(s"$dir/$ChangesDirName/*")
      .withColumn("__chdir",
        element_at(split(col("_metadata.file_path"), "/"), -2))
      .join(broadcast(vmap), Seq("__chdir"), "left")
      .withColumn("_commit_version",
        coalesce(col("_commit_version"), col("__ver")))
      .filter(col("_commit_version") >= startingVersion)
      .select(sch.fields.map(f =>
        col(snap.columnMapping.getOrElse(f.name, f.name)).as(f.name)).toSeq: _*)
  }

  /** The CDF row schema at the CURRENT table schema — what the V1
    * streaming CDF source declares.
    */
  private[graft] def cdfSchema: StructType = changeSchema(snapshot().schema)

  /** CURRENT-snapshot PHYSICAL change schema — the on-disk column names
    * of change files, positionally aligned with [[cdfSchema]] (the V2
    * CDF micro-batch stream reads under it and serves rows positionally
    * as the logical schema).
    */
  private[graft] def cdfPhysicalSchema: StructType = {
    val snap = snapshot()
    toPhysicalSchema(changeSchema(snap.schema), snap.columnMapping)
  }

  /** An arbitrary LOGICAL subset of [[cdfSchema]] under physical names
    * (column-pruned CDF scans read only their projection's columns).
    */
  private[graft] def cdfPhysical(subset: StructType): StructType =
    toPhysicalSchema(subset, snapshot().columnMapping)

  /** Promoted change files of ONE version: (absolute path, bytes), Nil
    * when the version recorded no changes — or when the version itself
    * was log-vacuumed ([[readChanges]] likewise serves only surviving
    * versions; README: keep log retention deeper than the slowest
    * consumer's lag). Repairs a crashed promotion first. O(that
    * version's change files) — the per-trigger planning cost of the V2
    * CDF stream.
    */
  private[graft] def changeFilesAt(version: Long): Seq[(String, Long)] = {
    if (!GFiles.exists(logDir.resolve(
        CommitLogTable.manifestName(version)))) {
      // a missing manifest AT-OR-BELOW the head is a log-vacuumed
      // version: its change dir went with it, and silently serving an
      // empty batch would be INVISIBLE data loss for an incremental
      // consumer (Delta raises VersionNotFound here). Versions beyond
      // the head are the stream racing an in-flight commit —
      // legitimately nothing yet.
      require(version < 1 || version > latestVersion,
        s"change feed version $version at $dir was log-vacuumed — its " +
          "changes are no longer replayable; restart the consumer from " +
          "a surviving version (and keep vacuumLog retention deeper " +
          "than the slowest consumer's lag)")
      return Seq.empty
    }
    resolveChangeFiles(manifest(version)).map { case (p, n) => (p.toString, n) }
  }

  /** Oldest version whose manifest survives `vacuumLog` — the change
    * feed's replayable floor.
    */
  private[graft] def earliestVersion: Long = listVersions.head

  /** Resolve one committed version's change files to concrete paths
    * and their sizes. Manifests that NAME their files (current format)
    * resolve each name directly — promoted location first, the staged
    * one as fallback, one status call per location tried — so the read
    * never depends on directory-listing consistency or the promotion
    * rename being atomic (mid-"rename" on an object store = per-object
    * copies; every named file exists whole in at least one location).
    * Legacy name-less manifests fall back to listing the promoted dir.
    */
  private def resolveChangeFiles(m: Manifest): Seq[(GPath, Long)] = m.changesDir match {
    case None => Seq.empty
    case Some(sub) =>
      promoteChanges(sub) // local crash repair, idempotent
      val promoted = GPath(dir, sub)
      if (m.changeFiles.nonEmpty) {
        val staged = GPath(dir, StagedChangesDirName,
          GPath(sub).getFileName.toString)
        m.changeFiles.map { name =>
          val p = promoted.resolve(name)
          GFiles.sizeIfExists(p).map(p -> _).getOrElse {
            val st = staged.resolve(name)
            val n = GFiles.sizeIfExists(st)
            require(n.isDefined,
              s"change file $name of v${m.version} missing at $dir " +
                "(log-vacuumed change dir, or external deletion)")
            st -> n.get
          }
        }
      } else if (!GFiles.isDirectory(promoted)) Seq.empty
      else {
        GFiles.list(promoted)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.toString)
          .map(p => p -> GFiles.size(p))
      }
  }

  private def changeSchema(base: StructType): StructType =
    new StructType(base.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType))

  // --------------------------------------------------------------- writes

  /** Blind append: new files, all rows recorded as CDF inserts.
    * `recordChanges = false` skips the change images — for DERIVED tables
    * (index postings, signature stores) whose source table already owns
    * the change feed, the insert copy would double every append's write
    * volume for rows a consumer can re-derive; data tables keep the
    * default. `mergeSchema = true` lets a WIDER batch evolve the table
    * schema (new columns appended; existing files null-backfill at read);
    * type changes on existing columns are always rejected.
    *
    * `txn = Some((appId, txnVersion))` makes the append IDEMPOTENT —
    * Delta's `txnAppId`/`txnVersion` writer option: the manifest records
    * the highest committed txnVersion per appId, and an append whose
    * version is ≤ the recorded one is recognized as a replay and skipped
    * BEFORE any data is written. This is what upgrades a streaming
    * foreachBatch BLIND append to exactly-once (the micro-batch id is the
    * txnVersion): a crash between the append and the checkpoint commit
    * replays the batch, and the txn check — not a keyed merge — makes the
    * replay converge. The check races like any commit: a concurrent
    * same-txn writer loses the publish, fails the rebase txn check, and
    * its recompute sees the recorded version — exactly one copy lands.
    */
  def append(df: DataFrame, recordChanges: Boolean = true,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None): Long =
    retryCommit("append") { snap =>
      // idempotent-replay skip FIRST — before the batch is even written
      txn.foreach { case (appId, v) =>
        if (snap.txns.get(appId).exists(_ >= v)) throw NoOpCommit }
      val (schema2, mapping2, aligned) = resolveSchema(df, snap, mergeSchema)
      enforceConstraints(snap, aligned, "append")
      // CDF insert images are written CONCURRENTLY with the data, from
      // the same aligned batch — the former shape wrote the data, read
      // the fresh files back, and wrote them again as images, i.e. a
      // strictly serial write + read + write per append. Deriving the
      // images from `aligned` assumes the batch pipeline is
      // deterministic — the same assumption Spark's own task retries
      // already impose on the data write itself (a retried write task
      // re-executes its `aligned` partition).
      val ((newFiles, dataRows, sub), changesSub) = writeDataAndChanges(
        () => writeData(aligned, snap.partitionCols, mapping2),
        Option.when(recordChanges)(() => writeChanges(
          aligned.withColumn("_change_type", lit("insert")),
          snap.version + 1, mapping2)))
      // idle-stream guard, detected POST-write (costs no extra action —
      // an isEmpty pre-probe would re-execute the batch pipeline): an
      // empty batch must not publish a version, or a scheduled append
      // loop grows the log and ticks the retention window every idle run.
      // The whole commit dir is dropped (a partitioned empty write leaves
      // a marker-only dir that a once-a-minute idle loop would otherwise
      // accumulate for the full orphan-grace window).
      // A schema-EVOLVING empty batch still publishes (the widened schema
      // is the commit's content), and so does an empty TXN batch (the
      // recorded version is the content — a replayed empty batch must
      // still be recognizable as committed).
      if (dataRows == 0 && schemaSig(schema2) == schemaSig(snap.schema)
          && txn.isEmpty) {
        deleteRecursively(GPath(dir, sub))
        changesSub.foreach(cs => deleteRecursively(GPath(dir,
          StagedChangesDirName, GPath(cs).getFileName.toString)))
        throw NoOpCommit
      }
      mkManifest(snap, "append", snap.files ++ newFiles,
        rowsInserted = dataRows, rowsUpdated = 0, rowsDeleted = 0,
        rowsTotal = snap.rowsTotal + dataRows, changesDir = changesSub,
        schema = schema2, columnMapping = mapping2,
        txns = snap.txns ++ txn.toMap,
        properties = identitySyncProps(snap, mapping2, newFiles).orNull)
    }

  /** Streaming-sink commit (the V2 `writeStream.toTable` path,
    * [[graft.sources.CommitLogStreamingWrite]]): publish EXECUTOR-written
    * parquet files as ONE transactional append. `staged` pairs each
    * file with its table-partition value string (None on unpartitioned
    * tables); files are moved — same-filesystem renames — into a fresh
    * commit dir laid out exactly like [[writeData]]'s output, then the
    * commit enumerates footers for stats and publishes with the same
    * CDF images, CHECK constraints, and txn idempotence as [[append]].
    * A replayed epoch (txn already recorded) drops the duplicate files
    * and publishes nothing — exactly-once across sink restarts.
    */
  private[graft] def appendStagedFiles(
      staged: Seq[(GPath, Seq[String])],
      writtenSchema: StructType, txn: (String, Long)): Long = {
    val sub = s"$DataDirName/c-${UUID.randomUUID().toString.take(12)}"
    staged.zipWithIndex.foreach { case ((p, partVals), i) =>
      val dirPart = partVals.zipWithIndex.map { case (s, j) =>
        val v = if (s.isEmpty)
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(s)
        s"${shadowColName(j)}=$v/"
      }.mkString
      val target = GPath(dir, sub, dirPart + f"f-$i%05d.parquet")
      GFiles.createDirectories(target.getParent)
      GFiles.moveReplace(p, target)
    }
    retryCommit("append") { snap =>
      if (snap.txns.get(txn._1).exists(_ >= txn._2)) {
        deleteRecursively(GPath(dir, sub))
        throw NoOpCommit
      }
      require(staged.isEmpty ||
          staged.forall(_._2.length == snap.partitionCols.length),
        s"streaming write partition routing does not match the table's " +
          s"partitioning (partitionCols=${snap.partitionCols.mkString(",")})")
      require(schemaSig(writtenSchema) == schemaSig(snap.schema),
        s"streaming write schema drift: table now has ${snap.schema.toDDL}, " +
          s"the stream writes ${writtenSchema.toDDL} — restart the stream")
      // a fully-filtered epoch stages nothing (routine in a silver-layer
      // transform): publish NOTHING — an idle epoch must not grow the
      // log or tick the vacuum retention window. Skipping its txn is
      // safe: replaying an empty epoch re-applies nothing.
      if (staged.isEmpty) throw NoOpCommit
      val (files, empties) = enumerate(GPath(dir, sub), sub)
        .partition(_.rows > 0)
      empties.foreach(f => GFiles.deleteIfExists(GPath(dir, f.path)))
      if (files.isEmpty) { // zero-row part files only: same idle rule
        deleteRecursively(GPath(dir, sub))
        throw NoOpCommit
      }
      val dataRows = files.map(_.rows).sum
      try {
        val stagedRead = readFiles(files, snap.schema, snap.columnMapping)
        enforceConstraints(snap, stagedRead, "append")
        // the epoch's files were EXECUTOR-written, so the generated-
        // column assertion the batch planes wire into their write pass
        // runs here as one column-pruned validation pass over the epoch
        CommitLogTable.generatedExprs(snap.properties).foreach {
          case (c, sql) =>
            val dt = snap.schema(c).dataType
            val bad = stagedRead
              .filter(!(col(c) <=> expr(sql).cast(dt))).limit(1).count()
            require(bad == 0, s"streaming write violates GENERATED " +
              s"ALWAYS AS on '$c' ($sql) — the epoch commits nothing")
        }
        // the epoch sink always writes explicit values (schemaSig forces
        // the column present), which GENERATED ALWAYS identity forbids
        CommitLogTable.identitySpecs(snap.properties).foreach { id =>
          require(id.allowExplicit,
            s"streaming epoch sink cannot write identity column " +
              s"'${id.col}' (GENERATED ALWAYS AS IDENTITY) — declare it " +
              "GENERATED BY DEFAULT, or write through the V1 commitlog " +
              "sink (df.writeStream.format(\"commitlog\")), which assigns")
        }
      } catch { case e: Throwable =>
        deleteRecursively(GPath(dir, sub)); throw e }
      val changesSub = Some(writeChanges(
        readFiles(files, snap.schema, snap.columnMapping)
          .withColumn("_change_type", lit("insert")),
        snap.version + 1, snap.columnMapping))
      mkManifest(snap, "append", snap.files ++ files,
        rowsInserted = dataRows, rowsUpdated = 0, rowsDeleted = 0,
        rowsTotal = snap.rowsTotal + dataRows, changesDir = changesSub,
        txns = snap.txns + txn,
        properties =
          identitySyncProps(snap, snap.columnMapping, files).orNull)
    }
  }

  /** Atomic full REPLACE (`df.write.mode("overwrite")` / `INSERT
    * OVERWRITE`): one commit swaps the entire snapshot for the batch.
    * Readers pinned at earlier versions keep their files (until vacuum);
    * `recordChanges = true` (default) records delete images of the
    * replaced snapshot plus insert images of the batch, so incremental
    * consumers see the replacement rather than silently missing it —
    * the cost is one read of the old snapshot, licensed for an op that
    * rewrites the table anyway. `mergeSchema` widens as in [[append]];
    * without it the batch must speak the table's schema.
    */
  def overwrite(df: DataFrame, recordChanges: Boolean = true,
      mergeSchema: Boolean = false): Long =
    retryCommit("overwrite") { snap =>
      val (schema2, mapping2, aligned) = resolveSchema(df, snap, mergeSchema)
      enforceConstraints(snap, aligned, "overwrite")
      val (newFiles, dataRows, _) = writeData(aligned, snap.partitionCols, mapping2)
      val changesSub = if (!recordChanges) None else Some(writeChanges(
        readFiles(snap.files, snap.schema, snap.columnMapping)
          .withColumn("_change_type", lit("delete"))
          // old rows surface under the old logical names; align to the
          // (possibly widened) new schema before unioning
          .select((schema2.fieldNames.map(c =>
            (if (snap.schema.fieldNames.contains(c)) col(c)
             else lit(null).cast(schema2(c).dataType)).as(c)) :+
            col("_change_type")).toSeq: _*)
          .unionByName(readFiles(newFiles, schema2, mapping2)
            .withColumn("_change_type", lit("insert"))),
        snap.version + 1, mapping2))
      mkManifest(snap, "overwrite", newFiles,
        rowsInserted = dataRows, rowsUpdated = 0,
        rowsDeleted = snap.rowsTotal, rowsTotal = dataRows,
        changesDir = changesSub, schema = schema2, columnMapping = mapping2,
        properties = identitySyncProps(snap, mapping2, newFiles).orNull)
    }

  /** MERGE upsert, latest-wins per `keys` under `order` (same semantics as
    * [[graft.operators.MergeUpsert.merge]]), committed atomically with
    * file-level partition pruning: only files of partitions present in the
    * update batch are rewritten; every other file carries over by
    * reference. CDF records insert + update pre/post images. An EMPTY
    * update batch returns the current version without publishing — the
    * common idle micro-batch must not grow the log with no-op versions
    * (each of which would rewrite the whole unpartitioned snapshot).
    * `mergeSchema = true` evolves the schema exactly as in [[append]];
    * update rows missing pre-existing columns null those columns on the
    * rows they rewrite (explicit-NULL update semantics).
    *
    * Partitioned tables require the partition value of an existing key to
    * be stable across updates (true for day-keyed upserts, where the day
    * is part of the merge key) — a row "moving" partitions would escape
    * the pruned rewrite, exactly as in partition-pruned Delta MERGE.
    */
  def merge(updates: DataFrame, keys: Seq[String], order: Seq[Column],
      mergeSchema: Boolean = false, recordChanges: Boolean = true): Long =
    retryCommit("merge") { snap =>
      // identityFill = false: latest-wins replaces WHOLE rows, so a
      // fresh id for an omitted identity column would re-key existing
      // rows — the source must carry it
      val (schema2, mapping2, aligned) =
        resolveSchema(updates, snap, mergeSchema, identityFill = false)
      // latest-wins collapses only NON-NULL-keyed rows: a NULL merge key
      // never equi-matches anything (itself included) — each NULL-keyed
      // update row is an independent insert, like Delta MERGE — and
      // keepLast's window would wrongly group the NULLs together
      val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
      // persisted: the empty probe below, the partition-value collect,
      // and the full-outer join all consume this frame — without the
      // persist the batch pipeline would re-execute per action (and the
      // idle-batch guard would ADD a pipeline execution instead of
      // reusing one)
      val latest = graft.operators.Dedup
        .keepLast(aligned.filter(!anyKeyNull), keys, order).persist()
      // NULL-keyed rows are independent inserts (a NULL merge key never
      // equi-matches anything) that BYPASS the join: unioning them into
      // `latest` would destroy the dedup window's hash partitioning and
      // force the join to re-shuffle the whole batch a second time
      // (guide §2.4 — the window and the join share one exchange now);
      // they rejoin as unions into the snapshot write and the change
      // set below, and their target files are fresh inserts, so their
      // partitions don't enter the copy-on-write affected set at all.
      val nullRows = aligned.filter(anyKeyNull)
        .select(schema2.fieldNames.map(col).toSeq: _*).persist()
      try {
      // idle-stream guard: an empty update batch must not publish — on
      // an unpartitioned table it would select EVERY file as affected
      // and rewrite the whole snapshot for nothing, once per idle
      // micro-batch (the probe reads the persisted frame, so the cost
      // is the materialization the body pays anyway; the null-keyed
      // probe only runs when the deduped side is already empty)
      if (latest.isEmpty && nullRows.isEmpty) throw NoOpCommit
      enforceConstraints(snap, latest.unionByName(nullRows), "merge")
      val (affected, untouched) =
        if (snap.partitionCols.isEmpty) (snap.files, Seq.empty[LogFile])
        else {
          // bounded driver collect: distinct partition TUPLES of ONE batch
          // (micro-batches touch a handful of days; a backfill, a few
          // hundred) — never corpus-scale. NULL partition values must map
          // to the Hive default-partition name the manifest stores, or
          // the NULL-partition file would silently escape the rewrite
          val tuples = latest.select(snap.partitionCols.map(p =>
              coalesce(col(p).cast("string"), lit(HiveDefaultPartition))): _*)
            .distinct().collect()
            .map(r => snap.partitionCols.indices.map(r.getString): Seq[String])
            .toSet
          snap.files.partition(f => tuples.contains(f.partitionVals))
        }
      val target = readFiles(affected, schema2, mapping2)
      // explicit presence markers, NOT key-nullness: a NULL merge key never
      // equi-matches (SQL semantics — it inserts, like Delta MERGE), and
      // probing the key column would then misread the row as absent and
      // null out its value columns
      val t = target.withColumn("__t", lit(true)).as("t")
      val u = latest.withColumn("__u", lit(true)).as("u")
      val joinCond = keys.map(k => col(s"t.$k") === col(s"u.$k")).reduce(_ && _)
      // ONE shuffle produces the snapshot and the change set: persist the
      // joined frame, release after the commit's writes are on disk
      val joined = t.join(u, joinCond, "full_outer").persist()
      try {
        val uP = col("u.__u").isNotNull
        val tP = col("t.__t").isNotNull
        // the update side wins every row it is on; a row only the target
        // holds is kept unchanged (tag NULL)
        val picked = joined.select(schema2.fieldNames.map(c =>
            when(uP, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)).toSeq :+
          when(uP && tP, lit("update_postimage")).when(uP, lit("insert"))
            .as("_change_type"): _*)
        val preimages = joined.filter(uP && tP)
          .select(schema2.fieldNames.map(c => col(s"t.$c").as(c)).toSeq: _*)
        rewrite(snap, "merge", affected, untouched,
          picked
            .unionByName(preimages.withColumn("_change_type", lit("update_preimage")))
            .unionByName(nullRows.withColumn("_change_type", lit("insert"))),
          recordChanges, schema2, mapping2)
      } finally joined.unpersist(false)
      } finally { latest.unpersist(false); nullRows.unpersist(false) }
    }

  /** General ANSI MERGE — the engine behind `MERGE INTO` SQL (Delta's
    * `MergeIntoCommand` analogue), one transactional commit for an
    * arbitrary mix of ordered WHEN clauses:
    *
    *   - `matched`   (ON true, both sides present): UPDATE SET / DELETE
    *   - `notMatched`(source row, no target match): INSERT
    *   - `bySource`  (target row, no source match): UPDATE SET / DELETE
    *
    * Clause conditions and assignment values are Columns over the join
    * of the target (alias `t`) and `source` (alias `s`) — reference
    * columns as `col("t.x")` / `col("s.y")`. Per ANSI, the FIRST clause
    * whose condition holds applies; a target row matching MULTIPLE
    * source rows under `condition` is rejected when update/delete
    * clauses exist (nondeterministic — Delta errors identically).
    * NULL-evaluating conditions never match. CDF records
    * insert/update_pre+post/delete images; a no-effect merge publishes
    * nothing.
    *
    * Scale: copy-on-write over the AFFECTED file set. Without bySource
    * clauses, an equi-conjunct `t.<partitionCol> = s.<col>` in the ON
    * condition prunes the rewrite (and the join's target side) to the
    * source batch's partitions — the same bounded-collect pruning
    * [[merge]] uses; bySource clauses touch every target row by
    * definition, so they rewrite the table. Reference:
    * docs/databricks_setup.md:170-198 (the documented Silver MERGE).
    */
  def mergeInto(source: DataFrame, condition: Column,
      matched: Seq[CommitLogTable.MatchedClause],
      notMatched: Seq[CommitLogTable.NotMatchedInsert],
      bySource: Seq[CommitLogTable.BySourceClause]): Long = {
    import CommitLogTable.{BySourceDelete, BySourceUpdate, MatchedDelete, MatchedUpdate}
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "mergeInto: at least one WHEN clause required")
    retryCommit("merge") { snap =>
      val schema = snap.schema
      def named(m: Map[String, Column], what: String): Map[String, Column] =
        m.map { case (k, v) =>
          val f = schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
            throw new IllegalArgumentException(
              s"mergeInto: $what references unknown column '$k'"))
          f -> v
        }
      // generated/identity enforcement — the same rules every other
      // write plane applies: no direct SET of a generated column (it
      // recomputes below), no explicit values into GENERATED ALWAYS
      // identity, and an INSERT clause must provide a BY DEFAULT
      // identity column (this plane does not assign — the latest-wins
      // merge()'s refusal, for the same re-keying reason)
      val gens = CommitLogTable.generatedExprs(snap.properties)
      val idSpecs = CommitLogTable.identitySpecs(snap.properties)
      // `UPDATE SET *` expands (in Spark's analyzer) to an assignment
      // for EVERY target column — including generated and ALWAYS
      // identity columns the user never named. A full-cover set sheds
      // those entries instead of refusing (Delta supports SET * on such
      // tables): generated columns recompute below anyway; an ALWAYS
      // identity column keeps its target value. A PARTIAL set naming
      // one stays a refusal (guardSet).
      def shedStarManaged(set: Map[String, Column]): Map[String, Column] = {
        val managed = gens.map(_._1) ++
          idSpecs.filterNot(_.allowExplicit).map(_.col)
        val covers = schema.fieldNames.forall(f =>
          set.keys.exists(_.equalsIgnoreCase(f)))
        if (covers && managed.nonEmpty)
          set.filterNot { case (k, _) =>
            managed.exists(_.equalsIgnoreCase(k)) }
        else set
      }
      val matchedS = matched.map {
        case CommitLogTable.MatchedUpdate(c, set) =>
          CommitLogTable.MatchedUpdate(c, shedStarManaged(set))
        case other => other
      }
      val bySourceS = bySource.map {
        case CommitLogTable.BySourceUpdate(c, set) =>
          CommitLogTable.BySourceUpdate(c, shedStarManaged(set))
        case other => other
      }
      def guardSet(set: Map[String, Column]): Unit = {
        gens.foreach { case (c, sql) =>
          require(!set.keys.exists(_.equalsIgnoreCase(c)),
            s"mergeInto: cannot UPDATE SET generated column '$c' " +
              s"(GENERATED ALWAYS AS $sql — it recomputes)") }
        idSpecs.foreach { id =>
          require(id.allowExplicit ||
              !set.keys.exists(_.equalsIgnoreCase(id.col)),
            s"mergeInto: cannot UPDATE SET identity column '${id.col}' " +
              "(GENERATED ALWAYS AS IDENTITY)") }
      }
      matchedS.foreach {
        case CommitLogTable.MatchedUpdate(_, set) => guardSet(set)
        case _ => () }
      bySourceS.foreach {
        case CommitLogTable.BySourceUpdate(_, set) => guardSet(set)
        case _ => () }
      notMatched.foreach { cl =>
        idSpecs.foreach { id =>
          val has = cl.values.keys.exists(_.equalsIgnoreCase(id.col))
          require(id.allowExplicit,
            s"mergeInto: cannot INSERT into a table with GENERATED " +
              s"ALWAYS AS IDENTITY column '${id.col}' through this plane " +
              "— insert via append (which assigns), or declare the " +
              "column GENERATED BY DEFAULT")
          require(has,
            s"mergeInto: INSERT omits identity column '${id.col}' — " +
              "provide it (the column is GENERATED BY DEFAULT)")
        }
      }
      // per-clause INSERT handling for generated columns: an omitted
      // column computes from its expression, a provided one is
      // row-asserted — mirroring applyGenerated's batch rule
      def genFixInsert(frame: DataFrame,
          provided: Set[String]): DataFrame =
        gens.foldLeft(frame) { case (d, (c, sql)) =>
          val dt = schema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
          val gen = expr(sql).cast(dt)
          if (!provided.exists(_.equalsIgnoreCase(c))) d.withColumn(c, gen)
          else d.withColumn(c,
            when(col(c) <=> gen, col(c)).otherwise(raise_error(concat(
              lit(s"GENERATED ALWAYS AS violation on '$c': INSERT value "),
              coalesce(col(c).cast("string"), lit("NULL")),
              lit(s" != generation expression ($sql)")))).cast(dt))
        }
      val src = source.persist()
      try {
        // file scope: bySource clauses reach every target row; otherwise
        // an ON equi-conjunct over the partition column bounds the
        // rewrite to the source batch's partitions (bounded collect,
        // like merge()). NULL source keys never equi-match — no partition.
        val (affected, prunedAway) =
          if (bySource.nonEmpty) (snap.files, Seq.empty[LogFile])
          else mergeIntoPrunedFiles(snap, condition, src)
        // insert-only merges (Delta's insert-only optimization): target
        // rows are read ONLY to suppress matched inserts — every target
        // file carries by reference and the commit appends just the
        // inserted rows, instead of rewriting unchanged data
        val insertOnly = matched.isEmpty && bySource.isEmpty
        val rewritten = if (insertOnly) Seq.empty[LogFile] else affected
        val untouched = if (insertOnly) snap.files else prunedAway
        val tgt = readFiles(affected, schema, snap.columnMapping)
          .withColumn("__graft_rid", monotonically_increasing_id())
          .withColumn("__graft_t", lit(true)).as("t")
        val s2 = src.withColumn("__graft_s", lit(true)).as("s")
        val joined = tgt.join(s2, condition, "full_outer").persist()
        try {
          val tP = col("t.__graft_t").isNotNull
          val sP = col("s.__graft_s").isNotNull
          val pairs = joined.filter(tP && sP)
          def firstIdx(conds: Seq[Option[Column]]): Column =
            conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), els) =>
              when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(i))
                .otherwise(els)
            }
          val mIdx = firstIdx(matched.map(_.cond))
          val iIdx = firstIdx(notMatched.map(_.cond))
          val bIdx = firstIdx(bySource.map(_.cond))
          val tOut = schema.fieldNames.map(c => col(s"t.$c").as(c)).toSeq
          def updOut(set: Map[String, Column]) = schema.fields.map(f =>
            set.get(f.name).map(_.cast(f.dataType).as(f.name))
              .getOrElse(col(s"t.${f.name}").as(f.name))).toSeq
          def insOut(values: Map[String, Column]) = schema.fields.map(f =>
            values.get(f.name).map(_.cast(f.dataType).as(f.name))
              .getOrElse(lit(null).cast(f.dataType).as(f.name))).toSeq

          val targetOnly = joined.filter(tP && !sP)
          val sourceOnly = joined.filter(!tP && sP)
          // boolean shorthands for the change images: does SOME update
          // (resp. delete) clause win for this row?
          def idxIn(idx: Column, is: Seq[Int]): Column =
            is.map(i => idx === i).reduceOption(_ || _).getOrElse(lit(false))
          val mUpdIs = matched.zipWithIndex.collect { case (_: MatchedUpdate, i) => i }
          val mDelIs = matched.zipWithIndex.collect { case (_: MatchedDelete, i) => i }
          val bUpdIs = bySource.zipWithIndex.collect { case (_: BySourceUpdate, i) => i }
          val bDelIs = bySource.zipWithIndex.collect { case (_: BySourceDelete, i) => i }
          val insHit = iIdx >= 0

          // ONE pass over the persisted join gates the commit BEFORE
          // anything is written: does any clause take effect (else it is a
          // no-op), and does any matched update/delete fire (else the
          // cardinality guard is skipped). Both are plain conditional
          // sums — round 18 folded the guard in as a count_distinct, which
          // Spark plans via Expand (every join row duplicated through the
          // aggregate; q_table_merge_sql 3.8 -> 6.1 s), so the guard is a
          // separate cheap pass below instead. The commit's own counts
          // are priced by the rewrite.
          val firing = tP && sP && mIdx >= 0
          val cRow = joined.agg(
            sum(when(firing || (!tP && sP && insHit) || (tP && !sP && bIdx >= 0),
              1L).otherwise(0L)),
            sum(when(firing, 1L).otherwise(0L))).head()
          if (matched.nonEmpty && zeroIfNull(cRow, 1) > 0) {
            // ANSI/Delta cardinality guard: a target row may pair with
            // multiple source rows ONLY if at most one pair makes an
            // update/delete clause fire. Grouped count over the FIRING
            // pairs alone (a sliver bounded by the source batch, read
            // from the persisted join) + limit(1) short-circuit — and
            // skipped entirely when no pair fires.
            val dup = joined.filter(firing)
              .groupBy(col("t.__graft_rid")).count()
              .filter(col("count") > 1).limit(1).count()
            if (dup > 0) throw new IllegalStateException(
              "MERGE INTO: a target row matched multiple source rows " +
                "with an applying update/delete clause — make the ON " +
                "condition or clause conditions selective enough")
          }
          if (zeroIfNull(cRow, 0) == 0) throw NoOpCommit

          // generated columns RECOMPUTE on every update output (a SET on
          // a base column changes them; direct SETs were refused above)
          // and fill/assert on every insert output
          val matchedUpdated = matchedS.zipWithIndex.collect {
            case (MatchedUpdate(_, set), i) =>
              recomputeGenerated(pairs.filter(mIdx === i)
                .select(updOut(named(set, "UPDATE SET")): _*), snap)
          }
          val bySourceUpdated = bySourceS.zipWithIndex.collect {
            case (BySourceUpdate(_, set), i) =>
              recomputeGenerated(targetOnly.filter(bIdx === i)
                .select(updOut(named(set, "UPDATE SET")): _*), snap)
          }
          val inserted = notMatched.zipWithIndex.map { case (cl, i) =>
            genFixInsert(sourceOnly.filter(iIdx === i)
              .select(insOut(named(cl.values, "INSERT")): _*),
              named(cl.values, "INSERT").keySet)
          }
          // unchanged matched rows: a multi-matched row whose pairs all
          // fall through is legal and must collapse to ONE copy; a row
          // with one firing pair must NOT also emit an unchanged copy
          // for its fall-through pairs (the guard capped firing pairs
          // at one)
          val appliedRids = pairs.filter(mIdx >= 0)
            .select(col("t.__graft_rid").as("__graft_ar")).distinct()
          val matchedUnchanged = pairs.filter(mIdx === -1)
            .join(appliedRids,
              col("t.__graft_rid") === col("__graft_ar"), "left_anti")
            .select(col("t.__graft_rid").as("__graft_rid") +: tOut: _*)
            .dropDuplicates("__graft_rid").drop("__graft_rid")
          val postImages = matchedUpdated ++ bySourceUpdated
          (postImages ++ inserted).reduceOption(_ unionByName _)
            .foreach(enforceConstraints(snap, _, "merge"))

          val preImages = pairs.filter(idxIn(mIdx, mUpdIs)).select(tOut: _*)
            .unionByName(targetOnly.filter(idxIn(bIdx, bUpdIs)).select(tOut: _*))
          val deleted = pairs.filter(idxIn(mIdx, mDelIs)).select(tOut: _*)
            .unionByName(targetOnly.filter(idxIn(bIdx, bDelIs)).select(tOut: _*))
          // insert-only: unchanged target rows carry in their original
          // files — only the inserts are written
          val unchanged = if (insertOnly) Nil
            else Seq(matchedUnchanged, targetOnly.filter(bIdx === -1).select(tOut: _*))
          def tag(fs: Seq[DataFrame], t: Column) = fs.map(_.withColumn("_change_type", t))
          rewrite(snap, "merge", rewritten, untouched,
            (tag(unchanged, lit(null).cast("string")) ++
              tag(postImages, lit("update_postimage")) ++
              tag(inserted, lit("insert")) ++
              tag(Seq(preImages), lit("update_preimage")) ++
              tag(Seq(deleted), lit("delete"))).reduce(_ unionByName _))
        } finally joined.unpersist(false)
      } finally src.unpersist(false)
    }
  }

  /** ON-condition partition pruning for [[mergeInto]]: find a conjunct
    * `t.<partitionCol> = s.<col>` (either side order), collect the
    * source's distinct NON-NULL values of that column (bounded — one
    * batch's partitions), and split the snapshot into (affected,
    * carried). No such conjunct → everything is in scope.
    */
  private def mergeIntoPrunedFiles(snap: Manifest, condition: Column,
      src: DataFrame): (Seq[LogFile], Seq[LogFile]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq}
    if (snap.partitionCols.isEmpty) return (snap.files, Seq.empty)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Expression => CExpr}
    val e = org.apache.spark.sql.graftbridge.toCatalystExpression(condition)
    // the SQL parser builds And/EqualTo Catalyst nodes; the Column DSL
    // builds UnresolvedFunction('and'/'=') — both spellings must prune
    def conjuncts(x: CExpr): Seq[CExpr] = x match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case UnresolvedFunction(Seq("and"), Seq(l, r), false, _, _, _, _) =>
        conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def eqSides(x: CExpr): Option[(CExpr, CExpr)] = x match {
      case CEq(l, r) => Some((l, r))
      case UnresolvedFunction(Seq("="), Seq(l, r), false, _, _, _, _) =>
        Some((l, r))
      case _ => None
    }
    def isT(a: UnresolvedAttribute, p: String): Boolean =
      a.nameParts.length == 2 && a.nameParts.head == "t" &&
        a.nameParts(1).equalsIgnoreCase(p)
    def isS(a: UnresolvedAttribute): Boolean =
      a.nameParts.length == 2 && a.nameParts.head == "s"
    val eqs: Seq[(UnresolvedAttribute, UnresolvedAttribute)] =
      conjuncts(e).flatMap(eqSides).collect {
        case (a: UnresolvedAttribute, b: UnresolvedAttribute) => (a, b)
      }
    // per-partition-column source binding: any partition column with an
    // equi-conjunct prunes independently (the per-column value sets are
    // a superset of the exact tuple set — always sound, and one bound
    // column already bounds the rewrite; NULL source keys never match)
    val bound: Seq[(Int, Set[String])] = snap.partitionCols.zipWithIndex
      .flatMap { case (p, i) =>
        eqs.collectFirst {
          case (a, b) if isT(a, p) && isS(b) => b.nameParts(1)
          case (a, b) if isT(b, p) && isS(a) => a.nameParts(1)
        }.map { sc =>
          val vals = src.select(col(sc).cast("string").as("v"))
            .filter(col("v").isNotNull).distinct()
            .collect().map(_.getString(0)).toSet
          (i, vals)
        }
      }
    if (bound.isEmpty) (snap.files, Seq.empty)
    else snap.files.partition(f => bound.forall { case (i, vals) =>
      f.partitionVals.lift(i).exists(vals.contains) })
  }

  /** UPDATE rows matching `predicate`: each matched row's `set` columns
    * are recomputed (expressions may reference the row's current
    * values); unmatched rows carry over byte-identical. SQL semantics on
    * the predicate (NULL = no match, like [[delete]]). CDF records
    * update pre/post images, so downstream incremental consumers replay
    * the change — the `UPDATE tbl SET ... WHERE ...` surface of the
    * reference's Delta tables. Full-table copy-on-write like [[delete]]
    * (maintenance-grade); a keyed high-frequency path belongs in
    * [[merge]], which prunes partitions.
    */
  def update(predicate: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "update: empty SET clause")
    retryCommit("update") { snap =>
      set.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"update: no column '$c' in ${snap.schema.fieldNames.mkString(",")}"))
      require(!snap.partitionCols.exists(set.contains),
        "update: cannot SET a partition column (a row may not move partitions)")
      val gens = CommitLogTable.generatedExprs(snap.properties)
      gens.foreach { case (c, sql) => require(!set.contains(c),
        s"update: cannot SET generated column '$c' (GENERATED ALWAYS AS " +
          s"$sql — it recomputes from its base columns)") }
      CommitLogTable.identitySpecs(snap.properties).foreach { id =>
        require(id.allowExplicit || !set.contains(id.col),
          s"update: cannot SET identity column '${id.col}' (GENERATED " +
            "ALWAYS AS IDENTITY)") }
      rewriteMatching(snap, "update", predicate) { hits =>
        val updatedRows = recomputeGenerated(hits.select(
          snap.schema.fieldNames.map(c =>
            set.get(c).map(_.cast(snap.schema(c).dataType).as(c))
              .getOrElse(col(c))).toSeq: _*), snap)
        enforceConstraints(snap, updatedRows, "update")
        hits.withColumn("_change_type", lit("update_preimage"))
          .unionByName(updatedRows.withColumn("_change_type", lit("update_postimage")))
      }
    }
  }

  /** Delete rows matching `predicate`; CDF records the deleted rows.
    * SQL DELETE semantics: only rows where the predicate is TRUE go — a
    * NULL predicate keeps the row (naively filtering on `!predicate`
    * would silently drop NULL-evaluating rows from BOTH the table and
    * the change feed). Copy-on-write with FILE-STAT PRUNING: files whose
    * stored (min, max) prove no row matches carry over by reference
    * (marks and all), so a selective delete on a clustered table
    * rewrites O(matching files), not the table — and unlike
    * [[deleteLazy]] the change feed still carries the deleted images
    * (the pruned scan that produces them runs anyway). Unprovable
    * predicate shapes fall back to the full rewrite.
    */
  def delete(predicate: Column): Long = retryCommit("delete") { snap =>
    rewriteMatching(snap, "delete", predicate)(
      _.withColumn("_change_type", lit("delete")))
  }

  /** The stats-pruned copy-on-write that [[update]] and [[delete]]
    * share: files whose (min, max) PROVE no row matches `predicate`
    * (the [[deleteLazy]] prover) carry over BY REFERENCE, marks and all —
    * a one-partition-selective DML on a clustered 100 TB table rewrites
    * that partition's files, not the table. The rest are read once
    * (persisted; the read goes through their lazy-delete marks, so the
    * rewrite materializes them) and split on the predicate under SQL
    * semantics (NULL = no match): the rows it misses are kept unchanged,
    * and `tagHits` turns the rows it hits into tagged [[rewrite]] rows.
    * A provably-empty file set, or a predicate nothing satisfies,
    * publishes nothing.
    */
  private def rewriteMatching(snap: Manifest, action: String,
      predicate: Column)(tagHits: DataFrame => DataFrame): Manifest = {
    val parsed = parseSimpleComparisonExpr(
      org.apache.spark.sql.graftbridge.toCatalystExpression(predicate))
    val (mayMatch, carried) =
      snap.files.partition(f => lazyDeleteMayMatch(snap, f, parsed))
    if (mayMatch.isEmpty) throw NoOpCommit
    val current = readFiles(mayMatch, snap.schema, snap.columnMapping).persist()
    val hits = coalesce(predicate, lit(false))
    try rewrite(snap, action, mayMatch, carried,
      current.filter(!hits).withColumn("_change_type", lit(null).cast("string"))
        .unionByName(tagHits(current.filter(hits))))
    finally current.unpersist(false)
  }

  /** The one copy-on-write commit every DML ([[merge]], [[mergeInto]],
    * [[update]], [[delete]]) publishes through. The caller says what
    * changes and nothing else: the files the commit `replaced`, the
    * files it `carried` by reference, and ONE frame `out` in the
    * commit's logical schema plus a `_change_type` tag per row:
    *   - NULL: a row kept unchanged inside a replaced file;
    *   - `insert`, `update_postimage`: a row version the commit adds;
    *   - `update_preimage`, `delete`: a row version the commit retires.
    * The new files hold the NULL, `insert` and `update_postimage` rows;
    * the change set holds every tagged row. Both are written
    * concurrently ([[writeDataAndChanges]]); `recordChanges = false`
    * (a keyed merge whose feed nothing reads) writes the data alone.
    *
    * Pricing is ONE observation ([[graft.Observed]]) at the root of the
    * written frame that carries the tags — the change set, or the data
    * when there is none: `rows_inserted` = #`insert`, `rows_updated` =
    * #`update_postimage`, `rows_deleted` = #`delete`. Updates count
    * postimages, not preimages: each updated row has one of each in the
    * change set, but only the postimage is also in the data, so the same
    * count prices either frame (a frame without a change set carries no
    * `delete` rows). The wait is bounded and fails naming the plan.
    * Counts come from the tags, never from a before/after file diff,
    * which would also count the lazy deletes a rewrite materializes as
    * this commit's deletes. A commit whose priced effect is zero, or
    * whose pricing fails to arrive, deletes this attempt's output and
    * publishes nothing. `rowsTotal` stays footer truth: replaced files
    * leave with their physical counts (lazy-delete marks included) and
    * new files bring theirs. Only inserted or updated rows can move an
    * identity high-water mark, so a commit of deletes alone skips that
    * check (and the scan it costs on files without identity stats).
    */
  private def rewrite(snap: Manifest, action: String, replaced: Seq[LogFile],
      carried: Seq[LogFile], out: DataFrame, recordChanges: Boolean = true,
      schema: StructType = null, mapping: Map[String, String] = null): Manifest = {
    val mapping2 = Option(mapping).getOrElse(snap.columnMapping)
    val ct = col("_change_type")
    val kept = out.filter(ct.isNull || ct.isin("insert", "update_postimage"))
    def n(tag: String) = sum(when(ct === tag, 1L).otherwise(0L))
    val (priced, counts) = graft.Observed(
      if (recordChanges) out.filter(ct.isNotNull) else kept,
      n("insert"), n("update_postimage"), n("delete"))
    val ((newFiles, _, dataSub), changesSub) = writeDataAndChanges(
      () => writeData((if (recordChanges) kept else priced).drop("_change_type"),
        snap.partitionCols, mapping2),
      Option.when(recordChanges)(() =>
        writeChanges(priced, snap.version + 1, mapping2)))
    def dropAttempt(): Unit = {
      deleteRecursively(GPath(dir, dataSub))
      changesSub.foreach(cs => deleteRecursively(GPath(dir,
        StagedChangesDirName, GPath(cs).getFileName.toString)))
    }
    val row = try counts.await(s"$action at $dir")
      catch { case e: Throwable => dropAttempt(); throw e }
    val Seq(ins, upd, del) = (0 until 3).map(zeroIfNull(row, _))
    if (ins + upd + del == 0) { dropAttempt(); throw NoOpCommit }
    mkManifest(snap, action, carried ++ newFiles,
      rowsInserted = ins, rowsUpdated = upd, rowsDeleted = del,
      rowsTotal = snap.rowsTotal - replaced.map(_.rows).sum +
        newFiles.map(_.rows).sum,
      changesDir = changesSub, schema = schema, columnMapping = mapping,
      properties = (if (ins + upd > 0)
        identitySyncProps(snap, mapping2, newFiles).orNull else null))
  }

  /** Resolve a wall-clock instant to a version — Delta's
    * `timestampAsOf` rule: the LATEST commit at-or-before `tsMillis`.
    * Commit timestamps are the publisher's `System.currentTimeMillis`
    * (nondecreasing in practice; a racing pair may interleave by a few
    * ms — the scan walks newest-first, so the latest qualifying version
    * wins regardless). Errors before the first commit, like Delta.
    */
  def versionAt(tsMillis: Long): Long = {
    val vs = listVersions
    vs.reverse.find(v => manifest(v).tsMillis <= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"timestampAsOf $tsMillis predates the table (first commit at " +
          s"${manifest(vs.head).tsMillis})"))
  }

  /** The EARLIEST version committed at-or-after `tsMillis` — Delta's
    * CDF `startingTimestamp` rule ("changes committed at or after"),
    * the mirror bound of [[versionAt]]. Errors past the last commit,
    * like Delta.
    */
  def versionAtOrAfter(tsMillis: Long): Long =
    listVersions.find(v => manifest(v).tsMillis >= tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"startingTimestamp $tsMillis is after the table's last commit " +
          s"(at ${manifest(latestVersion).tsMillis})"))

  /** Resolve a CDF `startingTimestamp` to its version — [[versionAtOrAfter]]
    * plus the explicit-cursor retention rule: when log vacuum already
    * dropped versions whose commits could fall INSIDE the requested
    * window (the instant is at-or-before the earliest survivor's
    * timestamp and history below it is gone), REFUSE loudly instead of
    * silently clamping — a clamped incremental feed is data loss, the
    * same contract `changeFilesAt` enforces for explicit versions.
    */
  private[graft] def cdfStartingVersionAt(tsMillis: Long): Long = {
    val v = versionAtOrAfter(tsMillis)
    val e = earliestVersion
    require(e <= 1 || tsMillis > manifest(e).tsMillis,
      s"startingTimestamp $tsMillis reaches into log-vacuumed history " +
        s"(earliest surviving version $e, committed at " +
        s"${manifest(e).tsMillis}) — changes before it are gone; use an " +
        "explicit startingVersion at-or-after the floor to acknowledge")
    v
  }

  /** MERGE-ON-READ delete — the deletion-vector analogue (Delta/Iceberg
    * position deletes): `predicate` (SQL text over logical columns) is
    * recorded per file in the manifest; readers filter matching rows
    * out, and the rows physically disappear at the file's next rewrite
    * (merge, update, compact — run OPTIMIZE to materialize eagerly).
    * The commit is METADATA-ONLY: deleting 0.1% of rows from a 100 TB
    * table writes one manifest, not 100 TB — the eager [[delete]] is the
    * copy-on-write alternative when the change feed must carry the
    * deleted images (lazy deletes record no CDF: producing images would
    * need the very scan this op exists to skip). Rows INSERTED after the
    * lazy delete are never affected (new files carry no mark — the
    * serialization order Delta's per-file DVs give). Multiple lazy
    * deletes OR-combine per file; `history` row counts remain the
    * PHYSICAL upper bound until materialization. The predicate must be
    * deterministic (it re-evaluates at every read until materialized).
    */
  def deleteLazy(predicate: String): Long = retryCommit("delete_lazy") { snap =>
    val refs = sqlRefs(predicate)
    refs.foreach(r =>
      require(snap.schema.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"deleteLazy: predicate references unknown column '$r'"))
    if (snap.files.isEmpty) throw NoOpCommit
    // stats-aware marking: a file whose per-column (min, max) PROVES it
    // holds no matching row is left clean — for a 0.1%-selective delete
    // on a clustered 100 TB table that is the difference between marking
    // (and later rewriting) 0.1% of files vs all of them. Only simple
    // comparison predicates prove anything; everything else marks
    // conservatively (correct, merely broader). The predicate parses
    // ONCE — the per-file work is a stat comparison, so marking stays
    // O(#files) cheap driver work, not O(#files) SQL parses.
    val parsed = parseSimpleComparison(predicate)
    val files2 = snap.files.map { f =>
      if (!lazyDeleteMayMatch(snap, f, parsed)) f
      else f.copy(pendingDelete = Some(
        f.pendingDelete.map(e => s"($e) OR ($predicate)").getOrElse(predicate)))
    }
    // a delete PROVABLY matching nothing publishes nothing
    if (files2 == snap.files) throw NoOpCommit
    // files are physically untouched: sort order (clusteredBy) survives
    mkManifest(snap, "delete_lazy", files2, rowsInserted = 0,
      rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
      changesDir = None, clusteredBy = snap.clusteredBy)
  }

  /** Parse a predicate into the one shape stats can refute: a simple
    * `col <op> literal` (either operand order; op ∈ <, <=, >, >=, =).
    * None = not provable — callers must treat every file as a may-match.
    */
  private def parseSimpleComparison(predicate: String): Option[(String, String, Any)] =
    try parseSimpleComparisonExpr(
      spark.sessionState.sqlParser.parseExpression(predicate))
    catch { case _: Exception => None }

  /** The expression-tree half of [[parseSimpleComparison]] — also the
    * entry point for `Column` predicates (`delete`/`update`), whose
    * `.expr` is the same unresolved comparison shape the SQL parser
    * yields.
    */
  private def parseSimpleComparisonExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[(String, String, Any)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def unlit(l: Literal): Any = l.value match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case x => x
    }
    try e match {
      case LessThan(a: UnresolvedAttribute, l: Literal) => Some((a.name, "<", unlit(l)))
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => Some((a.name, "<=", unlit(l)))
      case GreaterThan(a: UnresolvedAttribute, l: Literal) => Some((a.name, ">", unlit(l)))
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => Some((a.name, ">=", unlit(l)))
      case EqualTo(a: UnresolvedAttribute, l: Literal) => Some((a.name, "=", unlit(l)))
      case LessThan(l: Literal, a: UnresolvedAttribute) => Some((a.name, ">", unlit(l)))
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => Some((a.name, ">=", unlit(l)))
      case GreaterThan(l: Literal, a: UnresolvedAttribute) => Some((a.name, "<", unlit(l)))
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => Some((a.name, "<=", unlit(l)))
      case EqualTo(l: Literal, a: UnresolvedAttribute) => Some((a.name, "=", unlit(l)))
      // a Column predicate converts to UnresolvedFunction('<', args) —
      // the operator arrives as a function NAME, not a typed node
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        def flip(op: String) = op match {
          case "<" => ">"; case "<=" => ">="
          case ">" => "<"; case ">=" => "<="; case other => other
        }
        val op = f.nameParts.last match {
          case "==" => Some("="); case o @ ("=" | "<" | "<=" | ">" | ">=") => Some(o)
          case _ => None
        }
        (op, f.arguments) match {
          case (Some(o), Seq(a: UnresolvedAttribute, l: Literal)) =>
            Some((a.name, o, unlit(l)))
          case (Some(o), Seq(l: Literal, a: UnresolvedAttribute)) =>
            Some((a.name, flip(o), unlit(l)))
          case _ => None
        }
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Can `f` possibly hold a row matching the (pre-parsed) predicate?
    * TRUE unless the file's stats disprove it; a stat-less file or an
    * unprovable predicate shape is conservatively a match.
    */
  private[graft] def lazyDeleteMayMatch(snap: Manifest, f: LogFile,
      simple: Option[(String, String, Any)]): Boolean = {
    simple match {
      case None => true
      case Some((name, "in", vs: Seq[_])) =>
        // disjunction of equalities: the file survives if ANY member may
        // match; a NULL member proves nothing either way, so keep
        vs.exists(v => v == null ||
          lazyDeleteMayMatch(snap, f, Some((name, "=", v))))
      case Some((name, op, v)) =>
        val field = snap.schema.fields.find(_.name.equalsIgnoreCase(name))
        field.forall(fld => statsMayMatch(fld.dataType,
          f.stats.get(snap.columnMapping.getOrElse(fld.name, fld.name)), op, v)) &&
          // equality probes additionally consult the file's bloom sidecar
          // (if indexed): the pruning that works where min/max can't —
          // point lookups on scattered high-cardinality keys
          (op != "=" || field.forall(fl => bloomMayContain(snap, f, fl, v)))
    }
  }

  /** Logical column names referenced by any outstanding lazy-delete
    * predicate — rename/drop of such a column is refused until the
    * predicates materialize (the stored SQL text would dangle).
    */
  private def pendingDeleteRefs(snap: Manifest): Set[String] =
    snap.files.flatMap(_.pendingDelete).distinct.flatMap(sqlRefs).toSet

  /** Logical column names referenced by a stored SQL fragment (CHECK
    * constraints, lazy-delete predicates) — ONE definition of reference
    * extraction for every guard.
    */
  private[graft] def sqlRefs(sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  /** Metadata-only column rename — Delta column mapping `name` mode
    * (enabled on the reference's Bronze table,
    * `docs/databricks_setup.md:96` / `bronze_prices_auto_loader.ipynb`
    * cell 4): the manifest's logical schema renames; the PHYSICAL in-file
    * name (fixed when the column was first added) never changes, so zero
    * data files are rewritten — at 100 TB a rename is one JSON document,
    * not a table rewrite. Time travel to a pre-rename version replays the
    * old name; CDF keeps working across the rename because change files
    * also store physical names.
    */
  def renameColumn(oldName: String, newName: String): Long =
    retryCommit("rename") { snap =>
      require(snap.schema.fieldNames.contains(oldName),
        s"renameColumn: no column '$oldName' in ${snap.schema.fieldNames.mkString(",")}")
      require(!snap.schema.fieldNames.contains(newName),
        s"renameColumn: column '$newName' already exists")
      // case-insensitive, matching Spark's default resolution of the
      // stored SQL text
      constraintRefs(snap).foreach { case (n, refs) =>
        require(!refs.exists(_.equalsIgnoreCase(oldName)),
          s"renameColumn: CHECK constraint '$n' references '$oldName' — drop it first") }
      require(!pendingDeleteRefs(snap).exists(_.equalsIgnoreCase(oldName)),
        s"renameColumn: outstanding lazy-delete predicates reference " +
          s"'$oldName' — materialize them (compact) first")
      CommitLogTable.generatedExprs(snap.properties).foreach { case (c, sql) =>
        require(!c.equalsIgnoreCase(oldName) &&
            !sqlRefs(sql).exists(_.equalsIgnoreCase(oldName)),
          s"renameColumn: generated column '$c' (GENERATED ALWAYS AS $sql) " +
            s"involves '$oldName' — drop the generation property first") }
      // identity specs are keyed by column name in table properties — a
      // rename would orphan them (every later write then throws in
      // applyIdentity), so refuse like the generated-column guard
      CommitLogTable.identitySpecs(snap.properties).foreach { id =>
        require(!id.col.equalsIgnoreCase(oldName),
          s"renameColumn: '$oldName' is an IDENTITY column — its " +
            "identity spec is keyed by name; drop the column instead") }
      val physName = snap.columnMapping.getOrElse(oldName, oldName)
      val schema2 = StructType(snap.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val mapping2 = (snap.columnMapping - oldName) ++
        (if (physName == newName) Map.empty[String, String]
         else Map(newName -> physName))
      val pcols2 = snap.partitionCols.map(p => if (p == oldName) newName else p)
      // metadata-only: the files (and their sort order) are untouched, so
      // the clustered marker survives — dropping it would make the next
      // scheduled clustered compact rewrite the whole table for nothing
      mkManifest(snap, "rename", snap.files, rowsInserted = 0,
        rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
        changesDir = None, schema = schema2, columnMapping = mapping2,
        partitionCols = pcols2, clusteredBy = snap.clusteredBy)
    }

  /** Metadata-only column DROP (the other half of Delta column mapping):
    * the logical column leaves the schema in one manifest commit; its
    * physical name is RETIRED — the in-file data is dead weight that the
    * next compact's rewrite naturally sheds (projection excludes it), and
    * the name can never be reassigned, so a later evolution re-adding the
    * same logical name reads NULL for history instead of resurrecting
    * stale values. Time travel to a pre-drop version still sees the
    * column. The partition column cannot be dropped.
    */
  def dropColumn(name: String): Long = retryCommit("drop") { snap =>
    require(snap.schema.fieldNames.contains(name),
      s"dropColumn: no column '$name' in ${snap.schema.fieldNames.mkString(",")}")
    require(!snap.partitionCols.contains(name),
      s"dropColumn: '$name' is a partition column")
    require(snap.schema.fields.length > 1,
      "dropColumn: cannot drop the last column")
    constraintRefs(snap).foreach { case (n, refs) =>
      require(!refs.exists(_.equalsIgnoreCase(name)),
        s"dropColumn: CHECK constraint '$n' references '$name' — drop it first") }
    require(!pendingDeleteRefs(snap).exists(_.equalsIgnoreCase(name)),
      s"dropColumn: outstanding lazy-delete predicates reference '$name' — " +
        "materialize them (compact) first")
    val gens = CommitLogTable.generatedExprs(snap.properties)
    gens.foreach { case (c, sql) =>
      require(c.equalsIgnoreCase(name) ||
          !sqlRefs(sql).exists(_.equalsIgnoreCase(name)),
        s"dropColumn: generated column '$c' (GENERATED ALWAYS AS $sql) " +
          s"references '$name' — drop the generated column first") }
    val schema2 = StructType(snap.schema.fields.filterNot(_.name == name))
    mkManifest(snap, "drop", snap.files, rowsInserted = 0,
      rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
      changesDir = None, schema = schema2,
      columnMapping = snap.columnMapping - name,
      retiredPhysical = snap.retiredPhysical :+
        snap.columnMapping.getOrElse(name, name),
      clusteredBy = snap.clusteredBy,
      // dropping a generated or identity column retires its properties
      // too (an orphaned graft.identity.<col> spec would make every
      // later write throw in applyIdentity); keys are matched
      // case-insensitively, like the guards above
      properties = {
        val stale = snap.properties.keys.filter { k =>
          k.equalsIgnoreCase(CommitLogTable.GeneratedPropPrefix + name) ||
            k.equalsIgnoreCase(CommitLogTable.IdentityPropPrefix + name) ||
            k.equalsIgnoreCase(
              CommitLogTable.IdentityPropPrefix + name + ".highWater")
        }.toSeq
        if (stale.isEmpty) null else snap.properties -- stale
      })
  }

  /** Current table properties (latest manifest's). */
  def properties: Map[String, String] = snapshot().properties

  /** Stored CHECK constraints (name → SQL) of the current snapshot. */
  def constraints: Map[String, String] = snapshot().constraints

  /** SET table properties (Delta `ALTER TABLE … SET TBLPROPERTIES` —
    * the reference's DDL sets `delta.enableChangeDataFeed` and column
    * mapping this way, `docs/databricks_setup.md:96`): free-form
    * key→value metadata versioned with the table, one manifest commit.
    * Existing keys overwrite; time travel/restore replay the pinned
    * version's properties.
    */
  def setProperties(props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties: empty property map")
    retryCommit("properties") { snap =>
      if (props.forall { case (k, v) => snap.properties.get(k).contains(v) })
        throw NoOpCommit // idempotent re-set publishes nothing
      mkManifest(snap, "properties", snap.files, rowsInserted = 0,
        rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
        changesDir = None, clusteredBy = snap.clusteredBy,
        properties = snap.properties ++ props)
    }
  }

  /** UNSET table properties (`ALTER TABLE … UNSET TBLPROPERTIES`);
    * absent keys are ignored, an all-absent unset publishes nothing.
    */
  def unsetProperties(keys: Seq[String]): Long =
    retryCommit("properties") { snap =>
      if (!keys.exists(snap.properties.contains)) throw NoOpCommit
      mkManifest(snap, "properties", snap.files, rowsInserted = 0,
        rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
        changesDir = None, clusteredBy = snap.clusteredBy,
        properties = snap.properties -- keys)
    }

  /** ADD a table-level CHECK constraint (Delta `ALTER TABLE … ADD
    * CONSTRAINT … CHECK`): `expression` is a SQL boolean over logical
    * column names; SQL CHECK semantics (NULL passes — only FALSE
    * violates). Existing data is scanned once and must satisfy it, as
    * Delta does; from this version on, every append/merge/update batch
    * is validated in ONE extra aggregate action (constraint-free tables
    * pay nothing) and a violating write fails whole before any manifest
    * publishes. This is write-time schema-level DQ, complementing the
    * row-routing expectations gate (`operators/Expectations`, the
    * reference's GE suite) which quarantines instead of rejecting.
    */
  def addConstraint(name: String, expression: String): Long =
    retryCommit("constraint") { snap =>
      require(!snap.constraints.contains(name),
        s"constraint '$name' already exists")
      val bad = readFiles(snap.files, snap.schema, snap.columnMapping)
        .filter(coalesce(expr(expression), lit(true)) === false).count()
      require(bad == 0,
        s"cannot add CHECK '$name': $bad existing row(s) violate $expression")
      mkManifest(snap, "constraint", snap.files, rowsInserted = 0,
        rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
        changesDir = None,
        constraints = snap.constraints + (name -> expression),
        clusteredBy = snap.clusteredBy)
    }

  /** Drop a CHECK constraint by name (metadata-only). */
  def dropConstraint(name: String): Long = retryCommit("constraint") { snap =>
    require(snap.constraints.contains(name), s"no constraint '$name'")
    mkManifest(snap, "constraint", snap.files, rowsInserted = 0,
      rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
      changesDir = None, constraints = snap.constraints - name,
      clusteredBy = snap.clusteredBy)
  }

  /** One aggregate action validates every constraint against a write
    * batch; the error names the first violated constraint and its
    * violation count.
    */
  private def enforceConstraints(snap: Manifest, batch: DataFrame,
      what: String): Unit =
    if (snap.constraints.nonEmpty) {
      val checks = snap.constraints.toSeq.sortBy(_._1)
      val aggs = checks.map { case (n, e) =>
        sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L)).as(n) }
      val row = batch.agg(aggs.head, aggs.tail: _*).head()
      checks.zipWithIndex.foreach { case ((n, e), i) =>
        val v = if (row.isNullAt(i)) 0L else row.getLong(i)
        require(v == 0,
          s"$what violates CHECK constraint '$n' ($e) on $v row(s) at $dir")
      }
    }

  /** Logical column names referenced by stored constraint expressions —
    * rename/drop of a referenced column is refused (Delta's rule), since
    * the stored SQL text would silently dangle.
    */
  private def constraintRefs(snap: Manifest): Map[String, Set[String]] =
    snap.constraints.map { case (n, e) => n -> sqlRefs(e) }

  /** OPTIMIZE: bin-pack each partition's files toward `targetFileBytes`,
    * optionally CLUSTERING rows by `sortCols` during the rewrite — the
    * `OPTIMIZE ... ZORDER BY` emulation inside the transactional format
    * (range-clustered + sorted-within-file is the plain-Spark answer to
    * Z-ordering, SURVEY §4.3): parquet min/max stats on the sort columns
    * then prune row groups at scan, which is what ZORDER buys.
    * Logical content is unchanged (no CDF); readers pinned at earlier
    * versions are untouched — their files survive until [[vacuum]].
    * Partition rewrites are independent, so they run CONCURRENTLY on a
    * driver thread pool (each a small Spark job — the scheduler
    * interleaves their tasks): a thousand-list index compaction is one
    * commit of parallel rewrites, not a thousand sequential jobs.
    * Returns partitionValue → (filesBefore, filesAfter); key "" for an
    * unpartitioned table.
    */
  def compact(targetFileBytes: Long,
      values: Option[Seq[String]] = None,
      sortCols: Seq[Column] = Seq.empty,
      clusterLabel: Option[String] = None): Map[String, (Int, Int)] = {
    require(targetFileBytes > 0)
    var report = Map.empty[String, (Int, Int)]
    // the marker label: an explicit name when given (compactZOrder — the
    // derived expression string would bloat every manifest), else the
    // sort expressions' text
    val sortKey = if (sortCols.isEmpty) None
      else Some(clusterLabel.getOrElse(sortCols.map(_.toString).mkString(",")))
    retryCommit("compact") { snap =>
      // a clustered rewrite is skippable only when the SNAPSHOT is already
      // clustered by these keys (the manifest marker, cleared by any
      // data-changing commit) — without the marker a scheduled clustered
      // compact would re-read and rewrite the whole table on every idle
      // run, which is exactly what the no-op guard below exists to stop
      val alreadyClustered = sortKey.isEmpty || snap.clusteredBy == sortKey
      val groups = snap.files.groupBy(_.partitionKey)
        .filter { case (v, _) => values.forall(_.contains(v)) }
      // rewrite decisions are PURE MANIFEST METADATA — make them all
      // driver-side first, so the execution below can batch
      val decided = groups.toSeq.sortBy(_._1).map { case (v, fs) =>
        val bytes = fs.map(_.bytes).sum
        val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        // re-pack only when it buys something: at least two undersized
        // files to merge (the Delta OPTIMIZE minFileSize rule). A bare
        // fs.size > nOut test oscillates — each rewrite of sorted data
        // compresses better, shrinking nOut below the fresh file count
        // and triggering another full rewrite on the next idle run
        val undersized = fs.count(_.bytes < targetFileBytes / 2)
        // files carrying lazy-delete marks or adopted deletion vectors
        // are ALWAYS rewritten: compact is how merge-on-read deletes
        // materialize
        val hasPending = fs.exists(f =>
          f.pendingDelete.isDefined || f.adoptedDv.isDefined)
        val skip = (fs.size <= nOut || undersized < 2) &&
          alreadyClustered && !hasPending
        (v, fs, nOut, skip, bytes)
      }
      val skipResults = decided.collect { case (v, fs, _, true, _) =>
        (v, fs.size, fs.size, Seq.empty[LogFile], Seq.empty[LogFile]) }
      // SMALL single-output unsorted groups of a partitioned table all
      // rewrite in ONE Spark job: writeData's shadow-column repartition
      // hash-routes every group's rows to exactly one task, so each
      // group bin-packs to one file — and the exchange it costs is
      // bounded by (#small groups × targetFileBytes), never the table.
      // The former shape launched one Spark job PER partition group
      // (45-64 tiny jobs for the IVF/BM25 maintained indexes, ≤16
      // concurrent), paying scheduler+commit overhead per group — the
      // §6 small-files tax moved from the files to the jobs. Groups
      // that need nOut>1, a cluster sort, or an unpartitioned rewrite
      // keep the per-group path (those jobs are big enough to amortize
      // their launch).
      val (batchable, perGroup) = decided.filter(!_._4).partition {
        case (_, _, nOut, _, bytes) =>
          nOut == 1 && bytes <= targetFileBytes && sortCols.isEmpty &&
            snap.partitionCols.nonEmpty
      }
      val batchedResults =
        if (batchable.isEmpty) Seq.empty
        else {
          val allFs = batchable.flatMap(_._2)
          val (nf, _, _) = writeData(
            readFiles(allFs, snap.schema, snap.columnMapping),
            snap.partitionCols, snap.columnMapping)
          val byKey = nf.groupBy(_.partitionKey)
          batchable.map { case (v, fs, _, _, _) =>
            val out = byKey.getOrElse(v, Seq.empty)
            (v, fs.size, out.size, fs, out)
          }
        }
      val groupResults = inParallel(perGroup) { case (v, fs, nOut, _, _) =>
        val src = readFiles(fs, snap.schema, snap.columnMapping)
        val df =
          if (sortCols.isEmpty) src.coalesce(nOut)
          else if (nOut == 1) src.coalesce(1).sortWithinPartitions(sortCols: _*)
          else src.repartitionByRange(nOut, sortCols: _*)
            .sortWithinPartitions(sortCols: _*)
        val (nf, _, _) = writeData(df, snap.partitionCols, snap.columnMapping,
          preClustered = true, keepOrder = sortCols)
        (v, fs.size, nf.size, fs, nf)
      }
      val results = skipResults ++ batchedResults ++ groupResults
      report = results.map { case (v, nb, na, _, _) => v -> (nb, na) }.toMap
      val replaced = results.flatMap(_._4).map(_.path).toSet
      // nothing needed rewriting → don't publish a version identical to
      // its predecessor: a scheduled maintenance loop would otherwise
      // grow the log and tick the vacuum retention window forward on
      // every idle run
      if (replaced.isEmpty) throw NoOpCommit
      // this rewrite MATERIALIZES any lazy-delete marks on the files it
      // replaces — the moment their rows physically disappear, and the
      // moment the deferred CDF delete images get stamped (deleteLazy
      // records none: producing them needs the very scan it skips; this
      // scan runs anyway). Downstream incremental consumers therefore
      // never miss a lazy deletion — it surfaces at the materializing
      // version, like a DV-aware Delta CDF read.
      val marked = results.flatMap(_._4).filter(f =>
        f.pendingDelete.isDefined || f.adoptedDv.isDefined)
      // exact delete images per file: its adopted-DV rows (whatever the
      // predicate says about them), plus the predicate's matches among
      // rows the DV does NOT already hide — no double image when both
      // states mark the same row
      val changesSub =
        if (marked.isEmpty) None
        else {
          val dvImages = marked.filter(_.adoptedDv.isDefined)
            .groupBy(_.pendingDelete).toSeq.sortBy(_._1.getOrElse(""))
            .map { case (_, mfs) =>
              scanWithManifestVals(mfs, snap.schema, snap.columnMapping,
                dvFiles = mfs, dvKeepDeleted = true)
            }
          val pdImages = marked.filter(_.pendingDelete.isDefined)
            .groupBy(_.pendingDelete.get).toSeq.sortBy(_._1)
            .map { case (pd, mfs) =>
              scanWithManifestVals(mfs, snap.schema, snap.columnMapping,
                dvFiles = mfs.filter(_.adoptedDv.isDefined))
                .filter(coalesce(expr(pd), lit(false)))
            }
          Some(writeChanges(
            (dvImages ++ pdImages).reduce(_.unionByName(_))
              .withColumn("_change_type", lit("delete")),
            snap.version + 1, snap.columnMapping))
        }
      // the marker holds only for a clustered compact over the WHOLE
      // table (a values-scoped pass leaves other partitions unsorted, and
      // a plain bin-pack's coalesce destroys any previous ordering in the
      // files it rewrites)
      val marker = if (values.isEmpty) sortKey else None
      // content-preserving rewrites keep the total; a rewrite that
      // materialized pending lazy deletes sheds their rows here — and
      // reports them as this commit's deletions, matching its CDF
      val replacedRows = results.flatMap(_._4).map(_.rows).sum
      val newRows = results.flatMap(_._5).map(_.rows).sum
      mkManifest(snap, "compact",
        snap.files.filterNot(f => replaced.contains(f.path)) ++
          results.flatMap(_._5),
        rowsInserted = 0, rowsUpdated = 0,
        rowsDeleted = math.max(0L, replacedRows - newRows),
        rowsTotal = snap.rowsTotal - replacedRows + newRows,
        changesDir = changesSub, clusteredBy = marker)
    }
    report
  }

  /** Partition KEYS of the current snapshot whose partition values
    * satisfy `predicate` (a SQL boolean over the partition columns,
    * typed as declared — `dt >= '2024-01-01' AND exchange = 'NYSE'`,
    * `day IS NULL`). The scope resolver behind `OPTIMIZE … WHERE`:
    * evaluated driver-side over the DISTINCT partition tuples (manifest
    * metadata, never a data scan — bounded by live-partition count).
    * A predicate referencing anything but a partition column fails
    * loudly, exactly Delta's OPTIMIZE-WHERE rule.
    */
  def partitionKeysWhere(predicate: String): Seq[String] = {
    val snap = snapshot()
    require(snap.partitionCols.nonEmpty,
      s"partition predicate on unpartitioned table $dir")
    val fields = snap.partitionCols.map(p => snap.schema(p))
    val tuples = snap.files
      .filter(_.partitionVals.length == snap.partitionCols.length)
      .map(f => (f.partitionVals, f.partitionKey)).distinct
    val schema = org.apache.spark.sql.types.StructType(
      fields.map(f => org.apache.spark.sql.types.StructField(
        f.name, org.apache.spark.sql.types.StringType)) :+
      org.apache.spark.sql.types.StructField("__graft_key",
        org.apache.spark.sql.types.StringType, nullable = false))
    val rows = tuples.map { case (vals, key) =>
      Row.fromSeq(vals.map(v =>
        if (v == HiveDefaultPartition) null else v) :+ key)
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema)
    val typed = df.select(fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) :+ col("__graft_key"): _*)
    val filtered =
      try typed.filter(expr(predicate)).select("__graft_key")
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"partition predicate may reference only the partition " +
            s"column(s) ${snap.partitionCols.mkString(", ")}: " +
            e.getMessage)
      }
    filtered.collect().map(_.getString(0)).toSeq
  }

  /** Multi-column Z-ORDER compact — the real `OPTIMIZE … ZORDER BY (a, b)`
    * (the reference's table service, `docs/databricks_setup.md`): rows
    * sort by the BIT-INTERLEAVED normalized codes of the cluster columns,
    * so file (min, max) ranges are narrow on EVERY cluster column and a
    * range read on ANY of them prunes ~|files|^(1-1/k) of the layout —
    * where a lexicographic `compact(sortCols = a, b)` leaves the second
    * column's per-file range full-width (zero pruning). Columns must be
    * numeric/date/timestamp (strings have no linear code — cluster on a
    * numeric surrogate instead). Codes normalize linearly between the
    * column's global (min, max), read from MANIFEST stats when every file
    * carries them — zero data scanned — else one min/max aggregate; the
    * interleave itself is pure codegen-able column arithmetic (no UDF).
    * Bounds are a layout heuristic: skew degrades pruning, never
    * correctness (the residual predicate always applies).
    */
  def compactZOrder(targetFileBytes: Long, cols: Seq[String],
      bitsPerColumn: Int = 16,
      values: Option[Seq[String]] = None): Map[String, (Int, Int)] = {
    require(cols.size >= 2 && cols.size <= 4,
      s"compactZOrder: 2-4 cluster columns, got ${cols.size}")
    require(bitsPerColumn * cols.size <= 63,
      s"compactZOrder: ${cols.size} cols × $bitsPerColumn bits exceeds a long")
    val snap0 = snapshot()
    import org.apache.spark.sql.types._
    val numeric: Map[String, Column] = cols.map { c =>
      require(snap0.schema.fieldNames.contains(c),
        s"compactZOrder: no column '$c'")
      c -> (snap0.schema(c).dataType match {
        case DateType => datediff(col(c), to_date(lit("1970-01-01")))
          .cast("double")
        case TimestampType => unix_micros(col(c)).cast("double")
        case _: NumericType => col(c).cast("double")
        case dt => throw new IllegalArgumentException(
          s"compactZOrder: unsupported type ${dt.catalogString} for '$c'")
      })
    }.toMap
    val bounds: Map[String, (Double, Double)] = cols.map { c =>
      val phys = snap0.columnMapping.getOrElse(c, c)
      val perFile = snap0.files.map(_.stats.get(phys))
      val fromStats =
        if (perFile.nonEmpty && perFile.forall(_.isDefined))
          try Some((perFile.map(_.get._1.toDouble).min,
            perFile.map(_.get._2.toDouble).max))
          catch { case _: NumberFormatException => None }
        else None
      c -> fromStats.getOrElse {
        val r = readFiles(snap0.files, snap0.schema, snap0.columnMapping)
          .agg(min(numeric(c)), max(numeric(c))).head()
        if (r.isNullAt(0)) (0.0, 0.0) else (r.getDouble(0), r.getDouble(1))
      }
    }.toMap
    val maxCode = (1L << bitsPerColumn) - 1
    val codes: Seq[Column] = cols.map { c =>
      val (mn, mx) = bounds(c)
      if (mx <= mn) lit(0L)
      else least(lit(maxCode), greatest(lit(0L),
        floor((numeric(c) - lit(mn)) / lit(mx - mn) * lit(maxCode.toDouble))
          .cast("long")))
    }
    // interleave: bit j of code i lands at position j*k + i — a chain of
    // shift/mask/or column ops, fully inside whole-stage codegen
    var z: Column = lit(0L)
    for (j <- 0 until bitsPerColumn; i <- codes.indices) {
      val bit = shiftright(codes(i), j).bitwiseAND(lit(1L))
      z = z.bitwiseOR(shiftleft(bit, j * codes.size + i))
    }
    compact(targetFileBytes, values = values, sortCols = Seq(z),
      clusterLabel = Some(
        s"zorder(${cols.mkString(",")},bits=$bitsPerColumn)"))
  }

  /** Re-publish a historical version's file list as the new head (the
    * write side of time travel). Fails if [[vacuum]] already dropped any
    * of that version's files. The existence check races a CONCURRENT
    * vacuum (old-version-referenced files have no age grace) — schedule
    * restore and vacuum in the same maintenance window, never overlapped,
    * as with Delta's RESTORE + VACUUM retention interplay. Restoring to
    * a pre-evolution / pre-rename version also restores THAT version's
    * schema and column mapping.
    */
  def restore(version: Long): Long = retryCommit("restore") { snap =>
    val old = manifest(version)
    old.files.foreach(f => require(GFiles.exists(dataPath(f)),
      s"restore($version): data file ${f.path} was vacuumed"))
    mkManifest(snap, "restore", old.files, rowsInserted = 0, rowsUpdated = 0,
      rowsDeleted = 0, rowsTotal = old.rowsTotal, changesDir = None,
      schema = old.schema, columnMapping = old.columnMapping,
      partitionCols = old.partitionCols, retiredPhysical = old.retiredPhysical,
      // constraints travel with the schema they reference (a head-side
      // constraint may name a column the restored schema lacks), and the
      // restored version's clustered marker is exactly as valid as its
      // files are
      constraints = old.constraints, clusteredBy = old.clusteredBy)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE src [VERSION AS
    * OF v]`): a NEW table at `targetDir` whose v0 manifest references
    * this table's (optionally pinned) data files BY ABSOLUTE PATH — zero
    * bytes copied, so cloning a 100 TB table is one manifest write. The
    * clone is fully independent from then on: its writes produce its own
    * local files, a merge/compact/delete drops foreign references
    * without ever touching the source's bytes, and its vacuum only
    * sweeps its own `data/` dir (foreign absolute paths are invisible to
    * the sweep by construction). Schema, column mapping, constraints,
    * clustering marker, and txn watermarks carry over; history starts
    * fresh at the clone's v0.
    *
    * Caveat (same as Delta's): the SOURCE's vacuum does not know about
    * clones — retention-vacuuming the source can delete files a clone
    * still references. Keep clones inside the source's retention window
    * or compact the clone (which localizes the data) before deep
    * retention passes.
    */
  def shallowCloneTo(targetDir: String,
      version: Option[Long] = None): CommitLogTable = {
    val m = manifest(version.getOrElse(latestVersion))
    requireFilesPresent(m, s"shallowCloneTo($targetDir)")
    require(!CommitLogTable.exists(targetDir),
      s"shallowCloneTo: a table already exists at $targetDir")
    val tgtLog = GPath(targetDir, LogDirName)
    GFiles.createDirectories(tgtLog.resolve("changes"))
    GFiles.createDirectories(tgtLog.resolve("staged_changes"))
    val t = new CommitLogTable(spark, targetDir)
    val absolute = m.files.map { f =>
      // an adopted DV with table-relative (u) storage re-scopes to the
      // SOURCE's absolute .bin — the protocol's own shallow-clone shape
      // (p storage), which the read path accepts for reachable local
      // paths; inline (i) descriptors need no re-scoping
      val dv2 = f.adoptedDv.map { enc =>
        val d = DeletionVectors.decodeDescriptor(enc)
        if (d.storageType != "u") enc
        else DeletionVectors.encodeDescriptor(d.copy(storageType = "p",
          pathOrInlineDv = DeletionVectors
            .uStoragePath(dir, d.pathOrInlineDv)
            .toAbsoluteNormalized.raw))
      }
      f.copy(path =
        if (GPath.isAbsolute(f.path)) f.path // cloning a clone: already absolute
        else GPath(dir, f.path).toAbsoluteNormalized.raw,
        adoptedDv = dv2)
    }
    val v0 = Manifest(0L, "clone", System.currentTimeMillis(), m.schema,
      m.partitionCols, absolute, 0, 0, 0, m.rowsTotal, None, m.clusteredBy,
      m.columnMapping, m.retiredPhysical, m.txns, m.constraints,
      m.properties)
    require(t.tryPublish(v0), s"shallowCloneTo: lost the v0 race at $targetDir")
    t
  }

  /** Drop data files referenced ONLY by versions older than the last
    * `retainVersions` — after this, time travel reaches back exactly
    * `retainVersions` versions. Change files and manifests are kept (they
    * are the audit trail; size is commit-proportional, not
    * corpus-proportional). Returns deleted-file count. Also sweeps
    * manifest-unreferenced files and stale staged-change dirs, but only
    * past `orphanGraceMillis` — a concurrent IN-FLIGHT commit's output is
    * also unreferenced until its manifest lands, and the age gate is what
    * keeps vacuum from corrupting it (see [[CommitLogTable.vacuumPath]]).
    * The grace MUST exceed the longest possible commit duration; the
    * default is 24 h (Delta's VACUUM retention floor is 7 DAYS for the
    * same reason — tighten only when no long commit can be in flight).
    */
  def vacuum(retainVersions: Int = 2,
      orphanGraceMillis: Long = DefaultOrphanGraceMillis): Int =
    CommitLogTable.vacuumPath(dir, retainVersions, orphanGraceMillis)

  /** Drop LOG SEGMENTS (manifests + their change dirs) superseded by a
    * later checkpoint, keeping at least the last `retainVersions`
    * versions readable — Delta's `logRetentionDuration` cleanup,
    * version-counted. See [[CommitLogTable.vacuumLogPath]].
    */
  def vacuumLog(retainVersions: Int): Int =
    CommitLogTable.vacuumLogPath(dir, retainVersions)

  // ------------------------------------------------------------ internals

  private def listVersions: Seq[Long] = CommitLogTable.listVersionsAt(dir)

  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[Long, Manifest]

  /** Cached diff-resolving snapshot lookup: walk back from `version`
    * until a cached resolved manifest OR an on-disk full (checkpoint)
    * manifest, then replay diffs forward, caching every intermediate.
    * Sequential access (history, change replay, the steady-state
    * commit loop) therefore pays ONE raw read per version; a cold random
    * version pays at most [[CommitLogTable.CheckpointInterval]] reads.
    * Manifests are immutable once published, so the cache never
    * invalidates.
    */
  private def manifest(version: Long): Manifest =
    manifestCache.get(version).getOrElse {
      var chain = List.empty[RawDiff]
      var v = version
      var base: Manifest = null
      while (base == null) {
        manifestCache.get(v) match {
          case Some(m) => base = m
          case None => CommitLogTable.readRaw(dir, v) match {
            case RawFull(m) =>
              manifestCache.putIfAbsent(v, m)
              base = m
            case d: RawDiff => chain ::= d; v -= 1
          }
        }
      }
      chain.foldLeft(base) { (p, d) =>
        val m = CommitLogTable.applyDiff(p, d)
        manifestCache.putIfAbsent(m.version, m)
        m
      }
    }

  private def snapshot(): Manifest = manifest(latestVersion)

  /** Resolved snapshot manifest for external (package-internal) readers —
    * the DSv2 connector plans its scan from this.
    */
  private[graft] def resolvedManifest(version: Option[Long] = None): Manifest =
    manifest(version.getOrElse(latestVersion))

  /** `(action, files ADDED at version)` — the admission unit of the
    * streaming DATA source ([[graft.sources.CommitLogStreamSource]]).
    * O(raw diff bytes) when the commit serialized as a diff (the common
    * case under the checkpointed log); a checkpoint commit pays one
    * cached parent resolve plus a set difference. Same-path
    * remove+add pairs (in-place lazy-delete marks) are NOT adds.
    */
  /** One version's file diff in the log's remove+add convention (a
    * same-path entry whose LogFile changed appears in BOTH sets — the
    * consumer must apply removes before adds): (action, added files,
    * removed paths). What the Delta mirror translates to actions.
    */
  private[graft] def versionFileDiff(version: Long)
      : (String, Seq[LogFile], Set[String]) =
    CommitLogTable.readRaw(dir, version) match {
      case d: RawDiff => (d.meta.action, d.added, d.removed)
      case RawFull(m) =>
        if (version == 0) (m.action, m.files, Set.empty)
        else {
          val prev = manifest(version - 1).files
          val prevByPath = prev.map(f => f.path -> f).toMap
          val curByPath = m.files.map(f => f.path -> f).toMap
          val added = m.files.filterNot(f => prevByPath.get(f.path).contains(f))
          val removed = prev
            .filterNot(f => curByPath.get(f.path).contains(f)).map(_.path).toSet
          (m.action, added, removed)
        }
    }

  private[graft] def versionAdds(version: Long): (String, Seq[LogFile]) =
    CommitLogTable.readRaw(dir, version) match {
      case d: RawDiff =>
        (d.meta.action, d.added.filterNot(f => d.removed.contains(f.path)))
      case RawFull(m) =>
        if (version == 0) (m.action, m.files)
        else {
          val prev = manifest(version - 1).files.map(_.path).toSet
          (m.action, m.files.filterNot(f => prev.contains(f.path)))
        }
    }

  /** Explicit-file read under a CALLER-pinned logical schema + column
    * mapping (package-internal): the streaming data source reads every
    * batch under the schema it declared at stream start, so a mid-stream
    * rename or added column never shifts the frames it emits.
    */
  private[graft] def readFilesAs(files: Seq[LogFile], schema: StructType,
      mapping: Map[String, String]): DataFrame =
    readFiles(files, schema, mapping)

  /** Resolve a manifest file entry to a filesystem path: entries are
    * table-relative except SHALLOW-CLONE references, which are absolute
    * (they live under the source table's root).
    */
  private[graft] def dataPath(f: LogFile): GPath =
    if (GPath.isAbsolute(f.path)) GPath(f.path) else GPath(dir, f.path)

  /** Fail-fast existence check for PINNED reads: a version past the
    * vacuum retention window raises a clear, immediate error instead of
    * a mid-scan task failure. Latest-version reads never need it (the
    * head's files are always retained).
    */
  private[graft] def requireFilesPresent(m: Manifest, what: String): Unit = {
    val missing = m.files.filterNot(f => GFiles.exists(dataPath(f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"$what at $dir: version ${m.version} is no longer readable — " +
        s"${missing.size} of ${m.files.size} data file(s) were vacuumed " +
        s"(first: ${missing.head.path}); raise vacuum retainVersions to " +
        "keep time travel this deep")
  }

  private def schemaSig(s: StructType): Seq[(String, String)] =
    s.fields.map(f => (f.name, f.dataType.catalogString)).toSeq

  private def requireSchema(df: DataFrame, snap: Manifest): Unit =
    // names AND types (nullability excepted — catalogString is
    // nullability-insensitive at every nesting level, and the stored
    // schema round-trips through DDL which drops nested containsNull): a
    // name-only check would let a type-drifted batch commit files the
    // manifest schema can't read — the commit succeeds but every later
    // scan throws
    require(schemaSig(df.schema) == schemaSig(snap.schema),
      s"schema mismatch: table has ${snap.schema.toDDL}, " +
        s"got ${df.schema.toDDL} (pass mergeSchema=true to evolve)")

  /** GENERATED ALWAYS AS columns (Delta's generated columns, stored as
    * `graft.generated.<col>` table properties — see
    * [[CommitLogTable.GeneratedPropPrefix]]): a batch that OMITS the
    * column gets it computed from the expression; a batch that PROVIDES
    * it gets a row-level assertion wired into the same write pass
    * (Delta's rule — explicit values must equal the generation
    * expression; a mismatch fails the write loudly, single-pass, no
    * extra scan). [[alignToSchemaOrder]] restores table column order
    * after the fills so the schema-signature check sees the canonical
    * shape; mergeSchema extras keep trailing.
    */
  private def applyGenerated(df: DataFrame, snap: Manifest): DataFrame = {
    val gens = CommitLogTable.generatedExprs(snap.properties)
    if (gens.isEmpty) return df
    var out = df
    gens.foreach { case (c, sql) =>
      val dt = snap.schema.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType).getOrElse(throw new IllegalStateException(
          s"generated column '$c' is not in the table schema"))
      val gen = expr(sql).cast(dt)
      out =
        if (!out.columns.exists(_.equalsIgnoreCase(c)))
          out.withColumn(c, gen)
        else out.withColumn(c,
          when(col(c) <=> gen, col(c)).otherwise(raise_error(concat(
            lit(s"GENERATED ALWAYS AS violation on '$c': explicit value "),
            coalesce(col(c).cast("string"), lit("NULL")),
            lit(s" != generation expression ($sql)")))).cast(dt))
    }
    out
  }

  private def alignToSchemaOrder(df: DataFrame, snap: Manifest): DataFrame = {
    val tableOrder = snap.schema.fieldNames.filter(n =>
      df.columns.exists(_.equalsIgnoreCase(n))).toSeq
    val extras = df.columns.toSeq.filterNot(n =>
      tableOrder.exists(_.equalsIgnoreCase(n)))
    val want = tableOrder ++ extras
    if (want == df.columns.toSeq) df else df.select(want.map(col): _*)
  }

  /** Unconditional recompute of generated columns — UPDATE's rule: a
    * SET on a base column re-derives every generated column (Delta does
    * the same), and SETting a generated column directly refuses.
    */
  private def recomputeGenerated(df: DataFrame, snap: Manifest): DataFrame =
    CommitLogTable.generatedExprs(snap.properties).foldLeft(df) {
      case (d, (c, sql)) =>
        val dt = snap.schema(c).dataType
        d.withColumn(c, expr(sql).cast(dt))
    }

  /** IDENTITY assignment for a batch ([[CommitLogTable.IdentityPropPrefix]]):
    * an omitted identity column gets `base + step * mid` where `mid` is
    * `monotonically_increasing_id()` — one pass, no count job, unique
    * per batch, gaps permitted (identity semantics). A provided column
    * requires `BY DEFAULT` (GENERATED ALWAYS refuses). With
    * `fill = false` (merge paths — latest-wins replaces whole rows, so
    * a fill would RE-key existing rows) an omitted identity column
    * refuses instead. High-water sync happens post-write
    * ([[identitySyncProps]]) in the same commit.
    */
  private def applyIdentity(df0: DataFrame, snap: Manifest,
      fill: Boolean): DataFrame = {
    val ids = CommitLogTable.identitySpecs(snap.properties)
    if (ids.isEmpty) return df0
    var out = df0
    ids.foreach { case CommitLogTable.IdentitySpec(c, start, step, allow) =>
      if (out.columns.exists(_.equalsIgnoreCase(c))) {
        require(allow,
          s"identity column '$c' is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values refuse (declare it GENERATED BY DEFAULT " +
            "to allow them)")
      } else {
        require(fill,
          s"this write path cannot assign identity column '$c' " +
            "(latest-wins merge replaces whole rows — a fresh id would " +
            "re-key existing rows); provide the column in the source")
        val dt = snap.schema.fields.find(_.name.equalsIgnoreCase(c))
          .map(_.dataType).getOrElse(throw new IllegalStateException(
            s"identity column '$c' is not in the table schema"))
        val hw = snap.properties
          .get(CommitLogTable.IdentityPropPrefix + c + ".highWater")
          .map(_.toLong)
        val base = hw.map(_ + step).getOrElse(start)
        out = out.withColumn(c,
          (lit(base) + lit(step) * monotonically_increasing_id()).cast(dt))
      }
    }
    out
  }

  /** Post-write identity high-water sync: the furthest value (by step
    * sign) among the commit's NEW files, from their footer stats — zero
    * extra passes; a stat-less file (wide table past the stats-column
    * cap) falls back to one column-pruned max/min scan of just those
    * files. Returns the full property map for the commit's manifest, or
    * None when nothing advanced.
    */
  private def identitySyncProps(snap: Manifest,
      mapping: Map[String, String],
      newFiles: Seq[LogFile]): Option[Map[String, String]] = {
    val ids = CommitLogTable.identitySpecs(snap.properties)
    if (ids.isEmpty || newFiles.isEmpty) return None
    var delta = Map.empty[String, String]
    ids.foreach { case CommitLogTable.IdentitySpec(c, _, step, _) =>
      val phys = mapping.getOrElse(c, c)
      val dataFiles = newFiles.filter(_.rows > 0)
      val fromStats: Seq[Long] = dataFiles.flatMap(_.stats.get(phys))
        .map(b => (if (step > 0) b._2 else b._1).toLong)
      val furthest: Option[Long] =
        if (dataFiles.isEmpty) None
        else if (fromStats.size == dataFiles.size)
          Some(if (step > 0) fromStats.max else fromStats.min)
        else {
          val agg = if (step > 0) max(col(c)) else min(col(c))
          Option(readFiles(dataFiles, snap.schema, mapping)
            .agg(agg.cast("long")).head().get(0)).map(_.asInstanceOf[Long])
        }
      val key = CommitLogTable.IdentityPropPrefix + c + ".highWater"
      val cur = snap.properties.get(key).map(_.toLong)
      furthest.foreach { f =>
        val better = cur.forall(h => if (step > 0) f > h else f < h)
        if (better) delta += key -> f.toString
      }
    }
    if (delta.isEmpty) None else Some(snap.properties ++ delta)
  }

  /** Resolve the WRITE schema of a batch: strict signature equality by
    * default; with `mergeSchema` the batch may ADD columns (appended to
    * the table schema, each assigned an immutable physical name that
    * dodges collisions with names freed by earlier renames) and may OMIT
    * existing columns (null-filled). Type changes never pass. Returns
    * (evolved schema, evolved mapping, batch aligned to the schema's
    * column order).
    */
  private def resolveSchema(df0: DataFrame, snap: Manifest,
      mergeSchema: Boolean,
      identityFill: Boolean = true): (StructType, Map[String, String], DataFrame) = {
    // generated/identity columns fill/validate FIRST — a batch
    // legitimately omits them, and the signature check below must see
    // them present
    val df = alignToSchemaOrder(
      applyIdentity(applyGenerated(df0, snap), snap, identityFill), snap)
    if (!mergeSchema) { requireSchema(df, snap); (snap.schema, snap.columnMapping, df) }
    else {
      val existing = snap.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
      df.schema.fields.filter(f => existing.contains(f.name)).foreach { f =>
        require(existing(f.name) == f.dataType.catalogString,
          s"mergeSchema cannot change the type of '${f.name}': table has " +
            s"${existing(f.name)}, batch has ${f.dataType.catalogString}")
      }
      // an ADDED column is always nullable regardless of the batch's
      // field (Delta does the same): every pre-evolution row has no
      // value for it, and a required-but-missing column is a read error
      // in Spark's vectorized parquet reader
      val newFields = df.schema.fields.filterNot(f => existing.contains(f.name))
        .map(_.copy(nullable = true)).toSeq
      val schema2 = StructType(snap.schema.fields ++ newFields)
      val mapping2 = snap.columnMapping ++ assignPhysical(snap, newFields)
      val aligned = df.select(schema2.fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
      (schema2, mapping2, aligned)
    }
  }

  /** Physical-name assignment for NEW logical columns: a column renamed
    * AWAY from 'x' keeps physical 'x' forever, and a DROPPED column's
    * physical name is retired — a later evolution adding a new 'x' must
    * take a fresh physical name or old files would leak stale values
    * into it.
    */
  private def assignPhysical(snap: Manifest,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Map[String, String] = {
    val taken = scala.collection.mutable.Set(
      (snap.schema.fieldNames.map(n => snap.columnMapping.getOrElse(n, n)) ++
        snap.retiredPhysical).toSeq: _*)
    newFields.flatMap { f =>
      var cand = f.name
      var i = 0
      while (taken(cand)) { i += 1; cand = s"${f.name}_$i" }
      taken += cand
      if (cand == f.name) None else Some(f.name -> cand)
    }.toMap
  }

  /** Metadata-only ADD COLUMN (`ALTER TABLE … ADD COLUMNS`): the widened
    * schema lands in one manifest commit; existing files null-backfill at
    * scan — the standalone half of the evolution `mergeSchema` appends
    * perform, with the same retired-name-dodging physical assignment.
    */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField]): Long =
    retryCommit("evolve") { snap =>
      require(fields.nonEmpty, "addColumns: no columns")
      fields.foreach(f => require(!snap.schema.fieldNames.contains(f.name),
        s"addColumns: column '${f.name}' already exists"))
      mkManifest(snap, "evolve", snap.files, rowsInserted = 0,
        rowsUpdated = 0, rowsDeleted = 0, rowsTotal = snap.rowsTotal,
        changesDir = None,
        // added columns are always nullable: pre-existing rows null-fill
        schema = StructType(snap.schema.fields ++
          fields.map(_.copy(nullable = true))),
        columnMapping = snap.columnMapping ++ assignPhysical(snap, fields),
        clusteredBy = snap.clusteredBy)
    }

  private def zeroIfNull(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

  /** Rename a logical-named frame to physical column names for writing
    * (single atomic select — sequential withColumnRenamed could collide
    * when a freed logical name is another column's physical name).
    * Columns outside the mapping (CDF meta columns) pass through.
    */
  private def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(mapping.getOrElse(c, c))).toSeq: _*)

  private def toPhysicalSchema(schema: StructType,
      mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Explicit-file read: the manifest IS the scan's file index
    * ([[ManifestFileIndex]]) — each entry becomes a file status from its
    * path and recorded bytes, so planning lists nothing, infers no
    * partitions or schema, and launches no job however many files the
    * read spans. Filters pushed to the scan prune files on the
    * manifest's per-file min/max stats; Spark still applies them row by
    * row, so pruning only narrows the scan. Files are read under
    * PHYSICAL column names and surfaced under the manifest's logical
    * names; files older than a schema evolution lack the newer physical
    * columns and null-backfill them at scan (the parquet missing-column
    * contract — what lets evolution skip the 100 TB rewrite).
    */
  private def readFiles(files: Seq[LogFile], schema: StructType,
      mapping: Map[String, String], applyMarks: Boolean = true): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else {
      // files group by their pending-delete predicate (merge-on-read:
      // SQL DELETE semantics — only TRUE-matching rows are hidden, so a
      // NULL-evaluating row survives, mirroring the eager delete()).
      // Almost always one or two groups: clean files plus at most a few
      // distinct outstanding predicates between rewrites. Files carrying
      // an ADOPTED deletion vector additionally filter their bitmap's
      // row indexes out inside the scan. `applyMarks = false` reads the
      // raw physical rows — the materialization path uses it to produce
      // the CDF delete images of the very rows the marks hide.
      val groups = files
        .groupBy(f => (f.pendingDelete, f.adoptedDv.isDefined)).toSeq
        .sortBy { case ((pd, dv), _) => (pd.getOrElse(""), dv) }
      groups.map { case ((pd, hasDv), fs) =>
        val base = scanWithManifestVals(fs, schema, mapping,
          dvFiles = if (hasDv && applyMarks) fs else Seq.empty)
        pd.filter(_ => applyMarks)
          .map(p => base.filter(!coalesce(expr(p), lit(false))))
          .getOrElse(base)
      }.reduce(_.unionByName(_))
    }

  /** One scan over `fs` surfacing logical names. Columns a file does
    * not physically carry (adopted Hive/Delta layouts —
    * [[CommitLogTable.LogFile.manifestVals]]) attach from the manifest
    * as the scan's per-file constants ([[ManifestFileIndex]] partition
    * values, `__graft_mv_<col>`, NULL for files that carry the column):
    * the flagged file's physical read of such a column is all-NULL (the
    * parquet missing-column contract), so `coalesce(data, constant)` is
    * exact — unflagged files keep their physical values, a flagged
    * file's genuine NULL value stays NULL on both sides. Filters over an
    * attached column can no longer push to the parquet reader, which is
    * precisely correct: at the parquet level the column does not exist,
    * and file-level pruning on the manifest already did the
    * partition-grain work.
    */
  private def scanWithManifestVals(fs: Seq[LogFile], schema: StructType,
      mapping: Map[String, String],
      dvFiles: Seq[LogFile] = Seq.empty,
      dvKeepDeleted: Boolean = false): DataFrame = {
    val attachCols = schema.fields.map(_.name)
      .filter(n => fs.exists(_.manifestVals.contains(n))).toSeq
    // attached columns are ABSENT from adopted files' parquet schemas;
    // the scan reads every column nullable, so the parquet reader never
    // refuses such a file over a NOT NULL declaration
    val hconf = spark.sessionState.newHadoopConf()
    val physRead0 = ManifestFileIndex.scan(spark, fs, dataPath,
      toPhysicalSchema(schema, mapping), hconf,
      StructType(attachCols.map(c => org.apache.spark.sql.types.StructField(
        s"__graft_mv_$c", org.apache.spark.sql.types.StringType))),
      f => InternalRow.fromSeq(attachCols.map(c => f.manifestVals.get(c) match {
        case Some(v) if v != CommitLogTable.HivePartitionNull =>
          org.apache.spark.unsafe.types.UTF8String.fromString(v)
        case _ => null
      })))
    // adopted deletion vectors filter positionally: resolve each file's
    // bitmap once on the driver (O(marked files), the same scope
    // Delta's snapshot holds), broadcast serialized, probe
    // (file_path, row_index) per row — `dvKeepDeleted` inverts the
    // polarity for the materializing rewrite's CDF delete images
    val physRead =
      if (dvFiles.isEmpty) physRead0
      else {
        val dvMap: Map[String, Array[Byte]] = dvFiles.flatMap(f =>
          f.adoptedDv.map { enc =>
            CommitLogTable.fileMetaPathKey(dataPath(f).toString, hconf) ->
              DeletionVectors.resolveData(dir,
                DeletionVectors.decodeDescriptor(enc))
          }).toMap
        val lookup = new DvLookup(spark.sparkContext.broadcast(dvMap))
        val hit = udf((fp: String, ri: Long) => lookup.deleted(fp, ri))
          .apply(col("_metadata.file_path"), col("_metadata.row_index"))
        physRead0.where(if (dvKeepDeleted) hit else !hit)
      }
    physRead.select(schema.fields.toSeq.map { f =>
      val data = col(mapping.getOrElse(f.name, f.name))
      if (attachCols.contains(f.name))
        coalesce(data, col(s"__graft_mv_${f.name}").cast(f.dataType))
          .as(f.name)
      else data.as(f.name)
    }: _*)
  }

  /** Serialized 64-bit-roaring deletion bitmap (+ cardinality) for one
    * file's outstanding lazy-delete mark: the file-ordinal row indexes
    * (what `_metadata.row_index` surfaces) of rows the predicate
    * matches TRUE — exactly the rows [[readFiles]] hides (NULL
    * evaluations survive, SQL DELETE semantics). The Delta mirror
    * materializes this into a protocol deletion vector
    * ([[DeltaLogBridge]]). Driver state is one file's deleted indexes —
    * the same per-file scope Delta's own DV writer holds.
    */
  private[tables] def pendingDeleteBitmap(snap: Manifest,
      f: LogFile): (Array[Byte], Long) = {
    val pred = f.pendingDelete.getOrElse(throw new IllegalStateException(
      s"${f.path} carries no lazy-delete mark"))
    // a file that ALSO carries an adopted DV unions it in: the protocol
    // descriptor the mirror emits must cover every physically-deleted
    // row, and predicate matches already hidden by the DV must not
    // double-count the cardinality
    val adopted: Option[DeletionVectors.Resolved] = f.adoptedDv.map(enc =>
      DeletionVectors.resolve(dir, DeletionVectors.decodeDescriptor(enc)))
    // manifest-valued columns read nullable — the parquet refuses a
    // required column absent from the file (see scanWithManifestVals)
    val dvReadSchema = StructType(snap.schema.fields.map(fl =>
      if (f.manifestVals.contains(fl.name)) fl.copy(nullable = true)
      else fl))
    val base = spark.read
      .schema(toPhysicalSchema(dvReadSchema, snap.columnMapping))
      .parquet(dataPath(f).toString)
    val logical = base.select(
      (col("_metadata.row_index").as("__graft_ri") +:
        snap.schema.fields.toSeq.map { fl =>
          val data = col(snap.columnMapping.getOrElse(fl.name, fl.name))
          // a manifest-valued column (adopted file) reads all-NULL from
          // the parquet — substitute the file's single value so a mark
          // predicate over a partition column evaluates correctly
          f.manifestVals.get(fl.name) match {
            case Some(v) if v != CommitLogTable.HivePartitionNull =>
              lit(v).cast(fl.dataType).as(fl.name)
            case Some(_) => lit(null).cast(fl.dataType).as(fl.name)
            case None => data.as(fl.name)
          }
        }): _*)
    val ris = logical.where(coalesce(expr(pred), lit(false)))
      .select(col("__graft_ri")).collect().map(_.getLong(0))
      .filter(ri => !adopted.exists(_.contains(ri)))
    val card = ris.length.toLong +
      adopted.map(_.cardinality).getOrElse(0L)
    (DeletionVectors.serializeBitmap(
      adopted.map(_.rowIndexes).getOrElse(Iterator.empty) ++ ris.iterator),
      card)
  }

  /** Write `df` (logical column names) as this commit's immutable data
    * files under PHYSICAL names; returns (file entries with footer row
    * counts, total rows). Partitioned tables co-locate each partition
    * before the write and lay files out Hive-style via a SHADOW of the
    * partition column (`__part=value/`), so the real column survives IN
    * the data files — explicit-file reads then need no path-based
    * partition reconstruction, which cannot span multiple commit roots.
    */
  private def writeData(df: DataFrame, partitionCols: Seq[String],
      mapping: Map[String, String],
      preClustered: Boolean = false,
      keepOrder: Seq[Column] = Seq.empty): (Seq[LogFile], Long, String) = {
    val sub = s"$DataDirName/c-${UUID.randomUUID().toString.take(12)}"
    val abs = s"$dir/$sub"
    val physDf = toPhysical(df, mapping)
    if (partitionCols.nonEmpty) {
      // preClustered: the caller already co-located (and possibly
      // sorted) the rows — compact's per-partition rewrites — and a
      // repartition here would both redistribute and UNSORT them.
      // One shadow column per partition column, written in partition
      // order so the directory nesting is positionally decodable.
      val shadows = partitionCols.zipWithIndex.map { case (p, i) =>
        val physP = mapping.getOrElse(p, p)
        (shadowColName(i), col(physP).cast("string"))
      }
      val shadowed = shadows.foldLeft(physDf) { case (d, (n, c)) =>
        d.withColumn(n, c) }
      val arranged =
        if (preClustered)
          // the dynamic-partition writer REQUIRES rows ordered by the
          // partition expressions and inserts its own (unstable) sort
          // when the plan doesn't provide it — which would scramble a
          // clustered rewrite's row order INSIDE each file. Sorting here
          // by (shadow cols, caller's cluster order) satisfies the
          // writer's requirement (prefix), so no extra sort is planned
          // and the within-file clustering survives the write.
          shadowed.sortWithinPartitions(
            shadows.map(s => col(s._1)) ++ keepOrder: _*)
        else shadowed.repartition(shadows.map(s => col(s._1)): _*)
      arranged.write.partitionBy(shadows.map(_._1): _*).parquet(abs)
    } else physDf.write.parquet(abs)
    // zero-row part files (an empty write task, a delete that emptied its
    // slice) never enter the manifest: they carry no stats, so every
    // later stats-pruned op would conservatively rewrite them forever —
    // pure dead weight. Dropped from disk immediately (nothing can
    // reference them).
    val (files, empties) = enumerate(GPath(abs), sub).partition(_.rows > 0)
    empties.foreach(f => GFiles.deleteIfExists(GPath(dir, f.path)))
    (files, files.map(_.rows).sum, sub)
  }

  /** Persist a commit's change rows (under physical column names, so
    * change files survive later renames), tagged with the version the
    * commit is ABOUT to claim — a lost race either rebases (the restamp
    * rewrites the tag, [[rebased]]) or recomputes `body` against the
    * fresh snapshot after deleting this attempt's output.
    *
    * Written to a STAGING dir outside `changes/` and atomically renamed
    * in only after the manifest publish wins ([[tryPublish]]): the
    * streaming CDF reader globs the changes dir directly, so an in-flight or
    * losing commit's change files must never be visible there — under
    * write-then-publish they briefly were. Returns the FINAL sub-path
    * the manifest records.
    */
  private def writeChanges(changes: DataFrame, version: Long,
      mapping: Map[String, String]): String = {
    val name = s"c-${UUID.randomUUID().toString.take(12)}"
    toPhysical(changes.withColumn("_commit_version", lit(version)), mapping)
      .write.parquet(s"$dir/$StagedChangesDirName/$name")
    s"$ChangesDirName/$name"
  }

  /** Promote a committed manifest's staged change dir into `changes/`
    * (atomic directory rename). Runs at publish; also invoked lazily by
    * readers as crash repair — a crash between manifest publish and
    * promotion leaves the staged dir complete on disk, so the move is
    * merely deferred. Idempotent and race-safe: a concurrent promote
    * loses the rename and finds the target already present.
    */
  private def promoteChanges(finalSub: String): Unit = {
    val staged = GPath(dir, StagedChangesDirName,
      GPath(finalSub).getFileName.toString)
    val target = GPath(dir, finalSub)
    if (!GFiles.exists(target) && GFiles.isDirectory(staged)) {
      GFiles.createDirectories(target.getParent)
      try GFiles.moveNoReplace(staged, target)
      catch { case _: FileAlreadyExistsException |
                   _: java.nio.file.NoSuchFileException => () }
    }
  }

  /** Adoption commit behind [[CommitLogTable.convert]]: walk the table
    * root for pre-existing parquet (skipping `_`/`.` dirs — the log
    * itself, markers), parse Hive `col=value` segments by NAME against
    * the declared partition columns, footer-read stats, and publish ONE
    * `convert` manifest. Deliberately NOT a retryCommit: the adopted
    * files are not this attempt's output, and a lost-race cleanup must
    * never be able to delete them — on the (fresh-table) race the
    * publish just fails loudly.
    */
  private[tables] def adoptExisting(partitionCols: Seq[String],
      probes: Seq[(GPath, Long, Long, Map[String, (String, String)], Set[String])])
      : Unit = {
    val root = GPath(dir)
    val schema0 = snapshot().schema
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    // footer facts arrived pre-probed from the adoption Spark job —
    // what remains is pure driver-side string work over the listing
    val files = probes.map { case (p, rows, bytes, stats, fields) =>
      val rel = root.relativize(p)
      val kv = rel.split('/').toSeq.init
        .filter(_.contains("=")).map { seg =>
          val i = seg.indexOf('=')
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.take(i)) ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(i + 1))
        }.toMap
      // EVERY directory-encoded column must be declared — an undeclared
      // `hour=` segment would silently vanish from the adopted table,
      // the same narrowing the unpartitioned refusal below guards
      val undeclared = kv.keySet -- partitionCols
      require(undeclared.isEmpty,
        s"convert: $rel is directory-partitioned by " +
          s"${undeclared.mkString(",")} — adopting would silently drop " +
          "the directory-encoded column(s); declare them in partitionCols")
      val partitionVals = partitionCols.map(c => kv.getOrElse(c, throw
        new IllegalArgumentException(
          s"convert: $rel carries no '$c=' directory segment — every " +
            "file of a partitioned conversion must sit in the Hive " +
            s"layout naming ${partitionCols.mkString(", ")}")))
      // partition columns this file does NOT physically carry (a
      // partitionBy layout strips them): serve from the manifest, plus
      // a synthetic min=max stat so pruning / metadata aggregates /
      // DPP treat the column exactly like a physically-carried one
      val absent = partitionCols.filterNot(fields.contains)
      val manifestVals = absent.map(c => c -> kv(c)).toMap
      val synthetic = absent.flatMap { c =>
        val dt = schema0.fields.find(_.name == c).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)
        // validate NOW that the value casts to the column's type — a
        // refusal at adoption beats a scan-time manifest-corruption error
        CommitLogTable.internalManifestValue(kv(c), dt, zone)
        CommitLogTable.statEncodedValue(kv(c), dt, zone)
          .map(enc => c -> (enc, enc))
      }.toMap
      LogFile(rel.toString, partitionVals, rows, bytes, stats ++ synthetic,
        manifestVals = manifestVals)
    }.filter(_.rows > 0) // zero-row debris is never referenced (nor deleted)
    adoptPrepared(files, Map.empty)
  }

  /** Publish the single `convert` manifest over pre-built file entries
    * (the directory-walk path above, or the Delta-log-driven
    * [[CommitLogTable.convertFromDelta]]). Deliberately NOT a
    * retryCommit — see [[adoptExisting]]'s contract.
    */
  private[tables] def adoptPrepared(files: Seq[LogFile],
      mapping: Map[String, String]): Unit = {
    val snap = snapshot()
    require(snap.version == 0 && snap.files.isEmpty,
      s"convert: table at $dir already has commits")
    val total = files.map(_.rows).sum
    val m = mkManifest(snap, "convert", files, rowsInserted = total,
      rowsUpdated = 0, rowsDeleted = 0, rowsTotal = total, changesDir = None,
      columnMapping = if (mapping.isEmpty) null else mapping)
    require(tryPublish(m), s"convert: lost the adoption race at $dir")
  }

  private def enumerate(root: GPath, sub: String): Seq[LogFile] = {
    val paths = GFiles.walkFiles(root).filter { p =>
      val n = p.fileName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // footer reads are independent driver-side I/O — fan them out (a
    // partitioned commit writes one file per partition; reading hundreds
    // of footers serially would dominate small-batch commit latency)
    inParallel(paths) { p =>
      val rel = s"$sub/${root.relativize(p)}"
      // one value per `k=v` directory segment, in path (= partitionBy)
      // order — positionally aligned with the manifest's partitionCols
      val partitionVals = root.relativize(p).split('/').toSeq.init
        .filter(_.contains("=")).map { seg =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(seg.indexOf('=') + 1))
        }
      val (rows, stats, _) = footerInfo(p)
      LogFile(rel, partitionVals, rows, GFiles.size(p), stats)
    }
  }

  /** The DML write pair — snapshot rewrite + staged change set — run
    * concurrently: they are independent consumers of one persisted frame
    * (guide §2.6), so the commit pays one write wall-time, not two. Both
    * sides run to COMPLETION (Try-lifted) before either result is
    * inspected; if one failed, the survivor's staged output is
    * best-effort deleted before rethrowing, so a failed commit leaves no
    * orphan data/ or staged-changes/ directories behind. Without a
    * change set the data write runs alone.
    */
  private def writeDataAndChanges(data: () => (Seq[LogFile], Long, String),
      changes: Option[() => String])
      : ((Seq[LogFile], Long, String), Option[String]) = {
    if (changes.isEmpty) return (data(), None)
    val (dRes, cRes) = ForkJoin.pair(data, changes.get)
    ForkJoin.firstFailure(Seq(dRes, cRes)).foreach { e =>
      dRes.foreach { case (_, _, sub) =>
        try deleteRecursively(GPath(dir, sub))
        catch { case _: Exception => () }
      }
      cRes.foreach { finalSub =>
        try deleteRecursively(GPath(dir, StagedChangesDirName,
          GPath(finalSub).getFileName.toString))
        catch { case _: Exception => () }
      }
      throw e
    }
    (dRes.get, cRes.toOption)
  }

  /** Run `f` over `items` on at most 16 fresh threads ([[ForkJoin]]),
    * each taking the next unclaimed item, preserving order. Used for
    * driver-side metadata I/O and for launching independent
    * per-partition Spark jobs concurrently.
    */
  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val in = items.toIndexedSeq
      val out = new Array[Any](in.size)
      val next = new java.util.concurrent.atomic.AtomicInteger
      val worker = () => {
        var i = next.getAndIncrement()
        while (i < in.size) { out(i) = f(in(i)); i = next.getAndIncrement() }
      }
      ForkJoin.firstFailure(ForkJoin.all(Seq.fill(math.min(16, in.size))(worker)))
        .foreach(e => throw e)
      out.toSeq.asInstanceOf[Seq[B]]
    }

  /** Footer-only row count + per-column (min, max) — never a data scan.
    * Row-group stats merge to file-level bounds; null-only groups are
    * skipped (NULL rows never match a range predicate, so the remaining
    * bounds stay valid for skipping). Supported: int/long (incl. date
    * days, timestamp micros — their logical annotations ride the
    * physical int), float/double (NaN bounds dropped), short UTF8
    * strings. Decimals and nested paths are excluded (a raw int bound
    * would misread the scale). Capped to the first
    * [[MaxStatsColumns]] schema-order columns.
    */
  private def footerInfo(p: GPath)
      : (Long, Map[String, (String, String)], Set[String]) =
    CommitLogTable.footerInfoAt(p.toHadoop,
      spark.sparkContext.hadoopConfiguration)


  /** Basenames of a just-staged change dir's parquet files — what the
    * manifest records as [[CommitLogTable.Manifest.changeFiles]]. Runs
    * in the WRITER right after [[writeChanges]] produced them, so the
    * listing is of its own writes (safe on any store).
    */
  private def stagedChangeNames(sub: String): Seq[String] = {
    val staged = GPath(dir, StagedChangesDirName,
      GPath(sub).getFileName.toString)
    if (!GFiles.isDirectory(staged)) Seq.empty
    else GFiles.list(staged).map(_.fileName)
      .filter(_.endsWith(".parquet")).sorted
  }

  private def mkManifest(snap: Manifest, action: String, files: Seq[LogFile],
      rowsInserted: Long, rowsUpdated: Long, rowsDeleted: Long,
      rowsTotal: Long, changesDir: Option[String],
      clusteredBy: Option[String] = None,
      schema: StructType = null,
      columnMapping: Map[String, String] = null,
      partitionCols: Seq[String] = null,
      retiredPhysical: Seq[String] = null,
      txns: Map[String, Long] = null,
      constraints: Map[String, String] = null,
      properties: Map[String, String] = null): Manifest =
    Manifest(snap.version + 1, action, System.currentTimeMillis(),
      Option(schema).getOrElse(snap.schema),
      Option(partitionCols).getOrElse(snap.partitionCols),
      attachBlooms(snap, files, Option(schema).getOrElse(snap.schema),
        Option(columnMapping).getOrElse(snap.columnMapping), action),
      rowsInserted, rowsUpdated, rowsDeleted, rowsTotal, changesDir,
      clusteredBy, Option(columnMapping).getOrElse(snap.columnMapping),
      Option(retiredPhysical).getOrElse(snap.retiredPhysical),
      Option(txns).getOrElse(snap.txns),
      Option(constraints).getOrElse(snap.constraints),
      Option(properties).getOrElse(snap.properties),
      changeFiles = changesDir.map(stagedChangeNames).getOrElse(Seq.empty))

  /** Build sidecar bloom filters for the files a commit ADDS (every
    * commit funnels through [[mkManifest]]), when the table configures
    * [[CommitLogTable.BloomColsProp]]. One distributed pass over just
    * the new files computes a per-(file, column) bloom over the
    * column's `CAST(... AS STRING)` canonical form; sidecars land next
    * to their data file as `_bloom.<file>.<physCol>` (leading
    * underscore: invisible to [[enumerate]], cleaned with a losing
    * attempt's data dir, vacuumed with the data file). Bloomed files
    * are flagged in the manifest (`LogFile.blooms`), so the read-side
    * prover pays ZERO filesystem probes on unbloomd tables/files.
    *
    * Scale: the job reads only the commit's own output (batch-
    * proportional); pre-existing files backfill at their natural next
    * rewrite (compact/merge/update) — never a table scan. Pre-evolution
    * files read the column as all-NULL and get an empty bloom, which
    * correctly prunes every equality probe (the column IS null there).
    */
  private def attachBlooms(snap: Manifest, files: Seq[LogFile],
      schema: StructType, mapping: Map[String, String],
      action: String): Seq[LogFile] = {
    // restore re-references files from an OLD version: building blooms
    // there would turn a documented metadata-only rollback into a table
    // scan (pre-bloom-era files backfill at their next real rewrite)
    if (action == "restore") return files
    val spec = snap.properties.get(CommitLogTable.BloomColsProp)
    if (spec.isEmpty) return files
    val bits = snap.properties
      .getOrElse(CommitLogTable.BloomBitsProp, "131072").toInt
    val k = snap.properties
      .getOrElse(CommitLogTable.BloomHashesProp, "5").toInt
    require(bits > 0 && bits % 64 == 0,
      s"${CommitLogTable.BloomBitsProp} must be a positive multiple of 64")
    require(k > 0, s"${CommitLogTable.BloomHashesProp} must be positive")
    val fields = spec.get.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))
      .filter(f => CommitLogTable.bloomSupported(f.dataType))
    if (fields.isEmpty) return files
    val physCols = fields.map(f => mapping.getOrElse(f.name, f.name))
    val basePaths = snap.files.map(_.path).toSet
    val fresh = files.filter(f => !basePaths.contains(f.path) &&
      f.blooms.isEmpty && !GPath.isAbsolute(f.path)) // absolute = clone reference
    if (fresh.isEmpty) return files
    val byRel = fresh.map(f => f.path -> f).toMap
    val nCols = physCols.length
    val wordsPer = bits / 64
    val readSchema = StructType(fields.zip(physCols).map { case (f, p) =>
      org.apache.spark.sql.types.StructField(p, f.dataType)
    })
    val selected = spark.read.schema(readSchema)
      .parquet(fresh.map(f => dataPath(f).toString): _*)
      .select(input_file_name().as("__f") +:
        physCols.map(c => col(s"`$c`").cast("string")): _*)
    // per-partition imperative bit math — the one shape the DataFrame
    // API can't express without a UDAF round-trip through Rows
    val collected = selected.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[String, Array[Array[Long]]]
      it.foreach { r =>
        val arr = acc.getOrElseUpdate(r.getString(0),
          Array.fill(nCols)(new Array[Long](wordsPer)))
        var i = 0
        while (i < nCols) {
          if (!r.isNullAt(i + 1))
            CommitLogTable.bloomAdd(arr(i), r.getString(i + 1), k)
          i += 1
        }
      }
      acc.iterator
    }.reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) {
        var w = 0
        while (w < wordsPer) { a(i)(w) |= b(i)(w); w += 1 }
        i += 1
      }
      a
    }.collect()
    // executor paths come back URI-encoded ("file:///…", %-escaped) —
    // decode once so a Hive-escaped partition segment (itself containing
    // literal '%XX') or a space in the table dir still matches the
    // manifest-relative path by suffix (unique within a table)
    val computed: Map[String, Array[Array[Long]]] = collected.flatMap {
      case (abs, arr) =>
        val decoded = try new java.net.URI(abs).getPath catch {
          case _: java.net.URISyntaxException => abs
        }
        byRel.keys.find(rel => decoded.endsWith(rel) || abs.endsWith(rel))
          .map(_ -> arr)
    }.toMap
    // a file the job's paths failed to resolve is left UNFLAGGED (no
    // bloom = no pruning) — an empty sidecar would wrongly refute every
    // probe and silently drop the file's live rows
    computed.foreach { case (rel, blooms) =>
      val f = byRel(rel)
      physCols.zipWithIndex.foreach { case (pc, i) =>
        CommitLogTable.writeBloomSidecar(bloomSidecarPath(f, pc), k, blooms(i))
      }
    }
    files.map(f =>
      if (computed.contains(f.path)) f.copy(blooms = physCols) else f)
  }

  private def bloomSidecarPath(f: LogFile, physCol: String): GPath = {
    val p = dataPath(f)
    p.getParent.resolve(s"_bloom.${p.getFileName}.$physCol")
  }

  /** Read-side bloom consult for an EQUALITY probe that per-file
    * (min, max) stats could not refute: "bits absent" is proof of
    * absence (blooms have no false negatives), anything else keeps the
    * file. Sidecars cache per table handle; the canonical probe string
    * mirrors the write side's CAST AS STRING exactly (which is why only
    * string/integral columns are bloomed).
    */
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def bloomMayContain(snap: Manifest, f: LogFile,
      fld: org.apache.spark.sql.types.StructField, v: Any): Boolean = {
    if (v == null || !CommitLogTable.bloomSupported(fld.dataType)) return true
    val phys = snap.columnMapping.getOrElse(fld.name, fld.name)
    if (!f.blooms.contains(phys)) return true
    val canon = v match {
      case s: String => s
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => v.toString
      case _ => return true
    }
    val key = bloomSidecarPath(f, phys).toString
    if (bloomCache.size > 8192) bloomCache.clear() // crude, sufficient bound
    val loaded = bloomCache.computeIfAbsent(key,
      _ => CommitLogTable.readBloomSidecar(GPath(key))
        .map(x => (x._1, x._2)): Option[(Int, Array[Long])])
    loaded.asInstanceOf[Option[(Int, Array[Long])]] match {
      case Some((k, words)) => CommitLogTable.bloomTest(words, canon, k)
      case None => true // sidecar unreadable — never prune on doubt
    }
  }

  private def mkDiff(base: Manifest, m: Manifest): AttemptDiff = {
    val mPaths = m.files.map(_.path).toSet
    val basePaths = base.files.map(_.path).toSet
    val removedFiles = base.files.filterNot(f => mPaths.contains(f.path))
    val added = m.files.filterNot(f => basePaths.contains(f.path))
    AttemptDiff(removedFiles.map(_.path).toSet, removedFiles.map(_.rows).sum,
      added, (removedFiles ++ added).map(_.partitionKey).toSet)
  }

  /** Commutativity check + manifest rebase for a lost publish race
    * (Delta-style partition-level conflict detection): re-apply the
    * attempt's file diff on top of the winning snapshot WITHOUT
    * recomputing the data when the interleaved commits provably commute —
    *
    *   - any action: the winners must not have changed schema, column
    *     mapping, or partitioning, and every file this attempt replaces
    *     must still be live (a winner rewriting one means it saw — and
    *     changed — data this attempt read);
    *   - `append` writes blind: the above suffices;
    *   - `compact` preserves content: carrying the winners' new files
    *     (even in compacted partitions) stays correct, merely unpacked —
    *     but the clustered marker drops, since winners' files are unsorted;
    *   - `merge` additionally requires that no winner ADDED files in a
    *     partition this merge rewrote or inserted into (rows this merge
    *     never saw; on an unpartitioned table every file shares the ""
    *     partition, so any concurrent change forces the recompute) —
    *   - `delete`/`restore`/`rename` recompute (predicate scans the whole
    *     table; the others are metadata-cheap anyway).
    *
    * The change files were stamped with the version the attempt
    * originally claimed; the rebase restamps them for the new claim
    * (cost: one batch-proportional rewrite — the data files, which are
    * corpus-partition-proportional, move by reference).
    */
  private def rebased(diff: AttemptDiff, m: Manifest, onto: Manifest,
      fresh: Manifest): Option[Manifest] = {
    val rebasable = m.action == "append" || m.action == "merge" ||
      m.action == "compact"
    if (!rebasable) return None
    if (schemaSig(fresh.schema) != schemaSig(onto.schema) ||
        fresh.columnMapping != onto.columnMapping ||
        fresh.retiredPhysical != onto.retiredPhysical ||
        fresh.partitionCols != onto.partitionCols ||
        // a constraint added underneath this attempt must re-validate
        // the batch — the recompute path enforces it
        fresh.constraints != onto.constraints) return None
    // identity/generated state rides table properties. An attempt that
    // synced an identity high-water (m.properties != onto.properties)
    // cannot rebase — `properties = fresh.properties` below would
    // silently discard the advance, leaving the committed high-water
    // below the max id actually written (duplicate ids on the next
    // append). And a winner that moved identity/generated state under
    // this attempt means the attempt's assigned ids came from a stale
    // high-water (possibly overlapping the winner's) — either way the
    // recompute path re-derives against the fresh snapshot.
    def idGenKeys(p: Map[String, String]): Map[String, String] =
      p.filter { case (k, _) =>
        k.startsWith(CommitLogTable.IdentityPropPrefix) ||
          k.startsWith(CommitLogTable.GeneratedPropPrefix) }
    if (m.properties != onto.properties ||
        idGenKeys(fresh.properties) != idGenKeys(onto.properties))
      return None
    val freshPaths = fresh.files.map(_.path).toSet
    if (!diff.removed.forall(freshPaths.contains)) return None
    // an interleaved LAZY DELETE marks existing file ENTRIES in place: a
    // file this attempt rewrote was read without that mark, so carrying
    // the rewrite would resurrect the deleted rows — same-path entries
    // must be mark-identical between the snapshots or the loser recomputes
    val ontoPending = onto.files
      .map(f => f.path -> (f.pendingDelete, f.adoptedDv)).toMap
    val freshPending = fresh.files
      .map(f => f.path -> (f.pendingDelete, f.adoptedDv)).toMap
    if (diff.removed.exists(p => ontoPending.get(p) != freshPending.get(p)))
      return None
    if (m.action == "merge") {
      val ontoPaths = onto.files.map(_.path).toSet
      val winnerAdded = fresh.files.filterNot(f => ontoPaths.contains(f.path))
        .map(_.partitionKey).toSet
      if (winnerAdded.intersect(diff.partitions).nonEmpty) return None
    }
    // txn commutativity: OUR txn record must still be news under fresh —
    // a winner that already recorded this (appId, version) means this
    // attempt was a replay of a commit that landed; the recompute path
    // then recognizes it and no-ops. Interleaved winners' txn records
    // carry through (fresh.txns is the base, ours overlay it).
    val ourTxns = m.txns.filter { case (a, v) => !onto.txns.get(a).contains(v) }
    ourTxns.foreach { case (a, v) =>
      if (fresh.txns.get(a).exists(_ >= v)) return None }
    val newChanges = m.changesDir.map(restampChanges(_, fresh.version + 1))
    Some(Manifest(fresh.version + 1, m.action, System.currentTimeMillis(),
      m.schema, m.partitionCols,
      fresh.files.filterNot(f => diff.removed.contains(f.path)) ++ diff.added,
      m.rowsInserted, m.rowsUpdated, m.rowsDeleted,
      fresh.rowsTotal - diff.removedRows + diff.added.map(_.rows).sum,
      newChanges, clusteredBy = None, columnMapping = m.columnMapping,
      retiredPhysical = m.retiredPhysical, txns = fresh.txns ++ ourTxns,
      constraints = m.constraints,
      // a winner's property commit survives the rebase (this attempt
      // never touches properties — the properties action is not rebasable)
      properties = fresh.properties,
      // the restamp rewrote the staged dir — re-list its fresh names
      changeFiles = newChanges.map(stagedChangeNames).getOrElse(Seq.empty)))
  }

  /** Rewrite a staged change dir with a new `_commit_version` stamp (the
    * rebase moved the claim); the old staged dir is dropped.
    */
  private def restampChanges(sub: String, newVersion: Long): String = {
    val staged = GPath(dir, StagedChangesDirName,
      GPath(sub).getFileName.toString)
    val name = s"c-${UUID.randomUUID().toString.take(12)}"
    spark.read.parquet(staged.toString)
      .withColumn("_commit_version", lit(newVersion))
      .write.parquet(s"$dir/$StagedChangesDirName/$name")
    deleteRecursively(staged)
    s"$ChangesDirName/$name"
  }

  /** Optimistic-concurrency commit loop: compute against the current
    * snapshot, publish via atomic hard-link. A loser first tries the
    * cheap [[rebased]] commute; only a genuine conflict deletes the
    * attempt's own output and re-runs `body` against the fresh snapshot.
    * "Own" output is established by exclusion: a candidate dir is deleted
    * only if NO committed manifest references anything inside it — files
    * the attempt re-referenced from history (compact carry-overs, a
    * rebase's carried winner files) are never its output and must survive
    * the loss.
    */
  /** Publish ONE reconciled foreign-Delta commit as graft version
    * `expectedVersion` — [[DeltaLogBridge.reconcile]]'s write half.
    * NOT a retryCommit: the content is a deterministic translation of
    * an already-durable foreign commit, so a lost publish race means a
    * fellow reconciler landed the same version — verify and accept;
    * any OTHER action claiming the version is a genuine fork and
    * refuses loudly.
    */
  private[tables] def reconcilePublish(expectedVersion: Long,
      files: Seq[LogFile], schema: StructType,
      mapping: Map[String, String], partitionCols: Seq[String],
      constraints: Map[String, String], properties: Map[String, String],
      changes: Option[DataFrame], counters: (Long, Long, Long)): Unit = {
    def verifyExisting(): Unit = {
      val existing = manifest(expectedVersion)
      require(existing.action == "reconcile",
        s"reconcile: graft version $expectedVersion at $dir was " +
          s"committed as '${existing.action}' while the same Delta " +
          "version exists in the _delta_log — the two logs forked; " +
          "restore one side")
    }
    val snap = snapshot()
    if (snap.version >= expectedVersion) { verifyExisting(); return }
    require(snap.version == expectedVersion - 1,
      s"reconcile: expected graft head ${expectedVersion - 1} at $dir, " +
        s"found ${snap.version} — foreign commits replay in order")
    val changesSub = changes.map(df =>
      writeChanges(df, expectedVersion, mapping))
    val total = files.map(_.rows).sum
    val m = mkManifest(snap, "reconcile", files,
      rowsInserted = counters._1, rowsUpdated = counters._2,
      rowsDeleted = counters._3, rowsTotal = total, changesDir = changesSub,
      schema = schema, columnMapping = mapping,
      partitionCols = partitionCols, constraints = constraints,
      properties = properties)
    if (!tryPublish(m)) {
      changesSub.foreach(sub => deleteRecursively(
        GPath(dir, StagedChangesDirName, GPath(sub).fileName)))
      verifyExisting()
    }
  }

  /** Two-engine coexistence pull ([[DeltaLogBridge.reconcile]]): on a
    * mirror-enabled table whose `_delta_log` holds commits ABOVE the
    * graft head (an external Delta writer mid-cutover), replay them
    * into the commit log BEFORE computing this commit — the commit
    * then lands on the reconciled snapshot and the mirror continues
    * 1:1 instead of forking. Quiet-path cost: one existence probe.
    * A pull failure BLOCKS the commit on purpose: committing past
    * untranslated foreign history would fork both logs.
    */
  private def maybePullForeignDelta(): Unit = {
    val snap = snapshot()
    if (!snap.properties.get(DeltaLogBridge.MirrorProp)
        .exists(_.toBoolean)) return
    val next = GPath(dir, "_delta_log")
      .resolve(DeltaLogBridge.deltaName(snap.version + 1))
    if (GFiles.exists(next)) { DeltaLogBridge.reconcile(this); () }
  }

  private def retryCommit(action: String)(body: Manifest => Manifest): Long = {
    maybePullForeignDelta()
    def compute(): (Manifest, Option[Manifest], AttemptDiff) = {
      val snap = snapshot()
      val m = try body(snap) catch { case NoOpCommit => return (snap, None, null) }
      (snap, Some(m), mkDiff(snap, m))
    }
    var (base, mOpt, diff) = compute()
    if (mOpt.isEmpty) return base.version
    var m = mOpt.get
    var onto = base // the snapshot m currently claims on top of
    var failures = 0
    while (failures < MaxCommitRetries) {
      if (tryPublish(m)) {
        maybeAutoCompact(m, action, diff)
        maybeMirrorDelta(m)
        return m.version
      }
      failures += 1
      val fresh = snapshot()
      rebased(diff, m, onto, fresh) match {
        case Some(r) =>
          commitRebases.incrementAndGet()
          m = r
          onto = fresh
        case None =>
          cleanupLostAttempt(diff, m)
          commitRecomputes.incrementAndGet()
          val (b2, m2, d2) = compute()
          if (m2.isEmpty) return b2.version
          base = b2; m = m2.get; diff = d2; onto = b2
      }
    }
    throw new IllegalStateException(
      s"$action lost $MaxCommitRetries commit races at $dir")
  }

  /** Post-commit small-file trigger (Delta's `autoCompact` /
    * `optimizeWrite` analogue, the Bronze write options of
    * bronze_prices_auto_loader.ipynb cell 3): when
    * `TBLPROPERTIES('graft.autoCompact.minFiles'=N)` is set and a
    * data-adding commit leaves one of ITS OWN partitions holding ≥N
    * undersized files (< targetBytes/2, the OPTIMIZE rule), bin-pack
    * just those partitions — a separate follow-up version through the
    * normal [[compact]] path, so the no-op guard, lazy-delete
    * materialization, and CDF semantics all hold. Only the commit's
    * touched partitions are examined (O(diff), never O(table)); quiet
    * partitions never compact. Best-effort: the triggering commit is
    * already durable, so an auto-compact failure (e.g. lost races under
    * heavy contention) never surfaces to the writer.
    */
  private def maybeAutoCompact(m: Manifest, action: String,
      diff: AttemptDiff): Unit = {
    if (action == "compact" || diff == null || diff.added.isEmpty) return
    val minFiles = m.properties.get(AutoCompactMinFilesProp)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 1).getOrElse(return)
    val target = m.properties.get(AutoCompactTargetBytesProp)
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(AutoCompactDefaultTargetBytes)
    val due = m.files
      .filter(f => diff.partitions.contains(f.partitionKey))
      .groupBy(_.partitionKey)
      .filter { case (_, fs) => fs.count(_.bytes < target / 2) >= minFiles }
      .keys.toSeq.sorted
    if (due.nonEmpty) {
      // declared sort columns turn the bin-pack into a per-leaf
      // re-cluster (unknown names are skipped rather than failing the
      // best-effort hook — the property may predate a rename)
      val sortCols = m.properties.get(AutoCompactSortColsProp)
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
        .filter(c => m.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      try { compact(target, values = Some(due),
        sortCols = sortCols.map(col(_)),
        clusterLabel =
          if (sortCols.isEmpty) None
          else Some(s"autoCompact(${sortCols.mkString(",")})")); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Post-commit Delta mirroring
    * (`TBLPROPERTIES('graft.deltaMirror.enabled'='true')` —
    * [[DeltaLogBridge.mirrorCatchUp]]). Best-effort like auto-compact:
    * the commit is already durable, and a failed catch-up re-runs on
    * the next commit (translation is deterministic).
    */
  private def maybeMirrorDelta(m: Manifest): Unit =
    if (m.properties.get(DeltaLogBridge.MirrorProp).exists(_.toBoolean))
      try { DeltaLogBridge.mirrorCatchUp(this); () }
      catch { case scala.util.control.NonFatal(_) => () }

  private def cleanupLostAttempt(diff: AttemptDiff, m: Manifest): Unit = {
    val committed = listVersions.flatMap(v => manifest(v).files.map(_.path)).toSet
    diff.added
      .map(f => f.path.split('/').take(2).mkString("/")).distinct
      .filterNot(sub => committed.exists(_.startsWith(sub + "/")))
      .foreach(sub => deleteRecursively(GPath(dir, sub)))
    m.changesDir.foreach { sub =>
      deleteRecursively(GPath(dir, StagedChangesDirName,
        GPath(sub).getFileName.toString))
    }
  }

  private def deleteRecursively(root: GPath): Unit =
    GFiles.deleteRecursively(root)

  /** Choose the on-disk form for a commit and stamp its checkpoint
    * anchor. A commit serializes as a file DIFF against its parent
    * unless (a) it's v0, (b) the chain since the last checkpoint reached
    * [[CommitLogTable.CheckpointInterval]] (bounds cold-resolve replay),
    * or (c) the diff would be at least as large as the snapshot (full
    * rewrites — delete/update/restore — where a diff is pure overhead).
    * This is what makes commit cost O(files touched): a metadata-only
    * rename on a 10⁶-file table writes a ~200-byte diff, not a ~100 MB
    * snapshot. Same-path entries whose LogFile changed (a lazy-delete
    * mark) serialize as remove+add.
    */
  private def serializeForPublish(m: Manifest): (String, Manifest) =
    if (m.version == 0) {
      val r = m.copy(checkpointVersion = 0L)
      (fullJson(r), r)
    } else {
      val parent = manifest(m.version - 1)
      val parentCkpt =
        if (parent.checkpointVersion >= 0) parent.checkpointVersion
        else parent.version
      val parentByPath = parent.files.iterator.map(f => f.path -> f).toMap
      val mByPath = m.files.iterator.map(f => f.path -> f).toMap
      val added = m.files.filterNot(f => parentByPath.get(f.path).contains(f))
      val removed = parent.files
        .filterNot(f => mByPath.get(f.path).contains(f)).map(_.path)
      val useFull = (m.version - parentCkpt) >= CheckpointInterval ||
        added.size + removed.size >= m.files.size
      if (useFull) {
        val r = m.copy(checkpointVersion = m.version)
        (fullJson(r), r)
      } else {
        val r = m.copy(checkpointVersion = parentCkpt)
        (diffJson(r, added, removed), r)
      }
    }

  /** Publish a table's FIRST manifest at an ARBITRARY version — the
    * adopted-Delta genesis: [[CommitLogTable.convertFromDelta]] lands
    * its convert manifest AT the adopted Delta version, so graft
    * versions line up 1:1 with the original `_delta_log` and a later
    * Delta mirror CONTINUES that log at N+1 instead of forking it.
    * The resulting log is exactly the post-log-vacuum shape every
    * reader already handles: the oldest retained version is a full
    * (self-checkpointed) manifest.
    */
  private[tables] def tryPublishGenesis(m: Manifest): Boolean = {
    require(listVersions.isEmpty,
      s"genesis publish on a non-empty log at $dir")
    val r = m.copy(checkpointVersion = m.version)
    val won = coordinator.tryClaim(logDir, manifestName(m.version),
      fullJson(r).getBytes(UTF_8))
    if (won) {
      manifestCache.putIfAbsent(r.version, r)
      writeLatestHint(r.version)
    }
    won
  }

  private def tryPublish(m: Manifest): Boolean = {
    val (json, resolved) = serializeForPublish(m)
    // arbitration is delegated to the session's CommitCoordinator: the
    // default rides atomic create-if-absent (hard link); object stores
    // without that primitive plug in the lease coordinator instead —
    // see [[CommitCoordinator]] for the contract
    val won = coordinator.tryClaim(logDir, manifestName(m.version),
      json.getBytes(UTF_8))
    // the commit is durable once the manifest link exists; promotion into
    // the stream-visible changes/ dir is repaired lazily by readers if a
    // crash lands exactly here
    if (won) {
      // the winner's resolved snapshot seeds the cache — the commit loop
      // (and the next commit's diff computation) never re-reads what this
      // process just wrote
      manifestCache.putIfAbsent(resolved.version, resolved)
      m.changesDir.foreach(promoteChanges)
      writeLatestHint(m.version)
    }
    won
  }
}

object CommitLogTable {

  /** A user-supplied time-travel instant → epoch millis: a raw
    * epoch-millis number, a date ("2026-08-14"), or a local timestamp
    * ("2026-08-14 12:00:00[.SSS]") — string forms interpreted in the
    * SESSION timezone, so options, `RESTORE … TIMESTAMP AS OF`, and CDF
    * timestamp bounds all agree with SQL's own literal conversion. ONE
    * definition for every timestamp-accepting surface.
    */
  private[graft] def parseTsMillis(s: String,
      spark: org.apache.spark.sql.SparkSession): Long =
    scala.util.Try(s.toLong).getOrElse {
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      val local = scala.util.Try(java.time.LocalDateTime.parse(
          s.trim.replace(' ', 'T')))
        .getOrElse(java.time.LocalDate.parse(s.trim).atStartOfDay())
      local.atZone(zone).toInstant.toEpochMilli
    }

  private val LogDirName = "_graft_log"
  private val LatestHintName = "_latest"
  private val DataDirName = "data"
  private val ChangesDirName = s"$LogDirName/changes"
  private val StagedChangesDirName = s"$LogDirName/staged_changes"
  private val ShadowPartCol = "__part"
  /** Shadow column for the i-th partition column. The 0th keeps the
    * historical bare name, so single-column tables lay out exactly as
    * every already-written table does.
    */
  private def shadowColName(i: Int): String =
    if (i == 0) ShadowPartCol else s"$ShadowPartCol$i"
  private val MaxCommitRetries = 20

  /** A full-snapshot (checkpoint) manifest is forced at least every this
    * many versions — the bound on a cold snapshot resolve's diff replay
    * (Delta's `checkpointInterval`, default 10 there too). Between
    * checkpoints every commit serializes only its file diff, making
    * commit cost O(files touched) instead of O(files total).
    */
  val CheckpointInterval = 10

  /** Per-file min/max stats are kept for at most this many columns
    * (schema-order first — the leading columns are the keys and
    * clustering targets); the cap bounds manifest growth the same way
    * Delta's `dataSkippingNumIndexedCols` (default 32) does.
    */
  val MaxStatsColumns = 12

  /** Default orphan grace for [[vacuumPath]]: an UNREFERENCED file is an
    * in-flight commit's output until proven otherwise, so the sweep age
    * gate must exceed the longest plausible commit duration — at the
    * 100 TB scale this engine targets a large merge/compact can run for
    * hours, and a shorter grace would let an overlapping vacuum delete
    * its not-yet-referenced files mid-commit (the manifest then publishes
    * referencing missing files and every read of that version fails).
    * Delta's VACUUM floor is 7 days for exactly this reason; 24 h is the
    * engine's default, tightenable per call when no long commit can
    * overlap (single-writer maintenance windows, tests).
    */
  val DefaultOrphanGraceMillis: Long = 24L * 60 * 60 * 1000

  /** What partitionBy writes for a NULL partition value — and therefore
    * what [[enumerate]] reads back into the manifest's partition field.
    */
  private val HiveDefaultPartition =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** Thrown by a commit body to abandon the attempt without publishing
    * (e.g. a compact that found nothing to rewrite); flow control, not
    * an error.
    */
  private object NoOpCommit extends scala.util.control.ControlThrowable

  /** `stats`: per-PHYSICAL-column (min, max) in canonical string form
    * (numeric/date/timestamp as numbers, strings verbatim ≤64 chars),
    * merged across the file's row groups at commit time from the parquet
    * footer (already open for the row count — stats cost no extra I/O).
    * Capped to [[MaxStatsColumns]] columns; absent = no pruning for the
    * file (pre-stats manifests, unsupported types, long strings).
    */
  /** `pendingDelete`: a SQL predicate over logical column names whose
    * matching rows are LOGICALLY deleted from this file but physically
    * still present (merge-on-read — the deletion-vector analogue);
    * readers filter it out, the next rewrite of the file materializes
    * it. Multiple lazy deletes OR-combine. None = file is clean.
    */
  /** `partitionVals`: the file's partition-value STRINGS, positionally
    * aligned with the manifest's `partitionCols` (empty = the table is
    * unpartitioned, or the file predates partitioning). NULL values are
    * stored as the Hive default-partition marker, exactly what the
    * dynamic-partition writer renders into the directory name.
    */
  final case class LogFile(path: String, partitionVals: Seq[String],
      rows: Long, bytes: Long,
      stats: Map[String, (String, String)] = Map.empty,
      pendingDelete: Option[String] = None,
      blooms: Seq[String] = Seq.empty,
      // columns this data file does NOT physically carry, served from
      // the manifest at scan time: logical column name → the file's
      // value string ([[CommitLogTable.HivePartitionNull]] for NULL).
      // Only adoption writes these (a Hive `partitionBy` layout or a
      // Delta table strips partition columns from the files); every
      // graft-written rewrite materializes the columns physically and
      // clears the entry. Keys are always a subset of the table's
      // partition columns.
      manifestVals: Map[String, String] = Map.empty,
      // a deletion vector ADOPTED with the file from a Delta log
      // (`convertFromDelta` on a DML'd table): the encoded protocol
      // descriptor ([[DeletionVectors.encodeDescriptor]]) whose bitmap
      // of file-ordinal row indexes every read plane filters out —
      // merge-on-read like [[pendingDelete]], but positional instead of
      // predicate. Immutable once adopted; the file's next rewrite
      // materializes (and clears) it. None = no adopted DV.
      adoptedDv: Option[String] = None) {
    /** Composite grouping key over all partition values — the unit of
      * partition-scoped operations (compact, auto-compact, merge rebase
      * conflict detection). Single-column tables key by the RAW value
      * (back-compatible with every caller that passes e.g. a date
      * string); composite keys join path-escaped segments with `/`,
      * which is injective because escaped segments cannot contain a raw
      * slash. "" = unpartitioned.
      */
    def partitionKey: String =
      if (partitionVals.lengthCompare(1) <= 0) partitionVals.headOption.getOrElse("")
      else partitionVals.map(org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName).mkString("/")
  }

  /** The serialized NULL partition value — Hive's default-partition
    * sentinel, the same string `partitionBy` writes into directory
    * names and [[enumerate]] already records in `partitionVals`.
    */
  val HivePartitionNull: String = org.apache.spark.sql.catalyst.catalog
    .ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** An absolute path rendered exactly as the scan's
    * `_metadata.file_path` renders it — the only safe key for per-file
    * lookup joins. The qualified URI's empty authority is stripped
    * (local filesystems render "file:/x", not "file:///x") and the path
    * part URL-encodes the way SparkPath does (space → %20, % → %25).
    * Same contract as `CommitLogParquet.sparkPathKey`, for the
    * DataFrame plane.
    */
  private[graft] def fileMetaPathKey(abs: String,
      hconf: org.apache.hadoop.conf.Configuration): String = {
    val q = qualifiedPath(abs, hconf).toUri
    new java.net.URI(q.getScheme,
      if (q.getAuthority != null && q.getAuthority.isEmpty) null
      else q.getAuthority,
      q.getPath, null, null).toString
  }

  /** Comparable form of a user bound / stored stat under the column's
    * type: numeric domain (Left) or lexical domain (Right). None = not
    * convertible → no pruning.
    */
  private def statBound(dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[Either[BigDecimal, String]] = {
    import org.apache.spark.sql.types._
    dt match {
      // a NON-string bound on a string column would prune lexically
      // ("9.0" vs max "9") while the residual predicate compares after a
      // numeric cast — only a genuine string bound may prune. (Stored
      // stats are ASCII-only, and ASCII-vs-anything comparisons agree
      // between Java's UTF-16 order and Spark/parquet's UTF-8 byte
      // order, so any string bound is safe here.)
      case StringType => v match {
        case s: String => Some(Right(s))
        case _ => None
      }
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType =>
        // a Float bound must widen THROUGH the double domain the stats
        // (and Spark's residual comparison) live in: String.valueOf(0.1f)
        // is "0.1", but the stored stat is the widened 0.10000000149...,
        // and pruning with the narrower decimal would drop a file whose
        // min is exactly the bound — silent row loss
        val canon = v match {
          case f: java.lang.Float => String.valueOf(f.doubleValue)
          case other => String.valueOf(other)
        }
        try Some(Left(BigDecimal(canon))) catch { case _: NumberFormatException => None }
      case DateType => v match {
        case d: java.sql.Date => Some(Left(BigDecimal(d.toLocalDate.toEpochDay)))
        case s: String =>
          try Some(Left(BigDecimal(java.time.LocalDate.parse(s).toEpochDay)))
          catch { case _: java.time.format.DateTimeParseException => None }
        case n: Number => Some(Left(BigDecimal(n.longValue)))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          val i = t.toInstant
          Some(Left(BigDecimal(i.getEpochSecond) * 1000000 + i.getNano / 1000))
        case n: Number => Some(Left(BigDecimal(n.longValue)))
        case _ => None
      }
      case _ => None
    }
  }

  /** Stored stats are canonical strings: numbers for every non-string
    * supported type (date days / timestamp micros ride their physical
    * int), verbatim for strings.
    */
  private def statParse(dt: org.apache.spark.sql.types.DataType,
      s: String): Option[Either[BigDecimal, String]] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => Some(Right(s))
      case _ =>
        try Some(Left(BigDecimal(s))) catch { case _: NumberFormatException => None }
    }
  }

  /** None for mixed domains — a caller must treat "cannot compare" as
    * "cannot prune".
    */
  private def statCompare(a: Either[BigDecimal, String],
      b: Either[BigDecimal, String]): Option[Int] = (a, b) match {
    case (Left(x), Left(y)) => Some(x.compare(y))
    case (Right(x), Right(y)) => Some(x.compareTo(y))
    case _ => None
  }

  private def statLte(a: Either[BigDecimal, String],
      b: Either[BigDecimal, String]): Boolean =
    statCompare(a, b).forall(_ <= 0)

  /** The min/max half of [[CommitLogTable.lazyDeleteMayMatch]]: can a
    * file whose stat for the column is `stat` hold a row with
    * `column <op> v` (op ∈ <, <=, >, >=, =)? TRUE unless the stat
    * disproves it; a missing stat, an unconvertible bound or a mixed
    * comparison domain is conservatively a match.
    */
  private[graft] def statsMayMatch(dt: org.apache.spark.sql.types.DataType,
      stat: Option[(String, String)], op: String, v: Any): Boolean =
    (for {
      (mnS, mxS) <- stat
      bound <- statBound(dt, v)
      mn <- statParse(dt, mnS)
      mx <- statParse(dt, mxS)
    } yield op match {
      case "<"  => statCompare(mn, bound).forall(_ < 0)
      case "<=" => statCompare(mn, bound).forall(_ <= 0)
      case ">"  => statCompare(mx, bound).forall(_ > 0)
      case ">=" => statCompare(mx, bound).forall(_ >= 0)
      case _ => statCompare(mn, bound).forall(_ <= 0) &&
        statCompare(mx, bound).forall(_ >= 0)
    }).getOrElse(true)

  /** May a file hold a row passing `flt`, given a per-comparison prover
    * `leaf(column, op, value)`? Walks AND / OR / IN over the five
    * comparisons; every other shape (NOT, IS NULL, string matches …)
    * proves nothing and keeps the file. An IN keeps the file if any
    * member may match or a member is NULL; sets over 10k values skip
    * pruning rather than pay O(files × values) driver arithmetic.
    */
  private[graft] def filterMayMatch(flt: org.apache.spark.sql.sources.Filter,
      leaf: (String, String, Any) => Boolean): Boolean = {
    import org.apache.spark.sql.sources._
    flt match {
      case EqualTo(a, v) => leaf(a, "=", v)
      case LessThan(a, v) => leaf(a, "<", v)
      case LessThanOrEqual(a, v) => leaf(a, "<=", v)
      case GreaterThan(a, v) => leaf(a, ">", v)
      case GreaterThanOrEqual(a, v) => leaf(a, ">=", v)
      case In(a, vs) =>
        vs.length > 10000 || vs.contains(null) || vs.exists(leaf(a, "=", _))
      case And(l, r) => filterMayMatch(l, leaf) && filterMayMatch(r, leaf)
      case Or(l, r) => filterMayMatch(l, leaf) || filterMayMatch(r, leaf)
      case _ => true
    }
  }

  /** `abs` qualified by its filesystem — the path a listing of the file
    * reports (and [[fileMetaPathKey]] renders).
    */
  private[graft] def qualifiedPath(abs: String,
      hconf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(abs)
    p.getFileSystem(hconf).makeQualified(p)
  }

  /** A manifest value string in its column's INTERNAL Catalyst form
    * (UTF8String / epoch days / epoch micros …) — what the DSv2 reader
    * attaches per file. The sentinel is NULL; anything else must cast
    * cleanly (validated at adoption, so a failure here is a corrupted
    * manifest, not user input) — a silent TRY-null would leak wrong
    * rows into every later read.
    */
  private[graft] def internalManifestValue(s: String,
      dt: org.apache.spark.sql.types.DataType, zone: String): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    if (s == HivePartitionNull) null
    else {
      val v = Cast(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), dt, Some(zone),
        EvalMode.TRY).eval()
      require(v != null,
        s"manifest value '$s' does not cast to ${dt.catalogString}")
      v
    }
  }

  /** A partition value string re-encoded the way [[footerInfoAt]]
    * encodes file stats (dates as epoch days, timestamps as epoch
    * micros, integrals plain, ASCII strings raw) — so an adopted file
    * whose partition column lives only in the manifest still carries a
    * min=max stat for it, and stats pruning / metadata-only aggregates
    * / DPP treat it exactly like a physically-carried column. None =
    * not encodable (the sentinel, a non-ASCII/long string, an
    * unsupported type) — absence is always safe, it only costs pruning.
    */
  private[graft] def statEncodedValue(s: String,
      dt: org.apache.spark.sql.types.DataType, zone: String): Option[String] = {
    import org.apache.spark.sql.types._
    if (s == HivePartitionNull) return None
    def cast(): Any = {
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
      Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        StringType), dt, Some(zone), EvalMode.TRY).eval()
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        Option(cast()).map {
          case n: Number => n.longValue.toString
          case other => other.toString
        }
      case StringType
          if s.length <= 64 && s.forall(c => c >= ' ' && c < 127) =>
        Some(s)
      case _ => None
    }
  }

  // ---- per-file bloom-filter index (Delta's bloomFilterIndex analogue) --

  /** Table properties configuring the index: `graft.bloom.columns` is a
    * comma-separated list of logical column names; every LATER-written
    * file gets one sidecar bloom per listed column (existing files
    * backfill at their next rewrite — OPTIMIZE materializes eagerly).
    */
  /** Auto-compact table properties ([[CommitLogTable.maybeAutoCompact]]):
    * `minFiles` arms the post-commit trigger (≥ that many undersized
    * files in a touched partition → bin-pack it); `targetBytes` sets the
    * bin-pack target (default 128 MiB, Delta's OPTIMIZE default).
    */
  val AutoCompactMinFilesProp = "graft.autoCompact.minFiles"
  val AutoCompactTargetBytesProp = "graft.autoCompact.targetBytes"
  /** Optional comma-separated sort columns for the post-commit bin-pack
    * (`graft.autoCompact.sortCols`): with it set, auto-compact SORTS the
    * rows of each leaf partition it rewrites instead of a plain
    * coalesce, so the within-file clustering an `OPTIMIZE … ZORDER BY`
    * established keeps being re-established as the stream appends —
    * files stay both few AND stats-skippable. Without it (default) the
    * bin-pack is a pure coalesce, exactly Delta's autoCompact.
    */
  val AutoCompactSortColsProp = "graft.autoCompact.sortCols"
  val AutoCompactDefaultTargetBytes: Long = 128L * 1024 * 1024

  /** GENERATED ALWAYS AS columns (Delta's generated columns): one table
    * property per column, `graft.generated.<col>` → the generation
    * expression SQL. Stored as properties (not schema metadata — the
    * manifest schema round-trips through DDL, which drops metadata).
    * Every batch write plane fills an omitted generated column from the
    * expression and row-asserts a provided one; UPDATE recomputes them;
    * dropping or renaming a referenced base column refuses. Typical
    * use: a `day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))` partition
    * column — the Databricks Bronze date-partitioning idiom.
    */
  val GeneratedPropPrefix = "graft.generated."

  private[tables] def generatedExprs(props: Map[String, String])
      : Seq[(String, String)] =
    props.iterator.collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }.toSeq.sortBy(_._1)

  /** IDENTITY columns (`GENERATED ALWAYS|BY DEFAULT AS IDENTITY (START
    * WITH s INCREMENT BY k)`): `graft.identity.<col>` = "start,step,
    * allowExplicit", plus `graft.identity.<col>.highWater` — the
    * FURTHEST value handed out so far (by step sign), synced
    * monotonically in the same commit that writes the rows. Assignment
    * is one-pass and coordination-free: `start_of_batch + step *
    * monotonically_increasing_id()` — unique and increasing within the
    * batch, with GAPS between partitions (identity semantics permit
    * gaps; Delta's allocator leaves them too), so no count job, no
    * shuffle, no extra scan at any batch size.
    */
  val IdentityPropPrefix = "graft.identity."

  final case class IdentitySpec(col: String, start: Long, step: Long,
      allowExplicit: Boolean)

  private[tables] def identitySpecs(props: Map[String, String])
      : Seq[IdentitySpec] =
    props.iterator.collect {
      case (k, v) if k.startsWith(IdentityPropPrefix) &&
          !k.endsWith(".highWater") =>
        val parts = v.split(',')
        IdentitySpec(k.stripPrefix(IdentityPropPrefix),
          parts(0).trim.toLong, parts(1).trim.toLong,
          parts(2).trim.toBoolean)
    }.toSeq.sortBy(_.col)

  val BloomColsProp = "graft.bloom.columns"
  val BloomBitsProp = "graft.bloom.bits" // per file-column; default 131072 (16 KiB)
  val BloomHashesProp = "graft.bloom.hashes" // default 5

  /** String/integral only: their Spark `CAST(col AS STRING)` (the
    * write-side canonical form) is reproducible driver-side from a
    * filter literal; float formatting is not, so fractional columns are
    * never bloomed.
    */
  private[tables] def bloomSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt == StringType || dt == LongType || dt == IntegerType ||
      dt == ShortType || dt == ByteType
  }

  /** Double-hashing bloom over the canonical string: MD5 split into two
    * 64-bit halves, probe i at `(h1 + i·h2) mod bits`. Deterministic and
    * identical on the executor (add) and driver (test) side.
    */
  private[tables] def bloomHashPair(s: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8))
    def longAt(o: Int): Long = {
      var x = 0L; var i = 0
      while (i < 8) { x = (x << 8) | (d(o + i) & 0xffL); i += 1 }
      x
    }
    (longAt(0), longAt(8))
  }

  private[tables] def bloomAdd(words: Array[Long], s: String, k: Int): Unit = {
    val bits = words.length.toLong * 64
    val (h1, h2) = bloomHashPair(s)
    var i = 0
    while (i < k) {
      val b = java.lang.Math.floorMod(h1 + i * h2, bits)
      words((b >>> 6).toInt) |= 1L << (b & 63)
      i += 1
    }
  }

  private[tables] def bloomTest(words: Array[Long], s: String, k: Int): Boolean = {
    val bits = words.length.toLong * 64
    val (h1, h2) = bloomHashPair(s)
    var i = 0
    while (i < k) {
      val b = java.lang.Math.floorMod(h1 + i * h2, bits)
      if ((words((b >>> 6).toInt) & (1L << (b & 63))) == 0) return false
      i += 1
    }
    true
  }

  private val BloomMagic = 0x47424c4d // "GBLM"

  private[tables] def writeBloomSidecar(p: GPath, k: Int,
      words: Array[Long]): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(BloomMagic); out.writeInt(k); out.writeInt(words.length)
    words.foreach(out.writeLong)
    out.flush()
    GFiles.write(p, bos.toByteArray)
  }

  /** (k, words); None when the sidecar is missing/corrupt — the caller
    * falls back to "may contain".
    */
  private[tables] def readBloomSidecar(p: GPath): Option[(Int, Array[Long])] =
    try {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(GFiles.readAllBytes(p)))
      if (in.readInt() != BloomMagic) None
      else {
        val k = in.readInt()
        val words = Array.fill(in.readInt())(in.readLong())
        Some((k, words))
      }
    } catch { case _: java.io.IOException => None }

  /** Ordered WHEN clauses for [[CommitLogTable.mergeInto]]. Conditions
    * and values are Columns over the merge join — target columns as
    * `col("t.x")`, source columns as `col("s.y")`; `cond = None` ≡
    * always applies.
    */
  sealed trait MatchedClause { def cond: Option[Column] }
  final case class MatchedUpdate(cond: Option[Column],
      set: Map[String, Column]) extends MatchedClause
  final case class MatchedDelete(cond: Option[Column]) extends MatchedClause
  final case class NotMatchedInsert(cond: Option[Column],
      values: Map[String, Column])
  sealed trait BySourceClause { def cond: Option[Column] }
  final case class BySourceUpdate(cond: Option[Column],
      set: Map[String, Column]) extends BySourceClause
  final case class BySourceDelete(cond: Option[Column]) extends BySourceClause

  /** The attempt's file-level footprint relative to the snapshot it was
    * computed against — the invariant a rebase re-applies on top of a
    * different snapshot.
    */
  private final case class AttemptDiff(removed: Set[String], removedRows: Long,
      added: Seq[LogFile], partitions: Set[String])

  /** One committed version. `schema` and `columnMapping` are the state AT
    * this version — evolution, renames, and drops replay under time
    * travel. `columnMapping` is sparse logical→physical (absent =
    * identical). `retiredPhysical` lists physical names whose logical
    * column was DROPPED: their in-file data is dead but the name can
    * never be reassigned (a later evolution re-adding the logical name
    * takes a fresh physical name, so stale values never resurface).
    */
  final case class Manifest(version: Long, action: String, tsMillis: Long,
      schema: StructType, partitionCols: Seq[String], files: Seq[LogFile],
      rowsInserted: Long, rowsUpdated: Long, rowsDeleted: Long,
      rowsTotal: Long, changesDir: Option[String],
      clusteredBy: Option[String] = None,
      columnMapping: Map[String, String] = Map.empty,
      retiredPhysical: Seq[String] = Seq.empty,
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      // nearest full-snapshot (checkpoint) version at-or-below this one —
      // assigned at publish time (-1 = in-flight, not yet serialized);
      // the resolver replays diffs forward from it
      checkpointVersion: Long = -1L,
      // the change FILES of this commit by name (within changesDir) —
      // readers resolve exact files instead of listing the directory,
      // so the change plane never depends on rename atomicity or
      // listing consistency (the object-store gap the data plane's
      // named files never had). Empty on legacy manifests → readers
      // fall back to listing.
      changeFiles: Seq[String] = Seq.empty)

  val HistorySchema: StructType = StructType.fromDDL(
    "version BIGINT, action STRING, rows_inserted BIGINT, " +
      "rows_updated BIGINT, rows_deleted BIGINT, rows_total BIGINT, " +
      "num_files INT, ts_millis BIGINT")

  def exists(dir: String): Boolean =
    GFiles.isDirectory(GPath(dir, LogDirName))

  /** Open an existing table. Requires at least one published manifest —
    * a log dir with none is the debris of a create() that died before
    * its v0 publish ([[forPath]] repairs that state by re-creating).
    */
  def open(spark: SparkSession, dir: String): CommitLogTable = {
    require(exists(dir), s"no commit-log table at $dir")
    require(listVersionsAt(dir).nonEmpty,
      s"table creation incomplete at $dir (log dir exists, no manifest)")
    new CommitLogTable(spark, dir)
  }

  /** Create an empty table at `dir` (version 0) — or open it if a
    * concurrent creator won the v0 race or it already exists.
    */
  def create(spark: SparkSession, dir: String, schema: StructType,
      partitionCols: Seq[String] = Seq.empty): CommitLogTable = {
    partitionCols.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column $p not in schema"))
    require(partitionCols.distinct.length == partitionCols.length,
      s"duplicate partition columns: ${partitionCols.mkString(",")}")
    val logDir = GPath(dir, LogDirName)
    GFiles.createDirectories(logDir.resolve("changes"))
    GFiles.createDirectories(logDir.resolve("staged_changes"))
    val t = new CommitLogTable(spark, dir)
    val v0 = Manifest(0L, "create", System.currentTimeMillis(), schema,
      partitionCols, Seq.empty, 0, 0, 0, 0, None)
    t.tryPublish(v0) // losing the race means someone else created it: fine
    t
  }

  /** Open-or-create; a log dir without any manifest (create() crashed
    * before v0) is re-created rather than opened broken.
    */
  def forPath(spark: SparkSession, dir: String, schema: StructType,
      partitionCols: Seq[String] = Seq.empty): CommitLogTable =
    if (exists(dir) && listVersionsAt(dir).nonEmpty) open(spark, dir)
    else create(spark, dir, schema, partitionCols)

  /** `CONVERT TO DELTA`'s analogue: adopt an EXISTING plain-parquet
    * directory as a commit-log table IN PLACE — zero bytes copied, one
    * footer pass for row counts and skipping stats, one `convert`
    * manifest referencing the files where they sit. From then on the
    * directory has everything the format gives: ACID commits, MERGE,
    * time travel, CDF (for post-convert commits), OPTIMIZE, stats
    * pruning. At 100 TB this is the adoption path — the alternative is
    * rewriting the corpus.
    *
    * Partitioned adoption requires the Hive `col=value` directory
    * layout naming exactly `partitionCols`. Files that physically carry
    * those columns adopt as-is; a `df.write.partitionBy(...)` layout —
    * which strips the columns from the files — adopts too: each such
    * file records the column in [[LogFile.manifestVals]] and every scan
    * plane attaches the value from the manifest (plus a synthetic
    * min=max file stat, so pruning and metadata-only aggregates treat
    * it like any other column). A directory-encoded-only column joins
    * the schema as STRING — the one type the path segments actually
    * are; cast in a view if a typed column is wanted, or let the next
    * OPTIMIZE materialize it physically. A dir with `k=v` segments
    * adopted WITHOUT partitionCols still refuses — dropping the
    * directory-encoded column would silently narrow the data.
    */
  def convert(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Seq.empty): CommitLogTable = {
    require(!exists(dir), s"convert: a commit-log table already exists at $dir")
    require(GFiles.isDirectory(GPath(dir)), s"convert: no directory at $dir")
    // a directory already governed by ANOTHER transaction log must not
    // blind-adopt: its log excludes tombstoned/uncommitted parquet that
    // a raw walk would resurrect as live rows
    Seq("_delta_log", "_spark_metadata").foreach(g =>
      require(!GFiles.exists(GPath(dir, g)),
        s"convert: $dir is governed by $g — a raw file walk would " +
          "adopt files that log has removed or never committed; read " +
          "it through its own format instead"))
    val probes = adoptProbes(spark, GPath(dir))
    require(probes.nonEmpty, s"convert: no parquet files under $dir")
    // UNION schema across every footer (mergeSchema): deterministic
    // regardless of footer-visit order — files lacking a later column
    // null-backfill, exactly the format's own evolution semantics; a
    // TYPE conflict fails loudly here instead of mid-scan later. Hive
    // partition discovery never runs (explicit file list), so
    // directory-encoded columns cannot sneak into the schema.
    val fileSchema = spark.read.option("mergeSchema", "true")
      .parquet(probes.map(_._1.toString): _*).schema
    // a directory-encoded-only partition column joins the schema as
    // STRING (path segments are strings); its per-file values serve
    // from the manifest (LogFile.manifestVals) — zero-copy adoption of
    // a partitionBy layout instead of the 100 TB rewrite
    val schema = StructType(fileSchema.fields ++
      partitionCols.filterNot(fileSchema.fieldNames.contains).map(p =>
        org.apache.spark.sql.types.StructField(p,
          org.apache.spark.sql.types.StringType)))
    val t = create(spark, dir, schema, partitionCols)
    t.adoptExisting(partitionCols, probes)
    t
  }

  /** `CONVERT TO COMMITLOG delta.`…``: adopt an existing DELTA table as
    * a commit-log table IN PLACE — zero bytes copied. The live file
    * set, schema, partition columns, and (name-mode) column mapping
    * come from the Delta log's replayed state
    * ([[DeltaLogBridge.snapshot]]), NOT from a directory walk: a raw
    * walk would resurrect tombstoned and uncommitted parquet as live
    * rows, which is exactly why plain [[convert]] refuses `_delta_log`
    * dirs. Delta files do not physically carry partition columns, so
    * each adopted file records them in [[LogFile.manifestVals]] (every
    * scan plane attaches the value from the manifest) plus a synthetic
    * min=max stat for pruning; the first rewrite materializes them.
    * One footer pass (distributed) takes row counts and skipping stats.
    *
    * Live deletion vectors adopt AS merge-on-read state
    * ([[LogFile.adoptedDv]]): every read plane filters the bitmap, the
    * first rewrite materializes it, and the mirror re-emits the
    * original descriptor verbatim. Column mapping mode `id` adopts
    * name-mapped after a distributed footer proof that every file
    * binds each field id to its declared physical name. Refuses loudly
    * what adoption genuinely cannot express: an unresolvable DV, a
    * field-id/name divergence, a nested physical rename, and
    * remote-URI add paths — [[DeltaLogBridge.read]] is the escape
    * hatch for all of them. The `_delta_log` stays in place untouched;
    * a HEAD-version adoption lets the mirror CONTINUE it at N+1.
    */
  def convertFromDelta(spark: SparkSession, dir: String,
      versionAsOf: Option[Long] = None): CommitLogTable = {
    require(!exists(dir), s"convert: a commit-log table already exists at $dir")
    val dsnap = DeltaLogBridge.snapshot(spark, dir, versionAsOf)
    // live deletion vectors adopt AS merge-on-read state: each carries
    // into [[LogFile.adoptedDv]] — every read plane filters the bitmap,
    // the first rewrite (OPTIMIZE) materializes it. Resolve each one NOW
    // so a dangling/corrupt DV fails the adoption, not a later read.
    dsnap.live.foreach { case (p, _, dv) =>
      dv.foreach { d =>
        try DeletionVectors.resolveData(dir, d)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"convert: live file '$p' carries a deletion vector this " +
            s"adoption cannot resolve: ${e.getMessage}", e) }
      }
    }
    val (schema, mapping) = DeltaLogBridge.adoptionSchema(dsnap)
    requireFieldIdAlignment(spark, dir, dsnap, "convert")
    val files = deltaLogFiles(spark, dir, dsnap, schema, mapping,
      onlyPaths = None, what = "convert")
    // GENESIS at the adopted Delta version: graft versions line up 1:1
    // with the original log, so enabling the mirror afterwards
    // ([[DeltaLogBridge.MirrorProp]]) CONTINUES the table's own
    // `_delta_log` at N+1 — external Delta consumers keep reading the
    // same table, version-monotonic, while graft takes over writes.
    // Earlier Delta versions stay readable through
    // [[DeltaLogBridge.read]]'s own time travel; graft time travel
    // starts at the adopted version (the post-log-vacuum contract).
    GFiles.createDirectories(GPath(dir, ChangesDirName))
    GFiles.createDirectories(GPath(dir, StagedChangesDirName))
    val t = new CommitLogTable(spark, dir)
    val total = files.map(_.rows).sum
    // the table's METADATA migrates with its files: stored CHECKs,
    // TBLPROPERTIES (incl. delta.enableChangeDataFeed — the mirror
    // keeps emitting cdc through the migration), generated/identity
    // specs ([[DeltaLogBridge.adoptionMetadata]])
    val (adoptedConstraints, adoptedProps) =
      DeltaLogBridge.adoptionMetadata(dsnap)
    val m = Manifest(dsnap.version, "convert", System.currentTimeMillis(),
      schema, dsnap.partitionCols, files, rowsInserted = total,
      rowsUpdated = 0, rowsDeleted = 0, rowsTotal = total,
      changesDir = None, columnMapping = mapping,
      constraints = adoptedConstraints, properties = adoptedProps)
    require(t.tryPublishGenesis(m),
      s"convert: lost the adoption race at $dir")
    // a HEAD-version adoption stamps the alignment proof the mirror
    // needs to CONTINUE this log ([[DeltaLogBridge.AlignedMarker]]); a
    // version-pinned adoption leaves the log unstamped — the mirror
    // then refuses to append and self-cures by checkpoint once the
    // graft head passes the stale tail
    if (versionAsOf.isEmpty)
      GFiles.write(GPath(dir, "_delta_log")
        .resolve(DeltaLogBridge.AlignedMarker),
        s"graft adoption aligned at Delta version ${dsnap.version}\n"
          .getBytes(UTF_8))
    t
  }

  /** Table-root resolution of a Delta add path: relative under `dir`,
    * local absolute accepted (the shallow-clone shape), remote URIs
    * refused by name — adoption/reconciliation never re-scope a
    * foreign bucket.
    */
  private def deltaAbsOf(dir: String, what: String): String => GPath = { p =>
    require(!p.contains("://"),
      s"$what: add path '$p' is a remote URI — only local paths adopt")
    if (GPath.isAbsolute(p)) GPath(p) else GPath(dir, p)
  }

  /** Column mapping mode 'id' adopts when name-resolution provably
    * equals id-resolution for THESE files: every top-level parquet
    * field carrying a field id must bear the schema's declared
    * physical name for that id (Delta writers emit both; a divergence
    * would make the commitlog's name-resolving scan read wrong
    * columns — refuse, with the bridge as the escape hatch). One
    * distributed footer pass, mode-id logs only. Shared by
    * [[convertFromDelta]] and [[DeltaLogBridge.reconcile]].
    */
  private[tables] def requireFieldIdAlignment(spark: SparkSession,
      dir: String, dsnap: DeltaLogBridge.Snapshot, what: String): Unit = {
    if (dsnap.columnMappingMode != "id") return
    val absOf = deltaAbsOf(dir, what)
    val expected = DeltaLogBridge.fieldIdExpectations(dsnap)
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val paths = dsnap.live.map(f => absOf(f._1).raw).distinct
    val slices = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism * 2))
    val mismatches = spark.sparkContext.parallelize(paths, slices)
      .flatMap { p =>
        CommitLogTable.footerFieldIds(p, conf.value)
          .flatMap { case (name, idOpt) =>
            idOpt.flatMap(id => expected.get(id.toLong).filter(_ != name)
              .map(want => s"$p binds field id $id to '$name', the " +
                s"schema says '$want'"))
          }.take(1)
      }.take(3)
    require(mismatches.isEmpty,
      s"$what: column mapping mode 'id' — field-id resolution " +
        "diverges from the declared physical names, so a " +
        "name-resolving scan would read the wrong columns; read the " +
        s"table through DeltaLogBridge.read. ${mismatches.mkString("; ")}")
  }

  /** Manifest file entries for a Delta snapshot's live files —
    * footer-probed (ONE distributed job), partition values normalized
    * to the manifest's Hive encoding, live deletion vectors carried as
    * [[LogFile.adoptedDv]]. `onlyPaths` restricts the build to a
    * subset (reconciliation probes only a foreign commit's ADDED
    * files — O(diff), never O(table)). Shared by [[convertFromDelta]]
    * and [[DeltaLogBridge.reconcile]].
    */
  private[tables] def deltaLogFiles(spark: SparkSession, dir: String,
      dsnap: DeltaLogBridge.Snapshot, schema: StructType,
      mapping: Map[String, String], onlyPaths: Option[Set[String]],
      what: String): Seq[LogFile] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val physPart = dsnap.partitionCols.map(c => mapping.getOrElse(c, c))
    val absOf = deltaAbsOf(dir, what)
    val wanted = onlyPaths match {
      case None => dsnap.live
      case Some(ps) => dsnap.live.filter(f => ps.contains(f._1))
    }
    val probeByPath = probePaths(spark, wanted.map(f => absOf(f._1)))
      .map(pr => (pr._1, pr)).toMap
    wanted.map { case (rel, pv, dv) =>
      val (_, rows, bytes, stats, fields) = probeByPath.getOrElse(absOf(rel),
        throw new IllegalArgumentException(
          s"$what: live file '$rel' is missing or not parquet — the " +
            "Delta log references it at this version (vacuumed " +
            "data, or a torn copy)"))
      // partitionValues keys are PHYSICAL under column mapping (logical
      // tolerated — some writers emit them); a missing entry is NULL
      val pvals = dsnap.partitionCols.zip(physPart).map { case (lc, pc) =>
        Option(pv.getOrElse(pc, pv.getOrElse(lc, null)))
          .getOrElse(HivePartitionNull)
      }
      val absent = dsnap.partitionCols.zip(physPart).zip(pvals).collect {
        case ((lc, pc), v) if !fields.contains(pc) => (lc, pc, v)
      }
      val synthetic = absent.flatMap { case (lc, pc, v) =>
        val dt = schema.fields.find(_.name == lc).getOrElse(
          throw new IllegalArgumentException(
            s"$what: partition column '$lc' is not in the schema")).dataType
        internalManifestValue(v, dt, zone) // validate castability NOW
        statEncodedValue(v, dt, zone).map(enc => pc -> (enc, enc))
      }.toMap
      LogFile(rel, pvals, rows, bytes, stats ++ synthetic,
        manifestVals = absent.map { case (lc, _, v) => lc -> v }.toMap,
        adoptedDv = dv.map(DeletionVectors.encodeDescriptor))
    }.filter(_.rows > 0)
  }

  /** Pre-existing data files a [[convert]] may adopt, with their footer
    * facts: every regular file outside `_`/`.` directories that IS
    * parquet — by the PAR1 magic, not the suffix, so extensionless
    * Hive/Impala part files (`000000_0`) adopt too instead of silently
    * narrowing the dataset. A `.parquet`-suffixed file WITHOUT the
    * magic fails loudly (torn copy — adopting around it would silently
    * drop rows). Returns (path, rows, bytes, stats) per adoptable file.
    *
    * The LISTING is driver metadata work; the per-file I/O (magic probe
    * + footer read) runs as ONE SPARK JOB over the candidate paths — at
    * millions of object-store files a driver thread pool would
    * serialize exactly the reads Delta's own CONVERT distributes, and
    * adoption wall-time must stay flat per core as the file count
    * grows.
    */
  private def adoptProbes(spark: SparkSession, root: GPath)
      : Seq[(GPath, Long, Long, Map[String, (String, String)], Set[String])] = {
    val candidates = GFiles.walkFiles(root).filter { p =>
      root.relativize(p).split('/')
        .forall(n => !n.startsWith("_") && !n.startsWith("."))
    }
    probePaths(spark, candidates)
  }

  /** The distributed adoption probe over an EXPLICIT path list — one
    * Spark job running [[adoptProbe]] (PAR1 magic, footer row count /
    * stats / field names) per candidate; shared by the directory-walk
    * [[convert]] and the log-driven [[convertFromDelta]].
    */
  private def probePaths(spark: SparkSession, candidates: Seq[GPath])
      : Seq[(GPath, Long, Long, Map[String, (String, String)], Set[String])] = {
    if (candidates.isEmpty) return Seq.empty
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val slices = math.max(1, math.min(candidates.size,
      spark.sparkContext.defaultParallelism * 2))
    val probed =
      try spark.sparkContext
        .parallelize(candidates.map(_.raw), slices)
        .map(p => p -> CommitLogTable.adoptProbe(p, conf.value))
        .collect().toSeq
      catch { case e: Throwable =>
        // surface the probe's own refusal (torn .parquet, a referenced
        // file the disk lost) with its message instead of Spark's
        // task-failure wrapper
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .foreach {
            case iae: IllegalArgumentException => throw iae
            case fnf: java.io.FileNotFoundException =>
              throw new IllegalArgumentException(
                s"convert: a referenced file is missing or not parquet — " +
                  s"${fnf.getMessage}", fnf)
            case _ => ()
          }
        throw e
      }
    probed.collect { case (p, Some((rows, bytes, stats, fields))) =>
      (GPath(p), rows, bytes, stats, fields)
    }
  }

  /** One adoption probe, run INSIDE a Spark task: the PAR1 magic check
    * plus the footer's row count and column stats. None = not parquet,
    * skip; a `.parquet`-NAMED non-parquet throws (torn copy).
    */
  private def adoptProbe(abs: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(Long, Long, Map[String, (String, String)], Set[String])] = {
    val hp = new org.apache.hadoop.fs.Path(abs)
    val fs = hp.getFileSystem(conf)
    val len = fs.getFileStatus(hp).getLen
    val magic = len >= 12 && {
      val in = fs.open(hp)
      try {
        val b = new Array[Byte](4)
        in.readFully(0, b)
        java.util.Arrays.equals(b, "PAR1".getBytes(UTF_8))
      } finally in.close()
    }
    require(magic || !hp.getName.endsWith(".parquet"),
      s"convert: $abs is named .parquet but lacks the PAR1 magic — " +
        "torn or corrupt; remove or repair it before converting")
    if (!magic) None
    else {
      val (rows, stats, fields) = footerInfoAt(hp, conf)
      Some((rows, len, stats, fields))
    }
  }

  /** Top-level parquet (field name, field id) pairs of one footer —
    * the mode-`id` adoption proof runs this inside a Spark task.
    */
  private def footerFieldIds(abs: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Option[Int])] = {
    val hp = new org.apache.hadoop.fs.Path(abs)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      .map(f => f.getName -> Option(f.getId).map(_.intValue))
    finally r.close()
  }

  /** Minimal serializable Hadoop-conf carrier for executor-side footer
    * probes (Spark's own SerializableConfiguration is spark-private).
    */
  private class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Footer-only row count + per-column (min, max) — never a data
    * scan; static so [[adoptProbe]] can run it inside a Spark task.
    * Row-group stats merge to file-level bounds; null-only groups are
    * skipped (NULL rows never match a range predicate, so the remaining
    * bounds stay valid for skipping). Supported: int/long (incl. date
    * days, timestamp micros — their logical annotations ride the
    * physical int), float/double (NaN bounds dropped), short UTF8
    * strings. Decimals and nested paths are excluded (a raw int bound
    * would misread the scale). Capped to the first
    * [[MaxStatsColumns]] schema-order columns.
    */
  private def footerInfoAt(hp: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration)
      : (Long, Map[String, (String, String)], Set[String]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val schemaOrder = r.getFooter.getFileMetaData.getSchema.getFields
        .asScala.map(_.getName).zipWithIndex.toMap
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      val stats = byCol.toSeq
        .filter { case (name, _) => !name.contains(".") }
        .sortBy { case (name, _) => schemaOrder.getOrElse(name, Int.MaxValue) }
        .take(MaxStatsColumns)
        .flatMap { case (name, chunks) =>
          val pt = chunks.head.getPrimitiveType
          val ann = pt.getLogicalTypeAnnotation
          val isDecimal =
            ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          // only MICROS timestamps may prune (statBound converts query
          // bounds to micros); a MILLIS/NANOS file would compare 1000×
          // off and silently drop matching files
          val badTimeUnit = ann match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
            case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => true
            case _ => false
          }
          // EVERY chunk must either carry value stats or be provably
          // all-null — parquet also omits stats for oversized binary
          // bounds, and treating such a chunk as all-null would narrow
          // the file bounds and wrongly prune rows it actually holds
          val accounted = chunks.forall { c =>
            val s = c.getStatistics
            s != null && (s.hasNonNullValue ||
              (s.isNumNullsSet && s.getNumNulls == c.getValueCount))
          }
          val ss = chunks.map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
          if (ss.isEmpty || !accounted || isDecimal || badTimeUnit) None
          else pt.getPrimitiveTypeName match {
            case INT32 | INT64 =>
              val mn = ss.map(_.genericGetMin.asInstanceOf[Number].longValue).min
              val mx = ss.map(_.genericGetMax.asInstanceOf[Number].longValue).max
              Some(name -> (mn.toString, mx.toString))
            case FLOAT | DOUBLE =>
              val mn = ss.map(_.genericGetMin.asInstanceOf[Number].doubleValue).min
              val mx = ss.map(_.genericGetMax.asInstanceOf[Number].doubleValue).max
              if (mn.isNaN || mx.isNaN) None
              else Some(name -> (mn.toString, mx.toString))
            case BINARY if ann
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              val mn = ss.map(_.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8).min
              val mx = ss.map(_.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8).max
              // ASCII-only: parquet orders string stats by unsigned UTF-8
              // bytes, Java compares UTF-16 chars — the orders agree only
              // on ASCII, and a mismatch silently prunes matching files
              // (supplementary characters sort before U+E000..U+FFFF in
              // UTF-8 but after in UTF-16). Non-ASCII bounds → no stats.
              def ascii(s: String) = s.forall(c => c >= ' ' && c < 127)
              if (mn.length > 64 || mx.length > 64 || !ascii(mn) || !ascii(mx))
                None
              else Some(name -> (mn, mx))
            case _ => None
          }
        }.toMap
      (rows, stats, schemaOrder.keySet.toSet)
    } finally r.close()
  }

  private def manifestName(version: Long): String = f"v$version%020d.json"

  private[tables] def listVersionsAt(dir: String): Seq[Long] = {
    GFiles.list(GPath(dir, LogDirName)).map(_.fileName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong).sorted
  }

  private[tables] def readRaw(dir: String, version: Long): RawManifest = {
    val p = GPath(dir, LogDirName).resolve(manifestName(version))
    require(GFiles.exists(p), s"version $version does not exist at $dir " +
      "(vacuumed log segment, or never committed)")
    parseRaw(new String(GFiles.readAllBytes(p), UTF_8))
  }

  /** Resolve one version cold: walk back to the nearest full manifest
    * (≤ [[CheckpointInterval]] steps by construction), replay diffs
    * forward. Instance reads go through the cached
    * [[CommitLogTable.manifest]] instead.
    */
  private[tables] def manifestAt(dir: String, version: Long): Manifest = {
    var chain = List.empty[RawDiff]
    var v = version
    var base: Manifest = null
    while (base == null) readRaw(dir, v) match {
      case RawFull(m) => base = m
      case d: RawDiff => chain ::= d; v -= 1
    }
    chain.foldLeft(base)(applyDiff)
  }

  /** Resolve EVERY listed version in one sequential fold — O(total raw
    * bytes), not O(versions × chain): the bulk path for vacuum/history
    * walks. `versions` must be the ascending contiguous committed list
    * (what [[listVersionsAt]] returns); the oldest retained version is
    * always a full manifest (the log-vacuum invariant).
    */
  private[tables] def manifestsAt(dir: String, versions: Seq[Long]): Seq[Manifest] = {
    var prev: Manifest = null
    versions.map { v =>
      prev = readRaw(dir, v) match {
        case RawFull(m) => m
        case d: RawDiff => applyDiff(prev, d)
      }
      prev
    }
  }

  /** Spark-free vacuum (see the instance method's contract): drop data
    * files referenced only by versions older than the last
    * `retainVersions`; sweep commit dirs left holding nothing but
    * markers. Returns deleted-file count.
    *
    * Files referenced by NO manifest at all — a crashed writer's output,
    * or a lost race whose self-cleanup also died — are deleted only once
    * older than `orphanGraceMillis`: a CONCURRENT in-flight commit's
    * freshly-written files are also unreferenced until its manifest
    * lands, and the age gate is what keeps vacuum from corrupting it
    * (the same reason Delta's VACUUM has a retention-hours floor). The
    * grace MUST exceed the longest possible in-flight commit — see
    * [[DefaultOrphanGraceMillis]]. Stale `staged_changes/` dirs past the
    * grace window are swept the same way.
    */
  def vacuumPath(dir: String, retainVersions: Int = 2,
      orphanGraceMillis: Long = DefaultOrphanGraceMillis): Int = {
    require(retainVersions >= 1)
    val versions = listVersionsAt(dir)
    // one sequential diff-replay over the whole log, not a per-version
    // chain resolve — vacuum touches every manifest by definition
    val committedManifests = manifestsAt(dir, versions)
    val retainedRefs = committedManifests.takeRight(retainVersions)
      .flatMap(_.files.map(_.path)).toSet
    val anyRefs = committedManifests.flatMap(_.files.map(_.path)).toSet
    val promotedChanges = committedManifests.flatMap(_.changesDir)
      .map(sub => GPath(sub).fileName).toSet
    val now = System.currentTimeMillis()
    def aged(p: GPath): Boolean =
      try now - GFiles.lastModifiedMillis(p) > orphanGraceMillis
      catch { case _: java.io.IOException => false }
    var deleted = 0
    // crashed tryPublish attempts leak .tmp-<uuid> manifests in the log
    // dir (the finally-delete never ran); sweep them past the grace age
    val logRoot = GPath(dir, LogDirName)
    if (GFiles.isDirectory(logRoot)) {
      val tmps = GFiles.list(logRoot)
        .filter(p => p.fileName.startsWith(".tmp-"))
      tmps.filter(aged).foreach { p =>
        if (GFiles.deleteIfExists(p)) deleted += 1
      }
      // crashed lease claimants leak .claims-<name>/ election dirs
      // (LeaseCoordinator) — sweep aged entries, prune emptied dirs
      val claimDirs = GFiles.list(logRoot)
        .filter(p => GFiles.isDirectory(p) &&
          p.fileName.startsWith(".claims-"))
      claimDirs.foreach { d =>
        val entries = GFiles.list(d)
        entries.filter(aged).foreach { p =>
          if (GFiles.deleteIfExists(p)) deleted += 1
        }
        try GFiles.deleteIfExists(d)
        catch { case _: java.io.IOException => () } // live claimant inside
      }
    }
    // stale staging dirs: promoted ones were MOVED out, so anything left
    // past the grace window is a dead writer's orphan (a referenced-but-
    // unpromoted dir is crash state the readers repair — keep it)
    val stagedRoot = GPath(dir, StagedChangesDirName)
    if (GFiles.isDirectory(stagedRoot)) {
      val dead = GFiles.list(stagedRoot)
      dead.filter(p => !promotedChanges.contains(p.fileName) && aged(p))
        .foreach { p =>
          GFiles.deleteRecursively(p)
          deleted += 1
        }
    }
    // crashed streaming-sink epochs: committed epochs MOVED their files
    // out and swept their dir ([[appendStagedFiles]] callers), so any
    // staged file left past the grace window is a dead stream's orphan
    val streamStage = GPath(dir, "_streaming_stage")
    if (GFiles.isDirectory(streamStage)) {
      // ONE batched sweep serves both passes: file mtimes arrive with
      // the listing (no per-path stat round-trips), and the dir prune
      // below works off the same in-memory entries
      val all = GFiles.walkStatuses(streamStage)
      val removed = scala.collection.mutable.Set.empty[String]
      all.foreach { e =>
        if (!e.isDir && now - e.mtimeMillis > orphanGraceMillis &&
            GFiles.deleteIfExists(e.path)) {
          deleted += 1
          removed += e.path.raw
        }
      }
      // prune now-empty epoch/query dirs (deepest first). Empty alone is
      // sufficient evidence: a live writer mkdirs-on-demand before staging,
      // and the sweep above just refreshed the parent's mtime by deleting
      // its debris — an aged(d) check here would race against our own
      // deletes and nondeterministically skip the prune. Candidates come
      // from the sweep: a dir still holding a surviving file (or any
      // ancestor of one) can't be empty, so it is never even listed.
      val blocked = scala.collection.mutable.Set.empty[String]
      all.foreach { e =>
        if (!e.isDir && !removed.contains(e.path.raw)) {
          var a = e.path.getParent
          while (a.raw != streamStage.raw && blocked.add(a.raw))
            a = a.getParent
        }
      }
      all.filter(e => e.isDir && !blocked.contains(e.path.raw))
        .map(_.path).sortBy(-_.raw.length).foreach { d =>
          if (GFiles.list(d).isEmpty) GFiles.deleteIfExists(d)
        }
    }
    val dataRoot = GPath(dir, DataDirName)
    if (!GFiles.isDirectory(dataRoot)) return deleted
    def isMarker(n: String): Boolean = n.startsWith("_") || n.startsWith(".")
    // ONE batched status sweep serves the orphan pass, the bloom-sidecar
    // lookups, AND the marker-dir prune: file mtimes ride the listing
    // (no per-path stat), sidecars resolve from an in-memory group-by
    // (no per-parent list), and only dirs whose subtree holds nothing
    // but markers/deleted files are candidates for the prune — on an
    // object store this is O(1) listings plus one per pruned dir,
    // instead of one RPC per directory per pass
    val entries = GFiles.walkStatuses(dataRoot)
    val fileRaw = entries.filter(!_.isDir).map(_.path.raw).toSet
    val byParent = entries.filter(!_.isDir).groupBy(_.path.getParent.raw)
    val prunedBlock = scala.collection.mutable.Set.empty[String]
    entries.foreach { e =>
      if (!e.isDir && !isMarker(e.path.fileName)) {
        val rel = GPath(dir).relativize(e.path)
        if (!retainedRefs.contains(rel) && (anyRefs.contains(rel) ||
            now - e.mtimeMillis > orphanGraceMillis)) {
          GFiles.deleteIfExists(e.path); deleted += 1
          // bloom sidecars ride their data file
          val prefix = s"_bloom.${e.path.fileName}."
          byParent.getOrElse(e.path.getParent.raw, Seq.empty)
            .filter(_.path.fileName.startsWith(prefix))
            .foreach(b => GFiles.deleteIfExists(b.path))
        } else {
          // a SURVIVING data file blocks the marker-dir prune for its
          // whole ancestor chain — those dirs are never even listed
          var a = e.path.getParent
          while (a.raw != dataRoot.raw && prunedBlock.add(a.raw))
            a = a.getParent
        }
      }
    }
    // bottom-up: drop commit dirs holding nothing but markers
    // (_SUCCESS/.crc). Each candidate's ONE listing re-verifies against
    // racers: a child that is a directory, unknown to the sweep, or a
    // non-marker file blocks the drop (the old per-child isRegularFile
    // gate, answered from the sweep instead of an RPC per child)
    entries.filter(e => e.isDir && !prunedBlock.contains(e.path.raw))
      .map(_.path).sortBy(-_.raw.length).foreach { d =>
        val children = GFiles.list(d)
        if (children.forall(c => isMarker(c.fileName) &&
            fileRaw.contains(c.raw))) {
          children.foreach(GFiles.deleteIfExists(_))
          GFiles.deleteIfExists(d)
        }
      }
    deleted
  }

  /** Spark-free LOG-SEGMENT vacuum: delete manifests (and their change
    * dirs) that a later checkpoint supersedes, keeping at least the last
    * `retainVersions` versions resolvable. The cut never lands mid-chain:
    * it retreats to the CHECKPOINT anchoring the oldest retained version
    * (one raw read — the stored `checkpoint` field), so every surviving
    * version still replays. Time travel and `history` are thereafter
    * bounded by log retention — Delta's `logRetentionDuration` contract;
    * data files are untouched (that's [[vacuumPath]]'s job — run it
    * FIRST, while every manifest is still present to testify about which
    * files are referenced).
    *
    * Deletion runs newest-first inside the dropped prefix, so a crash
    * leaves `[0..k] ∪ [anchor..head]` — both runs resolvable (the anchor
    * is a full manifest) — and a re-run finishes the sweep. Returns
    * dropped-manifest count.
    */
  def vacuumLogPath(dir: String, retainVersions: Int): Int = {
    require(retainVersions >= 1)
    val versions = listVersionsAt(dir)
    if (versions.size <= retainVersions) return 0
    val keepFrom = versions.takeRight(retainVersions).head
    val anchor = readRaw(dir, keepFrom).checkpointVersion
    val drop = versions.filter(_ < anchor).sorted.reverse
    var n = 0
    drop.foreach { v =>
      val raw = readRaw(dir, v)
      val changes = raw match {
        case RawFull(m) => m.changesDir
        case d: RawDiff => d.meta.changesDir
      }
      changes.foreach(sub => deleteTree(GPath(dir, sub)))
      if (GFiles.deleteIfExists(
          GPath(dir, LogDirName).resolve(manifestName(v)))) n += 1
    }
    n
  }

  private def deleteTree(root: GPath): Unit = GFiles.deleteRecursively(root)

  // ----------------------------------------------------------- JSON codec
  // Jackson ships with Spark; manifests are small driver-side documents.
  //
  // TWO on-disk forms (the Delta `_delta_log` actions + checkpoint split):
  //   - FULL (checkpoint): complete `files` array — self-contained, one
  //     read resolves the snapshot;
  //   - DIFF: `filesAdded` / `filesRemoved` relative to version-1, plus
  //     `checkpoint` pointing at the nearest full manifest at-or-below —
  //     commit cost is O(files touched), never O(files total).
  // Both carry the FULL non-file metadata (schema, mapping, txns,
  // constraints, properties, counts) — that part is small and diffing it
  // would buy nothing. Legacy manifests (pre-diff format: `files`, no
  // `checkpoint`) parse as full with checkpoint = own version, so every
  // existing table remains readable and its next commit can diff.

  private val mapper = new ObjectMapper()

  /** Raw parsed form of one on-disk manifest, before diff resolution. */
  private[tables] sealed trait RawManifest {
    def version: Long
    def checkpointVersion: Long
  }
  private[tables] final case class RawFull(m: Manifest) extends RawManifest {
    def version: Long = m.version
    def checkpointVersion: Long = m.checkpointVersion
  }
  /** `meta` carries every non-file field (files = empty). The parent is
    * always version - 1 (manifests claim consecutive versions).
    */
  private[tables] final case class RawDiff(meta: Manifest,
      added: Seq[LogFile], removed: Set[String]) extends RawManifest {
    def version: Long = meta.version
    def checkpointVersion: Long = meta.checkpointVersion
  }

  /** Replay one diff on top of its resolved parent: same-path entries in
    * `removed`+`added` express in-place modification (a lazy-delete mark),
    * kept files preserve their relative order, added files append — the
    * exact shape the commit bodies build in memory.
    */
  private[tables] def applyDiff(parent: Manifest, d: RawDiff): Manifest = {
    require(parent.version == d.version - 1,
      s"diff manifest v${d.version} replayed onto v${parent.version}")
    d.meta.copy(files =
      parent.files.filterNot(f => d.removed.contains(f.path)) ++ d.added)
  }

  private def putMeta(m: Manifest): com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("action", m.action)
    root.put("tsMillis", m.tsMillis)
    root.put("schemaDdl", m.schema.toDDL)
    // single-column tables keep writing the legacy scalar field (older
    // readers of on-disk logs keep working); composite keys need the list
    m.partitionCols match {
      case Seq() => ()
      case Seq(p) => root.put("partitionCol", p)
      case ps =>
        val arr = root.putArray("partitionCols")
        ps.foreach(arr.add)
    }
    root.put("rowsInserted", m.rowsInserted)
    root.put("rowsUpdated", m.rowsUpdated)
    root.put("rowsDeleted", m.rowsDeleted)
    root.put("rowsTotal", m.rowsTotal)
    root.put("checkpoint", m.checkpointVersion)
    m.changesDir.foreach(root.put("changesDir", _))
    if (m.changeFiles.nonEmpty) {
      val cf = root.putArray("changeFiles")
      m.changeFiles.foreach(cf.add)
    }
    m.clusteredBy.foreach(root.put("clusteredBy", _))
    if (m.columnMapping.nonEmpty) {
      val cm = root.putObject("columnMapping")
      m.columnMapping.toSeq.sortBy(_._1).foreach { case (l, p) => cm.put(l, p) }
    }
    if (m.retiredPhysical.nonEmpty) {
      val rp = root.putArray("retiredPhysical")
      m.retiredPhysical.foreach(rp.add)
    }
    if (m.txns.nonEmpty) {
      val tx = root.putObject("txns")
      m.txns.toSeq.sortBy(_._1).foreach { case (a, v) => tx.put(a, v) }
    }
    if (m.constraints.nonEmpty) {
      val cn = root.putObject("constraints")
      m.constraints.toSeq.sortBy(_._1).foreach { case (k, v) => cn.put(k, v) }
    }
    if (m.properties.nonEmpty) {
      val pr = root.putObject("properties")
      m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    }
    root
  }

  private def putFiles(root: com.fasterxml.jackson.databind.node.ObjectNode,
      field: String, files: Seq[LogFile]): Unit = {
    val arr = root.putArray(field)
    files.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path)
      f.partitionVals match {
        case Seq() => ()
        case Seq(v) => o.put("partition", v) // legacy scalar spelling
        case vs =>
          val pa = o.putArray("partitionVals")
          vs.foreach(pa.add)
      }
      o.put("rows", f.rows)
      o.put("bytes", f.bytes)
      if (f.stats.nonEmpty) {
        val st = o.putObject("stats")
        f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val a = st.putArray(c); a.add(mn); a.add(mx)
        }
      }
      f.pendingDelete.foreach(o.put("pendingDelete", _))
      if (f.blooms.nonEmpty) {
        val b = o.putArray("blooms")
        f.blooms.sorted.foreach(b.add)
      }
      if (f.manifestVals.nonEmpty) {
        val mv = o.putObject("manifestVals")
        f.manifestVals.toSeq.sortBy(_._1).foreach { case (c, v) =>
          mv.put(c, v) }
      }
      f.adoptedDv.foreach(o.put("adoptedDv", _))
    }
  }

  private def fullJson(m: Manifest): String = {
    val root = putMeta(m)
    putFiles(root, "files", m.files)
    mapper.writeValueAsString(root)
  }

  private def diffJson(m: Manifest, added: Seq[LogFile],
      removed: Seq[String]): String = {
    val root = putMeta(m)
    putFiles(root, "filesAdded", added)
    val rm = root.putArray("filesRemoved")
    removed.foreach(rm.add)
    mapper.writeValueAsString(root)
  }

  private def parseFiles(n: com.fasterxml.jackson.databind.JsonNode): Seq[LogFile] =
    n.elements().asScala.map { f =>
      val stats =
        if (f.hasNonNull("stats")) {
          val st = f.get("stats")
          st.fieldNames().asScala.map { c =>
            val a = st.get(c)
            c -> (a.get(0).asText, a.get(1).asText)
          }.toMap
        } else Map.empty[String, (String, String)]
      LogFile(f.get("path").asText,
        if (f.hasNonNull("partitionVals"))
          f.get("partitionVals").elements().asScala.map(_.asText).toVector
        else if (f.hasNonNull("partition")) Seq(f.get("partition").asText)
        else Seq.empty,
        f.get("rows").asLong, f.get("bytes").asLong, stats,
        if (f.hasNonNull("pendingDelete")) Some(f.get("pendingDelete").asText)
        else None,
        if (f.hasNonNull("blooms"))
          f.get("blooms").elements().asScala.map(_.asText).toVector
        else Seq.empty,
        if (f.hasNonNull("manifestVals")) {
          val mv = f.get("manifestVals")
          mv.fieldNames().asScala.map(c => c -> mv.get(c).asText).toMap
        } else Map.empty,
        if (f.hasNonNull("adoptedDv")) Some(f.get("adoptedDv").asText)
        else None)
    }.toVector

  private[tables] def parseRaw(s: String): RawManifest = {
    val n = mapper.readTree(s)
    def optText(field: String): Option[String] =
      if (n.hasNonNull(field)) Some(n.get(field).asText) else None
    val mapping =
      if (n.hasNonNull("columnMapping")) {
        val cm = n.get("columnMapping")
        cm.fieldNames().asScala.map(k => k -> cm.get(k).asText).toMap
      } else Map.empty[String, String]
    val retired =
      if (n.hasNonNull("retiredPhysical"))
        n.get("retiredPhysical").elements().asScala.map(_.asText).toVector
      else Seq.empty[String]
    val txns =
      if (n.hasNonNull("txns")) {
        val tx = n.get("txns")
        tx.fieldNames().asScala.map(k => k -> tx.get(k).asLong).toMap
      } else Map.empty[String, Long]
    def optMap(field: String): Map[String, String] =
      if (n.hasNonNull(field)) {
        val o = n.get(field)
        o.fieldNames().asScala.map(k => k -> o.get(k).asText).toMap
      } else Map.empty[String, String]
    val version = n.get("version").asLong
    val isFull = n.hasNonNull("files")
    // legacy full manifests predate the checkpoint field: each one IS a
    // checkpoint (self-contained), so it anchors at its own version
    val ckpt =
      if (n.hasNonNull("checkpoint")) n.get("checkpoint").asLong
      else version
    val meta = Manifest(version, n.get("action").asText,
      n.get("tsMillis").asLong,
      StructType.fromDDL(n.get("schemaDdl").asText),
      if (n.hasNonNull("partitionCols"))
        n.get("partitionCols").elements().asScala.map(_.asText).toVector
      else optText("partitionCol").toSeq,
      if (isFull) parseFiles(n.get("files")) else Seq.empty,
      n.get("rowsInserted").asLong, n.get("rowsUpdated").asLong,
      n.get("rowsDeleted").asLong, n.get("rowsTotal").asLong,
      optText("changesDir"), optText("clusteredBy"), mapping, retired, txns,
      optMap("constraints"), optMap("properties"), ckpt,
      changeFiles =
        if (n.hasNonNull("changeFiles"))
          n.get("changeFiles").elements().asScala.map(_.asText).toVector
        else Seq.empty)
    if (isFull) RawFull(meta)
    else RawDiff(meta,
      parseFiles(n.get("filesAdded")),
      n.get("filesRemoved").elements().asScala.map(_.asText).toSet)
  }
}
