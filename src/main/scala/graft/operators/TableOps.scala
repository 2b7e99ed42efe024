package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Table-services seam (SURVEY §7.3): the mutating table services a
  * pipeline needs, behind ONE small trait. The engine's backend is
  * [[TableOps.commitLog]] — the [[graft.tables.CommitLogTable]]
  * versioned-manifest format, where every upsert, compaction and vacuum
  * is an atomic commit and readers resolve an isolated snapshot (the
  * reference's Delta `MERGE`, `docs/databricks_setup.md:170-198`).
  * [[DeltaSqlTableOps]] binds the same trait to real delta-spark where
  * that jar is on the classpath.
  *
  *   - `merge`: MERGE-upsert semantics on frames (latest-wins per key) —
  *     Delta maps it to `DeltaTable.merge`;
  *   - `upsertPartitions` / `upsert`: apply a batch to a live keyed table,
  *     partition-pruned when day-partitioned;
  *   - `compact`: OPTIMIZE / bin-packing small-file compaction;
  *   - `vacuum`: sweep data files no retained version references;
  *   - `readTable`: the snapshot read of what the other services wrote.
  */
trait TableOps {

  /** MERGE upsert: latest row per `keys` wins under `order`; unmatched
    * target rows survive, unmatched update rows insert.
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame

  /** Apply `batch` to the live day-partitioned table at `targetDir` with
    * partition pruning (only partitions present in the batch are
    * touched), as one atomic commit.
    */
  def upsertPartitions(batch: DataFrame, targetDir: String, keys: Seq[String],
      order: Seq[Column], dayCol: String): Unit

  /** Apply `batch` to the live UNPARTITIONED keyed table at `targetDir`
    * (latest-wins per `keys` under `order`) — the quarantine-table shape:
    * small, keyed, no day partitioning worth pruning on.
    */
  def upsert(batch: DataFrame, targetDir: String, keys: Seq[String],
      order: Seq[Column]): Unit

  /** OPTIMIZE: compact the named partition values toward
    * `targetFileBytes` per file; returns value → (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String, partitionCol: String,
      targetFileBytes: Long, values: Seq[String]): Map[String, (Int, Int)]

  /** VACUUM: sweep data files outside the binding's retention window;
    * returns (restored, deleted).
    */
  def vacuum(dir: String): (Int, Int)

  /** Read the live table this binding maintains at `dir` — the read half
    * of [[upsertPartitions]] (a snapshot resolve in the commit log,
    * `spark.read.format("delta").load` in Delta). A bare
    * `spark.read.parquet(dir)` of a copy-on-write table also sees the
    * superseded files, so pipelines that read their own silver/gold
    * mid-stream go through this seam.
    */
  def readTable(spark: SparkSession, dir: String): DataFrame
}

object TableOps {
  /** The engine's binding: the table services over the
    * [[graft.tables.CommitLogTable]] versioned-manifest format — atomic
    * commits, snapshot-isolated readers, persisted CDF, time travel.
    */
  val commitLog: TableOps = CommitLogTableOps
}

/** [[graft.tables.CommitLogTable]]-backed table services: upserts become
  * atomic versioned MERGE commits with partition-pruned copy-on-write,
  * compact/vacuum operate on the manifest rather than live directories —
  * so a concurrent reader's resolved snapshot is never perturbed.
  */
object CommitLogTableOps extends TableOps {
  import graft.tables.CommitLogTable

  /** Frame-level MERGE is storage-free (the transactional value-add
    * lives in [[upsertPartitions]], where the result is committed).
    */
  override def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame =
    MergeUpsert.merge(target, updates, keys, order)

  /** A batch that COVERS the table's columns and adds new ones evolves
    * the schema in place (the reference's Auto Loader `addNewColumns` +
    * Bronze `mergeSchema=true` applied at the table seam — a stream
    * restarting with a widened source keeps flowing); a NARROWER batch
    * still fails loudly (silently nulling existing columns on matched
    * rows is never what an upsert meant).
    */
  private def evolves(tbl: CommitLogTable, batch: DataFrame): Boolean =
    tbl.schema.fieldNames.forall(batch.columns.contains) &&
      batch.columns.length > tbl.schema.fields.length

  override def upsertPartitions(batch: DataFrame, targetDir: String,
      keys: Seq[String], order: Seq[Column], dayCol: String): Unit = {
    val tbl = CommitLogTable.forPath(batch.sparkSession, targetDir,
      batch.schema, Seq(dayCol))
    tbl.merge(batch, keys, order, mergeSchema = evolves(tbl, batch))
  }

  override def upsert(batch: DataFrame, targetDir: String, keys: Seq[String],
      order: Seq[Column]): Unit = {
    val tbl = CommitLogTable.forPath(batch.sparkSession, targetDir,
      batch.schema, Seq.empty)
    tbl.merge(batch, keys, order, mergeSchema = evolves(tbl, batch))
  }

  override def compact(spark: SparkSession, dir: String, partitionCol: String,
      targetFileBytes: Long, values: Seq[String]): Map[String, (Int, Int)] =
    CommitLogTable.open(spark, dir).compact(targetFileBytes, Some(values))

  /** Sweeps data files outside the 2-version retention window plus
    * orphans of lost commit races; the commit-log format never restores
    * (nothing is ever in a half-swapped state), so `restored` is 0.
    */
  override def vacuum(dir: String): (Int, Int) =
    (0, CommitLogTable.vacuumPath(dir, retainVersions = 2))

  /** Snapshot-isolated read of the latest committed version. */
  override def readTable(spark: SparkSession, dir: String): DataFrame =
    CommitLogTable.open(spark, dir).read()
}
