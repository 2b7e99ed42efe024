package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch sinks mirroring the reference's raw-zone layout.
  *
  * - K1 day-partitioned Parquet (`ingest_fmp_prices.py:92-105,337-383`):
  *   Hive-style `dt=YYYY-MM-DD/` directories, snappy parquet, idempotent
  *   skip-if-exists unless forced. Partition directories give downstream
  *   scans partition pruning for free.
  * - K2 NDJSON.gz (`fmp_dump_raw.py:250-291`): gzipped JSON-lines,
  *   per-endpoint/per-date keys.
  * - K3 run-metrics JSON (`ingest_fmp_prices.py:580-604`).
  *
  * Idempotency semantics: the reference checks object existence per
  * day-file; Spark's `SaveMode.Ignore` is the whole-output equivalent, and
  * partition-level re-runs use dynamic partition overwrite so only the
  * partitions present in the batch are rewritten — the per-partition
  * idempotency that matters for backfills at scale.
  */
object Sinks {

  /** K1: day-partitioned parquet. `force=false` → Ignore (skip if the
    * target exists); `force=true` → dynamic partition overwrite (only the
    * partitions in `df` are replaced).
    */
  def partitionedParquet(df: DataFrame, outDir: String, partitionCol: String,
      force: Boolean): Unit =
    if (force)
      // per-write option, not a session conf — overwrite semantics of
      // unrelated writes later in the session must not change
      df.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol).parquet(outDir)
    else
      df.write.mode(SaveMode.Ignore).partitionBy(partitionCol).parquet(outDir)

  /** K2: gzipped NDJSON partitioned by the given keys. */
  def ndjsonGz(df: DataFrame, outDir: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .partitionBy(partitionCols: _*)
      .json(outDir)

  /** K5's `OPTIMIZE ... ZORDER BY` stand-in
    * (`bronze_prices_auto_loader.ipynb:165-170`): range-repartition on the
    * clustering keys + sort within partitions before writing, so scans
    * filtering on those keys touch few files and parquet min/max stats
    * prune row groups — the plain-Spark approximation of Z-ordering.
    */
  def clusteredParquet(df: DataFrame, outDir: String, clusterCols: Seq[String],
      numFiles: Option[Int] = None): Unit = {
    val cols = clusterCols.map(col)
    val ranged = numFiles match {
      case Some(n) => df.repartitionByRange(n, cols: _*)
      case None => df.repartitionByRange(cols: _*)
    }
    ranged.sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** Bucketed managed table: hash-bucket by join key so equi-joins and
    * aggregations on `bucketCols` between co-bucketed tables run with NO
    * shuffle exchange — the co-located-join layout for fact×fact joins at
    * scale (where neither side broadcasts). Requires a catalog name
    * (bucket metadata lives in the table definition, not the files).
    */
  def bucketedTable(df: DataFrame, name: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(name)

  /** Write-side schema evolution (the reference's `mergeSchema=true` write
    * option, `bronze_prices_auto_loader.ipynb` cell 3 line 122): append the
    * batch with its own (possibly wider) schema; parquet files keep their
    * per-file schemas and [[readEvolved]] unions them.
    */
  def evolvingAppend(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Append).parquet(outDir)

  /** Read an evolving parquet dir: union of all file schemas, columns
    * missing from older files read as null (`addNewColumns` semantics,
    * `docs/databricks_setup.md:120`).
    */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** K3: run-level metrics document. */
  final case class RunMetrics(
      run_id: String,
      dataset: String,
      started_at: String,
      finished_at: String,
      rows_in: Long,
      rows_out: Long,
      rows_rejected: Long)

  def writeMetrics(spark: SparkSession, m: RunMetrics, outDir: String): Unit = {
    import spark.implicits._
    Seq(m).toDF().coalesce(1).write.mode(SaveMode.Append).json(outDir)
  }
}
