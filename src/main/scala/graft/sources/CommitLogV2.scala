package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Predicate => CatalystPredicate, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.tables.CommitLogTable
import graft.tables.CommitLogTable.{LogFile, Manifest}

/** DataSource-V2 read path for the commit-log table format:
  *
  * {{{
  *   spark.read.format("commitlog").load(tableDir)
  *     .filter($"d" >= lit(x))          // prunes files via manifest stats
  *   spark.read.format("commitlog").option("versionAsOf", 3).load(dir)
  * }}}
  *
  * This closes the gap between the explicit `readRange(col, lo, hi)` API
  * and the filter a user naturally writes (what Delta readers get from
  * `spark.read.table`): pushed V1 filters are translated to the same
  * simple comparisons the manifest's per-file (min, max) stats can
  * refute, and provably-unmatched files never reach the scan. Every
  * pushed filter is ALSO returned as a residual, so pruning is purely an
  * optimization — Spark re-evaluates the full predicate row-by-row.
  *
  * The physical read rides Spark's OWN vectorized parquet machinery
  * ([[ParquetPartitionReaderFactory]] — the factory `ParquetScan` itself
  * constructs), so the clean-table path keeps columnar batches and
  * whole-stage codegen. The factory reads under PHYSICAL column names
  * (column mapping: renames/drops never rewrote the files) positionally
  * aligned with the scan's LOGICAL output schema, and parquet's
  * missing-column contract null-backfills pre-evolution files.
  * Merge-on-read deletes are honored: files carrying `pendingDelete`
  * marks read through a row-level filter (mark-referenced columns are
  * added to the read schema and projected back out), and only partitions
  * containing marked files drop off the columnar fast path.
  *
  * Scale: planning cost is O(live files) driver-side arithmetic on the
  * resolved manifest — no directory listing, no footer reads; split
  * sizing follows `spark.sql.files.maxPartitionBytes`/`openCostInBytes`
  * exactly like Spark's own file sources.
  */
final class CommitLogDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {
  override def shortName(): String = "commitlog"

  private def wantsCdf(parameters: Map[String, String]): Boolean =
    parameters.keys.find(_.equalsIgnoreCase("readChangeFeed"))
      .exists(k => parameters(k).toBoolean)

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "commitlog: specify the table directory via .load(dir)/.save(dir)"))

  /** `timestampAsOf` option value → epoch millis: a raw epoch-millis
    * number, a date ("2026-08-14"), or a local timestamp ("2026-08-14
    * 12:00:00[.SSS]") — string forms interpreted in the SESSION
    * timezone, so the option and SQL `TIMESTAMP AS OF` (which Spark
    * converts in session TZ) agree on the same literal.
    */
  private def parseTsMillis(s: String, spark: SparkSession): Long =
    CommitLogTable.parseTsMillis(s, spark)

  private def tableFor(options: CaseInsensitiveStringMap): Table = {
    val path = pathOf(options)
    // the changeFeed table: batch AND streaming reads resolve to the
    // shared CommitLogCdfScan (BATCH_READ + MICRO_BATCH_READ — admission
    // control, engine offset log, column pruning); the V1
    // RelationProvider change relation below remains only as the legacy
    // direct-V1 entry
    if (options.getBoolean("readChangeFeed", false))
      return new CommitLogCdfTable(SparkSession.active, path)
    def version: Option[Long] =
      Option(options.get("versionAsOf")).map(_.toLong)
        .orElse(Option(options.get("timestampAsOf")).map { s =>
          val spark = SparkSession.active
          CommitLogTable.open(spark, path)
            .versionAt(parseTsMillis(s, spark))
        })
    // a missing table surfaces as a capability-less stub: reads fail with
    // Spark's "does not support read" (the table genuinely has nothing to
    // read), while the V1 write path below gets its create-on-first-write
    if (!CommitLogTable.exists(path)) new Table {
      override def name(): String = s"commitlog.`$path` (uncreated)"
      override def schema(): StructType = new StructType()
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.Collections.emptySet()
    }
    else new CommitLogV2Table(SparkSession.active, path, version)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  // route user-supplied .schema(...) to getTable so it can be validated
  // against the table's own schema (refused on mismatch, Delta-style)
  // instead of being silently ignored by a fallback path
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val t = tableFor(new CaseInsensitiveStringMap(properties))
    // a commitlog table owns its schema (like Delta): silently READING a
    // user-supplied .schema(...) under the table's own would be a lie.
    // getTable also fronts the WRITE paths though (DataFrameWriter and
    // DataStreamWriter pass the input schema here before falling back to
    // the V1 writers, and evolution/overwrite writes legitimately differ),
    // so the refusal is deferred to scan creation: writes never build one.
    val loadOptions = properties // the caller's map, NOT Table.properties()
    val userSchema = schema // capture: the member defs shadow the params
    if (schema != null && schema.nonEmpty && t.schema().nonEmpty &&
        schema != t.schema())
      new Table with SupportsRead {
        override def name(): String = t.name()
        // report the schema the scan will actually serve if it serves at
        // all: the wrapper only ever builds a scan after confirming the
        // caller's schema matches a fresh resolve (the race case), so
        // declaring the stale t.schema() here would let the relation's
        // output attributes diverge from the scan's readSchema
        override def schema(): StructType = userSchema
        override def partitioning(): Array[Transform] = t.partitioning()
        override def properties(): JMap[String, String] = t.properties()
        override def capabilities(): java.util.Set[TableCapability] =
          t.capabilities()
        override def newScanBuilder(
            options: CaseInsensitiveStringMap): ScanBuilder = {
          // the mismatch may be a RACE, not a user schema: Spark calls
          // inferSchema then getTable on two independently-resolved
          // snapshots, and a schema-changing commit can land between.
          // Re-resolve once — if the caller's schema matches NOW, serve
          // the read; only a genuinely foreign schema refuses.
          val fresh = tableFor(new CaseInsensitiveStringMap(loadOptions))
          fresh match {
            case r: SupportsRead if userSchema == fresh.schema() =>
              r.newScanBuilder(options)
            case _ => throw new UnsupportedOperationException(
              "commitlog does not support user-specified schemas: the " +
                s"table schema is ${fresh.schema().simpleString}, drop " +
                ".schema(...)")
          }
        }
      }
    else t
  }

  /** LEGACY V1 batch READ entry — the Change Data Feed relation over
    * [[CommitLogTable.readChanges]]. `DataFrameReader` no longer routes
    * here (the changeFeed table declares BATCH_READ, so batch CDF rides
    * [[CommitLogCdfScan]]); this remains only for direct V1
    * `RelationProvider` integrations.
    */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    require(wantsCdf(parameters),
      "commitlog: plain batch reads ride the V2 path; this V1 relation " +
        "serves only readChangeFeed=true")
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("commitlog read: missing path"))
    val t = CommitLogTable.open(spark, path)
    val from = parameters.find(_._1.equalsIgnoreCase("startingVersion"))
      .map(_._2.toLong).getOrElse(1L)
    val to = parameters.find(_._1.equalsIgnoreCase("endingVersion"))
      .map(_._2.toLong).getOrElse(t.latestVersion)
    val df = t.readChanges(from, to)
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      override def schema: StructType = df.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.rdd
    }
  }

  /** Partition columns from write options: `partitionCols` (comma-
    * separated) preferred, legacy single-column `partitionCol` accepted.
    */
  private def partitionColsOption(parameters: Map[String, String]): Seq[String] =
    parameters.get("partitionCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(parameters.get("partitionCol").map(Seq(_)))
      .getOrElse(Seq.empty)

  /** V1 batch WRITE path (`df.write.format("commitlog").mode(...)
    * .save(dir)`): DataFrameWriter falls back here because the V2 table
    * deliberately exposes no BATCH_WRITE — every mode maps onto one
    * TRANSACTIONAL table commit (blind append, atomic overwrite), so a
    * plain `df.write` user gets the commit log's atomicity, CDF, and
    * stats without touching the table API. Options: `partitionCols`
    * (comma-separated, used at creation; legacy `partitionCol` accepted),
    * `mergeSchema` (schema evolution on append/overwrite).
    */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("commitlog write: missing path"))
    val partitionCols = partitionColsOption(parameters)
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    val existed = CommitLogTable.exists(path)
    mode match {
      case Append =>
        CommitLogTable.forPath(spark, path, data.schema, partitionCols)
          .append(data, mergeSchema = mergeSchema)
      case Overwrite =>
        if (existed)
          CommitLogTable.open(spark, path)
            .overwrite(data, mergeSchema = mergeSchema)
        else
          CommitLogTable.create(spark, path, data.schema, partitionCols)
            .append(data)
      case ErrorIfExists =>
        if (existed) throw new IllegalStateException(
          s"commitlog table already exists at $path (mode=ErrorIfExists)")
        CommitLogTable.create(spark, path, data.schema, partitionCols)
          .append(data)
      case Ignore =>
        if (!existed)
          CommitLogTable.create(spark, path, data.schema, partitionCols)
            .append(data)
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      override def schema: StructType = data.schema
    }
  }

  /** V1 STREAMING sink (`df.writeStream.format("commitlog")`):
    * exactly-once via the table's idempotent txn appends — the micro-batch
    * id is the txnVersion, so a crash between the append and the
    * checkpoint commit replays the batch and the table recognizes it
    * (the same upgrade `FileStreamIngest`'s commit-log appender makes
    * explicit, here behind the stock writeStream surface). Append mode
    * only. Options: `txnAppId` (defaults to the checkpoint location —
    * distinct streams into one table must not share it), `partitionCol`,
    * `mergeSchema`.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"commitlog sink supports Append output mode only, got $outputMode")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("commitlog sink: missing path"))
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(s"commitlog-sink:$path")
    val partitionCols = {
      val opt = partitionColsOption(parameters)
      if (opt.nonEmpty) opt else partitionColumns
    }
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long,
          data: org.apache.spark.sql.DataFrame): Unit = {
        val batch = org.apache.spark.sql.graftbridge.asBatchFrame(data)
        CommitLogTable
          .forPath(sqlContext.sparkSession, path, batch.schema, partitionCols)
          .append(batch, mergeSchema = mergeSchema,
            txn = Some((appId, batchId)))
      }
      override def toString: String = s"CommitLogSink[$path]"
    }
  }

  /** V1 STREAMING source (`spark.readStream.format("commitlog")
    * .option("path", dir)`) — two modes, the Delta split:
    *
    *  - '''default: the DATA stream''' — normally served by the V2
    *    [[CommitLogMicroBatchStream]] (the table declares
    *    MICRO_BATCH_READ, so DataStreamReader prefers it); the V1
    *    [[CommitLogStreamSource]] twin below remains for direct V1
    *    construction. Initial snapshot then appended rows,
    *    `maxFilesPerTrigger` / `maxBytesPerTrigger` admission,
    *    `skipChangeCommits`. What `spark.readStream.table` gives a
    *    Delta user.
    *  - '''`readChangeFeed=true`: the CDF stream''' — the changeFeed
    *    stub table declares no capabilities, so DataStreamReader falls
    *    back HERE (V1). Each micro-batch
    *    is the change rows of the commit versions between the
    *    checkpointed offset and the current head, tagged `_change_type`
    *    / `_commit_version`. Offsets are commit versions —
    *    deterministic replay (versions are immutable), so exactly-once
    *    falls out of the engine's offset log.
    *
    * Shared options: `startingVersion` (exclude earlier commits — a
    * consumer bootstrapped from a snapshot at V streams with V+1). The
    * declared schema is the table's CURRENT (change) schema; restart a
    * stream after a schema evolution to pick up the widened columns
    * (same contract as any streaming source schema change). Note
    * `vacuumLog` drops old change files with their versions — keep log
    * retention deeper than the slowest consumer's lag.
    */
  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("commitlog source: missing path"))
    val table = CommitLogTable.open(sqlContext.sparkSession, path)
    (shortName(), if (isCdf(parameters)) table.cdfSchema else table.schema)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
    import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("commitlog source: missing path"))
    if (!isCdf(parameters))
      return new CommitLogStreamSource(spark, path, parameters)
    val starting = parameters.get("startingVersion").map(_.toLong).getOrElse(1L)
    val table = CommitLogTable.open(spark, path)
    val declaredSchema = table.cdfSchema
    new Source {
      private def ver(o: V1Offset): Long = o match {
        case l: LongOffset => l.offset
        case s: SerializedOffset => LongOffset(s).offset
        case other => other.json.toLong
      }
      override def schema: StructType = declaredSchema
      override def getOffset: Option[V1Offset] = {
        val head = table.latestVersion
        if (head < starting) None else Some(LongOffset(head))
      }
      override def getBatch(start: Option[V1Offset],
          end: V1Offset): org.apache.spark.sql.DataFrame = {
        val from = start.map(ver(_) + 1).getOrElse(starting)
        org.apache.spark.sql.graftbridge.asStreamingFrame(
          table.readChanges(from, ver(end)))
      }
      override def stop(): Unit = ()
      override def toString: String = s"CommitLogCdfSource[$path]"
    }
  }
}

class CommitLogV2Table(spark: SparkSession, dir: String,
    version: Option[Long]) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private[graft] def tableDir: String = dir
  /** Time-travel pin (None = live) — bounds a table-read CDF's default
    * ending version ([[graft.plans.ResolveCommitLogCdfRelation]]).
    */
  private[graft] def pinnedVersion: Option[Long] = version
  private val table = CommitLogTable.open(spark, dir)
  private[sources] val snap: Manifest = table.resolvedManifest(version)
  // pinned (time-travel) reads fail fast if vacuum already dropped them —
  // same contract as CommitLogTable.read(version)
  version.foreach(v =>
    table.requireFilesPresent(snap, s"commitlog DSv2 read(versionAsOf=$v)"))

  override def name(): String =
    s"commitlog.`$dir`" + version.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = snap.schema
  /** Identity partitioning on the table's partition columns — what SHOW
    * CREATE TABLE / DESCRIBE render as `PARTITIONED BY` and what write
    * distribution planning sees.
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    snap.partitionCols.map(p =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(p))
      .toArray
  override def capabilities(): java.util.Set[TableCapability] =
    // MICRO_BATCH_READ routes readStream.format("commitlog") data
    // streams onto the V2 micro-batch stream (admission control, pinned
    // initialOffset, per-batch filter pruning); readChangeFeed streams
    // still reach the V1 CDF source because the changeFeed stub above
    // declares no capabilities and DataStreamReader falls back
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the change feed through the table read is served by a RELATION
    // swap ([[graft.plans.ResolveCommitLogCdfRelation]] — the relation's
    // output must be the CDF schema, which only the analyzer can change).
    // Reaching HERE with the option means no extension rule ran (a
    // catalog-only session): refuse loudly — serving change-row images
    // pruned to the DATA schema would silently return the wrong multiset
    if (options.getBoolean("readChangeFeed", false))
      throw new UnsupportedOperationException(
        "readChangeFeed through the catalog table read needs the " +
          "graft.GraftExtensions analyzer rule (spark.sql.extensions); " +
          "without it use spark.read.format(\"commitlog\")" +
          ".option(\"readChangeFeed\", true).load(dir) or readChanges")
    new CommitLogScanBuilder(spark, table, snap, options)
  }

  /** Lineage metadata columns (Delta's `_metadata` / Iceberg's `_file`
    * analogue), per-row constants the MANIFEST already knows — selecting
    * them costs zero extra IO: `_file_path` (absolute path of the row's
    * data file), `_file_size` (its bytes), `_partition` (the file's
    * table-partition value string, NULL on unpartitioned tables). A data
    * column with the same name shadows the metadata column (Spark's
    * standard conflict rule).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    CommitLogV2Table.MetaCols
}

object CommitLogV2Table {
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  import org.apache.spark.sql.types.{DataType, LongType, StringType}

  private def metaCol(n: String, dt: DataType, nullable: Boolean,
      doc: String): MetadataColumn = new MetadataColumn {
    override def name(): String = n
    override def dataType(): DataType = dt
    override def isNullable: Boolean = nullable
    override def comment(): String = doc
  }

  private[sources] val MetaCols: Array[MetadataColumn] = Array(
    metaCol("_file_path", StringType, nullable = false,
      "absolute path of the data file holding the row"),
    metaCol("_file_size", LongType, nullable = false,
      "size in bytes of the data file holding the row"),
    metaCol("_partition", StringType, nullable = true,
      "table-partition value string of the row's file (NULL when unpartitioned)"))

  private[sources] val MetaNames: Set[String] = MetaCols.map(_.name).toSet
}

/** Conjuncts a V1 filter contributes that manifest stats can test. An
  * OR contributes nothing (pruning on one branch would be wrong); an
  * AND contributes each provable side — pruning on a subset of
  * conjuncts is always sound. An IN prunes per-value (file survives if
  * ANY member may match); oversized lists skip rather than pay
  * O(files × values) arithmetic.
  */
private[graft] object V1Comparisons {
  def apply(f: Filter): Seq[(String, String, Any)] = f match {
    case sources.EqualTo(a, v) => Seq((a, "=", v))
    case sources.GreaterThan(a, v) => Seq((a, ">", v))
    case sources.GreaterThanOrEqual(a, v) => Seq((a, ">=", v))
    case sources.LessThan(a, v) => Seq((a, "<", v))
    case sources.LessThanOrEqual(a, v) => Seq((a, "<=", v))
    case sources.And(l, r) => apply(l) ++ apply(r)
    case sources.In(a, vs) if vs.length <= 1000 => Seq((a, "in", vs.toSeq))
    case _ => Seq.empty
  }
}

final class CommitLogScanBuilder(spark: SparkSession, table: CommitLogTable,
    snap: Manifest,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = snap.schema
  private var outputSchema: StructType = snap.schema
  private var accepted: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Seq[Any]])] = None

  private def comparisons(f: Filter): Seq[(String, String, Any)] =
    V1Comparisons(f)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => comparisons(f).nonEmpty)
    filters // everything stays residual: stats pruning is never the filter
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** `requiredSchema` may interleave requested METADATA columns
    * (`_file_path`…) with data columns; keep the full requested shape
    * for the scan's output order, and the data-only projection for the
    * parquet read. A data column sharing a metadata name shadows it.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    outputSchema = requiredSchema
    required = StructType(requiredSchema.fields.filterNot(f =>
      CommitLogV2Table.MetaNames.contains(f.name) &&
        !snap.schema.fieldNames.contains(f.name)))
  }

  /** METADATA-ONLY aggregation: `COUNT(*)` / `MIN(col)` / `MAX(col)`,
    * global OR grouped by the table's partition column, answers from
    * the manifest — file row counts, per-file stats, per-file partition
    * values — with ZERO data scanned: at 100 TB a per-day count rollup
    * (the reference's monitoring queries, docs/databricks_setup.md) is
    * a driver-side fold over the resolved snapshot, the trick
    * Delta/Iceberg's metadata-only query optimization plays. Refused
    * (→ normal scan) whenever metadata can't answer exactly: any
    * merge-on-read delete mark (hidden rows), a stat-less file for the
    * min/max column, grouping on anything but the partition column, a
    * partition value string that doesn't round-trip the column's type,
    * or a residual filter (Spark only attempts the pushdown when every
    * filter was fully consumed, which this source never claims — so
    * filtered aggregates always take the row path).
    */
  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types._
    // merge-on-read state (predicate marks OR adopted deletion vectors)
    // invalidates manifest-only answers: counts and bounds must come
    // from the filtered scan
    if (snap.files.exists(f =>
        f.pendingDelete.isDefined || f.adoptedDv.isDefined)) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          snap.schema.fields.find(_.name == r.fieldNames.head)
        case _ => None
      }
    // stats string → internal value of the column's type (dates ride
    // epoch-day ints, timestamps epoch-micro longs — the same physical
    // encodings footerInfo recorded)
    def internal(f: StructField, s: String): Option[Any] =
      try f.dataType match {
        case ByteType => Some(s.toByte)
        case ShortType => Some(s.toShort)
        case IntegerType | DateType => Some(s.toInt)
        case LongType | TimestampType => Some(s.toLong)
        case FloatType => Some(s.toFloat)
        case DoubleType => Some(s.toDouble)
        case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      } catch { case _: NumberFormatException => None }
    def bound(fs: Seq[LogFile], f: StructField, takeMax: Boolean): Option[Any] = {
      if (fs.isEmpty) return Some(null) // empty table: NULL min/max
      val phys = snap.columnMapping.getOrElse(f.name, f.name)
      val perFile = fs.map(_.stats.get(phys))
      if (!perFile.forall(_.isDefined)) return None // a stat-less file
      val parsed = perFile.map(_.get).map(mm => if (takeMax) mm._2 else mm._1)
      val best = f.dataType match {
        case StringType => Some(if (takeMax) parsed.max else parsed.min)
        case _ =>
          // footer stats can record non-decimal forms ('Infinity', 'NaN')
          // for float/double columns — fall back to the row-path aggregate
          // rather than throwing mid-planning
          try {
            val nums = parsed.map(BigDecimal(_))
            val b = if (takeMax) nums.max else nums.min
            Some(parsed(nums.indexOf(b)))
          } catch { case _: NumberFormatException => None }
      }
      best.flatMap(internal(f, _))
    }
    // one aggregate row over a file group: (schema fields, values)
    def aggRow(fs: Seq[LogFile]): Option[Seq[(StructField, Any)]] = {
      val out = agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some((StructField("count", LongType, nullable = false),
            fs.map(_.rows).sum: Any))
        case m: Min => colOf(m.column).flatMap(f =>
          bound(fs, f, takeMax = false)
            .map(v => (StructField("min", f.dataType), v)))
        case m: Max => colOf(m.column).flatMap(f =>
          bound(fs, f, takeMax = true)
            .map(v => (StructField("max", f.dataType), v)))
        case _ => None
      }
      if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
    }
    agg.groupByExpressions().toSeq match {
      case Nil =>
        aggRow(snap.files).map(r => (StructType(r.map(_._1)), Seq(r.map(_._2))))
      case groups =>
        // grouped: answerable only when EVERY grouping expression names
        // one of the table's PARTITION columns — each group is then a
        // manifest file subset keyed by its recorded partition tuple.
        // Spark's pushdown contract expects ONE output key column PER
        // groupBy expression (duplicated expressions included), so the
        // key columns are emitted positionally from `groups`, not from
        // the distinct column set.
        if (snap.partitionCols.isEmpty) return None
        // each grouping expression → index of the partition column it names
        val groupIdx: Seq[Int] = groups.map {
          case r: NamedReference if r.fieldNames.length == 1 =>
            snap.partitionCols.indexOf(r.fieldNames.head)
          case _ => -1
        }
        if (groupIdx.exists(_ < 0)) return None
        val groupFields = groupIdx.map(i =>
          snap.schema.fields.find(_.name == snap.partitionCols(i))
            .getOrElse(return None))
        // a file without a full partition tuple can't be placed in any group
        if (snap.files.exists(_.partitionVals.length != snap.partitionCols.length))
          return None
        val hiveNull = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        // a STRING partition column conflates "" and NULL in the
        // directory marker (Spark's dynamic-partition writer maps both
        // to the Hive default), but the data files physically carry the
        // column — the row path distinguishes them, so a marker-bearing
        // string partition must fall back rather than return a key the
        // row path wouldn't
        val usedIdx = groupIdx.distinct
        if (usedIdx.exists { i =>
          groupFields(groupIdx.indexOf(i)).dataType == StringType &&
            snap.files.exists(_.partitionVals(i) == hiveNull)
        }) return None
        // grouping is over the DISTINCT referenced columns' value tuples
        // (a duplicated groupBy expression re-reads the same value)
        val rows = snap.files.groupBy(f => usedIdx.map(f.partitionVals)).toSeq
          .map { case (tuple, fs) =>
            val keys: Seq[Option[Any]] = groupIdx.zip(groupFields).map {
              case (i, fld) =>
                val pv = tuple(usedIdx.indexOf(i))
                if (pv == hiveNull) Some(null)
                else internal(fld, pv) // None = string doesn't round-trip
            }
            for {
              ks <- if (keys.exists(_.isEmpty)) None
                    else Some(keys.map(_.get))
              r <- aggRow(fs)
            } yield (ks, r)
          }
        if (rows.exists(_.isEmpty)) return None
        val done = rows.map(_.get)
        // field shapes from any group, or (empty table: zero groups) from
        // the aggregate exprs alone — unsupported exprs refuse either way
        val aggFields = done.headOption.map(_._2.map(_._1))
          .orElse(aggRow(Nil).map(_.map(_._1)))
          .getOrElse(return None)
        Some((StructType(groupFields ++ aggFields),
          done.map { case (ks, r) => ks ++ r.map(_._2) }))
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new CommitLogAggScan(snap, schema, row)
    case None =>
      new CommitLogScan(spark, table, snap, required, outputSchema,
        accepted.flatMap(comparisons).toSeq, accepted.toSeq,
        options.entrySet().asScala
          .map(e => e.getKey.toLowerCase(java.util.Locale.ROOT) -> e.getValue)
          .toMap)
  }
}

/** The scan a completely-pushed metadata aggregate resolves to: no data
  * files, a single empty input partition yielding the pre-computed rows
  * (one for a global aggregate, one per table partition for a grouped
  * one — at most the table's partition count, driver-sized by
  * construction).
  */
final class CommitLogAggScan(snap: Manifest, aggSchema: StructType,
    rows: Seq[Seq[Any]]) extends Scan with Batch with Serializable {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"CommitLogAggScan metadata-only ${aggSchema.fieldNames.mkString("[", ",", "]")} " +
      s"${rows.size} rows over ${snap.files.size} manifest entries"
  override def planInputPartitions(): Array[InputPartition] =
    Array(new InputPartition {})
  override def createReaderFactory(): PartitionReaderFactory = {
    val data = rows.map(_.toArray).toArray
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < data.length }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(data(i))
          override def close(): Unit = ()
        }
    }
  }
}

final class CommitLogScan(spark: SparkSession, table: CommitLogTable,
    snap: Manifest, required: StructType, outputSchema: StructType,
    preds: Seq[(String, String, Any)], pushed: Seq[Filter],
    options: Map[String, String] = Map.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Files surviving COMPILE-TIME stats pruning: every pushed conjunct
    * must be a possible match (the same conservative prover the
    * lazy-delete mark path uses — unprovable shapes keep the file).
    * Runtime filters ([[filter]]) narrow this further before partition
    * planning.
    */
  private[graft] var prunedFiles: Seq[LogFile] =
    snap.files.filter(f =>
      preds.forall(p => table.lazyDeleteMayMatch(snap, f, Some(p))))
  private[graft] def totalFiles: Int = snap.files.size

  /** Dynamic partition pruning / runtime group filtering (SPARK-35779):
    * a join against a selective dimension re-prunes THIS scan's file
    * list at execution start with the dim's actual key set — the DSv2
    * hook behind Delta/Iceberg's DPP. Any column with a manifest stat on
    * every live file is filterable (at 100 TB the fact side never lists
    * a file the dim's keys provably can't touch). An IN set is pruned
    * per-value (file survives if ANY value may match); oversized sets
    * (>10k values) skip pruning rather than pay O(files × values)
    * driver arithmetic.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns of the PRUNED output (Spark resolves these against the
    // scan relation's output — a projected-away column can't anchor a DPP
    // subquery anyway) that carry a stat on every live file
    val statted = required.fieldNames.filter { n =>
      val phys = snap.columnMapping.getOrElse(n, n)
      snap.files.nonEmpty && snap.files.forall(_.stats.contains(phys))
    }
    statted.map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit =
    prunedFiles = prunedFiles.filter(f => filters.forall(flt =>
      CommitLogTable.filterMayMatch(flt, (a, op, v) =>
        table.lazyDeleteMayMatch(snap, f, Some((a, op, v))))))

  /** V2 runtime-filter entry point — the one Spark's BatchScanExec
    * actually calls ([[translateRuntimeFilterV2]] emits `IN(col,
    * lit...)`). Converted by hand because `PredicateUtils` is
    * `private[sql]`; only the shapes DPP produces are handled, anything
    * else falls through unpruned (never unsound).
    */
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val v1: Array[Filter] = predicates.flatMap { p =>
      val kids = p.children()
      val col = kids.headOption.collect {
        case nr: NamedReference => nr.fieldNames.mkString(".")
      }
      (p.name(), col) match {
        case ("IN", Some(c)) =>
          val lits = kids.tail.flatMap {
            case lv: org.apache.spark.sql.connector.expressions.Literal[_] =>
              Some(CatalystTypeConverters.convertToScala(lv.value, lv.dataType))
            case _ => None
          }
          // a non-literal member means we can't see the full key set: no pruning
          if (lits.length == kids.length - 1) Some(sources.In(c, lits.toArray[Any]))
          else None
        case ("=", Some(c)) => kids.lift(1).collect {
          case lv: org.apache.spark.sql.connector.expressions.Literal[_] =>
            sources.EqualTo(c,
              CatalystTypeConverters.convertToScala(lv.value, lv.dataType))
        }
        case _ => None
      }
    }
    filter(v1)
  }

  /** Planning-time statistics from the manifest (post static pruning):
    * actual bytes and rows, so AQE and join strategy see the PRUNED scan
    * size — a filtered commitlog fact can broadcast when it really is
    * small, instead of defaulting to the huge fallback size.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val fs = prunedFiles
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, fs.map(_.bytes).sum))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(fs.map(_.rows).sum)
    }

  // ---- storage-partitioned joins (SPARK-37375, the Iceberg pattern) ----

  private def partitionFields: Seq[org.apache.spark.sql.types.StructField] =
    snap.partitionCols.flatMap(p =>
      snap.schema.fields.find(_.name.equalsIgnoreCase(p)))

  /** File groups keyed by the table's partition TUPLE, each value in
    * its INTERNAL Catalyst form — the unit of a storage-partitioned
    * join (composite keys report a multi-expression
    * KeyGroupedPartitioning, exactly Iceberg's multi-identity shape).
    * None when the scan can't guarantee key-grouping: no partition
    * columns, a partition column was projected away (nothing to resolve
    * the key against), a pre-partitioning file with no full tuple, or a
    * value string that doesn't round-trip through a TRY cast.
    * Recomputed per call (cheap driver arithmetic) so runtime filtering
    * ([[filter]]) and partition planning always agree on the groups.
    */
  private def keyedGroups: Option[Seq[(InternalRow, Seq[LogFile])]] = {
    val fields = partitionFields
    if (fields.length != snap.partitionCols.length || fields.isEmpty) return None
    if (!fields.forall(f =>
          required.fieldNames.exists(_.equalsIgnoreCase(f.name))) ||
        prunedFiles.isEmpty ||
        prunedFiles.exists(_.partitionVals.length != fields.length)) None
    else {
      import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
      val sentinel = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
      // group by the STRING tuple the writer serialized (canonical per
      // value — every file of one partition carries identical strings)
      val keyed = prunedFiles.groupBy(_.partitionVals).toSeq
        .sortBy(_._1.mkString("\u0000"))
        .map { case (tuple, fs) =>
          val vs = tuple.zip(fields).map { case (s, f) =>
            val v =
              if (s == sentinel) null // partitionBy's NULL-value sentinel
              else Cast(Literal(
                org.apache.spark.unsafe.types.UTF8String.fromString(s),
                org.apache.spark.sql.types.StringType),
                f.dataType, zone, EvalMode.TRY).eval()
            (s, v)
          }
          (vs, fs)
        }
      if (keyed.exists { case (vs, _) =>
            vs.exists { case (s, v) => v == null && s != sentinel } }) None
      else Some(keyed.map { case (vs, fs) =>
        (new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vs.map(_._2).toArray[Any]): InternalRow, fs)
      })
    }
  }

  /** Reported whenever the file list is key-groupable; INERT until
    * `spark.sql.sources.v2.bucketing.enabled` — with it off (the
    * default) the tagged splits flow flat at today's byte-balanced
    * parallelism, with it on Spark coalesces each key's splits into one
    * task and a join/aggregate clustered on the partition column runs
    * with NO shuffle on this side (the `q_table_spj` plan shows two
    * commitlog scans meeting in a SortMergeJoin with zero
    * ShuffleExchange). The conf stays opt-in because key-grouped
    * execution caps scan parallelism at #partitions — the right trade
    * only when the shuffle saved outweighs it (Iceberg ships the same
    * way).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedGroups match {
      case Some(g) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(partitionFields.map(f =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(f.name): org.apache.spark.sql.connector
              .expressions.Expression).toArray, g.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def readSchema(): StructType = outputSchema
  override def toBatch: Batch = this
  override def description(): String = {
    val pf = prunedFiles.size
    s"CommitLogScan ${snap.schema.fieldNames.mkString("[", ",", "]")} " +
      s"files=$pf/${snap.files.size} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"
  }

  private def phys(name: String): String =
    snap.columnMapping.getOrElse(name, name)
  private def toPhysical(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = phys(f.name))))

  /** Pushed filters under physical names, for parquet row-group/page
    * skipping inside the file reader (a filter naming a column an old
    * file lacks is skipped by Spark's ParquetFilters — safe under
    * evolution).
    */
  private def physFilters: Array[Filter] = {
    def rename(f: Filter): Option[Filter] = f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(phys(a), v))
      case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(phys(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
      case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(phys(a), v))
      case sources.And(l, r) => for { l2 <- rename(l); r2 <- rename(r) } yield sources.And(l2, r2)
      case _ => None
    }
    pushed.flatMap(rename).toArray
  }

  /** Byte-balanced split size for a file set — the arithmetic Spark's
    * own file sources run (`maxPartitionBytes` / `openCostInBytes` /
    * default parallelism).
    */
  private def splitSize(fs: Seq[LogFile]): Long = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPart = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val totalBytes = fs.map(_.bytes + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minPart)
    math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
  }

  private def splitFiles(fs: Seq[LogFile], maxSplit: Long): Seq[PartitionedFile] =
    fs.flatMap { f =>
      val abs = table.dataPath(f).toString
      (0L until math.max(1L, f.bytes) by maxSplit).map { off =>
        PartitionedFile(InternalRow.empty, SparkPath.fromPathString(abs),
          off, math.min(maxSplit, f.bytes - off), Array.empty, 0L, f.bytes)
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = splitSize(prunedFiles)
    def splits(fs: Seq[LogFile]): Seq[PartitionedFile] = splitFiles(fs, maxSplit)
    keyedGroups match {
      case Some(groups) =>
        // byte-balanced splits WITHIN each key group, every split tagged
        // with the group's key — flat execution keeps full parallelism,
        // key-grouped execution (v2.bucketing) coalesces per key
        var i = -1
        groups.flatMap { case (key, fs) =>
          FilePartition.getFilePartitions(spark, splits(fs), maxSplit).map {
            fp => i += 1; new KeyedFilePartition(i, fp.files, key) }
        }.toArray[InputPartition]
      case None =>
        FilePartition.getFilePartitions(spark, splits(prunedFiles), maxSplit)
          .toArray
    }
  }

  /** Requested metadata fields, in output order — the fields
    * pruneColumns split out of `required`.
    */
  private def metaFields: Seq[org.apache.spark.sql.types.StructField] =
    outputSchema.fields.toSeq.filter(f =>
      CommitLogV2Table.MetaNames.contains(f.name) &&
        !snap.schema.fieldNames.contains(f.name))

  // ---- streaming (micro-batch) read path ----

  /** `readStream.table(...)` entry point (see
    * [[CommitLogMicroBatchStream]]): same pinned snapshot, pushed
    * filters, and read machinery as the batch scan.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(metaFields.isEmpty,
      "commitlog streaming read does not support metadata columns " +
        s"(requested: ${metaFields.map(_.name).mkString(", ")})")
    new CommitLogMicroBatchStream(spark, table, table.dir, this,
      snap.version, options)
  }

  /** Filters the per-micro-batch OPTIMIZER rule
    * ([[graft.plans.PushFiltersIntoCommitLogStream]]) hands over: Spark
    * builds streaming scans with NO pushdown pass, so without the rule
    * a filtered `readStream.table` would read every added file. Set
    * before each batch's execution; the Filter node itself always stays
    * in the plan, so pruning here is purely an optimization.
    */
  @volatile private var streamFilters: Seq[Filter] = Seq.empty
  private[graft] def setStreamFilters(fs: Seq[Filter]): Unit =
    streamFilters = fs

  /** Plan one micro-batch: predicates stats-prune the batch's files
    * (same conservative prover as the batch path; every filter stays
    * residual), then byte-balanced splits. No SPJ keying — streaming
    * joins reshuffle anyway.
    */
  private[sources] def planStreamPartitions(files: Seq[LogFile])
      : Array[InputPartition] = {
    val all = preds ++ streamFilters.flatMap(V1Comparisons(_))
    val kept = files.filter(f =>
      all.forall(p => table.lazyDeleteMayMatch(snap, f, Some(p))))
    FilePartition.getFilePartitions(spark,
      splitFiles(kept, splitSize(kept)), splitSize(kept)).toArray
  }

  /** Reader factory for the stream: mark handling built over
    * `markFiles` (the pinned snapshot — the only files that can carry
    * merge-on-read marks on a data stream), never metadata columns
    * (refused in [[toMicroBatchStream]]).
    */
  private[sources] def streamReaderFactory(markFiles: Seq[LogFile])
      : PartitionReaderFactory = mkReaderFactory(markFiles)

  override def createReaderFactory(): PartitionReaderFactory =
    mkReaderFactory(prunedFiles)

  private def mkReaderFactory(markSource: Seq[LogFile]): PartitionReaderFactory = {
    // mark-referenced logical columns must be read (then projected out)
    // so the row-level pendingDelete filter can evaluate
    val prunedFiles = markSource
    val markRefs: Seq[String] = prunedFiles.flatMap(_.pendingDelete).distinct
      .flatMap(table.sqlRefs).distinct
    val extraFields = markRefs
      .flatMap(r => snap.schema.fields.find(_.name.equalsIgnoreCase(r)))
      .filterNot(f => required.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .distinct
    // attached (manifest-valued) columns may be ABSENT from adopted
    // files' parquet schemas; a NOT NULL declaration would make the
    // vectorized reader refuse the file outright ("Required column is
    // missing") — read them nullable, the coalesce bindings below
    // restore the manifest value
    val attachedNames: Set[String] =
      markSource.flatMap(_.manifestVals.keys).toSet
    def relaxed(s: StructType): StructType = StructType(s.fields.map(f =>
      if (attachedNames.contains(f.name)) f.copy(nullable = true) else f))
    val extendedLogical = relaxed(StructType(required.fields ++ extraFields))
    // adopted deletion vectors filter POSITIONALLY: the scan requests
    // Spark's row-index temp column, which the parquet reader fills
    // with each row's file ordinal (split- and row-group-skip-exact —
    // the same mechanism `_metadata.row_index` rides), and the
    // assembling reader drops rows whose index the file's bitmap marks
    val dvFiles = prunedFiles.filter(_.adoptedDv.isDefined)
    val needRowIdx = dvFiles.nonEmpty
    // nullable: the column never exists in files — the reader's
    // required-missing check must pass it through to the row-index
    // generator (which fills it by NAME), not refuse the file
    val rowIdxField = org.apache.spark.sql.types.StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)
    val physRead =
      if (!needRowIdx) toPhysical(extendedLogical)
      else StructType(toPhysical(extendedLogical).fields :+ rowIdxField)
    val physData = toPhysical(relaxed(snap.schema))

    val inner = CommitLogParquet.factory(spark, physData, physRead, physFilters)

    val marked = prunedFiles.filter(_.pendingDelete.isDefined)
    val meta = metaFields
    // columns some pruned file serves from the MANIFEST instead of its
    // parquet bytes (adopted Hive/Delta layouts — LogFile.manifestVals):
    // the physical read of such a column is all-NULL for that file, so
    // the output binds coalesce(data, per-file constant) below. Fields
    // ordered by their extendedLogical position.
    val attachedFields: Seq[org.apache.spark.sql.types.StructField] = {
      val names = prunedFiles.flatMap(_.manifestVals.keys).distinct
      extendedLogical.fields.toSeq.filter(f => names.contains(f.name))
    }
    if (marked.isEmpty && extraFields.isEmpty && meta.isEmpty &&
        attachedFields.isEmpty && !needRowIdx) inner
    else {
      // ordinal base for the bindings below: the raw row is
      // extendedLogical (+ the trailing row-index temp column when DV
      // files are in scope), then the per-file metadata constants
      val dataWidth = extendedLogical.length + (if (needRowIdx) 1 else 0)
      // bind each distinct mark predicate against the EXTENDED logical
      // schema via the analyzer (type coercion included), then rebase the
      // resolved attributes onto positional BoundReferences — the rows
      // the factory produces are positional physical reads of
      // extendedLogical
      val bound: Map[String, Expression] =
        prunedFiles.flatMap(_.pendingDelete).distinct.map { pd =>
          val df = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), extendedLogical)
          val analyzed = df.filter(org.apache.spark.sql.functions.expr(pd))
            .queryExecution.analyzed
          val (cond, out) = analyzed match {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              (f.condition, f.child.output)
            case other => throw new IllegalStateException(
              s"unexpected analyzed mark plan: $other")
          }
          pd -> cond.transform {
            case a: AttributeReference =>
              BoundReference(out.indexWhere(_.exprId == a.exprId),
                a.dataType, a.nullable)
          }
        }.toMap
      // the executor looks these maps up by file.filePath.toString, which
      // is SparkPath's URI-encoded form (splitFiles builds splits via
      // SparkPath.fromPathString) — a raw-path key silently misses when a
      // segment URI-encodes differently (space in the table dir, '%' or
      // ':' in a Hive-escaped partition value), dropping delete marks and
      // metadata rows. Key with the identical encoding.
      def splitKey(f: LogFile): String =
        CommitLogParquet.sparkPathKey(table.dataPath(f).toString)
      val perPath: Map[String, Expression] = prunedFiles
        .filter(_.pendingDelete.isDefined)
        .map(f => splitKey(f) -> bound(f.pendingDelete.get))
        .toMap
      // per-file constants, already internal-typed; keyed by the same
      // absolute path string the executor's PartitionedFile has. Layout:
      // metadata-column values first, then one slot per attached
      // (manifest-valued) field — NULL for files that carry the column
      // physically, so the coalesce bindings below fall through to the
      // data read.
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      val metaByPath: Map[String, InternalRow] =
        if (meta.isEmpty && attachedFields.isEmpty) Map.empty
        else prunedFiles.map { f =>
          val abs = table.dataPath(f).toString
          val metaVals: Seq[Any] = meta.map(_.name match {
            case "_file_path" =>
              org.apache.spark.unsafe.types.UTF8String.fromString(abs)
            case "_file_size" => f.bytes
            case "_partition" =>
              if (f.partitionVals.isEmpty) null
              else org.apache.spark.unsafe.types.UTF8String
                .fromString(f.partitionKey)
            case other => throw new IllegalStateException(
              s"unknown metadata column $other")
          })
          val attVals: Seq[Any] = attachedFields.map(af =>
            f.manifestVals.get(af.name)
              .map(CommitLogTable.internalManifestValue(_, af.dataType, zone))
              .orNull)
          splitKey(f) -> (new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow((metaVals ++ attVals).toArray): InternalRow)
        }.toMap
      def attachedRef(f: org.apache.spark.sql.types.StructField,
          ai: Int): Expression =
        BoundReference(dataWidth + meta.length + ai,
          f.dataType, nullable = true)
      // output bindings over JoinedRow(extendedRow, metaRow): data fields
      // by their extended position, metadata fields after the extension,
      // attached fields as coalesce(data, per-file constant) — a flagged
      // file's physical read is all-NULL, an unflagged file's constant
      // slot is NULL, so one projection shape serves both
      val out: Seq[Expression] = outputSchema.fields.toSeq.map { f =>
        val mi = meta.indexWhere(_.name == f.name)
        if (mi >= 0)
          BoundReference(dataWidth + mi, f.dataType, f.nullable)
        else {
          val di = extendedLogical.fieldNames.indexOf(f.name)
          val ai = attachedFields.indexWhere(_.name == f.name)
          // an attached (manifest-valued) column reads NULL from files
          // that don't carry it physically — the data-side reference
          // must be nullable even when the table schema says NOT NULL,
          // or codegen never consults the null bit and the coalesce
          // never falls through to the manifest value
          val dataRef =
            BoundReference(di, f.dataType, nullable = f.nullable || ai >= 0)
          if (ai >= 0)
            org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(dataRef, attachedRef(attachedFields(ai), ai)))
          else dataRef
        }
      }
      // mark predicates evaluate over the SAME joined row: rewrite any
      // reference to an attached column into the same coalesce, so a
      // lazy-delete predicate over an adopted file's partition column
      // sees the manifest value instead of the parquet NULL
      val attachedByOrdinal: Map[Int, Expression] =
        attachedFields.map { af =>
          extendedLogical.fieldNames.indexOf(af.name) ->
            attachedRef(af, attachedFields.indexOf(af))
        }.toMap
      val perPathAttached: Map[String, Expression] =
        if (attachedByOrdinal.isEmpty) perPath
        else perPath.map { case (k, e) => k -> e.transformUp {
          // transformUp: the produced Coalesce is not re-descended, so
          // the inner reference is wrapped exactly once
          case b: BoundReference
              if b.ordinal < extendedLogical.length &&
                attachedByOrdinal.contains(b.ordinal) =>
            // same nullability rule as the output bindings: the data
            // slot is NULL for manifest-served files regardless of the
            // declared schema nullability
            org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(b.copy(nullable = true), attachedByOrdinal(b.ordinal)))
        } }
      // resolved-once-on-the-driver DV bitmaps, broadcast serialized
      // (compact), keyed like every other per-file map; the reader
      // deserializes each at most once per executor (DvLookup cache)
      val dvLookup: Option[graft.tables.DvLookup] =
        if (!needRowIdx) None
        else Some(new graft.tables.DvLookup(spark.sparkContext.broadcast(
          dvFiles.flatMap(f => f.adoptedDv.map { enc =>
            splitKey(f) -> graft.tables.DeletionVectors.resolveData(
              table.dir, graft.tables.DeletionVectors.decodeDescriptor(enc))
          }).toMap)))
      AssemblingReaderFactory(inner, perPathAttached, dataWidth,
        metaByPath, out, dvLookup,
        if (needRowIdx) extendedLogical.length else -1)
    }
  }
}

/** Row-assembly wrapper over the stock parquet reader factory (see
  * [[AssemblingReaderFactory]] below): per-file merge-on-read delete
  * filtering (TRUE drops; NULL keeps — SQL DELETE semantics, matching
  * `CommitLogTable.readFiles`), then one projection from the extended
  * read row + the file's metadata-column constants to the scan's
  * requested output. Row-based only — marked or metadata-selecting
  * reads trade the columnar fast path; plain reads bypass the wrapper
  * entirely.
  */
/** A [[FilePartition]] (so the stock parquet reader factories accept it
  * unchanged) that also carries its table-partition key, making it
  * eligible for Spark's key-grouped (storage-partitioned-join)
  * execution. `key` is the partition value in internal Catalyst form,
  * single-column.
  */
final class KeyedFilePartition(idx: Int,
    fs: Array[PartitionedFile],
    key: InternalRow)
    extends FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

final case class AssemblingReaderFactory(
    inner: ParquetPartitionReaderFactory,
    predicates: Map[String, Expression],
    extendedLen: Int,
    metaByPath: Map[String, InternalRow],
    out: Seq[Expression],
    dvLookup: Option[graft.tables.DvLookup] = None,
    rowIdxOrdinal: Int = -1) extends FilePartitionReaderFactory {

  override def options: org.apache.spark.sql.catalyst.FileSourceOptions =
    inner.options
  override def supportColumnarReads(p: InputPartition): Boolean = false

  /** Output is the extended row unchanged: no reorder, no meta, no drop. */
  private def isIdentity: Boolean =
    out.length == extendedLen &&
      out.zipWithIndex.forall {
        case (b: BoundReference, i) => b.ordinal == i
        case _ => false
      }

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val raw = inner.buildReader(file)
    val predExpr = predicates.get(file.filePath.toString)
    // adopted-DV probe for THIS file: row indexes the bitmap marks are
    // logically deleted and never surface (rowIdxOrdinal names the
    // row-index temp column the parquet reader filled)
    val fp = file.filePath.toString
    val dvProbe: Option[Long => Boolean] =
      if (rowIdxOrdinal < 0) None
      else dvLookup.filter(_.has(fp)).map(lk => (ri: Long) => lk.deleted(fp, ri))
    if (predExpr.isEmpty && dvProbe.isEmpty && isIdentity) raw
    else new PartitionReader[InternalRow] {
      private val pred = predExpr.map(CatalystPredicate.create) // executor-side codegen
      private val metaRow =
        metaByPath.getOrElse(file.filePath.toString, InternalRow.empty)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      // ONE projection shape for every file (meta and attached values
      // ride the joined row, not per-file literals), so codegen
      // compiles once per task
      private val proj = UnsafeProjection.create(out)
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (raw.next()) {
          val r = raw.get()
          val dvHit = dvProbe.exists(p => p(r.getLong(rowIdxOrdinal)))
          // predicates may reference attached per-file constants (the
          // coalesce rewrite) — evaluate over the same joined shape the
          // output projection uses
          if (!dvHit && !pred.exists(_.eval(joined(r, metaRow)))) {
            row = r; return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(joined(row, metaRow))
      override def close(): Unit = raw.close()
    }
  }
}

/** Shared construction of the stock [[ParquetPartitionReaderFactory]]
  * — the factory `ParquetScan` itself builds, with every no-default
  * Hadoop-conf entry planted (the converter constructors read them with
  * `conf.get(key).toBoolean`, which throws on an absent key). Used by
  * the batch/data-stream scan ([[CommitLogScan]]) and the CDF
  * micro-batch stream.
  */
private[sources] object CommitLogParquet {
  /** The URI-encoded form `PartitionedFile.filePath.toString` carries on
    * the executor — the ONLY safe key for per-file lookup maps (raw
    * paths diverge on spaces/'%'/':' in path segments).
    */
  def sparkPathKey(abs: String): String =
    SparkPath.fromPathString(abs).toString

  def factory(spark: SparkSession, physData: StructType,
      physRead: StructType, physFilters: Seq[Filter])
      : ParquetPartitionReaderFactory = {
    val hc: Configuration = spark.sessionState.newHadoopConf()
    hc.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hc.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, physRead.json)
    hc.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, physRead.json)
    ParquetWriteSupport.setSchema(physRead, hc)
    locally {
      import org.apache.spark.sql.internal.SQLConf
      val sqlConf = spark.sessionState.conf
      Seq(SQLConf.PARQUET_BINARY_AS_STRING,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP,
        SQLConf.CASE_SENSITIVE,
        SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
        SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
        SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
        SQLConf.VARIANT_ALLOW_READING_SHREDDED)
        .foreach(e => hc.setBoolean(e.key, sqlConf.getConf(e)))
      hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
      hc.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
        sqlConf.nestedSchemaPruningEnabled)
      hc.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    }
    val broadcasted =
      spark.sparkContext.broadcast(new SerializableConfiguration(hc))
    ParquetPartitionReaderFactory(
      spark.sessionState.conf, broadcasted, physData, physRead,
      new StructType(), physFilters.toArray, None,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
  }

  /** Byte-balanced [[FilePartition]]s over absolute paths — the same
    * `maxPartitionBytes`/`openCostInBytes` arithmetic Spark's file
    * sources run, for file lists that aren't manifest [[LogFile]]s
    * (the CDF stream's change files).
    */
  def filePartitions(spark: SparkSession, files: Seq[(String, Long)])
      : Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPart = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val totalBytes = files.map(_._2 + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minPart)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val splits = files.flatMap { case (abs, bytes) =>
      (0L until math.max(1L, bytes) by maxSplit).map { off =>
        PartitionedFile(InternalRow.empty, SparkPath.fromPathString(abs),
          off, math.min(maxSplit, bytes - off), Array.empty, 0L, bytes)
      }
    }
    FilePartition.getFilePartitions(spark, splits, maxSplit)
      .toArray[InputPartition]
  }
}

/** The `readChangeFeed=true` table behind the FORMAT path
  * (`spark.read[.readStream].format("commitlog").option("readChangeFeed",
  * true)`): both batch and streaming resolve to the same
  * [[CommitLogCdfScan]] the catalog table read uses — ONE code path for
  * every CDF surface. (The V1 `RelationProvider` change relation remains
  * only as the legacy direct-V1 entry; `DataFrameReader` never reaches
  * it now that this table declares BATCH_READ.)
  */
final class CommitLogCdfTable(spark: SparkSession, path: String,
    endBound: Option[Long] = None)
    extends Table with SupportsRead {
  private val table = CommitLogTable.open(spark, path)

  override def name(): String = s"commitlog.`$path` (changeFeed)"
  override def schema(): StructType = table.cdfSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitLogCdfScanBuilder(spark, table, path,
      options.entrySet().asScala
        .map(e => e.getKey.toLowerCase(java.util.Locale.ROOT) ->
          e.getValue).toMap,
      endBound)
}

/** CDF scan builder with column pruning — the only pushdown that makes
  * sense on a change feed (filters can't prune change FILES: a commit's
  * changes are one opaque blob until read).
  */
private[sources] final class CommitLogCdfScanBuilder(spark: SparkSession,
    table: CommitLogTable, dir: String, options: Map[String, String],
    pin: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var pruned: Option[StructType] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = Some(requiredSchema)
  override def build(): Scan =
    new CommitLogCdfScan(spark, table, dir, options, pin, pruned)
}

/** The change feed as a DSv2 Scan — what
  * `spark.read.option("readChangeFeed", true).table(t)` (batch) and
  * `spark.readStream.option("readChangeFeed", true).table(t)`
  * (streaming) resolve to through the catalog: Delta's table-read CDF
  * spelling. Batch plans the `(startingVersion..endingVersion)` range's
  * change files directly (default 1..snapshot version — a time-travel
  * pin bounds the end); streaming delegates to
  * [[CommitLogCdfMicroBatchStream]]. Both serve rows via the same
  * per-file `_commit_version`-backfilling reader, so table-read CDF ≡
  * format-read CDF ≡ `readChanges` by construction.
  */
final class CommitLogCdfScan(spark: SparkSession, table: CommitLogTable,
    dir: String, options: Map[String, String], pin: Option[Long],
    pruned: Option[StructType] = None)
    extends Scan with Batch {

  // column pruning: a 2-column projection over a wide table's feed must
  // not scan every column — the builder's pruneColumns lands here
  private val logicalSchema = pruned.getOrElse(table.cdfSchema)
  override def readSchema(): StructType = logicalSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"CommitLogCdfScan $dir ReadSchema: ${logicalSchema.simpleString}"

  /** Default start (no option) clamps to the oldest SURVIVING version —
    * the from-the-beginning read over a log-vacuumed table serves the
    * survivors (the retention contract). An EXPLICIT startingVersion
    * below the floor reaches [[CommitLogTable.changeFilesAt]]'s loud
    * refusal instead of a silently incomplete feed. Lazy vals: the
    * default resolve is a FULL log listing (O(#versions) — the cost
    * the `_latest` hint exists to avoid), so it must price once per
    * scan, never per planning evaluation.
    */
  private lazy val starting: Long = {
    val v = options.get("startingversion")
    val ts = options.get("startingtimestamp")
    require(v.isEmpty || ts.isEmpty,
      "CDF read: give startingVersion OR startingTimestamp, not both")
    v.map(_.toLong)
      // Delta's rule: changes committed AT OR AFTER the instant — the
      // earliest qualifying version, not versionAt's at-or-before
      // floor; an instant reaching into log-vacuumed history refuses
      // (explicit cursor, silent clamping = data loss)
      .orElse(ts.map(s =>
        table.cdfStartingVersionAt(CommitLogTable.parseTsMillis(s, spark))))
      .getOrElse(math.max(1L, table.earliestVersion))
  }
  private lazy val ending: Long = {
    val v = options.get("endingversion")
    val ts = options.get("endingtimestamp")
    require(v.isEmpty || ts.isEmpty,
      "CDF read: give endingVersion OR endingTimestamp, not both")
    v.map(_.toLong)
      // latest version committed at-or-before the instant
      .orElse(ts.map(s =>
        table.versionAt(CommitLogTable.parseTsMillis(s, spark))))
  } match {
    case Some(e) =>
      // an explicit range may NARROW a time-travel pin, never escape it —
      // a relation pinned @vN must not serve changes committed after N
      require(pin.forall(e <= _),
        s"endingVersion $e exceeds the versionAsOf pin ${pin.get}")
      e
    case None => pin.getOrElse(table.latestVersion)
  }

  // (version, change files) of the batch range — resolved once per scan
  private lazy val ranged: Seq[(Long, Seq[(String, Long)])] =
    (starting to ending).map(v => v -> table.changeFilesAt(v))

  override def planInputPartitions(): Array[InputPartition] =
    CommitLogParquet.filePartitions(spark, ranged.flatMap(_._2))

  override def createReaderFactory(): PartitionReaderFactory = {
    val phys = table.cdfPhysical(logicalSchema)
    val inner = CommitLogParquet.factory(spark, phys, phys, Seq.empty)
    val cv = logicalSchema.fieldNames.indexOf("_commit_version")
    // without _commit_version in the projection there is nothing to
    // backfill — the stock factory serves the pruned read as-is
    if (cv < 0) return inner
    val byPath = ranged.flatMap { case (v, fs) =>
      fs.map { case (abs, _) =>
        CommitLogParquet.sparkPathKey(abs) -> v }
    }.toMap
    CdfAssemblingFactory(inner, logicalSchema, cv, byPath)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CommitLogCdfMicroBatchStream(spark, table, dir, options)
}
