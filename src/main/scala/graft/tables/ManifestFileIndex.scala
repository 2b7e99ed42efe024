package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.tables.CommitLogTable.LogFile

/** A commit-log manifest's file list as Spark's file index: the scan of
  * a resolved snapshot (or of a version range's change files) plans
  * straight from the manifest — no listing, no status call, no
  * partition inference, hence no parallel-discovery job however many
  * files a read spans. `listFiles` prunes on the manifest's per-file
  * min/max stats with the same prover lazy deletes and the DSv2 scan
  * use ([[CommitLogTable.statsMayMatch]]); Spark re-applies every
  * filter row by row, so pruning only ever narrows the scan. Bloom
  * sidecars are not consulted (that would be a file read per probe).
  *
  * `dataSchema` is the scan's PHYSICAL schema (in-file column names,
  * logical types), so the pushed filters name the same columns the
  * stats are keyed by. A file may carry constant `partitionSchema`
  * values the manifest knows for it (the change feed's commit version),
  * which Spark appends to each of its rows. The index holds only what
  * its constructor got: nothing is cached across reads, and `toString`
  * stays short because plan strings are retained by the SQL UI.
  */
private[tables] final class ManifestFileIndex private (
    files: IndexedSeq[(FileStatus, Map[String, (String, String)], InternalRow)],
    dataSchema: StructType,
    override val partitionSchema: StructType) extends FileIndex {

  override def rootPaths: Seq[Path] = files.map(_._1.getPath)

  override def inputFiles: Array[String] =
    files.map(_._1.getPath.toUri.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = dataFilters.map(ManifestFileIndex.comparisons)
    def leaf(stats: Map[String, (String, String)])(c: String, op: String,
        v: Any): Boolean =
      dataSchema.find(_.name == c).forall(f =>
        CommitLogTable.statsMayMatch(f.dataType, stats.get(c), op, v))
    // Spark does not re-apply a filter over partition columns alone after
    // the scan: evaluate it here, on each file's constants
    val onValues = Predicate.createInterpreted(
      partitionFilters.reduceOption(And).getOrElse(Literal(true)).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
    files.filter { case (_, stats, values) => onValues.eval(values) &&
      filters.forall(CommitLogTable.filterMayMatch(_, leaf(stats)))
    }.groupBy(_._3).toSeq.map { case (values, fs) =>
      PartitionDirectory(values, fs.map(_._1).toArray)
    }
  }

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._1.getLen).sum

  /** Same-files equality, as Spark's own listing index has: two reads of
    * one file set share a cached plan.
    */
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => rootPaths.toSet == m.rootPaths.toSet
    case _ => false
  }
  override def hashCode: Int = rootPaths.toSet.hashCode

  override def toString: String =
    s"ManifestFileIndex(${files.size} files)" +
      files.take(2).map(_._1.getPath.getName).mkString("[", ", ",
        if (files.size > 2) ", ...]" else "]")
}

private[tables] object ManifestFileIndex {

  /** The part of a pushed predicate that stats can test, as a source
    * filter over top-level column names: comparisons of a column with a
    * literal, IN lists, and AND / OR of those. Anything else becomes
    * `AlwaysTrue`, which prunes nothing — under an AND the other side
    * still prunes, under an OR or a NOT nothing does.
    */
  private def comparisons(e: Expression): sources.Filter = {
    def v(l: Literal): Any = CatalystTypeConverters.convertToScala(l.value, l.dataType)
    e match {
      case And(l, r) => sources.And(comparisons(l), comparisons(r))
      case Or(l, r) => sources.Or(comparisons(l), comparisons(r))
      case EqualTo(a: Attribute, l: Literal) => sources.EqualTo(a.name, v(l))
      case EqualTo(l: Literal, a: Attribute) => sources.EqualTo(a.name, v(l))
      case LessThan(a: Attribute, l: Literal) => sources.LessThan(a.name, v(l))
      case LessThan(l: Literal, a: Attribute) => sources.GreaterThan(a.name, v(l))
      case LessThanOrEqual(a: Attribute, l: Literal) => sources.LessThanOrEqual(a.name, v(l))
      case LessThanOrEqual(l: Literal, a: Attribute) => sources.GreaterThanOrEqual(a.name, v(l))
      case GreaterThan(a: Attribute, l: Literal) => sources.GreaterThan(a.name, v(l))
      case GreaterThan(l: Literal, a: Attribute) => sources.LessThan(a.name, v(l))
      case GreaterThanOrEqual(a: Attribute, l: Literal) => sources.GreaterThanOrEqual(a.name, v(l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => sources.LessThanOrEqual(a.name, v(l))
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        sources.In(a.name, list.map(l => v(l.asInstanceOf[Literal])).toArray)
      case InSet(a: Attribute, set) =>
        sources.In(a.name, set.toArray.map(CatalystTypeConverters.convertToScala(_, a.dataType)))
      case _ => sources.AlwaysTrue
    }
  }

  /** A scan of exactly `files` under `physSchema` (in-file column names,
    * read nullable at every level as a reader-declared schema always is:
    * a file older than a column's addition has no value for it), each
    * file's status built from the manifest alone — `path` qualified as a
    * listing reports it ([[CommitLogTable.qualifiedPath]], so the scan
    * renders `_metadata.file_path` as [[CommitLogTable.fileMetaPathKey]]
    * does) and `bytes` as the length; modification time is not in the
    * manifest and reads as 0. `partitionValues` gives each file's
    * constants under `partitionSchema`.
    */
  def scan(spark: SparkSession, files: Seq[LogFile], path: LogFile => GPath,
      physSchema: StructType, hconf: Configuration,
      partitionSchema: StructType = new StructType(),
      partitionValues: LogFile => InternalRow = _ => InternalRow.empty): DataFrame = {
    val dataSchema = asNullable(physSchema).asInstanceOf[StructType]
    val index = new ManifestFileIndex(files.map { f =>
      val p = CommitLogTable.qualifiedPath(path(f).toString, hconf)
      (new FileStatus(f.bytes, false, 0, 0L, 0L, p), f.stats, partitionValues(f))
    }.toIndexedSeq, dataSchema, partitionSchema)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataSchema, bucketSpec = None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
