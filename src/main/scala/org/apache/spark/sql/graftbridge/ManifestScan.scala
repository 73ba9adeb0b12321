package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One scan-able parquet file as recorded in a VersionedTable manifest:
  * its (qualified) path, its exact byte length, and its partition
  * values as decoded strings (empty map when unpartitioned). */
final case class ManifestFile(path: String, bytes: Long,
    partitionValues: Map[String, String])

/** A [[FileIndex]] backed by a manifest instead of a directory listing —
  * the same pattern Delta Lake's `TahoeFileIndex` uses, and the reason
  * a log-structured table scales where `spark.read.parquet(files:_*)`
  * does not:
  *
  *  - ZERO filesystem round-trips at scan planning: paths, sizes, and
  *    partition values all come from the manifest already in memory.
  *    An `InMemoryFileIndex` over the same file list re-stats every
  *    file — 10^5 storage calls to plan one query on a 100 TB table.
  *  - Partition values are ASSIGNED per file, not inferred from the
  *    directory tree, so files of the same partition may live under
  *    different commit dirs (`_data/c7_ab/dt=x/`, `_data/c9_cd/dt=x/`)
  *    — layouts Spark's directory-based inference rejects outright
  *    ([CONFLICTING_DIRECTORY_STRUCTURES]).
  *  - Catalyst partition pruning works: `listFiles` evaluates the
  *    pushed partition filters against each partition's values row,
  *    so `WHERE dt = '2023-01-01'` scans one partition's files even
  *    though the manifest-level API wasn't used.
  *  - Per-file data skipping works too (Delta's stats-based skipping):
  *    `dataSkipping` turns the pushed data filters into a per-file test
  *    (the table's manifest stats answer it, see
  *    `VersionedTable.predicateMayMatch`), and `listFiles` drops every
  *    file it proves holds no matching row, so `WHERE ts > <watermark>`
  *    plans only the files holding newer rows.
  */
final class ManifestFileIndex(
    root: Path,
    files: Seq[ManifestFile],
    override val partitionSchema: StructType,
    sessionTimeZone: String,
    dataSkipping: Seq[Expression] => ManifestFile => Boolean)
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  /** Qualified paths of every file this index plans — the snapshot
    * IDENTITY consumers like [[graft.plans.MvRewrite]] match on (a
    * root path alone cannot distinguish the current snapshot from a
    * time-travel or file-pruned scan of the same table). */
  def manifestFilePaths: Seq[String] = files.map(_.path)

  /** Decoded string partition values → a typed values row, via
    * [[ManifestScan.castValue]] from the string form Spark itself
    * rendered at write time (the exact inverse Spark's own partition
    * inference applies). A missing value is the null partition
    * (`__HIVE_DEFAULT_PARTITION__`). */
  private def partitionRow(values: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { field =>
      values.get(field.name) match {
        case Some(v) => ManifestScan.castValue(UTF8String.fromString(v),
          StringType, field.dataType, sessionTimeZone)
        case None => null
      }
    })

  private lazy val partitions: Seq[(InternalRow, Seq[(ManifestFile, FileStatus)])] =
    files.groupBy(_.partitionValues).toSeq.map { case (values, group) =>
      // Sizes must be EXACT (the parquet reader trusts them for footer
      // location); they are — recorded from the commit-time listing of
      // immutable files. Block size 128 MB only steers split packing.
      partitionRow(values) -> group.map(f => f -> new FileStatus(
        f.bytes, false, 1, 128L * 1024 * 1024, 0L, new Path(f.path)))
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val idx = partitionSchema.fieldIndex(a.name)
              BoundReference(idx, partitionSchema(idx).dataType,
                nullable = true)
          })
        bound.initialize(0)
        partitions.filter { case (row, _) => bound.eval(row) }
      }
    val mayMatch = dataSkipping(dataFilters)
    pruned.flatMap { case (row, group) =>
      val kept = group.collect { case (f, st) if mayMatch(f) => st }
      Option.when(kept.nonEmpty)(PartitionDirectory(row, kept.toArray))
    }
  }

  override def inputFiles: Array[String] = files.map(_.path).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.bytes).sum
}

/** Parquet that never splits a file across scan tasks. */
final class WholeFileParquetFormat extends ParquetFileFormat {
  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean = false
}

/** Entry point: plan a parquet scan over an explicit manifest.
  * Lives in an `org.apache.spark.sql` subpackage because
  * `HadoopFsRelation`/`LogicalRelation`/`Dataset.ofRows` are
  * `private[sql]` — the same doorway [[ColumnBridge]] uses. */
object ManifestScan {

  /** Per-row provenance columns appended when `rowMeta` is requested:
    * the absolute file path (rendered exactly as
    * `_metadata.file_path` renders it — `Path.toString` form) and the
    * row's ordinal within its parquet file. Together they are a
    * stable row identity for deletion vectors: parquet files are
    * immutable, so (file, row_index) never changes for a given row. */
  val FilePathCol = "_graft_file_path"
  val RowIndexCol = "_graft_row_index"

  /** A catalyst value `v` of type `from` as a value of `to`, through
    * Spark's own `Cast` in `timeZone`: how a partition path value
    * becomes its column's value, and how file skipping lifts a literal
    * to the column it is compared with. Throws, or yields null, where
    * the cast does. */
  def castValue(v: Any, from: DataType, to: DataType, timeZone: String): Any =
    Cast(Literal(v, from), to, Some(timeZone)).eval(InternalRow.empty)

  /** A DataFrame over `files`, with `partitionColumns` supplied from
    * the manifest (typed per `snapshotSchema`) rather than inferred
    * from directories. Column order follows `snapshotSchema`.
    * `isStreaming` tags the relation for splicing into a
    * MicroBatchExecution plan (the streaming source's batches —
    * MicroBatchExecution asserts the flag on every V1 getBatch
    * result, exactly as FileStreamSource sets it). `rowMeta` appends
    * [[FilePathCol]]/[[RowIndexCol] from the parquet reader's
    * `_metadata` struct. `wholeFiles` plans every file into ONE task,
    * never split across tasks, so a per-task pass sees each file's rows
    * together and in order. `dataSkipping` maps the data filters Spark
    * pushes into the scan to a test of which files may hold a matching
    * row; the default plans every file. */
  def parquetTable(spark: SparkSession, root: Path,
      snapshotSchema: StructType, partitionColumns: Seq[String],
      files: Seq[ManifestFile], isStreaming: Boolean = false,
      rowMeta: Boolean = false, wholeFiles: Boolean = false,
      dataSkipping: Seq[Expression] => ManifestFile => Boolean =
        _ => _ => true): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val partitionSchema = StructType(
      partitionColumns.map(c => snapshotSchema(snapshotSchema.fieldIndex(c))))
    val dataSchema = StructType(
      snapshotSchema.filterNot(f => partitionColumns.contains(f.name)))
    val index = new ManifestFileIndex(root, files, partitionSchema,
      cs.sessionState.conf.sessionLocalTimeZone, dataSkipping)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec = None,
      if (wholeFiles) new WholeFileParquetFormat else new ParquetFileFormat,
      options = Map.empty)(cs)
    val df = org.apache.spark.sql.classic.Dataset.ofRows(
      cs, LogicalRelation(relation, isStreaming))
    // HadoopFsRelation appends partition columns after the data columns;
    // restore the snapshot's declared order.
    val ordered = snapshotSchema.fields.map(f => df(f.name)).toSeq
    val cols =
      if (!rowMeta) ordered
      else {
        val meta = df.metadataColumn("_metadata")
        ordered ++ Seq(meta.getField("file_path").as(FilePathCol),
          meta.getField("row_index").as(RowIndexCol))
      }
    df.select(cols: _*)
  }
}
