package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Path-addressed table IO on Parquet.
  *
  * The single seam isolating the storage format (SURVEY.md §7.0 R1: the
  * build env has no Delta jars, so Delta reads/writes from the reference —
  * `etl/bronze_job.py:79-89,107` — are rebuilt on Parquet). Versioned
  * tables (time travel / restore / vacuum / history, reference
  * `utils/delta_ops.py`) live in [[VersionedTable]].
  *
  * All paths go through Hadoop's FileSystem API, so the same code runs on
  * local disk, HDFS, or object stores.
  */
object TableIO {

  /** S1: CSV directory scan with header + schema inference
    * (reference `etl/bronze_job.py:30-35`). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)

  /** S2: curated-table read (reference reads Delta; Parquet here). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3: batch sink with mode + optional Hive-style partitioning
    * (reference `etl/bronze_job.py:79-89`). `partitionBy` is what makes
    * watermark/date predicates prune directories at scale. */
  def write(
      df: DataFrame,
      path: String,
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Option[String] = None): Unit = {
    val writer = df.write.mode(mode)
    partitionBy.filter(df.columns.contains).fold(writer)(writer.partitionBy(_))
      .parquet(path)
  }

  /** Bucketed catalog table (hash-bucketed + sorted by `bucketCol`):
    * the co-located-join layout. Two tables bucketed the same way join
    * WITHOUT exchanging either side — at 100 TB that removes the whole
    * fact-to-fact shuffle, the single most expensive stage of a
    * repeated big join. Requires `saveAsTable` (bucket metadata lives
    * in the catalog, not the parquet files). */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Curated-layer write honoring the storage mode: a plain parquet
    * directory, or a manifest-log [[VersionedTable]] — the Delta-parity
    * path the reference gets from delta-spark: every pipeline run then
    * commits a version with history / time travel / restore / vacuum.
    * `partitionBy` applies in BOTH modes: a versioned table hive-
    * partitions each commit's files inside its version dir and records
    * the column in the manifest (it is then inherited by later writes
    * that pass none, and powers manifest-level partition pruning);
    * a plain table partitions the directory layout. Either way the
    * column is ignored, as in [[write]], when the frame lacks it.
    * Each write task writes one file per partition value it holds, so
    * an unclustered frame commits tasks × values files; callers that
    * want one file per value cluster first
    * ([[WriteLayout.byPartitionValue]]). */
  def writeTable(spark: SparkSession, df: DataFrame, path: String,
      mode: SaveMode, partitionBy: Option[String],
      versioned: Boolean): Unit =
    if (versioned)
      new VersionedTable(spark, path).write(df, mode,
        operation = if (mode == SaveMode.Append) "APPEND" else "WRITE",
        partitionBy = partitionBy.filter(df.columns.contains).map(Seq(_)))
    else write(df, path, mode, partitionBy)

  /** Read a curated layer regardless of storage mode: auto-detects a
    * versioned table (committed manifest present) and reads its current
    * snapshot; plain parquet otherwise. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val vt = new VersionedTable(spark, path)
    if (vt.exists) vt.read() else read(spark, path)
  }

  /** Rows [[readTable]] returns: summed from a versioned table's
    * manifest (no Spark job), counted by a scan of a plain table. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val vt = new VersionedTable(spark, path)
    if (vt.exists) vt.liveRowCount() else read(spark, path).count()
  }

  /** Temp path for an atomic-as-possible dir swap. MUST start with an
    * underscore: Spark/Hadoop file indexes skip `_`/`.`-prefixed paths,
    * so a reader listing the parent mid-rewrite (or after a crash that
    * strands the temp) never sees it as data — a bare `dir__tmp`
    * sibling would be discovered as a phantom partition value and
    * double-count every row. Callers delete a pre-existing temp first
    * (stale crash leftover). */
  private[graft] def tmpSibling(p: Path, tag: String): Path =
    new Path(p.getParent, s"_${p.getName}__$tag")

  /** Total rows under `path` from parquet FOOTERS — a driver-side
    * metadata read over the file listing, no Spark job, no data scan.
    * The row-count companion to [[detail]]. */
  private[graft] def footerRowCount(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val filesystem = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    if (!filesystem.exists(root)) return 0L
    val it = filesystem.listFiles(root, true)
    var rows = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rows += reader.getRecordCount finally reader.close()
      }
    }
    rows
  }

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** M6: table detail — file count + total bytes
    * (reference `utils/delta_ops.py:207-241`). On a versioned table the
    * detail describes the CURRENT SNAPSHOT (manifest stats, no file
    * listing at all) — a raw recursive count would sum every retained
    * version's files and misreport the table several-fold. */
  def detail(spark: SparkSession, path: String): TableDetail = {
    val vt = new VersionedTable(spark, path)
    vt.currentVersion match {
      case Some(v) =>
        val entries = vt.manifestEntries(v)
        return TableDetail(path, entries.size.toLong, entries.map(_.bytes).sum)
      case None => ()
    }
    val root = new Path(path)
    val filesystem = fs(spark, root)
    if (!filesystem.exists(root)) return TableDetail(path, 0, 0L)
    val it = filesystem.listFiles(root, true)
    var n = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        n += 1
        bytes += f.getLen
      }
    }
    TableDetail(path, n, bytes)
  }
}

final case class TableDetail(location: String, numFiles: Long, sizeInBytes: Long)
