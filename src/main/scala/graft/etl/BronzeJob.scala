package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.io.{TableIO, WriteLayout}
import graft.model.Schemas
import graft.util.Cols

/** Bronze layer: raw CSV ingest + metadata columns
  * (reference `etl/bronze_job.py:17-265`).
  *
  * read CSV (header + inferSchema) → add ingestion_ts/source_file →
  * derive trip_date partition column → validate against the bronze
  * schema (extras allowed) → write partitioned parquet, one file per
  * day ([[WriteLayout.byPartitionValue]]).
  */
object BronzeJob {

  final case class Result(
      rowsIngested: Long, rowsWritten: Long,
      validationErrors: Seq[String], dqResults: Seq[graft.dq.CheckResult])

  /** P1: metadata columns (reference `etl/bronze_job.py:51-57`). */
  def addMetadata(df: DataFrame): DataFrame =
    df.withColumn("ingestion_ts", current_timestamp())
      .withColumn("source_file", input_file_name())

  /** P2: derive the partition date column from the pickup timestamp
    * (reference `etl/bronze_job.py:156-170`). */
  def addPartitionDate(df: DataFrame, sourceCol: String,
      partitionCol: String): DataFrame =
    Cols.resolve(df, sourceCol) match {
      case Some(actual) =>
        df.withColumn(partitionCol, to_date(col(actual)))
      case None => df
    }

  def run(spark: SparkSession, cfg: PipelineConfig,
      mode: SaveMode = SaveMode.Overwrite): Result = {
    // The raw CSV feeds the ingest count, every DQ check action, and
    // the write — without a persist each action re-reads (and, with
    // inferSchema, re-parses) the full input. One cached scan instead
    // of three-plus.
    val raw = TableIO.readCsv(spark, cfg.paths.raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val rowsIngested = raw.count()

    var df = addMetadata(raw)
    if (cfg.partitioning.enabled)
      df = addPartitionDate(df, "tpep_pickup_datetime",
        cfg.partitioning.bronzePartitionColumn)

    val (isValid, errors) =
      if (cfg.dataQuality.enableSchemaValidation)
        Schemas.validate(df.schema, Schemas.bronze, allowExtraColumns = true)
      else (true, Seq.empty[String])

    val dq = graft.dq.DataQualityFramework.default(spark, cfg.dataQuality)
      .runAllChecks(df, "bronze")
    if (cfg.dataQuality.failOnDqErrors &&
        dq.exists(r => !r.passed && r.severity == "ERROR"))
      throw new IllegalStateException(
        s"Bronze DQ errors: ${dq.filterNot(_.passed).map(_.checkName).mkString(", ")}")

    val partCol = Option.when(cfg.partitioning.enabled)(
      cfg.partitioning.bronzePartitionColumn)
    TableIO.writeTable(spark, WriteLayout.byPartitionValue(df, partCol),
      cfg.paths.bronze, mode, partCol, cfg.versionedTables)

    Result(rowsIngested, TableIO.rowCount(spark, cfg.paths.bronze), errors, dq)
    } finally raw.unpersist() // also on the fail-on-DQ throw path
  }
}
