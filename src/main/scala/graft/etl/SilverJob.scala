package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.PipelineConfig
import graft.io.{TableIO, WriteLayout}
import graft.model.Schemas
import graft.util.Cols

/** Silver layer: cast/normalize/filter/dedup
  * (reference `etl/silver_job.py:38-381`).
  *
  * Unlike the reference's ~16-step `withColumn` chain
  * (`etl/silver_job.py:38-110`), [[castColumns]] builds ONE `select`
  * projection — a single Project node for Catalyst instead of relying on
  * CollapseProject, and the whole job stays inside one codegen stage
  * until the dedup shuffle.
  */
object SilverJob {

  final case class Result(
      rowsIn: Long, rowsAfterFilter: Long, rowsAfterDedup: Long,
      validationErrors: Seq[String], dqResults: Seq[graft.dq.CheckResult])

  private val timestampCols = Seq("tpep_pickup_datetime", "tpep_dropoff_datetime")
  private val numericMappings: Map[String, DataType] = Map(
    "passenger_count" -> IntegerType,
    "trip_distance" -> DoubleType,
    "pulocationid" -> IntegerType,
    "dolocationid" -> IntegerType,
    "fare_amount" -> DoubleType,
    "extra" -> DoubleType,
    "mta_tax" -> DoubleType,
    "tip_amount" -> DoubleType,
    "tolls_amount" -> DoubleType,
    "total_amount" -> DoubleType,
    "payment_type" -> IntegerType,
    "vendorid" -> IntegerType,
    "ratecodeid" -> IntegerType)
  private val lowercaseStringCols = Seq("store_and_fwd_flag")

  /** P3-P6 (reference `etl/silver_job.py:38-110`): to_timestamp on
    * datetime columns, cast numerics, lower(trim()) flags, and lowercase/
    * underscore all names — resolved case-insensitively. */
  def castColumns(df: DataFrame): DataFrame = {
    val projection = df.columns.toSeq.map { c =>
      val lname = c.toLowerCase.replace(" ", "_")
      val base: Column =
        if (timestampCols.contains(lname)) to_timestamp(col(c))
        else numericMappings.get(lname) match {
          case Some(dt) => col(c).cast(dt)
          case None =>
            if (lowercaseStringCols.contains(lname)) lower(trim(col(c)))
            else col(c)
        }
      base.as(lname)
    }
    df.select(projection: _*)
  }

  /** F1 (reference `etl/silver_job.py:113-168`): conjunctive DQ filters,
    * each applied only when its column exists. */
  def applyDataQualityFilters(df: DataFrame, cfg: PipelineConfig): DataFrame = {
    val dq = cfg.dataQuality
    val preds: Seq[Column] =
      Cols.resolve(df, "trip_distance").map(col(_) > dq.minTripDistance).toSeq ++
      Cols.resolve(df, "fare_amount").map(col(_) >= dq.minFareAmount) ++
      Cols.resolve(df, "total_amount").map(col(_) >= dq.minTotalAmount) ++
      Cols.resolveAll(df, Seq("tpep_pickup_datetime", "tpep_dropoff_datetime"))
        .map(col(_).isNotNull)
    if (preds.isEmpty) df else df.filter(preds.reduce(_ && _))
  }

  /** D1 (reference `etl/silver_job.py:171-212`): subset dropDuplicates on
    * case-insensitively resolved keys; arbitrary survivor (kept
    * deliberately — SURVEY.md §2.6). Missing keys are skipped; no keys →
    * no-op. */
  def deduplicate(df: DataFrame, dedupColumns: Seq[String]): DataFrame = {
    val actual = Cols.resolveAll(df, dedupColumns)
    if (actual.isEmpty) df else df.dropDuplicates(actual)
  }

  def run(spark: SparkSession, cfg: PipelineConfig,
      mode: SaveMode = SaveMode.Overwrite): Result = {
    val bronze = TableIO.readTable(spark, cfg.paths.bronze)
    val rowsIn = TableIO.rowCount(spark, cfg.paths.bronze)

    val typed = castColumns(bronze)
    // Persist the filtered frame: it feeds the row-count action, the
    // dedup shuffle, and (through it) every DQ check and the write.
    // Without it the cast+filter lineage recomputes once per consumer —
    // the reference's observable behavior costs ~4 extra scans/layer
    // (SURVEY.md §3 eager-action inventory, §7.3.2).
    val filtered = applyDataQualityFilters(typed, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowsAfterFilter = filtered.count()
    val deduped = deduplicate(filtered, cfg.dedup.dedupColumns)

    val withPartition =
      if (cfg.partitioning.enabled &&
          !Cols.has(deduped, cfg.partitioning.silverPartitionColumn))
        Cols.resolve(deduped, "tpep_pickup_datetime") match {
          case Some(ts) => deduped.withColumn(
            cfg.partitioning.silverPartitionColumn, to_date(col(ts)))
          case None => deduped
        }
      else deduped

    val (isValid, errors) =
      if (cfg.dataQuality.enableSchemaValidation)
        Schemas.validate(withPartition.schema, Schemas.silver,
          allowExtraColumns = true)
      else (true, Seq.empty[String])

    val dq = graft.dq.DataQualityFramework.default(spark, cfg.dataQuality)
      .runAllChecks(withPartition, "silver")

    val partCol = Option.when(cfg.partitioning.enabled)(
      cfg.partitioning.silverPartitionColumn)
    TableIO.writeTable(spark, WriteLayout.byPartitionValue(withPartition,
      partCol), cfg.paths.silver, mode, partCol, cfg.versionedTables)

    val rowsAfterDedup = TableIO.rowCount(spark, cfg.paths.silver)
    filtered.unpersist()
    Result(rowsIn, rowsAfterFilter, rowsAfterDedup, errors, dq)
  }
}
