package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig
import graft.io.{TableIO, WriteLayout}
import graft.util.Cols

/** Gold layer: the two grouped-aggregate analytics tables
  * (reference `etl/gold_job.py:40-152`).
  *
  * Each table is one pass over silver: a partial-agg + single-shuffle
  * aggregate, then a rebalance on the table's partition column
  * (`trip_date` when unpartitioned) and a sort within each write task.
  * That writes one file per partition value with rows in the order the
  * reference's global `orderBy` gives them (`etl/gold_job.py:92,147`),
  * without the range-sampling job a global sort runs first. The
  * clustering must come before the sort: a shuffle after it would
  * discard the order. Row counts come from the committed manifest of a
  * versioned table ([[TableIO.rowCount]]), not from a read-back.
  */
object GoldJob {

  final case class Result(dailyKpisRows: Long, zoneDemandRows: Long)

  /** A1 (reference `etl/gold_job.py:40-97`): daily KPIs, clustered for
    * a write partitioned by `partCol`. */
  def createDailyKpis(df: DataFrame,
      partCol: Option[String] = None): DataFrame = {
    val pickup = Cols.resolve(df, "tpep_pickup_datetime")
      .getOrElse(sys.error("pickup datetime column not found"))
    val withDate =
      if (Cols.has(df, "trip_date")) df
      else df.withColumn("trip_date", to_date(col(pickup)))
    withDate
      .groupBy(col(Cols.resolve(withDate, "trip_date").get))
      .agg(
        count(lit(1)).as("daily_trip_count"),
        round(sum(Cols.resolve(df, "total_amount").map(col)
          .getOrElse(lit(0.0))), 2).as("daily_total_revenue"),
        round(avg(Cols.resolve(df, "trip_distance").map(col)
          .getOrElse(lit(0.0))), 2).as("avg_trip_distance"),
        round(avg(Cols.resolve(df, "passenger_count").map(col)
          .getOrElse(lit(0.0))), 2).as("avg_passenger_count"))
      .transform(sortedPerValue(partCol, "trip_date"))
  }

  /** A2 (reference `etl/gold_job.py:100-152`): zone demand, clustered
    * for a write partitioned by `partCol`. */
  def createZoneDemand(df: DataFrame,
      partCol: Option[String] = None): DataFrame = {
    val pickup = Cols.resolve(df, "tpep_pickup_datetime")
      .getOrElse(sys.error("pickup datetime column not found"))
    val zone = Cols.resolve(df, "pulocationid")
      .getOrElse(sys.error("pulocationid column not found"))
    val withDate =
      if (Cols.has(df, "trip_date")) df
      else df.withColumn("trip_date", to_date(col(pickup)))
    withDate
      .groupBy(
        col(Cols.resolve(withDate, "trip_date").get),
        col(zone).as("pu_location_id"))
      .agg(
        count(lit(1)).as("trip_count"),
        round(sum(Cols.resolve(df, "total_amount").map(col)
          .getOrElse(lit(0.0))), 2).as("total_revenue"))
      .transform(sortedPerValue(partCol, "trip_date", "pu_location_id"))
  }

  /** Each value of `partCol` (`trip_date` when None or not an output
    * column) in one write task, its rows sorted by `sortCols` there.
    * The partition column leads the sort, as the partitioned write
    * requires; otherwise the writer would sort again and lose the order. */
  private def sortedPerValue(partCol: Option[String], sortCols: String*)(
      df: DataFrame): DataFrame = {
    val cluster = partCol.filter(df.columns.contains).getOrElse("trip_date")
    WriteLayout.byPartitionValue(df, Some(cluster))
      .sortWithinPartitions((cluster +: sortCols).distinct.map(col): _*)
  }

  def run(spark: SparkSession, cfg: PipelineConfig,
      mode: SaveMode = SaveMode.Overwrite): Result = {
    // Each aggregate scans silver on its own, reading only the columns
    // it needs; a cache of the whole table would cost more to fill.
    val silver = TableIO.readTable(spark, cfg.paths.silver)
    val dailyPart = Option.when(cfg.partitioning.enabled)(
      cfg.partitioning.goldDailyKpisPartitionColumn)
    val zonePart = Option.when(cfg.partitioning.enabled)(
      cfg.partitioning.goldZoneDemandPartitionColumn)
    TableIO.writeTable(spark, createDailyKpis(silver, dailyPart),
      cfg.paths.goldDailyKpis, mode, dailyPart, cfg.versionedTables)
    TableIO.writeTable(spark, createZoneDemand(silver, zonePart),
      cfg.paths.goldZoneDemand, mode, zonePart, cfg.versionedTables)
    Result(TableIO.rowCount(spark, cfg.paths.goldDailyKpis),
      TableIO.rowCount(spark, cfg.paths.goldZoneDemand))
  }
}
