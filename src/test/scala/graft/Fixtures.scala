package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Taxi-domain fixture rows (shape of reference `tests/conftest.py:102-204`:
  * hand-authored rows with an explicit StructType, including one invalid
  * row and one duplicate for filter/dedup tests). */
object Fixtures {

  val rawSchema: StructType = StructType(Seq(
    StructField("VendorID", IntegerType),
    StructField("tpep_pickup_datetime", StringType),
    StructField("tpep_dropoff_datetime", StringType),
    StructField("passenger_count", IntegerType),
    StructField("trip_distance", DoubleType),
    StructField("RatecodeID", IntegerType),
    StructField("store_and_fwd_flag", StringType),
    StructField("PULocationID", IntegerType),
    StructField("DOLocationID", IntegerType),
    StructField("payment_type", IntegerType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("airport_fee", DoubleType)))

  private def row(vendor: Int, pickup: String, dropoff: String, pax: Int,
      dist: Double, pu: Int, doLoc: Int, fare: Double, total: Double,
      flag: String = "N"): Row =
    Row(vendor, pickup, dropoff, pax, dist, 1, flag, pu, doLoc, 1,
      fare, 0.5, 0.5, 1.0, 0.0, 0.3, total, 2.5, 0.0)

  /** 6 rows: 4 valid (one pair duplicated on dedup keys), 1 zero-distance
    * (silver filter drops it), 1 null pickup (silver filter drops it). */
  def taxiDf(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      row(1, "2023-01-01 10:00:00", "2023-01-01 10:30:00", 1, 2.5, 100, 200, 10.0, 14.8),
      row(2, "2023-01-01 11:00:00", "2023-01-01 11:45:00", 2, 5.1, 101, 201, 18.5, 23.3),
      row(1, "2023-01-02 09:15:00", "2023-01-02 09:40:00", 1, 3.0, 100, 202, 12.0, 16.8),
      row(1, "2023-01-01 10:00:00", "2023-01-01 10:30:00", 1, 2.5, 100, 200, 10.0, 14.8),
      row(2, "2023-01-02 12:00:00", "2023-01-02 12:05:00", 1, 0.0, 102, 203, 4.0, 8.8),
      row(1, null, "2023-01-03 08:30:00", 1, 1.2, 103, 204, 6.0, 9.3))
    spark.createDataFrame(rows.asJava, rawSchema)
  }

  /** Write the fixture as a single CSV dir for bronze ingestion
    * (reference `tests/integration/test_pipeline.py:21`). */
  def writeRawCsv(spark: SparkSession, path: String): Unit =
    taxiDf(spark).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** The fixture's rows repeated `days` times, each copy shifted one
    * more day (pickups over `days + 1` dates), written as `files` CSV
    * files: a CSV scan then has `files` tasks that each see most dates. */
  def writeRawCsvDays(spark: SparkSession, path: String, days: Int,
      files: Int, firstShift: Int = 0): Unit = {
    import org.apache.spark.sql.functions.expr
    val base = taxiDf(spark)
    def shifted(c: String, k: Int) = expr(
      s"cast(cast($c as timestamp) + make_interval(0, 0, 0, $k) as string)").as(c)
    val copies = (firstShift until firstShift + days).map { k =>
      base.select(base.columns.toSeq.map {
        case c @ ("tpep_pickup_datetime" | "tpep_dropoff_datetime") => shifted(c, k)
        case c => base(c)
      }: _*)
    }
    copies.reduce(_ union _).repartition(files).write.mode("overwrite")
      .option("header", "true").csv(path)
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
