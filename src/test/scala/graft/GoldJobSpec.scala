package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DataQualityConfig, PartitioningConfig, PipelineConfig}
import graft.etl.{BronzeJob, GoldJob, SilverJob}
import graft.io.{TableIO, VersionedTable}

/** Gold against aggregates computed here from silver's rows, the row
  * order inside every gold file, and the row counts GoldJob returns
  * against read-back counts, in both storage modes. */
class GoldJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def round2(x: BigDecimal): Double =
    x.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A table's data files: a versioned table's current manifest, or
    * every visible parquet file under a plain one. */
  private def dataFiles(path: String): Seq[String] = {
    val vt = new VersionedTable(spark, path)
    if (vt.exists)
      vt.manifestEntries(vt.currentVersion.get).map(e => s"$path/${e.relPath}")
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.iterator().asScala.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !f.contains("/_") &&
          !f.contains("/.")).toList
      finally s.close()
    }
  }

  /** A gold file's sort keys in file order: each from the file, or
    * from its hive directory when the table is partitioned by it. */
  private def fileKeys(file: String, zone: Boolean): Seq[(String, Int)] = {
    def dir(c: String) =
      s"$c=([^/]+)/".r.findFirstMatchIn(file).map(_.group(1))
    spark.read.parquet(file).collect().toSeq.map { r =>
      (dir("trip_date").getOrElse(r.getAs[java.sql.Date]("trip_date").toString),
        if (!zone) 0
        else dir("pu_location_id").fold(r.getAs[Int]("pu_location_id"))(_.toInt))
    }
  }

  private val cases =
    for (versioned <- Seq(false, true); partitioned <- Seq(true, false))
    yield (versioned, partitioned, "trip_date")
  for ((versioned, partitioned, zonePart) <- cases ++ Seq(
      (false, true, "pu_location_id"), (true, true, "pu_location_id")))
  test(s"gold values, per-file order and counts (versioned=$versioned, " +
      s"partitioned=$partitioned" +
      (if (zonePart == "trip_date") "" else s", zone demand by $zonePart") +
      ")") {
    val base = Fixtures.tempDir("graft-gold")
    val cfg = PipelineConfig(versionedTables = versioned,
      dataQuality = DataQualityConfig(failOnDqErrors = false),
      partitioning = PartitioningConfig(enabled = partitioned,
        goldZoneDemandPartitionColumn = zonePart)).under(base)
    Fixtures.writeRawCsvDays(spark, cfg.paths.raw, days = 6, files = 4)
    BronzeJob.run(spark, cfg)
    SilverJob.run(spark, cfg)
    val res = GoldJob.run(spark, cfg)

    final case class Trip(day: String, zone: Int, total: BigDecimal,
        dist: BigDecimal, pax: Int)
    val trips = TableIO.readTable(spark, cfg.paths.silver)
      .select(to_date(col("tpep_pickup_datetime")).cast("string"),
        col("pulocationid"), col("total_amount"), col("trip_distance"),
        col("passenger_count"))
      .collect().toSeq.map(r => Trip(r.getString(0), r.getInt(1),
        BigDecimal(r.getDouble(2)), BigDecimal(r.getDouble(3)), r.getInt(4)))
    assert(trips.map(_.day).distinct.size === 7)

    val wantDaily = trips.groupBy(_.day).map { case (d, ts) =>
      d -> ((ts.size.toLong, round2(ts.map(_.total).sum),
        round2(ts.map(_.dist).sum / ts.size),
        round2(BigDecimal(ts.map(_.pax).sum) / ts.size)))
    }
    val daily = TableIO.readTable(spark, cfg.paths.goldDailyKpis)
    val gotDaily = daily.collect().map(r =>
      r.getAs[java.sql.Date]("trip_date").toString ->
        ((r.getAs[Long]("daily_trip_count"),
          r.getAs[Double]("daily_total_revenue"),
          r.getAs[Double]("avg_trip_distance"),
          r.getAs[Double]("avg_passenger_count")))).toMap
    assert(gotDaily === wantDaily)

    val wantZone = trips.groupBy(t => (t.day, t.zone)).map { case (k, ts) =>
      k -> ((ts.size.toLong, round2(ts.map(_.total).sum)))
    }
    val zone = TableIO.readTable(spark, cfg.paths.goldZoneDemand)
    val gotZone = zone.collect().map(r =>
      (r.getAs[java.sql.Date]("trip_date").toString,
        r.getAs[Int]("pu_location_id")) ->
        ((r.getAs[Long]("trip_count"), r.getAs[Double]("total_revenue"))))
      .toMap
    assert(gotZone === wantZone)

    // rows sorted within every file; one file per partition value when
    // partitioned
    val zoneValues =
      if (zonePart == "trip_date") 7 else trips.map(_.zone).distinct.size
    Seq((cfg.paths.goldDailyKpis, false, 7),
        (cfg.paths.goldZoneDemand, true, zoneValues))
      .foreach { case (path, withZone, values) =>
        val files = dataFiles(path)
        files.foreach { f =>
          val keys = fileKeys(f, withZone)
          assert(keys.nonEmpty && keys === keys.sorted, s"row order of $f")
        }
        if (partitioned) assert(files.size === values, files.mkString("\n"))
      }

    assert(res.dailyKpisRows === daily.count())
    assert(res.zoneDemandRows === zone.count())
    assert(res.dailyKpisRows === 7 && res.zoneDemandRows === wantZone.size)
  }
}
