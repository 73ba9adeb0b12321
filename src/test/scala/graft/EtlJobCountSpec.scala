package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{DataQualityConfig, PipelineConfig}
import graft.etl.{BronzeJob, GoldJob, SilverJob}
import graft.incremental.Incremental
import graft.io.{TableIO, VersionedTable}

/** Spark jobs per call of the medallion jobs on versioned tables, and
  * files per partitioned commit. A read-back count, a cache fill or a
  * sampling sort that creeps back into a job fails here, listing the
  * stages of every job the call ran; an unclustered partitioned write
  * (one file per write task and day) fails the file count. */
class EtlJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("jobs per call and one file per partition value: bronze, silver, gold, bronze append") {
    val base = Fixtures.tempDir("graft-etl-jobs")
    val cfg = PipelineConfig(versionedTables = true,
      dataQuality = DataQualityConfig(failOnDqErrors = false)).under(base)
    // four CSV files that each hold rows of every day
    Fixtures.writeRawCsvDays(spark, cfg.paths.raw, days = 6, files = 4)
    val batch = cfg.copy(paths = cfg.paths.copy(raw = s"$base/batch"))
    Fixtures.writeRawCsvDays(spark, batch.paths.raw, days = 2, files = 4,
      firstShift = 7)

    def assertJobs(label: String, atMost: Int)(body: => Any): Unit = {
      val jobs = SparkJobs.traced(spark)(body)._2
      assert(jobs.size <= atMost,
        s"$label ran ${jobs.size} jobs, pinned at $atMost:\n" +
          jobs.mkString("\n"))
    }
    // the files the table's last commit added: one per partition value
    // (a null pickup date is a value too)
    def assertFilePerValue(label: String, path: String): Unit = {
      val vt = new VersionedTable(spark, path)
      val v = vt.currentVersion.get
      val added = vt.manifestEntries(v)
        .filter(_.relPath.startsWith(f"_data/c$v%08d"))
      val values = added.map(_.partitionValues.get("trip_date")).distinct
      assert(values.size > 1, s"$label: ${added.map(_.relPath)}")
      assert(added.size === values.size,
        s"$label wrote ${added.size} files for ${values.size} dates:\n" +
          added.map(_.relPath).mkString("\n"))
    }

    // CSV schema inference (2), the ingest count that fills the cache
    // (1), the DQ checks, then the clustering shuffle and the write; the
    // row count comes from the manifest, not from a read-back
    assertJobs("bronze", 9)(BronzeJob.run(spark, cfg))
    assertFilePerValue("bronze", cfg.paths.bronze)
    // the filtered count that fills the cache, the DQ checks over the
    // dedup, then the clustering shuffle and the write; both bronze's
    // and silver's row counts come from their manifests
    assertJobs("silver", 9)(SilverJob.run(spark, cfg))
    assertFilePerValue("silver", cfg.paths.silver)
    // per table: the aggregate's shuffle, the clustering shuffle and the
    // write; no cache fill, no sampling job, no read-back count
    assertJobs("gold", 6)(GoldJob.run(spark, cfg))
    assertFilePerValue("gold daily kpis", cfg.paths.goldDailyKpis)
    assertFilePerValue("gold zone demand", cfg.paths.goldZoneDemand)
    assertJobs("bronze append", 9)(
      BronzeJob.run(spark, batch, SaveMode.Append))
    assertFilePerValue("bronze append", cfg.paths.bronze)

    // the incremental source as a batch step builds it: bronze rows past
    // silver's watermark. Manifest stats skip the full load's files but
    // its last day's (which holds rows later than silver's max that
    // silver did not keep), and null counts skip both null-date files (their
    // pickup times are all null): 4 of the 12 bronze files are planned.
    val ts = "tpep_pickup_datetime"
    val fresh = Incremental.filterIncremental(
      SilverJob.applyDataQualityFilters(SilverJob.castColumns(
        TableIO.readTable(spark, cfg.paths.bronze)), cfg),
      ts, Incremental.getWatermark(spark, cfg.paths.silver, ts))
    val bronze = new VersionedTable(spark, cfg.paths.bronze)
    val v = bronze.currentVersion.get
    val (appended, loaded) = bronze.manifestEntries(v)
      .partition(_.relPath.startsWith(f"_data/c$v%08d"))
    val days = appended.filter(_.partitionValues.contains("trip_date"))
    assert(loaded.size === 8 && appended.size === 4 && days.size === 3,
      (loaded ++ appended).map(_.relPath))
    val lastLoaded = loaded.filter(_.partitionValues.get("trip_date")
      .contains("2023-01-07"))
    assert(DataSkippingSpec.planned(bronze, fresh) ===
      (days ++ lastLoaded).map(_.relPath).toSet)
  }
}
