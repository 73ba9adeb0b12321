package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{DataQualityConfig, PipelineConfig}
import graft.etl.{BronzeJob, GoldJob, SilverJob}
import graft.incremental.{Incremental, Upsert}
import graft.io.{TableIO, VersionedTable}

/** `etl_medallion`: the paper's job on generated yellow-taxi CSV. Each
  * cycle builds a fresh lake: a full bronze -> silver -> gold load over
  * the base month, day-sized incremental batches (bronze append,
  * watermark, filter, merge into silver, gold rebuild), then silver
  * compaction and vacuum. The warm-up cycle runs on a small input of its
  * own: it reaches every code path, and the run stays short. The
  * generator's counts pin silver and gold. */
final class EtlWorkload extends Workload {
  private val Watermark = "tpep_pickup_datetime"

  /** One generated input: base month, day batches and planted counts. */
  private final case class Input(dir: String, expected: Map[String, Long]) {
    val batches: Seq[String] = (1 to expected("batches").toInt).map(b => f"$dir/batch_$b%02d")
  }
  private def load(dir: String): Input = {
    val src = scala.io.Source.fromFile(s"$dir/expected.txt")
    try Input(dir, src.getLines().map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap)
    finally src.close()
  }

  private var measured: Input = _
  private var warm: Input = _
  private val mergeFiles = mutable.ArrayBuffer.empty[Double]
  private val changedRatio = mutable.ArrayBuffer.empty[Double]
  private val keepRatio = mutable.ArrayBuffer.empty[Double]

  def warmupCycles: Int = 1

  def geomeanOps: Seq[String] = Seq("etl.bronze", "etl.silver", "etl.gold",
    "etl.bronze_append", "io.watermark_read", "incremental.merge", "etl.gold_rebuild",
    "etl.maintenance")

  def setup(spark: SparkSession, run: Run): Unit = {
    measured = load(s"${run.input}/etl")
    warm = load(s"${run.input}/warm")
    Main.rm(s"${run.work}/etl")
    // schema inference and CSV reader warm-up on the base month
    TableIO.readCsv(spark, s"${measured.dir}/base").limit(1).collect()
  }

  private def lake(run: Run, i: Int): String = s"${run.work}/etl/cycle_$i"

  def cycle(spark: SparkSession, run: Run, i: Int): Unit = {
    Main.rm(lake(run, i - 1))
    val in = if (run.measuring) measured else warm
    val expected = in.expected
    // planted bad rows trip bronze's range checks; like the paper's
    // pipeline they are reported there and filtered out by silver
    val cfg = PipelineConfig(versionedTables = true,
      dataQuality = DataQualityConfig(failOnDqErrors = false)).under(lake(run, i))
    val base = cfg.copy(paths = cfg.paths.copy(raw = s"${in.dir}/base"))
    def silverRows() = TableIO.readTable(spark, cfg.paths.silver).count()
    def checkGold(what: String): Unit = {
      val s = silverRows()
      val g = TableIO.readTable(spark, cfg.paths.goldDailyKpis)
        .agg(sum("daily_trip_count")).head().getLong(0)
      run.check(g == s, s"$what: gold daily_trip_count sums to $g, silver has $s rows")
    }
    run.cycle {
      val silver = run.op("etl.full_load") {
        val b = run.phase("etl.bronze") { BronzeJob.run(spark, base) }
        val s = run.phase("etl.silver") { SilverJob.run(spark, base) }
        run.phase("etl.gold") { GoldJob.run(spark, base) }
        if (run.measuring) keepRatio += s.rowsAfterDedup.toDouble / b.rowsWritten
        s
      }
      run.check(silver.rowsAfterDedup == expected("silver_full"),
        s"full load: silver has ${silver.rowsAfterDedup} rows, generator planted ${expected("silver_full")}")
      checkGold("full load")

      in.batches.zipWithIndex.foreach { case (dir, b) =>
        val batchCfg = cfg.copy(paths = cfg.paths.copy(raw = dir))
        run.op("etl.incr_batch") {
          run.phase("etl.bronze_append") { BronzeJob.run(spark, batchCfg, SaveMode.Append) }
          // Incremental.getWatermark reads its table as plain parquet and
          // fails on a versioned one, so the same max is taken here over
          // the versioned read; its time is the io layer's, not the
          // incremental module's
          val wm = run.phase("io.watermark_read") {
            Option(TableIO.readTable(spark, cfg.paths.silver).agg(max(Watermark))
              .head().get(0)) }
          val typed = SilverJob.applyDataQualityFilters(SilverJob.castColumns(
            TableIO.readTable(spark, cfg.paths.bronze)), cfg)
          val fresh = SilverJob.deduplicate(
            Incremental.filterIncremental(typed, Watermark, wm), cfg.dedup.dedupColumns)
          val written = run.phase("incremental.merge") {
            Upsert.mergeIntoVersionedTable(spark, fresh, cfg.paths.silver,
              cfg.dedup.dedupColumns, assumeStablePartitions = true) }
          if (run.measuring) {
            mergeFiles += Figures.addedFiles(new VersionedTable(spark, cfg.paths.silver))
            changedRatio += written.toDouble / math.max(1L, expected(s"batch_valid_${b + 1}"))
          }
          run.phase("etl.gold_rebuild") { GoldJob.run(spark, cfg) }
        }
        val want = expected(s"silver_after_${b + 1}")
        val got = silverRows()
        run.check(got == want, s"batch ${b + 1}: silver has $got rows, expected $want")
        checkGold(s"batch ${b + 1}")
      }

      run.op("etl.maintenance") {
        graft.maintenance.Maintenance.compact(spark, cfg.paths.silver)
        new VersionedTable(spark, cfg.paths.silver).vacuum(retainVersions = 1, orphanGraceMs = 0L)
      }
      val last = expected(s"silver_after_${in.batches.size}")
      run.check(silverRows() == last, s"maintenance changed silver's row count")
    }
    if (run.measuring) lastLake = lake(run, i)
  }

  private var lastLake: String = _

  def finish(spark: SparkSession, run: Run): Unit = {
    val med = (xs: Iterable[Double]) => Stats.median(xs.toSeq)
    val expected = measured.expected
    val rows = expected("rows_full") + measured.batches.indices.map(b =>
      expected(s"rows_batch_${b + 1}")).sum
    run.put("etl.full_load_s", med(run.ops("etl.full_load")), "s")
    run.put("etl.incr_batch_p50_s", med(run.ops("etl.incr_batch")), "s")
    run.put("etl.rows_per_s", rows / math.max(1e-9, med(run.cycleSamples)), "1/s")
    Seq("bronze", "silver", "gold").foreach { p =>
      run.put(s"etl.${p}_s", med(run.phases(s"etl.$p")), "s")
      run.put(s"etl.${p}_jobs", Figures.calls(run, s"etl.$p").jobs, "count")
    }
    run.put("etl.silver_keep_ratio", med(keepRatio), "ratio")
    run.put("io.watermark_read_s", med(run.phases("io.watermark_read")), "s")
    run.put("incremental.merge_s", med(run.phases("incremental.merge")), "s")
    run.put("incremental.rows_changed_ratio", med(changedRatio), "ratio")
    run.put("maintenance.compact_s", med(run.ops("etl.maintenance")), "s")
    Figures.moduleTask(run, "etl" -> "etl.task_s", "dq" -> "dq.task_s")
    Figures.commits(run, "incremental.merge", "etl.bronze_append")
    Figures.jobsPerCall(run, "incremental.merge" -> "incr_merge",
      "etl.bronze_append" -> "bronze_append")
    // storage figures of the last measured cycle's silver table
    Figures.table(spark, run, s"$lastLake/silver/yellow_taxi_silver",
      mergeFiles.toSeq, None)
    Main.rm(s"${run.work}/etl")
  }
}
