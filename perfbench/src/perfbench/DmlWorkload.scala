package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.io.VersionedTable

/** `table_dml`: a seeded operation mix on one versioned table, checked
  * against a shadow model kept in the harness. Each cycle appends,
  * upserts, DV-deletes and DV-updates a few rows, then does a point
  * read, a time-travel read and a change-feed drain, and compacts, so
  * every cycle starts from the same steady state. */
final class DmlWorkload extends Workload {
  private val BaseRows = 50000
  private val Batch = 1000
  private val RangeWidth = BaseRows / 1000 // ~0.1% of the rows per DV op
  private val PointKeys = 8

  private var root: String = _
  private var ckpt: String = _
  private var rng: java.util.Random = _
  private var vt: VersionedTable = _
  /** Shadow model: live id -> v, each row's write generation (a row
    * rewritten by a merge or update is a new physical row), the rows as
    * of the last drain, and (count, sum v) per version. */
  private val live = mutable.LongMap.empty[Long]
  private val gen = mutable.LongMap.empty[Long]
  private var drained = mutable.LongMap.empty[Long]
  private var nextGen = 0L
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val history = mutable.LongMap.empty[(Long, Long)]
  private var nextId = 0L
  private var firstDmlVersion = 0L
  /** Measured-loop records for the per-layer figures. */
  private val dmlFiles = mutable.ArrayBuffer.empty[Double]
  private val drainBatches = mutable.ArrayBuffer.empty[Double]
  private val drainRows = mutable.ArrayBuffer.empty[Double]
  private val compactFiles = mutable.ArrayBuffer.empty[(Double, Double)]

  def warmupCycles: Int = 2

  def geomeanOps: Seq[String] = Seq("dml.append", "dml.merge", "dml.dv_delete",
    "dml.dv_update", "dml.point_read", "dml.time_travel", "dml.cdf_drain")

  def setup(spark: SparkSession, run: Run): Unit = {
    root = s"${run.work}/dml/table"
    ckpt = s"${run.work}/dml/ckpt"
    Main.rm(s"${run.work}/dml")
    rng = new java.util.Random(run.seed)
    live.clear(); gen.clear(); keys.clear(); history.clear()
    vt = new VersionedTable(spark, root)
    vt.write(spark.range(0, BaseRows, 1, 8).select(col("id"),
      (col("id") * 7919 % 1000003).as("v"),
      concat(lit("t"), (col("id") % 97).cast("string")).as("tag")))
    vt.buildBloomIndex("id")
    (0L until BaseRows).foreach { id => put(id, id * 7919 % 1000003); keys += id }
    drained = gen.clone()
    nextId = BaseRows
    firstDmlVersion = vt.currentVersion.get + 1
    record(run, dml = false)
  }

  private def put(id: Long, v: Long): Unit = {
    live(id) = v
    gen(id) = nextGen
    nextGen += 1
  }

  /** Notes the shadow state of the version just committed. */
  private def record(run: Run, dml: Boolean = true): Unit = {
    val v = vt.currentVersion.get
    history(v) = (live.size.toLong, live.valuesIterator.sum)
    if (dml && run.measuring) dmlFiles += Figures.addedFiles(vt)
  }

  private def rows(spark: SparkSession, rs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rs.toDF("id", "v").withColumn("tag", lit("u"))
  }

  /** A random live key (keys holds ids ever written; skip dead ones). */
  private def liveKey(): Long = {
    var k = keys(rng.nextInt(keys.size))
    while (!live.contains(k)) k = keys(rng.nextInt(keys.size))
    k
  }

  def cycle(spark: SparkSession, run: Run, i: Int): Unit = run.cycle {
    // append
    val fresh = (0 until Batch).map(j => (nextId + j, rng.nextInt(1000000).toLong))
    nextId += Batch
    run.op("dml.append") { vt.write(rows(spark, fresh), SaveMode.Append, "APPEND") }
    fresh.foreach { case (k, v) => put(k, v); keys += k }
    record(run)

    // upsert: half existing keys, half new
    val matched = Iterator.continually(liveKey()).distinct.take(Batch / 2).toSeq
    val src = matched.map(k => (k, rng.nextInt(1000000).toLong)) ++
      (0 until Batch / 2).map(j => (nextId + j, rng.nextInt(1000000).toLong))
    nextId += Batch / 2
    run.op("dml.merge") { vt.mergeVectorized(rows(spark, src), Seq("id")) }
    src.foreach { case (k, v) => if (!live.contains(k)) keys += k; put(k, v) }
    record(run)

    // DV delete and DV update over ~0.1% of the rows each
    val d0 = liveKey()
    run.op("dml.dv_delete") {
      vt.deleteVectorizedWhere(col("id") >= d0 && col("id") < d0 + RangeWidth) }
    val dead = (d0 until d0 + RangeWidth).filter(live.contains)
    dead.foreach { k => live.remove(k); gen.remove(k) }
    record(run)

    val u0 = liveKey()
    run.op("dml.dv_update") {
      vt.updateVectorizedWhere(col("id") >= u0 && col("id") < u0 + RangeWidth,
        Map("v" -> (col("v") + 1))) }
    val upd = (u0 until u0 + RangeWidth).filter(live.contains)
    upd.foreach(k => put(k, live(k) + 1))
    record(run)

    // point read: live keys plus keys deleted above
    val probe = (Seq.fill(PointKeys - 2)(liveKey()) ++ dead.take(2)).distinct
    val got = run.op("dml.point_read") {
      vt.readWhereKeyIn("id", probe).select("id", "v").collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    run.check(got == probe.flatMap(k => live.get(k).map(k -> _)).toMap,
      s"point read of ${probe.mkString(",")} returned $got")

    // time travel three versions back
    val back = vt.currentVersion.get - 3
    val tt = run.op("dml.time_travel") {
      vt.readVersion(back).agg(count(lit(1)), sum("v")).head() }
    run.check(history.get(back).contains((tt.getLong(0), tt.getLong(1))),
      s"version $back read (${tt.getLong(0)}, ${tt.getLong(1)}), expected ${history.get(back)}")

    // change-feed drain of everything committed since the last drain:
    // the net change per physical row (a row written and removed within
    // the window shows in neither count)
    val (ins, del) = run.op("dml.cdf_drain") { drain(spark, run) }
    val expIns = gen.count { case (k, g) => !drained.get(k).contains(g) }
    val expDel = drained.count { case (k, g) => !gen.get(k).contains(g) }
    run.check(ins == expIns && del == expDel,
      s"drain saw $ins inserts / $del deletes, expected $expIns / $expDel")
    drained = gen.clone()

    // compaction, then a drain over the compaction commit alone: the
    // change feed must see a rewrite in a window of its own, where it
    // emits nothing
    val (before, after) = run.op("maintenance.compact") {
      graft.maintenance.Maintenance.compact(spark, root) }
    if (run.measuring) compactFiles += (before.toDouble -> after.toDouble)
    record(run, dml = false)
    val quiet = run.op("streaming.drain_optimize") { drain(spark, run, keep = false) }
    run.check(quiet == (0L, 0L), s"drain over a compaction emitted $quiet")
  }

  /** One availableNow drain; returns (insert rows, delete rows). */
  private def drain(spark: SparkSession, run: Run, keep: Boolean = true): (Long, Long) = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    var batches = 0
    val q = graft.streaming.Streaming
      .changeFeedSource(spark, root, startingVersion = Some(firstDmlVersion))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches += 1
        df.groupBy("_change_type").count().collect().foreach { r =>
          counts.merge(r.getString(0), r.getLong(1), (a: Long, b: Long) => a + b)
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally {
      org.apache.spark.sql.graftbridge.StateStoreHygiene.unloadAll()
    }
    if (run.measuring && keep) {
      drainBatches += batches
      drainRows += counts.values().stream().mapToLong(x => x).sum().toDouble
    }
    (counts.getOrDefault("insert", 0L), counts.getOrDefault("delete", 0L))
  }

  def finish(spark: SparkSession, run: Run): Unit = {
    val r = vt.read().agg(count(lit(1)), sum("id"), sum("v")).head()
    run.check(r.getLong(0) == live.size && r.getLong(1) == live.keysIterator.sum &&
      r.getLong(2) == live.valuesIterator.sum,
      s"final table (${r.getLong(0)}, ${r.getLong(1)}, ${r.getLong(2)}) != shadow " +
        s"(${live.size}, ${live.keysIterator.sum}, ${live.valuesIterator.sum})")
    val med = (xs: Iterable[Double]) => Stats.median(xs.toSeq)
    Seq("append", "merge", "dv_delete", "dv_update", "point_read", "time_travel",
      "cdf_drain").foreach { k =>
      run.put(s"dml.${k}_p50_ms", med(run.ops(s"dml.$k")) * 1e3, "ms") }
    run.put("dml.ops_per_s", run.opSamples.values.map(_.size).sum /
      math.max(1e-9, run.cycleSamples.sum), "1/s")
    Figures.table(spark, run, root, dmlFiles.toSeq, Some("id" -> liveKey()))
    Figures.commits(run, "dml.append", "dml.merge", "dml.dv_delete", "dml.dv_update")
    Figures.jobsPerCall(run, "dml.append" -> "append",
      "dml.merge" -> "merge", "dml.dv_delete" -> "dv_delete",
      "dml.dv_update" -> "dv_update", "dml.point_read" -> "point_read",
      "dml.time_travel" -> "time_travel", "dml.cdf_drain" -> "cdf_drain")
    run.put("streaming.drain_batches", med(drainBatches), "count")
    run.put("streaming.drain_rows", med(drainRows), "count")
    run.put("maintenance.compact_s", med(run.ops("maintenance.compact")), "s")
    run.put("maintenance.files_before", med(compactFiles.map(_._1)), "count")
    run.put("maintenance.files_after", med(compactFiles.map(_._2)), "count")
    Main.rm(s"${run.work}/dml")
  }
}
