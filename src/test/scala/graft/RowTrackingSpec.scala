package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.VersionedTable

/** ROW TRACKING (Delta row IDs) + the update-image change feed.
  * Pins: id uniqueness and stability, fresh ranges on append, id
  * preservation across UPDATE / OPTIMIZE / REORG PURGE rewrites, the
  * no-op change feed across pure layout changes, update_preimage/
  * update_postimage pairing, the monotone high-water mark across
  * RESTORE, and IVM consumption of an update feed. */
class RowTrackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(prefix: String): VersionedTable =
    new VersionedTable(spark, Fixtures.tempDir(prefix) + "/tbl")

  private def rids(df: DataFrame): Seq[Long] =
    df.select("_row_id").as[Long].collect().sorted.toSeq

  test("enable assigns unique stable ids; appends take fresh ranges") {
    val vt = newTable("rid-basic")
    vt.write((1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartition(4, col("id")))
    assert(!vt.rowTrackingEnabled)
    val v1 = vt.enableRowTracking()
    assert(vt.rowTrackingEnabled)
    // idempotent: enabling again is a no-op commit-wise
    assert(vt.enableRowTracking() === v1)
    val ids = rids(vt.readWithRowIds())
    assert(ids.size === 100 && ids.distinct.size === 100)
    assert(ids === (0L until 100L), "dense contiguous ids at enable time")
    // stable across re-reads
    assert(rids(vt.readWithRowIds()) === ids)
    // value ↔ id pairing is stable too
    val pair1 = vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(pair1 === vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().sorted.toSeq)

    vt.write((200L to 219L).map(i => (i, 0.0)).toDF("id", "v"),
      SaveMode.Append)
    val ids2 = rids(vt.readWithRowIds())
    assert(ids2.size === 120 && ids2.distinct.size === 120)
    assert(ids2.take(100) === ids, "existing ids survive an append")
    assert(ids2.drop(100).forall(_ >= 100L), "fresh ids above the mark")
  }

  test("UPDATE preserves every row id; feed shows exactly the updates") {
    val vt = newTable("rid-update")
    vt.write((1L to 60L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(3, col("id")))
    vt.enableRowTracking()
    val v0 = vt.currentVersion.get
    val before = vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    vt.updateBetween("id", 10.0, 12.0, Map("v" -> (col("v") * 100)))
    val v1 = vt.currentVersion.get
    val after = vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(after === before, "every row keeps its id across the rewrite")

    val feed = vt.changes(v0, v1, updateImages = true)
      .select("id", "v", "_row_id", "_change_type")
      .as[(Long, Double, Long, String)].collect().toSeq
    val byType = feed.groupBy(_._4)
    assert(byType.keySet === Set("update_preimage", "update_postimage"))
    assert(byType("update_preimage").map(t => (t._1, t._2)).sorted
      === Seq((10L, 10.0), (11L, 11.0), (12L, 12.0)))
    assert(byType("update_postimage").map(t => (t._1, t._2)).sorted
      === Seq((10L, 1000.0), (11L, 1100.0), (12L, 1200.0)))
    // images pair by row id
    val preIds = byType("update_preimage").map(t => (t._1, t._3)).toMap
    val postIds = byType("update_postimage").map(t => (t._1, t._3)).toMap
    assert(preIds === postIds)
    assert(preIds === before.filter(kv => kv._1 >= 10 && kv._1 <= 12))
  }

  test("OPTIMIZE and REORG PURGE are invisible to the change feed") {
    val vt = newTable("rid-layout")
    vt.write((1L to 200L).map(i => (i, i % 7)).toDF("id", "m")
      .repartition(8, col("id")))
    vt.enableRowTracking()
    val ids0 = rids(vt.readWithRowIds())
    val v0 = vt.currentVersion.get
    vt.compact(targetFileMB = 1)
    assert(rids(vt.readWithRowIds()) === ids0,
      "compaction preserves every id")
    val feed0 = vt.changes(v0, vt.currentVersion.get, updateImages = true)
    assert(feed0.count() === 0L, "a pure layout change is not a change")
    // the rewrite-only window answers from HISTORY, not a table diff:
    // the plan must contain no file scan at all
    val plan0 = feed0.queryExecution.executedPlan.toString
    assert(!plan0.contains("Scan parquet") && !plan0.contains("FileScan"),
      s"compaction-only window must plan zero data-file reads:\n$plan0")

    // DV-delete then purge: the delete IS a change, the purge is not
    vt.deleteVectorizedWhere(col("id").isin(5L, 6L))
    val vDel = vt.currentVersion.get
    val dels = vt.changes(v0, vDel, updateImages = true)
    assert(dels.select("_change_type").as[String].collect().toSet
      === Set("delete"))
    assert(dels.select("id").as[Long].collect().sorted.toSeq
      === Seq(5L, 6L))
    vt.reorgPurge()
    val feedP = vt.changes(vDel, vt.currentVersion.get, updateImages = true)
    assert(feedP.count() === 0L, "purge moves bytes, never rows")
    val planP = feedP.queryExecution.executedPlan.toString
    assert(!planP.contains("Scan parquet") && !planP.contains("FileScan"),
      "purge-only window must plan zero data-file reads")
    // a window MIXING a rewrite with a real change still diffs right
    assert(vt.changes(v0, vt.currentVersion.get, updateImages = true)
      .select("_change_type").as[String].collect().toSet === Set("delete"))
    assert(rids(vt.readWithRowIds()).size === 198)
  }

  test("delete-rewrite path also preserves surviving ids") {
    val vt = newTable("rid-delrw")
    vt.write((1L to 80L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(4, col("id")))
    vt.enableRowTracking()
    val before = vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    vt.deleteBetween("id", 30.0, 39.0)
    val after = vt.readWithRowIds().select("id", "_row_id")
      .as[(Long, Long)].collect().toMap
    assert(after === before.filter(kv => kv._1 < 30 || kv._1 > 39))
  }

  test("RESTORE never rewinds the id high-water mark") {
    val vt = newTable("rid-restore")
    vt.write((1L to 10L).map(i => (i, "base")).toDF("id", "s"))
    vt.enableRowTracking()
    val vBase = vt.currentVersion.get
    vt.write((11L to 20L).map(i => (i, "first")).toDF("id", "s"),
      SaveMode.Append)
    val firstAppendIds = rids(vt.readWithRowIds()).drop(10).toSet
    vt.restore(vBase)
    vt.write((21L to 30L).map(i => (i, "second")).toDF("id", "s"),
      SaveMode.Append)
    val nowIds = rids(vt.readWithRowIds())
    assert(nowIds.size === 20 && nowIds.distinct.size === 20)
    val secondAppendIds = nowIds.drop(10).toSet
    assert(secondAppendIds.intersect(firstAppendIds).isEmpty,
      "ids of rows dropped by the restore must never be re-issued")
  }

  test("re-enable after RESTORE to a PRE-tracking version seeds off " +
    "the historical high-water mark, never reusing issued ids") {
    val vt = newTable("rid-restore-pre")
    vt.write((0L until 10L).map(i => (i, "base")).toDF("id", "s")) // v0
    val v0 = vt.currentVersion.get
    vt.enableRowTracking() // ids 0..9, hw=10
    vt.write((10L until 20L).map(i => (i, "more")).toDF("id", "s"),
      SaveMode.Append) // ids 10..19, hw=20
    vt.restore(v0) // pre-tracking manifest: rowIdHw gone
    assert(!vt.rowTrackingEnabled)
    vt.enableRowTracking()
    val ids = rids(vt.readWithRowIds())
    assert(ids === (20L until 30L),
      "ids 0..19 were issued before the restore and must never recur")
  }

  test("IncrementalAgg consumes an update feed exactly") {
    val vt = newTable("rid-ivm")
    vt.write((1L to 50L).map(i => (i, (i % 5).toString, i * 1.0))
      .toDF("id", "g", "x").repartition(4, col("id")))
    vt.enableRowTracking()
    val v0 = vt.currentVersion.get
    val prior = vt.readVersion(v0).groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum("x").as("sum_x"))
    vt.updateBetween("id", 7.0, 9.0, Map("x" -> (col("x") + 1000)))
    vt.write(Seq((100L, "9", 5.0)).toDF("id", "g", "x"), SaveMode.Append)
    val v1 = vt.currentVersion.get
    val maintained = graft.incremental.IncrementalAgg.update(
      prior, vt.changes(v0, v1, updateImages = true), Seq("g"), Seq("x"))
    val recomputed = vt.read().groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum("x").as("sum_x"))
    val canon = (df: DataFrame) => df.select("g", "n_rows", "sum_x")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(canon(maintained) === canon(recomputed))
  }

  test("reserved physical column name is refused on user writes") {
    val vt = newTable("rid-reserved")
    val ex = intercept[IllegalArgumentException] {
      vt.write(Seq((1L, 2L)).toDF("id", "__graft_rid"))
    }
    assert(ex.getMessage.contains("reserved"))
  }
}
