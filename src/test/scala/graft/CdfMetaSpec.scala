package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** CDF commit-metadata columns (Delta's `_commit_version` /
  * `_commit_timestamp`): the fields downstream consumers key cursors,
  * audits, and SCD2 effective-dates off. Pins per-version stamping
  * across append, DV-delete, and update-image slices, M33 timestamp
  * monotonicity, the timestamp-resolved form, and the streaming CDF
  * source. */
class CdfMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("changesWithMeta stamps each slice with its version and a " +
      "monotone commit timestamp (append + DV-delete range)") {
    val root = Fixtures.tempDir("graft-cdfmeta") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")) // v0
    vt.write((101L to 120L).map(k => (k, s"v$k")).toDF("k", "v"),
      SaveMode.Append) // v1: appends
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("k", 5, 8).condition) // v2: DV-only commit
    val feed = vt.changes(0L, 2L, commitMeta = true)
    assert(feed.columns.takeRight(2).toSeq ===
      Seq("_commit_version", "_commit_timestamp"))
    // v1 slice: the 20 appended rows as inserts
    val v1 = feed.filter(col("_commit_version") === 1L)
    assert(v1.count() === 20L)
    assert(v1.filter(col("_change_type") =!= "insert").count() === 0L)
    assert(v1.agg(min("k"), max("k")).as[(Long, Long)].head() ===
      ((101L, 120L)))
    // v2 slice: the 4 masked rows as deletes
    val v2 = feed.filter(col("_commit_version") === 2L)
    assert(v2.count() === 4L)
    assert(v2.filter(col("_change_type") =!= "delete").count() === 0L)
    assert(v2.select("k").as[Long].collect().sorted ===
      Array(5L, 6L, 7L, 8L))
    // no other versions, no null stamps
    assert(feed.filter(col("_commit_version").isNull ||
      col("_commit_timestamp").isNull).count() === 0L)
    assert(feed.select("_commit_version").distinct().as[Long]
      .collect().sorted === Array(1L, 2L))
    // M33 monotonicity: v2's stamp >= v1's stamp
    val ts = feed.groupBy("_commit_version")
      .agg(min("_commit_timestamp").as("ts"))
      .orderBy("_commit_version")
      .select("ts").as[java.sql.Timestamp].collect()
    assert(!ts(1).before(ts(0)))
    // data columns agree with the endpoint feed
    val plain = vt.changes(0L, 2L).select("k", "v", "_change_type")
      .collect().map(_.toSeq).toSet
    val meta = feed.select("k", "v", "_change_type")
      .collect().map(_.toSeq).toSet
    assert(meta === plain)
  }

  test("changesWithUpdatesMeta: update pre/post images carry the " +
      "producing commit's version") {
    val root = Fixtures.tempDir("graft-cdfmeta-upd") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 50L).map(k => (k, k * 10L)).toDF("k", "v")) // v0
    vt.enableRowTracking() // v1
    val v2 = vt.mergeVectorized(Seq((7L, 700L), (200L, 1L)).toDF("k", "v"),
      Seq("k"))
    val v3 = vt.updateVectorizedWhere(col("k").between(20, 22),
      Map("v" -> (col("v") + 1L)))
    val feed = vt.changes(1L, v3, updateImages = true, commitMeta = true)
    val byType = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(byType((v2, "update_preimage")) === 1L)
    assert(byType((v2, "update_postimage")) === 1L)
    assert(byType((v2, "insert")) === 1L)
    assert(byType((v3, "update_preimage")) === 3L)
    assert(byType((v3, "update_postimage")) === 3L)
    assert(feed.filter(col("_commit_timestamp").isNull).count() === 0L)
  }

  test("changesBetweenTimestampsWithMeta resolves endpoints and stamps") {
    val root = Fixtures.tempDir("graft-cdfmeta-ts") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("k", "v")) // v0
    vt.write(Seq((2L, "b")).toDF("k", "v"), SaveMode.Append) // v1
    val t1 = vt.history(limit = 1).head.timestamp
    val feed = vt.changesBetweenTimestamps(
      "1970-01-01T00:00:00Z", t1, commitMeta = true)
    assert(feed.select("_commit_version").distinct().as[Long]
      .collect().sorted === Array(0L, 1L))
    assert(feed.filter(col("_commit_version") === 0L).count() === 1L)
    assert(feed.filter(col("_commit_version") === 1L)
      .select("k").as[Long].head() === 2L)
  }

  test("streaming CDF with commit meta: snapshot stamps its version, " +
      "later commits stamp per version") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Fixtures.tempDir("graft-cdfmeta-stream")
    val root = s"$base/tbl"
    val out = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Boolean)]()
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")) // v0
    vt.write(Seq((11L, "v11")).toDF("k", "v"), SaveMode.Append) // v1
    def drain(): Unit = {
      val q = graft.streaming.Streaming
        .changeFeedSource(spark, root, withCommitMeta = true)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => out.add((
            r.getAs[Long]("k"), r.getAs[String]("_change_type"),
            r.getAs[Long]("_commit_version"),
            r.getAs[java.sql.Timestamp]("_commit_timestamp") != null)))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // initial snapshot (v0..v1 current) + nothing else
    vt.write(Seq((12L, "v12")).toDF("k", "v"), SaveMode.Append) // v2
    drain()
    import scala.jdk.CollectionConverters._
    val rows = out.asScala.toSeq
    // the snapshot batch stamps the THEN-CURRENT version (1)
    assert(rows.filter(_._1 <= 11L).forall(r => r._3 === 1L))
    assert(rows.filter(_._1 === 12L).map(_._3) === Seq(2L))
    assert(rows.forall(_._4), "every row carries a commit timestamp")
    assert(rows.size === 12)
  }
}
