package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Per-file DV counts come from the sidecar write's own tasks (a stats
  * tracker), not from reading the sidecar back. These specs read it
  * back anyway and demand the same numbers: from the tracker directly,
  * and through the manifest after merge, update, delete and a commit
  * that folds a DV chain. */
class DvWriteStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Every masked entry's recorded count equals the rows its chain's
    * sidecars hold for it. */
  private def assertCountsReadBack(vt: VersionedTable, root: String): Unit = {
    val masked = vt.manifestEntries(vt.currentVersion.get)
      .filter(_.dvDir.isDefined)
    assert(masked.nonEmpty)
    masked.foreach { e =>
      val n = spark.read.parquet(e.dvDirs.map(d => s"$root/$d"): _*)
        .filter(col("file_rel") === e.relPath).count()
      assert(n === e.dvRows, s"${e.relPath}: manifest ${e.dvRows}, sidecars $n")
    }
  }

  private def table(prefix: String): (VersionedTable, String) = {
    val root = Fixtures.tempDir(prefix) + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 2000L).map(i => (i, i * 3)).toDF("id", "v")
      .repartition(4, col("id")))
    (vt, root)
  }

  test("the tracker counts each key's rows over all tasks of the write") {
    val dir = Fixtures.tempDir("graft-tracked") + "/out"
    val df = (0L until 600L).map(i => (s"f${i % 7}", i)).toDF("file_rel", "pos")
      .repartition(3)
    val tracker = new org.apache.spark.sql.graftbridge.RowsPerKeyTracker(0)
    org.apache.spark.sql.graftbridge.TrackedWrite.parquet(df, dir, Map.empty,
      Seq(tracker))
    val readBack = spark.read.parquet(dir).groupBy("file_rel").count()
      .as[(String, Long)].collect().toMap
    assert(tracker.counts === readBack)
    assert(readBack.values.sum === 600L)
  }

  test("DV counts from the write equal the sidecar read back: merge, " +
    "update, delete") {
    val (vt, root) = table("graft-dvstats")
    vt.mergeVectorized(((10L until 60L).map(i => (i, -i)) ++
      (5000L until 5010L).map(i => (i, i))).toDF("id", "v"), Seq("id"))
    assertCountsReadBack(vt, root)
    vt.updateVectorizedWhere(col("id") >= 100L && col("id") < 180L,
      Map("v" -> (col("v") + 1)))
    assertCountsReadBack(vt, root)
    vt.deleteVectorizedWhere(col("id") % 9 === 0)
    assertCountsReadBack(vt, root)
    assert(vt.read().count() === 2010L - (0L until 2000L).count(_ % 9 == 0) -
      (5000L until 5010L).count(_ % 9 == 0))
  }

  test("DV counts from the write equal the sidecar read back across a " +
    "chain fold") {
    spark.conf.set("graft.dv.maxChainLinks", "2")
    try {
      val (vt, root) = table("graft-dvstats-fold")
      val ranges = Seq((0L, 40L), (40L, 90L), (90L, 150L), (150L, 160L))
      ranges.foreach { case (lo, hi) =>
        vt.deleteVectorizedWhere(col("id") >= lo && col("id") < hi)
        assertCountsReadBack(vt, root)
      }
      val entries = vt.manifestEntries(vt.currentVersion.get)
      assert(entries.forall(_.dvDirs.size <= 2), "chains must have folded")
      assert(entries.map(_.dvRows).sum === 160L)
      assert(vt.read().count() === 1840L)
    } finally spark.conf.unset("graft.dv.maxChainLinks")
  }

  test("table writes leave no _SUCCESS marker: data, DV and bloom " +
    "sidecars") {
    val (vt, root) = table("graft-nosuccess")
    vt.buildBloomIndex("id")
    vt.mergeVectorized(Seq((1L, 0L), (9000L, 1L)).toDF("id", "v"), Seq("id"))
    vt.updateVectorizedWhere(col("id") === 7L, Map("v" -> lit(0L)))
    vt.deleteVectorizedWhere(col("id") === 8L)
    graft.maintenance.Maintenance.compact(spark, root)
    val markers = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(root), null, true).toArray
      .map(_.asInstanceOf[java.io.File]).filter(_.getName == "_SUCCESS")
    assert(markers.isEmpty, markers.mkString(", "))
  }
}
