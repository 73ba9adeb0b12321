package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.VersionedTable

/** REORG PURGE: soft deletes (DV masks) become physical by rewriting
  * ONLY the masked files. Pins row parity across the purge, the
  * minimal-rewrite property (plain files keep their entries), the
  * DV-free manifest after, snapshot isolation of prior versions, the
  * no-mask no-op, and the partitioned-table path. */
class ReorgPurgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newTable(prefix: String): VersionedTable =
    new VersionedTable(spark, Fixtures.tempDir(prefix) + "/tbl")

  test("purge rewrites only masked files; rows identical; DVs gone") {
    val vt = newTable("purge-min")
    vt.write((1L to 400L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(8, col("id")))
    // mask a narrow id range: only the files holding those rows get DVs
    vt.deleteVectorizedWhere(col("id").isin(10L to 20L: _*))
    val vMasked = vt.currentVersion.get
    val before = vt.manifestEntries(vMasked)
    val (masked, plain) = before.partition(_.dvDir.isDefined)
    assert(masked.nonEmpty && plain.nonEmpty,
      "the scenario needs both masked and plain files")
    val rowsBefore = vt.read().as[(Long, Double)].collect().sorted.toSeq

    val vPurged = vt.reorgPurge()
    assert(vPurged === vMasked + 1)
    val after = vt.manifestEntries(vPurged)
    assert(after.forall(_.dvDir.isEmpty), "no DV survives a purge")
    // minimal rewrite: every plain entry survives verbatim
    val afterPaths = after.map(_.relPath).toSet
    plain.foreach(e => assert(afterPaths.contains(e.relPath),
      s"plain file ${e.relPath} must not be rewritten"))
    masked.foreach(e => assert(!afterPaths.contains(e.relPath),
      s"masked file ${e.relPath} must be replaced"))
    // row parity: purge moves bytes, never rows
    assert(vt.read().as[(Long, Double)].collect().sorted.toSeq
      === rowsBefore)
    assert(vt.read().count() === 400 - 11)
    // snapshot isolation: the pre-purge version still reads the masked
    // view (same rows), the pre-delete version reads everything
    assert(vt.readVersion(vMasked).count() === 400 - 11)
    assert(vt.readVersion(vMasked - 1).count() === 400)
  }

  test("no masks -> no-op, version unchanged") {
    val vt = newTable("purge-noop")
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v = vt.currentVersion.get
    assert(vt.reorgPurge() === v)
    assert(vt.currentVersion.get === v)
  }

  test("partitioned table: purge respects partition layout") {
    val vt = newTable("purge-part")
    vt.write((0L until 100L).map(i => (i, s"s$i", (i % 4).toString))
      .toDF("id", "s", "bucket"), partitionBy = Some(Seq("bucket")))
    vt.deleteVectorizedWhere(col("id").isin(5L, 6L, 7L))
    vt.reorgPurge()
    val after = vt.manifestEntries(vt.currentVersion.get)
    assert(after.forall(_.dvDir.isEmpty))
    assert(after.forall(_.partitionValues.contains("bucket")),
      "rewritten files must land under the partition layout")
    assert(vt.read().count() === 97)
    // partition pruning still works over the purged layout; of the
    // deleted ids 5/6/7 only 5 lands in bucket 1 (5 % 4)
    assert(vt.read().filter(col("bucket") === "1").count() === 25 - 1)
  }

  test("appends after the masked snapshot are kept by the purge commit") {
    val vt = newTable("purge-append")
    vt.write((1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v"))
    vt.deleteVectorizedWhere(col("id").isin(3L))
    vt.write(Seq((1000L, 0.5)).toDF("id", "v"), SaveMode.Append)
    vt.reorgPurge()
    assert(vt.read().count() === 50)
    assert(vt.read().filter(col("id") === 1000L).count() === 1)
  }
}
