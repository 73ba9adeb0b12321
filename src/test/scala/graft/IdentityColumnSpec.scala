package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Identity columns (Delta GENERATED ALWAYS AS IDENTITY): metadata-only
  * declaration riding row tracking — allocation shape, fresh blocks on
  * append, stability through rewrites, and the ALWAYS refusals. */
class IdentityColumnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("allocation: startWith/step arithmetic progression; plain read " +
    "schema unchanged; appends take the next contiguous block") {
    val root = Fixtures.tempDir("idcol") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    vt.addIdentityColumn("sk", startWith = 1000L, step = 2L)
    assert(vt.read().columns.toSeq === Seq("k", "v"),
      "identity is metadata-only: the plain read schema must not change")
    val ids0 = vt.readWithIdentity().select("sk").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids0 === (0L until 100L).map(1000L + 2L * _))
    vt.write((100L until 150L).map(i => (i, s"v$i")).toDF("k", "v"),
      SaveMode.Append)
    val ids1 = vt.readWithIdentity().select("sk").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids1 === (0L until 150L).map(1000L + 2L * _),
      "an append must take the next contiguous identity block")
  }

  test("identity values are STABLE through DV delete, compaction and " +
    "REORG PURGE (the rewrite guarantee)") {
    val root = Fixtures.tempDir("idcol-stab") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 300L).map(i => (i, s"v$i")).toDF("k", "v"))
    vt.addIdentityColumn("sk")
    def byKey(): Map[Long, Long] = vt.readWithIdentity()
      .select("k", "sk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = byKey()
    vt.deleteVectorizedWhere(VersionedTable.NumRange("k", 50, 99).condition)
    vt.compact()
    vt.reorgPurge()
    val after = byKey()
    assert(after.keySet === before.keySet -- (50L to 99L))
    assert(after.forall { case (k, sk) => before(k) == sk },
      "every surviving row must keep its identity value across rewrites")
  }

  test("GENERATED ALWAYS: writes carrying the column are refused; " +
    "double-add and name collisions are refused") {
    val root = Fixtures.tempDir("idcol-ref") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("k", "v"))
    vt.addIdentityColumn("sk")
    intercept[IllegalArgumentException] {
      vt.write(Seq((2L, "b", 7L)).toDF("k", "v", "sk"), SaveMode.Append)
    }
    intercept[RuntimeException] { vt.addIdentityColumn("sk2") }
    val vt2 = new VersionedTable(spark, Fixtures.tempDir("idcol-ref2") + "/t")
    vt2.write(Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] { vt2.addIdentityColumn("v") }
  }

  test("identity survives the manifest round trip (header codec) and " +
    "deep clone") {
    val root = Fixtures.tempDir("idcol-rt") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    vt.addIdentityColumn("sk", startWith = -5L, step = 3L)
    // a fresh handle re-reads the manifest from disk
    val reread = new VersionedTable(spark, root)
    val ids = reread.readWithIdentity().select("sk").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 40L).map(-5L + 3L * _))
    val clone = reread.deepCloneTo(Fixtures.tempDir("idcol-cl") + "/tbl")
    val cids = clone.readWithIdentity().select("sk").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(cids === ids, "deep clone must carry the identity column")
  }
}
