package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** The one commit protocol every deletion-vector DML entry commits
  * through, WriteSerializable: a candidate rewritten or re-masked while
  * the commit was in flight fails it loudly, a racing blind append
  * commits and its rows survive, and a column rename fails a commit that
  * appends images (they were written under the old names).
  * `foldVectorized` runs its `foldWith` after the sidecar write and
  * before the commit, so each race is injected there deterministically
  * by a second writer on the same root. */
class DvCommitProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 100 rows (id, v = id * 10) in one file. */
  private def table(prefix: String): (VersionedTable, VersionedTable) = {
    val root = Fixtures.tempDir(prefix) + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 100L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartition(1))
    (vt, new VersionedTable(spark, root))
  }

  /** Fold keys 10..12 into v = -1, running `race` on the second writer
    * between the sidecar write and the commit. */
  private def fold(vt: VersionedTable)(race: => Unit): Long =
    vt.foldVectorized(Seq(10L, 11L, 12L).toDF("id"), Seq("id"),
      "FOLD TEST") { affected =>
      race
      affected.select(col("id"), lit(-1L).as("v"))
    }

  private def rows(vt: VersionedTable): Map[Long, Long] =
    vt.read().as[(Long, Long)].collect().toMap

  test("a racing DV delete on a candidate file fails the fold loudly " +
      "and the fold commits nothing") {
    val (vt, other) = table("graft-dvp-remask")
    val e = intercept[RuntimeException] {
      fold(vt)(other.deleteVectorizedWhere(col("id") === 50L))
    }
    assert(e.getMessage.contains("re-masked"))
    assert(vt.currentVersion === Some(1L)) // the racing delete only
    assert(vt.history(limit = 1).head.operation.startsWith("DELETE DV"))
    val now = rows(vt)
    assert(now.size === 99 && !now.contains(50L))
    assert(Seq(10L, 11L, 12L).forall(k => now(k) == k * 10L))
  }

  test("a racing append commits and its rows survive the fold " +
      "(WriteSerializable)") {
    val (vt, other) = table("graft-dvp-append")
    val v = fold(vt)(other.write(
      Seq((11L, 7L), (500L, 5000L)).toDF("id", "v"), SaveMode.Append,
      operation = "APPEND"))
    assert(v === 2L)
    assert(vt.history(limit = 2).map(_.operation) ===
      Seq("FOLD TEST", "APPEND"))
    val now = vt.read().as[(Long, Long)].collect().toSeq
    // the folded keys' stored rows retired and their images appended;
    // the appended rows, the matching key 11 included, were never
    // scanned and survive as written
    assert(now.count(_._1 == 11L) === 2)
    assert(now.filter(_._1 == 11L).map(_._2).toSet === Set(-1L, 7L))
    assert(now.filter(r => r._1 == 10L || r._1 == 12L).map(_._2) ===
      Seq(-1L, -1L))
    assert(now.contains((500L, 5000L)))
    assert(now.size === 102)
  }

  test("a racing RENAME fails a fold that appends images") {
    val (vt, other) = table("graft-dvp-rename")
    val e = intercept[RuntimeException] {
      fold(vt)(other.renameColumn("v", "w"))
    }
    assert(e.getMessage.contains("renamed or dropped") ||
      e.getMessage.contains("rename/drop"))
    assert(vt.currentVersion === Some(1L)) // the rename only
    assert(vt.read().columns.toSeq === Seq("id", "w"))
    assert(vt.read().count() === 100L)
  }
}
