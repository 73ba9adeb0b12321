package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** ADD COLUMN … NOT NULL DEFAULT: the zero-rewrite lazy backfill —
  * manifest-only commit, pre-addition files read the default, appends
  * carry or omit the column, rewrites materialize it, renames keep it,
  * time travel predates it. */
class ColumnDefaultSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(vt: VersionedTable): Set[(Long, String)] =
    vt.read().select("id", "tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("manifest-only backfill: zero files rewritten, defaults read") {
    val root = s"${Fixtures.tempDir("graft-coldef")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    val filesBefore = vt.read().inputFiles.toSet
    vt.addColumnWithDefault("tier", StringType, "'standard'") // v1
    assert(vt.read().inputFiles.toSet === filesBefore,
      "the backfill must not touch a data file")
    assert(rows(vt) === Set((1L, "standard"), (2L, "standard")))
    // time travel: the column does not exist at v0
    assert(!vt.readVersion(0L).columns.contains("tier"))
  }

  test("appends may carry the column or omit it") {
    val root = s"${Fixtures.tempDir("graft-coldef2")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s"))
    vt.addColumnWithDefault("tier", StringType, "'standard'")
    vt.write(Seq((2L, "b", "gold")).toDF("id", "s", "tier"),
      SaveMode.Append) // carries it
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // omits it
    assert(rows(vt) ===
      Set((1L, "standard"), (2L, "gold"), (3L, "standard")))
    // a rewrite materializes values physically; results unchanged
    vt.compact()
    assert(rows(vt) ===
      Set((1L, "standard"), (2L, "gold"), (3L, "standard")))
  }

  test("defaults are keyed physically: rename keeps them") {
    val root = s"${Fixtures.tempDir("graft-coldef3")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s"))
    vt.addColumnWithDefault("tier", StringType, "'standard'")
    vt.renameColumn("tier", "grade")
    val got = vt.read().select("id", "grade").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "standard")))
  }

  test("numeric defaults and readBetween row-filter on the default") {
    val root = s"${Fixtures.tempDir("graft-coldef4")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    vt.addColumnWithDefault("prio", LongType, "7")
    vt.write(Seq((3L, 30L, 9L)).toDF("id", "v", "prio"), SaveMode.Append)
    // pre-addition files have no prio stats -> conservatively read,
    // then row-filtered on the DEFAULTED value
    val hit = vt.readMatching(VersionedTable.NumRange("prio", 7, 7)).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(hit === Set(1L, 2L))
    assert(vt.read().filter(col("prio") === 9L).count() === 1L)
  }

  test("validation: null default, duplicate column, partition column") {
    val root = s"${Fixtures.tempDir("graft-coldef5")}/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException] {
      vt.addColumnWithDefault("t2", StringType, "NULL")
    }
    intercept[RuntimeException] {
      vt.addColumnWithDefault("s", StringType, "'x'")
    }
  }
}
