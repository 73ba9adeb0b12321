package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{TableIO, VersionedTable}

/** CONVERT TO versioned table in place (Delta CONVERT TO DELTA):
  * zero-copy adoption of a plain parquet directory — v0 references the
  * ORIGINAL files byte-identically, footer stats and path-derived
  * partition values power pruning immediately, and the adopted table
  * is first-class for appends / time travel / DV deletes. */
class ConvertInPlaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plainFiles(root: String): Set[String] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(base).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        out += base.relativize(p).toString
    }
    out.toSet
  }

  test("adoption is zero-copy: v0 references the original files; no " +
    "data file is created, moved, or rewritten") {
    val root = Fixtures.tempDir("convert-zerocopy") + "/tbl"
    TableIO.write((1L to 100L).map(i => (i, s"v$i", i % 3))
      .toDF("id", "s", "bucket"), root, SaveMode.Overwrite, Some("bucket"))
    val before = plainFiles(root)
    val vt = new VersionedTable(spark, root)
    vt.convertInPlace(Seq("bucket"))
    assert(plainFiles(root) === before, "no data file churn")
    val entries = vt.manifestEntries(0L)
    assert(entries.map(_.relPath).toSet === before)
    assert(entries.forall(_.partitionValues.contains("bucket")))
    assert(vt.read().count() === 100L)
  }

  test("adopted files prune by partition value and by footer stats") {
    val root = Fixtures.tempDir("convert-prune") + "/tbl"
    // two partitions, ids range-clustered so footers carry tight stats
    TableIO.write((1L to 100L).map(i => (i, i % 2))
      .toDF("id", "bucket").repartitionByRange(2, col("id")),
      root, SaveMode.Overwrite, Some("bucket"))
    val vt = new VersionedTable(spark, root)
    vt.convertInPlace(Seq("bucket"))
    val all = vt.manifestEntries(0L)
    val part = vt.matchingEntries(VersionedTable.PartitionEq("bucket", "0"))
    assert(part.nonEmpty && part.size < all.size,
      "partition pruning must exclude bucket=1 files")
    val ranged = vt.matchingEntries(VersionedTable.NumRange("id", 1, 5))
    assert(ranged.nonEmpty && ranged.size < all.size,
      "footer stats must prune the high-id files")
  }

  test("an adopted table is first-class: append, time travel, DV delete") {
    val root = Fixtures.tempDir("convert-firstclass") + "/tbl"
    TableIO.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root,
      SaveMode.Overwrite, None)
    val vt = new VersionedTable(spark, root)
    vt.convertInPlace()
    vt.write(Seq((3L, "c")).toDF("id", "s"), SaveMode.Append) // v1
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 2, 2).condition) // v2: DV over an ADOPTED file
    assert(vt.read().select("id").collect().map(_.getLong(0)).sorted
      === Seq(1L, 3L))
    assert(vt.readVersion(0L).count() === 2L, "time travel to adoption")
  }

  test("pruningReport: planned-vs-total scan economics match the plan " +
    "the reads actually make") {
    val root = Fixtures.tempDir("convert-report") + "/tbl"
    TableIO.write((1L to 100L).map(i => (i, i % 2))
      .toDF("id", "bucket").repartitionByRange(4, col("id")),
      root, SaveMode.Overwrite, Some("bucket"))
    val vt = new VersionedTable(spark, root)
    vt.convertInPlace(Seq("bucket"))
    val r = vt.pruningReport(VersionedTable.NumRange("id", 1, 5))
    assert(r.plannedFiles ===
      vt.matchingEntries(VersionedTable.NumRange("id", 1, 5)).size,
      "the report IS the plan")
    assert(r.plannedFiles < r.totalFiles && r.plannedFiles > 0)
    assert(r.plannedBytes < r.totalBytes && r.byteFraction < 1.0)
    assert(r.totalRows === 100L)
    val all = vt.pruningReport() // no predicates: everything planned
    assert(all.plannedFiles === all.totalFiles &&
      all.byteFraction === 1.0)
  }

  test("refusals: already-versioned directories and partition columns " +
    "the layout does not carry") {
    val root = Fixtures.tempDir("convert-refuse") + "/tbl"
    TableIO.write(Seq((1L, "a")).toDF("id", "s"), root,
      SaveMode.Overwrite, None)
    val vt = new VersionedTable(spark, root)
    intercept[IllegalArgumentException] {
      vt.convertInPlace(Seq("bucket")) // no bucket=... segments
    }
    vt.convertInPlace()
    intercept[IllegalArgumentException] { vt.convertInPlace() }
  }
}
