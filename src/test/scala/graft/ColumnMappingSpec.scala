package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Column mapping (Delta rename/drop-without-rewrite semantics):
  * manifest-only commits, zero data files touched, reads logical,
  * appends logical→physical, time travel sees the old names, DV
  * deletes and compaction compose. */
class ColumnMappingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import scala.jdk.CollectionConverters._

  private def dataFiles(root: String): Set[String] = {
    val p = Paths.get(root)
    val s = Files.walk(p)
    try s.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  test("rename + drop are manifest-only; reads, appends, deletes, " +
    "time travel and compaction all see the right schema") {
    val root = Fixtures.tempDir("colmap") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 100L).map(i => (i, i * 2, s"s$i"))
      .toDF("id", "val", "tag")) // v0
    val v0 = vt.currentVersion.get
    val filesBefore = dataFiles(root)

    vt.renameColumn("val", "score") // v1
    vt.dropColumn("tag") // v2
    assert(dataFiles(root) === filesBefore, "rename/drop must move zero data")
    assert(vt.read().columns.toSeq === Seq("id", "score"))
    assert(vt.read().filter(col("score") === 10L).count() === 1)
    // time travel: v0 still reads the ORIGINAL names
    assert(vt.readVersion(v0).columns.toSeq === Seq("id", "val", "tag"))

    // appends address the LOGICAL schema; files store physical names
    vt.write((100L until 150L).map(i => (i, i * 2)).toDF("id", "score"),
      SaveMode.Append) // v3
    assert(vt.read().count() === 150)
    assert(vt.read().filter(col("id") === 120L)
      .select("score").head().getLong(0) === 240L)
    // old files' dropped column is really gone from reads
    assert(!vt.read().columns.contains("tag"))

    // DV delete via the logical name
    vt.deleteVectorized("id", 10, 19)
    assert(vt.read().count() === 140)
    // row values survive the mapping: spot-check a pre-rename row
    assert(vt.read().filter(col("id") === 50L)
      .select("score").head().getLong(0) === 100L)

    // changes() across the rename boundary aligns to the CURRENT
    // logical schema
    val ch = vt.changes(v0, vt.currentVersion.get)
    assert(ch.columns.toSet === Set("id", "score", "_change_type"))

    // compaction (full rewrite) folds the mapping away: fresh physical
    // schema under the logical names, results unchanged
    val before = vt.read().collect().map(_.mkString("|")).sorted
    vt.compact()
    assert(vt.read().columns.toSeq === Seq("id", "score"))
    assert(vt.read().collect().map(_.mkString("|")).sorted === before)

    // evolution under an active mapping is refused (post-compact the
    // mapping is gone, so test on a fresh mapped table)
    val root2 = Fixtures.tempDir("colmap2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(Seq((1L, 2L)).toDF("a", "b"))
    vt2.renameColumn("b", "c")
    val ex = intercept[IllegalArgumentException] {
      vt2.write(Seq((3L, 4L, 5L)).toDF("a", "c", "d"), SaveMode.Append,
        allowSchemaEvolution = true)
    }
    assert(ex.getMessage.contains("column mapping"))
  }

  test("guards: partition columns, unknown/duplicate names, last column") {
    val root = Fixtures.tempDir("colmap-g") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a", 2L)).toDF("id", "part", "x"),
      partitionBy = Some(Seq("part")))
    intercept[IllegalArgumentException](vt.renameColumn("part", "p2"))
    intercept[IllegalArgumentException](vt.dropColumn("part"))
    intercept[IllegalArgumentException](vt.renameColumn("nope", "p2"))
    intercept[IllegalArgumentException](vt.renameColumn("x", "id"))
    intercept[IllegalArgumentException](vt.renameColumn("x", "bad name"))
    vt.dropColumn("x")
    vt.dropColumn("id")
    // `part` is the only survivor — last column cannot go
    intercept[IllegalArgumentException](vt.dropColumn("part"))
    assert(vt.read().columns.toSeq === Seq("part"))
  }

  test("readTimestampAsOf resolves the version live at a commit time") {
    val root = Fixtures.tempDir("tsasof") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "v")) // v0
    vt.write(Seq((2L, "b")).toDF("id", "v"), SaveMode.Append) // v1
    vt.write(Seq((3L, "c")).toDF("id", "v"), SaveMode.Append) // v2
    val hist = vt.history() // newest-first
    assert(hist.map(_.version) === Seq(2L, 1L, 0L))
    // exactly at v1's commit instant → v1; just before v0 → error
    assert(vt.versionAtTimestamp(hist(1).timestamp) === 1L)
    assert(vt.readTimestampAsOf(hist(1).timestamp).count() === 2)
    assert(vt.versionAtTimestamp(hist.head.timestamp) === 2L)
    val before = java.time.Instant.parse(hist.last.timestamp)
      .minusSeconds(1).toString
    intercept[RuntimeException](vt.versionAtTimestamp(before))
  }

  test("generated day(ts) column: source-column range prunes partitions") {
    import graft.io.VersionedTable.TsRange
    val root = Fixtures.tempDir("gencol") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // 10 days × 20 events, day partition derived from ts
    val rows = for (d <- 0 until 10; i <- 0 until 20) yield
      (d * 20L + i, java.sql.Timestamp.from(
        java.time.Instant.parse(f"2024-03-${d + 1}%02dT12:00:00Z")))
    vt.write(rows.toDF("id", "ts")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
      partitionBy = Some(Seq("day")))
    val pred = TsRange("ts", "2024-03-02T00:00:00Z", "2024-03-04T23:00:00Z")
    // WITHOUT the declaration: ts stats may already help, so compare
    // against the declared run on ENTRY COUNTS per partition value
    val before = vt.matchingEntries(pred)
    vt.recordGenerated("day", "day(ts)")
    val after = vt.matchingEntries(pred)
    val days = after.flatMap(_.partitionValues.get("day")).toSet
    assert(days === Set("2024-03-02", "2024-03-03", "2024-03-04"),
      s"generated pruning planned wrong partitions: $days")
    assert(after.size <= before.size)
    // correctness: pruned read == full filter
    val got = vt.readMatching(VersionedTable.TsRange("ts",
      "2024-03-02T00:00:00Z", "2024-03-04T23:00:00Z"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got === (20L until 80L).toArray)
    // guards
    intercept[RuntimeException](vt.recordGenerated("day", "day(ts)"))
    intercept[RuntimeException](vt.recordGenerated("nope", "day(ts)"))
    intercept[RuntimeException](vt.recordGenerated("day", "year(ts)"))
  }

  test("row-level UPDATE and range DELETE address LOGICAL names on a " +
    "mapped table") {
    val root = Fixtures.tempDir("colmap-u") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 100L).map(i => (i, i * 2, s"s$i"))
      .toDF("id", "val", "tag"))
    vt.renameColumn("val", "score")
    vt.dropColumn("tag")
    // UPDATE sets the logical name with an expression over logical cols
    vt.updateBetween("id", 10, 19,
      Map("score" -> (col("score") + lit(1000L))))
    assert(vt.read().filter(col("id") === 15L)
      .select("score").head().getLong(0) === 1030L)
    assert(vt.read().filter(col("id") === 50L)
      .select("score").head().getLong(0) === 100L)
    // the retired physical name is NOT addressable
    intercept[Exception](
      vt.updateBetween("id", 0, 1, Map("val" -> lit(0L))))
    // range DELETE through the renamed column
    vt.deleteBetween("score", 1020.0, 1038.0)
    assert(vt.read().count() === 90)
    assert(vt.read().filter(col("score") >= 1000L).count() === 0)
  }

  test("stats pruning on a mapped table consults PHYSICAL stats keys " +
    "(a stale same-name physical column cannot mis-prune)") {
    val root = Fixtures.tempDir("colmap-s") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // physical `b` spans 1000+, physical `a` spans 0..99; after
    // drop(b) + rename(a→b), logical `b` reads physical `a` — a
    // lookup keyed by the LOGICAL name would hit the stale physical
    // `b` stats and prune files that DO match
    vt.write((0L until 50L).map(i => (i, i, 1000L + i))
      .toDF("id", "a", "b"))
    vt.write((50L until 100L).map(i => (i, i, 1000L + i))
      .toDF("id", "a", "b"), SaveMode.Append)
    vt.dropColumn("b")
    vt.renameColumn("a", "b")
    vt.deleteBetween("b", 0.0, 9.0)
    assert(vt.read().count() === 90)
    assert(vt.read().agg(min(col("b"))).head().getLong(0) === 10L)
    vt.updateBetween("b", 90.0, 99.0, Map("b" -> lit(-1L)))
    assert(vt.read().filter(col("b") === -1L).count() === 10)
    // DV delete through the mapping too
    vt.deleteVectorized("b", 10.0, 14.0)
    assert(vt.read().count() === 85)
  }

  test("clone and restore carry the mapping") {
    val root = Fixtures.tempDir("colmap-c") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 50L).map(i => (i, i * 3)).toDF("id", "v"))
    val v0 = vt.currentVersion.get
    vt.renameColumn("v", "value")
    val clone = vt.shallowCloneTo(Fixtures.tempDir("colmap-cc") + "/tbl")
    assert(clone.read().columns.toSeq === Seq("id", "value"))
    vt.restore(v0)
    assert(vt.read().columns.toSeq === Seq("id", "v"),
      "restore to a pre-mapping version must revive the old names")
  }
}
