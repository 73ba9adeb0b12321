package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Shallow clone: zero data files copied, reads identical to the
  * source snapshot, clone-local writes (append / DV delete) never
  * touch the source, later source commits never move the clone. */
class ShallowCloneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import scala.jdk.CollectionConverters._

  private def parquetDataFiles(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Seq.empty
    val s = Files.walk(p)
    try s.iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).map(_.toString).toList
    finally s.close()
  }

  private def rows(vt: VersionedTable): Seq[String] =
    vt.read().collect().map(_.mkString("|")).sorted.toSeq

  test("clone of a DV-masked table: zero-copy, identical reads, isolation") {
    val src = Fixtures.tempDir("clone-src") + "/tbl"
    val dst = Fixtures.tempDir("clone-dst") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 500L).map(i => (i, s"v$i")).toDF("id", "v"))
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 100, 199).condition) // source carries a DV mask
    val srcBefore = rows(vt)

    val clone = vt.shallowCloneTo(dst)
    assert(rows(clone) === srcBefore, "clone must read the source snapshot")
    // ZERO-COPY: the only parquet under the clone root is the
    // re-rendered DV sidecar — never a data file (data rows live in
    // the source's files, referenced absolutely)
    val cloneFiles = parquetDataFiles(dst)
    assert(cloneFiles.nonEmpty, "expected the re-rendered DV sidecar")
    val sidecarRows = spark.read.parquet(
      cloneFiles.map(_.replaceAll("/[^/]*\\.parquet$", "")).distinct: _*)
    assert(sidecarRows.columns.toSet === Set("file_rel", "pos"),
      "only DV sidecars may exist under a fresh clone root")
    assert(sidecarRows.count() === 100)

    // clone-local DV delete applies on externally-referenced files...
    clone.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 200, 299).condition)
    assert(rows(clone) ===
      (0L until 500L).filterNot(i => i >= 100 && i <= 299)
        .map(i => s"$i|v$i").sorted)
    // ...and the source is untouched
    assert(rows(vt) === srcBefore)

    // clone-local append lands under the clone root only
    clone.write(Seq((9000L, "new")).toDF("id", "v"), SaveMode.Append)
    assert(rows(clone).contains("9000|new"))
    assert(rows(vt) === srcBefore)

    // later SOURCE commits never move the clone (file list copied)
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 0, 49).condition)
    assert(rows(clone).contains("0|v0"),
      "clone must still serve rows the source deleted after cloning")
    assert(!rows(vt).contains("0|v0"))
  }

  test("clone destination deeper than the source paths: DV keys are " +
    "full absolute paths, reads exact") {
    // regression: destRendered used fixed-length prefix stripping of
    // the source file's absolute path; a clone root STRING longer than
    // a source path threw StringIndexOutOfBounds (and shorter ones
    // could collide truncated keys). External files now key by full
    // qualified path on both the sidecar and scan sides.
    val src = Fixtures.tempDir("cl-s") + "/t"
    val dst = Fixtures.tempDir("cl-d") +
      "/an/extremely/deeply/nested/clone/destination/directory/" +
      "far/longer/than/any/source/file/path/could/ever/be/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 10, 19).condition)
    val clone = vt.shallowCloneTo(dst)
    assert(rows(clone) === rows(vt))
    // sidecar keys for external files are the full qualified path
    val sidecar = spark.read.parquet(
      parquetDataFiles(dst).map(_.replaceAll("/[^/]*\\.parquet$", ""))
        .distinct: _*)
    assert(sidecar.select("file_rel").distinct().collect()
      .forall(_.getString(0).contains("/cl-s")),
      "external DV keys must carry the source's absolute path")
    // clone-local deletes on external files still compose
    clone.deleteVectorizedWhere(VersionedTable.NumRange("id", 20, 29).condition)
    assert(clone.read().count() === 80)
    assert(vt.read().count() === 90, "source untouched")
  }

  test("clone of an unmasked table is manifest-only; time travel works") {
    val src = Fixtures.tempDir("clone-src2") + "/tbl"
    val dst = Fixtures.tempDir("clone-dst2") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 100L).map(i => (i, i * 2)).toDF("id", "x"))
    val clone = vt.shallowCloneTo(dst)
    assert(parquetDataFiles(dst).isEmpty,
      s"unmasked clone must copy NOTHING: ${parquetDataFiles(dst)}")
    assert(rows(clone) === rows(vt))
    // clone is a real versioned table: its own history starts at v0
    assert(clone.currentVersion === Some(0L))
    clone.write(Seq((500L, 1L)).toDF("id", "x"), SaveMode.Append)
    assert(clone.readVersion(0L).count() === 100)
    assert(clone.read().count() === 101)
  }

  test("clone VERSION AS OF pins a historical snapshot; later source " +
    "commits and the clone stay independent") {
    val src = Fixtures.tempDir("clone-asof-src") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 50L).map(i => (i, s"v$i")).toDF("id", "s")) // v0
    val v0 = vt.currentVersion.get
    vt.write((50L until 80L).map(i => (i, s"v$i")).toDF("id", "s"),
      SaveMode.Append) // v1
    val clone = vt.shallowCloneTo(
      Fixtures.tempDir("clone-asof-dst") + "/tbl", asOfVersion = Some(v0))
    assert(clone.read().count() === 50,
      "the clone must read the PINNED version, not the current one")
    // the source moved on; the clone did not
    vt.write((80L until 90L).map(i => (i, s"v$i")).toDF("id", "s"),
      SaveMode.Append)
    assert(clone.read().count() === 50)
    // a nonexistent version is refused loudly
    intercept[IllegalArgumentException](vt.shallowCloneTo(
      Fixtures.tempDir("clone-asof-bad") + "/tbl",
      asOfVersion = Some(99L)))
  }

  test("cloning into an existing table is refused") {
    val src = Fixtures.tempDir("clone-src3") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write(Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      vt.shallowCloneTo(src)
    }
  }

  test("deep clone: owns its bytes — identical reads (row ids and DV " +
    "masks included), survives total destruction of the source") {
    val src = Fixtures.tempDir("dclone-src") + "/tbl"
    val dst = Fixtures.tempDir("dclone-dst") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 500L).map(i => (i, s"v$i")).toDF("id", "v"))
    vt.enableRowTracking() // ids must carry through the byte copy
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 100, 199).condition) // DV mask must carry too
    def tagged(t: VersionedTable): Seq[String] =
      t.readWithRowIds().collect().map(_.mkString("|")).sorted.toSeq
    val srcRows = tagged(vt)
    val clone = vt.deepCloneTo(dst)
    assert(tagged(clone) === srcRows)
    assert(parquetDataFiles(dst).nonEmpty, "deep clone must copy bytes")
    // destroy the source completely: overwrite, GC, then rm -rf
    vt.write(Seq((1L, "x")).toDF("id", "v"), SaveMode.Overwrite, "OVERWRITE")
    vt.vacuum(retainVersions = 1, orphanGraceMs = 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    assert(tagged(clone) === srcRows,
      "a deep clone must not reference a single source byte")
  }

  test("deep clone pins a version; refuses external (shallow) references") {
    val src = Fixtures.tempDir("dclone-src2") + "/tbl"
    val vt = new VersionedTable(spark, src)
    vt.write((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")) // v0
    val v0 = vt.currentVersion.get
    vt.write((40L until 60L).map(i => (i, s"v$i")).toDF("id", "v"),
      SaveMode.Append) // v1
    val clone = vt.deepCloneTo(
      Fixtures.tempDir("dclone-dst2") + "/tbl", asOfVersion = Some(v0))
    assert(clone.read().count() === 40)
    // a shallow clone's entries are external -> deep clone refuses
    val shallow = vt.shallowCloneTo(Fixtures.tempDir("dclone-sh") + "/tbl")
    intercept[IllegalArgumentException] {
      shallow.deepCloneTo(Fixtures.tempDir("dclone-sh-deep") + "/tbl")
    }
    // ... and compact() localizes the shallow clone, unblocking it
    shallow.compact()
    val deepened = shallow.deepCloneTo(
      Fixtures.tempDir("dclone-sh-deep2") + "/tbl")
    assert(deepened.read().count() === 60)
  }
}
