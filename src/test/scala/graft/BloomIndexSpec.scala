package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{ManifestEntry, VersionedTable}

/** Per-file bloom index: point-lookup file skipping with one-sided
  * error — files may be read for nothing, never skipped wrongly.
  * Pins the skip count on hash-scattered keys (where min/max stats
  * prune NOTHING), the no-false-negative property over every key,
  * and the conservative fallback for unindexed (post-build) files. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scattered(n: Int): VersionedTable = {
    val vt = new VersionedTable(spark,
      Fixtures.tempDir("bloom") + "/tbl")
    // hash-scatter into 8 files: every file spans the full key range,
    // so range stats are useless and only the bloom can skip
    vt.write((1L to n.toLong).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(8, col("k")))
    vt
  }

  test("single-key lookup opens ~1 of 8 files; rows are exact") {
    val vt = scattered(4000)
    vt.buildBloomIndex("k")
    val all = vt.manifestEntries(vt.currentVersion.get)
    assert(all.size === 8)
    val planned = vt.bloomPlannedEntries("k", Seq(77L))
    assert(planned.size < all.size,
      s"bloom must skip files: planned ${planned.size} of ${all.size}")
    assert(vt.readWhereKeyIn("k", Seq(77L)).as[(Long, String)].collect()
      .toSeq === Seq((77L, "v77")))
  }

  test("no false negatives across every key") {
    val vt = scattered(500)
    vt.buildBloomIndex("k")
    // every key must be found — a bloom that loses a key would return
    // zero rows here
    val found = (1L to 500L).count(k =>
      vt.bloomPlannedEntries("k", Seq(k)).nonEmpty)
    assert(found === 500)
    // spot-check full read equality on a multi-key probe
    val keys = Seq(3L, 250L, 499L, 9999L) // 9999 absent
    assert(vt.readWhereKeyIn("k", keys).count() === 3)
  }

  test("files appended after the build are always read") {
    val vt = scattered(100)
    vt.buildBloomIndex("k")
    vt.write(Seq((1000L, "late")).toDF("k", "s"), SaveMode.Append)
    val planned = vt.bloomPlannedEntries("k", Seq(1000L))
    assert(planned.exists(_.rows === 1L),
      "the unindexed late file must be planned")
    assert(vt.readWhereKeyIn("k", Seq(1000L)).count() === 1)
  }

  test("no index -> plain filtered read of all files") {
    val vt = scattered(100)
    assert(vt.bloomPlannedEntries("k", Seq(5L)).size === 8)
    assert(vt.readWhereKeyIn("k", Seq(5L)).count() === 1)
  }

  test("UPDATE auto-refreshes the sidecar: skipping survives the " +
    "rewrite with no manual rebuild") {
    val vt = scattered(4000)
    vt.buildBloomIndex("k")
    // hash-scattered files all span the full range, so the update
    // rewrites every file — the worst case for index staleness
    vt.updateBetween("k", 100.0, 100.0, Map("s" -> lit("updated")))
    val all = vt.manifestEntries(vt.currentVersion.get)
    assert(all.size > 2)
    val planned = vt.bloomPlannedEntries("k", Seq(77L))
    assert(planned.size < all.size,
      s"post-UPDATE lookup must still skip: ${planned.size}/${all.size}")
    assert(vt.readWhereKeyIn("k", Seq(77L)).as[(Long, String)].collect()
      .toSeq === Seq((77L, "v77")))
    assert(vt.readWhereKeyIn("k", Seq(100L)).as[(Long, String)].collect()
      .toSeq === Seq((100L, "updated")))
  }

  test("REORG PURGE refresh also sweeps up post-index appends") {
    val vt = scattered(2000)
    vt.buildBloomIndex("k")
    vt.write(Seq((9001L, "late")).toDF("k", "s"), SaveMode.Append)
    // pre-refresh: the unindexed late file is always planned
    assert(vt.bloomPlannedEntries("k", Seq(1L)).exists(_.rows === 1L))
    vt.deleteVectorized("k", 10.0, 12.0)
    vt.reorgPurge() // rewrites masked files; refresh blooms them + late
    val all = vt.manifestEntries(vt.currentVersion.get)
    val planned = vt.bloomPlannedEntries("k", Seq(1L))
    assert(!planned.exists(_.rows === 1L),
      "the late file has a bloom after the refresh and must be skippable")
    assert(planned.size < all.size)
    assert(vt.readWhereKeyIn("k", Seq(9001L)).count() === 1)
    assert(vt.readWhereKeyIn("k", Seq(11L)).count() === 0, "purged row")
    assert(vt.readWhereKeyIn("k", Seq(42L)).count() === 1)
  }

  test("probe hashing is batched: planning job count is invariant in " +
    "the probe count") {
    val vt = scattered(1000)
    vt.buildBloomIndex("k")
    def jobsFor(probes: Seq[Any]): Int =
      SparkJobs.count(spark)(vt.bloomPlannedEntries("k", probes))
    val few = jobsFor(Seq(1L, 2L))
    val many = jobsFor(1L to 40L)
    assert(few > 0 && few === many,
      s"job count must not grow with probe count: $few vs $many " +
        "(probes hash on the driver; one sidecar pass)")
  }

  test("planning never deserializes a bloom on the driver (lexical pin)") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/io/VersionedTable.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val start = src.indexOf("private[graft] def bloomPlannedEntries")
    assert(start > 0)
    val end = src.indexOf("def readWhereKeyIn", start)
    assert(end > start)
    val body = src.substring(start, end)
    assert(body.contains("mapPartitions"),
      "bloom evaluation must run in executors")
    assert(!body.contains("readFrom"),
      "no BloomFilter deserialization in the planning body — executors " +
        "only, via VersionedTable.bloomMightContainAny")
  }

  test("renaming the indexed column degrades lookups SAFELY: the " +
    "sidecar is keyed by the old name, so the new name plans all " +
    "files — extra I/O, never wrong rows") {
    val vt = scattered(400)
    vt.buildBloomIndex("k")
    assert(vt.bloomPlannedEntries("k", Seq(7L)).size < 8)
    vt.renameColumn("k", "key")
    assert(vt.bloomPlannedEntries("key", Seq(7L)).size === 8,
      "no sidecar under the new logical name -> conservative full plan")
    assert(vt.readWhereKeyIn("key", Seq(7L)).count() === 1)
    // rebuilding under the new name restores skipping
    vt.buildBloomIndex("key")
    assert(vt.bloomPlannedEntries("key", Seq(7L)).size < 8)
    assert(vt.readWhereKeyIn("key", Seq(7L)).count() === 1)
  }

  test("vacuum drops superseded bloom sidecars; lookups unaffected") {
    val root = Fixtures.tempDir("bloomvac") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 2000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(8, col("k")))
    vt.buildBloomIndex("k")
    vt.updateBetween("k", 5.0, 5.0, Map("s" -> lit("x"))) // 2nd sidecar
    val bloomRoot = new java.io.File(root, "_bloom")
    assert(bloomRoot.listFiles().count(_.getName.startsWith("v")) === 2)
    vt.vacuum(retainVersions = 10, orphanGraceMs = 0L)
    assert(bloomRoot.listFiles().count(_.getName.startsWith("v")) === 1,
      "only the newest sidecar per column survives a vacuum")
    val all = vt.manifestEntries(vt.currentVersion.get)
    assert(vt.bloomPlannedEntries("k", Seq(77L)).size < all.size)
    assert(vt.readWhereKeyIn("k", Seq(77L)).count() === 1)
  }

  /** Every live non-empty file's bloom as a build that groups each
    * file's `xxhash64` values first would make it: the file read on its
    * own, one bloom sized from its manifest row count. */
  private def groupedBlooms(root: String, entries: Seq[ManifestEntry],
      column: String, fpp: Double): Map[String, Seq[Byte]] =
    entries.filter(_.rows > 0).map { e =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(e.rows, fpp)
      spark.read.parquet(s"$root/${e.relPath}")
        .select(xxhash64(col(column))).as[Long].collect()
        .foreach(h => bf.putLong(h))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      e.relPath -> bos.toByteArray.toSeq
    }.toMap

  private def sidecar(root: String, v: Long,
      column: String): Map[String, Seq[Byte]] =
    spark.read.parquet(s"$root/_bloom/v$v/$column")
      .as[(String, Array[Byte])].collect()
      .map { case (f, b) => f -> b.toSeq }.toMap

  /** The refreshed sidecar of the current version covers every live
    * non-empty file, with bytes equal to the grouped build and to
    * `bloomFrame`, for the files `added` in particular (a commit may
    * add an empty file, which has no bloom in either build). */
  private def assertSidecarCurrent(vt: VersionedTable, root: String,
      column: String, added: Set[String]): Unit = {
    val v = vt.currentVersion.get
    val live = vt.manifestEntries(v)
    assert(added.subsetOf(live.map(_.relPath).toSet))
    val got = sidecar(root, v, column)
    val want = groupedBlooms(root, live, column, 0.03)
    assert(got.keySet === want.keySet, "sidecar must cover every live file")
    val addedRows = added.intersect(want.keySet)
    assert(addedRows.nonEmpty, s"no added file holds rows: $added")
    addedRows.foreach(f => assert(got(f) === want(f), s"bloom of $f"))
    assert(got === want)
    val m = vt.currentManifest
    val built = vt.bloomFrame(m, m.entries, column, 0.03)
      .as[(String, Array[Byte])].collect()
      .map { case (f, b) => f -> b.toSeq }.toMap
    assert(got === built, "refresh must equal a full bloomFrame build")
  }

  private def addedBy(vt: VersionedTable, v: Long): Set[String] =
    vt.manifestEntries(v).map(_.relPath).toSet --
      vt.manifestEntries(v - 1).map(_.relPath)

  test("refresh after a merge: unpartitioned, blooms byte-identical") {
    val root = Fixtures.tempDir("bloom-refresh-flat") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 3000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(4, col("k")))
    vt.buildBloomIndex("k")
    val v = vt.mergeVectorized(((10L to 40L).map(i => (i, "u")) ++
      (5000L to 5040L).map(i => (i, "n"))).toDF("k", "s"), Seq("k"))
    assertSidecarCurrent(vt, root, "k", addedBy(vt, v))
    assert(vt.readWhereKeyIn("k", Seq(20L, 5020L)).count() === 2)
  }

  test("refresh after a multi-file commit on a partitioned table") {
    val root = Fixtures.tempDir("bloom-refresh-part") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 3000L).map(i => (i, s"p${i % 3}", i * 2)).toDF("k", "p", "x")
      .repartition(2, col("k")), partitionBy = Some(Seq("p")))
    vt.buildBloomIndex("k")
    // the update's images land in every partition: one file each
    val v = vt.updateVectorizedWhere(col("k") % 50 === 0,
      Map("x" -> lit(-1L)))
    val added = addedBy(vt, v)
    assert(added.size >= 3, s"expected a multi-file commit: $added")
    assertSidecarCurrent(vt, root, "k", added)
    assert(vt.readWhereKeyIn("k", Seq(100L)).select("x").as[Long]
      .collect().toSeq === Seq(-1L))
  }

  test("refresh after a multi-file merge sweeps up a post-index append") {
    val root = Fixtures.tempDir("bloom-refresh-sweep") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 2000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(4, col("k")))
    vt.buildBloomIndex("k")
    val appended = vt.write((3000L to 3100L).map(i => (i, s"a$i"))
      .toDF("k", "s"), SaveMode.Append)
    val late = addedBy(vt, appended)
    val v = vt.mergeVectorized((100L to 400L).map(i => (i, "u"))
      .toDF("k", "s").repartition(3), Seq("k"))
    val merged = addedBy(vt, v)
    assert(merged.size >= 2, s"expected a multi-file commit: $merged")
    assertSidecarCurrent(vt, root, "k", merged ++ late)
    assert(vt.readWhereKeyIn("k", Seq(3050L, 200L)).count() === 2)
  }

  test("refresh reads covered names from the sidecar once vacuum " +
    "dropped the index's manifest") {
    val root = Fixtures.tempDir("bloom-refresh-vacuum") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 2000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(4, col("k")))
    vt.buildBloomIndex("k")
    val late = addedBy(vt, vt.write(Seq((9000L, "a")).toDF("k", "s"),
      SaveMode.Append))
    vt.write(Seq((9001L, "b")).toDF("k", "s"), SaveMode.Append)
    vt.vacuum(retainVersions = 1, orphanGraceMs = 0L)
    val v = vt.updateVectorizedWhere(col("k") === 5L, Map("s" -> lit("x")))
    assertSidecarCurrent(vt, root, "k", addedBy(vt, v) ++ late)
  }
}
