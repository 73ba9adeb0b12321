package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** The change feed must be PLANNED from manifests + DV delta chains —
  * O(changed files + masked rows) — and must stay row-exact across
  * chain folds that share sidecar dirs between files (the r16 advice
  * repro: a fold writes one file's CUMULATIVE mask into the same
  * commit dir other files use as a plain delta link, so dir-granular
  * matching re-emits the folded file's pre-range deletes).
  *
  * Planning assertions use `DataFrame.inputFiles` (the files the plan
  * actually reads): a DV-delete window's feed must not list untouched
  * data files, and a pure-OPTIMIZE window's feed must read nothing. */
class ChangeFeedPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Scheme-normalized path (inputFiles renders file:/ and file:///
    * inconsistently across FileIndex implementations). */
  private def norm(f: String): String =
    new org.apache.hadoop.fs.Path(f).toUri.getPath

  /** The DATA files a plan reads: inputFiles intersected with every
    * version's manifest entries — DV sidecars (also parquet, also
    * under commit dirs) are metadata, not scanned table data. */
  private def plannedData(df: DataFrame, vt: VersionedTable,
      root: String): Set[String] = {
    val known = (0L to vt.currentVersion.get).flatMap(v =>
      vt.manifestEntries(v).map(e => norm(root + "/" + e.relPath))).toSet
    df.inputFiles.map(norm).toSet.intersect(known)
  }

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.select("id", "_change_type").as[(Long, String)].collect().toSet

  test("streaming CDF crossing a DV chain fold with SHARED sidecar " +
      "dirs emits exactly the fold commit's newly masked rows") {
    spark.conf.set("graft.dv.maxChainLinks", "2")
    try {
      val root = Fixtures.tempDir("cfp-fold") + "/tbl"
      val vt = new VersionedTable(spark, root)
      // two files split by id range: F holds [0,100), G holds [100,200)
      vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")))                        // v0
      vt.deleteVectorizedWhere(
        VersionedTable.NumRange("id", 0, 4).condition)      // v1: d1 masks F only
      vt.deleteVectorizedWhere(
        VersionedTable.NumRange("id", 10, 104).condition)   // v2: d2 masks F and G
      // v3: F's chain is at the cap (2 links) -> folds to [d3] where
      // d3 holds F's CUMULATIVE mask; G appends -> chain [d2, d3]
      vt.deleteVectorizedWhere(
        VersionedTable.NumRange("id", 20, 114).condition)   // v3: masks F and G again
      val byStart = vt.manifestEntries(3L)
      assert(byStart.exists(_.dvDirs.size == 1),
        s"expected a folded single-link chain at v3: " +
          byStart.map(e => e.relPath -> e.dvDirs).mkString(", "))
      assert(byStart.exists(_.dvDirs.size == 2),
        s"expected a two-link chain at v3: " +
          byStart.map(e => e.relPath -> e.dvDirs).mkString(", "))
      // drive the REAL streaming source across the fold boundary
      val base = root.stripSuffix("/tbl")
      val q = graft.streaming.Streaming
        .changeFeedSource(spark, root, startingVersion = Some(3L))
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val batch = spark.read.parquet(s"$base/out")
      // exactly commit 3's masked rows: [20,114] minus already-dead
      // [20,104] portions = ids 20..114 that were live at v2
      val expected = ((20L to 114L).toSet -- (0L to 4L) -- (10L to 104L))
        .map(i => i -> "delete")
      assert(rowsOf(batch) === expected)
      // and the full mask still reads correctly at the head
      assert(vt.read().select("id").as[Long].collect().toSet ===
        ((0L until 200L).toSet -- (0L to 4L) -- (10L to 104L) --
          (20L to 114L)))
    } finally spark.conf.unset("graft.dv.maxChainLinks")
  }

  test("batch changes over a DV-delete window plans ONLY the affected " +
      "file — untouched files never enter the scan") {
    val root = Fixtures.tempDir("cfp-plan") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 300L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(3, col("id")))                          // v0
    val allFiles = vt.read().inputFiles.map(norm).toSet
    assert(allFiles.size == 3)
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)                               // v1
    val feed = vt.changes(0L, 1L)
    assert(rowsOf(feed) === (0L to 9L).map(_ -> "delete").toSet)
    val planned = plannedData(feed, vt, root)
    assert(planned.size == 1 && planned.subsetOf(allFiles),
      s"a one-file DV delete must plan one file, got $planned")
  }

  test("a pure OPTIMIZE window's batch feed is empty and reads NO files") {
    val root = Fixtures.tempDir("cfp-opt") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(4))                                            // v0
    vt.compact()                                                  // v1
    val feed = vt.changes(0L, 1L)
    assert(feed.count() === 0L)
    assert(feed.inputFiles.isEmpty,
      s"an OPTIMIZE-only window must plan zero files, got " +
        feed.inputFiles.mkString(", "))
  }

  test("a DV delete that EMPTIES a file (DV death) stays derivable: " +
      "the dropped file's live rows surface as deletes, untouched " +
      "files stay out of the plan") {
    val root = Fixtures.tempDir("cfp-death") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")))                          // v0
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 4).condition)      // v1: partial mask on F
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 5, 99).condition)     // v2: F fully dead -> dropped
    assert(vt.manifestEntries(2L).size == 1, "F must be dropped at v2")
    val feed = vt.changes(1L, 2L)
    // only F's v1-LIVE rows die in this window (0..4 were already gone)
    assert(rowsOf(feed) === (5L to 99L).map(_ -> "delete").toSet)
    val planned = plannedData(feed, vt, root)
    assert(planned.size == 1, s"death window must plan only the dead " +
      s"file, got $planned")
    // endpoint window across both deletes compacts: all of F dies
    assert(rowsOf(vt.changes(0L, 2L)) ===
      (0L to 99L).map(_ -> "delete").toSet)
  }

  test("appends + DV DML in ONE window derive from manifests: inserts " +
      "from added files, deletes from mask deltas, nothing else read") {
    val root = Fixtures.tempDir("cfp-mixed") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")))                          // v0
    val baseFiles = vt.read().inputFiles.map(norm).toSet
    vt.write(Seq((500L, "new")).toDF("id", "s"), SaveMode.Append) // v1
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)                               // v2
    val feed = vt.changes(0L, 2L)
    assert(rowsOf(feed) ===
      ((0L to 9L).map(_ -> "delete").toSet + (500L -> "insert")))
    val planned = plannedData(feed, vt, root)
    // the appended file + the one DV-touched base file; the other
    // base file must not appear
    assert(planned.intersect(baseFiles).size == 1,
      s"only the DV-touched base file may be planned, got $planned")
  }

  test("a TRUNCATE window derives: prior live rows surface as deletes " +
      "(no snapshot diff), and a truncate-then-reinsert window nets " +
      "to delete-all + insert-new") {
    val root = Fixtures.tempDir("cfp-trunc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 50L).map(i => (i, s"v$i")).toDF("id", "s"))  // v0
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)                                 // v1
    vt.truncate()                                                   // v2
    // only v1's LIVE rows die at v2 (0..9 were already gone)
    assert(rowsOf(vt.changes(1L, 2L)) ===
      (10L until 50L).map(_ -> "delete").toSet)
    vt.write(Seq((900L, "new")).toDF("id", "s"), SaveMode.Append)   // v3
    assert(rowsOf(vt.changes(1L, 3L)) ===
      ((10L until 50L).map(_ -> "delete").toSet + (900L -> "insert")))
  }

  test("property: replaying the per-commit feed reconstructs every " +
      "snapshot across random DML + maintenance interleavings " +
      "(folds, deaths, updates, optimize/reorg) under a tiny cap") {
    spark.conf.set("graft.dv.maxChainLinks", "2")
    try {
      val rnd = new scala.util.Random(20260817L)
      (0 until 2).foreach { trial =>
        val root = Fixtures.tempDir(s"cfp-prop$trial") + "/tbl"
        val vt = new VersionedTable(spark, root)
        var nextId = 1000L
        vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
          .repartitionByRange(3, col("id")))                      // v0
        (0 until 10).foreach { _ =>
          rnd.nextInt(5) match {
            case 0 => vt.deleteVectorizedWhere(VersionedTable.NumRange("id",
              rnd.nextInt(200).toDouble,
              (rnd.nextInt(200) + 40).toDouble).condition)
            case 1 => vt.updateVectorizedWhere(
              col("id") % (2 + rnd.nextInt(4)) === 0,
              Map("s" -> concat(col("s"), lit("u"))))
            case 2 =>
              val rows = (0 until rnd.nextInt(4) + 1).map { _ =>
                nextId += 1; (nextId, s"v$nextId") }
              vt.write(rows.toDF("id", "s"), SaveMode.Append)
            case 3 => vt.compact()
            case 4 => vt.reorgPurge()
          }
        }
        val head = vt.currentVersion.get
        // replay: value-multiset folded from each commit's feed must
        // equal the corresponding snapshot, at EVERY version
        var state = scala.collection.mutable.Map[(Long, String), Long]()
        vt.readVersion(0L).as[(Long, String)].collect()
          .foreach(r => state(r) = state.getOrElse(r, 0L) + 1L)
        (1L to head).foreach { v =>
          vt.changes(v - 1, v).select("id", "s", "_change_type")
            .as[(Long, String, String)].collect().foreach {
              case (id, s, "insert") =>
                state((id, s)) = state.getOrElse((id, s), 0L) + 1L
              case (id, s, "delete") =>
                val n = state.getOrElse((id, s), 0L) - 1L
                if (n == 0L) state.remove((id, s)) else state((id, s)) = n
              case other => fail(s"unexpected change row: $other")
            }
          val snap = scala.collection.mutable.Map[(Long, String), Long]()
          vt.readVersion(v).as[(Long, String)].collect()
            .foreach(r => snap(r) = snap.getOrElse(r, 0L) + 1L)
          assert(state === snap,
            s"trial $trial: replayed state diverged at v$v")
        }
      }
    } finally spark.conf.unset("graft.dv.maxChainLinks")
  }

  test("changesPerCommit stays O(changed) across a window MIXING DML " +
      "with OPTIMIZE: layout slices empty, DML slices file-pruned") {
    val root = Fixtures.tempDir("cfp-slices") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")))                          // v0
    val baseFiles = vt.read().inputFiles.map(norm).toSet
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)                               // v1
    vt.compact()                                                  // v2
    vt.write(Seq((600L, "new")).toDF("id", "s"), SaveMode.Append) // v3
    val feed = vt.changesPerCommit(0L, 3L)
    assert(rowsOf(feed) ===
      ((0L to 9L).map(_ -> "delete").toSet + (600L -> "insert")))
    val planned = plannedData(feed, vt, root)
    // v1's slice plans the one DV-touched ORIGINAL file, v2's slice is
    // answered from history (no files), v3's plans only its append —
    // the compacted output and the untouched original never enter
    assert(planned.intersect(baseFiles).size == 1 && planned.size == 2,
      s"expected {DV-touched original, appended file}, got $planned")
    // the endpoint form of the same window cannot attribute removals
    // (OPTIMIZE broke file identity) — it still answers, via fallback
    assert(rowsOf(vt.changes(0L, 3L)) ===
      ((0L to 9L).map(_ -> "delete").toSet + (600L -> "insert")))
  }
}
