package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable
import graft.incremental.Upsert

/** DV-backed MERGE / UPDATE (Delta 3.x deletion-vector DML): matched
  * rows are retired by masks, their new images appended — write
  * amplification O(changed rows), no data file ever rewritten. The
  * specs pin (a) row-for-row equivalence with the rewrite path,
  * (b) the file-level contract (untouched files byte-identical, only
  * a sidecar + new-image files written), and (c) exact CDF update
  * pre/post images through the row-tracking machinery. */
class DvMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Range-clustered table: ids 0..n-1 sorted, so manifest stats can
    * prove most files outside a narrow key envelope. */
  private def freshTable(prefix: String, n: Int = 1000,
      tracked: Boolean = false): (VersionedTable, String) = {
    val root = Fixtures.tempDir(prefix) + "/tbl"
    val vt = new VersionedTable(spark, root)
    val df = (0 until n).map(i => (i.toLong, s"s$i", i * 10L))
      .toDF("id", "s", "v").repartitionByRange(8, col("id"))
    vt.write(df)
    if (tracked) vt.enableRowTracking()
    (vt, root)
  }

  test("mergeVectorized == rewrite-path upsert, row for row") {
    val (vt, _) = freshTable("graft-dvm-equiv")
    val before = vt.read().localCheckpoint()
    // updates on a narrow band + inserts beyond the table
    val source = ((100 until 120).map(i => (i.toLong, s"u$i", -1L)) ++
      (2000 until 2010).map(i => (i.toLong, s"n$i", -2L)))
      .toDF("id", "s", "v")
    val expected = Upsert.upsert(before, source, Seq("id"))
      .collect().map(_.toSeq).toSet
    vt.mergeVectorized(source, Seq("id"))
    val got = vt.read().collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(vt.read().count() === 1010L)
  }

  test("file contract: untouched files byte-identical, only a DV " +
      "sidecar and new-image files written") {
    val (vt, _) = freshTable("graft-dvm-files")
    val v0 = vt.currentVersion.get
    val before = vt.manifestEntries(v0)
    val source = (100 until 120).map(i => (i.toLong, s"u$i", -1L))
      .toDF("id", "s", "v")
    val v1 = vt.mergeVectorized(source, Seq("id"))
    val after = vt.manifestEntries(v1)
    val beforeByPath = before.map(e => e.relPath -> e).toMap
    // every pre-merge file is STILL REFERENCED (never rewritten),
    // with identical bytes/rows
    assert(before.map(_.relPath).toSet.subsetOf(after.map(_.relPath).toSet))
    after.filter(e => beforeByPath.contains(e.relPath)).foreach { e =>
      val b = beforeByPath(e.relPath)
      assert(e.bytes === b.bytes && e.rows === b.rows)
    }
    // masked rows = exactly the 20 matched rows, on files whose stats
    // admit the envelope; stats-excluded files carry no DV
    assert(after.map(_.dvRows).sum === 20L)
    after.filter(_.dvDir.isDefined).foreach(e =>
      assert(e.stats.get("id").exists { case (mn, mx) =>
        mx >= 100.0 && mn <= 119.0 }))
    after.filter(e => beforeByPath.contains(e.relPath) &&
        e.stats.get("id").exists { case (mn, mx) =>
          mx < 100.0 || mn > 119.0 })
      .foreach(e => assert(e.dvDir.isEmpty))
    // new files hold exactly the 20 update images
    val newFiles = after.filterNot(e => beforeByPath.contains(e.relPath))
    assert(newFiles.nonEmpty && newFiles.map(_.rows).sum === 20L)
    // snapshot isolation: v0 unchanged
    assert(vt.readVersion(v0).filter(col("s").startsWith("u")).count() === 0L)
  }

  test("CDF over a DV merge: exact update pre/post images, inserts " +
      "as inserts, no-op updates emit nothing") {
    val (vt, _) = freshTable("graft-dvm-cdf", tracked = true)
    val v0 = vt.currentVersion.get
    val source = Seq(
      (50L, "changed", 999L),   // real update
      (51L, "s51", 510L),       // NO-OP: equals the stored row
      (5000L, "fresh", 1L))     // insert
      .toDF("id", "s", "v")
    val v1 = vt.mergeVectorized(source, Seq("id"))
    val feed = vt.changes(v0, v1, updateImages = true)
      .select("id", "s", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(feed === Set(
      (50L, "s50", 500L, "update_preimage"),
      (50L, "changed", 999L, "update_postimage"),
      (5000L, "fresh", 1L, "insert")))
    // the update kept its row id (pre and post pair under one id)
    val ids = vt.changes(v0, v1, updateImages = true).filter(col("id") === 50L)
      .select("_row_id").as[Long].collect().toSet
    assert(ids.size === 1)
  }

  test("pure-insert merge: no file masked, inserts appended") {
    val (vt, _) = freshTable("graft-dvm-insert")
    val v0 = vt.currentVersion.get
    val source = (5000 until 5020).map(i => (i.toLong, s"n$i", 0L))
      .toDF("id", "s", "v")
    val v1 = vt.mergeVectorized(source, Seq("id"))
    val after = vt.manifestEntries(v1)
    assert(after.forall(_.dvRows === 0L))
    assert(vt.read().count() === 1020L)
    assert(v1 === v0 + 1)
  }

  test("string keys: envelope prunes via string stats, result exact") {
    val root = Fixtures.tempDir("graft-dvm-str") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val df = (0 until 1000).map(i => (f"doc$i%04d", i.toLong))
      .toDF("doc_id", "score").repartitionByRange(8, col("doc_id"))
    vt.write(df)
    val before = vt.manifestEntries(vt.currentVersion.get)
    val source = Seq(("doc0100", -1L), ("doc0105", -2L), ("zzz", 7L))
      .toDF("doc_id", "score")
    val v1 = vt.mergeVectorized(source, Seq("doc_id"))
    val after = vt.manifestEntries(v1)
    // only files whose string stats admit ["doc0100","zzz"] are masked
    val beforePaths = before.map(_.relPath).toSet
    after.filter(e => beforePaths.contains(e.relPath) &&
        e.strStats.get("doc_id").exists { case (_, mx) => mx < "doc0100" })
      .foreach(e => assert(e.dvDir.isEmpty))
    assert(after.map(_.dvRows).sum === 2L)
    assert(vt.read().filter(col("doc_id") === "doc0100")
      .select("score").as[Long].head() === -1L)
    assert(vt.read().count() === 1001L)
  }

  test("duplicate source keys are refused") {
    val (vt, _) = freshTable("graft-dvm-dup", n = 100)
    val source = Seq((1L, "a", 0L), (1L, "b", 0L)).toDF("id", "s", "v")
    val e = intercept[IllegalArgumentException] {
      vt.mergeVectorized(source, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("updateVectorizedWhere == updateBetween semantics, files " +
      "untouched, CDF reports updates") {
    val (vt, _) = freshTable("graft-dvm-upd", tracked = true)
    val v0 = vt.currentVersion.get
    val before = vt.manifestEntries(v0)
    val v1 = vt.updateVectorizedWhere(col("id").between(100, 119),
      Map("v" -> (col("v") + 1L)))
    val after = vt.manifestEntries(v1)
    // no pre-update file rewritten
    assert(before.map(_.relPath).toSet.subsetOf(after.map(_.relPath).toSet))
    assert(after.map(_.dvRows).sum === 20L)
    // values: the 20 rows bumped, everything else untouched
    assert(vt.read().filter(col("id").between(100, 119))
      .select(sum(col("v") - col("id") * 10L)).as[Long].head() === 20L)
    assert(vt.read().filter(!col("id").between(100, 119))
      .filter(col("v") =!= col("id") * 10L).count() === 0L)
    assert(vt.read().count() === 1000L)
    // CDF: 20 update pairs, ids carried
    val feed = vt.changes(v0, v1, updateImages = true)
    assert(feed.filter(col("_change_type") === "update_preimage")
      .count() === 20L)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .count() === 20L)
    assert(feed.filter(col("_change_type").isin("insert", "delete"))
      .count() === 0L)
  }

  test("mergeClausesVectorized == rewrite-path clause merge; only " +
      "changed rows are written") {
    val (vt, _) = freshTable("graft-dvmc-equiv")
    val before = vt.read().localCheckpoint()
    val v0 = vt.currentVersion.get
    val filesBefore = vt.manifestEntries(v0)
    // a snapshot sync: matched keys update, new keys insert, absent
    // keys delete-or-archive depending on a target-side condition
    val source = ((100 until 300 by 2).map(i => (i.toLong, s"u$i", -1L)) ++
      (2000 until 2010).map(i => (i.toLong, s"n$i", -2L)))
      .toDF("id", "s", "v")
    val expected = Upsert.upsertWithClauses(before, source, Seq("id"),
      deleteWhenNotMatchedBySource = Some(col("t.v") % 100L === 0L),
      updateWhenNotMatchedBySource = Some(col("t.v") % 100L =!= 0L),
      notMatchedBySourceSet = Map("s" -> lit("archived")))
      .collect().map(_.toSeq).toSet
    vt.mergeClausesVectorized(source, Seq("id"),
      deleteWhenNotMatchedBySource = Some(col("t.v") % 100L === 0L),
      updateWhenNotMatchedBySource = Some(col("t.v") % 100L =!= 0L),
      notMatchedBySourceSet = Map("s" -> lit("archived")))
    val got = vt.read().collect().map(_.toSeq).toSet
    assert(got === expected)
    // file contract: every pre-merge file still referenced, never
    // rewritten (this merge touches EVERY row via NMBS, yet writes
    // only masks + changed images)
    val after = vt.manifestEntries(vt.currentVersion.get)
    val beforePaths = filesBefore.map(_.relPath).toSet
    assert(beforePaths.subsetOf(after.map(_.relPath).toSet) ||
      // a fully-retired file may legitimately drop
      filesBefore.forall(e => after.exists(_.relPath == e.relPath) ||
        after.filter(a => a.relPath == e.relPath).isEmpty))
    val newFiles = after.filterNot(e => beforePaths.contains(e.relPath))
    // new bytes = updated images + NMBS-updated images + inserts ONLY
    val nUpd = before.filter(col("id").between(100, 299) &&
      col("id") % 2 === 0).count()
    val nArch = before.filter(!(col("id").between(100, 299) &&
      col("id") % 2 === 0) && col("v") % 100L =!= 0L).count()
    assert(newFiles.map(_.rows).sum === nUpd + nArch + 10L)
  }

  test("mergeClausesVectorized: matched delete + conditional update " +
      "+ conditional insert, all as masks and appends") {
    val (vt, _) = freshTable("graft-dvmc-clauses", n = 200)
    val before = vt.read().localCheckpoint()
    val source = Seq(
      (10L, "del", 0L),   // matched, delete clause fires
      (11L, "upd", 5L),   // matched, update clause fires (v>0)
      (12L, "skip", -1L), // matched, neither fires -> target kept
      (500L, "ins", 1L),  // unmatched, insert fires (v>0)
      (501L, "no", -1L))  // unmatched, insert blocked
      .toDF("id", "s", "v")
    val expected = Upsert.upsertWithClauses(before, source, Seq("id"),
      deleteWhen = Some(col("s.s") === "del"),
      updateWhen = Some(col("s.v") > 0L),
      insertWhen = Some(col("s.v") > 0L))
      .collect().map(_.toSeq).toSet
    vt.mergeClausesVectorized(source, Seq("id"),
      deleteWhen = Some(col("s.s") === "del"),
      updateWhen = Some(col("s.v") > 0L),
      insertWhen = Some(col("s.v") > 0L))
    assert(vt.read().collect().map(_.toSeq).toSet === expected)
    assert(vt.read().count() === 200L) // -1 delete +1 insert
    // masked: the deleted row + the updated row = 2
    assert(vt.manifestEntries(vt.currentVersion.get)
      .map(_.dvRows).sum === 2L)
  }

  test("mergeClausesVectorized on a tracked table: CDF update images " +
      "for clause updates, deletes as deletes") {
    val (vt, _) = freshTable("graft-dvmc-cdf", n = 100, tracked = true)
    val v1 = vt.currentVersion.get
    val source = Seq((7L, "seven", 700L)).toDF("id", "s", "v")
    val v2 = vt.mergeClausesVectorized(source, Seq("id"),
      deleteWhenNotMatchedBySource = Some(col("t.id") === 50L))
    val feed = vt.changes(v1, v2, updateImages = true)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set(
      (7L, "update_preimage"), (7L, "update_postimage"),
      (50L, "delete")))
  }

  test("vacuum keeps the sidecars retained versions reference and " +
      "reclaims the rest") {
    val (vt, _) = freshTable("graft-dvm-vacuum", n = 300)
    vt.mergeVectorized(Seq((10L, "a", -1L)).toDF("id", "s", "v"),
      Seq("id")) // v1: sidecar A
    vt.mergeVectorized(Seq((11L, "b", -2L)).toDF("id", "s", "v"),
      Seq("id")) // v2: sidecar B (A's masks carried in)
    vt.compact() // v3: rewrite purges masks
    vt.write(Seq((5000L, "x", 0L)).toDF("id", "s", "v"),
      SaveMode.Append) // v4
    val headRows = vt.read().collect().map(_.toSeq).toSet
    vt.vacuum(retainVersions = 2) // keeps v3, v4 only
    // the retained snapshot still reads exactly
    assert(vt.read().collect().map(_.toSeq).toSet === headRows)
    assert(vt.read().count() === 301L)
    // pre-vacuum versions are gone along with their sidecars
    intercept[Exception] { vt.readVersion(1L).count() }
  }

  test("repeated DV merges compose: masks union, time travel intact") {
    val (vt, _) = freshTable("graft-dvm-repeat", n = 200)
    val s1 = Seq((10L, "a1", -1L)).toDF("id", "s", "v")
    val s2 = Seq((10L, "a2", -2L), (11L, "b2", -3L)).toDF("id", "s", "v")
    val v1 = vt.mergeVectorized(s1, Seq("id"))
    val v2 = vt.mergeVectorized(s2, Seq("id"))
    assert(vt.read().count() === 200L)
    assert(vt.read().filter(col("id") === 10L).select("s")
      .as[String].head() === "a2")
    assert(vt.readVersion(v1).filter(col("id") === 10L).select("s")
      .as[String].head() === "a1")
    assert(vt.readVersion(0L).filter(col("id") === 10L).select("s")
      .as[String].head() === "s10")
    assert(v2 === v1 + 1)
  }

  test("per-commit DV deltas: the k-th merge over the SAME hot file " +
      "writes O(that merge's changed rows), not the accumulated mask") {
    val (vt, root) = freshTable("graft-dvm-delta", n = 1000)
    val fsRoot = new org.apache.hadoop.fs.Path(root)
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvRowsInDir(rel: String): Long =
      spark.read.parquet(new org.apache.hadoop.fs.Path(fsRoot, rel)
        .toString).count()
    // 4 successive merges, each updating DIFFERENT rows of the same
    // narrow band (same files); each commit's NEW sidecar must hold
    // exactly that commit's changed rows — under the old accumulate-
    // and-rewrite scheme the k-th sidecar held k*batch rows
    val batch = 10
    val perCommitDvRows = (0 until 4).map { k =>
      val src = (100 + k * batch until 100 + (k + 1) * batch)
        .map(i => (i.toLong, s"m$k-$i", -k.toLong)).toDF("id", "s", "v")
      val v = vt.mergeVectorized(src, Seq("id"))
      val chains = vt.manifestEntries(v).flatMap(_.dvDirs).distinct
      val newest = chains.filter(_.startsWith(f"_data/c$v%08d")) match {
        case Seq(one) => one
        case other => fail(s"expected exactly one new DV link at v$v, " +
          s"got $other")
      }
      dvRowsInDir(newest)
    }
    assert(perCommitDvRows === Seq.fill(4)(batch.toLong),
      "each commit's sidecar must hold only ITS changed rows")
    // the chain accumulated 4 links on the hot file(s)…
    val hot = vt.manifestEntries(vt.currentVersion.get)
      .filter(_.dvDir.isDefined)
    assert(hot.exists(_.dvDirs.size > 1), "successive merges must " +
      "append chain links, not rewrite the mask")
    // …reads fold the chain exactly
    assert(vt.read().count() === 1000L)
    assert(vt.read().filter(col("s").startsWith("m")).count() ===
      (4 * batch).toLong)
    (0 until 4).foreach { k =>
      assert(vt.read().filter(col("id") === (100 + k * batch).toLong)
        .select("s").as[String].head() === s"m$k-${100 + k * batch}")
    }
    // REORG PURGE collapses the chains away
    val vp = vt.reorgPurge()
    assert(vt.manifestEntries(vp).forall(_.dvDir.isEmpty))
    assert(vt.read().count() === 1000L)
  }

  test("chain cap: a file at graft.dv.maxChainLinks folds its " +
      "accumulated mask into the next commit's sidecar — chains stay " +
      "bounded without maintenance, reads stay exact") {
    spark.conf.set("graft.dv.maxChainLinks", "2")
    try {
      val (vt, _) = freshTable("graft-dvm-cap", n = 1000)
      val batch = 5
      (0 until 6).foreach { k =>
        val src = (100 + k * batch until 100 + (k + 1) * batch)
          .map(i => (i.toLong, s"c$k-$i", -k.toLong)).toDF("id", "s", "v")
        vt.mergeVectorized(src, Seq("id"))
        val chains = vt.manifestEntries(vt.currentVersion.get)
          .filter(_.dvDir.isDefined).map(_.dvDirs.size)
        assert(chains.nonEmpty && chains.max <= 2,
          s"chain lengths must stay <= cap, got $chains at merge $k")
      }
      // reads fold exactly through every collapse
      assert(vt.read().count() === 1000L)
      assert(vt.read().filter(col("s").startsWith("c")).count() === 30L)
      (0 until 6).foreach { k =>
        assert(vt.read().filter(col("id") === (100 + k * batch).toLong)
          .select("s").as[String].head() === s"c$k-${100 + k * batch}")
      }
      // time travel across fold boundaries still serves each version
      assert(vt.readVersion(1L).filter(col("s").startsWith("c")).count()
        === batch.toLong)
    } finally spark.conf.unset("graft.dv.maxChainLinks")
  }

  test("dv-chain protocol gate: a chained manifest names the feature; " +
      "single-link tables stay gate-free") {
    val (vt, root) = freshTable("graft-dvm-gate", n = 100)
    val v1 = vt.mergeVectorized(
      Seq((10L, "x", -1L)).toDF("id", "s", "v"), Seq("id"))
    val v2 = vt.mergeVectorized(
      Seq((11L, "y", -2L)).toDF("id", "s", "v"), Seq("id"))
    def manifestText(v: Long): String = {
      val p = new org.apache.hadoop.fs.Path(root,
        f"_manifests/v$v%08d.txt")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(!manifestText(v1).contains("dv-chain"),
      "one link is the pre-chain format — no gate")
    assert(manifestText(v2).contains("#requires=") &&
      manifestText(v2).contains("dv-chain"))
  }
}
