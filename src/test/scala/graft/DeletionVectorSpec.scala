package graft

import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Deletion vectors (Delta DV mode): row-level DELETE as a sidecar of
  * (file, row_index) masks instead of file rewrites. The 100 TB
  * rationale: write amplification O(deleted rows), untouched files
  * never read or copied, snapshot isolation intact. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String, n: Int = 1000): (VersionedTable, String) = {
    val root = Fixtures.tempDir(prefix) + "/tbl"
    val vt = new VersionedTable(spark, root)
    val df = (0 until n).map(i => (i.toLong, s"s$i", (i % 4).toString))
      .toDF("id", "s", "bucket")
    vt.write(df, partitionBy = Some(Seq("bucket")))
    (vt, root)
  }

  test("DV delete masks rows without rewriting any data file") {
    val (vt, _) = freshTable("graft-dv-basic")
    val before = vt.manifestEntries(vt.currentVersion.get)
    val v1 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 100, 299).condition)
    val after = vt.manifestEntries(v1)
    // same files, byte-identical references — only dv fields changed
    assert(after.map(_.relPath).toSet === before.map(_.relPath).toSet)
    assert(after.forall(e => before.exists(b =>
      b.relPath == e.relPath && b.bytes == e.bytes && b.rows == e.rows)))
    assert(after.exists(_.dvDir.isDefined))
    assert(after.map(_.dvRows).sum === 200L)
    // read sees exactly the survivors
    val ids = vt.read().select("id").as[Long].collect().sorted
    assert(ids === (0L until 1000L).filterNot(i => i >= 100 && i <= 299).toArray)
    // time travel still sees everything
    assert(vt.readVersion(0).count() === 1000L)
  }

  test("files provably outside the range keep no DV and are not scanned") {
    val (vt, _) = freshTable("graft-dv-prune")
    // bucket partitioning spreads ids; use a range that stats exclude
    // for most files: ids 0..9 live in low-id files only
    val v1 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)
    val after = vt.manifestEntries(v1)
    assert(after.filter(_.dvDir.isDefined).forall(e =>
      e.stats.get("id").exists { case (mn, mx) => mx >= 0 && mn <= 9 }))
    // entries whose stats exclude the range are untouched
    assert(after.filter(_.dvDir.isEmpty).nonEmpty)
    // a range no file can match is a no-op commit
    val v2 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 1e9, 2e9).condition)
    assert(v2 === v1)
  }

  test("set and keys DV deletes: exact membership, envelope pruning") {
    val (vt, _) = freshTable("graft-dv-keys")
    // set flavor: scattered ids — only rows IN the set are masked,
    // not the whole [min,max] envelope
    val v1 = vt.deleteVectorizedWhere(col("id").isin(5L, 300L, 301L, 999L))
    assert(vt.read().count() === 996L)
    assert(vt.read().filter(col("id").isin(5L, 300L, 301L, 999L))
      .count() === 0L)
    assert(vt.read().filter(col("id") === 6L).count() === 1L)
    // keys flavor: a DISTRIBUTED victim frame (never collected) —
    // the dedup-pipeline purge shape
    val victims = spark.range(100, 200).toDF("victim_id")
    val v2 = vt.deleteVectorizedKeys("id", victims)
    assert(v2 === v1 + 1)
    assert(vt.read().count() === 896L)
    assert(vt.read().filter(col("id").between(100, 199)).count() === 0L)
    // no data file was rewritten by either commit
    val e0 = vt.manifestEntries(0L).map(_.relPath).toSet
    assert(vt.manifestEntries(v2).map(_.relPath).toSet === e0)
    // time travel: both pre-delete snapshots intact
    assert(vt.readVersion(0L).count() === 1000L)
    assert(vt.readVersion(v1).count() === 996L)
    // empty key frame is a no-op, not a new version
    assert(vt.deleteVectorizedKeys("id",
      victims.filter(col("victim_id") < 0)) === v2)
  }

  test("overlapping DV deletes union; counts stay exact") {
    val (vt, _) = freshTable("graft-dv-union")
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 100, 199).condition)
    val v2 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 150, 299).condition)
    assert(vt.manifestEntries(v2).map(_.dvRows).sum === 200L)
    val ids = vt.read().select("id").as[Long].collect().sorted
    assert(ids === (0L until 1000L).filterNot(i => i >= 100 && i <= 299).toArray)
    // history records live rows
    assert(vt.history(1).head.numRows === 800L)
  }

  test("a fully-masked file is dropped from the manifest") {
    val root = Fixtures.tempDir("graft-dv-drop") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // one file per bucket value; bucket 0 = ids 0..9, bucket 1 = ids 10..19
    val df = (0 until 20).map(i => (i.toLong, (i / 10).toString))
      .toDF("id", "bucket").repartition(1)
    vt.write(df, partitionBy = Some(Seq("bucket")))
    val v1 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)
    val after = vt.manifestEntries(v1)
    assert(after.forall(_.partitionValues.get("bucket") != Some("0")))
    assert(vt.read().select("id").as[Long].collect().sorted ===
      (10L until 20L).toArray)
  }

  test("deleting every row keeps a readable empty snapshot") {
    val (vt, _) = freshTable("graft-dv-empty", n = 50)
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 0, 49).condition)
    val out = vt.read()
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id", "s", "bucket"))
  }

  test("rewrite delete/update after a DV delete never resurrects masked rows") {
    val (vt, _) = freshTable("graft-dv-rewrite")
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 100, 199).condition)
    vt.deleteBetween("id", 150, 249) // rewrite path over DV-masked files
    val ids = vt.read().select("id").as[Long].collect().sorted
    assert(ids === (0L until 1000L).filterNot(i => i >= 100 && i <= 249).toArray)
    vt.updateBetween("id", 0, 49, Map("s" -> lit("X")))
    val xs = vt.read().filter(col("s") === "X").count()
    assert(xs === 50L)
    assert(vt.read().count() === 850L)
  }

  test("compact purges deletion vectors and preserves the snapshot") {
    val (vt, _) = freshTable("graft-dv-compact")
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 0, 499).condition)
    val vC = vt.compact(targetFileMB = 8)
    val after = vt.manifestEntries(vC)
    assert(after.forall(_.dvDir.isEmpty))
    assert(vt.read().select("id").as[Long].collect().sorted ===
      (500L until 1000L).toArray)
  }

  test("vacuum keeps referenced sidecars; reclaims them once unreferenced") {
    val (vt, root) = freshTable("graft-dv-vacuum")
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 99).condition) // v1: sidecar A
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 100, 199).condition) // v2: sidecar B (A's rows carried in)
    val dvDirs = vt.manifestEntries(vt.currentVersion.get).flatMap(_.dvDir).distinct
    assert(dvDirs.size === 1)
    vt.vacuum(retainVersions = 1, orphanGraceMs = 0L)
    // current snapshot still reads correctly through its sidecar
    assert(vt.read().count() === 800L)
    // compact (purges DVs), then vacuum: the sidecar is unreferenced
    vt.compact(targetFileMB = 8)
    vt.vacuum(retainVersions = 1, orphanGraceMs = 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val gone = dvDirs.forall(d => !fs.exists(
      new org.apache.hadoop.fs.Path(root, d)))
    assert(gone)
    assert(vt.read().count() === 800L)
  }

  test("changes() across a DV delete reports the deleted rows") {
    val (vt, _) = freshTable("graft-dv-changes", n = 100)
    val v0 = vt.currentVersion.get
    val v1 = vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition)
    val ch = vt.changes(v0, v1)
    val deletes = ch.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted
    assert(deletes === (0L until 10L).toArray)
  }

  test("streaming over a DV delete fails loudly unless ignoreChanges") {
    import graft.streaming.Streaming
    val base = Fixtures.tempDir("graft-dv-stream")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0 until 100).map(i => (i.toLong, s"s$i", (i % 4).toString))
      .toDF("id", "s", "bucket"), partitionBy = Some(Seq("bucket"))) // v0
    val out = s"$base/out"
    def sink(df: org.apache.spark.sql.DataFrame) = df.writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
    def ids() = spark.read.parquet(out).select("id").as[Long].collect().sorted
    val q = sink(Streaming.versionedSource(spark, root)).start()
    try { q.processAllAvailable(); assert(ids().length === 100) }
    finally q.stop()

    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 0, 9).condition) // v1: rows removed, file set intact
    val q2 = sink(Streaming.versionedSource(spark, root)).start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(30000)
    }
    assert(failed.getMessage.contains("deletion vectors") ||
      Option(failed.getCause).exists(_.getMessage.contains("deletion vectors")))

    // under ignoreChanges the DV-only commit adds no files → no new rows
    vt.write((100 until 105).map(i => (i.toLong, s"s$i", "0"))
      .toDF("id", "s", "bucket"), SaveMode.Append) // v2
    val q3 = sink(Streaming.versionedSource(spark, root,
      ignoreChanges = true)).start()
    try {
      q3.processAllAvailable()
      assert(ids() === ((0L until 100L) ++ (100L until 105L)).toArray)
    } finally q3.stop()
  }

  test("stale-basis replaceWhere over a concurrent DV mask is rejected") {
    val (vt, _) = freshTable("graft-dv-stale", n = 100)
    val v0 = vt.currentVersion.get
    val survivors = vt.read().filter(col("id") >= 50)
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 60, 69).condition) // lands between the read and the commit
    val e = intercept[RuntimeException] {
      vt.replaceWhere(survivors, _ => false, "REWRITE", basisVersion = Some(v0))
    }
    assert(e.getMessage.contains("deletion vectors changed"))
  }

  test("predicate reads apply masks") {
    val (vt, _) = freshTable("graft-dv-preds")
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 100, 299).condition)
    assert(vt.readMatching(VersionedTable.NumRange("id", 0, 399)).count() === 200L)
    assert(vt.readMatching(VersionedTable.PartitionEq("bucket", "0")).count() === 200L)
  }
}
