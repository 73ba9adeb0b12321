package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable
import graft.io.VersionedTable.NumRange
import graft.maintenance.Maintenance

/** Liquid-style incremental clustering: only files newer than the last
  * clustering pass rewrite; earlier clustered entries survive
  * byte-identically; 2-D skipping holds across both populations. */
class LiquidClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mk(n0: Int, n1: Int, seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (n0 until n1).map { i =>
      (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)
    }
  }

  test("incremental pass rewrites ONLY post-clustering files; skipping " +
    "works across both populations; no-op when nothing new") {
    val root = Fixtures.tempDir("liquid") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(mk(0, 4000, 1).toDF("id", "x", "y").repartition(6)) // v0
    // first pass: nothing clustered yet -> full clustering (v1)
    Maintenance.clusterIncrementalBy(spark, root, Seq("x", "y"),
      numPartitions = Some(8))
    val clustered = vt.manifestEntries(vt.currentVersion.get)
      .map(_.relPath).toSet
    // unsorted late-landing batch (v2)
    vt.write(mk(4000, 8000, 2).toDF("id", "x", "y").repartition(6),
      SaveMode.Append)
    val v3 = Maintenance.clusterIncrementalBy(spark, root, Seq("x", "y"),
      numPartitions = Some(8))
    val after = vt.manifestEntries(v3).map(_.relPath).toSet
    assert(clustered.subsetOf(after),
      "already-clustered files must survive the incremental pass verbatim")
    assert(vt.read().count() === 8000)
    // a narrow 2-D box plans a strict subset of the files
    val planned = vt.matchingEntries(
      NumRange("x", 100, 160), NumRange("y", 100, 160))
    assert(planned.size < after.size,
      s"2-D skipping must prune: planned ${planned.size} of ${after.size}")
    // correctness of the pruned read against the full predicate
    val got = vt.readMatching(NumRange("x", 100.0, 160.0), NumRange("y", 100.0, 160.0))
      .select("id").as[Long].collect().sorted
    val want = vt.read()
      .filter($"x".between(100, 160) && $"y".between(100, 160))
      .select("id").as[Long].collect().sorted
    assert(got.sameElements(want))
    // nothing new landed -> no-op, same version
    assert(Maintenance.clusterIncrementalBy(spark, root,
      Seq("x", "y")) === v3)
  }

  test("row tracking carries through the incremental pass") {
    val root = Fixtures.tempDir("liquid-rid") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(mk(0, 500, 3).toDF("id", "x", "y"))
    vt.enableRowTracking()
    def byId(): Map[Long, Long] = vt.readWithRowIds()
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = byId()
    Maintenance.clusterIncrementalBy(spark, root, Seq("x", "y"))
    vt.write(mk(500, 900, 4).toDF("id", "x", "y"), SaveMode.Append)
    Maintenance.clusterIncrementalBy(spark, root, Seq("x", "y"))
    val afterIds = byId()
    assert(before.forall { case (k, rid) => afterIds(k) == rid },
      "row ids must be stable through incremental clustering rewrites")
    assert(afterIds.size === 900)
  }
}
