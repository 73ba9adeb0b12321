package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Randomized soundness of the PER-COMMIT DV DELTA CHAINS (M49): an
  * arbitrary interleaving of DV deletes, DV updates, DV merges,
  * appends, and maintenance (REORG PURGE / OPTIMIZE) — under a tiny
  * chain cap so folds fire constantly — must read back exactly what
  * an in-memory model of the same operations holds, at the head AND
  * at every committed version (snapshot isolation through chain
  * growth, folds, and collapses). A wrong delta (row masked twice,
  * delta leaking another file's rows at a fold, a chain link lost by
  * vacuum bookkeeping) shows up as a row diff somewhere in the walk. */
class DvChainPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random DML interleavings: chained/folded DV state == model " +
      "at head and at every version; chains never exceed the cap") {
    spark.conf.set("graft.dv.maxChainLinks", "2")
    try {
      val rnd = new scala.util.Random(20260816L)
      (0 until 3).foreach { trial =>
        val root = Fixtures.tempDir(s"dv-chain-prop$trial") + "/tbl"
        val vt = new VersionedTable(spark, root)
        // model: id -> value (string payload derives from both)
        var model: Map[Long, Long] =
          (0L until 300L).map(i => i -> i * 10).toMap
        def df(m: Map[Long, Long]) =
          m.toSeq.sortBy(_._1).map { case (k, v) => (k, v, s"s$k-$v") }
            .toDF("id", "v", "s")
        vt.write(df(model).repartitionByRange(4, col("id")))
        val snapshots = scala.collection.mutable.Map[Long, Map[Long, Long]](
          vt.currentVersion.get -> model)
        var nextId = 1000L
        (0 until 12).foreach { _ =>
          rnd.nextInt(6) match {
            case 0 => // DV range delete
              val lo = rnd.nextInt(300).toLong
              val hi = lo + rnd.nextInt(40)
              vt.deleteVectorizedWhere(
                VersionedTable.NumRange("id", lo.toDouble, hi.toDouble).condition)
              model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            case 1 => // DV predicate update
              val m = 2 + rnd.nextInt(5)
              vt.updateVectorizedWhere(col("id") % m === 0,
                Map("v" -> (col("v") + 1), "s" -> concat(col("s"), lit("u"))))
              model = model.map { case (k, v) =>
                if (k % m == 0) k -> (v + 1) else k -> v }
            case 2 => // DV merge: updates on a band + fresh inserts
              val lo = rnd.nextInt(300).toLong
              val ups = (lo until lo + rnd.nextInt(20) + 1)
                .filter(model.contains).map(k => (k, k * 10 + 7))
              val ins = (0 until rnd.nextInt(5)).map { _ =>
                nextId += 1; (nextId, nextId) }
              val src = (ups ++ ins)
                .map { case (k, v) => (k, v, s"s$k-$v") }
                .toDF("id", "v", "s")
              if (!src.isEmpty) {
                vt.mergeVectorized(src, Seq("id"))
                (ups ++ ins).foreach { case (k, v) => model += k -> v }
              }
            case 3 => // plain append
              val rows = (0 until rnd.nextInt(5) + 1).map { _ =>
                nextId += 1; (nextId, nextId * 10) }
              vt.write(df(rows.toMap), SaveMode.Append)
              rows.foreach { case (k, v) => model += k -> v }
            case 4 => vt.reorgPurge()
            case 5 => vt.compact()
          }
          vt.currentVersion.foreach(v => snapshots(v) = model)
          // cap invariant at every step
          val lens = vt.manifestEntries(vt.currentVersion.get)
            .map(_.dvDirs.size)
          assert(lens.forall(_ <= 2),
            s"chain length exceeded the cap: $lens")
        }
        // head equality on (id, v)
        def readPairs(v: Long): Map[Long, Long] =
          vt.readVersion(v).select("id", "v").as[(Long, Long)]
            .collect().toMap
        assert(readPairs(vt.currentVersion.get) === model,
          s"trial $trial: head state diverged from the model")
        // snapshot isolation: every recorded version still reads ITS
        // model (folds/purges/compactions must not rewrite history)
        snapshots.foreach { case (v, m) =>
          if (vt.manifestEntries(v).nonEmpty)
            assert(readPairs(v) === m,
              s"trial $trial: version $v no longer reads its snapshot")
        }
      }
    } finally spark.conf.unset("graft.dv.maxChainLinks")
  }
}
