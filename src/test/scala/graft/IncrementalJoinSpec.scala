package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.IncrementalJoin
import graft.io.VersionedTable

/** Join-view IVM: the maintained view must equal a from-scratch join
  * of the final states after ANY chain of changes on BOTH sides —
  * including the cross term (a fact inserted in the same round its
  * dimension row is deleted must not survive: `ΔA⋈B_old` produces it,
  * `A_new⋈ΔB` must cancel it exactly), keyed updates arriving as
  * delete+insert, and the keyless multiset apply with duplicate
  * rows. */
class IncrementalJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("maintained join view equals recompute; cross term cancels") {
    val rootA = Fixtures.tempDir("graft-ivj-a") + "/tbl"
    val rootB = Fixtures.tempDir("graft-ivj-b") + "/tbl"
    val vtA = new VersionedTable(spark, rootA)
    val vtB = new VersionedTable(spark, rootB)

    // A: facts (id, k, x); B: dimension (k, name). Integer dimension
    // key: deleteVectorizedKeys prunes files through a NUMERIC
    // min/max envelope of the key frame.
    vtA.write((0L until 200L).map(i => (i, i % 10, i * 2))
      .toDF("id", "k", "x"))
    val a0 = vtA.currentVersion.get
    vtB.write((0L until 10L).map(i => (i, s"name$i")).toDF("k", "name"))
    val b0 = vtB.currentVersion.get
    val view0 = vtA.read().join(vtB.read(), Seq("k"))

    // A: append 100 facts — including many keyed to k=3, whose
    // dimension row dies in the SAME maintenance round (cross term)
    vtA.write((200L until 300L).map(i => (i, i % 10, i * 2))
      .toDF("id", "k", "x"), SaveMode.Append)
    vtA.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 50, 99).condition) // A: DV delete
    val a2 = vtA.currentVersion.get
    // B: delete dimension rows k=3, k=7
    vtB.deleteVectorizedKeys("k", Seq(3L, 7L).toDF("k"))
    val b1 = vtB.currentVersion.get

    val delta = IncrementalJoin.deltaJoin(
      changesA = vtA.changes(a0, a2), bOld = vtB.readVersion(b0),
      aNew = vtA.read(), changesB = vtB.changes(b0, b1),
      keys = Seq("k"))
    val maintained = IncrementalJoin.applyKeyed(view0, delta, Seq("id"))
    val recomputed = vtA.read().join(vtB.read(), Seq("k"))
    assert(canon(maintained) === canon(recomputed))
    // the deleted dimension keys really vanished (cross term exercised)
    assert(maintained.filter(col("k").isin(3L, 7L)).count() === 0)
    assert(maintained.count() > 0)
  }

  test("randomized multi-round chains: maintained == recompute each round") {
    val rnd = new scala.util.Random(97)
    (1 to 2).foreach { trial =>
      val rootA = Fixtures.tempDir(s"graft-ivj-rand-a$trial") + "/tbl"
      val rootB = Fixtures.tempDir(s"graft-ivj-rand-b$trial") + "/tbl"
      val vtA = new VersionedTable(spark, rootA)
      val vtB = new VersionedTable(spark, rootB)
      var nextId = 200L
      vtA.write((0L until 200L).map(i => (i, i % 12, i))
        .toDF("id", "k", "x"))
      vtB.write((0L until 12L).map(i => (i, s"d$i")).toDF("k", "name"))
      var view = vtA.read().join(vtB.read(), Seq("k"))
      (1 to 3).foreach { round =>
        val a0 = vtA.currentVersion.get
        val b0 = vtB.currentVersion.get
        val bOld = vtB.readVersion(b0)
        // random mutations: always at least one per side per round
        val nNew = 30 + rnd.nextInt(40)
        vtA.write((nextId until nextId + nNew).map(i => (i, i % 12, i))
          .toDF("id", "k", "x"), SaveMode.Append)
        nextId += nNew
        val lo = rnd.nextInt(150).toLong
        vtA.deleteVectorizedWhere(VersionedTable.NumRange(
          "id", lo, lo + 20 + rnd.nextInt(30)).condition)
        val victim = rnd.nextInt(12).toLong
        vtB.deleteVectorizedKeys("k", Seq(victim).toDF("k"))
        val delta = IncrementalJoin.deltaJoin(
          changesA = vtA.changes(a0, vtA.currentVersion.get),
          bOld = bOld, aNew = vtA.read(),
          changesB = vtB.changes(b0, vtB.currentVersion.get),
          keys = Seq("k"))
        view = IncrementalJoin.applyKeyed(view, delta, Seq("id"))
          .localCheckpoint() // pin the round's state; keeps lineage flat
        val recomputed = vtA.read().join(vtB.read(), Seq("k"))
        assert(canon(view) === canon(recomputed),
          s"trial $trial round $round diverged")
      }
    }
  }

  test("min/max over a join view: multi-round maintenance == recompute") {
    // the q156 composition — join view maintained O(delta)
    // (applyKeyed), non-additive agg re-derived per round for touched
    // groups only (updateByRecompute) — must track a from-scratch
    // rollup through randomized appends + deletes on BOTH inputs,
    // including rounds that empty whole groups
    import graft.incremental.IncrementalAgg
    val rnd = new scala.util.Random(131)
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    (1 to 2).foreach { trial =>
      val rootA = Fixtures.tempDir(s"graft-ivmm-a$trial") + "/tbl"
      val rootB = Fixtures.tempDir(s"graft-ivmm-b$trial") + "/tbl"
      val vtA = new VersionedTable(spark, rootA)
      val vtB = new VersionedTable(spark, rootB)
      var nextId = 200L
      vtA.write((0L until 200L).map(i => (i, i % 12, i))
        .toDF("id", "k", "x"))
      vtB.write((0L until 12L).map(i => (i, s"d$i")).toDF("k", "name"))
      var view = vtA.read().join(vtB.read(), Seq("k"))
      var agg = rollup(view)
      (1 to 3).foreach { round =>
        val a0 = vtA.currentVersion.get
        val b0 = vtB.currentVersion.get
        val bOld = vtB.readVersion(b0)
        val nNew = 30 + rnd.nextInt(40)
        vtA.write((nextId until nextId + nNew).map(i => (i, i % 12, i))
          .toDF("id", "k", "x"), SaveMode.Append)
        nextId += nNew
        val lo = rnd.nextInt(150).toLong
        vtA.deleteVectorizedWhere(VersionedTable.NumRange(
          "id", lo, lo + 20 + rnd.nextInt(30)).condition)
        val victim = rnd.nextInt(12).toLong // empties group `victim`
        vtB.deleteVectorizedKeys("k", Seq(victim).toDF("k"))
        val delta = IncrementalJoin.deltaJoin(
          changesA = vtA.changes(a0, vtA.currentVersion.get),
          bOld = bOld, aNew = vtA.read(),
          changesB = vtB.changes(b0, vtB.currentVersion.get),
          keys = Seq("k"))
        view = IncrementalJoin.applyKeyed(view, delta, Seq("id"))
          .localCheckpoint()
        agg = IncrementalAgg.updateByRecompute(
          agg, view, delta, Seq("k"), rollup).localCheckpoint()
        val expected = rollup(vtA.read().join(vtB.read(), Seq("k")))
        assert(canon(agg) === canon(expected),
          s"trial $trial round $round diverged")
      }
    }
  }

  test("unrecognized _change_type raises instead of silently dropping") {
    import spark.implicits._
    // the supported tag domain is the full CDF set (insert/delete/
    // update_preimage/update_postimage); anything else zero-signed
    // would corrupt the maintained view invisibly, so it must throw
    val bogus = Seq((1L, 3L, "upsert"))
      .toDF("k", "x", "_change_type")
    val b = Seq((1L, "n1")).toDF("k", "name")
    val aNew = Seq.empty[(Long, Long)].toDF("k", "x")
    val noChangesB = b.withColumn("_change_type", lit("insert")).limit(0)
    val ex = intercept[Exception] {
      IncrementalJoin.deltaJoin(bogus, b, aNew,
        noChangesB, Seq("k")).collect()
    }
    assert(ex.getMessage.contains("upsert") ||
      Option(ex.getCause).exists(_.getMessage.contains("upsert")),
      s"expected the bad tag in the error, got: ${ex.getMessage}")
  }

  test("CDF update images fold as signed pairs in deltaJoin") {
    import spark.implicits._
    // an UPDATE of A's row (1, 2)→(1, 5) arrives as preimage/postimage
    // under the same key; the folded view must equal the recompute
    val updates = Seq((1L, 2L, "update_preimage"),
      (1L, 5L, "update_postimage")).toDF("k", "x", "_change_type")
    val b = Seq((1L, "n1")).toDF("k", "name")
    val aNew = Seq((1L, 5L)).toDF("k", "x")
    val noChangesB = b.withColumn("_change_type", lit("insert")).limit(0)
    val delta = IncrementalJoin.deltaJoin(updates, b, aNew,
      noChangesB, Seq("k"))
    val prior = Seq((1L, 2L, "n1")).toDF("k", "x", "name")
    val view = IncrementalJoin.applyKeyed(prior, delta, Seq("k"))
    assert(view.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2))).toSeq === Seq((1L, 5L, "n1")))
  }

  test("applyMultiset resolves net multiplicity without a row key") {
    val prior = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "x")
    val delta = Seq(
      ("a", 1, -1), // remove ONE of the two duplicate (a,1) rows
      ("b", 2, -1), ("b", 2, -1), // net -2 on a count-1 row: clamps out
      ("c", 3, 1), ("c", 3, 1) // insert with multiplicity 2
    ).toDF("k", "x", IncrementalJoin.SignCol)
    val out = IncrementalJoin.applyMultiset(prior, delta)
    assert(canon(out) === Seq("a|1", "c|3", "c|3"))
  }

  test("applyKeyed passes untouched rows through and re-resolves updates") {
    val prior = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
    val delta = Seq(
      (1L, "old", -1), (1L, "new", 1) // keyed update = delete + insert
    ).toDF("id", "v", IncrementalJoin.SignCol)
    val out = IncrementalJoin.applyKeyed(prior, delta, Seq("id"))
    assert(canon(out) === Seq("1|new", "2|keep"))
  }
}
