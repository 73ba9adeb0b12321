package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.incremental.IncrementalAgg
import graft.io.VersionedTable

/** Incremental view maintenance: a maintained aggregate must equal a
  * full recompute after ANY chain of appends / deletes — including
  * deletes that empty a group, re-inserts into an emptied group, and
  * deletion-vector commits whose feed is a row-level diff. */
class IncrementalAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("k")
  private val sums = Seq("x")

  private def frame(rows: Seq[(Long, String, java.math.BigDecimal)]): DataFrame =
    rows.toDF("id", "k", "x_raw")
      .select(col("id"), col("k"), col("x_raw").cast("decimal(18,4)").as("x"))

  private def dec(d: Double) = new java.math.BigDecimal(d)

  private def canon(df: DataFrame): Seq[(String, Long, String)] =
    df.select(col("k"), col(IncrementalAgg.CountCol),
      col(IncrementalAgg.sumCol("x")).cast("decimal(28,4)").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq

  test("maintained aggregate equals recompute across a mutation chain") {
    val root = Fixtures.tempDir("graft-ivm") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val base = (0L until 300L).map(i => (i, s"g${i % 7}", dec(i * 1.25)))
    vt.write(frame(base)) // v0
    var agg = IncrementalAgg.compute(vt.read(), keys, sums)

    // append (file-level feed)
    val v0 = vt.currentVersion.get
    vt.write(frame((300L until 400L).map(i => (i, s"g${i % 7}", dec(i * 1.25)))),
      SaveMode.Append)
    val v1 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v0, v1), keys, sums)
    assert(canon(agg) === canon(IncrementalAgg.compute(vt.read(), keys, sums)))

    // DV delete (row-level feed)
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 50, 149).condition)
    val v2 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v1, v2), keys, sums)
    assert(canon(agg) === canon(IncrementalAgg.compute(vt.read(), keys, sums)))

    // rewrite delete (replaceWhere feed)
    vt.deleteBetween("id", 150, 249)
    val v3 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v2, v3), keys, sums)
    assert(canon(agg) === canon(IncrementalAgg.compute(vt.read(), keys, sums)))
  }

  test("a group deleted to zero disappears; a re-insert resurrects it") {
    val root = Fixtures.tempDir("graft-ivm-zero") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(frame(Seq((1L, "only", dec(10.0)), (2L, "other", dec(5.0))))) // v0
    val v0 = vt.currentVersion.get
    var agg = IncrementalAgg.compute(vt.read(), keys, sums)
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 1, 1).condition) // empties group "only"
    val v1 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v0, v1), keys, sums)
    assert(canon(agg).map(_._1) === Seq("other"))
    vt.write(frame(Seq((3L, "only", dec(7.5)))), SaveMode.Append)
    val v2 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v1, v2), keys, sums)
    assert(canon(agg) === canon(IncrementalAgg.compute(vt.read(), keys, sums)))
  }

  test("NULL group keys merge null-safely (no split prior/delta rows)") {
    val root = Fixtures.tempDir("graft-ivm-nullkey") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // groupBy treats NULL as a real group; the prior⊕delta merge must
    // match it null-safely or the null group doubles
    def nframe(rows: Seq[(Long, Option[String], java.math.BigDecimal)]) =
      rows.toDF("id", "k", "x_raw")
        .select(col("id"), col("k"),
          col("x_raw").cast("decimal(18,4)").as("x"))
    vt.write(nframe(Seq((1L, None, dec(10.0)), (2L, Some("a"), dec(5.0)),
      (3L, None, dec(2.0))))) // v0
    val v0 = vt.currentVersion.get
    var agg = IncrementalAgg.compute(vt.read(), keys, sums)
    vt.write(nframe(Seq((4L, None, dec(1.5)), (5L, Some("a"), dec(0.5)))),
      SaveMode.Append)
    val v1 = vt.currentVersion.get
    agg = IncrementalAgg.update(agg, vt.changes(v0, v1), keys, sums)
    def ncanon(df: DataFrame) =
      df.select(coalesce(col("k"), lit("<null>")),
        col(IncrementalAgg.CountCol),
        col(IncrementalAgg.sumCol("x")).cast("decimal(28,4)").cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq
    val rows = agg.collect()
    assert(rows.length === 2, "null key must stay ONE group row")
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.getLong(1) === 3L)
    assert(nullRow.getDecimal(2) === new java.math.BigDecimal("13.5000"))
    assert(ncanon(agg) ===
      ncanon(IncrementalAgg.compute(vt.read(), keys, sums)))
    // the non-additive path prunes/splices with the same null-safety
    def mm(df: DataFrame) = df.groupBy("k")
      .agg(count(lit(1)).as(IncrementalAgg.CountCol),
        sum(col("x")).as(IncrementalAgg.sumCol("x")))
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 3, 4).condition) // touches the NULL group
    val v2 = vt.currentVersion.get
    val byRecompute = IncrementalAgg.updateByRecompute(
      mm(vt.readVersion(v1)), vt.read(), vt.changes(v1, v2), keys, mm)
    assert(ncanon(byRecompute) === ncanon(mm(vt.read())))
  }

  test("non-additive aggregates maintain via scoped group recompute") {
    val root = Fixtures.tempDir("graft-ivm-minmax") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val base = (0L until 100L).map(i => (i, s"g${i % 5}", dec(i * 1.0)))
    vt.write(frame(base)) // v0
    val v0 = vt.currentVersion.get
    def mm(df: DataFrame) = df.groupBy("k")
      .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"))
    var agg = mm(vt.read())
    // delete the max rows of two groups — exactly what additive IVM
    // cannot maintain
    vt.deleteVectorizedWhere(VersionedTable.NumRange("id", 95, 99).condition)
    val v1 = vt.currentVersion.get
    agg = IncrementalAgg.updateByRecompute(agg, vt.read(),
      vt.changes(v0, v1), keys, mm)
    val got = agg.orderBy("k").collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
    val want = mm(vt.read()).orderBy("k").collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getDecimal(2)))
    assert(got === want)
  }
}
