package graft

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Every grain of the change feed answers the same question: for a
  * window (from, to], the signed fold of its rows (inserts +, deletes
  * −, per row value) is the snapshot at `to` minus the snapshot at
  * `from`. One row-tracked, partitioned table runs through every kind
  * of commit the feed classifies — append, DV delete, DV update,
  * merge, OPTIMIZE, partition delete, overwrite, RESTORE — and every
  * window of it is read at the endpoint grain, the commit-stamped
  * grain, the span grain and (where the window is derivable from
  * manifests) through the streaming change-feed source. The update
  * images fold the same way: pre-images count −, post-images +. */
class ChangeFeedBuilderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Fold = Map[(Long, String, Long), Long]

  /** Signed multiset of a feed: `plus` change types count +1, every
    * other type −1; zero counts drop out. */
  private def fold(df: DataFrame, plus: Set[String]): Fold =
    df.select("id", "p", "v", "_change_type").collect().toSeq
      .groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map { case (k, rs) => k -> rs.map(r =>
        if (plus.contains(r.getString(3))) 1L else -1L).sum }
      .filter(_._2 != 0L)

  private def snapshot(vt: VersionedTable, v: Long): Fold =
    vt.readVersion(v).select("id", "p", "v").collect().toSeq
      .groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map { case (k, rs) => k -> rs.size.toLong }

  private def minus(b: Fold, a: Fold): Fold =
    (a.keySet ++ b.keySet).toSeq
      .map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L)))
      .filter(_._2 != 0L).toMap

  private val rowTypes = Set("insert")
  private val imageTypes = Set("insert", "update_postimage")

  /** v0 create, v1 row tracking, v2 append, v3 DV delete, v4 DV
    * update, v5 merge, v6 OPTIMIZE, v7 partition delete, v8
    * overwrite, v9 RESTORE to v5. */
  private lazy val fixture: (String, VersionedTable) = {
    val root = Fixtures.tempDir("cfb-grains") + "/tbl"
    val vt = new VersionedTable(spark, root)
    def rows(ids: Seq[Long], bump: Long = 0L): DataFrame =
      ids.map(i => (i, s"p${i % 4}", i * 10L + bump)).toDF("id", "p", "v")
    vt.write(rows(0L until 40L).repartition(2), partitionBy = Some(Seq("p")))
    vt.enableRowTracking()                                          // v1
    vt.write(rows(40L until 48L).repartition(1), SaveMode.Append)   // v2
    vt.deleteVectorizedWhere(col("id").between(5L, 9L))             // v3
    vt.updateVectorizedWhere(col("id") % 3 === 0,
      Map("v" -> (col("v") + 1L)))                                  // v4
    vt.mergeVectorized(rows(Seq(2L, 13L, 100L, 101L), bump = 7L),
      Seq("id"))                                                    // v5
    vt.compact()                                                    // v6
    vt.deletePartitionIn("p", Set("p3"))                            // v7
    vt.write(rows(200L until 210L), partitionBy = Some(Seq("p")))   // v8
    vt.restore(5L)                                                  // v9
    assert(vt.currentVersion.get === 9L)
    (root, vt)
  }

  /** Windows the streaming feed derives from manifests: only appends
    * and DV DML (v1..v5), or only the OPTIMIZE (v6). */
  private def streamDerivable(a: Long, b: Long): Boolean =
    b <= 5L || (a == 5L && b == 6L)

  /** The streaming change-feed source over exactly (a, b]. */
  private def streamed(root: String, a: Long, b: Long): DataFrame = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val base = Fixtures.tempDir(s"cfb-stream-$a-$b")
    val q = graft.streaming.Streaming
      .changeFeedSource(spark, root, startingVersion = Some(a + 1),
        endingVersion = Some(b))
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.select("id", "p", "v", "_change_type").collect()
          .foreach(out.add); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asScala.toSeq.asJava,
      spark.range(0).select(lit(0L).as("id"), lit("").as("p"),
        lit(0L).as("v"), lit("").as("_change_type")).schema)
  }

  test("every window folds to the snapshot difference at every grain: " +
      "endpoint, commit-stamped, spans and the derivable stream") {
    val (root, vt) = fixture
    val snaps = (0L to 9L).map(v => v -> snapshot(vt, v)).toMap
    for (a <- 0L until 9L; b <- (a + 1) to 9L) {
      val want = minus(snaps(b), snaps(a))
      withClue(s"window ($a, $b]: ") {
        assert(fold(vt.changes(a, b), rowTypes) === want, "endpoint")
        val stamped = vt.changes(a, b, commitMeta = true)
        assert(fold(stamped.drop("_commit_version", "_commit_timestamp"),
          rowTypes) === want, "commit-stamped")
        assert(fold(vt.changesPerCommit(a, b), rowTypes) === want, "spans")
        if (streamDerivable(a, b))
          assert(fold(streamed(root, a, b), rowTypes) === want, "stream")
      }
    }
  }

  test("update pre/post images fold to the same snapshot difference, " +
      "at the endpoint and commit-stamped grains") {
    val (_, vt) = fixture
    val snaps = (1L to 9L).map(v => v -> snapshot(vt, v)).toMap
    for (a <- 1L until 9L; b <- (a + 1) to 9L) {
      val want = minus(snaps(b), snaps(a))
      withClue(s"window ($a, $b]: ") {
        assert(fold(vt.changes(a, b, updateImages = true), imageTypes)
          === want, "endpoint images")
        assert(fold(vt.changes(a, b, updateImages = true, commitMeta = true),
          imageTypes) === want, "commit-stamped images")
      }
    }
  }

  /** v0 create, v1 row tracking, v2 append, v3 ADD COLUMN w with a
    * default, v4 append with w (one file per partition), v5 RENAME v
    * TO amount, v6 DV update, v7 DV delete that kills v4's p0 file,
    * v8 DROP COLUMN w. */
  private lazy val evolving: VersionedTable = {
    val vt = new VersionedTable(spark,
      Fixtures.tempDir("cfb-evolving") + "/tbl")
    def rows(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, s"p${i % 2}", i * 10L)).toDF("id", "p", "v")
    vt.write(rows(0L until 12L), partitionBy = Some(Seq("p")))      // v0
    vt.enableRowTracking()                                          // v1
    vt.write(rows(12L until 16L), SaveMode.Append)                  // v2
    vt.addColumnWithDefault("w", org.apache.spark.sql.types.LongType,
      "5")                                                          // v3
    vt.write(rows(16L until 20L).withColumn("w", col("id"))
      .repartition(1), SaveMode.Append)                             // v4
    vt.renameColumn("v", "amount")                                  // v5
    vt.updateVectorizedWhere(col("id") % 3 === 0,
      Map("amount" -> (col("amount") + 1L)))                        // v6
    vt.deleteVectorizedWhere(col("id").isin(4L, 16L, 18L))          // v7
    vt.dropColumn("w")                                              // v8
    assert(vt.currentVersion.get === 8L)
    vt
  }

  /** [[fold]] on (id, p, value) whatever the value column is named at
    * that version; the defaulted `w` is left out, since its backfill
    * is a logical change only a snapshot diff reports. */
  private def foldEvolving(df: DataFrame, plus: Set[String]): Fold = {
    val named = df.withColumnRenamed("amount", "v")
    assert(named.filter(col("v").isNull).isEmpty, "a value read null")
    fold(named, plus)
  }

  private def snapshotEvolving(vt: VersionedTable, v: Long): Fold =
    vt.readVersion(v).withColumnRenamed("amount", "v")
      .select("id", "p", "v").collect().toSeq
      .groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .map { case (k, rs) => k -> rs.size.toLong }

  test("a window across ADD, RENAME and DROP COLUMN reads in `to`'s " +
      "logical schema and folds to the snapshot difference at every grain") {
    val vt = evolving
    assert(vt.history(limit = Int.MaxValue).exists(h =>
      h.version == 7L && h.operation.startsWith("DELETE DV")))
    assert(vt.changes(6L, 7L).filter(col("_change_type") === "delete")
      .count() === 3L)
    val snaps = (0L to 8L).map(v => v -> snapshotEvolving(vt, v)).toMap
    val meta = Seq("_commit_version", "_commit_timestamp")
    for (a <- 0L until 8L; b <- (a + 1) to 8L) {
      val want = minus(snaps(b), snaps(a))
      val cols = vt.readVersion(b).columns.toSeq :+ "_change_type"
      withClue(s"window ($a, $b]: ") {
        val endpoint = vt.changes(a, b)
        val stamped = vt.changes(a, b, commitMeta = true)
        val spans = vt.changesPerCommit(a, b)
        assert(endpoint.columns.toSeq === cols, "endpoint columns")
        assert(stamped.columns.toSeq === cols ++ meta, "stamped columns")
        assert(spans.columns.toSeq === cols, "span columns")
        assert(foldEvolving(endpoint, rowTypes) === want, "endpoint")
        assert(foldEvolving(stamped.drop(meta: _*), rowTypes) === want,
          "commit-stamped")
        assert(foldEvolving(spans, rowTypes) === want, "spans")
        if (a >= 1L) {
          val images = vt.changes(a, b, updateImages = true)
          val stampedImages = vt.changes(a, b, updateImages = true,
            commitMeta = true)
          assert(images.columns.toSeq === "_row_id" +: cols, "image columns")
          assert(stampedImages.columns.toSeq === ("_row_id" +: cols) ++ meta,
            "stamped image columns")
          assert(foldEvolving(images, imageTypes) === want, "images")
          assert(foldEvolving(stampedImages, imageTypes) === want,
            "commit-stamped images")
        }
      }
    }
  }

  private lazy val small: VersionedTable = {
    val vt = new VersionedTable(spark, Fixtures.tempDir("cfb-bounds") + "/tbl")
    vt.write((0L until 10L).map(i => (i, "p", i)).toDF("id", "p", "v"))  // v0
    vt.enableRowTracking()                                                // v1
    vt.write(Seq((10L, "p", 10L)).toDF("id", "p", "v"), SaveMode.Append)  // v2
    vt.deleteVectorizedWhere(col("id") === 3L)                            // v3
    vt
  }

  test("a window is checked up front: -1 <= from <= to <= current") {
    val vt = small
    for ((a, b) <- Seq((3L, 1L), (-2L, 1L), (0L, 4L), (2L, 9L))) {
      withClue(s"window ($a, $b]: ") {
        intercept[IllegalArgumentException](vt.changes(a, b))
        intercept[IllegalArgumentException](vt.changesPerCommit(a, b))
        intercept[IllegalArgumentException](
          vt.changes(a, b, commitMeta = true))
      }
    }
  }

  test("from = -1 is before the creating commit: v0's rows are inserts " +
      "at every grain; update images refuse it, naming row tracking") {
    val vt = small
    val want = snapshot(vt, 3L)
    assert(fold(vt.changes(-1L, 3L), rowTypes) === want)
    assert(fold(vt.changesPerCommit(-1L, 3L), rowTypes) === want)
    val stamped = vt.changes(-1L, 3L, commitMeta = true)
    assert(fold(stamped.drop("_commit_version", "_commit_timestamp"),
      rowTypes) === want)
    assert(stamped.filter(col("_commit_version") === 0L).count() === 10L)
    val refused = intercept[IllegalArgumentException](
      vt.changes(-1L, 3L, updateImages = true))
    assert(refused.getMessage.contains("row tracking"), refused.getMessage)
  }
}
