package graft

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable
import graft.sql.{GraftCatalog, GraftSql}

/** A local file system that records every path it opens. */
class OpenRecordingFileSystem extends graft.io.FastLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenRecordingFileSystem.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

object OpenRecordingFileSystem {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The commit history as readers walk it — newest first, per-commit
  * files before the checkpoint, bounded by the window a reader asks
  * for — and the one timestamp rule every SQL route resolves by. */
class HistoryWalkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A table at `root` whose file system records its opens. */
  private def recorded(root: String): VersionedTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[OpenRecordingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try new VersionedTable(spark, root)
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a one-commit window opens one history file, however many " +
      "commits follow the checkpoint") {
    val root = Fixtures.tempDir("graft-hist-walk") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq(0L).toDF("id")) // v0
    def append(i: Long): Unit =
      vt.write(Seq(i).toDF("id"), SaveMode.Append, operation = "APPEND")
    (1L to 3L).foreach(append)
    vt.checkpointHistory() // v0..v3 in the checkpoint
    (4L to 24L).foreach(append)
    val historyDir = new Path(root, "_history").toUri.getPath
    def historyOpens(body: VersionedTable => Unit): Seq[String] = {
      val t = recorded(root)
      OpenRecordingFileSystem.opened.clear()
      body(t)
      import scala.jdk.CollectionConverters._
      OpenRecordingFileSystem.opened.asScala.toSeq
        .filter(_.contains(historyDir)).map(p => new Path(p).getName)
    }
    // (9, 10]: one per-commit file, named by its version — never the
    // other 20 per-commit files or the checkpoint
    val mid = historyOpens(t => assert(
      t.changes(9L, 10L, commitMeta = true).select("_commit_version")
        .as[Long].collect().toSeq === Seq(10L)))
    assert(mid.size === 1, mid)
    assert(mid.head.startsWith("v00000010_"), mid)
    // (2, 3]: the window starts at or below the checkpoint's version,
    // so the checkpoint is the one file opened
    val old = historyOpens(t => assert(
      t.changes(2L, 3L, commitMeta = true).select("_commit_version")
        .as[Long].collect().toSeq === Seq(3L)))
    assert(old === Seq("cp_v00000003.jsonl"), old)
    // the whole-history readers still see every commit, newest first
    assert(vt.history(limit = Int.MaxValue).map(_.version) ===
      (24L to 0L by -1L))
    assert(vt.lastOperationWith("WRITE").map(_.version) === Some(0L))
  }

  test("every SQL timestamp route names the same version, or fails " +
      "with the same message, on a table with vacuumed versions") {
    val wh = Fixtures.tempDir("graft-ts-routes") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark, "CREATE TABLE t AS SELECT id AS k FROM range(5)",
      cat) // v0: 5 rows
    (5 to 8).foreach(k =>
      GraftSql.exec(spark, s"INSERT INTO t VALUES ($k)", cat)) // v1..v4
    val vt = new VersionedTable(spark, cat.rootOf("t"))
    val ts = vt.history(limit = Int.MaxValue)
      .map(h => h.version -> h.timestamp).toMap
    assert(vt.vacuum(retainVersions = 3, orphanGraceMs = 0L) ===
      Seq(0L, 1L)) // v2..v4 stay
    // each route's answer for instant `at`: the version it names, or
    // the message it fails with
    def routes(at: String, n: Int): Seq[Either[String, Long]] = {
      def attempt(body: => Long): Either[String, Long] =
        try Right(body)
        catch { case e: RuntimeException => Left(e.getMessage) }
      Seq(
        // TIMESTAMP AS OF: version k holds k + 5 rows
        attempt(GraftSql.exec(spark,
          s"SELECT count(*) AS n FROM t TIMESTAMP AS OF '$at'", cat)
          .as[Long].head() - 5L),
        // table_changes ending at the instant: its newest commit
        attempt(GraftSql.exec(spark,
          s"SELECT max(_commit_version) AS v FROM table_changes('t', " +
            s"'$at', '$at')", cat).as[Long].head()),
        // CLONE ... TIMESTAMP AS OF: the source version it records
        attempt(GraftSql.exec(spark,
          s"CREATE TABLE c$n SHALLOW CLONE t TIMESTAMP AS OF '$at'", cat)
          .select("source_version").as[Long].head()),
        // RESTORE ... TO TIMESTAMP AS OF: the version it restored
        attempt {
          GraftSql.exec(spark, s"RESTORE TABLE t TO TIMESTAMP AS OF '$at'",
            cat)
          vt.history(limit = 1).head.operation.stripPrefix("RESTORE to v")
            .toLong
        })
    }
    // an instant inside the vacuumed range names no retained version
    val inside = routes(ts(1L), 0)
    assert(inside.forall(_.isLeft), inside)
    assert(inside.distinct.size === 1, inside)
    assert(inside.head.fold(_.contains("earliest commit"), _ => false),
      inside)
    // an instant after it names v3 everywhere
    assert(routes(ts(3L), 1) === Seq.fill(4)(Right(3L)))
    assert(vt.read().count() === 8L) // restored to v3's rows
    assert(vt.read().filter(col("k") === 8L).isEmpty)
  }

  test("a forward instant at or before the creating commit starts from " +
      "the beginning even when v0's manifest is gone") {
    val base = Fixtures.tempDir("graft-ts-creating")
    val root = s"$base/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq(1L, 2L).toDF("id")) // v0
    (3L to 6L).foreach(i =>
      vt.write(Seq(i).toDF("id"), SaveMode.Append)) // v1..v4
    val t0 = vt.history(limit = Int.MaxValue).last.timestamp
    val before = java.time.Instant.parse(t0).minusSeconds(60).toString
    val now = vt.history(limit = 1).head.timestamp
    // a vacuum that deleted v0..v1's manifests and stopped before it
    // rolled their history lines out: the lines stay, the manifests go
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach(v =>
      assert(fs.delete(new Path(root, f"_manifests/v$v%08d.txt"), false)))
    assert(vt.committedVersions === Seq(2L, 3L, 4L))
    assert(vt.history(limit = Int.MaxValue).map(_.version) ===
      (4L to 0L by -1L))
    val snapshot = (1L to 6L).map(_ -> "insert")
    // the feed from the beginning is the snapshot as inserts
    for (start <- Seq(before, t0)) {
      val rows = vt.changesBetweenTimestamps(start, now)
        .select(col("id"), col("_change_type")).as[(Long, String)]
        .collect().sorted.toSeq
      assert(rows === snapshot, start)
    }
    // and a stream subscribed there starts with the snapshot
    val out = s"$base/out"
    val q = graft.streaming.Streaming.versionedSource(spark, root,
        startingTimestamp = Some(before))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted
      .toSeq === (1L to 6L))
    // backward, the vacuumed creating commit names nothing
    assert(vt.versionAt(t0) === None)
  }
}
