package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas
import graft.io.VersionedTable
import graft.incremental.{Incremental, Upsert}
import graft.maintenance.Maintenance
import graft.orchestration.{Dag, Task}

class SchemasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("validate: exact schema passes strict validation") {
    val (ok, errs) = Schemas.validate(Schemas.silver, Schemas.silver,
      allowExtraColumns = false)
    assert(ok, errs.mkString("; "))
  }

  test("validate: missing field and incompatible type reported") {
    val actual = StructType(Seq(
      StructField("vendorid", StringType))) // wrong type, everything else missing
    val (ok, errs) = Schemas.validate(actual, Schemas.silver)
    assert(!ok)
    assert(errs.exists(_.contains("Missing required field")))
    assert(errs.exists(_.contains("Type mismatch for field 'vendorid'")))
  }

  test("validate: compatibility lattice allows string->timestamp, int->long/double") {
    assert(Schemas.typesCompatible(StringType, TimestampType))
    assert(Schemas.typesCompatible(IntegerType, LongType))
    assert(Schemas.typesCompatible(IntegerType, DoubleType))
    assert(!Schemas.typesCompatible(DoubleType, IntegerType))
    assert(!Schemas.typesCompatible(StringType, DoubleType))
  }

  test("enforce: case-insensitive rename + cast in one projection") {
    import scala.jdk.CollectionConverters._
    val in = spark.createDataFrame(
      Seq(Row("7", "2023-01-01 10:00:00")).asJava,
      StructType(Seq(
        StructField("VENDORID", StringType),
        StructField("TPEP_PICKUP_DATETIME", StringType))))
    val (out, warnings) = Schemas.enforce(in, Schemas.silver)
    assert(out.columns.toSeq === Seq("vendorid", "tpep_pickup_datetime"))
    assert(out.schema("vendorid").dataType === IntegerType)
    assert(out.schema("tpep_pickup_datetime").dataType === TimestampType)
    assert(warnings.length === 2)
    val row = out.head
    assert(row.getInt(0) === 7)
    assert(row.getTimestamp(1).toString.startsWith("2023-01-01 10:00"))
  }
}

class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsert: matched rows updated, unmatched source inserted, target kept") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "status", "amount")
    val source = Seq((2L, "B", 99.0), (4L, "d", 40.0))
      .toDF("id", "status", "amount")
    val merged = Upsert.upsert(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(merged.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    val byId = merged.map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(byId(1L) === ("a", 10.0)) // untouched target
    assert(byId(2L) === ("B", 99.0)) // updated
    assert(byId(4L) === ("d", 40.0)) // inserted
  }

  test("upsert: updateColumns subset only updates listed columns") {
    val target = Seq((1L, "a", 10.0)).toDF("id", "status", "amount")
    val source = Seq((1L, "Z", 99.0)).toDF("id", "status", "amount")
    val merged = Upsert.upsert(target, source, Seq("id"),
      updateColumns = Some(Seq("amount"))).collect()(0)
    assert(merged.getString(1) === "a")  // status NOT updated
    assert(merged.getDouble(2) === 99.0) // amount updated
  }

  test("upsert: explicit source NULL updates the target (Delta whenMatchedUpdate)") {
    val target = Seq((1L, Some("a"), Some(10.0)), (2L, None, Some(20.0)))
      .toDF("id", "status", "amount")
    val source = Seq((1L, None: Option[String], Some(99.0)))
      .toDF("id", "status", "amount")
    val merged = Upsert.upsert(target, source, Seq("id"),
      updateColumns = Some(Seq("status")))
      .orderBy("id").collect()
    // matched row: the source's explicit NULL must overwrite "a"
    assert(merged(0).isNullAt(1), "explicit source NULL must be written")
    // non-update column of the matched row keeps the target value
    assert(merged(0).getDouble(2) === 10.0)
    // a matched target's legitimate NULL in a non-update column must
    // NOT be resurrected from the source on unmatched rows' account
    assert(merged(1).isNullAt(1) && merged(1).getDouble(2) === 20.0)
  }

  test("mergeIntoTable: creates then merges; watermark reflects new data") {
    val base = Fixtures.tempDir("graft-merge")
    val path = s"$base/t"
    val t0 = Seq((1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), 1.0))
      .toDF("id", "ts", "v")
    Upsert.mergeIntoTable(spark, t0, path, Seq("id"))
    val wm0 = Incremental.getWatermark(spark, path, "ts").get
    val newer = Seq((2L, java.sql.Timestamp.valueOf("2023-02-01 00:00:00"), 2.0))
      .toDF("id", "ts", "v")
    val n = Upsert.mergeIntoTable(spark, newer, path, Seq("id"))
    assert(n === 2)
    val wm1 = Incremental.getWatermark(spark, path, "ts").get
    assert(wm1.toString > wm0.toString)
  }

  test("getWatermark reads a versioned table's current snapshot") {
    val root = Fixtures.tempDir("graft-wm-versioned") + "/silver"
    val vt = new VersionedTable(spark, root)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    vt.write(Seq((1L, ts("2023-01-01 00:00:00")), (2L, ts("2023-01-05 00:00:00")))
      .toDF("id", "ts"))
    assert(Incremental.getWatermark(spark, root, "ts") ===
      Some(ts("2023-01-05 00:00:00")))
    vt.write(Seq((3L, ts("2023-02-01 00:00:00"))).toDF("id", "ts"),
      SaveMode.Append)
    assert(Incremental.getWatermark(spark, root, "ts") ===
      Some(ts("2023-02-01 00:00:00")))
    // a DV delete masks the newest row: the snapshot, not the files,
    // decides the watermark
    vt.deleteVectorizedWhere(col("id") === 3L)
    assert(Incremental.getWatermark(spark, root, "ts") ===
      Some(ts("2023-01-05 00:00:00")))
    assert(Incremental.getWatermark(spark, root, "no_such_column") === None)
  }

  test("partition-scoped merge rewrites only touched partitions") {
    val base = Fixtures.tempDir("graft-merge-scoped")
    val path = s"$base/t"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Map[String, (Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(path, sub)
      if (!fs.exists(p)) Map.empty
      else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime))
        .toMap
    }
    val t0 = Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      .toDF("id", "dt", "v")
    Upsert.mergeIntoTable(spark, t0, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    val before = files("dt=d1")
    assert(before.nonEmpty)
    // source touches only d2 (update id=3) and inserts a new partition
    val src = Seq((3L, "d2", 30.0), (4L, "d3", 4.0)).toDF("id", "dt", "v")
    val written = Upsert.mergeIntoTable(spark, src, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    assert(written === 2, "scoped merge writes only the touched partitions")
    assert(files("dt=d1") === before,
      "untouched partition files must be byte-identical (names/sizes/mtimes)")
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(rows === Map(
      1L -> (1.0, "d1"), 2L -> (2.0, "d1"),
      3L -> (30.0, "d2"), 4L -> (4.0, "d3")))
    // partition col NOT in merge keys and no stable-partition assertion:
    // a matched row could live anywhere → whole-table rewrite (the d1
    // files change), correctness over scope
    val src2 = Seq((1L, "d1", 10.0)).toDF("id", "dt", "v")
    val w2 = Upsert.mergeIntoTable(spark, src2, path, Seq("id"),
      partitionBy = Some("dt"))
    assert(w2 === 4, "unsafe pruning must fall back to full rewrite")
    // with the caller asserting stable partitions, pruning kicks in
    val beforeD3 = files("dt=d3")
    val src3 = Seq((2L, "d1", 20.0)).toDF("id", "dt", "v")
    val w3 = Upsert.mergeIntoTable(spark, src3, path, Seq("id"),
      partitionBy = Some("dt"), assumeStablePartitions = true)
    assert(w3 === 2, "stable-partition merge scopes to the touched partition")
    assert(files("dt=d3") === beforeD3)
    assert(spark.read.parquet(path).filter("id = 2").head.getDouble(1) === 20.0)
  }

  test("scoped merge over many partitions: set-lookup pruning, inserts + updates exact") {
    // the backfill shape: dozens of touched partitions must prune via
    // the driver-side dir listing (no N-literal isin predicate) and
    // still merge every touched partition — updates, existing-but-
    // untouched, and insert-created partitions alike
    val base = Fixtures.tempDir("graft-merge-many")
    val path = s"$base/t"
    val n = 60
    val t0 = (0 until n).map(i => (i.toLong, f"d$i%03d", i.toDouble))
      .toDF("id", "dt", "v")
    Upsert.mergeIntoTable(spark, t0, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
    def fileSig(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(path, sub))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    val untouchedBefore = fileSig("dt=d001")
    // every third partition updated + three new partitions inserted
    val src = ((0 until n by 3).map(i => (i.toLong, f"d$i%03d", i * 10.0)) ++
      Seq((100L, "x01", 1.0), (101L, "x02", 2.0), (102L, "x03", 3.0)))
      .toDF("id", "dt", "v")
    val written = Upsert.mergeIntoTable(spark, src, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    assert(written === 23, "20 touched partitions + 3 inserted, 1 row each")
    val out = spark.read.parquet(path)
    assert(out.count() === n + 3)
    val byId = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until n).foreach { i =>
      assert(byId(i.toLong) === (if (i % 3 == 0) i * 10.0 else i.toDouble))
    }
    assert(byId(100L) === 1.0 && byId(102L) === 3.0)
    assert(fileSig("dt=d001") === untouchedBefore,
      "untouched partitions must keep their exact files")
  }

  test("crashed merge swap window: stranded tmp data restored, not deleted") {
    import graft.io.TableIO
    val base = Fixtures.tempDir("graft-merge-crash")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)

    // --- partition-scoped crash: a previous merge wrote its tmp, deleted
    // the target's dt=d2 dir, and died before the rename — d2's only live
    // copy is in the tmp. The next merge must restore it, not delete it.
    val path = s"$base/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val t0 = Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "dt", "v")
    Upsert.mergeIntoTable(spark, t0, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    val tmp = TableIO.tmpSibling(root, "merge_tmp")
    // the crashed merge's tmp: d2 merged to 20.0, and a d1 copy at a
    // bogus value (its swap never started — the target's copy must win).
    // The completion marker is present: the crash hit the SWAP window,
    // after the tmp write finished.
    TableIO.write(Seq((1L, "d1", 999.0), (2L, "d2", 20.0)).toDF("id", "dt", "v"),
      tmp.toString, SaveMode.Overwrite, Some("dt"))
    fs.create(new org.apache.hadoop.fs.Path(tmp, Upsert.completeMarker), true).close()
    fs.delete(new org.apache.hadoop.fs.Path(root, "dt=d2"), true)
    // a fresh merge on an unrelated partition triggers recovery first
    Upsert.mergeIntoTable(spark, Seq((3L, "d3", 3.0)).toDF("id", "dt", "v"),
      path, Seq("id", "dt"), partitionBy = Some("dt"))
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(rows === Map(
      1L -> (1.0, "d1"),  // tmp's half-merged d1 rolled back
      2L -> (20.0, "d2"), // restored from tmp: would've been lost before
      3L -> (3.0, "d3")))
    assert(!fs.exists(tmp), "recovery must consume the tmp")

    // --- full-rewrite crash: target dir deleted, tmp holds the whole
    // merged table. Without recovery the next merge would treat the
    // table as missing and overwrite it with just the source.
    val path2 = s"$base/t2"
    val root2 = new org.apache.hadoop.fs.Path(path2)
    Upsert.mergeIntoTable(spark, t0, path2, Seq("id"))
    val tmp2 = TableIO.tmpSibling(root2, "merge_tmp")
    TableIO.write(spark.read.parquet(path2), tmp2.toString,
      SaveMode.Overwrite, None)
    fs.create(new org.apache.hadoop.fs.Path(tmp2, Upsert.completeMarker), true).close()
    fs.delete(root2, true)
    Upsert.mergeIntoTable(spark, Seq((9L, "d9", 9.0)).toDF("id", "dt", "v"),
      path2, Seq("id"))
    assert(spark.read.parquet(path2).count() === 3,
      "pre-crash rows must survive via the recovered tmp")
  }

  test("crashed merge WRITE window: unmarked tmp is discarded, target wins") {
    import graft.io.TableIO
    val base = Fixtures.tempDir("graft-merge-crash-write")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
    val path = s"$base/t"
    val root = new org.apache.hadoop.fs.Path(path)
    val t0 = Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("id", "dt", "v")
    Upsert.mergeIntoTable(spark, t0, path, Seq("id", "dt"),
      partitionBy = Some("dt"))
    // a merge that died DURING its tmp write: no completion marker, and
    // the partial output even contains a partition (d4) absent from the
    // target — the pre-marker-era recovery would rename that garbage in
    val tmp = TableIO.tmpSibling(root, "merge_tmp")
    TableIO.write(Seq((2L, "d2", 666.0), (4L, "d4", 4.0)).toDF("id", "dt", "v"),
      tmp.toString, SaveMode.Overwrite, Some("dt"))
    // (no marker created — the write "crashed" before it returned)
    Upsert.mergeIntoTable(spark, Seq((3L, "d3", 3.0)).toDF("id", "dt", "v"),
      path, Seq("id", "dt"), partitionBy = Some("dt"))
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(rows === Map(
      1L -> (1.0, "d1"), 2L -> (2.0, "d2"), // target copies untouched
      3L -> (3.0, "d3")),                   // no phantom d4 rows
      "an incomplete tmp must be discarded, never restored")
    assert(!fs.exists(tmp), "recovery must still consume the dead tmp")
  }

  test("versioned merge: one atomic commit, untouched partitions re-referenced") {
    val root = Fixtures.tempDir("graft-vmerge-spec") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val t0 = Seq((1L, "d1", 1.0), (2L, "d2", 2.0), (3L, "d3", 3.0))
      .toDF("id", "dt", "v")
    Upsert.mergeIntoVersionedTable(spark, t0, root, Seq("id", "dt"),
      partitionBy = Some(Seq("dt")))
    assert(vt.currentVersion === Some(0L))
    val d1Before = vt.manifestEntries(0L)
      .filter(_.partitionValues.get("dt").contains("d1"))
    assert(d1Before.nonEmpty)
    // partition col in the merge keys → scoped: d2 updated, d4 inserted
    val src = Seq((2L, "d2", 20.0), (4L, "d4", 4.0)).toDF("id", "dt", "v")
    val written = Upsert.mergeIntoVersionedTable(spark, src, root,
      Seq("id", "dt"))
    assert(written === 2, "scoped merge writes only the touched partitions")
    assert(vt.currentVersion === Some(1L), "merge is ONE commit")
    assert(vt.manifestEntries(1L)
      .filter(_.partitionValues.get("dt").contains("d1")) === d1Before,
      "untouched partition files must be re-referenced, not rewritten")
    assert(vt.history(1).head.operation.startsWith("MERGE"))
    val rows = vt.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(rows === Map(
      1L -> ("d1", 1.0), 2L -> ("d2", 20.0),
      3L -> ("d3", 3.0), 4L -> ("d4", 4.0)))
    // partition col NOT in keys, no stable assertion → full rewrite
    val w2 = Upsert.mergeIntoVersionedTable(spark,
      Seq((1L, "d1", 10.0)).toDF("id", "dt", "v"), root, Seq("id"))
    assert(w2 === 4, "unsafe pruning must fall back to full rewrite")
    assert(vt.read().count() === 4)
    // time travel still sees the pre-merge snapshot
    assert(vt.readVersion(0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap ===
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("filterIncremental honors watermark and initial load date") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2023-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2023-02-01 00:00:00"))).toDF("id", "ts")
    val wm = java.sql.Timestamp.valueOf("2023-01-15 00:00:00")
    assert(Incremental.filterIncremental(df, "ts", Some(wm)).count() === 1)
    assert(Incremental.filterIncremental(df, "ts", None,
      Some("2023-01-01")).count() === 2)
    assert(Incremental.filterIncremental(df, "missing_col", Some(wm)).count() === 2)
  }
}

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("write/read/time-travel/restore/history/vacuum") {
    val root = Fixtures.tempDir("graft-vt") + "/tbl"
    val vt = new VersionedTable(spark, root)
    assert(!vt.exists)

    val v0 = vt.write(Seq((1, "a")).toDF("id", "s"))
    val v1 = vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append)
    assert((v0, v1) === (0L, 1L))
    assert(vt.read().count() === 2)
    assert(vt.readVersion(0).count() === 1) // S4 time travel

    vt.restore(0) // M5
    assert(vt.read().count() === 1)

    val hist = vt.history() // M4
    assert(hist.length === 3)
    assert(hist.head.operation.startsWith("RESTORE"))

    vt.write(Seq((3, "c")).toDF("id", "s")) // v2 from restored v0
    val deleted = vt.vacuum(retainVersions = 1) // M3
    assert(deleted.nonEmpty)
    assert(vt.read().count() === 1) // current version survives vacuum
  }

  test("optimistic concurrency: racing appends all commit, none lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = Fixtures.tempDir("graft-vt-conc") + "/tbl"
    new VersionedTable(spark, root).write(Seq((0, "base")).toDF("id", "s"))
    val writers = (1 to 6).map(i => Future {
      new VersionedTable(spark, root)
        .write(Seq((i, s"w$i")).toDF("id", "s"), SaveMode.Append)
    })
    val versions = Await.result(Future.sequence(writers), 180.seconds)
    // every append rebased onto the winner and committed a distinct version
    assert(versions.sorted === (1L to 6L))
    val vt = new VersionedTable(spark, root)
    assert(vt.currentVersion === Some(6L))
    assert(vt.read().select("id").collect().map(_.getInt(0)).sorted.toSeq
      === (0 to 6))
    // every intermediate snapshot is a consistent prefix of the appends
    (1L to 6L).foreach(v => assert(vt.readVersion(v).count() === v + 1))
  }

  test("optimistic concurrency: overwrite never rebases; replaceWhere detects lost updates") {
    val root = Fixtures.tempDir("graft-vt-conc2") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq(("d1", 1), ("d2", 2)).toDF("dt", "v"),
      partitionBy = Some(Seq("dt"))) // v0
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    // a racing writer's in-flight CLAIM (zero-byte manifest) on the
    // next version: an overwrite must fail with the typed conflict —
    // never rebase past a commit it didn't read
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val claim = new org.apache.hadoop.fs.Path(mdir, "v00000001.txt")
    fs.create(claim, true).close()
    assert(vt.currentVersion === Some(0L), "a claim is not a commit")
    val e = intercept[graft.io.VersionConflictException] {
      vt.write(Seq(("d9", 9)).toDF("dt", "v"))
    }
    assert(e.getMessage.contains("conflict"))
    // ...but a claim whose writer CRASHED (old mtime, never filled) is
    // reclaimed by the next writer instead of wedging the version
    fs.setTimes(claim, System.currentTimeMillis()
      - graft.io.VersionedTable.claimGraceMs - 60000L, -1)
    assert(vt.write(Seq(("d1", 1), ("d2", 2)).toDF("dt", "v"),
      partitionBy = Some(Seq("dt"))) === 1L)

    // replaceWhere racing an append into a KEPT partition: rebases and
    // keeps both (the keep-closure side effect injects the race
    // deterministically between the base read and the commit)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val v = vt.replaceWhere(
      Seq(("d1", 10)).toDF("dt", "v"),
      keep = { e =>
        if (fired.compareAndSet(false, true))
          new VersionedTable(spark, root).write(
            Seq(("d2", 22)).toDF("dt", "v"), SaveMode.Append)
        !e.partitionValues.get("dt").contains("d1")
      },
      operation = "REPLACE d1")
    assert(v === 3L, "replaceWhere must rebase past the racing append")
    val rows = vt.read().select("v", "dt").collect()
      .map(r => r.getInt(0) -> r.getString(1))
    assert(rows.sorted.toSeq === Seq(2 -> "d2", 10 -> "d1", 22 -> "d2"),
      s"both the racing append and the rewrite must survive: ${rows.toSeq}")

    // racing an append into a REPLACED partition: the rewrite never saw
    // those rows — must fail loudly instead of dropping them
    val fired2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lost = intercept[RuntimeException] {
      vt.replaceWhere(
        Seq(("d1", 100)).toDF("dt", "v"),
        keep = { e =>
          if (fired2.compareAndSet(false, true))
            new VersionedTable(spark, root).write(
              Seq(("d1", 111)).toDF("dt", "v"), SaveMode.Append)
          !e.partitionValues.get("dt").contains("d1")
        },
        operation = "REPLACE d1 again")
    }
    assert(lost.getMessage.contains("re-run the rewrite"),
      s"expected lost-update refusal, got: ${lost.getMessage}")
    // the racing append's row is intact
    assert(vt.read().filter("v = 111").count() === 1)
  }

  test("DELETE: partition drops are metadata-only; row deletes rewrite candidates only") {
    val root = Fixtures.tempDir("graft-vt-del") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq(("d1", 1), ("d1", 2), ("d2", 3), ("d3", 4)).toDF("dt", "v"),
      partitionBy = Some(Seq("dt"))) // v0
    val v0files = vt.manifestEntries(0L).map(_.relPath).toSet
    assert(vt.deletePartitionIn("dt", Set("d2")) === 1L)
    // metadata-only: the new manifest is a strict subset — zero files
    // written, read, or moved
    val v1files = vt.manifestEntries(1L).map(_.relPath).toSet
    assert(v1files.subsetOf(v0files) && v1files.size < v0files.size)
    assert(vt.read().select("v").collect().map(_.getInt(0)).sorted.toSeq
      === Seq(1, 2, 4))
    assert(vt.readVersion(0L).count() === 4, "prior version keeps the rows")
    assert(vt.history(1).head.operation.startsWith("DELETE dt IN"))

    // row-level delete on disjoint-range files: only the candidate
    // file is rewritten, the rest re-referenced byte-identically
    val root2 = Fixtures.tempDir("graft-vt-del2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    def slab(r: Range) = r.map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .coalesce(1)
    vt2.write(slab(0 until 10))
    vt2.write(slab(10 until 20), SaveMode.Append)
    vt2.write(slab(20 until 30), SaveMode.Append)
    val before = vt2.manifestEntries(2L)
    assert(vt2.deleteBetween("id", 12, 14) === 3L)
    val after = vt2.manifestEntries(3L).map(_.relPath).toSet
    val untouched = before.filter(e =>
      e.stats("id")._2 < 12 || e.stats("id")._1 > 14).map(_.relPath).toSet
    val candidate = before.map(_.relPath).toSet -- untouched
    assert(untouched.size === 2 && untouched.subsetOf(after),
      "provably-unaffected files must be re-referenced, not rewritten")
    assert((after & candidate).isEmpty, "the candidate file must be replaced")
    assert(vt2.read().count() === 27)
    assert(vt2.read().filter("id between 12 and 14").count() === 0)
    assert(vt2.readVersion(2L).count() === 30)
    // provably nothing to delete: no new version committed
    assert(vt2.deleteBetween("id", 1000, 2000) === 3L)
    assert(vt2.currentVersion === Some(3L))
  }

  test("UPDATE: rewrites candidate files only, others re-referenced") {
    import org.apache.spark.sql.functions.lit
    val root = Fixtures.tempDir("graft-vt-upd") + "/tbl"
    val vt = new VersionedTable(spark, root)
    def slab(r: Range) = r.map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .coalesce(1)
    vt.write(slab(0 until 10))
    vt.write(slab(10 until 20), SaveMode.Append)
    vt.write(slab(20 until 30), SaveMode.Append)
    val before = vt.manifestEntries(2L)
    assert(vt.updateBetween("id", 12, 14,
      Map("name" -> lit("redacted"))) === 3L)
    val after = vt.manifestEntries(3L).map(_.relPath).toSet
    val untouched = before.filter(e =>
      e.stats("id")._2 < 12 || e.stats("id")._1 > 14).map(_.relPath).toSet
    assert(untouched.size === 2 && untouched.subsetOf(after))
    val byId = vt.read().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.size === 30)
    (0L until 30L).foreach { i =>
      assert(byId(i) === (if (i >= 12 && i <= 14) "redacted" else s"n$i"))
    }
    assert(vt.readVersion(2L).filter("name = 'redacted'").count() === 0)
    // provably-nothing and partition-column guard
    assert(vt.updateBetween("id", 1000, 2000,
      Map("name" -> lit("x"))) === 3L)
    intercept[IllegalArgumentException] {
      val proot = Fixtures.tempDir("graft-vt-upd2") + "/tbl"
      val pvt = new VersionedTable(spark, proot)
      pvt.write(Seq(("d1", 1L)).toDF("dt", "id"),
        partitionBy = Some(Seq("dt")))
      pvt.updateBetween("id", 0, 9, Map("dt" -> lit("d2")))
    }
  }

  test("typed pruning: timestamp/date/string ranges prune files via manifests") {
    val root = Fixtures.tempDir("graft-vt-typed") + "/tbl"
    val vt = new VersionedTable(spark, root)
    def day(d: Int) = Seq((d,
      java.sql.Timestamp.from(java.time.Instant.parse(f"2023-01-0${d}T12:00:00Z")),
      java.sql.Date.valueOf(f"2023-01-0$d"),
      f"2023-01-0$d")).toDF("id", "ts", "dt", "s")
    vt.write(day(1).coalesce(1))
    vt.write(day(2).coalesce(1), SaveMode.Append)
    vt.write(day(3).coalesce(1), SaveMode.Append)
    assert(vt.read().inputFiles.length === 3)

    // the watermark shape: a timestamp range in ISO form — no manual
    // micros conversion anywhere in the call
    val byTs = vt.readMatching(VersionedTable.TsRange("ts",
      "2023-01-02T00:00:00Z", "2023-01-02T23:59:59Z"))
    assert(byTs.inputFiles.length === 1,
      s"timestamp range must prune to one file, planned: ${byTs.inputFiles.toSeq}")
    assert(byTs.select("id").collect().map(_.getInt(0)).toSeq === Seq(2))

    val byDt = vt.readMatching(VersionedTable.DateRange("dt", "2023-01-02", "2023-01-03"))
    assert(byDt.inputFiles.length === 2)
    assert(byDt.select("id").collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3))

    val byS = vt.readMatching(VersionedTable.StrRange("s", "2023-01-03", "2023-01-09"))
    assert(byS.inputFiles.length === 1)
    assert(byS.select("id").collect().map(_.getInt(0)).toSeq === Seq(3))

    // date-PARTITIONED table: the typed read prunes whole partitions
    // from their path spelling alone (no stats involved)
    val root2 = Fixtures.tempDir("graft-vt-typed2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(day(1).union(day(2)).union(day(3)),
      partitionBy = Some(Seq("dt")))
    val all2 = vt2.read().inputFiles.length
    val pruned = vt2.readMatching(VersionedTable.DateRange("dt", "2023-01-01", "2023-01-01"))
    assert(pruned.inputFiles.length < all2)
    assert(pruned.select("id").collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("history checkpoint: one-file reads at any age; vacuum GCs dropped history") {
    val root = Fixtures.tempDir("graft-vt-hist") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val histDir = new org.apache.hadoop.fs.Path(root, "_history")
    def histFiles() = fs.listStatus(histDir).map(_.getPath.getName).sorted

    vt.write(Seq((1, "a")).toDF("id", "s")) // v0
    vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append) // v1
    // fabricate a long-lived table: 300 more commits' history files
    // (format is the on-disk contract appendHistory writes)
    (2 to 301).foreach { v =>
      val line = s"""{"version": $v, "timestamp": "2026-01-01T00:0${v % 10}:00Z", """ +
        s""""operation": "APPEND", "numRows": $v}"""
      val f = new org.apache.hadoop.fs.Path(histDir, f"v$v%08d_${v}%020d.json")
      val out = fs.create(f, false)
      try out.write(line.getBytes("UTF-8")) finally out.close()
    }
    val before = vt.history(20)
    assert(before.length === 20 && before.head.version === 301L)
    assert(histFiles().length === 302)

    vt.checkpointHistory()
    assert(histFiles() === Array("cp_v00000301.jsonl"),
      "all 302 per-commit files must fold into one checkpoint")
    assert(vt.history(20) === before, "checkpoint must not change answers")
    assert(vt.history(Int.MaxValue).length === 302)
    // newest-first match still found, now from the checkpoint
    assert(vt.lastOperationWith("APPEND").map(_.version) === Some(301L))

    // a REAL table's lifecycle: commits after a checkpoint write
    // per-commit files again, and vacuum GCs dropped versions' history
    val root2 = Fixtures.tempDir("graft-vt-hist2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    val histDir2 = new org.apache.hadoop.fs.Path(root2, "_history")
    def histFiles2() = fs.listStatus(histDir2).map(_.getPath.getName).sorted
    (0 to 3).foreach(i =>
      vt2.write(Seq((i, s"v$i")).toDF("id", "s"))) // v0..v3
    vt2.checkpointHistory()
    assert(histFiles2() === Array("cp_v00000003.jsonl"))
    vt2.restore(1) // v4, a per-commit file after the checkpoint
    assert(histFiles2().length === 2)
    assert(vt2.history(1).head.operation.startsWith("RESTORE"))
    assert(vt2.lastOperationWith("WRITE").map(_.version) === Some(3L),
      "older-than-checkpoint ops must still be findable")

    // vacuum rolls retained entries into the checkpoint and drops the
    // rest: dropped versions leave history, retained ones keep their
    // entries, and the dir is back to one checkpoint file
    val dropped = vt2.vacuum(retainVersions = 2)
    assert(dropped === Seq(0L, 1L, 2L))
    val after = vt2.history(Int.MaxValue)
    assert(after.map(_.version).sorted === Seq(3L, 4L),
      s"only retained versions may keep history: $after")
    assert(after.exists(_.operation.startsWith("RESTORE")))
    assert(histFiles2().length === 1, s"expected one checkpoint: ${histFiles2().toSeq}")
    // timestampAsOf keeps working on the compacted history
    assert(vt2.versionAsOf(java.time.Instant.now().toString) === 4L)
  }

  test("a lost _latest pointer recovers to the newest version, not v0") {
    val root = Fixtures.tempDir("graft-vt-recover") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1, "a")).toDF("id", "s"))
    vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append)
    // simulate a crash that loses the pointer file
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_latest"), false)
    assert(vt.currentVersion === Some(1L), "must recover the newest version")
    assert(vt.read().count() === 2, "snapshot must survive pointer loss")
    // and the next write continues the version sequence
    val v2 = vt.write(Seq((3, "c")).toDF("id", "s"), SaveMode.Append)
    assert(v2 === 2L && vt.read().count() === 3)
  }

  test("stale pointer resumes past the stranded commit; foreign commits absorbed") {
    val root = Fixtures.tempDir("graft-vt-stale") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    vt.write(Seq((1, "a")).toDF("id", "s")) // v0
    vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append) // v1
    // simulate a crash AFTER v1's manifest rename but BEFORE the
    // pointer swap: regress _latest to 0
    val latest = new org.apache.hadoop.fs.Path(root, "_latest")
    fs.delete(latest, false)
    val out = fs.create(latest, true)
    out.write("0".getBytes("UTF-8")); out.close()
    // the stranded v1 IS committed (its manifest exists): current
    // resumes at 1, and the next write continues at v2 instead of
    // colliding with / clobbering v1
    assert(vt.currentVersion === Some(1L))
    val v2 = vt.write(Seq((3, "c")).toDF("id", "s"), SaveMode.Append)
    assert(v2 === 2L && vt.read().count() === 3)
    // and a manifest committed by a foreign writer is simply absorbed:
    // commits are the source of truth, so the next allocation moves
    // past it (the in-write rename guard covers the residual race
    // window between version allocation and commit)
    val in2 = fs.open(new org.apache.hadoop.fs.Path(root, "_manifests/v00000002.txt"))
    val bytes2 = try in2.readAllBytes() finally in2.close()
    val o2 = fs.create(new org.apache.hadoop.fs.Path(root, "_manifests/v00000005.txt"), true)
    try o2.write(bytes2) finally o2.close()
    assert(vt.currentVersion === Some(5L))
    val v6 = vt.write(Seq((4, "d")).toDF("id", "s"), SaveMode.Append)
    assert(v6 === 6L && vt.read().count() === 4)
  }

  test("a pointer written by the checksummed path: the next commit " +
    "swaps it cleanly and leaves no stale checksum") {
    val root = Fixtures.tempDir("graft-vt-crc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1, "a")).toDF("id", "s")) // v0
    // the checksummed FileSystem writes `._latest.crc` beside the pointer
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val latest = new org.apache.hadoop.fs.Path(root, "_latest")
    val out = fs.create(latest, true)
    out.write("0".getBytes("UTF-8")); out.close()
    val crc = new java.io.File(root, "._latest.crc")
    assert(crc.exists())
    assert(vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append) === 1L)
    assert(!crc.exists(), "a stale ._latest.crc must not survive the swap")
    assert(new java.io.File(root).listFiles().forall(!_.getName.endsWith(".crc")))
    // a checksummed read of the pointer now verifies
    val in = fs.open(latest)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text === "1" && vt.read().count() === 2)
  }

  test("append is O(delta): prior version's files untouched, only new files written") {
    val root = Fixtures.tempDir("graft-vt-manifest") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // commit-attempt dirs carry a writer-unique suffix: resolve by
    // version prefix rather than pinning a literal name
    def commitSub(v: Int): String = "_data/" + fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "_data")).map(_.getPath.getName)
      .filter(_.startsWith(f"c$v%08d_")).head
    def files(sub: String): Map[String, (Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root, sub))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime))
        .toMap
    vt.write((1 to 100).toDF("id"))
    val v0Files = files(commitSub(0))
    assert(v0Files.nonEmpty)
    vt.write((101 to 110).toDF("id"), SaveMode.Append)
    // the append wrote ONLY its delta: v0's files are byte-identical
    // (same names, sizes, modification times) and v1's manifest
    // re-references them alongside the new commit's files
    assert(files(commitSub(0)) === v0Files,
      "append must not rewrite the prior version's files")
    assert(files(commitSub(1)).nonEmpty)
    assert(vt.read().count() === 110)
    assert(vt.readVersion(0).count() === 100)
    // history row counts came from footers, not a re-scan
    assert(vt.history().map(_.numRows) === Seq(110L, 100L))
    // appends with an incompatible schema fail fast instead of
    // corrupting future reads
    intercept[IllegalArgumentException] {
      vt.write(Seq(("x", 1)).toDF("s", "id"), SaveMode.Append)
    }
  }

  test("append schema evolution: new columns widen the snapshot, old files read null") {
    val root = Fixtures.tempDir("graft-vt-evolve") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1, "a")).toDF("id", "s")) // v0
    // adding a column without the flag fails fast
    intercept[IllegalArgumentException] {
      vt.write(Seq((2, "b", 9.5)).toDF("id", "s", "score"), SaveMode.Append)
    }
    // with the flag: snapshot schema widens, pre-evolution rows null-fill
    vt.write(Seq((2, "b", 9.5)).toDF("id", "s", "score"), SaveMode.Append,
      allowSchemaEvolution = true) // v1
    val rows = vt.read().orderBy("id").collect()
    assert(vt.read().columns.toSeq === Seq("id", "s", "score"))
    assert(rows(0).isNullAt(2), "pre-evolution row must read null score")
    assert(rows(1).getDouble(2) === 9.5)
    // time travel to v0 keeps the ORIGINAL schema
    assert(vt.readVersion(0).columns.toSeq === Seq("id", "s"))
    // appends may omit columns (null-filled under the snapshot schema)
    vt.write(Seq((3, "c")).toDF("id", "s"), SaveMode.Append) // v2
    val r3 = vt.read().filter("id = 3").head
    assert(r3.isNullAt(2))
    // shared-column type changes always fail — silent corruption path
    intercept[IllegalArgumentException] {
      vt.write(Seq(("x", "d")).toDF("id", "s"), SaveMode.Append,
        allowSchemaEvolution = true)
    }
    // change feed across the evolution boundary + a file-removing
    // commit: the row-level diff aligns both snapshots to the target
    // schema instead of throwing on the column-count mismatch
    val v3 = vt.compact() // rewrites every file (removed non-empty)
    val cdf = vt.changes(0L, v3).collect()
    assert(cdf.forall(_.getString(3) === "insert"), cdf.mkString(","))
    assert(cdf.map(_.getInt(0)).sorted.toSeq === Seq(2, 3),
      "rows added since v0, with pre-evolution nulls aligned")
  }

  test("timestamp time-travel, OPTIMIZE-as-version, and change feed") {
    val root = Fixtures.tempDir("graft-vt-cdf") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1 to 50).toDF("id").repartition(8)) // v0: 8 small files
    Thread.sleep(5)
    val betweenCommits = java.time.Instant.now().toString
    Thread.sleep(5)
    vt.write((51 to 60).toDF("id"), SaveMode.Append) // v1
    // --- timestampAsOf: lands on v0, not v1
    assert(vt.versionAsOf(betweenCommits) === 0L)
    assert(vt.readAsOf(betweenCommits).count() === 50)
    assert(vt.versionAsOf(java.time.Instant.now().toString) === 1L)
    intercept[RuntimeException] { vt.versionAsOf("2000-01-01T00:00:00Z") }
    // --- change feed, append-only range: file-level fast path returns
    // exactly the appended rows as inserts
    val cdf = vt.changes(0L, 1L).collect()
    assert(cdf.forall(_.getString(1) === "insert"))
    assert(cdf.map(_.getInt(0)).sorted.toSeq === (51 to 60).toSeq)
    // --- OPTIMIZE: new version, fewer files, same rows; v0/v1 intact
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val v2 = vt.compact(targetFileMB = 128)
    assert(v2 === 2L)
    assert(vt.read().count() === 60)
    val c2 = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_data"))
      .map(_.getPath).filter(_.getName.startsWith("c00000002_")).head
    assert(fs.listStatus(c2).count(_.getPath.getName.endsWith(".parquet")) < 9)
    assert(vt.readVersion(0).count() === 50, "old versions survive OPTIMIZE")
    assert(vt.history().head.operation === "OPTIMIZE")
    // compaction rewrote every file but changed no rows: the row-level
    // fallback reports an empty diff
    assert(vt.changes(1L, 2L).count() === 0)
    // overwrite range: inserts + deletes via the row-level path
    vt.write(Seq(1, 999).toDF("id")) // v3 overwrite
    val diff = vt.changes(2L, 3L).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(diff.contains((999, "insert")))
    assert(diff.count(_._2 == "delete") === 59, s"got $diff")
  }

  test("manifest stats prune files at read time (Delta-style data skipping)") {
    val root = Fixtures.tempDir("graft-vt-skip") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // three commits with disjoint id ranges -> three disjoint file sets
    vt.write(spark.range(0, 100).toDF("id").coalesce(1))
    vt.write(spark.range(100, 200).toDF("id").coalesce(1), SaveMode.Append)
    vt.write(spark.range(200, 300).toDF("id").coalesce(1), SaveMode.Append)
    assert(vt.manifestEntries(2L).forall(_.stats.contains("id")),
      "numeric column stats must be recorded in the manifest")
    val pruned = vt.readMatching(VersionedTable.NumRange("id", 120, 180))
    // only the middle commit's file survives the manifest prune
    assert(pruned.inputFiles.length === 1,
      s"expected 1 planned file, got ${pruned.inputFiles.mkString(",")}")
    assert(pruned.inputFiles.head.contains("c00000001"))
    // row-level exactness: identical to the unpruned filtered read
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === (120L to 180L))
    // fully-disjoint predicate: zero files, empty result, schema kept
    val none = vt.readMatching(VersionedTable.NumRange("id", 1000, 2000))
    assert(none.count() === 0 && none.columns.toSeq === Seq("id"))
    // conjunctive multi-column pruning: two-column table, predicates
    // that individually match different files but jointly match one
    val root2 = Fixtures.tempDir("graft-vt-skip2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(spark.range(0, 100).select(col("id"), (col("id") * 10).as("ts"))
      .coalesce(1))
    vt2.write(spark.range(100, 200).select(col("id"), (col("id") * 10).as("ts"))
      .coalesce(1), SaveMode.Append)
    val both = vt2.readMatching(VersionedTable.NumRange("id", 50.0, 150.0),
      VersionedTable.NumRange("ts", 0.0, 990.0))
    // id range spans both files, ts range only the first -> one file
    assert(both.inputFiles.length === 1, both.inputFiles.mkString(","))
    assert(both.collect().map(_.getLong(0)).sorted.toSeq === (50L to 99L))
    // NaN-poisoned column: parquet records NaN as the max, which would
    // fail every prune comparison and silently skip the file — such a
    // column's stats must be voided (conservatively read) instead
    val root3 = Fixtures.tempDir("graft-vt-skip3") + "/tbl"
    val vt3 = new VersionedTable(spark, root3)
    vt3.write(Seq(1.0, Double.NaN, 5.0).toDF("x").coalesce(1))
    assert(vt3.manifestEntries(0L).head.stats.get("x").isEmpty,
      "NaN-containing column must carry no range stats")
    assert(vt3.readMatching(VersionedTable.NumRange("x", 0, 10)).count() === 2,
      "file must still be read; only the NaN row fails the predicate")
  }

  test("changes-feed consumer: silver processes exactly the appended files") {
    import org.apache.spark.sql.functions.{col, lit, upper}
    val base = Fixtures.tempDir("graft-cdc")
    val bronze = new VersionedTable(spark, s"$base/bronze")
    val silver = new VersionedTable(spark, s"$base/silver")
    def mk(ids: Range) = ids.map(i => (i.toLong, s"name$i")).toDF("id", "name")
    def transform(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("name", upper(col("name")))

    // initial load: silver = transform(bronze@v0), cursor recorded in
    // silver's own commit history (the Delta pattern: consumer state
    // rides the sink's transaction, no side-channel files)
    bronze.write(mk(0 until 10)) // bronze v0
    silver.write(transform(bronze.read()), SaveMode.Overwrite, "CDC 0")

    // two days of appends
    bronze.write(mk(10 until 15), SaveMode.Append) // v1
    bronze.write(mk(15 until 20), SaveMode.Append) // v2

    // consumer: resume from the recorded cursor
    val cursor = silver.lastOperationWith("CDC ")
      .map(_.operation.stripPrefix("CDC ").toLong).get
    assert(cursor === 0L)
    val feed = bronze.changes(cursor, bronze.currentVersion.get)

    // the feed's scan plans EXACTLY the files v1+v2 added — never the
    // v0 base (a day of appends on a 100 TB table reads a day of files)
    val appended = bronze.manifestEntries(2L).map(_.relPath).toSet --
      bronze.manifestEntries(0L).map(_.relPath).toSet
    def tail(f: String) = f.substring(f.indexOf("_data/"))
    assert(feed.inputFiles.map(tail).toSet === appended)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("insert"))

    // silver advances by appending the transformed inserts, cursor in
    // the same commit
    silver.write(transform(feed.drop("_change_type")), SaveMode.Append,
      s"CDC ${bronze.currentVersion.get}")
    assert(silver.lastOperationWith("CDC ")
      .map(_.operation.stripPrefix("CDC ").toLong) === Some(2L))

    // incremental silver ≡ full rebuild
    val incremental = silver.read().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rebuilt = transform(bronze.read()).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(incremental === rebuilt)
    assert(incremental.size === 20 && incremental(19L) === "NAME19")

    // an empty delta (no new bronze version) feeds zero rows and files
    val idle = bronze.changes(2L, 2L)
    assert(idle.inputFiles.isEmpty && idle.count() === 0)
  }

  test("detail on a versioned root reports the current snapshot, not all versions") {
    val root = Fixtures.tempDir("graft-vt-detail") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1 to 100).toDF("id")) // v0
    val d0 = graft.io.TableIO.detail(spark, root)
    vt.write((1 to 100).toDF("id")) // v1 overwrite: same data, new files
    val d1 = graft.io.TableIO.detail(spark, root)
    // raw recursive listing would now see both versions' files
    assert(d1.numFiles === d0.numFiles,
      "detail must describe the snapshot, not every retained version")
    assert(d1.sizeInBytes === vt.manifestEntries(1L).map(_.bytes).sum)
  }

  test("vacuum GCs unreferenced files and orphan commit dirs from crashed writes") {
    val root = Fixtures.tempDir("graft-vt-gc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    vt.write(Seq((1, "a")).toDF("id", "s")) // v0
    vt.write(Seq((2, "b")).toDF("id", "s"), SaveMode.Append) // v1
    vt.write(Seq((9, "z")).toDF("id", "s")) // v2 overwrite
    // fabricate a crashed write: data dir with no manifest, at a commit
    // number <= current (can never commit later)
    def commitDirsOf(v: Int) = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "_data")).map(_.getPath)
      .filter(_.getName.startsWith(f"c$v%08d_")).toSeq
    val orphan = new org.apache.hadoop.fs.Path(root, "_data/c00000001x")
    val realOrphans = commitDirsOf(0) ++ commitDirsOf(1)
    fs.mkdirs(orphan) // not a commit-dir name: must be left alone
    val dropped = vt.vacuum(retainVersions = 1, orphanGraceMs = 0L) // keep v2 only
    assert(dropped === Seq(0L, 1L))
    // v0+v1's files (commit dirs c0, c1) are unreferenced by v2 → gone
    assert(realOrphans.nonEmpty && realOrphans.forall(!fs.exists(_)),
      "unreferenced commit dirs must be GC'd")
    assert(fs.exists(orphan), "non-commit dirs must not be touched")
    assert(vt.read().collect().map(_.getInt(0)).toSeq === Seq(9))
    // restore shares files with the restored version: vacuum after a
    // restore must keep the shared files alive
    val root2 = Fixtures.tempDir("graft-vt-gc2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(Seq((1, "a")).toDF("id", "s")) // v0
    vt2.write(Seq((2, "b")).toDF("id", "s")) // v1 overwrite
    vt2.restore(0) // v2 = v0's manifest, shares c0's files
    vt2.vacuum(retainVersions = 1, orphanGraceMs = 0L) // drops v0, v1; v2 still needs c0
    assert(vt2.read().collect().map(_.getInt(0)).toSeq === Seq(1),
      "restore-shared files must survive vacuum of the original version")
  }

  test("compactWhere: only the selected partitions rewrite; the rest " +
    "survive byte-identically, masks purge, rows exact") {
    val root = Fixtures.tempDir("graft-vt-optwhere") + "/tbl"
    val vt = new VersionedTable(spark, root)
    def frame(ids: Range) = ids.map(i => (i.toLong, (i % 3).toString))
      .toDF("id", "p").repartition(4)
    vt.write(frame(0 until 90), partitionBy = Some(Seq("p")))
    vt.write(frame(90 until 180), SaveMode.Append)
    vt.deleteVectorizedWhere(
      VersionedTable.NumRange("id", 10.0, 40.0).condition) // masks across partitions
    val before = vt.manifestEntries(vt.currentVersion.get)
    def paths(es: Seq[graft.io.ManifestEntry], p: String) =
      es.filter(_.partitionValues.get("p").contains(p)).map(_.relPath).toSet
    val v = vt.compactWhere("p", Set("1"), targetFileMB = 128)
    val after = vt.manifestEntries(v)
    // untouched partitions: identical entries (same relPaths, same DVs)
    assert(paths(after, "0") === paths(before, "0"))
    assert(paths(after, "2") === paths(before, "2"))
    // selected partition: rewritten (fresh paths), masks purged
    assert(paths(after, "1").intersect(paths(before, "1")).isEmpty)
    assert(after.filter(_.partitionValues.get("p").contains("1"))
      .forall(_.dvDir.isEmpty), "rewrite must purge the selected DVs")
    // rows exact: everything minus the deleted range
    assert(vt.read().select("id").as[Long].collect().sorted.toSeq ===
      (0L until 180L).filterNot(i => i >= 10 && i <= 40))
    // no matching partition -> same version back
    assert(vt.compactWhere("p", Set("nope")) === v)
    intercept[IllegalArgumentException](
      vt.compactWhere("id", Set("1")))
  }

  test("time-based vacuum: commit ts older than the horizon drops, " +
    "newer keeps, current always survives (injected clock)") {
    val root = Fixtures.tempDir("graft-vt-hours") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a")).toDF("id", "v")) // v0
    vt.write(Seq((2L, "b")).toDF("id", "v"), SaveMode.Append) // v1
    vt.write(Seq((3L, "c")).toDF("id", "v"), SaveMode.Append) // v2
    val hist = vt.history()
    def tsOf(v: Long) = java.time.Instant
      .parse(hist.find(_.version == v).get.timestamp).toEpochMilli
    assert(tsOf(1L) < tsOf(2L), "commit instants must be distinct")
    // clock pinned so the horizon falls exactly ON v2's commit:
    // v2 (ts >= cutoff) kept, v0/v1 (strictly older) dropped
    val retainH = 2.0
    val dropped = vt.vacuumRetainHours(retainH, orphanGraceMs = 0L,
      nowMs = tsOf(2L) + (retainH * 3600000).toLong)
    assert(dropped.toSet === Set(0L, 1L))
    assert(vt.committedVersions === Seq(2L))
    assert(vt.read().count() === 3, "current snapshot intact")
    // the current version NEVER drops, however old
    val dropped2 = vt.vacuumRetainHours(0.001, orphanGraceMs = 0L,
      nowMs = tsOf(2L) + 86400000L)
    assert(dropped2.isEmpty)
    assert(vt.read().count() === 3)
  }

  test("partitioned table: metadata inheritance + manifest partition pruning") {
    val root = Fixtures.tempDir("graft-vt-part") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "2023-01-01", 1.0), (2L, "2023-01-02", 2.0))
      .toDF("id", "dt", "v"), partitionBy = Some(Seq("dt")))
    assert(vt.partitionColumns === Seq("dt"))
    // append passes NO partitionBy -> inherits, files land in dt= dirs
    vt.write(Seq((3L, "2023-01-03", 3.0)).toDF("id", "dt", "v"),
      SaveMode.Append)
    assert(vt.manifestEntries(1L).forall(_.relPath.contains("dt=")),
      "appended files must be hive-partitioned under the inherited column")
    // partition values parse back as a real column on read
    assert(vt.read().filter(col("dt") === "2023-01-02").count() === 1)
    // string-equality partition pruning: ONE file planned, not three
    val one = vt.readMatching(VersionedTable.PartitionEq("dt", "2023-01-02"))
    assert(one.inputFiles.length === 1, one.inputFiles.mkString(","))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // no match: zero files, schema preserved
    val none = vt.readMatching(VersionedTable.PartitionEq("dt", "2024-12-31"))
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "dt", "v"))
    // Catalyst-level pruning through the manifest FileIndex: a plain
    // filter on the partition column must scan ONE file, no manifest API
    val planPruned = vt.read().filter(col("dt") === "2023-01-03")
    val scan = planPruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(planPruned.collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(scan.metrics("numFiles").value === 1,
      "pushed partition filter must prune at FileIndex.listFiles")
    // append may not CHANGE the partitioning
    intercept[IllegalArgumentException] {
      vt.write(Seq((4L, "2023-01-04", 4.0, "x")).toDF("id", "dt", "v", "k"),
        SaveMode.Append, partitionBy = Some(Seq("k")))
    }
    // Overwrite with Some(Seq.empty) explicitly CLEARS the partitioning
    vt.write(Seq((9L, "2023-02-01", 9.0)).toDF("id", "dt", "v"),
      partitionBy = Some(Seq.empty))
    assert(vt.partitionColumns.isEmpty, "Some(Seq.empty) must clear")
    assert(vt.manifestEntries(vt.currentVersion.get)
      .forall(!_.relPath.contains("=")))

    // numeric partition column: NumRange pruning applies to it
    val root2 = Fixtures.tempDir("graft-vt-part2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "p"),
      partitionBy = Some(Seq("p")))
    val mid = vt2.readMatching(VersionedTable.NumRange("p", 15.0, 25.0))
    assert(mid.inputFiles.length === 1, mid.inputFiles.mkString(","))
    assert(mid.collect().map(_.getLong(0)).toSeq === Seq(2L))

    // versioned writeTable finally honors partitionBy (was silently dropped)
    val root3 = Fixtures.tempDir("graft-vt-part3") + "/tbl"
    graft.io.TableIO.writeTable(spark,
      Seq((1L, "a")).toDF("id", "grp"), root3, SaveMode.Overwrite,
      partitionBy = Some("grp"), versioned = true)
    assert(new VersionedTable(spark, root3).partitionColumns === Seq("grp"))
  }

  test("readMatching: partition equality AND typed stats range prune in ONE call") {
    // the unified-predicate read (Delta-style conjunctive pushdown):
    // a file in the right partition but the wrong timestamp range is
    // pruned, and vice versa — the intersection plans exactly 1 file
    val root = Fixtures.tempDir("graft-vt-unified") + "/tbl"
    val vt = new VersionedTable(spark, root)
    def frame(id: Long, dt: String, ts: String) =
      Seq((id, dt, ts)).toDF("id", "dt", "ts0")
        .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    vt.write(frame(1L, "2023-01-01", "2023-01-01 01:00:00"),
      partitionBy = Some(Seq("dt")))
    vt.write(frame(2L, "2023-01-01", "2023-01-01 23:00:00"), SaveMode.Append)
    vt.write(frame(3L, "2023-01-02", "2023-01-01 01:30:00"), SaveMode.Append)
    vt.write(frame(4L, "2023-01-02", "2023-01-01 23:30:00"), SaveMode.Append)
    assert(vt.read().inputFiles.length === 4)
    import graft.io.VersionedTable.{PartitionEq, TsRange}
    // each conjunct alone admits 2 files ...
    assert(vt.readMatching(PartitionEq("dt", "2023-01-01"))
      .inputFiles.length === 2)
    assert(vt.readMatching(
      TsRange("ts", "2023-01-01T00:00:00Z", "2023-01-01T12:00:00Z"))
      .inputFiles.length === 2)
    // ... their conjunction plans exactly one
    val both = vt.readMatching(PartitionEq("dt", "2023-01-01"),
      TsRange("ts", "2023-01-01T00:00:00Z", "2023-01-01T12:00:00Z"))
    assert(both.inputFiles.length === 1, both.inputFiles.mkString(","))
    assert(both.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // no-match conjunction: zero files, schema intact
    val none = vt.readMatching(PartitionEq("dt", "2024-12-31"),
      TsRange("ts", "2023-01-01T00:00:00Z", "2023-01-01T12:00:00Z"))
    assert(none.count() === 0 && none.columns.length === 3)
  }

  test("ManifestEntry.partitionValues: hive escaping and default partition") {
    val e = graft.io.ManifestEntry(
      "_data/c00000000_ab12cd34/dt=2023-01-01/part-0.parquet", 1L, 1L)
    assert(e.partitionValues === Map("dt" -> "2023-01-01"))
    // multi-level + %-escaped value (hive escapes ':' as %3A)
    val e2 = graft.io.ManifestEntry(
      "_data/c00000001_ab12cd34/a=x%3Ay/b=2/part-0.parquet", 1L, 1L)
    assert(e2.partitionValues === Map("a" -> "x:y", "b" -> "2"))
    // null partition value: omitted -> pruning conservatively reads
    val e3 = graft.io.ManifestEntry(
      "_data/c00000002_ab12cd34/dt=__HIVE_DEFAULT_PARTITION__/part-0.parquet",
      1L, 1L)
    assert(e3.partitionValues === Map.empty)
    // unpartitioned path has none; malformed escape passes through
    assert(graft.io.ManifestEntry("_data/c00000003_ab12cd34/part-0.parquet",
      1L, 1L).partitionValues === Map.empty)
    assert(graft.io.ManifestEntry.unescapePathName("a%zzb") === "a%zzb")
  }
}

class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact reduces many small files to few") {
    val path = Fixtures.tempDir("graft-compact") + "/t"
    (1 to 1000).toDF("n").repartition(16)
      .write.mode("overwrite").parquet(path)
    val (before, after) = Maintenance.compact(spark, path, targetFileMB = 128)
    assert(before === 16)
    assert(after < before)
    assert(spark.read.parquet(path).count() === 1000)
  }

  test("raw compact swap is crash-recoverable (marker-gated, like merge)") {
    import org.apache.hadoop.fs.Path
    val base = Fixtures.tempDir("graft-compact-crash")
    val path = base + "/t"
    def freshTable(): Unit = (1 to 100).toDF("n").repartition(4)
      .write.mode("overwrite").parquet(path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(base, "_t__compact_tmp")
    val marker = new Path(tmp, "_GRAFT_REWRITE_COMPLETE")

    // crash DURING the tmp write (no marker), target intact:
    // the partial tmp must be discarded, compaction proceeds normally
    freshTable()
    fs.mkdirs(tmp) // arbitrary partial garbage
    val (_, after1) = Maintenance.compact(spark, path)
    assert(after1 === 1 && !fs.exists(tmp))
    assert(spark.read.parquet(path).count() === 100)

    // crash BETWEEN delete and rename (marker present, target gone):
    // the tmp IS the table — recovery finishes the rename
    freshTable()
    val saved = new Path(base, "_t__saved")
    assert(fs.rename(p, saved)) // simulate: tmp fully written ...
    assert(fs.rename(saved, tmp))
    fs.create(marker, true).close() // ... marker committed ...
    assert(!fs.exists(p)) // ... then crash after the target delete
    val (_, after2) = Maintenance.compact(spark, path)
    assert(after2 === 1 && spark.read.parquet(path).count() === 100)
    assert(!fs.exists(tmp) && !fs.exists(new Path(p, "_GRAFT_REWRITE_COMPLETE")))

    // unreachable state (target gone, tmp unmarked) fails loudly
    assert(fs.rename(p, tmp))
    fs.delete(marker, false)
    val ex = intercept[RuntimeException] { Maintenance.compact(spark, path) }
    assert(ex.getMessage.contains("unrecoverable"), ex.getMessage)
  }

  test("partition-scoped compact rewrites only matching partitions") {
    val path = Fixtures.tempDir("graft-compact-part") + "/t"
    Seq.tabulate(400)(i => (if (i % 2 == 0) "2023-01-01" else "2023-01-02", i))
      .toDF("dt", "v").repartition(8)
      .write.mode("overwrite").partitionBy("dt").parquet(path)
    def listing(part: String): Map[String, Long] = {
      val dir = new java.io.File(s"$path/dt=$part")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouchedBefore = listing("2023-01-02")
    val targetBefore = listing("2023-01-01")
    val (before, after) =
      Maintenance.compact(spark, path, where = Some("dt = '2023-01-01'"))
    assert(after < before, s"expected fewer files, got $before -> $after")
    // the untouched partition keeps its files byte-for-byte
    assert(listing("2023-01-02") === untouchedBefore)
    // the matching partition was rewritten (different file set)
    assert(listing("2023-01-01").keySet !== targetBefore.keySet)
    assert(listing("2023-01-01").size === 1)
    // data intact, partition column included
    val d = spark.read.parquet(path)
    assert(d.count() === 400)
    assert(d.filter(col("dt") === "2023-01-01").count() === 200)
  }

  test("versioned maintenance: compact/zorder commit versions, no swap window") {
    import org.apache.spark.sql.SaveMode
    val root = Fixtures.tempDir("graft-maint-vt") + "/tbl"
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(Seq.tabulate(400)(i =>
        (if (i % 2 == 0) "2023-01-01" else "2023-01-02", i, i * 2))
      .toDF("dt", "x", "y").repartition(8),
      partitionBy = Some(Seq("dt"))) // v0: 8 files per partition
    val v0Files = vt.manifestEntries(0L).map(_.relPath)

    // whole-table compact through the CLI entry -> a new version
    val (before, after) = Maintenance.compact(spark, root, targetFileMB = 128)
    assert(vt.currentVersion === Some(1L) && after < before)
    assert(vt.history(1).head.operation === "OPTIMIZE")
    // old version fully readable after the rewrite (no delete window)
    assert(vt.readVersion(0L).count() === 400)

    // partition-scoped compact: one replaceWhere commit; the untouched
    // partition's files are re-referenced BYTE-IDENTICALLY (same
    // manifest entries), not rewritten
    vt.restore(0L) // v2 = v0's file set, 8 files/partition again
    Maintenance.compact(spark, root, where = Some("dt = '2023-01-01'"))
    assert(vt.currentVersion === Some(3L))
    val v3 = vt.manifestEntries(3L)
    val untouched = v3.filter(_.partitionValues.get("dt").contains("2023-01-02"))
    assert(untouched.map(_.relPath).toSet
      === v0Files.filter(_.contains("dt=2023-01-02")).toSet,
      "untouched partition must keep v0's exact files")
    val rewritten = v3.filter(_.partitionValues.get("dt").contains("2023-01-01"))
    assert(rewritten.nonEmpty && rewritten.size < 8)
    assert(rewritten.forall(e => !v0Files.contains(e.relPath)))
    assert(vt.read().count() === 400)
    assert(vt.readWherePartitionIn("dt", Set("2023-01-01")).count() === 200)

    // clustering rewrite commits a version too (and survives time travel)
    Maintenance.zOrderBy(spark, root, Seq("x", "y"), bitsPerDim = 4)
    assert(vt.currentVersion === Some(4L))
    assert(vt.history(1).head.operation.startsWith("OPTIMIZE ZORDER"))
    assert(vt.read().count() === 400)
    assert(vt.readVersion(3L).count() === 400, "pre-zorder version intact")
  }

  test("zOrderBy clusters DATE columns (temporal ordinals, not a null cast)") {
    val path = Fixtures.tempDir("graft-zdate") + "/t"
    val df = (0 until 20000).toDF("i").select(
      date_add(lit(java.sql.Date.valueOf("2023-01-01")),
        pmod(xxhash64(col("i")), lit(256L)).cast("int")).as("d"),
      pmod(xxhash64(col("i") + 7L), lit(10000L)).as("v"))
    df.write.parquet(path)
    Maintenance.zOrderBy(spark, path, Seq("d", "v"), bitsPerDim = 4,
      numPartitions = Some(8))
    val out = spark.read.parquet(path)
    assert(out.count() === 20000)
    // clustering actually happened: per-file date spans are a fraction
    // of the global 256-day span (a null-cast bucket would leave files
    // spanning everything)
    val spans = out.groupBy(input_file_name())
      .agg((datediff(max("d"), min("d")) + 1).as("span"))
      .collect().map(_.getInt(1))
    assert(spans.length >= 4)
    assert(spans.sum.toDouble / spans.length < 200,
      s"per-file date spans not narrowed: ${spans.toSeq}")
  }

  test("locality evidence: hilbert reads no more files than z-order on 2-D ranges") {
    // the SCALE.md measurement: average files whose [min,max] box
    // intersects a 1%-selectivity square query, same data, same file
    // count, the two curves head-to-head (deterministic input)
    val base = Fixtures.tempDir("graft-locality")
    val df = (0 until 200000).toDF("i").select(
      pmod(xxhash64(col("i")), lit(10000L)).as("x"),
      pmod(xxhash64(col("i") + 1000000L), lit(10000L)).as("y"))
    def avgFilesRead(path: String): Double = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val queries = for { qx <- 0 until 10; qy <- 0 until 10 }
        yield (qx * 1000L, qx * 1000L + 999L, qy * 1000L, qy * 1000L + 999L)
      queries.map { case (lox, hix, loy, hiy) =>
        stats.count(f => f._2 >= lox && f._1 <= hix && f._4 >= loy && f._3 <= hiy)
      }.sum.toDouble / queries.size
    }
    val (zp, hp) = (s"$base/z", s"$base/h")
    df.write.parquet(zp)
    df.write.parquet(hp)
    Maintenance.zOrderBy(spark, zp, Seq("x", "y"), bitsPerDim = 8,
      numPartitions = Some(64))
    Maintenance.hilbertOrderBy(spark, hp, Seq("x", "y"), bitsPerDim = 8,
      numPartitions = Some(64))
    val (zf, hf) = (avgFilesRead(zp), avgFilesRead(hp))
    info(f"avg files intersecting a 1%% 2-D range (of 64): z=$zf%.2f hilbert=$hf%.2f")
    assert(hf <= zf * 1.05,
      f"hilbert locality regressed vs z-order: $hf%.2f vs $zf%.2f files")
  }

  test("Maintain CLI round-trip: compact/detail on parquet, vacuum/history/restore on versioned") {
    // parquet-table commands
    val path = Fixtures.tempDir("graft-maintain") + "/t"
    (1 to 500).toDF("n").repartition(8).write.mode("overwrite").parquet(path)
    val out = Maintain.run(spark, "compact", Map("path" -> path))
    assert(out.contains("files 8 ->"), out)
    assert(Maintain.run(spark, "detail", Map("path" -> path))
      .contains("numFiles="))
    Maintain.run(spark, "sortby", Map("path" -> path, "cols" -> "n"))
    assert(spark.read.parquet(path).count() === 500)
    // versioned-table commands
    val vroot = Fixtures.tempDir("graft-maintain-vt") + "/tbl"
    val vt = new graft.io.VersionedTable(spark, vroot)
    vt.write(Seq((1, "a")).toDF("id", "s"))
    vt.write(Seq((2, "b")).toDF("id", "s"), org.apache.spark.sql.SaveMode.Append)
    val hist = Maintain.run(spark, "history", Map("path" -> vroot))
    assert(hist.linesIterator.size === 2, hist)
    assert(Maintain.run(spark, "restore",
      Map("path" -> vroot, "version" -> "0")).contains("now at v0"))
    assert(vt.read().count() === 1)
    assert(Maintain.run(spark, "optimize", Map("path" -> vroot))
      .contains("committed as v"))
    val vac = Maintain.run(spark, "vacuum",
      Map("path" -> vroot, "retain" -> "1"))
    assert(vac.startsWith("vacuum"), vac)
    intercept[RuntimeException] {
      Maintain.run(spark, "frobnicate", Map("path" -> path))
    }
  }

  test("ZValue: exact bit interleave, upper-inclusive edges, null sorts first") {
    // 2 dims x 2 bits: edges (1,2,3) per dim → buckets 0..3
    val edges = Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))
    def z(x: java.lang.Double, y: java.lang.Double): Long =
      Seq((x, y)).toDF("x", "y").select(graft.functions.ZValue.zvalue(
        Seq(col("x").cast("double"), col("y").cast("double")), edges).as("z"))
        .head.getLong(0)
    // x=3.5 → bucket 3 (bits at positions 0,2); y=0.5 → bucket 0
    assert(z(3.5, 0.5) === 5L) // 0b0101
    assert(z(0.5, 3.5) === 10L) // 0b1010
    // edge values are upper-inclusive: 1.0 stays in bucket 0
    assert(z(1.0, 1.0) === 0L)
    assert(z(1.5, 1.5) === 3L) // bucket 1 each → 0b0011
    // null buckets to 0 (sorts first), never throws
    assert(z(null, 3.5) === 10L)
  }

  test("HilbertValue: exhaustive adjacency — consecutive indices are unit steps") {
    // 3 bits x 2 dims = the full 8x8 grid; the DEFINING Hilbert
    // property is that the curve visits all 64 cells moving only
    // between Manhattan-adjacent cells. This pins the Skilling
    // transform without trusting any particular orientation choice.
    val edges = (1 until 8).map(_.toDouble)
    val cells = for (x <- 0 until 8; y <- 0 until 8) yield (x + 0.5, y + 0.5)
    val rows = cells.toDF("x", "y")
      .select(col("x"), col("y"), graft.functions.HilbertValue.hilbert(
        Seq(col("x"), col("y")), Seq(edges, edges)).as("h"))
      .collect().map(r => (r.getLong(2), (r.getDouble(0), r.getDouble(1))))
    assert(rows.map(_._1).sorted.toSeq === (0L until 64L),
      "index must be a bijection onto 0..63")
    val ordered = rows.sortBy(_._1).map(_._2).toSeq
    ordered.zip(ordered.tail).foreach { case ((x1, y1), (x2, y2)) =>
      val dist = math.abs(x1 - x2) + math.abs(y1 - y2)
      assert(dist === 1.0,
        s"non-adjacent step ($x1,$y1)->($x2,$y2) in the curve")
    }
  }

  test("hilbertOrderBy: narrow per-file ranges on BOTH dimensions") {
    val path = Fixtures.tempDir("graft-hilbert") + "/t"
    spark.range(4096).select(
      (col("id") % 64).cast("int").as("x"),
      (col("id") / 64).cast("int").as("y"))
      .repartition(4).write.parquet(path)
    Maintenance.hilbertOrderBy(spark, path, Seq("x", "y"),
      bitsPerDim = 6, numPartitions = Some(16))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min("x"), max("x"), min("y"), max("y")).head
      ((r.getInt(1) - r.getInt(0)) / 63.0,
        (r.getInt(3) - r.getInt(2)) / 63.0)
    }
    val avgX = ranges.map(_._1).sum / ranges.length
    val avgY = ranges.map(_._2).sum / ranges.length
    assert(avgX < 0.6, s"avg x range $avgX")
    assert(avgY < 0.6, s"avg y range $avgY")
    assert(spark.read.parquet(path).count() === 4096)
  }

  test("zOrderBy: narrow per-file ranges on BOTH dimensions") {
    val path = Fixtures.tempDir("graft-zorder") + "/t"
    // 64x64 grid: x and y independent, both uniform on 0..63
    spark.range(4096).select(
      (col("id") % 64).cast("int").as("x"),
      (col("id") / 64).cast("int").as("y"))
      .repartition(4).write.parquet(path)
    Maintenance.zOrderBy(spark, path, Seq("x", "y"),
      bitsPerDim = 6, numPartitions = Some(16))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(files.length > 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString)
        .agg(min("x"), max("x"), min("y"), max("y")).head
      ((r.getInt(1) - r.getInt(0)) / 63.0,
        (r.getInt(3) - r.getInt(2)) / 63.0)
    }
    val avgX = ranges.map(_._1).sum / ranges.length
    val avgY = ranges.map(_._2).sum / ranges.length
    // the whole point vs sortBy: BOTH dims narrow per file (a plain
    // sort by x leaves y's per-file range ~1.0)
    assert(avgX < 0.6, s"avg x range $avgX")
    assert(avgY < 0.6, s"avg y range $avgY")
    assert(spark.read.parquet(path).count() === 4096)
  }

  test("sortBy rewrites clustered by column (row-group skipping layout)") {
    val path = Fixtures.tempDir("graft-sort") + "/t"
    (1 to 1000).map(i => (i % 50, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(path)
    Maintenance.sortBy(spark, path, Seq("k"), numPartitions = Some(4))
    val df = spark.read.parquet(path)
    assert(df.count() === 1000)
    // within each output file, k must be non-decreasing
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name())
      .orderBy(monotonically_increasing_id())
    val violations = df
      .withColumn("prev", lag("k", 1).over(w))
      .filter(col("prev") > col("k")).count()
    assert(violations === 0)
  }
}

class DagSpec extends AnyFunSuite {

  test("topological order respects dependencies; fail-stop halts downstream") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val dag = new Dag("test")
    dag.addTask(new Task("gold", () => ran += "gold", Seq("silver")))
    dag.addTask(new Task("bronze", () => ran += "bronze"))
    dag.addTask(new Task("silver", () => ran += "silver", Seq("bronze")))
    val summary = dag.execute()
    assert(ran.toSeq === Seq("bronze", "silver", "gold"))
    assert(summary.status === "success")
  }

  test("retries: flaky task succeeds on second attempt") {
    var calls = 0
    val dag = new Dag("retry")
    dag.addTask(new Task("flaky", () => {
      calls += 1
      if (calls < 2) throw new RuntimeException("boom")
      "ok"
    }, retries = 1))
    val summary = dag.execute()
    assert(summary.status === "success")
    assert(calls === 2)
  }

  test("failure stops the DAG and downstream tasks never run") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val dag = new Dag("failstop")
    dag.addTask(new Task("a", () => throw new RuntimeException("x")))
    dag.addTask(new Task("b", () => ran += "b", Seq("a")))
    val summary = dag.execute()
    assert(summary.status === "failed")
    assert(ran.isEmpty)
  }

  test("cycle detection") {
    val dag = new Dag("cycle")
    dag.addTask(new Task("a", () => (), Seq("b")))
    dag.addTask(new Task("b", () => (), Seq("a")))
    assertThrows[IllegalStateException](dag.execute())
  }
}

class DataQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("range check counts below-min violations") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addRangeCheck("trip_distance", minVal = Some(0.0))
    val df = Seq(1.0, -2.0, 3.0, -0.5).toDF("trip_distance")
    val results = fw.runAllChecks(df, "test")
    assert(results.length === 1)
    assert(!results.head.passed)
    assert(results.head.violationCount === 2)
  }

  test("null check passes at 0 nulls, fails above threshold") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addNullCheck(Seq("a"), maxNullPct = 0.0)
    val clean = Seq("x", "y").toDF("a")
    assert(fw.runAllChecks(clean, "t").head.passed)
    val dirty = Seq(Some("x"), None, Some("y")).toDF("a")
    assert(!fw.runAllChecks(dirty, "t").head.passed)
  }

  test("missing column is itself a violation") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addNullCheck(Seq("nope"))
    val res = fw.runAllChecks(Seq(1).toDF("a"), "t")
    assert(!res.head.passed)
  }

  test("row count bounds") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addRowCountCheck(Some(2L), Some(3L))
    assert(!fw.runAllChecks(Seq(1).toDF("a"), "t").head.passed)
    assert(fw.runAllChecks(Seq(1, 2).toDF("a"), "t").head.passed)
  }

  test("runAllChecks fuses every built-in check into ONE Spark job") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addRangeCheck("d", minVal = Some(0.0), maxVal = Some(10.0))
    fw.addRangeCheck("v", minVal = Some(1.0))
    fw.addNullCheck(Seq("d", "s"))
    fw.addRowCountCheck(Some(1L), None)
    val df = Seq((1.0, 5.0, Some("x")), (-2.0, 0.0, None), (12.0, 3.0, Some("y")))
      .toDF("d", "v", "s")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val results = try {
      val r = fw.runAllChecks(df, "t")
      // the listener bus is async: wait for events to drain
      val deadline = System.currentTimeMillis() + 5000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    // one aggregate QUERY; AQE materializes its shuffle stage as a
    // separate job, so "one pass" shows up as <= 2 jobs — the legacy
    // per-check path costs ~2 jobs x 5 checks
    assert(jobs.get() <= 2,
      s"expected the 5 built-in checks to share one aggregate, saw ${jobs.get()} jobs")
    assert(results.map(_.violationCount) === Seq(2, 1, 0, 1, 0))
    // results identical to the independent legacy runs
    val legacy = fw.allChecks.map(_.run(df).copy(layer = "t"))
    assert(results === legacy)
  }

  test("uniqueness check: fused count matches the duplicated-key listing") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addUniquenessCheck(Seq("k", "s"))
    val df = Seq((1, "a"), (1, "a"), (1, "b"), (2, "a"), (1, "a"))
      .toDF("k", "s") // (1,a) x3 -> 2 surplus rows
    val res = fw.runAllChecks(df, "t")
    assert(!res.head.passed && res.head.violationCount === 2)
    val clean = Seq((1, "a"), (1, "b"), (2, "a")).toDF("k", "s")
    assert(fw.runAllChecks(clean, "t").head.passed)
    // legacy path agrees (it lists duplicate groups, one row per group)
    assert(fw.allChecks.head.run(df).violationCount === 1)
  }

  test("accepted values check: non-null values outside the set count") {
    val fw = new graft.dq.DataQualityFramework(spark)
    fw.addAcceptedValuesCheck("status", Seq("F", "O"))
    val df = Seq(Some("F"), Some("X"), None, Some("O"), Some("?"))
      .toDF("status")
    val res = fw.runAllChecks(df, "t")
    assert(!res.head.passed && res.head.violationCount === 2)
    // fused result identical to the standalone run
    assert(fw.allChecks.head.run(df).violationCount === 2)
  }

  test("referential integrity: FK orphans flagged, nulls exempt") {
    val fw = new graft.dq.DataQualityFramework(spark)
    val dim = Seq(10L, 20L).toDF("dim_id")
    fw.addReferentialIntegrityCheck("fk", dim, "dim_id")
    val facts = Seq(Some(10L), Some(99L), None, Some(20L), Some(77L))
      .toDF("fk")
    val res = fw.runAllChecks(facts, "t")
    assert(!res.head.passed && res.head.violationCount === 2)
    val clean = Seq(Some(10L), Some(20L), None).toDF("fk")
    assert(fw.runAllChecks(clean, "t").head.passed)
  }

  test("summary stats: one-pass null counts per column") {
    val df = Seq((Some(1), Some("x")), (None, Some("y")), (Some(3), None))
      .toDF("a", "b")
    val fw = new graft.dq.DataQualityFramework(spark)
    val row = fw.summaryStats(df).head
    assert(row.getLong(0) === 3)   // total_rows
    assert(row.getLong(1) === 1)   // nulls_a
    assert(row.getLong(2) === 1)   // nulls_b
  }
}

class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.util.SkewJoin.saltedJoin

  private def facts = Seq(
    ("hot", 1), ("hot", 2), ("hot", 3), ("cold", 4), ("warm", 5),
    ("hot", 6), ("missing", 7)).toDF("k", "v")
  private def dim = Seq(("hot", "H"), ("cold", "C"), ("warm", "W"))
    .toDF("k", "label")

  test("salted inner join equals the unsalted join") {
    val expected = facts.join(dim, Seq("k")).collect().map(_.toString).sorted
    val got = saltedJoin(facts, dim, Seq("k"), salts = 4)
      .collect().map(_.toString).sorted
    assert(got === expected)
  }

  test("salted left join preserves unmatched large-side rows exactly once") {
    val got = saltedJoin(facts, dim, Seq("k"), salts = 3, joinType = "left")
    assert(got.count() === 7)
    assert(got.filter(col("k") === "missing").count() === 1)
    assert(got.filter(col("k") === "missing" && col("label").isNull).count() === 1)
  }

  test("join condition carries the salt key (skew actually spread)") {
    val plan = saltedJoin(facts, dim, Seq("k"), salts = 4)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("_graft_salt"), plan)
  }

  test("right/full outer joins are rejected") {
    intercept[IllegalArgumentException] {
      saltedJoin(facts, dim, Seq("k"), 2, joinType = "full_outer")
    }
  }
}
