package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable
import graft.io.VersionedTable.TsRange

/** Generated-column partition pruning (Delta GENERATED ALWAYS AS),
  * one pin per grammar form: a TsRange on the SOURCE column must plan
  * exactly the overlapped derived partitions — day(<col>) is covered
  * by ColumnMappingSpec; here hour / month / to_date, plus the
  * conservative keep for foreign partition spellings and the grammar
  * guard. */
class GeneratedColumnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(iso: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  test("hour(ts): a sub-day range plans exactly the overlapped hours") {
    val root = Fixtures.tempDir("gen-hour") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // 3 days x 24 hourly events at :30 past
    val rows = for (d <- 1 to 3; h <- 0 until 24) yield
      ((d * 100 + h).toLong, ts(f"2024-03-0$d%dT$h%02d:30:00Z"))
    vt.write(rows.toDF("id", "ts")
      .withColumn("hr", date_format(col("ts"), "yyyy-MM-dd-HH")),
      partitionBy = Some(Seq("hr")))
    vt.recordGenerated("hr", "hour(ts)")
    val planned = vt.matchingEntries(
        TsRange("ts", "2024-03-02T05:10:00Z", "2024-03-02T08:45:00Z"))
      .flatMap(_.partitionValues.get("hr")).toSet
    assert(planned === Set("2024-03-02-05", "2024-03-02-06",
      "2024-03-02-07", "2024-03-02-08"),
      s"hour pruning planned wrong partitions: $planned")
    val ids = vt.readMatching(TsRange("ts",
        "2024-03-02T05:10:00Z", "2024-03-02T08:45:00Z"))
      .select("id").as[Long].collect().sorted
    assert(ids === Array(205L, 206L, 207L, 208L))
  }

  test("writer-path materialization: an APPEND missing the generated " +
    "column derives it (Delta writer semantics); pruning stays exact") {
    val root = Fixtures.tempDir("gen-mat") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val day1 = (0 until 4).map(h => ((100 + h).toLong,
      ts(f"2024-03-01T$h%02d:30:00Z")))
    vt.write(day1.toDF("id", "ts")
      .withColumn("hr", date_format(col("ts"), "yyyy-MM-dd-HH")),
      partitionBy = Some(Seq("hr")))
    vt.recordGenerated("hr", "hour(ts)")
    // raw append: NO hr column — the write path must derive it
    val day2 = (0 until 4).map(h => ((200 + h).toLong,
      ts(f"2024-03-02T$h%02d:30:00Z")))
    vt.write(day2.toDF("id", "ts"), org.apache.spark.sql.SaveMode.Append)
    val planned = vt.matchingEntries(
        TsRange("ts", "2024-03-02T01:00:00Z", "2024-03-02T02:45:00Z"))
      .flatMap(_.partitionValues.get("hr")).toSet
    assert(planned === Set("2024-03-02-01", "2024-03-02-02"),
      s"materialized append must land prunable hour partitions: $planned")
    val ids = vt.readMatching(TsRange("ts",
        "2024-03-02T01:00:00Z", "2024-03-02T02:45:00Z"))
      .select("id").as[Long].collect().sorted
    assert(ids === Array(201L, 202L))
    assert(vt.read().count() === 8)
  }

  test("month(ts): a cross-month range plans exactly the overlapped " +
    "months") {
    val root = Fixtures.tempDir("gen-month") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val rows = for (m <- 1 to 6; d <- Seq(5, 20)) yield
      ((m * 100 + d).toLong, ts(f"2024-$m%02d-$d%02dT12:00:00Z"))
    vt.write(rows.toDF("id", "ts")
      .withColumn("mth", date_format(col("ts"), "yyyy-MM")),
      partitionBy = Some(Seq("mth")))
    vt.recordGenerated("mth", "month(ts)")
    val planned = vt.matchingEntries(
        TsRange("ts", "2024-02-10T00:00:00Z", "2024-04-10T00:00:00Z"))
      .flatMap(_.partitionValues.get("mth")).toSet
    assert(planned === Set("2024-02", "2024-03", "2024-04"),
      s"month pruning planned wrong partitions: $planned")
    val ids = vt.readMatching(TsRange("ts",
        "2024-02-10T00:00:00Z", "2024-04-10T00:00:00Z"))
      .select("id").as[Long].collect().sorted
    assert(ids === Array(220L, 305L, 320L, 405L))
  }

  test("to_date(ts): day-granularity pruning, day() alias semantics") {
    val root = Fixtures.tempDir("gen-todate") + "/tbl"
    val vt = new VersionedTable(spark, root)
    val rows = for (d <- 1 to 9) yield
      (d.toLong, ts(f"2024-05-0$d%dT08:00:00Z"))
    vt.write(rows.toDF("id", "ts")
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd")),
      partitionBy = Some(Seq("dt")))
    vt.recordGenerated("dt", "to_date(ts)")
    val planned = vt.matchingEntries(
        TsRange("ts", "2024-05-03T00:00:00Z", "2024-05-04T23:59:59Z"))
      .flatMap(_.partitionValues.get("dt")).toSet
    assert(planned === Set("2024-05-03", "2024-05-04"))
    assert(vt.readMatching(TsRange("ts",
        "2024-05-03T00:00:00Z", "2024-05-04T23:59:59Z"))
      .select("id").as[Long].collect().sorted === Array(3L, 4L))
  }

  test("foreign partition spellings are kept, never pruned") {
    val root = Fixtures.tempDir("gen-foreign") + "/tbl"
    val vt = new VersionedTable(spark, root)
    // writer rendered the partition in a NON-contract spelling: the
    // declaration must not prune what it cannot parse. The file's ts
    // span straddles the probe range so timestamp STATS cannot prune
    // it either — the generator test is the only decider.
    vt.write(Seq(
        (1L, ts("2024-03-02T05:30:00Z"), "march-mixed"),
        (2L, ts("2030-06-01T00:00:00Z"), "march-mixed"))
      .toDF("id", "ts", "hr").coalesce(1),
      partitionBy = Some(Seq("hr")))
    vt.recordGenerated("hr", "hour(ts)")
    val planned = vt.matchingEntries(
      TsRange("ts", "2030-01-01T00:00:00Z", "2030-12-31T00:00:00Z"))
    assert(planned.nonEmpty,
      "unparseable partition values must survive pruning (conservative)")
  }

  test("referenced columns are schema-change-protected; a RENAMED " +
    "source declares by its logical name") {
    val root = Fixtures.tempDir("gen-refs") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, ts("2024-03-02T05:30:00Z"), "2024-03-02", 5L, 7L))
      .toDF("id", "event_ts", "day", "x", "xx"),
      partitionBy = Some(Seq("day")))
    // declare AFTER a rename: the generator names the LOGICAL column
    vt.renameColumn("event_ts", "ts")
    vt.recordGenerated("day", "day(ts)")
    // the generator's source can no longer be renamed or dropped
    val e1 = intercept[RuntimeException](vt.renameColumn("ts", "ts2"))
    assert(e1.getMessage.contains("derives from it"))
    val e2 = intercept[RuntimeException](vt.dropColumn("ts"))
    assert(e2.getMessage.contains("derives from it"))
    // same protection for CHECK-constraint references
    vt.addCheckConstraint("x_pos", "x > 0")
    val e3 = intercept[RuntimeException](vt.renameColumn("x", "y"))
    assert(e3.getMessage.contains("CHECK constraint"))
    val e4 = intercept[RuntimeException](vt.dropColumn("x"))
    assert(e4.getMessage.contains("CHECK constraint"))
    // pruning works through the renamed (logical) source
    val planned = vt.matchingEntries(graft.io.VersionedTable.TsRange(
      "ts", "2024-03-02T00:00:00Z", "2024-03-02T23:00:00Z"))
    assert(planned.nonEmpty)
    // an UNreferenced column still renames fine
    vt.renameColumn("id", "row_id2")
    assert(vt.read().columns.contains("row_id2"))
    // word-boundary matching: the constraint names `x`, not `xx` —
    // `xx` stays free to change
    vt.renameColumn("xx", "zz")
    assert(vt.read().columns.contains("zz"))
  }

  test("bucket(n,col): point lookups prune to the one hash bucket; " +
    "appends derive the layout; ranges stay conservative") {
    val root = Fixtures.tempDir("gen-bucket") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 64L).map(i => (i, s"v$i")).toDF("id", "s")
        .withColumn("kb", pmod(xxhash64(col("id")), lit(4)))
        .repartition(1),
      partitionBy = Some(Seq("kb")))
    vt.recordGenerated("kb", "bucket4(id)")
    // append WITHOUT the column: the declaration derives it
    vt.write((65L to 96L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(1), org.apache.spark.sql.SaveMode.Append)
    assert(vt.manifestEntries(vt.currentVersion.get)
      .forall(_.partitionValues.contains("kb")),
      "appended files must land in derived kb partitions")
    // point lookup: exactly one bucket's files planned (both commits)
    val planned = vt.matchingEntries(VersionedTable.NumRange("id", 70, 70))
      .flatMap(_.partitionValues.get("kb")).toSet
    assert(planned.size === 1, s"expected one bucket, planned $planned")
    val all = vt.manifestEntries(vt.currentVersion.get)
      .flatMap(_.partitionValues.get("kb")).toSet
    assert(all.size > 1, "fixture must span several buckets")
    // and the read is exact
    assert(vt.readMatching(VersionedTable.NumRange("id", 70.0, 70.0))
      .select("s").collect().map(_.getString(0)).toSeq === Seq("v70"))
    // a RANGE on the source column must NOT bucket-prune (hash
    // buckets scatter ranges): every bucket stays planned
    val ranged = vt.matchingEntries(VersionedTable.NumRange("id", 1, 96))
      .flatMap(_.partitionValues.get("kb")).toSet
    assert(ranged === all, "ranges must stay conservative under bucket()")
  }

  test("bucket(n,col) guards: positive n, BIGINT source column") {
    val root = Fixtures.tempDir("gen-bucket-guard") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1, "a", 0L)).toDF("id", "s", "kb"),
      partitionBy = Some(Seq("kb")))
    intercept[RuntimeException] { vt.recordGenerated("kb", "bucket0(id)") }
    // id is INT here, not BIGINT: the prune-time hash would differ
    intercept[IllegalArgumentException] {
      vt.recordGenerated("kb", "bucket4(id)")
    }
  }

  test("trunc(w,col): range reads plan only the intersecting stripes; " +
    "appends derive the layout") {
    val root = Fixtures.tempDir("gen-trunc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 50L).map(i => (i, s"v$i")).toDF("id", "s")
        .withColumn("ks", col("id") - pmod(col("id"), lit(10L)))
        .repartition(1),
      partitionBy = Some(Seq("ks")))
    vt.recordGenerated("ks", "trunc10(id)")
    vt.write((51L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(1), org.apache.spark.sql.SaveMode.Append)
    // [25, 44] intersects stripes 20, 30, 40 only
    val planned = vt.matchingEntries(VersionedTable.NumRange("id", 25, 44))
      .flatMap(_.partitionValues.get("ks")).toSet
    assert(planned === Set("20", "30", "40"),
      s"trunc pruning planned wrong stripes: $planned")
    // across the append boundary too
    val high = vt.matchingEntries(VersionedTable.NumRange("id", 95, 99))
      .flatMap(_.partitionValues.get("ks")).toSet
    assert(high === Set("90"))
    // the read stays row-exact at stripe boundaries
    assert(vt.readMatching(VersionedTable.NumRange("id", 25.0, 44.0)).count() === 20L)
    intercept[RuntimeException] { vt.recordGenerated("ks", "trunc0(id)") }
  }

  test("grammar guard: unsupported generator forms are refused") {
    val root = Fixtures.tempDir("gen-guard") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, ts("2024-01-01T00:00:00Z"), "2024"))
      .toDF("id", "ts", "y"), partitionBy = Some(Seq("y")))
    intercept[RuntimeException](vt.recordGenerated("y", "quarter(ts)"))
    intercept[RuntimeException](vt.recordGenerated("y", "minute(ts)"))
    intercept[RuntimeException](vt.recordGenerated("y", "day(ts)+1"))
  }

  test("year(<col>): yearly partitions prune and materialize") {
    import org.apache.spark.sql.SaveMode
    val root = Fixtures.tempDir("gen-year") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, ts("2023-06-01T00:00:00Z"), "2023"),
        (2L, ts("2024-06-01T00:00:00Z"), "2024"))
      .toDF("id", "ts", "y"), partitionBy = Some(Seq("y")))
    vt.recordGenerated("y", "year(ts)")
    // writer materialization: an append WITHOUT the partition column
    // derives it from the source at year granularity
    vt.write(Seq((3L, ts("2025-06-01T00:00:00Z"))).toDF("id", "ts"),
      SaveMode.Append)
    val got = vt.read().select("id", "y").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "2023", 2L -> "2024", 3L -> "2025"))
    // pruning: a TsRange inside 2024 must plan only that partition
    val planned = vt.readMatching(graft.io.VersionedTable.TsRange(
        "ts", "2024-01-01T00:00:00Z", "2024-12-31T00:00:00Z"))
    assert(planned.inputFiles.forall(_.contains("y=2024")),
      s"yearly pruning leaked: ${planned.inputFiles.mkString(",")}")
    assert(planned.select("id").collect().map(_.getLong(0)).toSeq
      === Seq(2L))
  }
}
