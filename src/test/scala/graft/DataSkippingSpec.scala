package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.graftbridge.ManifestFileIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** File skipping in the manifest-backed scan: a filter over a versioned
  * table's read plans only the files whose manifest stats admit a match.
  * Every case compares the rows with the same filter over the source
  * rows in memory (no skipping anywhere), and checks which files the
  * scan plans, so a skip that drops a matching file fails twice. */
class DataSkippingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("s", StringType),
    StructField("n", IntegerType)))

  /** Row `i` of the grid; file k holds i in [10k, 10k + 9]. Column `n`
    * is null on i = 0 and on all of file 3, and equals i elsewhere. */
  private def gridRow(i: Int): Row = Row(i, i * 1000000L, i + 0.5,
    java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(i)),
    java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2023, 1, 1, 0, 0).plusHours(i)),
    f"k$i%02d", if (i == 0 || i >= 30) null else Integer.valueOf(i))

  private def frame(rows: Seq[Row], st: StructType = schema): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, st)
  }

  /** A versioned table with one file per group, one append each. */
  private def table(name: String, groups: Seq[DataFrame]): VersionedTable = {
    val vt = new VersionedTable(spark,
      Fixtures.tempDir("graft-skip") + "/" + name)
    groups.zipWithIndex.foreach { case (g, k) =>
      vt.write(g.coalesce(1), if (k == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    vt
  }

  private lazy val gridRows = (0 until 40).map(gridRow)
  private lazy val grid = table("grid",
    (0 until 4).map(k => frame(gridRows.slice(10 * k, 10 * k + 10))))

  /** Each data file's name → its position in commit order (commit dirs
    * are named by zero-padded version, so path order is commit order). */
  private def fileIndex(vt: VersionedTable): Map[String, Int] =
    vt.manifestEntries(vt.currentVersion.get).map(_.relPath).sorted
      .zipWithIndex.toMap

  /** Which files (by append order) `pred` plans; asserts its rows equal
    * the in-memory filter of `source`. */
  private def filesFor(vt: VersionedTable, source: DataFrame,
      pred: String): Set[Int] = {
    val df = vt.read().where(pred)
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = source.where(pred).collect().map(_.toString).sorted.toSeq
    assert(got === want, s"rows of `$pred`")
    DataSkippingSpec.planned(vt, df).map(fileIndex(vt))
  }

  /** Which files (by append order) the DML analyzer admits for `pred`. */
  private def mayMatchFiles(vt: VersionedTable, pred: Column): Set[Int] = {
    val m = vt.currentManifest
    m.entries.filter(vt.predicateMayMatch(m, pred)).map(e => fileIndex(vt)(e.relPath))
      .toSet
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every predicate shape skips on int, long, double, date, timestamp and string") {
    val src = frame(gridRows)
    // literals at row i, per column
    def day(i: Int) = java.time.LocalDate.of(2023, 1, 1).plusDays(i)
    def hour(i: Int) = java.time.LocalDateTime.of(2023, 1, 1, 0, 0)
      .plusHours(i).toString.replace('T', ' ')
    def typed(c: String, i: Int): String = c match {
      case "i" => s"$i"
      case "l" => s"${i * 1000000L}"
      case "d" => s"${i + 0.5}"
      case "dt" => s"DATE'${day(i)}'"
      case "ts" => s"TIMESTAMP'${hour(i)}'"
      case "s" => f"'k$i%02d'"
    }
    // string literals against temporal columns: Spark casts them to
    // the column's type, and so does the analyzer
    def spelled(c: String, i: Int): String = c match {
      case "dt" => s"'${day(i)}'"
      case "ts" => s"'${hour(i)}'"
    }
    val forms: Seq[(String, (String, Int) => String)] =
      Seq("i", "l", "d", "dt", "ts", "s").map(_ -> typed _) ++
        Seq("dt", "ts").map(_ -> spelled _)
    for ((c, at) <- forms) {
      val v = at(c, 15)
      val above = Set(1, 2, 3)
      val cases = Seq(
        s"$c = $v" -> Set(1),
        s"$c <=> $v" -> Set(1),
        s"$c < $v" -> Set(0, 1),
        s"$c <= $v" -> Set(0, 1),
        s"$v > $c" -> Set(0, 1),
        s"$c > $v" -> above,
        s"$c >= $v" -> above,
        s"$v < $c" -> above,
        s"$c IN (${at(c, 5)}, ${at(c, 35)})" -> Set(0, 3),
        // 11 values: the optimizer turns this IN into an InSet
        s"$c IN (${(15 to 25).map(at(c, _)).mkString(", ")})" -> Set(1, 2),
        s"$c = ${at(c, 15)} OR $c = ${at(c, 25)}" -> Set(1, 2),
        s"$c >= ${at(c, 12)} AND $c <= ${at(c, 18)}" -> Set(1),
        s"$c > ${at(c, 39)} AND $c < ${at(c, 0)}" -> Set.empty[Int])
      cases.foreach { case (pred, want) =>
        assert(filesFor(grid, src, pred) === want, pred)
        // DML gets the same answer from the unresolved predicate
        assert(mayMatchFiles(grid, expr(pred)) === want, s"DML: $pred")
      }
    }
    // null counts: file 3 is all null, file 0 holds one null
    assert(filesFor(grid, src, "n IS NULL") === Set(0, 3))
    assert(filesFor(grid, src, "n IS NOT NULL") === Set(0, 1, 2))
    // a date literal against the timestamp column, and the reverse: the
    // literal casts to the column's type, as Spark casts the pair
    for ((pred, want) <- Seq("ts <= DATE'2023-01-01'" -> Set(0),
        "ts >= DATE'2023-01-02'" -> Set(2, 3))) {
      assert(filesFor(grid, src, pred) === want, pred)
      assert(mayMatchFiles(grid, expr(pred)) === want, s"DML: $pred")
    }
    assert(mayMatchFiles(grid, expr("dt >= TIMESTAMP'2023-01-16 12:00:00'")) ===
      Set(1, 2, 3))
    // a filter the stats cannot reason about plans every file
    assert(filesFor(grid, src, "i % 7 = 3") === Set(0, 1, 2, 3))
    assert(filesFor(grid, src, "NOT (i = 15)") === Set(0, 1, 2, 3))
  }

  test("deletion vectors: stats over physical rows keep skipping sound") {
    val vt = table("dv", (0 until 4).map(k =>
      frame(gridRows.slice(10 * k, 10 * k + 10))))
    vt.deleteVectorizedWhere(col("i").isin(15, 16, 27))
    val live = frame(gridRows.filterNot(r => Set(15, 16, 27)(r.getInt(0))))
    val dvFile = vt.manifestEntries(vt.currentVersion.get)
      .filter(_.dvDir.isDefined)
    assert(dvFile.size === 2)
    assert(filesFor(vt, live, "i = 15") === Set(1))
    assert(filesFor(vt, live, "i >= 14 AND i <= 28") === Set(1, 2))
  }

  test("column mapping: a renamed column skips on its physical stats") {
    val vt = table("renamed", (0 until 4).map(k =>
      frame(gridRows.slice(10 * k, 10 * k + 10))))
    vt.renameColumn("i", "id")
    val src = frame(gridRows).withColumnRenamed("i", "id")
    assert(filesFor(vt, src, "id = 25") === Set(2))
  }

  test("files whose stats cannot decide are kept") {
    // missing stats: a non-ASCII string records no string stats
    val strSchema = StructType(Seq(StructField("s", StringType)))
    val strRows = Seq(Seq(Row("abc"), Row("abd")), Seq(Row("zzé")),
      Seq(Row("mmm")))
    val strT = table("nostats", strRows.map(frame(_, strSchema)))
    assert(strT.manifestEntries(strT.currentVersion.get).sortBy(_.relPath)
      .map(_.strStats.contains("s")) === Seq(true, false, true))
    val strSrc = frame(strRows.flatten, strSchema)
    assert(filesFor(strT, strSrc, "s = 'abc'") === Set(0, 1))
    assert(filesFor(strT, strSrc, "s = 'zzé'") === Set(1))

    // a long beyond 2^53: double stats round it, but rounding keeps
    // order, so the file holding it is planned whichever way it rounds
    val lSchema = StructType(Seq(StructField("l", LongType)))
    val big = (1L << 53) + 1L
    val lRows = Seq(Seq(Row(big)), Seq(Row(1L)))
    val lT = table("bigint", lRows.map(frame(_, lSchema)))
    val lSrc = frame(lRows.flatten, lSchema)
    assert(filesFor(lT, lSrc, s"l = $big") === Set(0))
    assert(filesFor(lT, lSrc, s"l >= $big") === Set(0))
    assert(filesFor(lT, lSrc, s"l <= $big") === Set(0, 1))
    // 2^53 itself is exact; the file's max rounds down to it and stays
    assert(filesFor(lT, lSrc, s"l > ${1L << 53}") === Set(0))
    assert(filesFor(lT, lSrc, "l = 1") === Set(1))

    // an all-null file has no min/max: a comparison keeps it, only the
    // null count (IS NOT NULL, inferred for `=`) may skip it
    val nSchema = StructType(Seq(StructField("n", IntegerType)))
    val nRows = Seq(Seq(Row(null), Row(null)), Seq(Row(1), Row(2)))
    val nT = table("allnull", nRows.map(frame(_, nSchema)))
    val nSrc = frame(nRows.flatten, nSchema)
    assert(filesFor(nT, nSrc, "n <=> 5") === Set(0))
    assert(filesFor(nT, nSrc, "n IS NULL") === Set(0))
    assert(filesFor(nT, nSrc, "n IS NOT NULL") === Set(1))

    // schema evolution: the first file lacks column x entirely
    val evo = new VersionedTable(spark,
      Fixtures.tempDir("graft-skip") + "/evolved")
    val s1 = StructType(Seq(StructField("id", IntegerType)))
    val s2 = s1.add(StructField("x", IntegerType))
    evo.write(frame(Seq(Row(1), Row(2)), s1).coalesce(1))
    evo.write(frame(Seq(Row(3, 30), Row(4, 40)), s2).coalesce(1),
      SaveMode.Append, allowSchemaEvolution = true)
    val evoSrc = frame(Seq(Row(1, null), Row(2, null), Row(3, 30),
      Row(4, 40)), s2)
    assert(filesFor(evo, evoSrc, "x IS NULL") === Set(0))
    assert(filesFor(evo, evoSrc, "x <=> 7") === Set(0))
    assert(filesFor(evo, evoSrc, "x = 30") === Set(0, 1))
  }

  test("NaN: a file holding NaN records no range, so scans and DML reach its rows") {
    // Spark orders NaN above every number: `d > 50` matches it
    val dSchema = StructType(Seq(StructField("d", DoubleType),
      StructField("f", FloatType)))
    val dRows = Seq(Seq(Row(1.0, 1.0f), Row(Double.NaN, Float.NaN),
      Row(2.0, 2.0f)), Seq(Row(100.0, 100.0f)))
    val dT = table("nan", dRows.map(frame(_, dSchema)))
    val entries = dT.manifestEntries(dT.currentVersion.get).sortBy(_.relPath)
    assert(entries.map(e => e.stats.contains("d") && e.stats.contains("f")) ===
      Seq(false, true), entries.map(_.stats))
    val dSrc = frame(dRows.flatten, dSchema)
    for (c <- Seq("d", "f")) {
      assert(filesFor(dT, dSrc, s"$c > 50") === Set(0, 1))
      assert(filesFor(dT, dSrc, s"$c = double('NaN')") === Set(0, 1))
      assert(filesFor(dT, dSrc, s"$c IN (100.0, double('NaN'))") === Set(0, 1))
      assert(filesFor(dT, dSrc, s"$c < double('NaN')") === Set(0, 1))
      assert(filesFor(dT, dSrc, s"$c < 50") === Set(0))
    }
    // DML skips candidate files with the same analyzer
    dT.deleteVectorizedWhere(col("d") > 50.0)
    assert(dT.read().collect().map(_.getDouble(0)).sorted.toSeq === Seq(1.0, 2.0))
  }

  test("decimal columns never skip on stats (parquet records them unscaled): scans and DML find their rows") {
    val pSchema = StructType(Seq(StructField("p", DecimalType(9, 2)),
      StructField("q", DecimalType(18, 2))))
    def dec(s: String) = new java.math.BigDecimal(s)
    val pRows = Seq(Seq(Row(dec("1.50"), dec("1.50")), Row(dec("2.25"), dec("2.25"))),
      Seq(Row(dec("7.00"), dec("7.00"))))
    val pT = table("decimal", pRows.map(frame(_, pSchema)))
    val pSrc = frame(pRows.flatten, pSchema)
    for (c <- Seq("p", "q")) {
      assert(filesFor(pT, pSrc, s"$c = 1.50") === Set(0, 1))
      assert(filesFor(pT, pSrc, s"$c > 5") === Set(0, 1))
    }
    pT.deleteVectorizedWhere(col("p") === 1.5)
    assert(pT.read().collect().map(_.getDecimal(0).toPlainString).sorted.toSeq ===
      Seq("2.25", "7.00"))
  }

  test("typed reads compare as Spark does: string bounds on an int partition, non-ASCII partition values") {
    /** A table partitioned by `p` (one file per value); the partition
      * values `preds` plan, after checking its rows against the same
      * filter over the in-memory rows. */
    def partitioned(name: String, rows: Seq[Row], st: StructType)
        : Seq[VersionedTable.TablePredicate] => Set[String] = {
      val vt = new VersionedTable(spark,
        Fixtures.tempDir("graft-skip") + "/" + name)
      vt.write(frame(rows, st).coalesce(1), partitionBy = Some(Seq("p")))
      preds => {
        val cond = preds.map(_.condition).reduce(_ && _)
        assert(sortedRows(vt.readMatching(preds: _*)) ===
          sortedRows(frame(rows, st).filter(cond)), preds)
        vt.matchingEntries(preds: _*).map(_.partitionValues("p")).toSet
      }
    }
    val intPart = partitioned("intpart", Seq(Row(1, 3), Row(2, 20), Row(3, 200)),
      StructType(Seq(StructField("id", IntegerType), StructField("p", IntegerType))))
    // "20" < "3" and "200" > "100" as strings, but the row filter casts
    // the bounds to int: 3 and 20 lie in [3, 100]. String bounds never
    // prune a numeric column; a string point casts to its type
    assert(intPart(Seq(VersionedTable.StrRange("p", "3", "100"))) ===
      Set("3", "20", "200"))
    assert(intPart(Seq(VersionedTable.PartitionEq("p", "03"))) === Set("3"))
    assert(intPart(Seq(VersionedTable.NumRange("p", 19.5, 1000))) === Set("20", "200"))

    // U+FFFD sorts above U+1F600 in Java's UTF-16 order and below it in
    // Spark's UTF-8 byte order: a non-ASCII partition value is read.
    // Hand-built entries, as this file system's JVM encoding cannot
    // write such a path (object stores can)
    val (repl, smile) = ("\uFFFD", "\uD83D\uDE00")
    val host = table("strpart", Seq(frame(Seq(Row(1, 3)), StructType(Seq(
      StructField("id", IntegerType), StructField("p", IntegerType))))))
    val m = graft.io.VersionManifest(Some(StructType(Seq(
        StructField("id", IntegerType), StructField("p", StringType)))),
      Seq(repl, smile, "abc").map(v =>
        graft.io.ManifestEntry(s"p=$v/f.parquet", 1L, 1L)),
      partitionBy = Seq("p"))
    def strPart(pred: VersionedTable.TablePredicate): Set[String] =
      m.entries.filter(host.predicateMayMatch(m, pred.condition))
        .map(_.partitionValues("p")).toSet
    assert(strPart(VersionedTable.StrRange("p", repl, smile + smile)) ===
      Set(repl, smile))
    assert(strPart(VersionedTable.StrRange("p", "abc", "abd")) ===
      Set("abc", repl, smile))
    assert(strPart(VersionedTable.PartitionEq("p", "abd")) === Set(repl, smile))
  }

  test("DV update and delete on a string literal against a date or timestamp partition touch only that partition") {
    val days = Seq("2023-01-01", "2023-01-02", "2023-01-03")
    val kinds: Seq[(DataType, String => Any, String => String)] = Seq(
      (DateType, d => java.sql.Date.valueOf(d), d => d),
      (TimestampType,
        d => java.sql.Timestamp.from(java.time.Instant.parse(d + "T00:00:00Z")),
        d => s"$d 00:00:00"))
    for ((pType, value, literal) <- kinds) {
      val st = StructType(Seq(StructField("id", IntegerType),
        StructField("v", LongType), StructField("p", pType)))
      val rows = days.zipWithIndex.flatMap { case (d, k) =>
        (0 until 3).map(j => Row(10 * k + j, 0L, value(d)))
      }
      val vt = new VersionedTable(spark,
        Fixtures.tempDir("graft-skip") + "/dml-" + pType.typeName)
      vt.write(frame(rows, st).coalesce(1), partitionBy = Some(Seq("p")))
      val target = col("p") === literal("2023-01-02")
      val m = vt.currentManifest
      def day(e: graft.io.ManifestEntry) = e.partitionValues("p").take(10)
      assert(m.entries.filter(vt.predicateMayMatch(m, target)).map(day) ===
        Seq("2023-01-02"), pType)
      // the other days' files stay exactly as they were
      val others = m.entries.filterNot(day(_) == "2023-01-02")
      def untouched(): Boolean =
        vt.currentManifest.entries.filterNot(day(_) == "2023-01-02") == others

      vt.updateVectorizedWhere(target, Map("v" -> lit(1L)))
      val updated = frame(rows, st)
        .withColumn("v", when(target, lit(1L)).otherwise(col("v")))
      assert(sortedRows(vt.read()) === sortedRows(updated), pType)
      assert(untouched(), pType)

      vt.deleteVectorizedWhere(target)
      assert(sortedRows(vt.read()) === sortedRows(updated.filter(!target)), pType)
      assert(untouched(), pType)
    }
  }

  test("deleteVectorizedKeys on a string key removes exactly the listed keys") {
    val st = StructType(Seq(StructField("k", StringType), StructField("v", IntegerType)))
    val groups = "abcd".map(g => (0 until 10).map(j => Row(s"$g$j", j)))
    val vt = table("strkeys", groups.map(frame(_, st)))
    val keys = frame(Seq(Row("b2"), Row("c7"), Row("zz")),
      StructType(Seq(StructField("x", StringType))))
    vt.deleteVectorizedKeys("k", keys)
    assert(sortedRows(vt.read()) === sortedRows(frame(groups.flatten, st)
      .filter(!col("k").isin("b2", "c7"))))
    // only the files holding a listed key carry a mask
    assert(vt.manifestEntries(vt.currentVersion.get).filter(_.dvDir.isDefined)
      .map(e => fileIndex(vt)(e.relPath)).toSet === Set(1, 2))
  }
}

object DataSkippingSpec {
  /** The files of `vt` the manifest scans of `df` plan, as manifest
    * paths: what the scan node asks its file index for, with the scan's
    * own filters (other scans, such as a deletion-vector sidecar's, are
    * left out). */
  def planned(vt: VersionedTable, df: DataFrame): Set[String] = {
    val rels = vt.manifestEntries(vt.currentVersion.get).map(_.relPath)
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.isInstanceOf[ManifestFileIndex] => s
    }.flatMap(s => s.relation.location
        .listFiles(s.partitionFilters, s.dataFilters).flatMap(_.files))
      .map(f => rels.find(r => f.getPath.toUri.getPath.endsWith("/" + r))
        .getOrElse(f.getPath.toString)).toSet
  }
}
