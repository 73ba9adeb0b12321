package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable
import graft.sql.GraftSql

/** SQL time travel ([[graft.sql.GraftSql]]): Delta SQL's `VERSION AS
  * OF` / `TIMESTAMP AS OF` clauses resolved against versioned tables
  * inside an ordinary spark.sql statement. */
class GraftSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def twoVersions(prefix: String): (VersionedTable, String, String) = {
    val root = Fixtures.tempDir(prefix) + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")) // v0
    val t0 = vt.history(limit = 1).head.timestamp
    vt.write((11L to 15L).map(k => (k, k * 10L)).toDF("k", "v"),
      SaveMode.Append) // v1
    (vt, root, t0)
  }

  test("VERSION AS OF resolves the historical snapshot; the bare name " +
      "binds current; aliases survive") {
    val (_, root, _) = twoVersions("graft-sql-ver")
    val out = GraftSql.sql(spark,
      """SELECT now.n AS n_now, then.n AS n_then
         FROM (SELECT count(*) AS n FROM t) now
         CROSS JOIN (SELECT count(*) AS n FROM t VERSION AS OF 0 then0) then""",
      Map("t" -> root)).as[(Long, Long)].head()
    assert(out === ((15L, 10L)))
  }

  test("TIMESTAMP AS OF resolves through the commit history and " +
      "equals the version-addressed read") {
    val (_, root, t0) = twoVersions("graft-sql-ts")
    val out = GraftSql.sql(spark,
      s"""SELECT (SELECT count(*) FROM t TIMESTAMP AS OF '$t0') AS by_ts,
                 (SELECT count(*) FROM t VERSION AS OF 0) AS by_v""",
      Map("t" -> root)).as[(Long, Long)].head()
    assert(out._1 === out._2 && out._1 === 10L)
  }

  test("a travel clause on an UNREGISTERED name is left to the SQL " +
      "parser; a missing version fails with the S4 error") {
    val (_, root, _) = twoVersions("graft-sql-err")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "SELECT * FROM t VERSION AS OF 99",
        Map("t" -> root))
    }
    assert(e.getMessage.contains("version 99"))
    // names are word-bounded: 'tt' is not rewritten for table 't'
    spark.range(3).toDF("k").createOrReplaceTempView("tt")
    val n = GraftSql.sql(spark,
      "SELECT (SELECT count(*) FROM tt) AS a, (SELECT count(*) FROM t) AS b",
      Map("t" -> root)).as[(Long, Long)].head()
    assert(n === ((3L, 15L)))
  }

  test("table_changes TVF: inclusive version bounds, commit-meta " +
      "columns, end defaults to current") {
    val root = Fixtures.tempDir("graft-sql-tc") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    vt.write(Seq((3L, "c")).toDF("k", "v"), SaveMode.Append) // v1
    val out = GraftSql.sql(spark,
      """SELECT _commit_version, count(*) AS n
         FROM table_changes('t', 0, 1)
         GROUP BY _commit_version ORDER BY _commit_version""",
      Map("t" -> root)).as[(Long, Long)].collect()
    assert(out.toSeq === Seq((0L, 2L), (1L, 1L)))
    val n = GraftSql.sql(spark,
      "SELECT count(*) AS n FROM table_changes('t', 1)",
      Map("t" -> root)).as[Long].head()
    assert(n === 1L)
    // timestamp form: start rounds forward, end rounds back
    val t1 = vt.history(limit = 1).head.timestamp
    val byTs = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM table_changes('t', '1970-01-01T00:00:00Z', '$t1')",
      Map("t" -> root)).as[Long].head()
    assert(byTs === 3L) // v0's 2 rows + v1's 1
    val open = GraftSql.sql(spark,
      s"SELECT _commit_version FROM table_changes('t', '$t1')",
      Map("t" -> root)).as[Long].collect().toSet
    assert(open === Set(1L)) // from v1's instant to current
  }

  test("exec: DELETE and UPDATE route to the DV kernels; SELECT " +
      "falls through to sql()") {
    val root = Fixtures.tempDir("graft-sql-dml") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 20L).map(k => (k, k * 10L, if (k % 2 == 0) "E" else "O"))
      .toDF("k", "v", "tag")) // v0
    val t = Map("t" -> root)
    val del = GraftSql.exec(spark,
      "DELETE FROM t WHERE k >= 15 AND tag = 'O'", t)
      .as[(String, Long)].head()
    assert(del === (("DELETE", 1L)))
    assert(vt.history(limit = 1).head.operation.startsWith("DELETE DV"))
    GraftSql.exec(spark, "UPDATE t SET v = v + 1000 WHERE k <= 3", t)
    assert(vt.history(limit = 1).head.operation.startsWith("UPDATE DV"))
    val got = GraftSql.exec(spark,
      "SELECT count(*) AS n, sum(v) AS s FROM t", t)
      .as[(Long, Long)].head()
    val want = (1L to 20L).filterNot(k => k >= 15 && k % 2 == 1)
      .map(k => k * 10L + (if (k <= 3) 1000L else 0L))
    assert(got === ((want.size.toLong, want.sum)))
  }

  test("exec: MERGE INTO with matched update/delete, unmatched " +
      "insert, and NMBS clauses parses into the DV clause merge") {
    val root = Fixtures.tempDir("graft-sql-merge") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L, "keep"), (2L, 20L, "upd"), (3L, 30L, "del"),
      (5L, 50L, "nmbs")).toDF("k", "v", "st")) // v0
    Seq((2L, 200L, "upd"), (3L, 999L, "del"), (4L, 40L, "new"))
      .toDF("k", "v", "st").createOrReplaceTempView("src")
    GraftSql.exec(spark,
      """MERGE INTO t AS tgt USING src AS s ON tgt.k = s.k
         WHEN MATCHED AND s.st = 'del' THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *
         WHEN NOT MATCHED BY SOURCE AND tgt.st = 'nmbs'
           THEN UPDATE SET v = tgt.v + 1""",
      Map("t" -> root))
    val got = vt.read().orderBy("k").as[(Long, Long, String)].collect()
    assert(got.toSeq === Seq((1L, 10L, "keep"), (2L, 200L, "upd"),
      (4L, 40L, "new"), (5L, 51L, "nmbs")))
    // a MERGE with ONLY a delete clause must not update survivors
    GraftSql.exec(spark,
      """MERGE INTO t USING src ON t.k = src.k
         WHEN MATCHED AND src.v = 999 THEN DELETE""",
      Map("t" -> root))
    val after = vt.read().orderBy("k").as[(Long, Long, String)].collect()
    assert(after.toSeq === Seq((1L, 10L, "keep"), (2L, 200L, "upd"),
      (4L, 40L, "new"), (5L, 51L, "nmbs"))) // k=3 already gone; no churn
  }

  test("exec: MERGE USING (subquery) parses through parens inside " +
      "string literals and two levels of nesting (scanner, not a " +
      "fixed-depth regex)") {
    val root = Fixtures.tempDir("graft-sql-merge-paren") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "(x)"), (2L, "y")).toDF("k", "s"))
    Seq((1L, "(x)"), (3L, "z"), (4L, "(x)"))
      .toDF("k", "s").createOrReplaceTempView("mp_src")
    GraftSql.exec(spark,
      """MERGE INTO t USING (
           SELECT k, s FROM (
             SELECT k, s FROM mp_src WHERE s = '(x)'
           ) inner_q WHERE k IN (SELECT k FROM mp_src WHERE k <= 4)
         ) AS src ON t.k = src.k
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("t" -> root))
    assert(vt.read().orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "(x)"), (2L, "y"), (4L, "(x)")))
  }

  test("exec: MERGE clause ORDER is SQL's first-match-wins — an " +
      "UPDATE before a DELETE claims its rows; a source named 't' " +
      "does not corrupt target-qualified conditions") {
    val root = Fixtures.tempDir("graft-sql-merge-ord") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L, "U"), (2L, 20L, "D"), (3L, 30L, "keep"))
      .toDF("k", "v", "st"))
    // source view literally named "t" — the alias-rewrite trap
    Seq((1L, 100L, "U"), (2L, 200L, "D"))
      .toDF("k", "v", "st").createOrReplaceTempView("t")
    GraftSql.exec(spark,
      """MERGE INTO facts USING t ON facts.k = t.k
         WHEN MATCHED AND t.st = 'U' AND facts.v < 1000
           THEN UPDATE SET *
         WHEN MATCHED THEN DELETE""",
      Map("facts" -> root))
    // SQL order: k=1 (st U) UPDATES; k=2 falls to DELETE; k=3 keeps
    assert(vt.read().orderBy("k").as[(Long, Long, String)].collect()
      .toSeq === Seq((1L, 100L, "U"), (3L, 30L, "keep")))
  }

  test("exec: NOT-MATCHED-BY-SOURCE clause order is first-match-wins " +
      "as well — an archive UPDATE before an unconditional DELETE") {
    val root = Fixtures.tempDir("graft-sql-nmbs-ord") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "F"), (2L, "G"), (3L, "F")).toDF("k", "st"))
    Seq((3L, "F")).toDF("k", "st").createOrReplaceTempView("nmbs_src")
    GraftSql.exec(spark,
      """MERGE INTO t USING nmbs_src AS s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED BY SOURCE AND t.st = 'F'
           THEN UPDATE SET st = 'X'
         WHEN NOT MATCHED BY SOURCE THEN DELETE""",
      Map("t" -> root))
    // k=1 (F, unmatched) archives; k=2 (G) falls to DELETE; k=3 matched
    assert(vt.read().orderBy("k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "X"), (3L, "F")))
  }

  test("exec: an unparenthesized CASE WHEN inside an NMBS SET " +
      "expression does not split the clause list") {
    val root = Fixtures.tempDir("graft-sql-casewhen") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L), (2L, 3L)).toDF("k", "v"))
    Seq((99L, 0L)).toDF("k", "v").createOrReplaceTempView("cw_src")
    GraftSql.exec(spark,
      """MERGE INTO t USING cw_src AS s ON t.k = s.k
         WHEN NOT MATCHED BY SOURCE
           THEN UPDATE SET v = CASE WHEN t.v > 5 THEN 1 ELSE 0 END""",
      Map("t" -> root))
    assert(vt.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1L), (2L, 0L)))
  }

  test("exec: INSERT INTO (VALUES and SELECT), RESTORE, DESCRIBE " +
      "HISTORY, OPTIMIZE, VACUUM DRY RUN") {
    val root = Fixtures.tempDir("graft-sql-util") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L)).toDF("k", "v")) // v0
    val t = Map("t" -> root)
    GraftSql.exec(spark, "INSERT INTO t (k, v) VALUES " +
      "(CAST(2 AS BIGINT), CAST(20 AS BIGINT)), " +
      "(CAST(3 AS BIGINT), CAST(30 AS BIGINT))", t)
    GraftSql.exec(spark,
      "INSERT INTO t SELECT k + 10 AS k, v AS v FROM t WHERE k = 1", t)
    assert(vt.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (11L, 10L)))
    GraftSql.exec(spark, "RESTORE TABLE t TO VERSION AS OF 0", t)
    assert(vt.read().as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
    val hist = GraftSql.exec(spark, "DESCRIBE HISTORY t", t)
    assert(hist.columns.toSeq ===
      Seq("version", "timestamp", "operation", "numRows"))
    assert(hist.count() >= 4)
    GraftSql.exec(spark, "OPTIMIZE t", t)
    val dry = GraftSql.exec(spark, "VACUUM t DRY RUN", t)
    assert(dry.columns.toSeq === Seq("kind", "target"))
    assert(vt.read().as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
    // bare VALUES (no column list) binds positionally to the schema
    GraftSql.exec(spark, "INSERT INTO t VALUES (CAST(7 AS BIGINT), " +
      "CAST(70 AS BIGINT))", t)
    assert(vt.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (7L, 70L)))
    // RETAIN + DRY RUN would report the WRONG policy: refuse loudly
    val e = intercept[RuntimeException] {
      GraftSql.exec(spark, "VACUUM t RETAIN 168 HOURS DRY RUN", t)
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("exec: ALTER TABLE family — rename/drop/add column and CHECK " +
      "constraints, all metadata-only commits") {
    val root = Fixtures.tempDir("graft-sql-alter") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "s"))
    val t = Map("t" -> root)
    GraftSql.exec(spark, "ALTER TABLE t RENAME COLUMN v TO amount", t)
    assert(vt.read().columns.toSeq === Seq("k", "amount", "s"))
    GraftSql.exec(spark,
      "ALTER TABLE t ADD COLUMN src STRING DEFAULT 'seed'", t)
    assert(vt.read().select("src").distinct().as[String].collect()
      .toSeq === Seq("seed"))
    GraftSql.exec(spark, "ALTER TABLE t DROP COLUMN s", t)
    assert(vt.read().columns.toSeq === Seq("k", "amount", "src"))
    GraftSql.exec(spark,
      "ALTER TABLE t ADD CONSTRAINT amount_pos CHECK (amount > 0)", t)
    intercept[graft.io.ConstraintViolationException] {
      vt.write(Seq((3L, -5L, "x")).toDF("k", "amount", "src"),
        SaveMode.Append)
    }
    GraftSql.exec(spark, "ALTER TABLE t DROP CONSTRAINT amount_pos", t)
    vt.write(Seq((3L, -5L, "x")).toDF("k", "amount", "src"),
      SaveMode.Append)
    assert(vt.read().count() === 3L)
  }

  test("travel reads see DV masks and case-insensitive keywords work") {
    val root = Fixtures.tempDir("graft-sql-dv") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((1L to 10L).map(k => (k, k * 10L)).toDF("k", "v")) // v0
    vt.deleteVectorizedWhere(VersionedTable.NumRange("k", 3, 5).condition) // v1
    val out = GraftSql.sql(spark,
      """SELECT (SELECT count(*) FROM t version as of 1) AS masked,
                (SELECT count(*) FROM t version as of 0) AS full""",
      Map("t" -> root)).as[(Long, Long)].head()
    assert(out === ((7L, 10L)))
  }

  // ─────────────────────── materialized-view DDL ───────────────────────

  test("MATERIALIZED VIEW lifecycle: CREATE registers the rewrite, a " +
      "base DML statement makes it decline (stale -> base plan), " +
      "REFRESH folds the change feed and serves again, DROP unwires") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-mv-ddl") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    // NULL measure via SQL VALUES (a typed Seq can't hold a null Long)
    spark.sql("SELECT grp, CASE WHEN cents = 5 THEN NULL ELSE cents END " +
      "AS cents FROM (SELECT * FROM VALUES ('A', 10L), ('A', 20L), " +
      "('B', 5L), ('B', 9L) AS t(grp, cents))")
      .createOrReplaceTempView("mvddl_seed")
    GraftSql.exec(spark,
      "CREATE TABLE facts AS SELECT * FROM mvddl_seed", cat)
    GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW mv AS
         SELECT grp, sum(cents) AS sum_cents, count(*) AS n,
                count(cents) AS cnt_cents
         FROM facts GROUP BY grp""", cat)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.MvRewrite
    try {
      def q = GraftSql.exec(spark,
        """SELECT grp, sum(cents) AS total, avg(cents) AS mean,
                  count(*) AS n
           FROM facts GROUP BY grp ORDER BY grp""", cat)
      def roots(df: org.apache.spark.sql.DataFrame) =
        graft.plans.MvRewrite.scannedManifestRoots(df)
      // fresh: served from the MV (sum AND avg decompose)
      val served = q
      assert(roots(served).nonEmpty &&
        roots(served).forall(_.endsWith("/mv")), roots(served))
      assert(served.as[(String, Long, Double, Long)].collect().toSeq ===
        Seq(("A", 30L, 15.0, 2L), ("B", 9L, 9.0, 2L)))
      // the ops listing: one fresh MV
      def mvListing = GraftSql.exec(spark, "SHOW MATERIALIZED VIEWS", cat)
        .as[(String, String, Long, Long, Boolean)].collect().toSeq
      assert(mvListing === Seq(("mv", "facts", 0L, 0L, true)))
      // base DML through the SAME SQL session: MV goes stale
      GraftSql.exec(spark,
        "INSERT INTO facts VALUES ('B', 1)", cat)
      assert(mvListing === Seq(("mv", "facts", 0L, 1L, false)),
        "the listing must report the staleness the rewrite acts on")
      val stale = q
      assert(roots(stale).forall(_.endsWith("/facts")),
        "a stale MV must fall back to the base plan")
      assert(stale.as[(String, Long, Double, Long)].collect().toSeq ===
        Seq(("A", 30L, 15.0, 2L), ("B", 10L, 5.0, 3L)))
      // REFRESH: IVM fold over changes(basis, cur), serves again
      GraftSql.exec(spark, "REFRESH MATERIALIZED VIEW mv", cat)
      val again = q
      assert(roots(again).nonEmpty &&
        roots(again).forall(_.endsWith("/mv")), roots(again))
      assert(again.as[(String, Long, Double, Long)].collect().toSeq ===
        Seq(("A", 30L, 15.0, 2L), ("B", 10L, 5.0, 3L)))
      // DELETE the group's last non-null value: count(m) folds the
      // sum back to NULL, a group emptied entirely vanishes
      GraftSql.exec(spark, "DELETE FROM facts WHERE grp = 'A'", cat)
      GraftSql.exec(spark,
        "UPDATE facts SET cents = NULL WHERE cents = 1", cat)
      GraftSql.exec(spark, "REFRESH MATERIALIZED VIEW mv", cat)
      // group A vanished (count reached exactly 0); B's n=3 rows carry
      // sum 9 over cnt_cents=1 non-null value
      val mvRows = cat.table("mv").orderBy("grp")
        .select("grp", "n", "sum_cents", "cnt_cents").collect()
      assert(mvRows.length === 1 && mvRows(0).getString(0) === "B" &&
        mvRows(0).getLong(1) === 3L && mvRows(0).getLong(2) === 9L &&
        mvRows(0).getLong(3) === 1L)
      val afterDel = q
      assert(roots(afterDel).forall(_.endsWith("/mv")))
      assert(afterDel.as[(String, Long, Double, Long)].collect().toSeq ===
        Seq(("B", 9L, 9.0, 3L)))
      // DROP: rewrite unwired, table gone, listing empty
      GraftSql.exec(spark, "DROP MATERIALIZED VIEW mv", cat)
      assert(!cat.exists("mv"))
      assert(roots(q).forall(_.endsWith("/facts")))
      assert(mvListing.isEmpty)
    } finally {
      spark.experimental.extraOptimizations = prev
    }
  }

  test("MATERIALIZED VIEW guards: an alias-less aggregate refused; " +
      "count(*) required; a non-integral sum " +
      "refused; CREATE over an existing name refused") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-mv-guard") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq(("A", 1L, 1.5)).toDF("grp", "cents", "ratio")
      .createOrReplaceTempView("mvguard_seed")
    GraftSql.exec(spark,
      "CREATE TABLE g AS SELECT * FROM mvguard_seed", cat)
    // min/max are ACCEPTED since r17 (scoped re-aggregation) — but
    // every aggregate still needs its alias
    val e1 = intercept[RuntimeException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW m1 AS
         SELECT grp, count(*) AS n, min(cents)
         FROM g GROUP BY grp""", cat) }
    assert(e1.getMessage.contains("min(col) AS name"))
    val e2 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW m2 AS
         SELECT grp, sum(cents) AS s FROM g GROUP BY grp""", cat) }
    assert(e2.getMessage.contains("count(*)"))
    val e3 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW m3 AS
         SELECT grp, sum(ratio) AS s, count(ratio) AS c, count(*) AS n
         FROM g GROUP BY grp""", cat) }
    assert(e3.getMessage.contains("integral"))
    // a sum without its paired non-null count: refused with the fix
    val e3b = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW m3b AS
         SELECT grp, sum(cents) AS s, count(*) AS n
         FROM g GROUP BY grp""", cat) }
    assert(e3b.getMessage.contains("count(cents)"))
    val e4 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW g AS
         SELECT grp, count(*) AS n FROM g GROUP BY grp""", cat) }
    assert(e4.getMessage.contains("already exists"))
    // avg is DERIVED: the refusal teaches the sum+count spelling
    val e5 = intercept[RuntimeException] { GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW m5 AS
         SELECT grp, avg(cents) AS a, count(*) AS n
         FROM g GROUP BY grp""", cat) }
    assert(e5.getMessage.contains("sum(cents)") &&
      e5.getMessage.contains("count(cents)"))
  }

  test("min/max MATERIALIZED VIEW: insert-only deltas fold free " +
      "(no re-aggregation read); a DELETE removing a group's extremum " +
      "re-aggregates ONLY that group (planned files prove the scope " +
      "on a partitioned base); the SELECT stays rewrite-served") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-mv-minmax") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq(("A", 10L), ("A", 20L), ("A", 30L), ("B", 5L), ("B", 15L),
      ("C", 7L)).toDF("grp", "v")
      .createOrReplaceTempView("mvminmax_seed")
    GraftSql.exec(spark, "CREATE TABLE sales PARTITIONED BY (grp) AS " +
      "SELECT * FROM mvminmax_seed", cat)
    GraftSql.exec(spark,
      """CREATE MATERIALIZED VIEW mvx AS
         SELECT grp, count(*) AS n, min(v) AS lo, max(v) AS hi
         FROM sales GROUP BY grp""", cat)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.MvRewrite
    try {
      def q = GraftSql.exec(spark,
        """SELECT grp, min(v) AS lo, max(v) AS hi
           FROM sales GROUP BY grp ORDER BY grp""", cat)
      def roots(df: org.apache.spark.sql.DataFrame) =
        graft.plans.MvRewrite.scannedManifestRoots(df)
      def vals(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Long)].collect().toSeq
      assert(roots(q).nonEmpty && roots(q).forall(_.endsWith("/mvx")))
      assert(vals(q) === Seq(("A", 10L, 30L), ("B", 5L, 15L),
        ("C", 7L, 7L)))
      // insert-only refresh: least/greatest fold, NO base read at all
      GraftSql.exec(spark, "INSERT INTO sales VALUES ('A', 40)", cat)
      GraftSql.exec(spark, "REFRESH MATERIALIZED VIEW mvx", cat)
      assert(graft.sql.MaterializedView.lastReaggRead.isEmpty,
        "an insert-only refresh must not touch the base")
      assert(vals(q) === Seq(("A", 10L, 40L), ("B", 5L, 15L),
        ("C", 7L, 7L)))
      // DELETE the group's max: ONLY grp=A files may be re-read
      GraftSql.exec(spark, "DELETE FROM sales WHERE v = 40", cat)
      GraftSql.exec(spark, "REFRESH MATERIALIZED VIEW mvx", cat)
      val scoped = graft.sql.MaterializedView.lastReaggRead
      assert(scoped.isDefined, "a delete-affected min/max group must " +
        "trigger the scoped re-aggregation")
      val files = scoped.get.inputFiles.toSeq
      assert(files.nonEmpty && files.forall(_.contains("grp=A")),
        s"the re-agg read must plan only grp=A's files, got $files")
      assert(vals(q) === Seq(("A", 10L, 30L), ("B", 5L, 15L),
        ("C", 7L, 7L)))
      assert(roots(q).forall(_.endsWith("/mvx")),
        "the refreshed min/max MV must serve the SELECT")
      // a group emptied entirely vanishes from the summary
      GraftSql.exec(spark, "DELETE FROM sales WHERE grp = 'C'", cat)
      GraftSql.exec(spark, "REFRESH MATERIALIZED VIEW mvx", cat)
      assert(vals(q) === Seq(("A", 10L, 30L), ("B", 5L, 15L)))
      // and min/max survive a rollup: the rewrite still fires on a
      // coarser grouping (min-of-mins over the MV)
      val roll = GraftSql.exec(spark,
        "SELECT min(v) AS lo, max(v) AS hi FROM sales", cat)
      assert(roll.as[(Long, Long)].collect().toSeq === Seq((5L, 30L)))
    } finally spark.experimental.extraOptimizations = prev
  }

  // ──────────────── TRUNCATE / CREATE TABLE(schema) / OVERWRITE ────

  test("TRUNCATE TABLE: one metadata commit empties the snapshot; " +
      "time travel still sees every row; the next INSERT needs no " +
      "re-declaration") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-trunc") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .createOrReplaceTempView("trunc_seed")
    GraftSql.exec(spark, "CREATE TABLE t AS SELECT * FROM trunc_seed",
      cat)
    GraftSql.exec(spark, "TRUNCATE TABLE t", cat)
    val vt = new VersionedTable(spark, cat.rootOf("t"))
    assert(vt.read().count() === 0L)
    assert(vt.read().columns.toSeq === Seq("k", "s"))
    assert(vt.readVersion(0L).count() === 2L, "time travel undoes it")
    assert(vt.history(limit = 1).head.operation === "TRUNCATE")
    GraftSql.exec(spark, "INSERT INTO t VALUES (3, 'c')", cat)
    assert(GraftSql.exec(spark, "SELECT k FROM t", cat)
      .as[Long].collect().toSeq === Seq(3L))
  }

  test("CREATE TABLE with a declared schema: empty v0, INSERT INTO " +
      "it, partitioned layout prunes from birth") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-schema") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark,
      "CREATE TABLE ev (k BIGINT, grp STRING, v BIGINT) " +
        "PARTITIONED BY (grp)", cat)
    assert(cat.exists("ev"))
    val vt = new VersionedTable(spark, cat.rootOf("ev"))
    assert(vt.read().count() === 0L)
    assert(vt.read().schema.fieldNames.toSeq === Seq("k", "grp", "v"))
    assert(vt.partitionColumns === Seq("grp"))
    GraftSql.exec(spark,
      "INSERT INTO ev VALUES (1, 'A', 10), (2, 'B', 20)", cat)
    assert(GraftSql.exec(spark,
      "SELECT k FROM ev WHERE grp = 'B'", cat)
      .as[Long].collect().toSeq === Seq(2L))
    // the hive layout is real: the partition read plans only B
    assert(vt.readMatching(VersionedTable.PartitionEq("grp", "B")).count() === 1L)
  }

  test("INSERT OVERWRITE: full overwrite keeps the layout and the " +
      "history; REPLACE WHERE rewrites ONLY the predicate's " +
      "partitions — the others stay byte-identical (re-referenced)") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-iow") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 30L), (4L, "C", 40L))
      .toDF("k", "grp", "v").createOrReplaceTempView("iow_seed")
    GraftSql.exec(spark, "CREATE TABLE f PARTITIONED BY (grp) AS " +
      "SELECT * FROM iow_seed", cat)
    val vt = new VersionedTable(spark, cat.rootOf("f"))
    val before = vt.manifestEntries(vt.currentVersion.get)
    val untouched = before.filterNot(_.relPath.contains("grp=A"))
      .map(_.relPath).toSet
    assert(untouched.nonEmpty)
    // scoped: replace exactly partition A
    GraftSql.exec(spark, "INSERT OVERWRITE f REPLACE WHERE grp = 'A' " +
      "VALUES (9, 'A', 90)", cat)
    val after = vt.manifestEntries(vt.currentVersion.get)
    assert(after.map(_.relPath).toSet.intersect(untouched) === untouched,
      "files outside the predicate must be RE-REFERENCED, not rewritten")
    assert(GraftSql.exec(spark, "SELECT k FROM f ORDER BY k", cat)
      .as[Long].collect().toSeq === Seq(3L, 4L, 9L))
    // a frame violating the predicate is refused up front
    val e = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "INSERT OVERWRITE f REPLACE WHERE grp = 'A' VALUES (8, 'B', 80)",
      cat) }
    assert(e.getMessage.contains("outside the replace predicate"))
    // full overwrite: layout preserved, history travels
    GraftSql.exec(spark, "INSERT OVERWRITE f VALUES (7, 'D', 70)", cat)
    assert(vt.read().count() === 1L)
    assert(vt.partitionColumns === Seq("grp"))
    assert(vt.readVersion(1L).count() === 3L)
    assert(vt.history(limit = 1).head.operation === "INSERT OVERWRITE")
  }

  test("INSERT OVERWRITE REPLACE WHERE on a NON-partition predicate " +
      "is row-exact: touched files rewrite with their non-matching " +
      "rows preserved, provably-unaffected files re-referenced") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-iow-row") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    // three files striped by k: [1,100], [101,200], [201,300]
    val vt = new VersionedTable(spark, cat.rootOf("t"))
    vt.write((1L to 300L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartitionByRange(3, col("k")))
    val before = vt.manifestEntries(vt.currentVersion.get)
      .map(_.relPath).toSet
    // replace rows 150..160 (inside ONE stripe) with two new rows
    GraftSql.exec(spark, "INSERT OVERWRITE t " +
      "REPLACE WHERE k BETWEEN 150 AND 160 " +
      "VALUES (150, 999), (160, 888)", cat)
    val after = vt.manifestEntries(vt.currentVersion.get)
      .map(_.relPath).toSet
    // stripes the stats prove unaffected are RE-REFERENCED
    assert(before.intersect(after).size >= 1,
      s"expected untouched stripes re-referenced; before=$before " +
        s"after=$after")
    val got = GraftSql.exec(spark,
      "SELECT count(*) AS n, sum(v) AS s FROM t", cat)
      .as[(Long, Long)].head()
    val want = (1L to 300L).filterNot(k => k >= 150 && k <= 160)
      .map(_ * 10L).sum + 999L + 888L
    assert(got === ((300L - 11L + 2L, want)))
    // the touched stripe's non-matching rows survived exactly
    assert(GraftSql.exec(spark,
      "SELECT count(*) AS n FROM t WHERE k BETWEEN 101 AND 149", cat)
      .as[Long].head() === 49L)
  }

  // ───────────────────────── logical views ─────────────────────────

  test("CREATE VIEW round-trip: a named query over CURRENT tables, " +
      "view-on-view expands, SHOW VIEWS lists, DROP VIEW removes; " +
      "travel clauses on a view are refused; cycles fail loudly") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-view") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "B", 30L))
      .toDF("k", "grp", "v").createOrReplaceTempView("view_seed")
    GraftSql.exec(spark, "CREATE TABLE base AS SELECT * FROM view_seed",
      cat)
    GraftSql.exec(spark, "CREATE VIEW bgrp AS " +
      "SELECT grp, sum(v) AS total FROM base GROUP BY grp", cat)
    GraftSql.exec(spark, "CREATE VIEW btop AS " +
      "SELECT grp FROM bgrp WHERE total >= 50", cat)
    assert(GraftSql.exec(spark, "SHOW VIEWS", cat)
      .select("name").as[String].collect().toSeq === Seq("bgrp", "btop"))
    assert(GraftSql.exec(spark,
      "SELECT grp, total FROM bgrp ORDER BY grp", cat)
      .as[(String, Long)].collect().toSeq ===
      Seq(("A", 10L), ("B", 50L)))
    assert(GraftSql.exec(spark, "SELECT grp FROM btop", cat)
      .as[String].collect().toSeq === Seq("B"))
    // a view always reflects the CURRENT base
    GraftSql.exec(spark, "INSERT INTO base VALUES (4, 'A', 90)", cat)
    assert(GraftSql.exec(spark, "SELECT grp FROM btop ORDER BY grp", cat)
      .as[String].collect().toSeq === Seq("A", "B"))
    // travel clause on a view: refused with the reason
    val e1 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "SELECT * FROM bgrp VERSION AS OF 0", cat) }
    assert(e1.getMessage.contains("view"))
    // a view cannot shadow a table, nor CTAS a view
    val e2 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "CREATE VIEW base AS SELECT 1 AS one", cat) }
    assert(e2.getMessage.contains("table"))
    val e3 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "CREATE TABLE bgrp AS SELECT 1 AS one", cat) }
    assert(e3.getMessage.contains("view"))
    // reference cycle: created blind, caught at resolution
    GraftSql.exec(spark, "CREATE VIEW c1 AS SELECT * FROM c2", cat)
    GraftSql.exec(spark, "CREATE VIEW c2 AS SELECT grp FROM c1", cat)
    val e4 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "SELECT * FROM c1", cat) }
    assert(e4.getMessage.contains("cycle"))
    GraftSql.exec(spark, "DROP VIEW btop", cat)
    assert(!cat.isView("btop") && cat.isView("bgrp"))
  }

  test("DROP TABLE and RENAME on an MV keep the rewrite registry " +
      "clean: drop deregisters, rename re-keys onto the new root") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-mvleak") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq(("A", 1L), ("B", 2L)).toDF("grp", "v")
      .createOrReplaceTempView("mvleak_seed")
    GraftSql.exec(spark, "CREATE TABLE b AS SELECT * FROM mvleak_seed",
      cat)
    GraftSql.exec(spark, "CREATE MATERIALIZED VIEW m AS " +
      "SELECT grp, count(*) AS n FROM b GROUP BY grp", cat)
    def roots = graft.sql.MaterializedView.registeredRoots
    assert(roots.contains(cat.rootOf("m")))
    // RENAME re-keys the registration
    GraftSql.exec(spark, "ALTER TABLE m RENAME TO m2", cat)
    assert(!roots.contains(cat.rootOf("m")) &&
      roots.contains(cat.rootOf("m2")))
    // plain DROP TABLE (not DROP MATERIALIZED VIEW) deregisters too
    GraftSql.exec(spark, "DROP TABLE m2", cat)
    assert(!roots.contains(cat.rootOf("m2")))
  }

  // ───────────────────────── INSERT guards ─────────────────────────

  test("INSERT column list: unlisted columns take their DEFAULT or " +
      "NULL when nullable; a non-nullable default-less omission, a " +
      "typo, and a duplicate name all fail clearly up front") {
    val root = Fixtures.tempDir("graft-sql-insert") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, "a", Some(10L))).toDF("k", "s", "v")) // v nullable
    vt.addColumnWithDefault("tag",
      org.apache.spark.sql.types.StringType, "'untagged'")
    val t = Map("t" -> root)
    // subset list: v unlisted -> NULL (nullable), tag -> its default
    GraftSql.exec(spark, "INSERT INTO t (k, s) VALUES (2, 'b')", t)
    val r = vt.read().filter(col("k") === 2L)
      .select("s", "v", "tag").collect().head
    assert(r.getString(0) === "b" && r.isNullAt(1) &&
      r.getString(2) === "untagged")
    val e1 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "INSERT INTO t (k, nosuch) VALUES (3, 'x')", t) }
    assert(e1.getMessage.contains("unknown column 'nosuch'"))
    val e2 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "INSERT INTO t (k, k) VALUES (3, 4)", t) }
    assert(e2.getMessage.contains("duplicate column in INSERT list"))
    // omitting a NON-NULLABLE default-less column refuses (writing
    // NULL there would round-trip as 0)
    val root2 = Fixtures.tempDir("graft-sql-insert2") + "/tbl"
    val vt2 = new VersionedTable(spark, root2)
    vt2.write(Seq((1L, 10L)).toDF("k", "v")) // both non-nullable
    val e3 = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      "INSERT INTO t2 (k) VALUES (2)", Map("t2" -> root2)) }
    assert(e3.getMessage.contains("not nullable"))
  }

  // ─────────────────── script comments and CASE THEN ───────────────────

  test("execScript: ';' inside line and block comments never splits " +
      "a statement") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-comments") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq((1L, "x")).toDF("k", "s").createOrReplaceTempView("cmt_seed")
    val out = GraftSql.execScript(spark,
      """-- leading comment; with a semicolon
         CREATE TABLE c AS SELECT * FROM cmt_seed; /* block; comment;
         spanning lines */ INSERT INTO c VALUES (2, 'y'); -- tail; note
         SELECT count(*) AS n FROM c""", cat)
    assert(out.as[Long].head() === 2L)
  }

  test("MERGE USING (subquery) AS s: the source SELECT runs through " +
      "the catalog-aware sql(), alias mandatory") {
    val root = Fixtures.tempDir("graft-sql-subq") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    Seq((1L, 100L), (3L, 300L), (4L, 999L)).toDF("k", "v")
      .createOrReplaceTempView("subq_feed")
    GraftSql.exec(spark,
      """MERGE INTO t USING (SELECT k, v FROM subq_feed WHERE v < 500)
           AS s ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("t" -> root))
    assert(vt.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 100L), (2L, 20L), (3L, 300L)))
    val e = intercept[IllegalArgumentException] { GraftSql.exec(spark,
      """MERGE INTO t USING (SELECT k, v FROM subq_feed) ON t.k = k
         WHEN MATCHED THEN DELETE""",
      Map("t" -> root)) }
    assert(e.getMessage.contains("requires an alias"))
  }

  test("MERGE: a CASE ... THEN inside a clause condition does not " +
      "split the clause at the wrong THEN") {
    val root = Fixtures.tempDir("graft-sql-casethen") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    Seq((1L, 11L), (2L, 21L), (9L, 99L)).toDF("k", "v")
      .createOrReplaceTempView("casethen_src")
    GraftSql.exec(spark,
      """MERGE INTO t USING casethen_src AS s ON t.k = s.k
         WHEN MATCHED AND CASE WHEN s.v > 15 THEN true ELSE false END
           THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""",
      Map("t" -> root))
    assert(vt.read().orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 11L), (3L, 30L), (9L, 99L))) // 2 deleted, 1 updated, 1 inserted
  }

  // ───────────────────────── SQL tier 3 ─────────────────────────

  test("CREATE TABLE ... CLONE: shallow + VERSION AS OF pins the " +
      "historical snapshot; unqualified CLONE is deep and survives " +
      "source mutation") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-clone") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark,
      "CREATE TABLE src AS SELECT id AS k, id * 10 AS v FROM range(10)",
      cat)
    GraftSql.exec(spark, "INSERT INTO src VALUES (100, 1000)", cat) // v1
    // shallow clone pinned at v0: 10 rows, O(metadata) commit
    GraftSql.exec(spark,
      "CREATE TABLE snap SHALLOW CLONE src VERSION AS OF 0", cat)
    assert(GraftSql.exec(spark, "SELECT count(*) AS n FROM snap", cat)
      .as[Long].head() === 10L)
    // deep clone of current: owns its bytes; a post-clone DELETE on
    // the source must not leak through
    GraftSql.exec(spark, "CREATE TABLE copy DEEP CLONE src", cat)
    GraftSql.exec(spark, "DELETE FROM src WHERE k >= 5", cat)
    assert(GraftSql.exec(spark, "SELECT count(*) AS n FROM copy", cat)
      .as[Long].head() === 11L)
    // unqualified CLONE defaults to DEEP (Delta's default): 11 rows
    // minus the 6 just deleted (k in 5..9 and 100)
    GraftSql.exec(spark, "CREATE TABLE copy2 CLONE src", cat)
    assert(GraftSql.exec(spark, "SELECT count(*) AS n FROM copy2", cat)
      .as[Long].head() === 5L)
    // destination collision refused
    val e = intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "CREATE TABLE copy CLONE src", cat) }
    assert(e.getMessage.contains("already exists"))
  }

  test("SHOW CREATE TABLE renders a re-runnable statement for a " +
      "table, a view, and a materialized view") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-showcreate") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark,
      "CREATE TABLE t (k BIGINT NOT NULL, v BIGINT, dt STRING) " +
        "PARTITIONED BY (dt)", cat)
    val tStmt = GraftSql.exec(spark, "SHOW CREATE TABLE t", cat)
      .as[String].head()
    assert(tStmt.contains("CREATE TABLE t (") &&
      tStmt.contains("PARTITIONED BY (dt)") &&
      tStmt.toUpperCase.contains("K BIGINT NOT NULL"))
    GraftSql.exec(spark,
      "CREATE VIEW tv AS SELECT k FROM t WHERE v > 0", cat)
    assert(GraftSql.exec(spark, "SHOW CREATE TABLE tv", cat)
      .as[String].head() ===
      "CREATE VIEW tv AS SELECT k FROM t WHERE v > 0")
    GraftSql.exec(spark, "INSERT INTO t VALUES (1, 2, 'a')", cat)
    GraftSql.exec(spark, "CREATE MATERIALIZED VIEW mv AS " +
      "SELECT dt, sum(v) AS sv, count(v) AS cv, count(*) AS n " +
      "FROM t GROUP BY dt", cat)
    val mvStmt = GraftSql.exec(spark, "SHOW CREATE TABLE mv", cat)
      .as[String].head()
    assert(mvStmt.startsWith("CREATE MATERIALIZED VIEW mv AS SELECT") &&
      mvStmt.contains("sum(v) AS sv") && mvStmt.contains("GROUP BY dt"))
  }

  test("DESCRIBE TABLE lists columns with types and the partition " +
      "section; DESCRIBE HISTORY/DETAIL still route distinctly") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-describe") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark,
      "CREATE TABLE d (k BIGINT, s STRING, dt STRING) " +
        "PARTITIONED BY (dt)", cat)
    val rows = GraftSql.exec(spark, "DESCRIBE TABLE d", cat)
      .as[(String, String, String)].collect().toSeq
    assert(rows.take(3).map(r => (r._1, r._2)) ===
      Seq(("k", "bigint"), ("s", "string"), ("dt", "string")))
    assert(rows.exists(_._1 == "# Partition Information") &&
      rows.last === (("dt", "string", null)))
    // the bare form works too, and HISTORY/DETAIL are untouched
    assert(GraftSql.exec(spark, "DESCRIBE d", cat).count() === rows.size)
    assert(GraftSql.exec(spark, "DESCRIBE HISTORY d", cat).count() >= 1)
    assert(GraftSql.exec(spark, "DESCRIBE DETAIL d", cat)
      .columns.contains("numFiles"))
  }

  test("REORG TABLE ... APPLY (PURGE) drops DV-masked rows " +
      "physically via SQL") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-reorg") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    GraftSql.exec(spark,
      "CREATE TABLE r AS SELECT id AS k FROM range(100)", cat)
    GraftSql.exec(spark, "DELETE FROM r WHERE k < 40", cat)
    val vt = new VersionedTable(spark, cat.rootOf("r"))
    assert(vt.manifestEntries(vt.currentVersion.get)
      .exists(_.dvDir.isDefined))
    GraftSql.exec(spark, "REORG TABLE r APPLY (PURGE)", cat)
    assert(!vt.manifestEntries(vt.currentVersion.get)
      .exists(_.dvDir.isDefined))
    assert(GraftSql.exec(spark, "SELECT count(*) AS n FROM r", cat)
      .as[Long].head() === 60L)
  }

  test("ALTER TABLE ... ALTER COLUMN ... TYPE widens int->bigint as " +
      "one metadata commit; narrow files read up-cast; time travel " +
      "sees the narrow type; narrowing is refused") {
    import graft.sql.GraftCatalog
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val wh = Fixtures.tempDir("graft-sql-widen") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    val vt = new VersionedTable(spark, cat.rootOf("w"))
    vt.write(Seq((1, 10L), (2, 20L)).toDF("k", "v")) // k is int, v0
    val filesBefore = vt.manifestEntries(0L).map(_.relPath).toSet
    GraftSql.exec(spark, "ALTER TABLE w ALTER COLUMN k TYPE BIGINT", cat)
    // metadata-only: same files, wider schema, values intact
    assert(vt.manifestEntries(vt.currentVersion.get)
      .map(_.relPath).toSet === filesBefore)
    val df = vt.read()
    assert(df.schema("k").dataType === LongType)
    assert(df.orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
    assert(vt.readVersion(0L).schema("k").dataType === IntegerType)
    // appends now write the wide type natively; totals stay exact
    GraftSql.exec(spark,
      "INSERT INTO w VALUES (4000000000, 40)", cat)
    assert(GraftSql.exec(spark,
      "SELECT sum(k) AS s FROM w", cat).as[Long].head() ===
      4000000003L)
    // stats pruning still fires on the widened column
    GraftSql.exec(spark, "DELETE FROM w WHERE k > 3000000000", cat)
    assert(GraftSql.exec(spark, "SELECT count(*) AS n FROM w", cat)
      .as[Long].head() === 2L)
    val e = intercept[RuntimeException] { GraftSql.exec(spark,
      "ALTER TABLE w ALTER COLUMN v TYPE INT", cat) }
    assert(e.getMessage.contains("widens"))
  }

  test("SHOW PARTITIONS from the manifest, SHOW COLUMNS, and EXPLAIN " +
      "of a travel-aware query") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-showp") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "dt")
      .createOrReplaceTempView("showp_seed")
    GraftSql.exec(spark, "CREATE TABLE p PARTITIONED BY (dt) AS " +
      "SELECT * FROM showp_seed", cat)
    assert(GraftSql.exec(spark, "SHOW PARTITIONS p", cat)
      .as[String].collect().toSeq === Seq("dt=a", "dt=b"))
    assert(GraftSql.exec(spark, "SHOW COLUMNS FROM p", cat)
      .as[String].collect().toSet === Set("k", "dt"))
    val plan = GraftSql.exec(spark,
      "EXPLAIN SELECT k FROM p WHERE dt = 'a'", cat).as[String].head()
    assert(plan.contains("Scan") && plan.contains("k"))
    GraftSql.exec(spark, "CREATE TABLE flat AS SELECT 1 AS x", cat)
    val e = intercept[IllegalArgumentException] {
      GraftSql.exec(spark, "SHOW PARTITIONS flat", cat) }
    assert(e.getMessage.contains("not a partitioned table"))
  }

  test("CONVERT TO DELTA adopts a plain-parquet catalog directory " +
      "in place, partition layout preserved") {
    import graft.sql.GraftCatalog
    val wh = Fixtures.tempDir("graft-sql-convert") + "/wh"
    val cat = new GraftCatalog(spark, wh)
    // a pre-existing plain parquet lake at the catalog root
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "dt")
      .write.partitionBy("dt").parquet(cat.rootOf("legacy"))
    GraftSql.exec(spark,
      "CONVERT TO DELTA legacy PARTITIONED BY (dt)", cat)
    assert(GraftSql.exec(spark,
      "SELECT count(*) AS n FROM legacy WHERE dt = 'a'", cat)
      .as[Long].head() === 2L)
    // versioned semantics from v0 on: DML works over adopted files
    GraftSql.exec(spark, "DELETE FROM legacy WHERE k = 1", cat)
    assert(GraftSql.exec(spark,
      "SELECT count(*) AS n FROM legacy", cat).as[Long].head() === 2L)
  }
}
