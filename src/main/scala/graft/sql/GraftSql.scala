package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ANSI SQL entry point over VERSIONED tables, with TIME TRAVEL
  * clauses (Delta SQL's `SELECT ... FROM tbl VERSION AS OF n` /
  * `FROM tbl TIMESTAMP AS OF 'ts'`, which delta-spark wires through
  * its catalog): a small pre-parse resolves each travel clause
  * against [[graft.io.VersionedTable]] — the historical snapshot is
  * registered as a temp view planned from ITS OWN manifest (zero
  * data movement, the ordinary S4 read) and the clause text rewrites
  * to that view name — then the query runs through `spark.sql`
  * unchanged. Aliases and the rest of the statement are untouched,
  * so the SAME SQL string a Delta user runs works here modulo
  * nothing.
  *
  * Scope: travel clauses are recognized on the registered table
  * names only (word-bounded, case-insensitive keywords), the
  * pragmatic subset Spark's parser cannot natively resolve; a
  * registered name WITHOUT a clause binds to the current snapshot.
  * Versions/timestamps are validated by the underlying reads (a
  * missing version fails with the S4 error, not a parse error).
  *
  * Scale: each view is a manifest-planned scan — partition pruning,
  * stats skipping, and DV masks all apply exactly as the API read;
  * the rewrite itself is O(|SQL|) driver-side string work. */
object GraftSql {

  private val ident = "[A-Za-z_][A-Za-z0-9_]*"

  // statement grammars — compiled once at object init, not per call
  private val deleteRe =
    s"(?is)^DELETE\\s+FROM\\s+($ident)(\\s+WHERE\\s+.*)?$$".r
  private val updateRe = s"(?is)^UPDATE\\s+($ident)\\s+SET\\s+(.*)$$".r
  private val insertRe =
    s"(?is)^INSERT\\s+INTO\\s+($ident)\\s*(?:\\(([^)]*)\\)\\s*)?(.+)$$".r
  private val restoreVRe = (s"(?is)^RESTORE\\s+(?:TABLE\\s+)?($ident)\\s+TO\\s+" +
    "VERSION\\s+AS\\s+OF\\s+(\\d+)$").r
  private val restoreTRe = (s"(?is)^RESTORE\\s+(?:TABLE\\s+)?($ident)\\s+TO\\s+" +
    "TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'$").r
  private val optimizeRe = (s"(?is)^OPTIMIZE\\s+($ident)" +
    "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?$").r
  private val optimizeWhereRe = (s"(?is)^OPTIMIZE\\s+($ident)\\s+WHERE" +
    s"\\s+($ident)\\s*(?:=\\s*'([^']*)'|IN\\s*\\(([^)]*)\\))$$").r
  private val vacuumRe = (s"(?is)^VACUUM\\s+($ident)" +
    "(?:\\s+RETAIN\\s+([0-9.]+)\\s+HOURS)?(\\s+DRY\\s+RUN)?$").r
  private val historyRe = s"(?is)^DESCRIBE\\s+HISTORY\\s+($ident)$$".r
  private val detailRe = s"(?is)^DESCRIBE\\s+DETAIL\\s+($ident)$$".r
  private val describeRe = s"(?is)^DESCRIBE\\s+(?:TABLE\\s+)?($ident)$$".r
  private val showPartsRe = s"(?is)^SHOW\\s+PARTITIONS\\s+($ident)$$".r
  private val showColsRe =
    s"(?is)^SHOW\\s+COLUMNS\\s+(?:FROM|IN)\\s+($ident)$$".r
  private val explainRe = "(?is)^EXPLAIN\\s+(.+)$".r
  private val reorgRe = (s"(?is)^REORG\\s+TABLE\\s+($ident)\\s+APPLY" +
    "\\s*\\(\\s*PURGE\\s*\\)$").r
  private val alterWidenRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+ALTER" +
    s"\\s+COLUMN\\s+($ident)\\s+TYPE\\s+([A-Za-z0-9_()<>, ]+?)\\s*$$").r
  private val alterRenameRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+RENAME" +
    s"\\s+COLUMN\\s+($ident)\\s+TO\\s+($ident)$$").r
  private val alterDropColRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+DROP" +
    s"\\s+COLUMN\\s+($ident)$$").r
  private val alterAddColRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+ADD" +
    s"\\s+COLUMN\\s+($ident)\\s+([A-Za-z0-9_()<>, ]+?)" +
    "\\s+DEFAULT\\s+(.+)$").r
  private val alterAddConRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+ADD" +
    s"\\s+CONSTRAINT\\s+($ident)\\s+CHECK\\s*\\((.*)\\)$$").r
  private val alterDropConRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)\\s+DROP" +
    s"\\s+CONSTRAINT\\s+($ident)$$").r
  private val mergeHeadRe = (s"(?is)^MERGE\\s+INTO\\s+($ident)" +
    s"(?:\\s+(?:AS\\s+)?($ident))?\\s+USING\\s+(.*)$$").r
  private val mergeTailRe =
    s"(?is)^\\s*(?:(?:AS\\s+)?($ident)\\s+)?ON\\s+(.*?)\\s+(WHEN\\s+.*)$$".r
  private val ctasRe = (s"(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+($ident)" +
    "(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?\\s+AS\\s+(.*)$").r
  // two forms: the mandatory-PARTITIONED one first, because a greedy
  // column-list group would otherwise swallow an optional clause
  private val createSchemaPartRe = (s"(?is)^CREATE\\s+TABLE\\s+($ident)" +
    "\\s*\\((.*)\\)\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\)\\s*$").r
  private val createSchemaRe = (s"(?is)^CREATE\\s+TABLE\\s+($ident)" +
    "\\s*\\((.*)\\)\\s*$").r
  private val dropRe = s"(?is)^DROP\\s+TABLE\\s+($ident)$$".r
  private val truncateRe = s"(?is)^TRUNCATE\\s+TABLE\\s+($ident)$$".r
  private val insertOverwriteRe =
    s"(?is)^INSERT\\s+OVERWRITE\\s+(?:TABLE\\s+)?($ident)\\s+(.*)$$".r
  private val cloneRe = (s"(?is)^CREATE\\s+TABLE\\s+($ident)\\s+" +
    s"(?:(SHALLOW|DEEP)\\s+)?CLONE\\s+($ident)" +
    "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)" +
    "|\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')?$").r
  private val convertRe = (s"(?is)^CONVERT\\s+TO\\s+(?:DELTA|GRAFT)" +
    s"\\s+($ident)(?:\\s+PARTITIONED\\s+BY\\s*\\(([^)]*)\\))?$$").r
  private val showCreateRe =
    s"(?is)^SHOW\\s+CREATE\\s+TABLE\\s+($ident)$$".r
  private val createViewRe = (s"(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?" +
    s"VIEW\\s+($ident)\\s+AS\\s+(.*)$$").r
  private val dropViewRe = s"(?is)^DROP\\s+VIEW\\s+($ident)$$".r
  private val showViewsRe = "(?is)^SHOW\\s+VIEWS$".r
  private val createMvRe = (s"(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
    s"($ident)\\s+AS\\s+(.*)$$").r
  private val refreshMvRe =
    s"(?is)^REFRESH\\s+MATERIALIZED\\s+VIEW\\s+($ident)$$".r
  private val dropMvRe =
    s"(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+($ident)$$".r
  private val showMvRe = "(?is)^SHOW\\s+MATERIALIZED\\s+VIEWS$".r
  private val alterTableRenameRe = (s"(?is)^ALTER\\s+TABLE\\s+($ident)" +
    s"\\s+RENAME\\s+TO\\s+($ident)$$").r
  private val showRe = "(?is)^SHOW\\s+TABLES$".r
  private val srcColRe = (s"(?is)^($ident)\\.($ident)$$").r
  private val nmbsHeadRe = "(?is)^NOT\\s+MATCHED\\s+BY\\s+SOURCE\\b(.*)$".r
  private val nmtHeadRe =
    "(?is)^NOT\\s+MATCHED(?:\\s+BY\\s+TARGET)?\\b(.*)$".r
  private val matchedHeadRe = "(?is)^MATCHED\\b(.*)$".r

  /** Run `query`, resolving `VERSION AS OF` / `TIMESTAMP AS OF`
    * clauses on the table names in `versionedTables` (name → table
    * root). Every registered name is also bound (current snapshot)
    * for clause-free references. */
  def sql(spark: SparkSession, query: String,
      versionedTables: Map[String, String]): DataFrame = {
    var q = query
    versionedTables.foreach { case (name, root) =>
      require(name.matches(ident), s"table name must be an identifier: $name")
      // bind ONLY names the statement references: rebinding every
      // registered table would clobber same-named user temp views as
      // a side effect of statements that never mention them
      val mentioned = ("(?i)(?<![A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(name) + "(?![A-Za-z0-9_])").r
        .findFirstIn(q).isDefined
      if (mentioned) {
        val vt = new graft.io.VersionedTable(spark, root)
        val verRe = ("(?i)\\b" + java.util.regex.Pattern.quote(name) +
          "\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)").r
        q = verRe.replaceAllIn(q, m => {
          val v = m.group(1).toLong
          val view = s"${name}__v$v"
          vt.readVersion(v).createOrReplaceTempView(view)
          view
        })
        val tsRe = ("(?i)\\b" + java.util.regex.Pattern.quote(name) +
          "\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'").r
        q = tsRe.replaceAllIn(q, m => {
          val ts = m.group(1)
          val view = s"${name}__ts${ts.replaceAll("[^0-9]", "")}"
          vt.readAsOf(ts).createOrReplaceTempView(view)
          view
        })
        // table_changes('t', from[, to]) — Databricks SQL's CDF TVF:
        // INCLUSIVE version bounds, rows carry _change_type +
        // _commit_version + _commit_timestamp; `to` defaults to current
        val tcRe = ("(?i)\\btable_changes\\s*\\(\\s*'" +
          java.util.regex.Pattern.quote(name) +
          "'\\s*,\\s*(\\d+)\\s*(?:,\\s*(\\d+)\\s*)?\\)").r
        q = tcRe.replaceAllIn(q, m => {
          val from = m.group(1).toLong
          val to = Option(m.group(2)).map(_.toLong)
            .getOrElse(vt.currentVersion.getOrElse(sys.error(
              s"table $root does not exist")))
          val view = s"${name}__changes_${from}_$to"
          vt.changes(from - 1, to, commitMeta = true)
            .createOrReplaceTempView(view)
          view
        })
        // timestamp form: table_changes('t', 'fromTs'[, 'toTs']) — the
        // start rounds FORWARD, the end BACK (Delta's inclusive rule);
        // an omitted `toTs` is the end of time, which rounds back to the
        // newest commit
        val tcTsRe = ("(?i)\\btable_changes\\s*\\(\\s*'" +
          java.util.regex.Pattern.quote(name) +
          "'\\s*,\\s*'([^']+)'\\s*(?:,\\s*'([^']+)'\\s*)?\\)").r
        q = tcTsRe.replaceAllIn(q, m => {
          val fromTs = m.group(1)
          val view = s"${name}__changes_ts" +
            (fromTs + Option(m.group(2)).getOrElse(""))
              .replaceAll("[^0-9]", "")
          vt.changesBetweenTimestamps(fromTs,
              Option(m.group(2)).getOrElse(java.time.Instant.MAX.toString),
              commitMeta = true)
            .createOrReplaceTempView(view)
          view
        })
        vt.read().createOrReplaceTempView(name)
      }
    }
    spark.sql(q)
  }

  // ───────────────────────── DML / utility statements ─────────────────────

  /** Run ONE SQL statement — DML and utility commands routed to the
    * versioned-table kernels, anything else through [[sql]]:
    *
    *   - `DELETE FROM t [WHERE pred]` →
    *     [[graft.io.VersionedTable.deleteVectorizedWhere]] (DV masks,
    *     O(deleted rows) writes, predicate-derived data skipping)
    *   - `UPDATE t SET c = e, ... [WHERE pred]` →
    *     [[graft.io.VersionedTable.updateVectorizedWhere]]
    *   - `MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k [AND ...]
    *      WHEN MATCHED [AND c] THEN UPDATE SET * | SET x = b.x, ...
    *      WHEN MATCHED [AND c] THEN DELETE
    *      WHEN NOT MATCHED [AND c] THEN INSERT *
    *      WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE | UPDATE SET ...`
    *     → [[graft.io.VersionedTable.mergeClausesVectorized]] (the DV
    *     clause merge). The ON condition must be a conjunction of
    *     alias-qualified same-name key equalities; matched UPDATE
    *     assignments must be `x = <source alias>.x` (the DV path's
    *     update-columns contract); NMBS assignments are arbitrary
    *     expressions over the target alias. `USING s` takes a
    *     registered versioned name, an existing temp view, or a
    *     parenthesized subquery with a mandatory alias
    *     (`USING (SELECT ...) AS s` — travel clauses inside resolve;
    *     parentheses nest one level).
    *   - `INSERT INTO t [(cols)] SELECT ... | VALUES ...` → append
    *   - `RESTORE [TABLE] t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'`
    *   - `OPTIMIZE t [ZORDER BY (c1, c2)]` → compact / Z-order rewrite
    *   - `VACUUM t [RETAIN h HOURS] [DRY RUN]`
    *   - `DESCRIBE HISTORY t`
    *
    * DML statements return a one-row status frame `(operation,
    * version)` — the freshly committed version, Delta's metrics-frame
    * shape; `DESCRIBE HISTORY` and `VACUUM ... DRY RUN` return their
    * listings. Keywords are case-insensitive; a trailing `;` is
    * tolerated. The subset is the pragmatic one (no quoted
    * identifiers, one statement per call) — everything it does NOT
    * recognize, including every query, falls through to [[sql]]
    * untouched.
    *
    * Scale: each route is the corresponding kernel — DELETE/UPDATE/
    * MERGE write O(changed rows) via deletion vectors with
    * stats-pruned candidate sets, INSERT is an ordinary append
    * commit, and the parse itself is O(|SQL|) driver-side. */
  def exec(spark: SparkSession, statement: String,
      versionedTables: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit}
    val st = statement.trim.stripSuffix(";").trim
    def vtOf(name: String): graft.io.VersionedTable =
      new graft.io.VersionedTable(spark,
        versionedTables.getOrElse(name, sys.error(
          s"'$name' is not a registered versioned table")))
    def status(op: String, version: Long): DataFrame = {
      import spark.implicits._
      Seq((op, version)).toDF("operation", "version")
    }

    st match {
      case deleteRe(name, whereOpt) =>
        val vt = vtOf(name)
        val pred = Option(whereOpt)
          .map(w => expr(w.trim.replaceFirst("(?is)^WHERE\\s+", "")))
          .getOrElse(lit(true))
        status("DELETE", vt.deleteVectorizedWhere(pred))
      case updateRe(name, rest) =>
        val vt = vtOf(name)
        val wIdx = topIndexOf(rest, "WHERE")
        val (setPart, predTxt) =
          if (wIdx < 0) (rest, "true")
          else (rest.substring(0, wIdx), rest.substring(wIdx + 5))
        val set = splitTop(setPart).map { a =>
          val i = a.indexOf('=')
          require(i > 0, s"malformed SET assignment: $a")
          a.substring(0, i).trim -> expr(a.substring(i + 1).trim)
        }.toMap
        status("UPDATE", vt.updateVectorizedWhere(expr(predTxt), set))
      case mergeHeadRe(tName, tAliasOpt, usingTail) =>
        val (sName, tail) = mergeSource(usingTail.trim)
        tail match {
          case mergeTailRe(sAliasOpt, onTxt, clausesTxt) =>
            status("MERGE", execMerge(spark, versionedTables, tName,
              Option(tAliasOpt), sName, Option(sAliasOpt), onTxt,
              clausesTxt))
          case other => sys.error("MERGE expects `USING <src> [AS a] " +
            s"ON <cond> WHEN ...`, got after the source: $other")
        }
      case truncateRe(name) =>
        status("TRUNCATE", vtOf(name).truncate())
      case insertOverwriteRe(name, rest0) =>
        val vt = vtOf(name)
        val rest = rest0.trim
        val upper = rest.toUpperCase
        // Databricks spells it `REPLACE WHERE`; accept bare WHERE too
        val (predOpt, queryTxt) =
          if (upper.startsWith("REPLACE WHERE") ||
              upper.startsWith("WHERE")) {
            val afterKw = rest.substring(upper.indexOf("WHERE") + 5)
            val cut = Seq(topIndexOf(afterKw, "SELECT"),
              topIndexOf(afterKw, "VALUES")).filter(_ >= 0).sorted
              .headOption.getOrElse(sys.error(
                "INSERT OVERWRITE ... WHERE needs a SELECT or VALUES " +
                  "query after the predicate"))
            (Some(afterKw.substring(0, cut).trim),
              afterKw.substring(cut).trim)
          } else (None, rest)
        val isValues = queryTxt.toUpperCase.startsWith("VALUES")
        val q = if (isValues)
          s"SELECT * FROM ( $queryTxt ) AS __graft_values"
        else queryTxt
        val df0 = sql(spark, q, versionedTables)
        val targetSchema = vt.read().schema
        require(df0.columns.length == targetSchema.length,
          s"INSERT OVERWRITE $name arity ${df0.columns.length} != " +
            s"table arity ${targetSchema.length}")
        val df = df0.toDF(targetSchema.fieldNames.toSeq: _*)
          .select(targetSchema.fields.toSeq.map(f =>
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)): _*)
        predOpt match {
          case Some(p) =>
            status("INSERT OVERWRITE",
              vt.insertOverwriteWhere(df, expr(p)))
          case None =>
            // a full overwrite keeps the table's current layout
            val parts = vt.partitionColumns
            status("INSERT OVERWRITE", vt.write(df,
              org.apache.spark.sql.SaveMode.Overwrite,
              "INSERT OVERWRITE",
              partitionBy = if (parts.nonEmpty) Some(parts) else None))
        }
      case insertRe(name, colsOpt, query0) =>
        val vt = vtOf(name)
        val isValues = query0.trim.toUpperCase.startsWith("VALUES")
        val query = if (isValues)
          s"SELECT * FROM ( ${query0.trim} ) AS __graft_values"
        else query0.trim
        val df0 = sql(spark, query, versionedTables)
        val targetSchema = vt.read().schema
        // SQL's INSERT contract is POSITIONAL (with assignment casts),
        // not by-name: `INSERT INTO t SELECT b, a` puts b into the
        // FIRST column. An explicit column list names the positions;
        // every listed name is validated UP FRONT (a typo must fail
        // here, not as a confusing schema-reconcile error later).
        // Unlisted columns fill with their recorded DEFAULT (M31),
        // else NULL when nullable, else a clear refusal — writing
        // NULL into a non-nullable field would round-trip as garbage
        // (parquet reads a non-nullable long's null slot as 0).
        val boundNames = Option(colsOpt) match {
          case Some(cols) =>
            val names = splitTop(cols)
            val dup = names.diff(names.distinct).distinct
            require(dup.isEmpty,
              s"duplicate column in INSERT list: ${dup.mkString(", ")}")
            names.foreach(c => require(
              targetSchema.fieldNames.contains(c),
              s"INSERT INTO $name names unknown column '$c' " +
                s"(table columns: ${targetSchema.fieldNames.mkString(", ")})"))
            require(df0.columns.length == names.length,
              s"INSERT INTO $name lists ${names.length} column(s) but " +
                s"the query produces ${df0.columns.length}")
            names
          case None =>
            require(df0.columns.length == targetSchema.length,
              s"INSERT INTO $name arity ${df0.columns.length} != " +
                s"table arity ${targetSchema.length}")
            targetSchema.fieldNames.toSeq
        }
        val bound = df0.toDF(boundNames: _*)
        val manifest = vt.currentManifest
        def defaultFor(logical: String): Option[String] = {
          // defaults are keyed by PHYSICAL name (frozen under renames)
          val phys = manifest.mapping.find(_._1 == logical)
            .map(_._2).getOrElse(logical)
          manifest.defaults.find(_._1 == phys).map(_._2)
        }
        val df = bound.select(targetSchema.fields.toSeq.map { f =>
          if (boundNames.contains(f.name))
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)
          else defaultFor(f.name) match {
            case Some(dflt) => expr(dflt).cast(f.dataType).as(f.name)
            case None =>
              require(f.nullable, s"INSERT INTO $name omits column " +
                s"'${f.name}', which is not nullable and has no " +
                "DEFAULT — list it explicitly")
              org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)
          }
        }: _*)
        status("INSERT", vt.write(df, org.apache.spark.sql.SaveMode.Append))
      case restoreVRe(name, v) =>
        val vt = vtOf(name)
        vt.restore(v.toLong)
        status("RESTORE", vt.currentVersion.get)
      case restoreTRe(name, ts) =>
        val vt = vtOf(name)
        vt.restoreToTimestamp(ts)
        status("RESTORE", vt.currentVersion.get)
      case optimizeWhereRe(name, partCol, eqVal, inVals) =>
        // Delta `OPTIMIZE t WHERE part = 'x'`: partition-scoped
        // compaction — selected partitions' files fold, every other
        // partition costs nothing
        val vt = vtOf(name)
        val values: Set[String] = Option(eqVal).map(Set(_)).getOrElse(
          splitTop(inVals).map(_.stripPrefix("'").stripSuffix("'")).toSet)
        status("OPTIMIZE", vt.compactWhere(partCol, values))
      case optimizeRe(name, zColsOpt) =>
        val vt = vtOf(name)
        Option(zColsOpt) match {
          case Some(zc) => graft.maintenance.Maintenance.zOrderBy(spark,
            versionedTables(name), splitTop(zc))
          case None => vt.compact()
        }
        status("OPTIMIZE", vt.currentVersion.get)
      case vacuumRe(name, hoursOpt, dryOpt) =>
        val vt = vtOf(name)
        (Option(hoursOpt), Option(dryOpt)) match {
          case (Some(_), Some(_)) =>
            // refusing beats a dry run that reports the WRONG policy
            // (vacuumDryRun models version-count retention, not hours)
            sys.error("VACUUM ... RETAIN n HOURS DRY RUN is not " +
              "supported: the dry run models version-count retention; " +
              "run the dry run without RETAIN, or the RETAIN vacuum " +
              "directly")
          case (None, Some(_)) =>
            import spark.implicits._
            val (gone, orphans) = vt.vacuumDryRun()
            (gone.map(v => ("version", v.toString)) ++
              orphans.map(p => ("orphan", p)))
              .toDF("kind", "target")
          case (Some(h), None) =>
            vt.vacuumRetainHours(h.toDouble)
            status("VACUUM", vt.currentVersion.get)
          case (None, None) =>
            vt.vacuum()
            status("VACUUM", vt.currentVersion.get)
        }
      case historyRe(name) =>
        import spark.implicits._
        // the FULL history: the default limit (20) would silently
        // truncate a streaming table's audit trail
        vtOf(name).history(limit = Int.MaxValue).map(h =>
          (h.version, h.timestamp, h.operation, h.numRows))
          .toDF("version", "timestamp", "operation", "numRows")
      // ALTER TABLE — the metadata-only DDL family (M14 column
      // mapping, M31 lazy defaults, M17 CHECK constraints): every
      // route is one manifest commit, zero data IO
      case alterRenameRe(name, from, to) =>
        status("ALTER RENAME COLUMN", vtOf(name).renameColumn(from, to))
      case alterDropColRe(name, colName) =>
        status("ALTER DROP COLUMN", vtOf(name).dropColumn(colName))
      case alterAddColRe(name, colName, ddlType, defaultSql) =>
        status("ALTER ADD COLUMN", vtOf(name).addColumnWithDefault(
          colName,
          org.apache.spark.sql.types.DataType.fromDDL(ddlType.trim),
          defaultSql.trim))
      case alterAddConRe(name, conName, check) =>
        status("ALTER ADD CONSTRAINT",
          vtOf(name).addCheckConstraint(conName, check))
      case alterDropConRe(name, conName) =>
        status("ALTER DROP CONSTRAINT",
          vtOf(name).dropCheckConstraint(conName))
      case describeRe(name) =>
        // plain `DESCRIBE [TABLE] t` — Spark's three-column shape,
        // with the partition-information section when partitioned;
        // schema comes from the manifest plan, zero data IO
        val vt = vtOf(name)
        val schema = vt.read().schema
        val partCols = vt.partitionColumns
        val colRows = schema.fields.toSeq.map(f =>
          (f.name, f.dataType.catalogString,
            if (f.nullable) null else "NOT NULL"))
        val partRows =
          if (partCols.isEmpty) Seq.empty
          else ("# Partition Information", "", null) +:
            partCols.map(p =>
              (p, schema(p).dataType.catalogString, null))
        import spark.implicits._
        (colRows ++ partRows).toDF("col_name", "data_type", "comment")
      case reorgRe(name) =>
        // Delta `REORG TABLE ... APPLY (PURGE)` — rewrite only the
        // DV-masked files, dropping soft-deleted rows physically
        status("REORG TABLE APPLY (PURGE)", vtOf(name).reorgPurge())
      case showPartsRe(name) =>
        // `SHOW PARTITIONS t` — hive specs straight from the current
        // manifest's per-entry partition values, zero data IO
        val vt = vtOf(name)
        val v = vt.currentVersion.getOrElse(
          sys.error(s"table $name does not exist"))
        val partCols = vt.partitionColumns
        require(partCols.nonEmpty,
          s"SHOW PARTITIONS: $name is not a partitioned table")
        import spark.implicits._
        vt.manifestEntries(v)
          .map(e => partCols.map(c => s"$c=${e.partitionValues
            .getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}")
            .mkString("/"))
          .distinct.sorted.toDF("partition")
      case showColsRe(name) =>
        import spark.implicits._
        vtOf(name).read().schema.fieldNames.toSeq.toDF("col_name")
      case explainRe(inner) =>
        // `EXPLAIN <query>` — the FORMATTED plan of the travel-aware
        // query (pushed filters, pruned schemas, codegen spans all
        // visible); DML statements are not explainable here
        val df = sql(spark, inner.trim, versionedTables)
        import spark.implicits._
        Seq(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))).toDF("plan")
      case alterWidenRe(name, colName, ddlType) =>
        // Delta type widening's DDL form: metadata-only, int->bigint /
        // float->double, existing files read up-cast natively
        val to = org.apache.spark.sql.types.DataType.fromDDL(ddlType.trim)
        status(s"ALTER COLUMN $colName TYPE ${to.catalogString}",
          vtOf(name).widenColumnType(colName, to))
      case detailRe(name) =>
        // Delta `DESCRIBE DETAIL`: live table stats, straight from the
        // current manifest — zero data IO
        val vt = vtOf(name)
        val v = vt.currentVersion.getOrElse(
          sys.error(s"table $name does not exist"))
        val entries = vt.manifestEntries(v)
        import spark.implicits._
        Seq(("graft", v, entries.size.toLong,
          entries.map(_.bytes).sum, entries.map(_.liveRows).sum,
          entries.count(_.dvDir.isDefined).toLong,
          vt.partitionColumns.mkString(",")))
          .toDF("format", "version", "numFiles", "sizeInBytes",
            "numRows", "numFilesWithDv", "partitionColumns")
      case _ => sql(spark, st, versionedTables)
    }
  }

  /** Run a `;`-separated SQL SCRIPT — each statement through the
    * catalog-aware [[exec]] in order, returning the LAST statement's
    * frame (the bronze→gold pipeline as ONE string). The split is
    * string-literal-safe and COMMENT-safe (line and block comments
    * stripped first — a ';' inside a comment must not split
    * mid-statement); empty statements are skipped. */
  def execScript(spark: SparkSession, script: String,
      catalog: GraftCatalog): DataFrame = {
    val stmts = splitTopChar(stripSqlComments(script), ';')
      .map(_.trim).filter(_.nonEmpty)
    require(stmts.nonEmpty, "empty SQL script")
    stmts.map(s => exec(spark, s, catalog)).last
  }

  /** [[exec]] against a [[GraftCatalog]]: bare table names resolve
    * through the warehouse, plus the DDL a catalog makes meaningful —
    *
    *   - `CREATE [OR REPLACE] TABLE t AS <query>` → the query runs
    *     with every catalog table bound, result committed as `t`'s v0
    *     (or a new version under OR REPLACE)
    *   - `CREATE TABLE t (col type, …) [PARTITIONED BY (…)]` → an
    *     EMPTY v0 with the declared schema (no CTAS inference)
    *   - `DROP TABLE t` → the catalog's purge drop (deregisters a
    *     dropped MV's rewrite)
    *   - `CREATE [OR REPLACE] VIEW v AS <query>` / `DROP VIEW` /
    *     `SHOW VIEWS` → persisted logical views, expanded at
    *     resolution (view-on-view composes; travel clauses refused)
    *   - `SHOW TABLES` → (name, root) listing
    *   - everything else → [[exec]] over the catalog's current tables
    *     (DML, MERGE, INSERT OVERWRITE, TRUNCATE, travel-clause
    *     SELECTs, utilities), with any mentioned views bound first
    *
    * The catalog listing is re-read per statement, so a CTAS in one
    * call is queryable in the next — session-to-session too, since
    * the warehouse directory IS the catalog. */
  def exec(spark: SparkSession, statement: String,
      catalog: GraftCatalog): DataFrame = {
    val st = statement.trim.stripSuffix(";").trim
    st match {
      // MATERIALIZED VIEW DDL — the MV tier's SQL surface (create /
      // refresh / drop route to graft.sql.MaterializedView)
      case createMvRe(name, select) =>
        val v = MaterializedView.create(catalog, name, select.trim)
        import spark.implicits._
        Seq(("CREATE MATERIALIZED VIEW", name, v))
          .toDF("operation", "table", "version")
      case refreshMvRe(name) =>
        val v = MaterializedView.refresh(catalog, name)
        import spark.implicits._
        Seq(("REFRESH MATERIALIZED VIEW", name, v))
          .toDF("operation", "table", "version")
      case dropMvRe(name) =>
        MaterializedView.drop(catalog, name)
        spark.catalog.dropTempView(name)
        import spark.implicits._
        Seq(("DROP MATERIALIZED VIEW", name)).toDF("operation", "table")
      case showMvRe() =>
        import spark.implicits._
        MaterializedView.list(catalog)
          .toDF("name", "base", "basis_version", "base_version", "fresh")
      case alterTableRenameRe(from, to) =>
        catalog.renameTable(from, to)
        // earlier statements may have bound the OLD name as a temp
        // view; a stale view over the moved root must not survive
        spark.catalog.dropTempView(from)
        import spark.implicits._
        Seq(("ALTER TABLE RENAME", from, to))
          .toDF("operation", "table", "renamed_to")
      case cloneRe(dest, kindOpt, src, vOpt, tsOpt) =>
        // Delta `CREATE TABLE dest [SHALLOW|DEEP] CLONE src [VERSION
        // AS OF n | TIMESTAMP AS OF 'ts']` — DEEP when unqualified
        // (Delta's default): the clone owns its bytes. SHALLOW commits
        // a manifest referencing the source's files (O(metadata)).
        require(!catalog.isView(dest),
          s"$dest is a view in ${catalog.warehouse} — DROP VIEW it first")
        require(catalog.exists(src),
          s"clone source $src does not exist in ${catalog.warehouse}")
        val srcVt = new graft.io.VersionedTable(spark, catalog.rootOf(src))
        val asOf: Option[Long] = Option(vOpt).map(_.toLong)
          .orElse(Option(tsOpt).map(srcVt.versionAtTimestamp))
        val shallow = Option(kindOpt).exists(_.equalsIgnoreCase("SHALLOW"))
        if (shallow) srcVt.shallowCloneTo(catalog.rootOf(dest), asOf)
        else srcVt.deepCloneTo(catalog.rootOf(dest), asOf)
        import spark.implicits._
        Seq(((if (shallow) "SHALLOW CLONE" else "DEEP CLONE"), dest, src,
          asOf.getOrElse(srcVt.currentVersion.get)))
          .toDF("operation", "table", "source", "source_version")
      case convertRe(name, partCols) =>
        // `CONVERT TO DELTA t [PARTITIONED BY (...)]` — adopt the
        // plain-parquet directory at the catalog root in place: one
        // manifest write, zero data IO
        val vt = new graft.io.VersionedTable(spark, catalog.rootOf(name))
        val v = vt.convertInPlace(
          Option(partCols).map(splitTop).getOrElse(Seq.empty))
        import spark.implicits._
        Seq(("CONVERT", name, v)).toDF("operation", "table", "version")
      case showCreateRe(name) =>
        val stmt =
          if (catalog.isView(name))
            s"CREATE VIEW $name AS ${catalog.viewSql(name)}"
          else if (MaterializedView.isMaterializedView(catalog, name))
            MaterializedView.createStatement(catalog, name)
          else {
            require(catalog.exists(name),
              s"table $name does not exist in ${catalog.warehouse}")
            val vt = new graft.io.VersionedTable(spark,
              catalog.rootOf(name))
            val part = vt.partitionColumns
            s"CREATE TABLE $name (${vt.read().schema.toDDL})" +
              (if (part.isEmpty) ""
               else s" PARTITIONED BY (${part.mkString(", ")})")
          }
        import spark.implicits._
        Seq(stmt).toDF("createtab_stmt")
      case ctasRe(orReplace, name, partCols, query) =>
        val df = sql(spark, query.trim, catalog.tables)
        val v = catalog.createTable(name, df,
          orReplace = orReplace != null,
          partitionBy = Option(partCols).map(splitTop))
        import spark.implicits._
        Seq(("CREATE TABLE", name, v)).toDF("operation", "table", "version")
      case createSchemaPartRe(name, colDefs, partCols) =>
        val schema =
          org.apache.spark.sql.types.StructType.fromDDL(colDefs.trim)
        val v = catalog.createTableEmpty(name, schema, splitTop(partCols))
        import spark.implicits._
        Seq(("CREATE TABLE", name, v)).toDF("operation", "table", "version")
      case createSchemaRe(name, colDefs) =>
        // CREATE TABLE t (col type, ...) — an empty v0 with the
        // DECLARED schema (NOT NULL honored by the DDL parser)
        val schema =
          org.apache.spark.sql.types.StructType.fromDDL(colDefs.trim)
        val v = catalog.createTableEmpty(name, schema, Seq.empty)
        import spark.implicits._
        Seq(("CREATE TABLE", name, v)).toDF("operation", "table", "version")
      case createViewRe(orReplace, name, select) =>
        catalog.createView(name, select.trim,
          orReplace = orReplace != null)
        import spark.implicits._
        Seq(("CREATE VIEW", name)).toDF("operation", "view")
      case dropViewRe(name) =>
        catalog.dropView(name)
        spark.catalog.dropTempView(name)
        import spark.implicits._
        Seq(("DROP VIEW", name)).toDF("operation", "view")
      case showViewsRe() =>
        import spark.implicits._
        catalog.views.map(v => (v, catalog.viewSql(v)))
          .toDF("name", "definition")
      case dropRe(name) =>
        catalog.dropTable(name)
        // earlier statements registered the name as a temp view; a
        // stale view over deleted files must not outlive the table
        spark.catalog.dropTempView(name)
        import spark.implicits._
        Seq(("DROP TABLE", name)).toDF("operation", "table")
      case showRe() =>
        import spark.implicits._
        catalog.tables.toSeq.sorted.toDF("name", "root")
      case _ =>
        // LOGICAL VIEW expansion: any persisted view this statement
        // mentions binds as a temp view of its (recursively expanded)
        // defining query — always the CURRENT base tables. Travel
        // clauses on a view are refused: a view has no version
        // history of its own.
        catalog.views.filter(v => mentionedIn(v, st)).foreach { v =>
          val travel = ("(?i)(?<![A-Za-z0-9_])" +
            java.util.regex.Pattern.quote(v) +
            "\\s+(VERSION|TIMESTAMP)\\s+AS\\s+OF\\b").r
          require(travel.findFirstIn(st).isEmpty,
            s"time travel is not supported on views: '$v' is a view " +
              "with no version history — travel on the underlying " +
              "table(s) inside the view's query instead")
          bindView(spark, catalog, v, Set(v))
        }
        exec(spark, st, catalog.tables)
    }
  }

  /** Split a MERGE's `USING` tail into (source operand, rest): the
    * operand is either a parenthesized subquery — scanned to ITS
    * matching close, string-literal-aware, so parens inside string
    * literals and arbitrarily nested subselects parse (a fixed
    * nesting-depth regex cannot) — or a bare identifier. */
  private def mergeSource(rest: String): (String, String) =
    if (rest.startsWith("(")) {
      var depth = 0; var inStr = false; var i = 0; var end = -1
      while (i < rest.length && end < 0) {
        val c = rest.charAt(i)
        if (inStr) { if (c == '\'') inStr = false }
        else c match {
          case '\'' => inStr = true
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      require(end > 0,
        "MERGE ... USING (: unbalanced parentheses in the subquery")
      (rest.substring(0, end + 1), rest.substring(end + 1))
    } else {
      val m = s"(?s)^($ident)(.*)$$".r
      rest match {
        case m(name, tail) => (name, tail)
        case _ => sys.error(
          s"MERGE ... USING expects a table name or (subquery), got: " +
            rest.take(80))
      }
    }

  /** Word-bounded, case-insensitive mention of `name` in `s`. */
  private def mentionedIn(name: String, s: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_])").r.findFirstIn(s).isDefined

  /** Bind view `name` as a temp view of its expanded defining query,
    * dependencies (view-on-view) first; a reference cycle fails
    * loudly instead of recursing forever. */
  private def bindView(spark: SparkSession, catalog: GraftCatalog,
      name: String, seen: Set[String]): Unit = {
    val q = catalog.viewSql(name)
    catalog.views.filter(v => v != name && mentionedIn(v, q)).foreach {
      v =>
        require(!seen.contains(v),
          s"view reference cycle: ${(seen + v).mkString(" -> ")}")
        bindView(spark, catalog, v, seen + v)
    }
    sql(spark, q, catalog.tables).createOrReplaceTempView(name)
  }

  /** The MERGE route of [[exec]] — parse the clause list and hand it
    * to the DV clause merge. Returns the committed version. */
  private def execMerge(spark: SparkSession,
      versionedTables: Map[String, String], tName: String,
      tAlias: Option[String], sName: String, sAlias: Option[String],
      onTxt: String, clausesTxt: String): Long = {
    import org.apache.spark.sql.functions.{expr, lit}
    import org.apache.spark.sql.Column
    val vt = new graft.io.VersionedTable(spark,
      versionedTables.getOrElse(tName, sys.error(
        s"'$tName' is not a registered versioned table")))
    // the source: a registered versioned name, an existing temp view,
    // or a parenthesized subquery (Delta's `USING (SELECT ...) AS s` —
    // travel clauses inside it resolve through sql(); an alias is then
    // mandatory, there is no name to fall back on)
    val isSubquery = sName.startsWith("(")
    if (isSubquery) require(sAlias.isDefined,
      "MERGE ... USING (subquery) requires an alias: USING (...) AS s")
    val source: DataFrame =
      if (isSubquery)
        sql(spark, sName.substring(1, sName.length - 1).trim,
          versionedTables)
      else versionedTables.get(sName) match {
        case Some(root) => new graft.io.VersionedTable(spark, root).read()
        case None => spark.table(sName)
      }
    val ta = tAlias.getOrElse(tName)
    val sa = sAlias.getOrElse(sName)
    require(!ta.equalsIgnoreCase(sa),
      s"MERGE target and source aliases must differ, both are '$ta'")
    // conditions reference the join through the kernel's t./s. aliases
    def rewrite(cond: String): String = rewriteAliases(cond, ta, sa)
    val eqRe = (s"(?is)^($ident)\\.($ident)\\s*=\\s*($ident)\\.($ident)$$").r
    val keys = splitTopOn(onTxt, "AND").map(_.trim).map {
      case eqRe(a1, c1, a2, c2) =>
        val ok = (a1.equalsIgnoreCase(ta) && a2.equalsIgnoreCase(sa)) ||
          (a1.equalsIgnoreCase(sa) && a2.equalsIgnoreCase(ta))
        require(ok && c1.equalsIgnoreCase(c2), s"MERGE ON must equate " +
          s"the same-named key through both aliases, got: $a1.$c1 = $a2.$c2")
        c1
      case other => sys.error("MERGE ON must be a conjunction of " +
        s"alias-qualified key equalities, got: $other")
    }
    def cond(c: String): Option[Column] =
      Option(c).map(t => expr(rewrite(t.trim)))
    // parse into ORDERED clause records first: SQL MERGE is
    // first-match-wins per side, while the kernel tests
    // delete-before-update — the fold below makes a later DELETE
    // yield to an earlier UPDATE's claim
    sealed trait Clause
    case class MUpd(c: Option[Column], cols: Option[Seq[String]])
      extends Clause
    case class MDel(c: Option[Column]) extends Clause
    case class NIns(c: Option[Column]) extends Clause
    case class SDel(c: Option[Column]) extends Clause
    case class SUpd(c: Option[Column], set: Map[String, Column])
      extends Clause
    // split each fragment at its TOP-LEVEL THEN (paren-, string-, and
    // CASE-aware — a CASE … WHEN … THEN inside the clause condition
    // must not claim the clause's own THEN), then classify
    def splitAtThen(frag: String): (Option[String], String) = {
      val r = frag.trim
      val thenIdx = topThenIndex(r)
      require(thenIdx >= 0, s"MERGE clause missing THEN: WHEN $frag")
      val head = r.substring(0, thenIdx).trim
      val action = r.substring(thenIdx + 4).trim
      val condTxt =
        if (head.isEmpty) None
        else {
          require(head.matches("(?is)^AND\\s.*"),
            s"unexpected text before THEN in MERGE clause: $head")
          Some(head.replaceFirst("(?is)^AND\\s+", ""))
        }
      (condTxt, action)
    }
    val clauses: Seq[Clause] =
      splitClauses(clausesTxt).map(_.trim).filter(_.nonEmpty)
        .map {
          case nmbsHeadRe(rest) =>
            val (c, action) = splitAtThen(rest)
            action match {
              case d if d.equalsIgnoreCase("DELETE") => SDel(cond(c.orNull))
              case u if u.toUpperCase.startsWith("UPDATE") =>
                val assigns = u.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")
                SUpd(cond(c.orNull), splitTop(assigns).map { a =>
                  val i = a.indexOf('=')
                  require(i > 0, s"malformed NMBS SET assignment: $a")
                  a.substring(0, i).trim ->
                    expr(rewrite(a.substring(i + 1).trim))
                }.toMap)
              case other => sys.error(s"unsupported NMBS action: $other")
            }
          case nmtHeadRe(rest) =>
            val (c, action) = splitAtThen(rest)
            require(action.matches("(?is)^INSERT\\s*\\*$"),
              s"unsupported NOT MATCHED action: $action")
            NIns(cond(c.orNull))
          case matchedHeadRe(rest) =>
            val (c, action) = splitAtThen(rest)
            action match {
              case d if d.equalsIgnoreCase("DELETE") => MDel(cond(c.orNull))
              case u if u.toUpperCase.startsWith("UPDATE") =>
                val assigns = u.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")
                val cols = if (assigns.trim == "*") None
                  else Some(splitTop(assigns).map { a =>
                    val i = a.indexOf('=')
                    require(i > 0, s"malformed SET assignment: $a")
                    val (l, r) =
                      (a.substring(0, i).trim, a.substring(i + 1).trim)
                    r match {
                      case srcColRe(al, col) if al.equalsIgnoreCase(sa) &&
                          col.equalsIgnoreCase(l) => l
                      case _ => sys.error("the DV clause merge updates " +
                        "whole source columns: SET must be `*` or " +
                        s"`x = $sa.x`, got $a")
                    }
                  })
                MUpd(cond(c.orNull), cols)
              case other => sys.error(s"unsupported MATCHED action: $other")
            }
          case other => sys.error(s"unsupported MERGE clause: WHEN $other")
        }
    Seq("WHEN MATCHED UPDATE" -> clauses.count(_.isInstanceOf[MUpd]),
      "WHEN MATCHED DELETE" -> clauses.count(_.isInstanceOf[MDel]),
      "WHEN NOT MATCHED INSERT" -> clauses.count(_.isInstanceOf[NIns]),
      "NMBS DELETE" -> clauses.count(_.isInstanceOf[SDel]),
      "NMBS UPDATE" -> clauses.count(_.isInstanceOf[SUpd])
    ).foreach { case (kind, n) => require(n <= 1,
      s"at most one $kind clause is supported, got $n") }
    val mUpd = clauses.collectFirst { case u: MUpd => u }
    val mDel = clauses.collectFirst { case d: MDel => d }
    val nIns = clauses.collectFirst { case i: NIns => i }
    val sDel = clauses.collectFirst { case d: SDel => d }
    val sUpd = clauses.collectFirst { case u: SUpd => u }
    // an UPDATE clause textually BEFORE a DELETE claims its rows
    // first (SQL order); the kernel tests delete first, so subtract
    // the update's claim from the delete condition (NULL-safe: a
    // NULL update condition falls through to the delete, as in SQL)
    def yieldToEarlierUpdate(del: Option[Column], delIdx: Int,
        upd: Option[Option[Column]], updIdx: Int): Option[Column] =
      del.map { d =>
        if (upd.isDefined && updIdx >= 0 && updIdx < delIdx)
          d && !(upd.get.getOrElse(lit(true)) <=> lit(true))
        else d
      }
    val deleteWhen = yieldToEarlierUpdate(
      mDel.map(_.c.getOrElse(lit(true))),
      clauses.indexWhere(_.isInstanceOf[MDel]),
      mUpd.map(_.c), clauses.indexWhere(_.isInstanceOf[MUpd]))
    val nmbsDelete = yieldToEarlierUpdate(
      sDel.map(_.c.getOrElse(lit(true))),
      clauses.indexWhere(_.isInstanceOf[SDel]),
      sUpd.map(_.c), clauses.indexWhere(_.isInstanceOf[SUpd]))
    vt.mergeClausesVectorized(source, keys,
      deleteWhen = deleteWhen,
      // no UPDATE clause: matched rows keep (Some(false)), never the
      // kernel's update-all default (None)
      updateWhen = mUpd.map(_.c).getOrElse(Some(lit(false))),
      insertWhen = nIns.map(_.c).getOrElse(Some(lit(false))),
      updateColumns = mUpd.flatMap(_.cols),
      deleteWhenNotMatchedBySource = nmbsDelete,
      updateWhenNotMatchedBySource =
        sUpd.map(u => u.c.getOrElse(lit(true))),
      notMatchedBySourceSet = sUpd.map(_.set).getOrElse(Map.empty))
  }

  /** Rewrite `talias.` / `salias.` column qualifiers onto the
    * kernel's `t.` / `s.` join aliases in ONE pass (sequential
    * replaceAll would let the first rewrite's output collide with the
    * second alias — e.g. source alias `t`), word-boundary-anchored
    * and string-literal-safe. */
  private def rewriteAliases(s: String, ta: String, sa: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { sb += c; if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; sb += c; i += 1 }
      else {
        val boundary = i == 0 || !isIdentChar(s.charAt(i - 1))
        def hit(a: String): Boolean = boundary &&
          s.regionMatches(true, i, a, 0, a.length) &&
          i + a.length < s.length && s.charAt(i + a.length) == '.'
        if (hit(ta)) { sb ++= "t."; i += ta.length + 1 }
        else if (hit(sa)) { sb ++= "s."; i += sa.length + 1 }
        else { sb += c; i += 1 }
      }
    }
    sb.toString
  }

  /** Index of the first top-level (outside quotes and parens)
    * word-bounded, case-insensitive occurrence of `kw` in `s`, or
    * -1. */
  private def topIndexOf(s: String, kw: String): Int = {
    var depth = 0; var inStr = false; var i = 0
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !isIdent(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !isIdent(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  /** Index of the first top-level `THEN` that belongs to the MERGE
    * clause itself — outside parens and strings, AND outside any
    * `CASE … END` block (whose own THENs are expression syntax, not
    * clause syntax), so `WHEN MATCHED AND CASE WHEN x THEN y END = z
    * THEN DELETE` splits at the right keyword. -1 when absent. */
  private def topThenIndex(s: String): Int = {
    var depth = 0; var caseDepth = 0; var inStr = false; var i = 0
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def wordAt(j: Int, w: String): Boolean =
      s.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !isIdent(s.charAt(j - 1))) &&
        (j + w.length >= s.length || !isIdent(s.charAt(j + w.length)))
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else c match {
        case '\'' => inStr = true; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && wordAt(i, "CASE")) { caseDepth += 1; i += 4 }
          else if (depth == 0 && caseDepth > 0 && wordAt(i, "END")) {
            caseDepth -= 1; i += 3
          }
          else if (depth == 0 && caseDepth == 0 && wordAt(i, "THEN"))
            return i
          else i += 1
      }
    }
    -1
  }

  /** Strip SQL comments (`-- …` to end-of-line, and slash-star block
    * comments possibly spanning lines) OUTSIDE string literals — a
    * ';' or keyword inside a comment must not affect statement
    * splitting or parsing. Newlines after `--` survive (token
    * separation); an unterminated block comment swallows to
    * end-of-input, as parsers do. */
  private[sql] def stripSqlComments(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { sb += c; if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; sb += c; i += 1 }
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < s.length &&
            !(s.charAt(i) == '*' && s.charAt(i + 1) == '/')) i += 1
        i = math.min(s.length, i + 2)
        sb += ' '
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Index of the next top-level `WHEN` that BEGINS a merge clause —
    * followed by MATCHED or NOT (word-bounded) — at or after `from`.
    * A CASE expression's WHEN inside a clause condition or SET
    * expression never qualifies, so it never splits. */
  private def nextClauseStart(s: String, from: Int): Int = {
    var depth = 0; var inStr = false; var i = 0
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    def wordAt(j: Int, w: String): Boolean =
      s.regionMatches(true, j, w, 0, w.length) &&
        (j + w.length >= s.length || !isIdent(s.charAt(j + w.length)))
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (i >= from && depth == 0 && wordAt(i, "WHEN") &&
              (i == 0 || !isIdent(s.charAt(i - 1)))) {
            var j = i + 4
            while (j < s.length && s.charAt(j).isWhitespace) j += 1
            if (wordAt(j, "MATCHED") || wordAt(j, "NOT")) return i
          }
      }
      i += 1
    }
    -1
  }

  /** The MERGE clause list, split at clause-starting WHENs only;
    * fragments come back without the leading keyword. */
  private def splitClauses(s: String): Seq[String] = {
    val starts = Iterator.iterate(nextClauseStart(s, 0))(p =>
      if (p < 0) -1 else nextClauseStart(s, p + 4))
      .takeWhile(_ >= 0).toSeq
    if (starts.isEmpty) Seq(s)
    else starts.zipWithIndex.map { case (a, ix) =>
      if (ix + 1 < starts.length) s.substring(a + 4, starts(ix + 1))
      else s.substring(a + 4)
    }
  }

  /** Split on every top-level occurrence of keyword `kw`. */
  private def splitTopOn(s: String, kw: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var rest = s
    var idx = topIndexOf(rest, kw)
    while (idx >= 0) {
      out += rest.substring(0, idx)
      rest = rest.substring(idx + kw.length)
      idx = topIndexOf(rest, kw)
    }
    out += rest
    out.toSeq
  }

  /** Split a comma-list at top level (commas inside parens or string
    * literals don't split). */
  private def splitTop(s: String): Seq[String] = splitTopChar(s, ',')

  /** [[splitTop]] for sibling parsers ([[MaterializedView]]). */
  private[sql] def splitTopList(s: String): Seq[String] = splitTop(s)

  private def splitTopChar(s: String, delim: Char): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0; var inStr = false
    s.foreach { c =>
      if (inStr) { cur += c; if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ch if ch == delim && depth == 0 =>
          out += cur.toString; cur.clear()
        case ch => cur += ch
      }
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }
}
