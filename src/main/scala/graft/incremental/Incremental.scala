package graft.incremental

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.util.Cols

/** Batch incremental processing: watermark + filter + append/upsert
  * (reference `utils/incremental.py`).
  *
  * The watermark is a batch high-water-mark (max of the target's
  * watermark column), not a streaming watermark — kept as in the
  * reference (SURVEY.md §2.11). The streaming path lives in
  * `graft.streaming`.
  */
object Incremental {

  /** A3 (reference `utils/incremental.py:13-50`): current watermark of a
    * target table, plain parquet or versioned ([[TableIO.readTable]]
    * reads a versioned table's current snapshot); None when the table
    * is missing/empty/lacks the column. Single `max` aggregate — no
    * count() pre-check scan. */
  def getWatermark(spark: SparkSession, tablePath: String,
      watermarkColumn: String): Option[Any] = {
    if (!TableIO.exists(spark, tablePath)) return None
    val df = TableIO.readTable(spark, tablePath)
    Cols.resolve(df, watermarkColumn).flatMap { c =>
      val row = df.agg(max(col(c))).head()
      if (row.isNullAt(0)) None else Some(row.get(0))
    }
  }

  /** F5 (reference `utils/incremental.py:53-87`): keep only rows newer
    * than the watermark; first run honors initialLoadDate. On a
    * date-partitioned table this predicate partition-prunes. */
  def filterIncremental(df: DataFrame, watermarkColumn: String,
      watermark: Option[Any], initialLoadDate: Option[String] = None): DataFrame =
    Cols.resolve(df, watermarkColumn) match {
      case None => df
      case Some(c) => watermark match {
        case Some(wm) => df.filter(col(c) > lit(wm))
        case None => initialLoadDate match {
          case Some(d) => df.filter(col(c) >= lit(d))
          case None => df
        }
      }
    }
}

/** J1 (reference `utils/incremental.py:89-156` Delta MERGE): upsert
  * rebuilt as a join (SURVEY.md §2.4).
  *
  * Semantics match `whenMatchedUpdate(set) + whenNotMatchedInsertAll`:
  * matched target rows take the source's values for `updateColumns`
  * (default: all non-key source columns), unmatched source rows are
  * inserted whole, unmatched target rows pass through.
  *
  * Scale strategy: the source of an incremental merge is usually much
  * smaller than the target. When the source fits the broadcast threshold
  * we broadcast it, so the target is NOT shuffled — each target partition
  * streams once against the broadcast hash table. Otherwise a full-outer
  * sort-merge join shuffles both sides on the keys, which AQE can
  * re-plan per-partition (skew split). Either way the table is rewritten
  * once — the rewrite, like Delta's MERGE file rewrite, is the dominant
  * cost.
  */
object Upsert {

  /** Pure upsert of `source` into `target`, returned as a DataFrame.
    *
    * Row presence on each side is derived from non-nullable marker
    * columns added before the full-outer join — NOT from value
    * nullability. A `coalesce(s.c, t.c)` projection would silently keep
    * the target's old value when a matched source row intentionally
    * nulls an update column (Delta's whenMatchedUpdate writes the
    * NULL), and symmetrically resurrect a matched target's legitimate
    * NULL in non-update columns from the source.
    *
    * `evolveSchema` (Delta `withSchemaEvolution` / mergeSchema):
    * source columns ABSENT from the target are appended to the output
    * schema — matched and inserted rows take the source's value,
    * target-only rows read NULL. Off (the default), source-only
    * columns are dropped, exactly as Delta MERGE without the flag. */
  def upsert(target: DataFrame, source: DataFrame, mergeKeys: Seq[String],
      updateColumns: Option[Seq[String]] = None,
      broadcastSource: Boolean = false,
      evolveSchema: Boolean = false): DataFrame = {
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    val updateCols = updateColumns.getOrElse(
      source.columns.toSeq.filterNot(mergeKeys.contains))
    val src0 = source.withColumn("_s_present", lit(true))
    val tgt0 = target.withColumn("_t_present", lit(true))
    val src = if (broadcastSource) broadcast(src0) else src0

    // full_outer USING join: the key columns are coalesced automatically.
    val joined = tgt0.alias("t").join(src.alias("s"), mergeKeys, "full_outer")
    val srcPresent = col("s._s_present").isNotNull
    val tgtPresent = col("t._t_present").isNotNull
    val projection: Seq[Column] = mergeKeys.map(col) ++
      target.columns.toSeq.filterNot(mergeKeys.contains).map { c =>
        if (updateCols.contains(c) && source.columns.contains(c))
          // matched or insert -> source value (explicit NULLs included)
          when(srcPresent, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
        else if (source.columns.contains(c))
          // non-update column: matched keeps the target's value (even
          // NULL); only unmatched source rows (inserts) take the source's
          when(tgtPresent, col(s"t.$c")).otherwise(col(s"s.$c")).as(c)
        else col(s"t.$c").as(c)
      }
    val evolved: Seq[Column] =
      if (!evolveSchema) Seq.empty
      else source.columns.toSeq.filterNot(target.columns.contains)
        .filterNot(_ == "_s_present")
        .map(c => when(srcPresent, col(s"s.$c")).as(c))
    joined.select(projection ++ evolved: _*)
  }

  /** Full Delta-MERGE clause surface over the same marker-based
    * full-outer join as [[upsert]]:
    *
    * {{{
    *   WHEN MATCHED AND deleteWhen        THEN DELETE
    *   WHEN MATCHED [AND updateWhen]      THEN UPDATE SET *  (update cols)
    *   WHEN MATCHED (neither condition)   THEN keep target row
    *   WHEN NOT MATCHED [AND insertWhen]  THEN INSERT *
    *   WHEN NOT MATCHED BY SOURCE AND deleteWhenNotMatchedBySource
    *                                      THEN DELETE
    *   WHEN NOT MATCHED BY SOURCE AND updateWhenNotMatchedBySource
    *                                      THEN UPDATE SET <map>
    *   target-only rows (no NMBS clause fires)  pass through
    * }}}
    *
    * The NOT-MATCHED-BY-SOURCE clauses are the snapshot-sync shape
    * (Delta `whenNotMatchedBySourceDelete/Update`): merging a FULL
    * snapshot deletes (or flags) the target rows the snapshot no
    * longer contains. Their conditions and the `set` expressions see
    * only the `t.` alias — there is no source row on that side; pass
    * `Some(lit(true))` for an unconditional clause. Delete is tested
    * before update, mirroring the matched clauses.
    *
    * Clause conditions reference the joined row through the `s.` /
    * `t.` aliases (e.g. `col("s.op") === "delete"`). One shuffle (or
    * zero with `broadcastSource` — merge batches are usually
    * dimension-sized); the conditions evaluate inside the join's
    * projection, so at 100 TB this costs exactly what [[upsert]]
    * costs. NOTE the scoping consequence: NMBS clauses examine EVERY
    * target row, so a stored-table merge using them can never
    * partition-prune the target read (Delta pays the same). */
  def upsertWithClauses(target: DataFrame, source: DataFrame,
      mergeKeys: Seq[String],
      deleteWhen: Option[Column] = None,
      updateWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      updateColumns: Option[Seq[String]] = None,
      broadcastSource: Boolean = false,
      evolveSchema: Boolean = false,
      deleteWhenNotMatchedBySource: Option[Column] = None,
      updateWhenNotMatchedBySource: Option[Column] = None,
      notMatchedBySourceSet: Map[String, Column] = Map.empty): DataFrame = {
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    require(updateWhenNotMatchedBySource.isDefined ==
      notMatchedBySourceSet.nonEmpty,
      "updateWhenNotMatchedBySource and notMatchedBySourceSet come " +
        "together: the clause needs assignments, the assignments a clause")
    val tgtCols = target.columns.toSeq
    notMatchedBySourceSet.keys.foreach(k => require(
      tgtCols.contains(k) && !mergeKeys.contains(k),
      s"notMatchedBySourceSet assigns '$k', which must be an existing " +
        "non-key target column (there is no source row to take it from)"))
    val updateCols = updateColumns.getOrElse(
      source.columns.toSeq.filterNot(mergeKeys.contains))
    val src0 = source.withColumn("_s_present", lit(true))
    val tgt0 = target.withColumn("_t_present", lit(true))
    val src = if (broadcastSource) broadcast(src0) else src0
    val joined = tgt0.alias("t").join(src.alias("s"), mergeKeys, "full_outer")
    val srcPresent = col("s._s_present").isNotNull
    val tgtPresent = col("t._t_present").isNotNull
    val matched = srcPresent && tgtPresent
    val tgtOnly = tgtPresent && !srcPresent
    // Delta clause semantics: a condition evaluating NULL means "this
    // clause's condition is not satisfied" — the row falls through to
    // the next clause, it is not frozen. `<=> true` folds NULL→false.
    val del = deleteWhen.map(c => (matched && c) <=> lit(true))
      .getOrElse(lit(false))
    val upd = matched && !del &&
      updateWhen.map(_ <=> lit(true)).getOrElse(lit(true))
    val ins = !tgtPresent && srcPresent &&
      insertWhen.map(_ <=> lit(true)).getOrElse(lit(true))
    val nmbsDel = deleteWhenNotMatchedBySource
      .map(c => (tgtOnly && c) <=> lit(true)).getOrElse(lit(false))
    val nmbsUpd = updateWhenNotMatchedBySource
      .map(c => (tgtOnly && !nmbsDel && c) <=> lit(true))
      .getOrElse(lit(false))
    val projection: Seq[Column] = mergeKeys.map(col) ++
      tgtCols.filterNot(mergeKeys.contains).map { c =>
        val base =
          if (updateCols.contains(c) && source.columns.contains(c))
            when(upd || ins, col(s"s.$c")).otherwise(col(s"t.$c"))
          else if (source.columns.contains(c))
            when(tgtPresent, col(s"t.$c")).otherwise(col(s"s.$c"))
          else col(s"t.$c")
        notMatchedBySourceSet.get(c)
          .map(e => when(nmbsUpd, e).otherwise(base).as(c))
          .getOrElse(base.as(c))
      }
    // evolveSchema: source-only columns land only through the update
    // or insert clause (Delta withSchemaEvolution) — a matched row
    // whose update clause did not fire keeps the column NULL, exactly
    // like the target-only rows (NMBS-updated or passed through)
    val evolved: Seq[Column] =
      if (!evolveSchema) Seq.empty
      else source.columns.toSeq.filterNot(target.columns.contains)
        .filterNot(_ == "_s_present")
        .map(c => when(upd || ins, col(s"s.$c")).as(c))
    joined
      .filter(tgtPresent || ins) // source-only rows need the insert clause
      .filter(!del) // matched delete-clause rows drop
      .filter(!nmbsDel) // target-only rows the sync deletes
      .select(projection ++ evolved: _*)
  }

  /** SNAPSHOT CDC (the DLT `APPLY CHANGES FROM SNAPSHOT` diff half,
    * and the DMS/Debezium-less fallback every warehouse sync needs):
    * derive a CHANGE FEED from two FULL snapshots of a keyed table —
    * the upstream that can only hand over periodic dumps still feeds
    * a CDC pipeline. Emits Delta-CDF-shaped rows:
    *
    *  - keys only in `next`: the new row as `insert`
    *  - keys only in `prev`: the old row as `delete`
    *  - keys in both with ANY non-key column differing (null-safe):
    *    the old row as `update_preimage` + the new row as
    *    `update_postimage`
    *  - identical rows: NOTHING (the property that makes snapshot CDC
    *    usable — a 100 TB table with 0.1% daily churn emits 0.1%)
    *
    * One full-outer shuffle on the keys plus a narrow conditional
    * explode — no second pass, no driver data path. The emitted feed
    * plugs straight into [[applyChanges]] / the q211 streaming sink. */
  def snapshotCdc(prev: DataFrame, next: DataFrame,
      mergeKeys: Seq[String]): DataFrame = {
    require(mergeKeys.nonEmpty, "mergeKeys must be non-empty")
    require(prev.columns.sorted.sameElements(next.columns.sorted),
      s"snapshots must share a schema; prev has " +
        s"${prev.columns.mkString(",")}, next has ${next.columns.mkString(",")}")
    val valCols = prev.columns.toSeq.filterNot(mergeKeys.contains)
    val p = prev.withColumn("_p_present", lit(true))
    val n = next.withColumn("_n_present", lit(true))
    val j = p.alias("p").join(n.alias("n"), mergeKeys, "full_outer")
    val pPresent = col("p._p_present").isNotNull
    val nPresent = col("n._n_present").isNotNull
    def img(side: String, tag: String) = struct(
      valCols.map(c => col(s"$side.$c").as(c)) :+ lit(tag).as("_change_type"): _*)
    val changed = !(struct(valCols.map(c => col(s"p.$c")): _*) <=>
      struct(valCols.map(c => col(s"n.$c")): _*))
    // no otherwise: an unchanged matched row leaves the array NULL and
    // explode emits nothing for it — churn-proportional output
    j.select(mergeKeys.map(col) :+ explode(
        when(nPresent && !pPresent, array(img("n", "insert")))
          .when(pPresent && !nPresent, array(img("p", "delete")))
          .when(changed, array(img("p", "update_preimage"),
            img("n", "update_postimage")))).as("_c"): _*)
      .select(mergeKeys.map(col) ++
        valCols.map(c => col(s"_c.$c")) :+ col("_c._change_type"): _*)
  }

  /** APPLY CHANGES (the DLT `APPLY CHANGES INTO` / SCD-Type-1 shape):
    * fold an OUT-OF-ORDER CDC feed down to each key's latest row by a
    * sequence column, then merge that collapsed batch — late-arriving
    * older changes can never clobber newer state, the property raw
    * MERGE lacks. `opCol` rows valued `"delete"` delete the key (and
    * never insert); everything else upserts. The sequence must be a
    * total order per key (the CDC log position); ties would make the
    * fold nondeterministic, so the window orders by it alone and the
    * caller owns uniqueness.
    *
    * Scale: the fold is one window shuffle over the FEED (batch-sized,
    * not table-sized); the merge then costs exactly what
    * [[upsertWithClauses]] costs. */
  def applyChanges(target: DataFrame, feed: DataFrame,
      mergeKeys: Seq[String], seqCol: String,
      opCol: Option[String] = None,
      broadcastSource: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(mergeKeys.map(col): _*)
      .orderBy(col(seqCol).desc)
    val latest = feed
      .withColumn("_ac_rn", row_number().over(w))
      .filter(col("_ac_rn") === 1)
      .drop("_ac_rn", seqCol)
    opCol match {
      case Some(oc) => upsertWithClauses(target, latest, mergeKeys,
        deleteWhen = Some(col(s"s.$oc") === "delete"),
        insertWhen = Some(col(s"s.$oc") =!= "delete"),
        updateColumns = Some(latest.columns.toSeq
          .filterNot(mergeKeys.contains).filterNot(_ == oc)),
        broadcastSource = broadcastSource)
      case None =>
        upsert(target, latest, mergeKeys, broadcastSource = broadcastSource)
    }
  }

  /** Merge into a stored table (reference `utils/incremental.py:116-136`,
    * which leans on Delta MERGE's rewrite-only-touched-files behavior).
    *
    * When the target is Hive-partitioned and partition pruning is SAFE —
    * the partition column is one of the merge keys, or the caller
    * asserts `assumeStablePartitions` (a row's partition value never
    * changes, the standard incremental-pipeline invariant for
    * date-partitioned facts) — only the partitions containing source
    * partition values are read, merged, and swapped; every other
    * partition's files stay byte-identical. A daily merge into a
    * 100 TB table then rewrites one day, not the table. Without that
    * safety (partition column not in the keys and no caller assertion,
    * or null source partition values), a matched target row could live
    * in an unread partition, so the whole table is rewritten — the old
    * behavior, now with a `_`-prefixed crash-safe temp dir.
    *
    * Returns the number of rows WRITTEN by this merge (the full table
    * on a rewrite, the touched partitions on a scoped merge), read from
    * the written parquet footers — no post-merge re-scan. */
  def mergeIntoTable(spark: SparkSession, source: DataFrame, targetPath: String,
      mergeKeys: Seq[String], updateColumns: Option[Seq[String]] = None,
      partitionBy: Option[String] = None,
      assumeStablePartitions: Boolean = false): Long = {
    val root = new org.apache.hadoop.fs.Path(targetPath)
    val fs = TableIO.fs(spark, root)
    // BEFORE anything reads (or concludes absence of) the target:
    // restore data a crashed previous merge left stranded in its temp
    // dir. Deleting the temp unseen would permanently lose the
    // partitions whose only live copy it holds.
    recoverCrashedMerge(fs, root)
    if (!TableIO.exists(spark, targetPath)) {
      TableIO.write(source, targetPath, SaveMode.Overwrite, partitionBy)
      return TableIO.footerRowCount(spark, targetPath)
    }
    val scopedCol = partitionBy
      .filter(p => mergeKeys.contains(p) || assumeStablePartitions)
      .filter(p => fs.listStatus(root)
        .exists(s => s.isDirectory && s.getPath.getName.startsWith(s"$p=")))
    scopedCol match {
      case Some(pcol) =>
        // Partition values the source touches — small driver list (one
        // entry per touched partition, not per row), rendered as the
        // hive path spells them (cast-to-string matches the writer's
        // rendering for string/numeric/date partition columns).
        val vals = source.select(col(pcol).cast("string")).distinct()
          .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
        if (vals.contains(null))
          // null partition values land in the default-partition dir
          // whose matching semantics differ per engine — take the
          // always-correct path instead of special-casing
          fullMergeRewrite(spark, source, targetPath, mergeKeys,
            updateColumns, partitionBy)
        else {
          // Prune the target read DRIVER-SIDE: list the partition dirs
          // once and keep those whose value is in the touched set — a
          // set lookup, not an N-literal isin predicate (a backfill
          // touching 10^4 partitions would otherwise plan a 10^4-term
          // In). basePath keeps the partition column in the schema.
          val valSet = vals.toSet
          val touchedDirs = fs.listStatus(root).toSeq
            .filter(s => s.isDirectory &&
              s.getPath.getName.startsWith(s"$pcol="))
            .filter(s => valSet.contains(graft.io.ManifestEntry
              .unescapePathName(s.getPath.getName.substring(pcol.length + 1))))
            .map(_.getPath.toString)
          val target =
            if (touchedDirs.isEmpty)
              // every touched partition is new: nothing to merge with
              TableIO.read(spark, targetPath).limit(0)
            else spark.read.option("basePath", targetPath)
              .parquet(touchedDirs: _*)
          val merged = upsert(target, source, mergeKeys, updateColumns)
          val tmp = TableIO.tmpSibling(root, "merge_tmp")
          TableIO.write(merged, tmp.toString, SaveMode.Overwrite, partitionBy)
          markTmpComplete(fs, tmp)
          // Swap in each rewritten partition dir; includes partitions
          // newly created by inserts. Untouched partitions' files are
          // never listed, read, or moved.
          var rows = 0L
          fs.listStatus(tmp)
            .filter(s => s.isDirectory && s.getPath.getName.contains("="))
            .foreach { d =>
              rows += TableIO.footerRowCount(spark, d.getPath.toString)
              val dest = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
              if (fs.exists(dest)) fs.delete(dest, true)
              fs.rename(d.getPath, dest)
            }
          fs.delete(tmp, true)
          rows
        }
      case None =>
        fullMergeRewrite(spark, source, targetPath, mergeKeys,
          updateColumns, partitionBy)
    }
  }

  /** MERGE into a [[graft.io.VersionedTable]] — the Delta-parity form:
    * the swap is ONE atomic manifest commit, so readers are snapshot-
    * isolated for the entire merge (no dir-rename window, no crash
    * recovery protocol — a crash before the manifest rename simply
    * leaves an orphan data dir for vacuum) and the table keeps its
    * history / time travel across merges.
    *
    * Partition scoping mirrors [[mergeIntoTable]]: when the table is
    * partitioned and pruning is safe (partition column in the merge
    * keys, or `assumeStablePartitions`), only the partitions holding
    * source partition values are read (pruned at the manifest level —
    * untouched partitions' files aren't even planned) and the commit
    * re-references every untouched file byte-identically via
    * [[graft.io.VersionedTable.replaceWhere]]. A daily merge into a
    * 100 TB table writes one day of files and one manifest.
    *
    * Matching between source values and manifest partition values uses
    * Spark's string rendering (`cast(col as string)`), the same form
    * the hive path encodes — exact for string/numeric/date partition
    * columns, the kinds partition columns should be.
    *
    * `evolveSchema` is Delta's MERGE `withSchemaEvolution`: source
    * columns the table lacks are added to the snapshot schema (target
    * rows read them NULL). The evolution COMMIT runs as a full
    * overwrite — replaceWhere is strict-schema by design — but once
    * the schema has grown, subsequent merges scope normally.
    *
    * Returns rows WRITTEN by this merge (from the new files' manifest
    * row counts — no re-scan). */
  def mergeIntoVersionedTable(spark: SparkSession, source: DataFrame,
      targetRoot: String, mergeKeys: Seq[String],
      updateColumns: Option[Seq[String]] = None,
      partitionBy: Option[Seq[String]] = None,
      assumeStablePartitions: Boolean = false,
      evolveSchema: Boolean = false): Long = {
    val vt = new graft.io.VersionedTable(spark, targetRoot)
    def newRows(v: Long): Long = vt.manifestEntries(v)
      .filter(_.relPath.startsWith(f"_data/c$v%08d")).map(_.rows).sum
    if (!vt.exists)
      return newRows(vt.write(source, SaveMode.Overwrite, "MERGE",
        partitionBy = partitionBy))
    // ONE snapshot for the whole merge: partition metadata, the guard,
    // the pruned read, and the lost-update basis all come from the same
    // version — a commit racing in between is then caught by
    // replaceWhere instead of slipping between two separate reads
    val basisV = vt.currentVersion.get
    val parts = vt.partitionColumns
    // An EVOLVING merge (source adds columns) always runs as a full
    // overwrite commit: replaceWhere is strict-schema by design, and
    // the evolution commit must establish the new snapshot schema for
    // every file anyway. Later non-evolving merges scope again.
    val evolving = evolveSchema &&
      source.columns.exists(c => !vt.read().columns.contains(c))
    val scopedCol = parts.headOption
      .filter(p => mergeKeys.contains(p) || assumeStablePartitions)
      .filterNot(_ => evolving)
    scopedCol match {
      case Some(pcol) =>
        // one row per touched partition value, rendered exactly as the
        // hive path spells it — tiny driver-side list
        val vals = source.select(col(pcol).cast("string")).distinct()
          .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
        if (vals.contains(null))
          return newRows(fullVersionedRewrite(vt, source, mergeKeys,
            updateColumns, evolveSchema))
        val valSet = vals.toSet
        // refuse layouts where a file has no recorded partition value
        // (pre-partitioning manifests): the pruned read below excludes
        // such files, so their rows could be silently duplicated
        require(vt.manifestEntries(basisV)
          .forall(_.partitionValues.contains(pcol)),
          s"$targetRoot has files without a $pcol partition value; " +
            "scoped merge would duplicate their rows — use " +
            "assumeStablePartitions=false for a full rewrite")
        // manifest-level pruning by partition-value MEMBERSHIP: exact
        // (a file's partition value is every row's value), and no
        // N-literal isin ever reaches the plan — a backfill touching
        // 10^4 partitions stays a driver-side set lookup
        val target = vt.readWherePartitionIn(pcol, valSet,
          atVersion = Some(basisV))
        val merged = upsert(target, source, mergeKeys, updateColumns)
        newRows(vt.replaceWhere(merged,
          e => !e.partitionValues.get(pcol).exists(valSet.contains),
          operation = s"MERGE $pcol IN (${vals.sorted.mkString(",")})",
          basisVersion = Some(basisV)))
      case None =>
        newRows(fullVersionedRewrite(vt, source, mergeKeys, updateColumns,
          evolveSchema))
    }
  }

  /** [[upsertWithClauses]] against a stored
    * [[graft.io.VersionedTable]], committed as ONE atomic MERGE
    * version (snapshot-isolated readers, history/time travel intact).
    *
    * Always a FULL-REWRITE commit, by semantics, not laziness: the
    * NOT-MATCHED-BY-SOURCE clauses examine every target row — a
    * partition- or stats-scoped read could never prove an unread row
    * unmatched, so any pruned variant would silently skip
    * deletes/updates outside the scanned files (Delta's MERGE gives up
    * target-side file pruning under whenNotMatchedBySource for exactly
    * this reason). Merges without NMBS clauses that want scoping go
    * through [[mergeIntoVersionedTable]]. Creating-table merges refuse
    * NMBS clauses rather than guessing (there is no target to sync).
    *
    * Returns rows WRITTEN (the new snapshot's row count). */
  def mergeClausesIntoVersionedTable(spark: SparkSession, source: DataFrame,
      targetRoot: String, mergeKeys: Seq[String],
      deleteWhen: Option[Column] = None,
      updateWhen: Option[Column] = None,
      insertWhen: Option[Column] = None,
      updateColumns: Option[Seq[String]] = None,
      evolveSchema: Boolean = false,
      deleteWhenNotMatchedBySource: Option[Column] = None,
      updateWhenNotMatchedBySource: Option[Column] = None,
      notMatchedBySourceSet: Map[String, Column] = Map.empty): Long = {
    val vt = new graft.io.VersionedTable(spark, targetRoot)
    require(vt.exists || (deleteWhenNotMatchedBySource.isEmpty &&
      updateWhenNotMatchedBySource.isEmpty),
      s"$targetRoot does not exist: a NOT MATCHED BY SOURCE clause " +
        "needs a target table to sync against")
    if (!vt.exists) {
      val v = vt.write(source, SaveMode.Overwrite, "MERGE")
      return vt.manifestEntries(v).map(_.liveRows).sum
    }
    val merged = upsertWithClauses(vt.read(), source, mergeKeys,
      deleteWhen = deleteWhen, updateWhen = updateWhen,
      insertWhen = insertWhen, updateColumns = updateColumns,
      evolveSchema = evolveSchema,
      deleteWhenNotMatchedBySource = deleteWhenNotMatchedBySource,
      updateWhenNotMatchedBySource = updateWhenNotMatchedBySource,
      notMatchedBySourceSet = notMatchedBySourceSet)
    val v = vt.write(merged, SaveMode.Overwrite, "MERGE")
    vt.manifestEntries(v).map(_.liveRows).sum
  }

  private def fullVersionedRewrite(vt: graft.io.VersionedTable,
      source: DataFrame, mergeKeys: Seq[String],
      updateColumns: Option[Seq[String]],
      evolveSchema: Boolean = false): Long = {
    // reads the snapshot being replaced — safe: the overwrite commit
    // writes NEW files, old versions' files are immutable until vacuum
    val merged = upsert(vt.read(), source, mergeKeys, updateColumns,
      evolveSchema = evolveSchema)
    vt.write(merged, SaveMode.Overwrite, "MERGE")
  }

  /** Whole-table merge rewrite via a crash-safe `_`-prefixed temp dir:
    * the merged plan reads the files being replaced, so it must fully
    * materialize before the swap. */
  private def fullMergeRewrite(spark: SparkSession, source: DataFrame,
      targetPath: String, mergeKeys: Seq[String],
      updateColumns: Option[Seq[String]],
      partitionBy: Option[String]): Long = {
    val target = TableIO.read(spark, targetPath)
    val merged = upsert(target, source, mergeKeys, updateColumns)
    val p = new org.apache.hadoop.fs.Path(targetPath)
    val fs = TableIO.fs(spark, p)
    val tmp = TableIO.tmpSibling(p, "merge_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true) // already reconciled on entry
    TableIO.write(merged, tmp.toString, SaveMode.Overwrite, partitionBy)
    markTmpComplete(fs, tmp)
    fs.delete(p, true)
    fs.rename(tmp, p)
    // the marker rode along into the final location; `_`-prefixed so
    // readers skip it regardless, but don't leave litter
    fs.delete(new org.apache.hadoop.fs.Path(p, completeMarker), false)
    TableIO.footerRowCount(spark, targetPath)
  }

  /** Name of the zero-byte file that proves a merge temp dir was FULLY
    * written (created only after `TableIO.write` returns). Without it,
    * recovery cannot tell "crashed during the swap — the tmp is the
    * only live copy" from "crashed during the tmp WRITE — the tmp holds
    * arbitrary partial output" (committer v2 moves task files straight
    * to their final paths, so a half-written tmp looks complete on
    * disk). `_`-prefixed: file indexes never read it as data. */
  private[graft] val completeMarker = "_GRAFT_MERGE_COMPLETE"

  private def markTmpComplete(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path): Unit =
    fs.create(new org.apache.hadoop.fs.Path(tmp, completeMarker), true).close()

  /** Recovery from a previous merge that crashed inside its swap window.
    *
    * The swap protocol deletes a destination (partition dir, or the
    * whole table on a full rewrite) and then renames the temp copy in;
    * a crash between the two leaves the ONLY live copy of that data in
    * the `_merge_tmp` sibling. The old behavior — delete any
    * pre-existing temp as "stale" — silently destroyed it.
    *
    * - Target dir missing entirely + temp present: the full-rewrite
    *   swap crashed post-delete; the temp IS the merged table — finish
    *   the rename.
    * - Partition dirs present in the temp but missing from the target:
    *   those partitions' delete ran but not their rename — restore them
    *   (the temp holds their fully-written merged data: swaps only
    *   start after the temp write completes).
    * - Partition dirs present in BOTH: the old merge never got to that
    *   partition's delete (or never finished writing the temp) — keep
    *   the target's copy; the old merge rolls back there and the
    *   current merge redoes it. Upsert is idempotent on re-applied
    *   source rows, so a half-swapped previous merge converges either
    *   way.
    *
    * All restore paths are gated on the [[completeMarker]]: a temp
    * WITHOUT it crashed during its own write (arbitrary partial task
    * output — restoring it would commit garbage rows), and since the
    * marker is written before any swap step, the target still holds
    * every live byte — the unmarked temp is safely discarded. The one
    * theoretically-unreachable state (target gone AND temp unmarked)
    * fails loudly instead of guessing.
    */
  private def recoverCrashedMerge(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val tmp = TableIO.tmpSibling(root, "merge_tmp")
    if (!fs.exists(tmp)) return
    val complete =
      fs.exists(new org.apache.hadoop.fs.Path(tmp, completeMarker))
    if (!fs.exists(root)) {
      if (!complete) sys.error(s"unrecoverable crashed merge at $root: " +
        s"the target is gone and $tmp lacks $completeMarker (incomplete " +
        "write) — a swap can only have started after the marker was " +
        "written, so this state needs operator inspection, not a guess")
      fs.rename(tmp, root)
      fs.delete(new org.apache.hadoop.fs.Path(root, completeMarker), false)
      return
    }
    if (complete)
      fs.listStatus(tmp)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .foreach { d =>
          val dest = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
          if (!fs.exists(dest)) fs.rename(d.getPath, dest)
        }
    fs.delete(tmp, true)
  }
}
