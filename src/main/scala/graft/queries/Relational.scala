package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parity operator catalog (SURVEY.md §2) expressed over the driver's
  * TPC-H-ish tables, each paired with an ANSI-SQL oracle in
  * [[Relational.oracles]].
  *
  * Design rules:
  *   - Every computed column is aliased identically in the DataFrame code
  *     and the oracle SQL (the driver sorts columns by name before hashing).
  *   - Money arithmetic runs in DECIMAL on BOTH sides: Spark's
  *     `round(double, 2)` rounds the shortest decimal representation
  *     (HALF_UP via BigDecimal.valueOf) while DuckDB rounds the binary
  *     value, so sums/products of doubles whose shortest rep ends in
  *     `..5` one digit past the target scale flip by 0.01 between
  *     engines. Casting inputs to decimal(18,4) makes the sum exact and
  *     order-independent, `round` on decimal is HALF_UP (= ties away
  *     from zero) in both engines, and the final `cast double` of a
  *     2-decimal value maps to the same IEEE double everywhere.
  *   - Averages are emitted as `sum(decimal)::double / count(col)` on
  *     both sides: the decimal sum is exact, so both engines divide the
  *     SAME double by the same long and produce bit-identical results —
  *     no cross-engine rounding semantics involved at all.
  *   - Each query is a pure function of (SparkSession, sfDir): no state,
  *     no caching — Catalyst sees the whole plan and pushes
  *     filters/pruning into the parquet scan.
  */
object Relational {
  import Tables.load

  // ---------------------------------------------------------------- S/A: aggregates

  /** A1 analog (reference `etl/gold_job.py:79-93` daily KPIs): single-key
    * group-aggregate with count/sum/avg + rounding + output sort.
    * Scale: partial (map-side) aggregation then one shuffle on the group
    * key; cardinality(order_date) is tiny so the final stage is cheap.
    */
  def dailyKpis(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("order_date"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("total_revenue"),
        (sum(col("o_totalprice").cast("decimal(18,4)")).cast("double") /
          count(col("o_totalprice"))).as("avg_price"))
      .orderBy("order_date")

  /** A2 analog (reference `etl/gold_job.py:137-148` zone demand): two-key
    * group-aggregate. TPC-H Q1 shape: the canonical partial-agg +
    * single-shuffle plan.
    */
  def flagStatusDemand(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(BigDecimal(1)) - col("l_discount").cast("decimal(8,4)"))), 2)
          .cast("double").as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A3 analog (reference `utils/incremental.py:40` watermark lookup):
    * global max — all-reduce, no grouped shuffle. */
  def watermarkMax(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").agg(max(col("ts")).as("watermark"))

  /** A5 analog (reference `etl/dq_metrics.py:128-134`): projection +
    * distinct (= group-by-all-columns aggregate). */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").select("user_id", "event_type").distinct()

  /** A7 analog (reference `utils/data_quality.py:283-289` null summary) —
    * but as ONE pass (`count(when(isnull))` per column) instead of the
    * reference's per-column job loop; at 100 TB a per-column loop is N
    * full scans, this is one.
    */
  def nullCounts(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "orders")
    df.select(df.columns.toSeq.map(c =>
      count(when(col(c).isNull, 1)).as(s"nulls_$c")): _*)
  }

  /** A8 analog (reference `docs/runbook.md:250-253` monitoring agg). */
  def monitoringAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        (sum(col("value").cast("decimal(18,4)")).cast("double") /
          count(col("value"))).as("avg_value"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- F: filters

  /** F1 analog (reference `etl/silver_job.py:131-160`): conjunctive
    * predicate list folded with AND, applied as one filter. All four
    * conjuncts push down to the parquet scan (verify via PushedFilters).
    */
  def filterConjunctive(spark: SparkSession, dir: String): DataFrame = {
    val preds: Seq[Column] = Seq(
      col("l_quantity") > lit(5.0),
      col("l_extendedprice") >= lit(500.0),
      col("l_shipdate").isNotNull,
      col("l_discount") <= lit(0.08))
    load(spark, dir, "lineitem")
      .filter(preds.reduce(_ && _))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  }

  /** F2+P8 analog (reference `utils/data_quality.py:201-223` range check):
    * disjunctive out-of-range predicate + when/otherwise labeling,
    * aggregated so the output is small and deterministic. */
  def rangeViolations(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .select(
        when(col("l_quantity") < lit(3.0), lit("below_min"))
          .when(col("l_quantity") > lit(45.0), lit("above_max"))
          .otherwise(lit("ok")).as("range_flag"))
      .groupBy("range_flag")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("range_flag")

  /** F4+F5 analog (reference `utils/incremental.py:86` watermark filter +
    * equality filter): incremental slice counted per type. The timestamp
    * literal predicate is exactly what prunes partitions on a
    * date-partitioned 100 TB table. */
  def incrementalSlice(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .filter(col("ts") > lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_new"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- D/O/U: dedup, topk, union

  /** D1 analog (reference `etl/silver_job.py:171-212` subset dedup).
    * The survivor row is arbitrary, so the query projects ONLY the key
    * columns — making the result set-deterministic and oracle-comparable
    * (SURVEY.md §7.3.4). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .dropDuplicates("l_returnflag", "l_linestatus", "l_quantity")
      .select("l_returnflag", "l_linestatus", "l_quantity")

  /** O2/O3 analog (reference `etl/dq_metrics.py:128-140` latest-run
    * lookup): sort desc + limit N → Spark plans TakeOrderedAndProject
    * (no global sort, per-partition top-k then merge — the right plan at
    * any scale). event_id breaks ties deterministically. */
  def topkLatest(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .orderBy(col("ts").desc, col("event_id").asc)
      .limit(10)
      .select("event_id", "user_id", "event_type")

  /** U1 analog (reference `tests/test_silver.py:50-51`): positional union
    * (= SQL UNION ALL) of two disjoint filtered slices. */
  def unionSlices(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val hi = o.filter(col("o_totalprice") > lit(400000.0))
      .select("o_orderkey", "o_orderstatus")
    val lo = o.filter(col("o_totalprice") < lit(1000.0))
      .select("o_orderkey", "o_orderstatus")
    hi.union(lo)
  }

  // ---------------------------------------------------------------- P: projections / casts

  /** P3-P6 analog (reference `etl/silver_job.py:38-110` cast-normalize):
    * timestamp parse, cast, trim/lower normalize, rename. A linear
    * Project chain that Catalyst's CollapseProject folds into one. */
  def castNormalize(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .withColumn("lang_norm", lower(trim(col("lang"))))
      .withColumn("n_chars_d", col("n_chars").cast("double"))
      .withColumnRenamed("source", "src")
      .select("doc_id", "lang_norm", "n_chars_d", "src")

  // ---------------------------------------------------------------- J1: merge/upsert as join

  /** J1 analog (reference `utils/incremental.py:116-136` Delta MERGE):
    * upsert re-expressed as a full-outer equi-join + coalesce projection
    * (SURVEY.md §2.4). Target = odd orderkeys; source = even-custkey
    * orders with a 10% uplift. Catalyst plans SortMergeJoin here (both
    * sides large); on a dimension-sized source it would broadcast — see
    * graft.incremental.Upsert for the production version with an
    * explicit broadcast threshold.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val source = o.filter(col("o_custkey") % 2 === 0)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
          .cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"))
    target.alias("t")
      .join(source.alias("s"), Seq("o_orderkey"), "full_outer")
      .select(
        col("o_orderkey"),
        coalesce(col("s.o_totalprice"), col("t.o_totalprice"))
          .as("price_after"),
        coalesce(col("s.o_orderstatus"), col("t.o_orderstatus"))
          .as("status_after"))
  }

  /** METADATA-ONLY COUNT (q134, Delta's `SELECT count(*)` answered
    * from the log): per version of a write → append → DV-delete →
    * compact chain, the row count folded from the MANIFEST's
    * per-entry `liveRows` (physical rows minus DV-masked rows) — zero
    * data files opened. On a 100 TB table this turns the most common
    * query in every dashboard from a full scan into an O(files)
    * metadata read. The oracle recomputes each version's count
    * relationally, so a drifting manifest row count (an entry's
    * `rows` stat wrong, a DV's `dvRows` not netted, compaction
    * miscounting) hash-mismatches. */
  def metadataCount(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-metacount")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1
    vt.deleteVectorized("o_orderkey", 100, 299) // v2
    vt.compact() // v3: masks purged, count must be preserved
    val counts = (0L to vt.currentVersion.get).map { v =>
      (v, vt.manifestEntries(v).map(_.liveRows).sum)
    }
    import spark.implicits._
    counts.toDF("version", "n_rows").orderBy("version")
  }

  /** MERGE with the full Delta clause surface (q133): the same
    * target/source as q13, but source rows additionally carry an `op`
    * command column and the merge runs
    * `WHEN MATCHED AND op='delete' THEN DELETE / WHEN MATCHED THEN
    * UPDATE / WHEN NOT MATCHED AND op<>'delete' THEN INSERT`
    * ([[graft.incremental.Incremental.upsertWithClauses]]) — the CDC
    * apply shape, where an upstream feed mixes upserts and delete
    * commands in one batch. The oracle replays all four clause
    * outcomes (matched-delete drops, matched-update takes source
    * values, unmatched delete-commands do NOT insert, target-only
    * rows pass through), so any clause-ordering or null-handling bug
    * hash-mismatches. Same single-shuffle cost as q13. */
  def mergeWithClauses(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Upsert
    val o = load(spark, dir, "orders")
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val source = o.filter(col("o_custkey") % 2 === 0)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
          .cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        when(col("o_orderkey") % 10 === 4, lit("delete"))
          .otherwise(lit("upsert")).as("op"))
    Upsert.upsertWithClauses(target, source, Seq("o_orderkey"),
        deleteWhen = Some(col("s.op") === "delete"),
        insertWhen = Some(col("s.op") =!= "delete"),
        updateColumns = Some(Seq("o_totalprice", "o_orderstatus")))
      .select(col("o_orderkey"),
        col("o_totalprice").as("price_after"),
        col("o_orderstatus").as("status_after"))
      .orderBy("o_orderkey")
  }

  /** SNAPSHOT CDC (q225; DLT `APPLY CHANGES FROM SNAPSHOT`'s diff
    * half, [[graft.incremental.Upsert.snapshotCdc]]): two FULL orders
    * snapshots — yesterday's (keys ≢0 mod 7, raw prices) and today's
    * (keys ≢0 mod 5, even-custkey prices re-stated +10%) — diffed
    * into a Delta-CDF-shaped change feed: appearing keys as `insert`,
    * vanished keys as `delete`, value changes as
    * `update_preimage`/`update_postimage` PAIRS, and the unchanged
    * majority emitting NOTHING (churn-proportional output, the
    * property that makes snapshot CDC usable when the upstream can
    * only hand over periodic dumps). The oracle rebuilds all four row
    * classes relationally, so a missed null-safe comparison, a
    * dropped image, or a leaked unchanged row hash-mismatches. One
    * full-outer shuffle + a narrow conditional explode. */
  def snapshotCdcFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Upsert
    val o = load(spark, dir, "orders")
    val prev = o.filter(col("o_orderkey") % 7 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val next = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_custkey") % 2 === 0,
          round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
            .cast("double"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    Upsert.snapshotCdc(prev, next, Seq("o_orderkey"))
      .orderBy("o_orderkey", "_change_type")
  }

  /** SNAPSHOT→CDC→APPLY round trip (q236; DLT `APPLY CHANGES FROM
    * SNAPSHOT` closed end to end): the q225 diff feed, re-applied —
    * yesterday's table + `snapshotCdc(yesterday, today)` through
    * [[graft.incremental.Upsert.applyChanges]] must RECONSTRUCT
    * today's snapshot exactly. This is the identity that licenses the
    * whole snapshot-CDC pattern: if diff∘apply were lossy anywhere
    * (a dropped delete, a pre-image applied as an upsert, a missed
    * null-safe comparison), the rebuilt table would differ from the
    * snapshot it came from — and the oracle IS today's snapshot, so
    * any such loss hash-mismatches. The apply consumes post-images
    * only (pre-images are audit metadata); deletes map to the op
    * column. Costs the q225 diff + one q204-shaped merge. */
  def snapshotCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Upsert
    val o = load(spark, dir, "orders")
    val prev = o.filter(col("o_orderkey") % 7 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val next = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_custkey") % 2 === 0,
          round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
            .cast("double"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    val feed = Upsert.snapshotCdc(prev, next, Seq("o_orderkey"))
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("op", when(col("_change_type") === "delete", "delete")
        .otherwise("upsert"))
      .withColumn("seq", lit(1L))
      .drop("_change_type")
    Upsert.applyChanges(prev, feed, Seq("o_orderkey"), "seq",
        opCol = Some("op"))
      .orderBy("o_orderkey")
  }

  /** CONVERT TO versioned, IN PLACE (q224; Delta `CONVERT TO DELTA`,
    * [[graft.io.VersionedTable.convertInPlace]]): a plain
    * hive-partitioned parquet directory (the even-key orders,
    * partitioned by status) is ADOPTED as version 0 — zero data moved
    * or rewritten, footers supply row counts and stats, path segments
    * supply partition values — and then lives as a first-class
    * versioned table: v1 appends the odd keys through the normal
    * commit path, v2 DV-deletes a key range THROUGH THE ADOPTED FILES
    * (the mask applies to files the library never wrote). The oracle
    * replays the final state, so a conversion that dropped files,
    * mis-derived partition values, or broke DV addressing over
    * foreign files hash-mismatches. At 100 TB this is the legacy-lake
    * upgrade: one manifest write, no migration job. */
  def convertInPlaceRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-convert")
      .resolve("tbl").toString
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    graft.io.TableIO.write(o.filter(col("o_orderkey") % 2 === 0), root,
      org.apache.spark.sql.SaveMode.Overwrite, Some("o_orderstatus"))
    val vt = new graft.io.VersionedTable(spark, root)
    vt.convertInPlace(Seq("o_orderstatus")) // v0: adoption, no rewrite
    vt.write(o.filter(col("o_orderkey") % 2 =!= 0),
      org.apache.spark.sql.SaveMode.Append) // v1: normal commit
    vt.deleteVectorized("o_orderkey", 100, 299) // v2: DVs over adopted files
    vt.read()
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** SNAPSHOT-SYNC MERGE (q219; Delta `whenNotMatchedBySource`,
    * [[graft.incremental.Upsert.mergeClausesIntoVersionedTable]]): the
    * clause surface's missing half — a FULL filtered snapshot (every
    * even-custkey order, price re-stated +5%) merges into a maintained
    * versioned table, and target rows the snapshot no longer contains
    * are handled by NOT-MATCHED-BY-SOURCE clauses: non-final orders
    * are DELETED (sync the disappearance), finalized orders are
    * UPDATED to an archival status `X` (audit retention). Matched rows
    * take the snapshot's values, snapshot-only rows insert — so one
    * merge exercises all four row fates, and the oracle replays each
    * from the same full-outer frame (a clause-ordering, presence-flag,
    * or pass-through bug hash-mismatches). Runs as one atomic
    * versioned commit; necessarily a full rewrite — an NMBS clause
    * examines every target row, so no pruned read can be correct
    * (Delta drops target-side file pruning under this clause too). */
  def mergeSyncSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Upsert
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-syncsnap")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(o.filter(col("o_orderkey") % 5 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    val snapshot = o.filter(col("o_custkey") % 2 === 0)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.05")), 2)
          .cast("double").as("o_totalprice"),
        lit("S").as("o_orderstatus"))
    Upsert.mergeClausesIntoVersionedTable(spark, snapshot, root,
      Seq("o_orderkey"),
      deleteWhenNotMatchedBySource = Some(col("t.o_orderstatus") =!= "F"),
      updateWhenNotMatchedBySource = Some(col("t.o_orderstatus") === "F"),
      notMatchedBySourceSet = Map("o_orderstatus" -> lit("X")))
    vt.read()
      .select(col("o_orderkey"),
        col("o_totalprice").as("price_after"),
        col("o_orderstatus").as("status_after"))
      .orderBy("o_orderkey")
  }

  /** MERGE with SCHEMA EVOLUTION through the versioned store (q196;
    * Delta MERGE `withSchemaEvolution` / mergeSchema, reference
    * `utils/delta_ops.py` MERGE): the q13 target is committed as v0
    * WITHOUT a priority column, then a source batch carrying the new
    * `o_orderpriority` column merges with `evolveSchema = true` — the
    * snapshot schema grows, matched and inserted rows take the
    * source's value, and untouched target rows read the column NULL.
    * The oracle replays the evolution as a full-outer join whose
    * new-column leg comes only from the source side, so a merge that
    * dropped the column (the non-evolving default), resurrected a
    * target value into it, or null-filled a matched row would all
    * hash-mismatch. Scale: the evolution COMMIT is a one-time full
    * rewrite (replaceWhere is strict-schema by contract); every
    * subsequent merge scopes normally against the grown schema. */
  def mergeEvolveVersioned(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-vmergeevo")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    vt.write(target, org.apache.spark.sql.SaveMode.Overwrite, "WRITE") // v0
    val source = o.filter(col("o_custkey") % 2 === 0)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
          .cast("double").as("o_totalprice"),
        col("o_orderpriority"))
    graft.incremental.Upsert.mergeIntoVersionedTable(spark, source, root,
      Seq("o_orderkey"), evolveSchema = true) // v1: schema grows
    vt.read()
      .select(col("o_orderkey"), col("o_totalprice").as("price_after"),
        col("o_orderpriority").as("priority_after"))
      .orderBy("o_orderkey")
  }

  /** DV-BACKED MERGE (q240; Delta 3.x deletion-vector DML,
    * [[graft.io.VersionedTable.mergeVectorized]]): the q13 upsert
    * semantics with O(changed rows) write amplification — matched
    * rows are retired by (file, row_index) masks, their updated
    * images plus the inserts land as appended files, and NO data file
    * is rewritten (DvMergeSpec pins the file-level contract:
    * untouched files survive byte-identical, only a sidecar + image
    * files are written). Keys ≡0 mod 7 update (matched where ≢0 mod
    * 5, inserted where ≡0 mod 5 — the target excludes those), so one
    * source exercises both clauses. The target is range-clustered on
    * the key so the source envelope stats-prunes the candidate set —
    * the 100 TB shape: a churn batch masks rows in the few files its
    * key range touches and appends its own images, a KB-scale commit
    * against a TB-scale table. The oracle replays the merge as a
    * full-outer coalesce; money rides as exact integer cents. */
  def mergeDv(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-dvmerge")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val cents = (col("o_totalprice").cast("decimal(18,4)") * 100)
      .cast("long")
    vt.write(o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), cents.as("cents"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")))
    val source = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (cents + 13).as("cents"),
        lit("U").as("o_orderstatus"))
    vt.mergeVectorized(source, Seq("o_orderkey"))
    vt.read().orderBy("o_orderkey")
  }

  /** DV-BACKED SNAPSHOT-SYNC MERGE (q247;
    * [[graft.io.VersionedTable.mergeClausesVectorized]]): q219's full
    * clause surface — matched update, unmatched insert,
    * NOT-MATCHED-BY-SOURCE delete/archive — with O(changed rows)
    * WRITE amplification. The NMBS clauses force a full-table READ
    * (no pruned read can prove an unread row unmatched; Delta gives
    * up pruning the same way), but the WRITE is masks + changed
    * images only: a weekly 0.1%-churn snapshot sync of a 100 TB
    * table commits 0.1%, where the rewrite form rewrites everything.
    * One table-scan join; the changed-row set checkpoints at
    * O(changed). The oracle replays the four row fates relationally
    * — identical output to the rewrite path, which DvMergeSpec pins
    * row-for-row alongside the file-level contract. */
  def mergeClausesDv(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-dvmc")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val cents = (col("o_totalprice").cast("decimal(18,4)") * 100)
      .cast("long")
    vt.write(o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), cents.as("cents"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")))
    val snapshot = o.filter(col("o_custkey") % 2 === 0)
      .select(col("o_orderkey"), (cents + 21).as("cents"),
        lit("S").as("o_orderstatus"))
    vt.mergeClausesVectorized(snapshot, Seq("o_orderkey"),
      deleteWhenNotMatchedBySource = Some(col("t.o_orderstatus") =!= "F"),
      updateWhenNotMatchedBySource = Some(col("t.o_orderstatus") === "F"),
      notMatchedBySourceSet = Map("o_orderstatus" -> lit("X")))
    vt.read()
      .select(col("o_orderkey"), col("cents").as("cents_after"),
        col("o_orderstatus").as("status_after"))
      .orderBy("o_orderkey")
  }

  /** SQL TIME TRAVEL (q244; Delta SQL `VERSION AS OF` / `TIMESTAMP AS
    * OF`, [[graft.sql.GraftSql]]): ONE SQL string joins the CURRENT
    * snapshot against the SAME table at `VERSION AS OF 0` and at
    * `TIMESTAMP AS OF` v0's commit instant — the as-of-then vs now
    * census every audit asks for. v0 holds the even keys; v1 appends
    * the odd ones; both travel legs must resolve to the even-key
    * snapshot (the oracle replays them as the filtered snapshot), so
    * a travel clause binding to the wrong version, leaking v1 rows,
    * or diverging between the version- and timestamp-addressed forms
    * hash-mismatches. Each travel leg plans from its own manifest —
    * the S4 read, zero data movement. */
  def sqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-sqltravel")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val cents = (col("o_totalprice").cast("decimal(18,4)") * 100)
      .cast("long")
    vt.write(o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), cents.as("cents"))) // v0: even keys
    val t0 = vt.history(limit = 1).head.timestamp // v0's commit instant
    vt.write(o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), cents.as("cents")),
      org.apache.spark.sql.SaveMode.Append) // v1: odd keys
    graft.sql.GraftSql.sql(spark,
      s"""SELECT cur.grp, cur.n_now, old.n_then, ts.n_then_ts,
                 cur.cents_now, old.cents_then
          FROM (SELECT o_orderkey % 10 AS grp, count(*) AS n_now,
                       sum(cents) AS cents_now
                FROM t GROUP BY o_orderkey % 10) cur
          JOIN (SELECT o_orderkey % 10 AS grp, count(*) AS n_then,
                       sum(cents) AS cents_then
                FROM t VERSION AS OF 0 GROUP BY o_orderkey % 10) old
            ON cur.grp = old.grp
          JOIN (SELECT o_orderkey % 10 AS grp, count(*) AS n_then_ts
                FROM t TIMESTAMP AS OF '$t0' GROUP BY o_orderkey % 10) ts
            ON cur.grp = ts.grp
          ORDER BY cur.grp""",
      versionedTables = Map("t" -> root))
  }

  /** CDF COMMIT METADATA (q243; Delta CDF `_commit_version` /
    * `_commit_timestamp`, [[graft.io.VersionedTable.changes]] with
    * `commitMeta`):
    * the change feed per VERSION slice, each row stamped with the
    * version that produced it — the columns downstream consumers key
    * cursors, audits, and SCD2 effective-dates off. v0 creates (keys
    * ≡0 mod 3), v1 appends (≡1 mod 3), v2 DV-deletes a band; the feed
    * over (0, 2] must attribute the inserts to v1 and the deletes to
    * v2 exactly (the oracle stamps versions from the known commit
    * partition of the data). `_commit_timestamp` is wall-clock (M33
    * monotone commit time) so the hash covers its PRESENCE
    * (`has_ts`); CdfMetaSpec pins the monotonicity. Planning stays
    * O(changed files) per appended slice; a masked slice pays the
    * value-diff fallback by [[graft.io.VersionedTable.changes]]'s
    * contract. */
  def cdfCommitMeta(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-cdfmeta")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val cents = (col("o_totalprice").cast("decimal(18,4)") * 100)
      .cast("long")
    vt.write(o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), cents.as("cents"))
      .repartitionByRange(4, col("o_orderkey"))) // v0
    vt.write(o.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), cents.as("cents")),
      org.apache.spark.sql.SaveMode.Append) // v1
    vt.deleteVectorized("o_orderkey", 1000, 2000) // v2
    vt.changes(0L, 2L, commitMeta = true)
      .select(col("o_orderkey"), col("cents"), col("_change_type"),
        col("_commit_version"),
        col("_commit_timestamp").isNotNull.as("has_ts"))
      .orderBy("o_orderkey", "_commit_version", "_change_type")
  }

  /** DV-BACKED UPDATE (q241;
    * [[graft.io.VersionedTable.updateVectorizedWhere]]): the q42
    * row-level UPDATE re-expressed as mask + append — the matched
    * band's rows are DV-masked out of their files and their updated
    * images appended in one atomic commit, so a 0.1%-band update on
    * a 100 TB table writes O(band) bytes instead of rewriting every
    * touched file. Range-clustered layout makes the band's candidate
    * set a few files (stats pruning); the oracle is the plain CASE
    * WHEN restatement. DvMergeSpec pins equivalence with the rewrite
    * path and the CDF update pre/post images on tracked tables. */
  def updateDv(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-dvupdate")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(o.select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")))
    vt.updateVectorizedWhere(col("o_orderkey").between(1000, 3000),
      Map("cents" -> (col("cents") + 5L), "o_orderstatus" -> lit("Z")))
    vt.read().orderBy("o_orderkey")
  }

  /** SQL DML (q249; Delta SQL `DELETE FROM` / `UPDATE ... SET`,
    * [[graft.sql.GraftSql.exec]]): the statements a Delta user types
    * all day, routed to the DV kernels — the DELETE's conjunctive
    * predicate (a key band AND a status) and the UPDATE's
    * (status AND an upper key bound) each commit O(changed rows) via
    * deletion vectors, with the candidate file set pruned by the
    * predicate's OWN expression tree against manifest stats
    * ([[graft.io.VersionedTable.predicateMayMatch]]): the
    * range-clustered layout means the banded DELETE plans only the
    * stripes its key range touches — at 100 TB, a KB-scale commit
    * against the few files a WHERE clause can reach. The oracle is
    * the relational restatement (filter + CASE); a predicate dropped,
    * widened, or applied to the wrong rows hash-mismatches. */
  def sqlDml(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-sqldml")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(o.select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")))
    val t = Map("t" -> root)
    graft.sql.GraftSql.exec(spark,
      "DELETE FROM t WHERE o_orderkey BETWEEN 1000 AND 2000 " +
        "AND o_orderstatus = 'O'", t)
    graft.sql.GraftSql.exec(spark,
      "UPDATE t SET cents = cents + 7 " +
        "WHERE o_orderstatus = 'F' AND o_orderkey < 5000", t)
    vt.read().orderBy("o_orderkey")
  }

  /** SQL MERGE (q250; Delta SQL `MERGE INTO`,
    * [[graft.sql.GraftSql.exec]]): the full clause surface — matched
    * DELETE (source rows flagged 'D'), matched UPDATE SET *,
    * unmatched INSERT *, and a NOT-MATCHED-BY-SOURCE archive — parsed
    * from one SQL string into the DV clause merge
    * ([[graft.io.VersionedTable.mergeClausesVectorized]]), so the
    * whole statement commits masks + changed images at O(changed
    * rows). The oracle replays the four row fates over a full-outer
    * join; a clause mis-parsed (aliases, conditions, delete-vs-update
    * precedence) or mis-applied hash-mismatches. Scale: identical to
    * q247 — the parse is O(|SQL|), the merge one table-scan join. */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-sqlmerge")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val cents = (col("o_totalprice").cast("decimal(18,4)") * 100)
      .cast("long")
    vt.write(o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), cents.as("cents"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")))
    o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (cents + 13).as("cents"),
        when(col("o_orderkey") % 3 === 0, "D").otherwise("U")
          .as("o_orderstatus"))
      .createOrReplaceTempView("q250_src")
    graft.sql.GraftSql.exec(spark,
      """MERGE INTO t USING q250_src AS src ON t.o_orderkey = src.o_orderkey
         WHEN MATCHED AND src.o_orderstatus = 'D' THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *
         WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F'
           THEN UPDATE SET o_orderstatus = 'X'""",
      Map("t" -> root))
    vt.read().orderBy("o_orderkey")
  }

  /** MATERIALIZED-VIEW QUERY REWRITE (q253; the OLAP aggregate
    * navigator / MV auto-routing, [[graft.plans.MvRewrite]]): the
    * query groups the BASE fact table by status, but the registered
    * Catalyst rule re-plans it onto the (status, priority) summary
    * table — sum-of-sums, sum-of-counts — and the `require` proves
    * the physical scan reads the MV, not the base (the result is
    * checkpointed under the rule, so the verified rows ARE the MV
    * rollup). The oracle aggregates the raw table: a wrong rollup
    * decomposition, a stale MV, or a mis-bound attribute
    * hash-mismatches. Scale: this is the POINT of MVs at 100 TB — a
    * dashboard group-by becomes a KB-scale summary scan, invisible to
    * the query author; the rewrite itself is O(plan size) driver
    * work. */
  def mvRewriteRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-mvrw")
      .toString
    val base = new graft.io.VersionedTable(spark, root + "/base")
    base.write(o.select(col("o_orderstatus"), col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents")))
    val mv = new graft.io.VersionedTable(spark, root + "/mv")
    mv.write(base.read().groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum("cents").as("sum_cents"), count(lit(1)).as("cnt")))
    val basis = base.currentVersion // the version this MV reflects
    val handle = graft.plans.MvRewrite.register(graft.plans.MvDef(
      baseRoot = root + "/base",
      mv = () => new graft.io.VersionedTable(spark, root + "/mv").read(),
      dims = Seq("o_orderstatus", "o_orderpriority"),
      sums = Map("cents" -> "sum_cents"),
      count = Some("cnt"),
      basisVersion = () => basis))
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.MvRewrite
    try {
      val out = base.read().groupBy("o_orderstatus")
        .agg(sum("cents").as("sum_cents"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/mv")),
        s"MV rewrite did not fire: scanned $roots")
      out.localCheckpoint() // materialize THROUGH the MV plan
    } finally {
      spark.experimental.extraOptimizations = prev
      handle.deregister() // OWN def only — concurrent queries keep theirs
    }
  }

  /** IVM-MAINTAINED MV SERVING QUERIES THROUGH THE REWRITE (q254; the
    * full materialized-view lifecycle — q73's O(delta) maintenance ×
    * q253's transparent serving): the (status, priority) summary is
    * initialized once, then maintained from the base's CHANGE FEED
    * through an append commit (insert deltas) and a DV band delete
    * (signed delete deltas) — the base is never re-aggregated — and a
    * REORG PURGE restores the base to a pure scan so the registered
    * rewrite serves the final rollup from the maintained MV (the
    * `require` proves the plan reads the MV; the maintenance cadence
    * is the real-world one: masks accumulate, REORG on schedule). The
    * oracle recomputes the final base state from scratch, so a wrong
    * signed fold, a missed delta, OR a wrong rollup decomposition
    * hash-mismatches. Scale: each maintenance step shuffles O(changed
    * rows) + O(groups); the dashboard query reads the KB-scale MV. */
  def mvIvmRewrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files.createTempDirectory("graft-mvivm")
      .toString
    val base = new graft.io.VersionedTable(spark, root + "/base")
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
    val keys = Seq("o_orderstatus", "o_orderpriority")
    val sums = Seq("cents")
    base.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // base v0
    val v0 = base.currentVersion.get
    val mv = new graft.io.VersionedTable(spark, root + "/mv")
    mv.write(IncrementalAgg.compute(base.read(), keys, sums)) // MV init
    base.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // base v1: inserts
    val v1 = base.currentVersion.get
    mv.write(IncrementalAgg.update(mv.read(), base.changes(v0, v1),
      keys, sums)) // O(delta) maintenance, base never re-read
    base.deleteVectorized("o_orderkey", 100, 299) // base v2: deletes
    val v2 = base.currentVersion.get
    mv.write(IncrementalAgg.update(mv.read(), base.changes(v1, v2),
      keys, sums))
    base.reorgPurge() // masks out, pure scan back — the rewrite's shape
    val basis = base.currentVersion // REORG moved bytes, not rows
    val handle = graft.plans.MvRewrite.register(graft.plans.MvDef(
      baseRoot = root + "/base",
      mv = () => new graft.io.VersionedTable(spark, root + "/mv").read(),
      dims = keys,
      sums = Map("cents" -> IncrementalAgg.sumCol("cents")),
      count = Some(IncrementalAgg.CountCol),
      basisVersion = () => basis))
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.MvRewrite
    try {
      val out = base.read().groupBy("o_orderstatus")
        .agg(sum("cents").as("cents_total"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/mv")),
        s"MV rewrite did not fire: scanned $roots")
      out.localCheckpoint() // materialize THROUGH the MV plan
    } finally {
      spark.experimental.extraOptimizations = prev
      handle.deregister() // OWN def only — concurrent queries keep theirs
    }
  }

  /** MV REWRITE OF avg() (q259; the aggregate navigator's first
    * NON-TRIVIAL decomposition — the reference's own flagship gold
    * aggregate is avg-shaped, etl/gold_job.py:86-87): the dashboard
    * query computes `avg(cents)` over the base, and the rule re-plans
    * it as `sum(mv_sum_cents) / sum(mv_cnt_cents)` over the summary —
    * dividing by the PER-MEASURE non-null count, not `count(*)`,
    * because every 10th order here has a NULL amount (exactly the
    * case where the naive decomposition is silently wrong). A
    * dims-only filter rides along to prove filters re-bind under the
    * avg path too, and the `require` proves the scan reads the MV.
    * The oracle recomputes sum/count from raw rows as an explicit
    * double division (bit-identical to both the rewritten plan and
    * Spark's own Average over these magnitudes). Scale: as q253 — the
    * avg-shaped daily-KPI query is THE most common dashboard query;
    * serving it from a KB-scale summary instead of the 100 TB fact
    * table is the MV tier's whole value. */
  def mvAvgRewrite(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-mvavg")
      .toString
    val base = new graft.io.VersionedTable(spark, root + "/base")
    base.write(o.select(col("o_orderstatus"), col("o_orderpriority"),
      when(col("o_orderkey") % 10 === 0, lit(null))
        .otherwise((col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long")).as("cents")))
    val mv = new graft.io.VersionedTable(spark, root + "/mv")
    mv.write(base.read().groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum("cents").as("sum_cents"),
        count(col("cents")).as("cnt_cents"), // non-null count: avg's divisor
        count(lit(1)).as("cnt")))
    val basis = base.currentVersion
    val handle = graft.plans.MvRewrite.register(graft.plans.MvDef(
      baseRoot = root + "/base",
      mv = () => new graft.io.VersionedTable(spark, root + "/mv").read(),
      dims = Seq("o_orderstatus", "o_orderpriority"),
      sums = Map("cents" -> "sum_cents"),
      count = Some("cnt"),
      counts = Map("cents" -> "cnt_cents"),
      basisVersion = () => basis))
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.MvRewrite
    try {
      val out = base.read()
        .filter(col("o_orderpriority") =!= "1-URGENT") // dims-only filter
        .groupBy("o_orderstatus")
        .agg(avg("cents").as("avg_cents"),
          count(col("cents")).as("n_amounts"), // non-null count, also MV-served
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/mv")),
        s"avg MV rewrite did not fire: scanned $roots")
      out.localCheckpoint() // materialize THROUGH the MV plan
    } finally {
      spark.experimental.extraOptimizations = prev
      handle.deregister()
    }
  }

  /** SQL-ONLY MATERIALIZED-VIEW LIFECYCLE (q260; the M47/M48 DDL
    * surface of the MV tier, [[graft.sql.MaterializedView]]): ONE SQL
    * session — with comment-bearing script statements — creates the
    * fact table, declares `CREATE MATERIALIZED VIEW` over it (summary
    * CTAS + persisted definition + rewrite registration, basis
    * stamped in the backing table's own history), mutates the base
    * through M47 DML (a DV band DELETE), OPTIMIZEs the base back to a
    * pure scan, and `REFRESH`es the view — an IVM fold of the change
    * feed since the recorded basis, never a re-aggregation. The final
    * dashboard SELECT (sum + avg + count) is then provably
    * REWRITE-SERVED from the summary (`scannedManifestRoots` must
    * name the MV root). The oracle recomputes everything from raw
    * orders: a wrong fold, a stale basis, a mis-parsed DDL, or a
    * wrong avg decomposition hash-mismatches. Scale: CREATE costs one
    * base aggregation; REFRESH O(changed rows) + the KB-scale merge;
    * the SELECT reads the summary — the full MV economics, now
    * reachable without a line of Scala. */
  def sqlMaterializedView(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlmv")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_orderpriority"),
      when(col("o_orderkey") % 10 === 0, lit(null))
        .otherwise((col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long")).as("cents"))
      .createOrReplaceTempView("q260_orders")
    graft.sql.GraftSql.execScript(spark,
      """-- bronze: land the facts; every 10th order has no amount
         CREATE TABLE facts AS SELECT * FROM q260_orders;
         CREATE MATERIALIZED VIEW kpis AS
           SELECT o_orderstatus, o_orderpriority,
                  sum(cents) AS sum_cents, count(*) AS n,
                  count(cents) AS cnt_cents
           FROM facts GROUP BY o_orderstatus, o_orderpriority;
         DELETE FROM facts WHERE o_orderkey BETWEEN 100 AND 299; /* M47;
           the DV masks make the base temporarily unservable */
         OPTIMIZE facts; -- masks folded away: pure scan again
         REFRESH MATERIALIZED VIEW kpis""", cat)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.plans.MvRewrite
    try {
      val out = graft.sql.GraftSql.exec(spark,
        """SELECT o_orderstatus, sum(cents) AS sum_cents,
                  avg(cents) AS avg_cents, count(*) AS n_orders
           FROM facts GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        cat)
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/kpis")),
        s"SQL MV rewrite did not fire: scanned $roots")
      val result = out.localCheckpoint() // materialize THROUGH the MV
      graft.sql.GraftSql.exec(spark, "DROP MATERIALIZED VIEW kpis", cat)
      result
    } finally {
      spark.experimental.extraOptimizations = prev
    }
  }

  /** SQL DDL TIER 2 (q261; the M52 surface — `CREATE TABLE` with a
    * DECLARED schema, `INSERT OVERWRITE … REPLACE WHERE`, and
    * `TRUNCATE TABLE`, [[graft.sql.GraftSql]]): a SQL-only session
    * declares an EMPTY partitioned fact table (schema first, data
    * later — no CTAS inference), fills it positionally, then
    * REPLACES exactly one partition with a reduced re-statement of
    * itself (the replaceWhere kernel: every other partition's files
    * are RE-REFERENCED, asserted via the manifest), and runs the
    * TRUNCATE lifecycle on a scratch table (metadata-empty, time
    * travel intact, re-INSERT without re-declaration). The oracle
    * recomputes the final state from raw orders. Scale: the
    * partition replace writes one partition; TRUNCATE writes one
    * manifest line; nothing here scans the table. */
  def sqlDdlTier2(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlddl2")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
      .createOrReplaceTempView("q261_orders")
    graft.sql.GraftSql.execScript(spark,
      """CREATE TABLE facts (k BIGINT, st STRING, cents BIGINT)
           PARTITIONED BY (st);
         INSERT INTO facts SELECT k, st, cents FROM q261_orders;
         -- replace ONE partition with a reduced, re-priced statement
         INSERT OVERWRITE facts REPLACE WHERE st = 'F'
           SELECT k, st, cents * 2 FROM q261_orders
           WHERE st = 'F' AND k % 3 = 0;
         -- the TRUNCATE lifecycle on a scratch table
         CREATE TABLE audit AS SELECT 1 AS marker;
         TRUNCATE TABLE audit;
         INSERT INTO audit VALUES (7)""", cat)
    // other partitions' files must be RE-REFERENCED by the replace,
    // and the truncated v0 must still time-travel
    val factsVt = new graft.io.VersionedTable(spark, cat.rootOf("facts"))
    val cur = factsVt.currentVersion.get
    val kept = factsVt.manifestEntries(cur - 1).map(_.relPath)
      .filterNot(_.contains("st=F")).toSet
    require(kept.subsetOf(factsVt.manifestEntries(cur).map(_.relPath)
      .toSet), "REPLACE WHERE rewrote partitions outside the predicate")
    val auditVt = new graft.io.VersionedTable(spark, cat.rootOf("audit"))
    require(auditVt.readVersion(0L).count() == 1L &&
      auditVt.readVersion(1L).count() == 0L,
      "TRUNCATE must keep history and empty the snapshot")
    graft.sql.GraftSql.exec(spark,
      """SELECT f.st, count(*) AS n, CAST(sum(f.cents) AS BIGINT) AS
           cents_total, (SELECT max(marker) FROM audit) AS marker
         FROM facts f GROUP BY f.st ORDER BY f.st""", cat)
  }

  /** SQL LOGICAL VIEWS (q262; `CREATE VIEW` — the M53 named-query
    * tier, [[graft.sql.GraftCatalog.createView]]): a view persists
    * its defining QUERY (a sidecar, no backing table), expands at
    * resolution against the CURRENT base — so the DV DELETE landing
    * AFTER both views are declared still flows through them — and
    * composes (the second view reads the first). The oracle
    * recomputes the view chain from the post-delete base; a stale
    * expansion (view bound at creation time) or a broken view-on-view
    * resolution hash-mismatches. Scale: a view is O(|SQL|) driver
    * text — the plan is the underlying table scan with every pushdown
    * intact. */
  def sqlViews(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlview")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "lineitem").select(col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
      .createOrReplaceTempView("q262_lineitem")
    graft.sql.GraftSql.execScript(spark,
      """CREATE TABLE li AS SELECT * FROM q262_lineitem;
         CREATE VIEW v_rev AS
           SELECT l_orderkey, CAST(sum(cents) AS BIGINT) AS rev
           FROM li GROUP BY l_orderkey;
         CREATE VIEW v_big AS
           SELECT l_orderkey, rev FROM v_rev WHERE rev >= 20000000;
         -- the views must reflect THIS delete, not creation-time state
         DELETE FROM li WHERE l_orderkey % 100 = 0""", cat)
    graft.sql.GraftSql.exec(spark,
      """SELECT count(*) AS n_big, CAST(sum(rev) AS BIGINT) AS rev_total
         FROM v_big""", cat)
  }

  /** MIN/MAX MATERIALIZED VIEW (q263; scoped re-aggregation —
    * [[graft.sql.MaterializedView]] M50 grown to the extremum
    * dashboard): CREATE materializes min/max partials next to the
    * counts; a DV DELETE then removes the upper band — taking some
    * groups' maxima with it — and REFRESH folds the additive columns
    * while re-aggregating ONLY the delete-affected groups (per-group
    * predicates against the base's manifest pruning; an insert-only
    * delta would have folded free via least/greatest). The final
    * extremum dashboard is rewrite-served from the summary (asserted
    * via `scannedManifestRoots`). The oracle recomputes min/max/count
    * from the post-delete base. Scale: REFRESH reads the changed
    * rows + the affected groups' files — never the table — and the
    * dashboard reads the KB-scale summary. */
  def mvMinMax(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvminmax")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
      .createOrReplaceTempView("q263_orders")
    graft.sql.GraftSql.execScript(spark,
      """CREATE TABLE facts AS SELECT * FROM q263_orders;
         CREATE MATERIALIZED VIEW extremes AS
           SELECT st, count(*) AS n, min(cents) AS lo, max(cents) AS hi
           FROM facts GROUP BY st;
         -- the upper band leaves: some groups lose their recorded max
         DELETE FROM facts WHERE cents >= 40000000;
         OPTIMIZE facts; -- masks folded away: pure scan again
         REFRESH MATERIALIZED VIEW extremes""", cat)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.MvRewrite
    try {
      val out = graft.sql.GraftSql.exec(spark,
        """SELECT st, min(cents) AS lo, max(cents) AS hi, count(*) AS n
           FROM facts GROUP BY st ORDER BY st""", cat)
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/extremes")),
        s"min/max MV rewrite did not fire: scanned $roots")
      val result = out.localCheckpoint()
      graft.sql.GraftSql.exec(spark, "DROP MATERIALIZED VIEW extremes",
        cat)
      result
    } finally spark.experimental.extraOptimizations = prev
  }

  /** STAR-JOIN MATERIALIZED VIEW (q264; exact two-sided IVM —
    * [[graft.sql.MaterializedView]] grown to `FROM fact JOIN dim`):
    * the revenue-by-segment dashboard materializes over orders ⋈
    * customer; then BOTH sides churn in one window — a DV DELETE
    * retires an order band (fact delta) and an UPDATE migrates every
    * 10th customer's segment (dim attribute move) — and REFRESH folds
    * the signed identity `ΔF⋈D_new ∪ F_old⋈ΔD` into the summary: the
    * fact delta joins the CURRENT dim (broadcast-sized), the dim
    * delta joins the PINNED old fact with the changed join keys
    * pushed toward manifest pruning, and the migrated customers'
    * surviving orders re-sign out of their old segment and into
    * MIGRATED. The oracle recomputes the dashboard from the mutated
    * bases; a one-sided fold, a stale dim join, or double-counting
    * the overlap all hash-mismatch. Scale: the refresh shuffles
    * O(changed rows on either side) — never re-aggregates the join —
    * and the dashboard reads the KB-scale summary by name. */
  def mvJoin(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvjoin")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
      .createOrReplaceTempView("q264_orders")
    load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView("q264_customer")
    graft.sql.GraftSql.execScript(spark,
      """CREATE TABLE fact AS SELECT * FROM q264_orders;
         CREATE TABLE dim AS SELECT * FROM q264_customer;
         CREATE MATERIALIZED VIEW seg_rev AS
           SELECT c_mktsegment, sum(cents) AS cents_total,
                  count(cents) AS cnt_cents, count(*) AS n_orders
           FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
           GROUP BY c_mktsegment;
         -- both sides churn before ONE refresh
         DELETE FROM fact WHERE o_orderkey BETWEEN 100 AND 399;
         UPDATE dim SET c_mktsegment = 'MIGRATED'
           WHERE c_custkey % 10 = 0;
         OPTIMIZE fact; -- masks folded: both sides pure scans again
         OPTIMIZE dim;
         REFRESH MATERIALIZED VIEW seg_rev""", cat)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.MvRewrite
    try {
      // the dashboard is written AS THE JOIN — the navigator serves
      // it from the KB-scale summary (join-shape match, both bases
      // fresh), proven via the scanned roots
      val out = graft.sql.GraftSql.exec(spark,
        """SELECT d.c_mktsegment AS c_mktsegment,
                  CAST(sum(f.cents) AS BIGINT) AS cents_total,
                  count(f.cents) AS cnt_cents, count(*) AS n_orders
           FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey
           GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""", cat)
      val roots = graft.plans.MvRewrite.scannedManifestRoots(out)
      require(roots.nonEmpty && roots.forall(_.endsWith("/seg_rev")),
        s"star-join MV rewrite did not fire: scanned $roots")
      out.localCheckpoint()
    } finally spark.experimental.extraOptimizations = prev
  }

  /** N-DIM STAR MATERIALIZED VIEW (q265; the telescoping identity —
    * [[graft.sql.MaterializedView]] at full star width): the
    * brand×nation revenue cube materializes over lineitem ⋈ part ⋈
    * supplier, then ALL THREE sides churn in one window — a DV
    * DELETE retires every 7th order's line items (fact delta), a
    * rebrand migrates every 5th part (dim-1 attribute move), and a
    * nation re-assignment moves every 3rd supplier (dim-2 attribute
    * move) — and one REFRESH folds the three-term identity
    * `ΔF⋈P₁⋈S₁ ∪ F₀⋈ΔP⋈S₁ ∪ F₀⋈P₀⋈ΔS` into the summary (older dims
    * at OLD versions, later at NEW — exactly one signed feed per
    * term, so nothing double-counts). The oracle recomputes the cube
    * from the three mutated bases; dropping a term, joining a dim at
    * the wrong version, or overlap double-counting all
    * hash-mismatch. Scale: each term is delta-bounded — the fact
    * feed is O(changed files + masked rows), each dim feed is tiny
    * and its old-fact read is key-envelope-restricted — and the cube
    * itself is KB-scale. */
  def mvStarN(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvstar")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "lineitem").select(col("l_orderkey"),
      col("l_partkey"), col("l_suppkey"),
      (col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
      .createOrReplaceTempView("q265_lineitem")
    load(spark, dir, "part").select(col("p_partkey"), col("p_brand"))
      .createOrReplaceTempView("q265_part")
    load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
      .createOrReplaceTempView("q265_supplier")
    graft.sql.GraftSql.execScript(spark,
      """CREATE TABLE fact AS SELECT * FROM q265_lineitem;
         CREATE TABLE dimp AS SELECT * FROM q265_part;
         CREATE TABLE dims AS SELECT * FROM q265_supplier;
         CREATE MATERIALIZED VIEW brand_nation AS
           SELECT p_brand, s_nationkey, sum(cents) AS cents_total,
                  count(cents) AS cnt_cents, min(cents) AS cents_lo,
                  max(cents) AS cents_hi, count(*) AS n_li
           FROM fact f JOIN dimp p ON f.l_partkey = p.p_partkey
                       JOIN dims s ON f.l_suppkey = s.s_suppkey
           GROUP BY p_brand, s_nationkey;
         -- all three sides churn before ONE refresh
         DELETE FROM fact WHERE l_orderkey % 7 = 0;
         UPDATE dimp SET p_brand = 'REBRANDED'
           WHERE p_partkey % 5 = 0;
         UPDATE dims SET s_nationkey = -1 WHERE s_suppkey % 3 = 0;
         REFRESH MATERIALIZED VIEW brand_nation""", cat)
    graft.sql.GraftSql.exec(spark,
      """SELECT p_brand, s_nationkey, cents_total, cnt_cents,
                cents_lo, cents_hi, n_li
         FROM brand_nation ORDER BY p_brand, s_nationkey""", cat)
  }

  /** SQL CATALOG PIPELINE (q255; CTAS + bare-name resolution over a
    * warehouse catalog, [[graft.sql.GraftCatalog]] +
    * [[graft.sql.GraftSql.exec]]): the bronze→gold flow a SQL-only
    * user runs — CTAS lands the fact table in the warehouse, a
    * bare-name DELETE routes to the predicate DV kernel (M46), a
    * second CTAS aggregates facts into gold BY NAME (no paths, no
    * Maps — the directory is the catalog), and the final SELECT reads
    * gold. The oracle recomputes gold from raw orders, so a broken
    * name resolution, lost CTAS, or mis-routed DELETE
    * hash-mismatches. Scale: the catalog listing is driver-side
    * metadata; every data operation costs what its kernel costs. */
  def sqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-sqlcat")
      .toString + "/wh"
    val cat = new graft.sql.GraftCatalog(spark, wh)
    load(spark, dir, "orders").select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"), col("o_orderstatus"))
      .createOrReplaceTempView("q255_orders")
    graft.sql.GraftSql.exec(spark,
      "CREATE TABLE facts AS SELECT * FROM q255_orders", cat)
    graft.sql.GraftSql.exec(spark,
      "DELETE FROM facts WHERE o_orderkey BETWEEN 500 AND 999", cat)
    graft.sql.GraftSql.exec(spark,
      """CREATE TABLE gold_candidate AS
         SELECT o_orderstatus, CAST(sum(cents) AS BIGINT) AS cents_total,
                count(*) AS n_orders
         FROM facts GROUP BY o_orderstatus""", cat)
    // the blue/green swap: verify the candidate, promote by RENAME —
    // one directory move, history intact (the M48 table-rename route)
    graft.sql.GraftSql.exec(spark,
      "ALTER TABLE gold_candidate RENAME TO gold", cat)
    graft.sql.GraftSql.exec(spark,
      "SELECT * FROM gold ORDER BY o_orderstatus", cat)
  }

  /** APPLY CHANGES / SCD-Type-1 CDC apply (q204;
    * `Upsert.applyChanges` — the DLT `APPLY CHANGES INTO` shape): two
    * CDC batches with overlapping keys land IN ONE FEED — sequence 1
    * upserts the even-customer orders, sequence 2 (the newer truth)
    * re-prices every 5th order and deletes every 10th — and the
    * operator folds the feed to each key's latest row by sequence
    * BEFORE merging, so the late-arriving older change can never
    * clobber the newer one. The oracle replays the fold (window
    * latest-by-seq) plus all clause outcomes; a raw MERGE of the
    * unfolded feed, a min-instead-of-max fold, or delete rows
    * leaking as inserts all hash-mismatch. Scale: the fold shuffles
    * the FEED (batch-sized), the merge costs one q13. */
  def applyChangesScd1(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.Upsert
    val o = load(spark, dir, "orders")
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    def priced(mult: String): Column =
      round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal(mult)), 2)
        .cast("double").as("o_totalprice")
    val b1 = o.filter(col("o_custkey") % 2 === 0)
      .select(col("o_orderkey"), priced("1.1"),
        lit("U1").as("o_orderstatus"), lit("upsert").as("op"),
        lit(1L).as("seq"))
    val b2 = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), priced("1.2"),
        lit("U2").as("o_orderstatus"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        lit(2L).as("seq"))
    Upsert.applyChanges(target, b1.unionByName(b2), Seq("o_orderkey"),
        "seq", opCol = Some("op"))
      .select(col("o_orderkey"), col("o_totalprice").as("price_after"),
        col("o_orderstatus").as("status_after"))
      .orderBy("o_orderkey")
  }

  /** S7/J1 through the VERSIONED store (reference `utils/delta_ops.py`
    * MERGE + `utils/incremental.py:116-136`): the q13 merge executed
    * against a real manifest-log table — create a bucket-partitioned
    * v0, then a partition-SCOPED merge commits v1 via one atomic
    * replaceWhere manifest swap (untouched buckets' files re-referenced
    * byte-identically, never read or rewritten), then read the result
    * back through the manifest FileIndex. The only oracled query that
    * exercises the full write→commit→snapshot-read storage path. */
  def versionedMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = load(spark, dir, "orders")
    val root = java.nio.file.Files.createTempDirectory("graft-vmerge")
      .resolve("tbl").toString
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        (col("o_orderkey") % 5).as("bucket"))
    val source = o
      .filter(col("o_custkey") % 2 === 0 && col("o_orderkey") % 5 < 2)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(18,4)") * lit(BigDecimal("1.1")), 2)
          .cast("double").as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 5).as("bucket"))
    graft.incremental.Upsert.mergeIntoVersionedTable(spark, target, root,
      Seq("o_orderkey"), partitionBy = Some(Seq("bucket"))) // creates v0
    graft.incremental.Upsert.mergeIntoVersionedTable(spark, source, root,
      Seq("o_orderkey"), assumeStablePartitions = true) // scoped merge, v1
    new graft.io.VersionedTable(spark, root).read()
      .select(col("o_orderkey"), col("o_totalprice").as("price_after"),
        col("o_orderstatus").as("status_after"))
  }

  // ---------------------------------------------------------------- joins beyond parity

  /** Star-schema join: fact × two dims with explicit broadcast of the
    * small sides — the plan every 100 TB star query should have
    * (BroadcastHashJoin ×2, zero shuffle of the fact table). */
  def starJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
    val nat = load(spark, dir, "nation")
    load(spark, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** Window keep-latest dedup: the ordered-survivor variant of D1 the
    * reference lacks (row_number over key ordered by recency). One
    * shuffle on the partition key; deterministic via event_id tiebreak. */
  def windowLatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    load(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
  }

  /** Time-bucketed aggregate — batch twin of the streaming windowed agg
    * in graft.streaming (date_trunc keeps it oracle-expressible). */
  def hourlyEventAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_value"))
      .orderBy("hour_bucket", "event_type")

  /** Fact × mid-size-dim join: revenue by part brand. `part` is two
    * orders of magnitude smaller than lineitem — broadcast it and the
    * fact table never shuffles (same rule as q14 at any scale). */
  def brandRevenue(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .join(broadcast(load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(BigDecimal(1)) - col("l_discount").cast("decimal(8,4)"))), 2)
          .cast("double").as("revenue"))
      .orderBy("p_brand")

  /** DELETE + UPDATE services on a versioned table, end-to-end: build
    * a bucket-partitioned versioned copy of orders, drop one partition
    * metadata-only, row-delete a key range (stats-pruned rewrite),
    * row-update another range's status, and read the final snapshot.
    * The DuckDB oracle replays the same mutations as WHERE/CASE over
    * the raw table — so the oracle checks the whole mutation chain,
    * not just the final read path. */
  def versionedDeleteUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-vdelupd")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val base = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        (col("o_orderkey") % 4).as("bucket"))
    vt.write(base, partitionBy = Some(Seq("bucket"))) // v0
    vt.deletePartitionIn("bucket", Set("3")) // v1: metadata-only drop
    vt.deleteBetween("o_orderkey", 100, 199) // v2: stats-pruned row delete
    vt.updateBetween("o_orderkey", 200, 299,
      Map("o_orderstatus" -> lit("X"))) // v3: stats-pruned row update
    vt.read().select("o_orderkey", "o_totalprice", "o_orderstatus")
  }

  /** DELETE via DELETION VECTORS, end-to-end: build a versioned copy of
    * orders, mask two OVERLAPPING key ranges as DV commits (zero data
    * files rewritten — the sidecars are the only new bytes), and read
    * the final snapshot through the masks. The oracle replays the union
    * of the ranges as a WHERE over the raw table, so it checks the
    * whole DV chain: row-index capture, sidecar union, and the
    * anti-join read path. At 100 TB this is THE row-level delete shape:
    * O(deleted rows) written instead of rewriting every touched file. */
  def versionedDvDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-vdv")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val base = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        (col("o_orderkey") % 4).as("bucket"))
    vt.write(base, partitionBy = Some(Seq("bucket"))) // v0
    vt.deleteVectorized("o_orderkey", 100, 199) // v1: DV mask
    vt.deleteVectorized("o_orderkey", 150, 299) // v2: overlapping union
    vt.read().select("o_orderkey", "o_totalprice", "o_orderstatus")
  }

  /** Incremental aggregate maintenance over the change feed (IVM):
    * initialize a grouped count/sum aggregate from a versioned orders
    * snapshot, then maintain it through an APPEND (file-level change
    * feed — only the new files are read) and a DELETION-VECTOR delete
    * (row-level feed) by folding per-group deltas — the base table is
    * never rescanned after initialization. Sums run in DECIMAL, so the
    * maintained aggregate is bit-identical to a full recompute, which
    * is exactly what the oracle does over the final row set. */
  def incrementalAggMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files.createTempDirectory("graft-ivm")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,4)").as("price"))
    val keys = Seq("o_orderstatus")
    val sums = Seq("price")
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    val v0 = vt.currentVersion.get
    val agg0 = IncrementalAgg.compute(vt.read(), keys, sums)
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1: file-level feed
    val v1 = vt.currentVersion.get
    val agg1 = IncrementalAgg.update(agg0, vt.changes(v0, v1), keys, sums)
    vt.deleteVectorized("o_orderkey", 100, 299) // v2: row-level feed
    val v2 = vt.currentVersion.get
    val agg2 = IncrementalAgg.update(agg1, vt.changes(v1, v2), keys, sums)
    agg2.select(col("o_orderstatus"), col(IncrementalAgg.CountCol).as("n_rows"),
      round(col(IncrementalAgg.sumCol("price")), 2).cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** NON-ADDITIVE incremental aggregate maintenance (IVM's other
    * half): min/max are not decrementable — deleting the current min
    * needs the group's other rows — so the maintenance step is a
    * SCOPED RECOMPUTE: only groups the change feed touches are
    * re-aggregated from the snapshot (a semi-join-pruned scan), all
    * untouched groups pass through from the prior aggregate verbatim.
    * Same append + DV-delete chain as q73; the oracle recomputes
    * min/max over the final row set, so it checks that the
    * touched-group splice equals a full recompute. At 100 TB the
    * pruned rescan reads only the changed groups' rows (stats /
    * partition pruning scopes the scan), never the table. */
  def incrementalMinMaxMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files.createTempDirectory("graft-ivm-mm")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,4)").as("price"))
    val keys = Seq("o_orderstatus")
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n_rows"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    val v0 = vt.currentVersion.get
    val agg0 = aggOf(vt.read())
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1: file-level feed
    val v1 = vt.currentVersion.get
    val agg1 = IncrementalAgg.updateByRecompute(
      agg0, vt.read(), vt.changes(v0, v1), keys, aggOf)
    vt.deleteVectorized("o_orderkey", 100, 299) // v2: row-level feed
    val v2 = vt.currentVersion.get
    val agg2 = IncrementalAgg.updateByRecompute(
      agg1, vt.read(), vt.changes(v1, v2), keys, aggOf)
    agg2.select(col("o_orderstatus"), col("n_rows"),
      col("min_price").cast("double").as("min_price"),
      col("max_price").cast("double").as("max_price"))
      .orderBy("o_orderstatus")
  }

  /** CHANGE DATA FEED, directly oracled: the same write → append →
    * DV-delete chain as q73, but the OUTPUT IS THE FEED ITSELF — both
    * of its planning modes. The append range takes the file-level
    * fast path (only the new files are read — a day of appends on a
    * 100 TB table reads a day of files) and must emit exactly the
    * appended rows as inserts; the DV range file identity no longer
    * maps to row identity, so it falls back to the row-level
    * symmetric diff and must emit exactly the masked rows as deletes.
    * The oracle recomputes both sets relationally — any feed bug
    * (leaked rows, missed masks, wrong tags) hash-mismatches. */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-cdf")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    val v0 = vt.currentVersion.get
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1: file-level feed
    val v1 = vt.currentVersion.get
    vt.deleteVectorized("o_orderkey", 100, 299) // v2: row-level feed
    val v2 = vt.currentVersion.get
    vt.changes(v0, v1).withColumn("feed", lit("files"))
      .unionByName(vt.changes(v1, v2).withColumn("feed", lit("rows")))
      .orderBy("feed", "o_orderkey")
  }

  /** INCREMENTAL JOIN-VIEW maintenance (IVM's third family, after the
    * additive q73 and non-additive q74 aggregates): the materialized
    * view `V = orders ⋈ customer` is maintained through changes ON
    * BOTH SIDES — an orders append + DV-delete and a customer
    * DV-delete — via the signed delta rule
    * `ΔV = ΔA ⋈ B_old ⊕ A_new ⋈ ΔB` (graft.incremental
    * .IncrementalJoin). `B_old` is served by TIME TRAVEL from the
    * manifest log; both feed sides broadcast, so neither base table
    * ever shuffles; the keyed apply re-resolves only rows whose
    * o_orderkey the delta touches — O(delta), never O(view). The
    * oracle recomputes the join over the final states, so it checks
    * delta completeness, the cross-term cancellation (an appended
    * order of a deleted customer must NOT survive), and the keyed
    * splice, all at once. */
  def incrementalJoinMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalJoin
    val rootA = java.nio.file.Files.createTempDirectory("graft-ivj-a")
      .resolve("tbl").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-ivj-b")
      .resolve("tbl").toString
    val vtA = new graft.io.VersionedTable(spark, rootA)
    val vtB = new graft.io.VersionedTable(spark, rootB)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    vtA.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // A v0
    val a0 = vtA.currentVersion.get
    vtB.write(load(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"),
        col("c_nationkey"))) // B v0
    val b0 = vtB.currentVersion.get
    // checkpointed (lazily): applyKeyed reads the prior view through
    // both its anti and semi branches — unchecked, the A:B join plan
    // executes twice in the final action (a production IVM keeps the
    // view MATERIALIZED; this is that, per-invocation)
    val view0 = vtA.read().join(vtB.read(), Seq("o_custkey"))
      .localCheckpoint(eager = false)
    // -- changes on both sides --
    vtA.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // A v1: file-level feed
    vtA.deleteVectorized("o_orderkey", 100, 299) // A v2: row-level feed
    val a2 = vtA.currentVersion.get
    val custVictims = vtB.read().select(col("o_custkey"))
      .filter(col("o_custkey") % 7 === 0)
    vtB.deleteVectorizedKeys("o_custkey", custVictims) // B v1
    val b1 = vtB.currentVersion.get
    // lazy-checkpointed: the touched-key distinct and the net-sign
    // union both read it — unchecked, the change-feed joins run twice
    val delta = IncrementalJoin.deltaJoin(
      changesA = vtA.changes(a0, a2),
      bOld = vtB.readVersion(b0),
      aNew = vtA.read(),
      changesB = vtB.changes(b0, b1),
      keys = Seq("o_custkey"))
      .localCheckpoint(eager = false)
    IncrementalJoin.applyKeyed(view0, delta, rowKeys = Seq("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_name",
        "c_nationkey")
      .orderBy("o_orderkey")
  }

  /** SHALLOW CLONE under the oracle (q131): clone a DV-masked
    * versioned table (zero data files copied — the clone manifest
    * references the source's files absolutely; only the DV sidecar is
    * rewritten, O(masked rows)), then DV-delete MORE rows from the
    * clone only. The output unions both sides, so the hash pins
    * three behaviors at once: the clone inherited the source's mask,
    * the clone-local delete applied on top (sidecar re-rendering
    * works on externally-referenced files), and the source is
    * UNTOUCHED by the clone's write. The zero-copy property itself is
    * spec-asserted (VersionedTableSpec: no parquet data files under
    * the clone root). */
  def shallowCloneRead(spark: SparkSession, dir: String): DataFrame = {
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-clone-src")
      .resolve("tbl").toString
    val dstRoot = java.nio.file.Files.createTempDirectory("graft-clone-dst")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, srcRoot)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    vt.deleteVectorized("o_orderkey", 100, 199) // source mask
    val clone = vt.shallowCloneTo(dstRoot)
    clone.deleteVectorized("o_orderkey", 200, 299) // clone-only mask
    clone.read().withColumn("side", lit("clone"))
      .unionByName(vt.read().withColumn("side", lit("source")))
      .orderBy("side", "o_orderkey")
  }

  /** DEEP CLONE SURVIVES SOURCE GC (q200; Delta `CLONE ... DEEP`,
    * `VersionedTable.deepCloneTo`): the q131 scenario taken to the
    * clone form shallow CAN'T survive — clone the DV-masked snapshot,
    * then OVERWRITE the source and VACUUM its old versions so every
    * byte the snapshot referenced is deleted at the source. The deep
    * clone still reads the masked snapshot exactly (it owns byte
    * copies; the verbatim-manifest copy carries per-file stats, DV
    * keys and row ids), which is precisely the disaster-recovery /
    * archival contract deep clone exists for. A shallow clone in this
    * chain would throw on read — so the oracle match pins the
    * deep-copy semantics, not just clone bookkeeping. Scale: the
    * clone is one distributed O(live files) copy job; the driver
    * ships only the relative-path list. */
  def deepCloneSurvivesGc(spark: SparkSession, dir: String): DataFrame = {
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-dclone-src")
      .resolve("tbl").toString
    val dstRoot = java.nio.file.Files.createTempDirectory("graft-dclone-dst")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, srcRoot)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    vt.deleteVectorized("o_orderkey", 100, 199) // v1: source mask
    val clone = vt.deepCloneTo(dstRoot)
    // destroy the source: overwrite, then GC every pre-overwrite byte
    vt.write(load(spark, dir, "orders").filter(col("o_orderkey") === 1L)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
      org.apache.spark.sql.SaveMode.Overwrite, "OVERWRITE")
    vt.vacuum(retainVersions = 1, orphanGraceMs = 0L)
    clone.read().orderBy("o_orderkey")
  }

  /** IDENTITY COLUMN ALLOCATION (q201; Delta GENERATED ALWAYS AS
    * IDENTITY, `VersionedTable.addIdentityColumn`): a surrogate key
    * declared as pure manifest metadata riding the row-tracking ids —
    * write a slice, add `order_sk START 1000 STEP 2`, append the rest,
    * then OPTIMIZE (ids must survive the rewrite). Individual id↔row
    * pairings are allocation-order-dependent (exactly like Delta), but
    * the allocation CONTRACT is deterministic and that is what the
    * oracle hashes: N unique values forming the arithmetic progression
    * 1000, 1002, … — so count, distinct count, min, max and sum are
    * all closed forms of N. A duplicate id, a skipped block, a
    * compaction dropping materialized ids, or step drift each break a
    * closed form and hash-mismatch. Scale: zero bytes per row ever
    * written for the column; O(files) manifest arithmetic. */
  def identityAllocation(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-idcol")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    vt.write(o.filter(col("o_orderkey") % 3 =!= 0)) // v0
    vt.addIdentityColumn("order_sk", startWith = 1000L, step = 2L)
    vt.write(o.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // fresh id block
    vt.compact() // ids must survive the rewrite
    vt.readWithIdentity().agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("order_sk")).as("n_distinct_sk"),
      min(col("order_sk")).as("min_sk"),
      max(col("order_sk")).as("max_sk"),
      sum(col("order_sk")).as("sum_sk"))
  }

  /** TYPE WIDENING under the oracle (q203; Delta type widening,
    * `write(allowTypeWidening = true)`): a table created with NARROW
    * types (int key, float price) takes an append carrying the WIDE
    * types (long, double) — the snapshot schema widens in place and
    * the original narrow files read upcast natively, zero rewrite.
    * The oracle replays the precision seam exactly: the narrow
    * slice's price is `double(float(price))` (IEEE float→double is
    * exact, identical in both engines), the wide slice's is the raw
    * double — so a widening that rewrote/re-rounded data, dropped the
    * narrow files, or read them at the wrong type all hash-mismatch.
    * Scale: widening is O(1) manifest metadata at any table size —
    * the alternative (rewrite to migrate int→long) is the O(table)
    * cost this feature exists to avoid. */
  def typeWideningRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-widen")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    vt.write(o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_totalprice").cast("float").as("o_totalprice"))) // narrow v0
    vt.write(o.filter(col("o_orderkey") % 2 === 1),
      org.apache.spark.sql.SaveMode.Append,
      allowTypeWidening = true) // wide append: schema widens in place
    vt.read().orderBy("o_orderkey")
  }

  /** ADD COLUMN … NOT NULL DEFAULT, the zero-rewrite lazy backfill
    * (q216; `VersionedTable.addColumnWithDefault` — Postgres fast ADD
    * COLUMN / Iceberg initial-default semantics): evens land at v0,
    * then ONE manifest-only commit adds a `channel` column whose
    * default backfills every existing row at read time (no data file
    * is touched — ColumnDefaultSpec pins byte-identity), then odds
    * append CARRYING explicit channel values. The read must show the
    * default exactly for pre-addition rows and the stored values for
    * post-addition rows — a backfill that rewrites, misses, or leaks
    * nulls hash-mismatches against the CASE-replaying oracle. Scale:
    * this is the O(1)-metadata ALTER TABLE a 100 TB table needs; the
    * default applies as one coalesce at the read choke point, inside
    * whole-stage codegen. */
  def columnDefaultRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-coldef-q")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_totalprice"))
    vt.write(o.filter(col("o_orderkey") % 2 === 0)) // v0
    vt.addColumnWithDefault("channel",
      org.apache.spark.sql.types.StringType, "'backfill'") // v1: metadata
    vt.write(o.filter(col("o_orderkey") % 2 === 1)
      .withColumn("channel", lit("online")),
      org.apache.spark.sql.SaveMode.Append) // v2: carries the column
    vt.read().orderBy("o_orderkey")
  }

  /** COPY INTO exactly-once ingest (q205; Delta COPY INTO,
    * `VersionedTable.copyInto`): a landing zone staged as four
    * parquet drops — the first COPY INTO loads two, a RE-RUN loads
    * nothing (idempotence), then two more files land and the third
    * run loads exactly those — and the final table must equal the
    * source exactly once. Any double-load (the naive re-run failure),
    * missed file, or ledger/confirmation drift duplicates or drops a
    * slice and hash-mismatches. Scale: per run the cost is reading
    * the NEW files plus O(file names) driver metadata — the manifest
    * scale the table already carries. */
  def copyIntoIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-copyinto")
      .toString
    val src = s"$base/landing"
    val root = s"$base/tbl"
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    def stage(n: Int): Unit = o.filter(col("o_orderkey") % 4 === n)
      .coalesce(1).write.parquet(s"$src/slice$n")
    val vt = new graft.io.VersionedTable(spark, root)
    stage(0); stage(1)
    vt.copyInto(src)
    vt.copyInto(src) // idempotent re-run: loads nothing
    stage(2); stage(3)
    vt.copyInto(src) // loads exactly the two new drops
    vt.read().orderBy("o_orderkey")
  }

  /** PER-VERSION SNAPSHOT WALK (q129): time travel itself under the
    * oracle — the same write → append → DV-delete chain as q73, but
    * the output reads EVERY version of the table and aggregates each
    * snapshot (version, rows, revenue). Any time-travel bug — a
    * version serving the wrong file set, an append mutating history,
    * a DV mask leaking backward onto v0/v1 — shifts a row of the
    * output and hash-mismatches. This is the audit query a data team
    * runs to answer "what did the table say last Tuesday": at 100 TB
    * each readVersion plans from its own manifest (O(files) metadata,
    * zero data copied), and the aggregate collapses map-side. */
  def versionWalk(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-walk")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,4)").as("price"))
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1
    vt.deleteVectorized("o_orderkey", 100, 299) // v2
    val perVersion = (0L to vt.currentVersion.get).map { v =>
      vt.readVersion(v)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("price")), 2).cast("double").as("revenue"))
        .select(lit(v).as("version"), col("n_rows"), col("revenue"))
    }
    perVersion.reduce(_ unionByName _).orderBy("version")
  }

  /** STATS-BASED DATA SKIPPING under the oracle (q148, previously
    * spec-only — M12): orders committed as many RANGE-CLUSTERED files
    * (repartitionByRange on the key writes each file a disjoint key
    * span, each with recorded [min,max] stats), then a `NumRange` read
    * plans ONLY the files whose stats intersect the predicate and
    * applies it row-level. The oracle is the plain WHERE — so a stats
    * bug that prunes a file it shouldn't (missing rows) or mis-skips
    * the row filter (extra rows) hash-mismatches. At 100 TB this is
    * Delta data skipping: the scan cost follows the predicate's
    * selectivity, not the table size — provided the layout clusters
    * the column, which is exactly what the range write does. */
  def dataSkippingRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-skip")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(16, col("o_orderkey")))
    vt.readMatching(graft.io.VersionedTable.NumRange("o_orderkey", 2000, 4000))
      .orderBy("o_orderkey")
  }

  /** MULTI-DIMENSIONAL Z-ORDER + CONJUNCTIVE SKIPPING under the
    * oracle (q170 — M2×M12 jointly, where q148 pins one dimension):
    * orders are Z-ORDERED on (o_orderkey, o_custkey) — the interleaved
    * curve gives every file a TIGHT [min,max] envelope on BOTH
    * columns — then `readMatching` plans only the files whose recorded
    * envelopes intersect BOTH ranges and row-filters the survivors.
    * The oracle is the plain conjunctive WHERE, so wrong pruning in
    * either dimension (skipped rows or unfiltered extras)
    * hash-mismatches. At 100 TB this is the Delta OPTIMIZE ZORDER +
    * data-skipping contract: scan cost follows the 2-D selectivity,
    * not table size, for ANY conjunctive range combination —
    * single-column range clustering can only serve its own column. */
  def zorderSkippingRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-zskip")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    graft.maintenance.Maintenance.zOrderBy(spark, root,
      Seq("o_orderkey", "o_custkey"), numPartitions = Some(16))
    vt.readMatching(graft.io.VersionedTable.NumRange("o_orderkey", 1000, 9000),
        graft.io.VersionedTable.NumRange("o_custkey", 200, 900))
      .orderBy("o_orderkey")
  }

  /** LIQUID-STYLE INCREMENTAL CLUSTERING under the oracle (q206;
    * `Maintenance.clusterIncrementalBy` — the OPTIMIZE form Delta's
    * liquid clustering schedules): half the orders land and are
    * clustered on (orderkey, custkey); the other half then lands
    * UNSORTED and a second incremental pass clusters ONLY those new
    * files — the first pass's entries survive byte-identically
    * (LiquidClusterSpec pins that) — before a conjunctive 2-D
    * range read spans BOTH file populations. The oracle is the plain
    * conjunctive BETWEEN, so over-pruning in either population loses
    * rows and hash-mismatches. Scale: nightly clustering costs one
    * pass over the DAY'S files, never an O(table) rewrite, and
    * multi-column skipping holds across every generation of files. */
  def liquidClusterRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-liquid")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    vt.write(o.filter(col("o_orderkey") % 2 === 0).repartition(8))
    graft.maintenance.Maintenance.clusterIncrementalBy(spark, root,
      Seq("o_orderkey", "o_custkey"), numPartitions = Some(8))
    vt.write(o.filter(col("o_orderkey") % 2 === 1).repartition(8),
      org.apache.spark.sql.SaveMode.Append)
    graft.maintenance.Maintenance.clusterIncrementalBy(spark, root,
      Seq("o_orderkey", "o_custkey"), numPartitions = Some(8))
    vt.readMatching(graft.io.VersionedTable.NumRange("o_orderkey", 1000, 9000),
        graft.io.VersionedTable.NumRange("o_custkey", 200, 900))
      .orderBy("o_orderkey")
  }

  /** GENERATED-COLUMN PARTITION PRUNING under the oracle (q171 —
    * Delta `GENERATED ALWAYS AS` semantics): events land partitioned
    * by a `day` column the writer derives from `ts`, the table
    * declares `day = day(ts)` (`recordGenerated`, a manifest-only
    * commit), and a TIMESTAMP-range read on the SOURCE column then
    * prunes whole day partitions straight from the manifest — the
    * user never mentions the partition column. The row-level
    * predicate stays on top for exactness at the boundary days. The
    * oracle is the plain `ts BETWEEN`, so pruning a day it shouldn't
    * (lost rows) or skipping the row filter (extra rows)
    * hash-mismatches. At 100 TB this is the idiom that makes
    * "last week's events" a 7-partition scan without the caller
    * knowing the layout. */
  def generatedPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-gencol")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        date_format(col("ts"), "yyyy-MM-dd").as("day")),
      partitionBy = Some(Seq("day")))
    vt.recordGenerated("day", "day(ts)")
    vt.readMatching(graft.io.VersionedTable.TsRange("ts",
        "2024-01-10T06:00:00Z", "2024-01-13T18:00:00Z"))
      .select("event_id", "user_id", "event_type", "day")
      .orderBy("event_id")
  }

  /** GENERATED hour() PRUNING under the oracle (q182): the
    * hour-partitioned layout every streaming ingest lands in —
    * events partitioned by an `hr` column the writer derives as the
    * UTC `yyyy-MM-dd-HH` truncation of `ts`, declared
    * `hr = hour(ts)` (the generator grammar past day(): to_date /
    * month / hour). A timestamp-range read on the SOURCE column then
    * prunes whole HOUR partitions straight from the manifest — a
    * sub-day window on a 100 TB events table plans ~20 partitions
    * instead of a month of them, with the row predicate on top for
    * boundary exactness. The oracle is the plain `ts BETWEEN`, so
    * over- OR under-pruning hash-mismatches. */
  def generatedHourPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-genhour")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    // a week-long slice keeps the fixture at ~170 hour partitions
    val slice = load(spark, dir, "events")
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-17 00:00:00").cast("timestamp"))
    vt.write(slice
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        date_format(col("ts"), "yyyy-MM-dd-HH").as("hr")),
      partitionBy = Some(Seq("hr")))
    vt.recordGenerated("hr", "hour(ts)")
    vt.readMatching(graft.io.VersionedTable.TsRange("ts",
        "2024-01-12T06:30:00Z", "2024-01-13T02:15:00Z"))
      .select("event_id", "user_id", "event_type", "hr")
      .orderBy("event_id")
  }

  /** BUCKET-TRANSFORM PRUNING under the oracle (q227; Iceberg
    * `bucket(N, col)` partition transform as a generated column): a
    * high-cardinality BIGINT key can't be calendar-partitioned, but
    * `kb = pmod(xxhash64(o_orderkey), 8)` gives a bounded layout
    * where a POINT LOOKUP on the key prunes to ONE bucket — 1/8 of
    * the files — straight from the manifest, recomputing the writer's
    * hash driver-side. v0 carries the column explicitly; v1 appends
    * RAW rows and the `bucket8(o_orderkey)` declaration derives the
    * layout in the writer (Delta GENERATED ALWAYS semantics), so the
    * lookup must prune across BOTH commits' files. The oracle is the
    * plain key-IN read — over-pruning (lost rows) or a mis-derived
    * append layout hash-mismatches. The row predicate stays on top,
    * so hash collisions inside the bucket never leak rows. */
  def bucketPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-bucketgen")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    vt.write(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("kb", pmod(xxhash64(col("o_orderkey")), lit(8))),
      partitionBy = Some(Seq("kb")))
    vt.recordGenerated("kb", "bucket8(o_orderkey)")
    vt.write(o.filter(col("o_orderkey") % 2 =!= 0),
      org.apache.spark.sql.SaveMode.Append) // raw: the writer derives kb
    Seq(11L, 502L, 7004L)
      .map(k =>
        vt.readMatching(graft.io.VersionedTable.NumRange("o_orderkey", k, k)))
      .reduce(_.unionByName(_))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** TRUNCATE-TRANSFORM RANGE PRUNING (q231; Iceberg
    * `truncate(width, col)`, grammar `trunc<w>(<col>)`): orders laid
    * out in 2000-key stripes of `o_orderkey` — the ORDER-PRESERVING
    * transform the hash bucket (q227) trades away: because stripes
    * are contiguous, a RANGE read on the key plans only the stripes
    * intersecting it, straight from the manifest. v0 carries the
    * stripe column explicitly, v1 appends RAW rows and the
    * declaration derives the layout in the writer; the range read
    * must prune across both commits' files, with the row predicate
    * on top for boundary exactness. With this, the full Iceberg
    * transform family is in: identity, bucket, truncate,
    * year/month/day/hour. */
  def truncPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-truncgen")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    // cluster each commit by the stripe so files align with stripes
    // (one file per stripe per commit, tight per-file stats) — the
    // layout hygiene a real striped table keeps
    vt.write(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("ks", col("o_orderkey") -
          pmod(col("o_orderkey"), lit(2000L)))
        .repartition(col("ks")),
      partitionBy = Some(Seq("ks")))
    vt.recordGenerated("ks", "trunc2000(o_orderkey)")
    vt.write(o.filter(col("o_orderkey") % 2 =!= 0)
        .repartition(col("o_orderkey") - pmod(col("o_orderkey"), lit(2000L))),
      org.apache.spark.sql.SaveMode.Append) // raw: the writer derives ks
    vt.readMatching(graft.io.VersionedTable.NumRange("o_orderkey", 3000, 7000))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** SQL SURFACE (q235): the same engine through `spark.sql` — tables
    * registered as temp views, then ONE ANSI SQL string (a
    * region-filtered star join with an exact-decimal revenue rollup)
    * executed verbatim. The VERY SAME string is the DuckDB oracle, so
    * the check is cross-engine ANSI portability itself: a user of the
    * reference who writes SQL rather than DataFrames switches with
    * zero translation, and Catalyst plans it identically to the
    * DataFrame form (same joins, same partial aggregation — the SQL
    * front end is a parser, not a second engine). */
  private val sqlStarJoinText: String =
    """SELECT n_name, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
           AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
       WHERE r_name IN ('ASIA', 'EUROPE')
       GROUP BY n_name ORDER BY n_name"""

  def sqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer", "nation", "region").foreach(t =>
      load(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(sqlStarJoinText)
  }

  /** ORC SOURCE/SINK round trip (q229): the third file format next to
    * parquet and CSV/JSONL — orders written as STATUS-PARTITIONED ORC
    * and read back through `spark.read.orc` with a predicate that
    * exercises both partition pruning and ORC's own row-group
    * pushdown, then aggregated. The oracle computes the same census
    * straight from the parquet source, so any round-trip value drift
    * (timestamp/decimal/string encodings differ subtly between
    * columnar formats) or a pushdown dropping rows hash-mismatches.
    * Exact-integer money (cents) keeps the comparison float-free. At
    * 100 TB the point is format OPTIONALITY: the engine's operators
    * are format-blind behind the scan, so an ORC lake needs no
    * conversion to run every query here. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-orc")
      .resolve("tbl").toString
    load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .write.mode("overwrite").partitionBy("o_orderstatus").orc(root)
    spark.read.orc(root)
      .filter(col("o_orderstatus") =!= "P" && col("o_orderkey") % 3 === 0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("o_orderstatus")
  }

  /** HIVE-PARTITION PRUNING under the oracle (q149, previously
    * spec-only): orders committed hive-partitioned by a derived
    * bucket column, then `readWherePartitionIn` plans only the
    * requested partitions' files straight from the MANIFEST's path
    * metadata (zero filesystem listing, zero data touched for pruned
    * partitions). The oracle recomputes the same predicate
    * relationally. At 100 TB partition pruning is the first line of
    * scan economics — a day-partitioned table answers a day query at
    * day cost. */
  def partitionPrunedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-prune")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 8).cast("string").as("bucket")),
      partitionBy = Some(Seq("bucket")))
    vt.readWherePartitionIn("bucket", Set("2", "5"))
      .select("o_orderkey", "o_totalprice", "bucket")
      .orderBy("o_orderkey")
  }

  /** OPTIMIZE WHERE under the oracle (q186): partition-scoped
    * compaction — the way OPTIMIZE actually runs at 100 TB, folding
    * yesterday's hot partition's small streamed files while the
    * other ten thousand partitions are never read. The chain: two
    * appends build multi-file hive partitions, a DV delete masks a
    * range, then `compactWhere` rewrites ONLY buckets 2 and 5
    * (purging their masks; the other buckets' entries survive
    * byte-identically — spec-pinned). The oracle is the final
    * relational state, so a compaction that loses rows, resurrects
    * masked rows, or touches the wrong partitions hash-mismatches. */
  def compactWhereRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-optwhere")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val base = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_orderkey") % 8).cast("string").as("bucket"))
    vt.write(base.filter(col("o_orderkey") % 2 === 0),
      partitionBy = Some(Seq("bucket")))
    vt.write(base.filter(col("o_orderkey") % 2 === 1),
      org.apache.spark.sql.SaveMode.Append)
    vt.deleteVectorized("o_orderkey", 500, 1500)
    vt.compactWhere("bucket", Set("2", "5"))
    vt.read().orderBy("o_orderkey")
  }

  /** RESTORE under the oracle (q150, previously spec-only — M5): the
    * chain write v0 → DV-delete v1 → compact v2 → RESTORE v0 (as v3)
    * must read back EXACTLY the original rows — the time-travel undo
    * every production lakehouse leans on after a bad delete. Restore
    * is a manifest re-reference (zero data copied); the oracle is the
    * unfiltered table, so a restore that resurrects the wrong file
    * set, keeps a stale DV mask, or loses rows to the intervening
    * compaction hash-mismatches. */
  def restoreRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-restore")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    val v0 = vt.currentVersion.get
    vt.deleteVectorized("o_orderkey", 100, 299) // v1
    vt.compact() // v2: purges the mask, rewrites files
    vt.restore(v0) // v3: back to the full row set
    vt.read().orderBy("o_orderkey")
  }

  /** END-TO-END incremental MATERIALIZED VIEW (q147): a grouped
    * aggregate OVER a join — `SELECT nation, count, sum FROM orders ⋈
    * customer GROUP BY c_nationkey` — maintained through changes on
    * both base tables by CHAINING the two IVM operators: the join
    * delta (`IncrementalJoin.deltaJoin`, signed rows) feeds straight
    * into the aggregate maintenance (`IncrementalAgg.update`) as its
    * change stream — the joined view itself is NEVER materialized or
    * re-resolved, because an additive aggregate only needs the signed
    * delta. This is the classic warehouse materialized-view shape:
    * at 100 TB the maintenance cost is O(changed rows) joined against
    * broadcast feeds plus a merge against the AGGREGATE (nations×1
    * rows) — neither base table rescans, no view materialization at
    * all. The oracle recomputes the rollup from the final states. */
  def incrementalViewRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.{IncrementalAgg, IncrementalJoin}
    val rootA = java.nio.file.Files.createTempDirectory("graft-ivr-a")
      .resolve("tbl").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-ivr-b")
      .resolve("tbl").toString
    val vtA = new graft.io.VersionedTable(spark, rootA)
    val vtB = new graft.io.VersionedTable(spark, rootB)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,4)").as("price"))
    vtA.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // A v0
    val a0 = vtA.currentVersion.get
    vtB.write(load(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))) // B v0
    val b0 = vtB.currentVersion.get
    val keys = Seq("c_nationkey")
    val agg0 = IncrementalAgg.compute(
      vtA.read().join(vtB.read(), Seq("o_custkey")), keys, Seq("price"))
    // changes on both sides
    vtA.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append)
    vtA.deleteVectorized("o_orderkey", 100, 299)
    val a2 = vtA.currentVersion.get
    vtB.deleteVectorizedKeys("o_custkey",
      vtB.read().select(col("o_custkey"))
        .filter(col("o_custkey") % 7 === 0))
    val b1 = vtB.currentVersion.get
    // join delta (signed) → aggregate delta, no view materialization
    val delta = IncrementalJoin.deltaJoin(
      changesA = vtA.changes(a0, a2), bOld = vtB.readVersion(b0),
      aNew = vtA.read(), changesB = vtB.changes(b0, b1),
      keys = Seq("o_custkey"))
    val asChanges = delta.withColumn("_change_type",
      when(col(IncrementalJoin.SignCol) === 1, lit("insert"))
        .otherwise(lit("delete")))
      .drop(IncrementalJoin.SignCol)
    val agg1 = IncrementalAgg.update(agg0, asChanges, keys, Seq("price"))
    agg1.select(col("c_nationkey"),
      col(IncrementalAgg.CountCol).as("n_orders"),
      round(col(IncrementalAgg.sumCol("price")), 2).cast("double")
        .as("revenue"))
      .orderBy("c_nationkey")
  }

  /** NON-ADDITIVE aggregate over a maintained JOIN view (q156) — the
    * IVM cell q147 leaves open: min/max per nation over `orders ⋈
    * customer`, maintained through changes on BOTH base tables.
    * Min/max sit past the classic IVM boundary (deleting the current
    * min needs the group's other rows), so the two operators compose
    * the OTHER way around from q147: here the join view IS
    * materialized and maintained O(delta) (`IncrementalJoin
    * .applyKeyed` — the q121 machinery), and the aggregate is then
    * re-derived ONLY for the groups the signed join delta touches
    * (`IncrementalAgg.updateByRecompute`): a semi-join-scoped
    * re-aggregation over the MAINTAINED view spliced over the prior
    * rollup. At 100 TB each round costs O(changed rows) for the view
    * plus a re-aggregation of the touched groups' view rows — never a
    * base-table rescan, never a full-view re-aggregation. min/max of
    * doubles pick existing values (no float arithmetic), so the
    * maintained result is bit-identical to the oracle's from-scratch
    * rollup of the final states. */
  def incrementalMinMaxRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.{IncrementalAgg, IncrementalJoin}
    val rootA = java.nio.file.Files.createTempDirectory("graft-ivm-a")
      .resolve("tbl").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft-ivm-b")
      .resolve("tbl").toString
    val vtA = new graft.io.VersionedTable(spark, rootA)
    val vtB = new graft.io.VersionedTable(spark, rootB)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").as("price"))
    vtA.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // A v0
    val a0 = vtA.currentVersion.get
    vtB.write(load(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))) // B v0
    val b0 = vtB.currentVersion.get
    val keys = Seq("c_nationkey")
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("c_nationkey")).agg(
        count(lit(1)).as("n_orders"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))
    // checkpointed (lazily): referenced by agg0 AND both applyKeyed
    // branches — unchecked, the A:B join executes three times
    val view0 = vtA.readVersion(a0)
      .join(vtB.readVersion(b0), Seq("o_custkey"))
      .localCheckpoint(eager = false)
    val agg0 = rollup(view0)
    // changes on both sides (the q147 mutation script)
    vtA.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append)
    vtA.deleteVectorized("o_orderkey", 100, 299)
    val a2 = vtA.currentVersion.get
    vtB.deleteVectorizedKeys("o_custkey",
      vtB.read().select(col("o_custkey"))
        .filter(col("o_custkey") % 7 === 0))
    val b1 = vtB.currentVersion.get
    // lazy-checkpointed: applyKeyed (touched + union) and the
    // affected-group rescan all read it — four change-feed-join
    // executions otherwise
    val delta = IncrementalJoin.deltaJoin(
      changesA = vtA.changes(a0, a2), bOld = vtB.readVersion(b0),
      aNew = vtA.read(), changesB = vtB.changes(b0, b1),
      keys = Seq("o_custkey"))
      .localCheckpoint(eager = false)
    // view maintained O(delta); min/max re-derived for touched groups
    val view1 = IncrementalJoin.applyKeyed(view0, delta, Seq("o_orderkey"))
    val agg1 = IncrementalAgg.updateByRecompute(
      agg0, view1, delta, keys, rollup)
    agg1.orderBy("c_nationkey")
  }

  /** COLUMN MAPPING under the oracle (q163 — Delta rename/drop
    * without rewrite): v0 commits a 3-column orders slice; RENAME
    * o_totalprice→price and DROP o_orderstatus are manifest-only
    * commits (zero data files touched — the physical parquet names
    * are frozen forever); an append then addresses the LOGICAL
    * schema (its files simply never contain the dropped column); a
    * DV delete filters by the logical name; the read projects
    * physical→logical across files written before AND after the
    * mapping. The oracle recomputes the same final state
    * relationally, so a mapping bug anywhere — stale projection,
    * append misrouted to logical names on disk, dropped column
    * resurfacing, DV keyed wrong — hash-mismatches. At 100 TB this
    * is the zero-rewrite ALTER TABLE: organizational renames on a
    * petabyte table are one manifest line, not a rewrite. */
  def columnMappingRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-colmap")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
    vt.write(orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    vt.renameColumn("o_totalprice", "price")
    vt.dropColumn("o_orderstatus")
    vt.write(orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice").as("price")),
      org.apache.spark.sql.SaveMode.Append)
    vt.deleteVectorized("o_orderkey", 100, 299)
    vt.read().orderBy("o_orderkey")
  }

  /** SCHEMA EVOLUTION under the oracle (Delta mergeSchema semantics,
    * previously spec-only): v0 commits a 2-column orders slice, v1
    * appends rows carrying a NEW column with
    * `allowSchemaEvolution=true` — the snapshot schema grows and the
    * read plans pre-evolution files with the added column null-filled.
    * The output is the evolved snapshot, so the oracle pins all three
    * behaviors at once: the widened schema, null backfill for v0
    * rows, and real values for v1 rows. At 100 TB this is the zero-
    * rewrite column add: no historical file is touched, the evolution
    * is one manifest header. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-evo")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
    vt.write(orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))) // v0: 2 columns
    vt.write(orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
      org.apache.spark.sql.SaveMode.Append,
      allowSchemaEvolution = true) // v1: +o_orderstatus
    vt.read().orderBy("o_orderkey")
  }

  /** Dimension chain supplier→nation→region (broadcast×2) + aggregate:
    * supplier census per region. */
  def regionSuppliers(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "supplier")
      .join(broadcast(load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(load(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        (sum(col("s_acctbal").cast("decimal(18,4)")).cast("double") /
          count(col("s_acctbal"))).as("avg_acctbal"))
      .orderBy("r_name")

  /** As-of join (graft.operators.AsofJoin): each click event picks up
    * the latest at-or-before view by the same user — the attribution
    * query shape. One shuffle on user_id; DuckDB oracles it with its
    * native ASOF LEFT JOIN. */
  def asofClickView(spark: SparkSession, dir: String): DataFrame = {
    val events = load(spark, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsofJoin
      .asofJoinWithTs(clicks, views, "user_id", "ts", Seq("value"))
      .select(col("event_id"), col("user_id"),
        col("value_asof").as("view_value"),
        col("ts_asof").as("view_ts"))
      .orderBy("event_id")
  }

  /** General per-group top-k through the custom operator (q144):
    * each customer's 3 highest-value orders — the relational face of
    * [[graft.plans.TopKPerKey]] (q128 exercises it as an ANN
    * shortlist). Key cardinality here is |customers| (100× q128's
    * query count), so the partial heaps carry many small heaps per
    * partition — the hash-aggregate-like memory profile the operator
    * documents. Shuffle: ≤ 3·partitions rows per customer instead of
    * every order. */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.perKey(
        load(spark, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .orderBy("o_custkey", "o_orderkey")

  /** FORWARD as-of join (q145): each click picks up the EARLIEST
    * at-or-after view by the same user — lead attribution ("what did
    * they do next"), the mirror of q34's backward attribution.
    * Same single-shuffle union + carry plan, scanned in descending
    * time order; DuckDB oracles it with its native ASOF and a `<=`
    * comparison. */
  def asofClickNextView(spark: SparkSession, dir: String): DataFrame = {
    val events = load(spark, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.AsofJoin
      .asofJoinForwardWithTs(clicks, views, "user_id", "ts", Seq("value"))
      .select(col("event_id"), col("user_id"),
        col("value_next").as("view_value"),
        col("ts_next").as("view_ts"))
      .orderBy("event_id")
  }

  /** INTERVAL-OVERLAP join (q146): click-activity windows (2 h after
    * each click) overlapping error windows (1 h after each error) for
    * the same user — both sides are ranges, the shape strictly harder
    * than q35's point-in-interval. Bucketized with the
    * canonical-bucket trick (each qualifying pair emits in exactly
    * one bucket — the overlap start's), so the plan is ONE equi-join
    * shuffle and NO dedup stage; the oracle replays the naive
    * overlap join. */
  def intervalOverlapClickError(spark: SparkSession, dir: String): DataFrame = {
    val events = load(spark, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("a_start"))
      .withColumn("a_end", col("a_start") + expr("INTERVAL 2 HOURS"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("b_start"))
      .withColumn("b_end", col("b_start") + expr("INTERVAL 1 HOUR"))
    graft.operators.RangeJoin.intervalOverlap(
        clicks, errors, "user_id", "a_start", "a_end", "b_start", "b_end",
        bucketWidthSec = 7200)
      .select("click_id", "error_id")
      .orderBy("click_id", "error_id")
  }

  /** OVERLAP-DURATION aggregate (q155): per user, how many
    * click-activity windows overlapped error windows and for how
    * long in total — the SLA/exposure accounting query built on
    * q146's interval-overlap join. Pairwise accounting (a minute
    * covered by two overlapping pairs counts twice — the standard
    * exposure metric). The per-pair duration
    * `least(ends) − greatest(starts)` is exact integer microseconds,
    * so the per-user sum is an order-insensitive LONG. Same one
    * equi-join shuffle as q146 plus a partial-agg fold to
    * users×1 rows. */
  def overlapDuration(spark: SparkSession, dir: String): DataFrame = {
    val events = load(spark, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("a_start"))
      .withColumn("a_end", col("a_start") + expr("INTERVAL 2 HOURS"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("b_start"))
      .withColumn("b_end", col("b_start") + expr("INTERVAL 1 HOUR"))
    graft.operators.RangeJoin.intervalOverlap(
        clicks, errors, "user_id", "a_start", "a_end", "b_start", "b_end",
        bucketWidthSec = 7200)
      .withColumn("_ov_us",
        unix_micros(least(col("a_end"), col("b_end"))) -
          unix_micros(greatest(col("a_start"), col("b_start"))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("_ov_us")).as("total_overlap_us"))
      .orderBy("user_id")
  }

  /** Salted skew join (graft.util.SkewJoin): fact × dim through the
    * explicit skew-spreading path — the large side draws a salt, the
    * small side replicates once per salt value, and every hot key
    * spreads over `salts` reducers. Result-identical to the plain join
    * (each matched pair meets exactly once), which is exactly what the
    * DuckDB oracle checks. */
  def skewJoinBrand(spark: SparkSession, dir: String): DataFrame = {
    val items = load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"))
    val parts = load(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    graft.util.SkewJoin.saltedJoin(items, parts, Seq("l_partkey"), salts = 8)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
          .cast("double").as("gross"))
      .orderBy("p_brand")
  }

  /** Range join (graft.operators.RangeJoin): clicks landing inside the
    * 4-hour window after an error by the same user — bucketized to a
    * pure equi-join, never a nested loop. */
  def rangeClickNearError(spark: SparkSession, dir: String): DataFrame = {
    val events = load(spark, dir, "events")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("start_ts"))
      .withColumn("end_ts", col("start_ts") + expr("INTERVAL 4 HOURS"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, errors, "user_id", "ts", "start_ts", "end_ts",
        bucketWidthSec = 14400)
      .select("click_id", "error_id")
      .orderBy("click_id", "error_id")
  }

  // ------------------------------------------------------ window functions

  /** The analytic window-function family over each user's event
    * stream: lag/lead, rank, percent_rank, cume_dist, ntile — ONE
    * shuffle on user_id, every function shares the same sort.
    * (ts, event_id) is a unique ordering so rank == row_number and
    * every engine agrees; percent_rank/cume_dist are exact integer
    * ratios in double — bit-identical across engines. */
  def windowFunctions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    load(spark, dir, "events")
      .select(
        col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        rank().over(w).as("rnk"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        ntile(4).over(w).as("quartile"))
      .orderBy("user_id", "rnk")
  }

  // ------------------------------------------------------------- set ops

  /** INTERSECT / EXCEPT (distinct set semantics, same as SQL): users
    * who both clicked and purchased vs users who clicked but never
    * purchased. Each set op is one shuffle of the (already projected)
    * key column. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val e = load(spark, dir, "events")
    val clicks = e.filter(col("event_type") === "click").select("user_id")
    val purchases = e.filter(col("event_type") === "purchase").select("user_id")
    clicks.intersect(purchases).withColumn("tag", lit("both"))
      .union(clicks.except(purchases).withColumn("tag", lit("click_only")))
      .orderBy("tag", "user_id")
  }

  // -------------------------------------------------------- semi/anti join

  /** Left-semi / left-anti joins (EXISTS / NOT EXISTS): customers with
    * and without orders, counted per nation. The semi/anti forms ship
    * only the join key and never duplicate the left side — the right
    * plan shape when the subquery side is large. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = load(spark, dir, "customer")
    val orders = load(spark, dir, "orders").select("o_custkey")
    val nation = load(spark, dir, "nation")
    val cond = col("c_custkey") === col("o_custkey")
    val withO = customer.join(orders, cond, "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
    val withoutO = customer.join(orders, cond, "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_orders"))
    nation
      .join(withO, col("n_nationkey") === withO("c_nationkey"), "left")
      .drop("c_nationkey")
      .join(withoutO, col("n_nationkey") === withoutO("c_nationkey"), "left")
      .select(col("n_name"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy("n_name")
  }

  /** Case-class row for [[typedStatusAgg]] (object-level so
    * `spark.implicits` can derive its Encoder). */
  final case class OrderRow(o_orderkey: Long, o_orderstatus: String,
      o_totalprice: Double)

  /** TYPED Dataset pipeline (q142): the same status aggregate as the
    * DataFrame queries, but through the `Dataset[T]` / `Encoder` /
    * `KeyValueGroupedDataset` surface — case-class rows, a typed
    * lambda filter, `groupByKey` on a field, `TypedColumn`
    * aggregates. The oracle pins that the typed API produces the
    * same bits as the SQL formulation. Honest cost note: the lambda
    * filter pays one object deserialization per row (the documented
    * price of opaque closures — q142 exists to exercise that surface,
    * hot paths in this library use Column predicates); the
    * `groupByKey`+`TypedColumn` agg still plans partial aggregation
    * and one shuffle of group rows, like its untyped twin. Sums run
    * in DECIMAL inside the typed agg, exactly as q73. */
  def typedStatusAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .as[OrderRow]
    ds.filter(o => o.o_totalprice > 1000.0)
      .groupByKey(_.o_orderstatus)
      .agg(
        count(lit(1)).as("n_orders").as[Long],
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue").as[Double])
      .toDF("o_orderstatus", "n_orders", "revenue")
      .orderBy("o_orderstatus")
  }

  /** UNPIVOT / melt (q135): the wide→long reshape every metrics
    * pipeline needs (per-column measures become (metric, value)
    * rows) — Spark's `unpivot` operator, which plans as a generator
    * expand: pure narrow, one output row per (row, measure), zero
    * shuffles. The oracle replays it as a 3-way UNION ALL, the
    * dialect-portable formulation. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  /** GROUPING SETS with grouping_id (q136): the OLAP shape between
    * q49's rollup and q64's cube — exactly the requested grouping
    * combinations, one pass, partial aggregation per set. grouping_id
    * disambiguates a real NULL key from a superaggregate row — the
    * classic correctness trap this oracle pins cross-engine. */
  def groupingSetsKpis(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"),
        grouping_id(col("o_orderstatus"), col("o_orderpriority"))
          .cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** SCD2 POINT-IN-TIME join (q140): orders joined to the dimension
    * VERSION that was valid on the order date (`valid_from ≤ date <
    * valid_to`) — the slowly-changing-dimension pattern behind every
    * as-it-was-then warehouse report. The dimension (two synthetic
    * validity epochs per customer, split at 1996-01-01) broadcasts;
    * the non-equi validity predicate evaluates inside the broadcast
    * hash join on the equi key, so the fact table streams through map
    * tasks exactly once — at 100 TB the SCD2 lookup costs what a
    * plain dim join costs. Per (custkey, date) exactly one version
    * matches (half-open intervals partition time), so the join is
    * multiplicity-preserving — which the oracle's row count pins. */
  def scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val cut = lit("1996-01-01").cast("date")
    val dim = cust.select(col("c_custkey"),
        concat(col("c_name"), lit("#v1")).as("dim_name"),
        lit("1900-01-01").cast("date").as("valid_from"),
        cut.as("valid_to"))
      .unionByName(cust.select(col("c_custkey"),
        concat(col("c_name"), lit("#v2")).as("dim_name"),
        cut.as("valid_from"),
        lit("9999-12-31").cast("date").as("valid_to")))
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_date"))
    orders.join(broadcast(dim),
        col("o_custkey") === col("c_custkey") &&
          col("o_date") >= col("valid_from") &&
          col("o_date") < col("valid_to"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
        col("dim_name"))
      .orderBy("o_orderkey")
  }

  /** Regexp scalar family (q143): extract / count / match — the
    * q65/q66 treatment for regular expressions, cross-engine oracled
    * (Java regex here vs RE2 in the oracle: the patterns stay in the
    * dialect-portable subset, the same discipline as q87's PII
    * chain). Pure narrow codegen'd projection. */
  def regexpFuncs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_last"),
        regexp_count(col("p_name"), lit("[aeiou]+")).as("n_vowel_runs"),
        col("p_brand").rlike("\\d").as("brand_has_digit"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
      .orderBy("p_partkey")

  // ---------------------------------------------------- scalar families

  /** Temporal scalar-function family: the date-dimension derivation
    * every warehouse needs (year/month/day/quarter, ISO day-of-week
    * and week, day arithmetic, month end) — pure narrow projection,
    * verified cross-engine. ISO dow is `weekday + 1` on the Spark
    * side because Spark's `dayofweek` counts Sunday=1 while the
    * oracle's isodow counts Monday=1. */
  def dateDims(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    load(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        year(d).as("yr"), month(d).as("mo"),
        dayofmonth(d).as("dom"), quarter(d).as("qtr"),
        (weekday(d) + 1).as("iso_dow"),
        weekofyear(d).as("iso_week"),
        date_add(d, 30).as("d_plus_30"),
        last_day(d).as("month_end"))
      .orderBy("o_orderkey")
  }

  /** String scalar-function family: case, length, slicing, padding,
    * search, reverse, splitting, multi-arg concat — one codegen'd
    * narrow projection, verified cross-engine. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_head"),
        lpad(col("p_brand"), 12, "*").as("brand_padded"),
        instr(col("p_name"), "a").as("pos_a"),
        reverse(col("p_brand")).as("brand_rev"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")

  /** BLOOM-INDEX POINT LOOKUP (q177): orders hash-scattered into 8
    * files (every file spans the full key range — min/max stats
    * prune NOTHING, the exact layout where Delta reaches for its
    * bloom filter index), a per-file bloom built in one distributed
    * pass, then a 6-key `IN` lookup planned through it: only files
    * whose bloom might hold a probe are opened, the row predicate on
    * top keeps false positives harmless. The oracle is the plain
    * `IN` — skipping must change I/O, never rows. At 100 TB a 1M-row
    * file costs ~1 MB of sidecar and a t-key lookup opens O(t)
    * files instead of all of them. */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-bloomq")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_orderkey")))
    vt.buildBloomIndex("o_orderkey")
    vt.readWhereKeyIn("o_orderkey",
        Seq(11L, 502L, 1003L, 7004L, 9005L, 14321L))
      .orderBy("o_orderkey")
  }

  /** CHECK CONSTRAINTS enforced end-to-end (q176): a versioned table
    * gains `ADD CONSTRAINT` predicates (positive price, status
    * domain — the NOT-NULL/domain gates every curated layer needs),
    * a valid append lands, and a BATCH THAT VIOLATES them is
    * REJECTED atomically — the commit never happens, the version
    * number proves it, and the final table is exactly base ∪ valid
    * append. The oracle replays precisely that: the violating rows
    * never appear. Enforcement is one extra aggregate pass over the
    * INCOMING frame only (all constraints folded into a single agg),
    * so at 100 TB the cost is O(batch), never O(table); adding a
    * constraint scans existing data once, like Delta. */
  def constraintGatedTable(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-constraint")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
    vt.write(orders.filter(col("o_orderkey") % 3 =!= 0))
    vt.addCheckConstraint("positive_price", "o_totalprice > 0")
    vt.addCheckConstraint("status_domain", "o_orderstatus IN ('O','F','P')")
    vt.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append)
    val before = vt.currentVersion.get
    val bad = orders.limit(50)
      .withColumn("o_totalprice", -col("o_totalprice"))
    try {
      vt.write(bad, org.apache.spark.sql.SaveMode.Append)
      sys.error("violating append must be rejected")
    } catch { case _: graft.io.ConstraintViolationException => () }
    require(vt.currentVersion.get == before,
      "rejected append must not commit a version")
    vt.read().groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** REORG PURGE (q178): a versioned orders table takes a DV delete
    * (soft delete — masks, no rewrite), then `reorgPurge()` rewrites
    * ONLY the masked files so the deletes become physical; plain
    * files keep their entries untouched. The read after purge must
    * equal the read before it (purge moves bytes, never rows) — the
    * oracle is orders minus the deleted range. The query asserts the
    * purged manifest carries no DV, so the oracle equality really is
    * exercised against the rewritten files. At 100 TB: compaction is
    * O(table), purge is O(masked files) — the difference between a
    * weekend job and a minutes job after a targeted GDPR erasure. */
  def reorgPurgedTable(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-purge")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    vt.write(load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartition(8, col("o_orderkey")))
    vt.deleteVectorized("o_totalprice", 50000.0, 100000.0)
    vt.reorgPurge()
    require(vt.manifestEntries(vt.currentVersion.get)
      .forall(_.dvDir.isEmpty), "purge must leave no DV mask")
    vt.read().groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** ROW TRACKING + UPDATE-IMAGE CHANGE FEED driving IVM (q179): the
    * versioned store enables row tracking (stable `_row_id` per row —
    * manifest base ranges + materialized ids through rewrites), takes
    * an UPDATE, a full OPTIMIZE rewrite, an append, and a DV delete,
    * and the maintained aggregate is fed ONLY by
    * `changes(v0, v1, updateImages = true)` — whose update_preimage/
    * postimage pairs fold into `IncrementalAgg` as signed rows. The OPTIMIZE in
    * the middle is the point: it rewrites every byte of the table,
    * and the feed must still contain EXACTLY the three logical
    * mutations (asserted: the compaction-only window is empty),
    * because row identity — not file identity, not value diffing —
    * is what pairs the versions. At 100 TB: the feed costs O(changed
    * files), maintenance O(changed rows) + a merge against the
    * status-sized aggregate; the table is never rescanned. The oracle
    * replays the mutations relationally. */
  def rowTrackedUpdateFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files.createTempDirectory("graft-rowtrack")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,4)").as("price"))
    vt.write(orders.filter(col("o_orderkey") % 4 =!= 0)
      .repartition(8, col("o_orderkey")))
    vt.enableRowTracking()
    val v0 = vt.currentVersion.get
    val agg0 = IncrementalAgg.compute(
      vt.read(), Seq("o_orderstatus"), Seq("price"))
    // mutation script: UPDATE, then a FULL physical rewrite, then an
    // append, then a DV delete
    vt.updateBetween("o_orderkey", 500, 1500,
      Map("price" -> (col("price") + 10)))
    val vUpd = vt.currentVersion.get
    vt.compact()
    require(vt.changes(vUpd, vt.currentVersion.get, updateImages = true)
      .isEmpty, "a compaction-only window must produce an empty feed")
    vt.write(orders.filter(col("o_orderkey") % 4 === 0),
      org.apache.spark.sql.SaveMode.Append)
    vt.deleteVectorized("o_orderkey", 3000, 3500)
    val v1 = vt.currentVersion.get
    val agg1 = IncrementalAgg.update(agg0,
      vt.changes(v0, v1, updateImages = true), Seq("o_orderstatus"),
      Seq("price"))
    agg1.select(col("o_orderstatus"),
      col(IncrementalAgg.CountCol).as("n_orders"),
      round(col(IncrementalAgg.sumCol("price")), 2).cast("double")
        .as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** BUCKETED CO-LOCATED JOIN (q173): orders and customer written as
    * bucketed tables on the join key (`bucketBy(8, custkey)` +
    * `sortBy`), then joined and aggregated BY THE BUCKET KEY — the
    * layout under which neither the join nor the aggregation
    * shuffles. The bucketed scan reports hash(custkey) output
    * partitioning, so sort-merge join consumes both sides in place
    * and the per-customer aggregate reuses the same partitioning;
    * the ONLY exchange in the whole plan is the final presentation
    * sort. At 100 TB this is the canonical fact×fact co-location
    * story: pay the bucketed write once, and every subsequent
    * key-aligned join/agg on the table is exchange-free
    * (BucketedJoinSpec pins the zero-shuffle plan; the oracle pins
    * the rows). DECIMAL pre-agg keeps money sums engine-exact. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketed")
      .toString
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("o_totalprice"))
    val c = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_customer")
    o.write.mode("overwrite").format("parquet")
      .option("path", s"$tmp/orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("graft_bucketed_orders")
    c.write.mode("overwrite").format("parquet")
      .option("path", s"$tmp/customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_bucketed_customer")
    spark.table("graft_bucketed_orders")
      .join(spark.table("graft_bucketed_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).cast("double").as("total_spend"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_daily_kpis" -> dailyKpis,
    "q02_flag_status_demand" -> flagStatusDemand,
    "q03_filter_conjunctive" -> filterConjunctive,
    "q04_dedup_exact" -> dedupExact,
    "q05_topk_latest" -> topkLatest,
    "q06_watermark_max" -> watermarkMax,
    "q07_incremental_slice" -> incrementalSlice,
    "q08_distinct_pairs" -> distinctPairs,
    "q09_null_counts" -> nullCounts,
    "q10_union_slices" -> unionSlices,
    "q11_cast_normalize" -> castNormalize,
    "q12_range_violations" -> rangeViolations,
    "q13_merge_upsert" -> mergeUpsert,
    "q14_star_join_agg" -> starJoinAgg,
    "q15_window_latest" -> windowLatestPerUser,
    "q16_hourly_agg" -> hourlyEventAgg,
    "q17_monitoring_agg" -> monitoringAgg,
    "q32_brand_revenue" -> brandRevenue,
    "q33_region_suppliers" -> regionSuppliers,
    "q34_asof_click_view" -> asofClickView,
    "q35_range_click_near_error" -> rangeClickNearError,
    "q37_skew_join_brand" -> skewJoinBrand,
    "q41_versioned_merge" -> versionedMerge,
    "q42_versioned_delete_update" -> versionedDeleteUpdate,
    "q71_versioned_dv_delete" -> versionedDvDelete,
    "q73_incremental_agg" -> incrementalAggMaintain,
    "q74_incremental_minmax" -> incrementalMinMaxMaintain,
    "q79_change_feed" -> changeFeed,
    "q121_incremental_join" -> incrementalJoinMaintain,
    "q126_schema_evolution" -> schemaEvolutionRead,
    "q129_version_walk" -> versionWalk,
    "q131_shallow_clone" -> shallowCloneRead,
    "q133_merge_clauses" -> mergeWithClauses,
    "q196_merge_evolve" -> mergeEvolveVersioned,
    "q219_merge_sync_snapshot" -> mergeSyncSnapshot,
    "q240_merge_dv" -> mergeDv,
    "q241_update_dv" -> updateDv,
    "q243_cdf_commit_meta" -> cdfCommitMeta,
    "q244_sql_time_travel" -> sqlTimeTravel,
    "q247_merge_clauses_dv" -> mergeClausesDv,
    "q249_sql_dml" -> sqlDml,
    "q250_sql_merge" -> sqlMerge,
    "q253_mv_rewrite" -> mvRewriteRollup,
    "q254_mv_ivm_rewrite" -> mvIvmRewrite,
    "q255_sql_catalog" -> sqlCatalog,
    "q259_mv_avg_rewrite" -> mvAvgRewrite,
    "q260_sql_mv" -> sqlMaterializedView,
    "q261_sql_ddl2" -> sqlDdlTier2,
    "q262_sql_views" -> sqlViews,
    "q263_mv_minmax" -> mvMinMax,
    "q264_mv_join" -> mvJoin,
    "q265_mv_star" -> mvStarN,
    "q224_convert_in_place" -> convertInPlaceRead,
    "q225_snapshot_cdc" -> snapshotCdcFeed,
    "q227_bucket_pruning" -> bucketPrunedRead,
    "q229_orc_roundtrip" -> orcRoundTrip,
    "q231_trunc_pruning" -> truncPrunedRead,
    "q235_sql_entry" -> sqlEntry,
    "q236_snapshot_cdc_apply" -> snapshotCdcApply,
    "q200_deep_clone" -> deepCloneSurvivesGc,
    "q201_identity" -> identityAllocation,
    "q203_type_widening" -> typeWideningRead,
    "q204_apply_changes" -> applyChangesScd1,
    "q205_copy_into" -> copyIntoIngest,
    "q134_metadata_count" -> metadataCount,
    "q135_unpivot" -> unpivotMeasures,
    "q140_scd2_join" -> scd2PointInTime,
    "q142_typed_dataset" -> typedStatusAgg,
    "q143_regexp_funcs" -> regexpFuncs,
    "q144_topk_per_customer" -> topOrdersPerCustomer,
    "q145_asof_forward" -> asofClickNextView,
    "q146_interval_overlap" -> intervalOverlapClickError,
    "q147_incremental_view" -> incrementalViewRollup,
    "q156_incremental_minmax" -> incrementalMinMaxRollup,
    "q163_column_mapping" -> columnMappingRead,
    "q170_zorder_skipping" -> zorderSkippingRead,
    "q206_liquid_cluster" -> liquidClusterRead,
    "q216_column_default" -> columnDefaultRead,
    "q171_generated_pruning" -> generatedPrunedRead,
    "q182_generated_hour" -> generatedHourPrunedRead,
    "q186_optimize_where" -> compactWhereRead,
    "q173_bucketed_join" -> bucketedJoin,
    "q176_check_constraints" -> constraintGatedTable,
    "q177_bloom_lookup" -> bloomPointLookup,
    "q178_reorg_purge" -> reorgPurgedTable,
    "q179_row_tracking_cdf" -> rowTrackedUpdateFeed,
    "q155_overlap_duration" -> overlapDuration,
    "q148_data_skipping" -> dataSkippingRead,
    "q149_partition_pruning" -> partitionPrunedRead,
    "q150_restore" -> restoreRead,
    "q136_grouping_sets" -> groupingSetsKpis,
    "q61_window_funcs" -> windowFunctions,
    "q62_set_ops" -> setOps,
    "q63_semi_anti" -> semiAntiJoin,
    "q65_date_dims" -> dateDims,
    "q66_string_funcs" -> stringFuncs
  )

  val oracles: Map[String, String] = Map(
    "q179_row_tracking_cdf" ->
      // replay the mutation script relationally: base (key%4<>0) took
      // the +10 bump on [500,1500], the append (key%4=0) did not, the
      // DV delete removed [3000,3500] from both; OPTIMIZE moved bytes
      // only. Decimal arithmetic is exact on both engines.
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(sum(CASE
               WHEN o_orderkey % 4 <> 0
                    AND o_orderkey BETWEEN 500 AND 1500
               THEN CAST(o_totalprice AS DECIMAL(18,4)) + 10
               ELSE CAST(o_totalprice AS DECIMAL(18,4)) END), 2)
             AS DOUBLE) AS revenue
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 3000 AND 3500)
         GROUP BY 1 ORDER BY 1""",
    "q178_reorg_purge" ->
      // purge moves bytes, never rows: the table is orders minus the
      // DV-deleted price range, whatever the file layout
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
             AS DOUBLE) AS total_price
         FROM orders
         WHERE NOT (o_totalprice >= 50000.0 AND o_totalprice <= 100000.0)
         GROUP BY 1 ORDER BY 1""",
    "q177_bloom_lookup" ->
      // the plain IN: bloom skipping changes which files open, never
      // which rows return (o_totalprice is a copied raw double)
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_orderkey IN (11, 502, 1003, 7004, 9005, 14321)
         ORDER BY o_orderkey""",
    "q176_check_constraints" ->
      // base (key%3<>0) + valid append (key%3=0) = all orders; the
      // violating batch was rejected before commit, so it never
      // contributes a row
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
             AS DOUBLE) AS total_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q173_bucketed_join" ->
      // plain join+group: bucketing changes the PLAN (zero
      // exchanges), never the rows
      """SELECT c_custkey, c_mktsegment, count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
             AS DOUBLE) AS total_spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY 1""",
    "q01_daily_kpis" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_date,
         count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           / count(o_totalprice) AS avg_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q02_flag_status_demand" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS n_items,
         round(sum(l_quantity), 2) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q03_filter_conjunctive" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity > 5.0 AND l_extendedprice >= 500.0
           AND l_shipdate IS NOT NULL AND l_discount <= 0.08""",
    "q04_dedup_exact" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
         FROM lineitem""",
    "q05_topk_latest" ->
      """SELECT event_id, user_id, event_type FROM events
         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id ASC LIMIT 10""",
    "q06_watermark_max" ->
      "SELECT max(CAST(ts AS TIMESTAMP)) AS watermark FROM events",
    "q07_incremental_slice" ->
      """SELECT event_type, count(*) AS n_new FROM events
         WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-15 00:00:00'
         GROUP BY 1 ORDER BY 1""",
    "q08_distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q09_null_counts" ->
      """SELECT count(*) - count(o_orderkey) AS nulls_o_orderkey,
         count(*) - count(o_custkey) AS nulls_o_custkey,
         count(*) - count(o_orderstatus) AS nulls_o_orderstatus,
         count(*) - count(o_totalprice) AS nulls_o_totalprice,
         count(*) - count(o_orderdate) AS nulls_o_orderdate,
         count(*) - count(o_orderpriority) AS nulls_o_orderpriority
         FROM orders""",
    "q10_union_slices" ->
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000.0
         UNION ALL
         SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice < 1000.0""",
    "q11_cast_normalize" ->
      """SELECT doc_id, lower(trim(lang)) AS lang_norm,
         CAST(n_chars AS DOUBLE) AS n_chars_d, source AS src
         FROM documents""",
    "q12_range_violations" ->
      """SELECT CASE WHEN l_quantity < 3.0 THEN 'below_min'
                     WHEN l_quantity > 45.0 THEN 'above_max'
                     ELSE 'ok' END AS range_flag,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q13_merge_upsert" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 3 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
                  'U' AS o_orderstatus FROM orders
           WHERE o_custkey % 2 = 0)
         SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                COALESCE(s.o_totalprice, t.o_totalprice) AS price_after,
                COALESCE(s.o_orderstatus, t.o_orderstatus) AS status_after
         FROM target t FULL OUTER JOIN source s USING (o_orderkey)""",
    "q201_identity" ->
      // identity values are allocation-order-dependent row to row, but
      // the CONTRACT is deterministic: N unique ids forming the
      // progression 1000, 1002, ... — every summary is a closed form
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
         SELECT n AS n_rows, n AS n_distinct_sk,
                CAST(1000 AS BIGINT) AS min_sk,
                CAST(1000 + 2 * (n - 1) AS BIGINT) AS max_sk,
                CAST(1000 * n + n * (n - 1) AS BIGINT) AS sum_sk
         FROM n""",
    "q205_copy_into" ->
      // three COPY INTO runs over a growing landing zone must load the
      // source exactly once — no dups on re-run, no missed drops
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         ORDER BY 1""",
    "q204_apply_changes" ->
      // fold the mixed-sequence feed to latest-by-seq per key, then
      // replay the clause outcomes: delete drops (and never inserts),
      // upsert updates or inserts, untouched target rows pass through
      """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                    FROM orders WHERE o_orderkey % 3 <> 0),
         b1 AS (SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                    AS DOUBLE) AS p, 'U1' AS s, 'upsert' AS op, 1 AS seq
                FROM orders WHERE o_custkey % 2 = 0),
         b2 AS (SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.2, 2)
                    AS DOUBLE) AS p, 'U2' AS s,
                  CASE WHEN o_orderkey % 10 = 0 THEN 'delete'
                       ELSE 'upsert' END AS op, 2 AS seq
                FROM orders WHERE o_orderkey % 5 = 0),
         latest AS (SELECT o_orderkey, p, s, op FROM (
             SELECT *, row_number() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC) AS rn
             FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2))
           WHERE rn = 1)
         SELECT COALESCE(t.o_orderkey, l.o_orderkey) AS o_orderkey,
                CASE WHEN l.o_orderkey IS NOT NULL THEN l.p
                     ELSE t.o_totalprice END AS price_after,
                CASE WHEN l.o_orderkey IS NOT NULL THEN l.s
                     ELSE t.o_orderstatus END AS status_after
         FROM t FULL OUTER JOIN latest l ON t.o_orderkey = l.o_orderkey
         WHERE l.op IS NULL OR l.op <> 'delete'
         ORDER BY 1""",
    "q203_type_widening" ->
      // the precision seam is part of the hash: the narrow slice reads
      // as double(float(price)) — IEEE float->double is exact and
      // engine-identical — the wide slice as the raw double
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                CASE WHEN o_orderkey % 2 = 0
                     THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
                     ELSE o_totalprice END AS o_totalprice
         FROM orders ORDER BY 1""",
    "q200_deep_clone" ->
      // the deep clone must read the masked v1 snapshot even though
      // the source's bytes were overwritten and vacuumed away
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         WHERE o_orderkey NOT BETWEEN 100 AND 199
         ORDER BY 1""",
    "q196_merge_evolve" ->
      // schema-evolving merge: the new column's values come ONLY from
      // the source side (matched + inserted rows); target-only rows
      // read NULL — exactly Delta withSchemaEvolution
      """WITH target AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
                  o_orderpriority FROM orders
           WHERE o_custkey % 2 = 0)
         SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                COALESCE(s.o_totalprice, t.o_totalprice) AS price_after,
                s.o_orderpriority AS priority_after
         FROM target t FULL OUTER JOIN source s USING (o_orderkey)
         ORDER BY 1""",
    "q14_star_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q15_window_latest" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""",
    "q16_hourly_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket, event_type,
         count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q17_monitoring_agg" ->
      """SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS avg_value,
         count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    "q32_brand_revenue" ->
      """SELECT p_brand, count(*) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q33_region_suppliers" ->
      """SELECT r_name, count(*) AS n_suppliers,
         CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           / count(s_acctbal) AS avg_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "q34_asof_click_view" ->
      """SELECT l.event_id, l.user_id,
         r.value AS view_value, CAST(r.ts AS TIMESTAMP) AS view_ts
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events WHERE event_type = 'view') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q35_range_click_near_error" ->
      """SELECT c.event_id AS click_id, e.event_id AS error_id
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click') c
         JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'error') e
           ON c.user_id = e.user_id
          AND c.ts BETWEEN e.ts AND e.ts + INTERVAL 4 HOUR
         ORDER BY 1, 2""",
    "q37_skew_join_brand" ->
      """SELECT p_brand, count(*) AS n_items,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS gross
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",
    "q41_versioned_merge" ->
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 3 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
                  'U' AS o_orderstatus FROM orders
           WHERE o_custkey % 2 = 0 AND o_orderkey % 5 < 2)
         SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                COALESCE(s.o_totalprice, t.o_totalprice) AS price_after,
                COALESCE(s.o_orderstatus, t.o_orderstatus) AS status_after
         FROM target t FULL OUTER JOIN source s USING (o_orderkey)""",
    "q42_versioned_delete_update" ->
      """SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey BETWEEN 200 AND 299 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
         FROM orders
         WHERE o_orderkey % 4 <> 3
           AND NOT (o_orderkey BETWEEN 100 AND 199)""",
    "q71_versioned_dv_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 100 AND 299)""",
    "q73_incremental_agg" ->
      """SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS revenue
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 100 AND 299)
         GROUP BY 1 ORDER BY 1""",
    "q74_incremental_minmax" ->
      """SELECT o_orderstatus,
         count(*) AS n_rows,
         CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS min_price,
         CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 100 AND 299)
         GROUP BY 1 ORDER BY 1""",
    "q121_incremental_join" ->
      // the final states of both tables, joined from scratch: orders
      // minus the DV range, customer minus the %7 victims
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_nationkey
         FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
               WHERE NOT (o_orderkey BETWEEN 100 AND 299))
         JOIN (SELECT c_custkey AS o_custkey, c_name, c_nationkey
               FROM customer WHERE c_custkey % 7 <> 0)
         USING (o_custkey)
         ORDER BY o_orderkey""",
    "q148_data_skipping" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         WHERE o_orderkey BETWEEN 2000 AND 4000
         ORDER BY o_orderkey""",
    "q149_partition_pruning" ->
      """SELECT o_orderkey, o_totalprice,
         CAST(o_orderkey % 8 AS VARCHAR) AS bucket
         FROM orders WHERE o_orderkey % 8 IN (2, 5)
         ORDER BY o_orderkey""",
    "q150_restore" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         ORDER BY o_orderkey""",
    "q147_incremental_view" ->
      // the rollup recomputed from the FINAL states of both tables:
      // orders minus the DV range, customers minus the %7 victims
      """SELECT c_nationkey, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS revenue
         FROM (SELECT o_custkey, o_totalprice FROM orders
               WHERE NOT (o_orderkey BETWEEN 100 AND 299))
         JOIN (SELECT c_custkey, c_nationkey FROM customer
               WHERE c_custkey % 7 <> 0)
           ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q171_generated_pruning" ->
      // events.ts is TIMESTAMP(NANOS) — CAST truncates to micros on
      // both sides; day derives in UTC on both sides
      """SELECT event_id, user_id, event_type,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
         FROM events
         WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 06:00:00'
           AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-13 18:00:00'
         ORDER BY event_id""",
    "q186_optimize_where" ->
      // the final state after append+append -> DV delete ->
      // partition-scoped OPTIMIZE: all orders minus the masked range
      """SELECT o_orderkey, o_totalprice,
           CAST(o_orderkey % 8 AS VARCHAR) AS bucket
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 500 AND 1500)
         ORDER BY o_orderkey""",
    "q182_generated_hour" ->
      // hr derives as the UTC hour truncation on both sides; the
      // narrow window sits strictly inside the written week slice
      """SELECT event_id, user_id, event_type,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d-%H') AS hr
         FROM events
         WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12 06:30:00'
           AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-13 02:15:00'
         ORDER BY event_id""",
    "q170_zorder_skipping" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey BETWEEN 1000 AND 9000
           AND o_custkey BETWEEN 200 AND 900
         ORDER BY o_orderkey""",
    "q206_liquid_cluster" ->
      // same conjunctive box as q170, but served across TWO clustered
      // file populations (initial pass + incremental pass)
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey BETWEEN 1000 AND 9000
           AND o_custkey BETWEEN 200 AND 900
         ORDER BY o_orderkey""",
    "q216_column_default" ->
      // the lazy backfill replayed: pre-addition evens read the
      // default, post-addition odds their stored value
      """SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN 'backfill'
             ELSE 'online' END AS channel
         FROM orders WHERE o_orderkey <= 4000
         ORDER BY o_orderkey""",
    "q163_column_mapping" ->
      // the mapped table's final state: all orders minus the DV
      // range, price = renamed o_totalprice, status dropped
      """SELECT o_orderkey, o_totalprice AS price FROM orders
         WHERE NOT (o_orderkey BETWEEN 100 AND 299)
         ORDER BY o_orderkey""",
    "q156_incremental_minmax" ->
      // min/max rollup recomputed from the FINAL states of both
      // tables (min/max pick existing doubles — no float arithmetic)
      """SELECT c_nationkey, count(*) AS n_orders,
         min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM (SELECT o_custkey, o_totalprice FROM orders
               WHERE NOT (o_orderkey BETWEEN 100 AND 299))
         JOIN (SELECT c_custkey, c_nationkey FROM customer
               WHERE c_custkey % 7 <> 0)
           ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q144_topk_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_custkey, o_orderkey""",
    "q145_asof_forward" ->
      """SELECT l.event_id, l.user_id,
         r.value AS view_value, CAST(r.ts AS TIMESTAMP) AS view_ts
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events WHERE event_type = 'view') r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
    "q155_overlap_duration" ->
      """SELECT user_id, count(*) AS n_overlaps,
           CAST(sum(epoch_us(least(a_end, b_end))
             - epoch_us(greatest(a_start, b_start))) AS BIGINT) AS total_overlap_us
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS a_start,
                      CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS a_end
               FROM events WHERE event_type = 'click') c
         JOIN (SELECT event_id AS eid, user_id AS uid,
                      CAST(ts AS TIMESTAMP) AS b_start,
                      CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS b_end
               FROM events WHERE event_type = 'error') e
           ON c.user_id = e.uid
          AND c.a_start < e.b_end AND e.b_start < c.a_end
         GROUP BY user_id ORDER BY user_id""",
    "q146_interval_overlap" ->
      """SELECT c.event_id AS click_id, e.event_id AS error_id
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS a_start,
                      CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS a_end
               FROM events WHERE event_type = 'click') c
         JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS b_start,
                      CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS b_end
               FROM events WHERE event_type = 'error') e
           ON c.user_id = e.user_id
          AND c.a_start < e.b_end AND e.b_start < c.a_end
         ORDER BY 1, 2""",
    "q143_regexp_funcs" ->
      """SELECT p_partkey,
         regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         regexp_extract(p_type, '(\w+)$', 1) AS type_last,
         CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS INTEGER)
           AS n_vowel_runs,
         regexp_matches(p_brand, '\d') AS brand_has_digit,
         regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
         FROM part ORDER BY p_partkey""",
    "q142_typed_dataset" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS revenue
         FROM orders WHERE o_totalprice > 1000.0
         GROUP BY 1 ORDER BY 1""",
    "q140_scd2_join" ->
      """WITH dim AS (
           SELECT c_custkey, c_name || '#v1' AS dim_name,
                  DATE '1900-01-01' AS valid_from,
                  DATE '1996-01-01' AS valid_to
           FROM customer
           UNION ALL
           SELECT c_custkey, c_name || '#v2',
                  DATE '1996-01-01', DATE '9999-12-31'
           FROM customer)
         SELECT o_orderkey, o_custkey,
                CAST(o_orderdate AS DATE) AS o_date, dim_name
         FROM orders
         JOIN dim ON o_custkey = c_custkey
           AND CAST(o_orderdate AS DATE) >= valid_from
           AND CAST(o_orderdate AS DATE) < valid_to
         ORDER BY o_orderkey""",
    "q135_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           l_quantity AS value
         FROM lineitem WHERE l_orderkey % 20 = 0
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
         FROM lineitem WHERE l_orderkey % 20 = 0
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem WHERE l_orderkey % 20 = 0
         ORDER BY l_orderkey, l_linenumber, metric""",
    "q136_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
             AS INTEGER) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), ())
         ORDER BY gid, o_orderstatus, o_orderpriority""",
    "q134_metadata_count" ->
      // v0 = %3<>0 slice, v1 = all, v2/v3 = all minus the DV range
      // (compaction must preserve the count while purging masks)
      """WITH c0 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 3 <> 0),
         c1 AS (SELECT count(*) AS n FROM orders),
         c2 AS (SELECT count(*) AS n FROM orders
                WHERE NOT (o_orderkey BETWEEN 100 AND 299))
         SELECT CAST(0 AS BIGINT) AS version, n AS n_rows FROM c0
         UNION ALL SELECT 1, n FROM c1
         UNION ALL SELECT 2, n FROM c2
         UNION ALL SELECT 3, n FROM c2
         ORDER BY version""",
    "q231_trunc_pruning" ->
      // stripe pruning changes which FILES open, never which rows
      // return: the plain range read is the truth
      """SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_orderkey BETWEEN 3000 AND 7000
         ORDER BY o_orderkey""",
    "q235_sql_entry" -> sqlStarJoinText, // literally the same string
    "q229_orc_roundtrip" ->
      // the same census straight from the source table: the ORC
      // round trip must be value-preserving and pushdown-exact
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
             AS BIGINT)) AS BIGINT) AS cents,
           count(DISTINCT o_custkey) AS n_customers
         FROM orders
         WHERE o_orderstatus <> 'P' AND o_orderkey % 3 = 0
         GROUP BY 1 ORDER BY 1""",
    "q227_bucket_pruning" ->
      // bucket pruning changes which FILES open, never which rows
      // return: the plain point-lookup union is the truth
      """SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_orderkey IN (11, 502, 7004)
         ORDER BY o_orderkey""",
    "q236_snapshot_cdc_apply" ->
      // diff∘apply is the identity: the rebuilt table IS today's
      // snapshot, so the oracle is the snapshot definition itself
      """SELECT o_orderkey,
           CASE WHEN o_custkey % 2 = 0
             THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
               AS DOUBLE)
             ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
         FROM orders WHERE o_orderkey % 5 <> 0
         ORDER BY o_orderkey""",
    "q225_snapshot_cdc" ->
      // the four change classes rebuilt relationally; the unchanged
      // majority (odd custkeys in both snapshots) contributes nothing
      """WITH p AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus, o_custkey
           FROM orders WHERE o_orderkey % 7 <> 0),
         n AS (
           SELECT o_orderkey,
             CASE WHEN o_custkey % 2 = 0
               THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                 AS DOUBLE)
               ELSE o_totalprice END AS o_totalprice,
             o_orderstatus, o_custkey
           FROM orders WHERE o_orderkey % 5 <> 0)
         SELECT * FROM (
           SELECT o_orderkey, o_totalprice, o_orderstatus,
             'insert' AS _change_type
           FROM n WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, o_totalprice, o_orderstatus, 'delete'
           FROM p WHERE o_orderkey % 5 = 0
           UNION ALL
           SELECT o_orderkey, o_totalprice, o_orderstatus, 'update_preimage'
           FROM p WHERE o_orderkey % 5 <> 0 AND o_custkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_totalprice, o_orderstatus, 'update_postimage'
           FROM n WHERE o_orderkey % 7 <> 0 AND o_custkey % 2 = 0)
         ORDER BY o_orderkey, _change_type""",
    "q224_convert_in_place" ->
      // adoption moves no rows: the table is all orders minus the
      // DV-deleted range, whatever files the rows started in
      """SELECT o_orderkey, o_totalprice, o_orderstatus
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 100 AND 299)
         ORDER BY o_orderkey""",
    "q219_merge_sync_snapshot" ->
      // the four row fates of a snapshot sync: matched -> snapshot
      // values, snapshot-only -> insert, target-only non-final ->
      // deleted (NOT EXISTS), target-only final -> archived status X
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 5 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2)
                    AS DOUBLE) AS o_totalprice,
                  'S' AS o_orderstatus
           FROM orders WHERE o_custkey % 2 = 0),
         j AS (
           SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                  t.o_totalprice AS tp, t.o_orderstatus AS tstat,
                  s.o_totalprice AS sp, s.o_orderstatus AS sstat,
                  s.o_orderkey IS NOT NULL AS sm,
                  t.o_orderkey IS NOT NULL AS tm
           FROM target t FULL OUTER JOIN source s USING (o_orderkey))
         SELECT o_orderkey,
                CASE WHEN sm THEN sp ELSE tp END AS price_after,
                CASE WHEN sm THEN sstat
                     WHEN tstat = 'F' THEN 'X'
                     ELSE tstat END AS status_after
         FROM j
         WHERE sm OR (tm AND tstat = 'F')
         ORDER BY o_orderkey""",
    "q240_merge_dv" ->
      // the DV merge must equal the plain upsert replay: matched keys
      // take the source's values, unmatched source keys insert,
      // untouched target rows pass through — a mask that retired the
      // wrong rows, a lost insert, or a stale surviving image all
      // hash-mismatch; cents are exact integers on both engines
      """WITH t AS (
           SELECT o_orderkey AS k,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents,
                  o_orderstatus AS st
           FROM orders WHERE o_orderkey % 5 <> 0),
         s AS (
           SELECT o_orderkey AS k,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) + 13 AS cents,
                  'U' AS st
           FROM orders WHERE o_orderkey % 7 = 0)
         SELECT COALESCE(s.k, t.k) AS o_orderkey,
                COALESCE(s.cents, t.cents) AS cents,
                COALESCE(s.st, t.st) AS o_orderstatus
         FROM t FULL OUTER JOIN s ON t.k = s.k
         ORDER BY o_orderkey""",
    "q241_update_dv" ->
      // the DV update is the CASE WHEN restatement: masked-band rows
      // carry the new values, every other row must survive EXACTLY
      // (a mask leaking outside the band, or a lost unmasked row,
      // hash-mismatches)
      """SELECT o_orderkey,
                CASE WHEN o_orderkey BETWEEN 1000 AND 3000
                     THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                       AS BIGINT) + 5
                     ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                       AS BIGINT) END AS cents,
                CASE WHEN o_orderkey BETWEEN 1000 AND 3000 THEN 'Z'
                     ELSE o_orderstatus END AS o_orderstatus
         FROM orders ORDER BY o_orderkey""",
    "q243_cdf_commit_meta" ->
      // versions are stamped from the known commit partition of the
      // data: v1 = the %3=1 appends as inserts, v2 = the band's
      // then-alive rows as deletes — a feed that mis-attributes a row
      // to the wrong commit, leaks v0 snapshot rows, or loses the
      // timestamp column hash-mismatches
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders),
         f AS (
           SELECT k, cents, 'insert' AS ct, CAST(1 AS BIGINT) AS cv
           FROM o WHERE k % 3 = 1
           UNION ALL
           SELECT k, cents, 'delete', 2 FROM o
           WHERE k % 3 IN (0, 1) AND k BETWEEN 1000 AND 2000)
         SELECT k AS o_orderkey, cents, ct AS _change_type,
                cv AS _commit_version, TRUE AS has_ts
         FROM f ORDER BY o_orderkey, _commit_version, _change_type""",
    "q244_sql_time_travel" ->
      // both travel legs replay as the v0 (even-key) snapshot; the
      // current leg sees everything — a clause binding to the wrong
      // version or the two travel forms diverging hash-mismatches
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders),
         cur AS (SELECT k % 10 AS grp, count(*) AS n_now,
                        CAST(sum(cents) AS BIGINT) AS cents_now
                 FROM o GROUP BY 1),
         old AS (SELECT k % 10 AS grp, count(*) AS n_then,
                        CAST(sum(cents) AS BIGINT) AS cents_then
                 FROM o WHERE k % 2 = 0 GROUP BY 1)
         SELECT cur.grp, n_now, n_then, n_then AS n_then_ts,
                cents_now, cents_then
         FROM cur JOIN old ON cur.grp = old.grp
         ORDER BY cur.grp""",
    "q247_merge_clauses_dv" ->
      // the four row fates of the DV snapshot sync: matched ->
      // snapshot values, snapshot-only -> insert, target-only
      // non-final -> deleted (absent), target-only final -> archived
      // X — identical semantics to the rewrite-path q219, now proven
      // through masks + appends; exact integer cents
      """WITH target AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents,
                  o_orderstatus
           FROM orders WHERE o_orderkey % 5 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) + 21 AS cents,
                  'S' AS o_orderstatus
           FROM orders WHERE o_custkey % 2 = 0),
         j AS (
           SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                  t.cents AS tc, t.o_orderstatus AS tstat,
                  s.cents AS sc, s.o_orderstatus AS sstat,
                  s.o_orderkey IS NOT NULL AS sm,
                  t.o_orderkey IS NOT NULL AS tm
           FROM target t FULL OUTER JOIN source s USING (o_orderkey))
         SELECT o_orderkey,
                CASE WHEN sm THEN sc ELSE tc END AS cents_after,
                CASE WHEN sm THEN sstat
                     WHEN tstat = 'F' THEN 'X'
                     ELSE tstat END AS status_after
         FROM j
         WHERE sm OR (tm AND tstat = 'F')
         ORDER BY o_orderkey""",
    "q249_sql_dml" ->
      // the two SQL statements replay relationally: the banded-O
      // DELETE rows are absent, the F-under-5000 UPDATE rows carry
      // +7 cents, everything else is untouched — a predicate dropped,
      // widened, or mis-parsed hash-mismatches
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'F' AND o_orderkey < 5000
                     THEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                       AS BIGINT) + 7
                     ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                       AS BIGINT) END AS cents,
                o_orderstatus
         FROM orders
         WHERE NOT (o_orderkey BETWEEN 1000 AND 2000
                    AND o_orderstatus = 'O')
         ORDER BY o_orderkey""",
    "q250_sql_merge" ->
      // the SQL MERGE's four row fates over a full-outer replay:
      // matched 'D'-flagged source rows delete their target row,
      // other matched rows take the source's values, source-only
      // rows insert, target-only 'F' rows archive to 'X' — exact
      // integer cents on both engines
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents,
             o_orderstatus AS st
           FROM orders),
         t AS (SELECT * FROM o WHERE k % 5 <> 0),
         s AS (SELECT k, cents + 13 AS cents,
                      CASE WHEN k % 3 = 0 THEN 'D' ELSE 'U' END AS st
               FROM o WHERE k % 7 = 0)
         SELECT COALESCE(t.k, s.k) AS o_orderkey,
                CASE WHEN s.k IS NOT NULL THEN s.cents
                     ELSE t.cents END AS cents,
                CASE WHEN s.k IS NOT NULL THEN s.st
                     WHEN t.st = 'F' THEN 'X'
                     ELSE t.st END AS o_orderstatus
         FROM t FULL OUTER JOIN s ON t.k = s.k
         WHERE NOT (t.k IS NOT NULL AND s.k IS NOT NULL AND s.st = 'D')
         ORDER BY o_orderkey""",
    "q253_mv_rewrite" ->
      // the MV-served rollup must equal the raw aggregate: the Spark
      // side groups the BASE by status but (provably, via the plan
      // check) reads the (status, priority) summary and re-aggregates
      // its partials — a wrong sum-of-sums/sum-of-counts, stale MV,
      // or mis-bound attribute hash-mismatches
      """SELECT o_orderstatus,
                CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                  AS BIGINT)) AS BIGINT) AS sum_cents,
                count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q259_mv_avg_rewrite" ->
      // avg(cents) served from the MV must equal the raw aggregate
      // with NULL amounts divided out (per-measure count, NOT
      // count(*)); explicit double division on the oracle side is
      // bit-identical to the rewritten sum/count plan — integer
      // dividend/divisor, both < 2^53
      """WITH b AS (
           SELECT o_orderstatus, o_orderpriority,
                  CASE WHEN o_orderkey % 10 = 0 THEN NULL
                       ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                         AS BIGINT) END AS cents
           FROM orders)
         SELECT o_orderstatus,
                CAST(sum(cents) AS DOUBLE) / count(cents) AS avg_cents,
                count(cents) AS n_amounts,
                count(*) AS n_orders
         FROM b WHERE o_orderpriority <> '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q260_sql_mv" ->
      // the SQL session's CREATE MV + DV DELETE + OPTIMIZE + REFRESH
      // must net to the raw band-filtered aggregate; avg divides by
      // the non-null count (every 10th cents is NULL), as an explicit
      // double division on both sides
      """WITH b AS (
           SELECT o_orderstatus,
                  CASE WHEN o_orderkey % 10 = 0 THEN NULL
                       ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                         AS BIGINT) END AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 100 AND 299)
         SELECT o_orderstatus,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(sum(cents) AS DOUBLE) / count(cents) AS avg_cents,
                count(*) AS n_orders
         FROM b GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q261_sql_ddl2" ->
      // declared-schema CREATE + positional INSERT + one-partition
      // REPLACE WHERE + the TRUNCATE lifecycle: the oracle rebuilds
      // the final state — F replaced by its k%3=0 re-priced subset,
      // everything else untouched, the audit marker re-inserted
      """WITH v AS (
           SELECT o_orderkey AS k, o_orderstatus AS st,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders),
         f AS (
           SELECT k, st, cents FROM v WHERE st <> 'F'
           UNION ALL
           SELECT k, st, cents * 2 FROM v WHERE st = 'F' AND k % 3 = 0)
         SELECT st, count(*) AS n, CAST(sum(cents) AS BIGINT) AS
           cents_total, 7 AS marker
         FROM f GROUP BY st ORDER BY st""",
    "q262_sql_views" ->
      // both views must reflect the post-delete base (expansion at
      // resolution, not at CREATE), composed view-on-view
      """WITH li AS (
           SELECT l_orderkey,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM lineitem WHERE l_orderkey % 100 <> 0),
         rev AS (
           SELECT l_orderkey, CAST(sum(cents) AS BIGINT) AS rev
           FROM li GROUP BY l_orderkey)
         SELECT count(*) AS n_big, CAST(sum(rev) AS BIGINT) AS rev_total
         FROM rev WHERE rev >= 20000000""",
    "q263_mv_minmax" ->
      // the min/max MV after the upper-band DELETE + REFRESH must
      // equal a from-scratch extremum aggregate of the surviving rows
      """WITH f AS (
           SELECT o_orderstatus AS st,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders)
         SELECT st, min(cents) AS lo, max(cents) AS hi, count(*) AS n
         FROM f WHERE cents < 40000000
         GROUP BY st ORDER BY st""",
    "q264_mv_join" ->
      // the star-join MV after BOTH-side churn (fact band DELETE +
      // dim segment migration) must equal the dashboard recomputed
      // from the mutated bases — a one-sided fold, a stale dim join,
      // or overlap double-counting all hash-mismatch
      """WITH f AS (
           SELECT o_orderkey, o_custkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 100 AND 399),
         d AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 10 = 0 THEN 'MIGRATED'
                       ELSE c_mktsegment END AS c_mktsegment
           FROM customer)
         SELECT d.c_mktsegment,
                CAST(sum(f.cents) AS BIGINT) AS cents_total,
                count(f.cents) AS cnt_cents, count(*) AS n_orders
         FROM f JOIN d ON f.o_custkey = d.c_custkey
         GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""",
    "q265_mv_star" ->
      // the brand×nation cube after three-sided churn must equal the
      // recompute from the mutated bases — a dropped identity term, a
      // dim joined at the wrong version, or overlap double-counting
      // all hash-mismatch
      """WITH f AS (
           SELECT l_partkey, l_suppkey,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM lineitem WHERE l_orderkey % 7 <> 0),
         p AS (
           SELECT p_partkey,
                  CASE WHEN p_partkey % 5 = 0 THEN 'REBRANDED'
                       ELSE p_brand END AS p_brand
           FROM part),
         s AS (
           SELECT s_suppkey,
                  CASE WHEN s_suppkey % 3 = 0 THEN -1
                       ELSE s_nationkey END AS s_nationkey
           FROM supplier)
         SELECT p.p_brand, s.s_nationkey,
                CAST(sum(f.cents) AS BIGINT) AS cents_total,
                count(f.cents) AS cnt_cents,
                min(f.cents) AS cents_lo, max(f.cents) AS cents_hi,
                count(*) AS n_li
         FROM f JOIN p ON f.l_partkey = p.p_partkey
                JOIN s ON f.l_suppkey = s.s_suppkey
         GROUP BY p.p_brand, s.s_nationkey
         ORDER BY p.p_brand, s.s_nationkey""",
    "q254_mv_ivm_rewrite" ->
      // the MV was maintained purely from the change feed (insert
      // deltas from the append, signed deletes from the DV band), so
      // the oracle recomputes the FINAL base state from scratch: a
      // wrong signed fold, a missed delta, or a wrong rollup
      // decomposition all hash-mismatch; exact integer cents
      """WITH b AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 100 AND 299)
         SELECT o_orderstatus,
                CAST(sum(cents) AS BIGINT) AS cents_total,
                count(*) AS n_orders
         FROM b GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q255_sql_catalog" ->
      // gold recomputed from raw orders: the CTAS chain + the
      // bare-name DV DELETE must net to the band-filtered aggregate;
      // exact integer cents
      """WITH b AS (
           SELECT o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 500 AND 999)
         SELECT o_orderstatus,
                CAST(sum(cents) AS BIGINT) AS cents_total,
                count(*) AS n_orders
         FROM b GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q133_merge_clauses" ->
      // four clause outcomes: matched+delete drops, matched+upsert
      // takes source values, unmatched delete-commands never insert,
      // target-only passes through (s.op IS NULL)
      """WITH target AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
           WHERE o_orderkey % 3 <> 0),
         source AS (
           SELECT o_orderkey,
                  CAST(round(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1, 2)
                    AS DOUBLE) AS o_totalprice,
                  'U' AS o_orderstatus,
                  CASE WHEN o_orderkey % 10 = 4 THEN 'delete'
                       ELSE 'upsert' END AS op
           FROM orders WHERE o_custkey % 2 = 0)
         SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                CASE WHEN s.op = 'upsert' THEN s.o_totalprice
                     ELSE t.o_totalprice END AS price_after,
                CASE WHEN s.op = 'upsert' THEN s.o_orderstatus
                     ELSE t.o_orderstatus END AS status_after
         FROM target t FULL OUTER JOIN source s USING (o_orderkey)
         WHERE s.op IS NULL OR s.op <> 'delete'
         ORDER BY o_orderkey""",
    "q131_shallow_clone" ->
      // clone = source mask + clone-local mask; source = its own mask
      // only (the clone's write must not leak back)
      """SELECT o_orderkey, o_totalprice, o_orderstatus, 'clone' AS side
         FROM orders WHERE NOT (o_orderkey BETWEEN 100 AND 299)
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus, 'source' AS side
         FROM orders WHERE NOT (o_orderkey BETWEEN 100 AND 199)
         ORDER BY side, o_orderkey""",
    "q129_version_walk" ->
      // v0 = the %3<>0 slice, v1 = all orders, v2 = v1 minus the DV
      // range; each version aggregated from scratch
      """WITH v0 AS (SELECT o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
         v1 AS (SELECT o_totalprice FROM orders),
         v2 AS (SELECT o_totalprice FROM orders
                WHERE NOT (o_orderkey BETWEEN 100 AND 299))
         SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS revenue FROM v0
         UNION ALL
         SELECT 1, count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           FROM v1
         UNION ALL
         SELECT 2, count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           FROM v2
         ORDER BY version""",
    "q126_schema_evolution" ->
      // pre-evolution rows read the added column as NULL; appended
      // rows carry real values
      """SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
         FROM orders ORDER BY o_orderkey""",
    "q79_change_feed" ->
      // append feed: exactly the appended rows as inserts; DV feed:
      // exactly the masked rows (original AND appended) as deletes
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
           'insert' AS _change_type, 'files' AS feed
         FROM orders WHERE o_orderkey % 3 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderstatus,
           'delete' AS _change_type, 'rows' AS feed
         FROM orders WHERE o_orderkey BETWEEN 100 AND 299
         ORDER BY feed, o_orderkey""",
    "q61_window_funcs" ->
      """SELECT user_id, event_id,
         lag(value, 1) OVER w AS prev_value,
         lead(value, 1) OVER w AS next_value,
         rank() OVER w AS rnk,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume,
         ntile(4) OVER w AS quartile
         FROM (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, rnk""",
    "q62_set_ops" ->
      """SELECT user_id, 'both' AS tag FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase')
         UNION ALL
         SELECT user_id, 'click_only' AS tag FROM
           (SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase')
         ORDER BY tag, user_id""",
    "q63_semi_anti" ->
      // nation LEFT JOIN the per-nation aggregate (not customer JOIN
      // nation): the Spark side starts from nation, so a nation with
      // zero customers must appear with (0, 0) here too — an inner
      // join from customer would drop it (latent on TPC-H data where
      // every nation has customers, real on anything else)
      """WITH agg AS (
           SELECT c_nationkey,
             count(CASE WHEN EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey) THEN 1 END)
               AS n_with_orders,
             count(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey) THEN 1 END)
               AS n_without_orders
           FROM customer c GROUP BY 1)
         SELECT n_name,
           CAST(coalesce(n_with_orders, 0) AS BIGINT) AS n_with_orders,
           CAST(coalesce(n_without_orders, 0) AS BIGINT) AS n_without_orders
         FROM nation LEFT JOIN agg ON n_nationkey = c_nationkey
         ORDER BY n_name""",
    "q65_date_dims" ->
      """SELECT o_orderkey,
         year(d) AS yr, month(d) AS mo, day(d) AS dom, quarter(d) AS qtr,
         isodow(d) AS iso_dow, weekofyear(d) AS iso_week,
         d + 30 AS d_plus_30, last_day(d) AS month_end
         FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
               FROM orders)
         ORDER BY o_orderkey""",
    "q66_string_funcs" ->
      """SELECT p_partkey,
         upper(p_name) AS name_upper,
         length(p_name) AS name_len,
         substring(p_name, 1, 5) AS name_head,
         lpad(p_brand, 12, '*') AS brand_padded,
         strpos(p_name, 'a') AS pos_a,
         reverse(p_brand) AS brand_rev,
         string_split(p_name, ' ')[1] AS first_word,
         concat_ws('-', p_brand, p_type) AS brand_type
         FROM part ORDER BY p_partkey"""
  )
}
