package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 analytics extensions: semi-structured (JSON) columns, batch
  * sessionization, funnel analysis, OLAP rollup/pivot, exact
  * percentiles, a deterministic KMV distinct sketch, and the
  * Gopher-style n-gram repetition filter.
  *
  * Same contract as [[Relational]]: every query is a pure function of
  * (SparkSession, sfDir), every computed column is aliased identically
  * to its DuckDB oracle, and money/ratio arithmetic keeps both engines
  * on bit-identical doubles (exact-integer or exact-decimal operands
  * divided/compared in double).
  */
object Analytics {
  import Tables.load

  // ------------------------------------------------------- semi-structured

  /** JSON property extraction + aggregate. `get_json_object` is a
    * codegen'd per-row kernel (Jackson parse per value); extraction
    * happens inside the scan-project stage, so the shuffle only carries
    * (event_type, partial agg) rows — the JSON strings never move.
    * On a 100 TB corpus of raw JSON events this is the canonical
    * "parse once, aggregate small" shape. */
  def propsJsonAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  // ---------------------------------------------------------- sessionize

  /** Batch sessionization: split each user's event stream into sessions
    * separated by >`gapMin` minutes of inactivity (the batch twin of
    * `graft.streaming.Streaming.sessionize`).
    *
    * Classic two-window formulation: lag() marks session starts,
    * running sum() numbers them, then one group-agg per session. All
    * three steps cluster on `user_id`, so Catalyst plans exactly ONE
    * shuffle: the windows share the (user_id) sort, and the final
    * groupBy(user_id, session_seq) is satisfied by the same hash
    * partitioning (user_id alone already co-locates every
    * (user_id, session_seq) group). Per-user data is bounded by a
    * user's own event count — no global sort, no single-reducer stage.
    * Determinism: (ts, event_id) is a unique sort key. */
  def sessionize(spark: SparkSession, dir: String, gapMin: Int = 30): DataFrame =
    sessionizeEvents(load(spark, dir, "events"), gapMin)

  /** DataFrame form of [[sessionize]] for arbitrary event frames with
    * (user_id, event_id, ts) columns. */
  def sessionizeEvents(events: DataFrame, gapMin: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapMin * 60L * 1000000L
    events
      .withColumn("_us", unix_micros(col("ts")))
      .withColumn("_prev_us", lag(col("_us"), 1).over(byUser))
      .withColumn("_new_sess",
        when(col("_prev_us").isNull || col("_us") - col("_prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("_new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        (max(col("_us")) - min(col("_us"))).as("duration_us"))
      .orderBy("user_id", "session_seq")
  }

  // -------------------------------------------------------------- funnel

  /** Ordered-funnel conversion: how many users completed
    * signup → view → click → purchase, where each stage's FIRST
    * occurrence must be at or after the previous stage's first
    * occurrence. One conditional-min aggregate per user (single
    * shuffle on user_id, partial aggregation map-side), then a global
    * single-row count — the all-reduce carries one row per partition. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelEvents(load(spark, dir, "events"))

  /** DataFrame form of [[funnel]] over (user_id, event_type, ts). */
  def funnelEvents(events: DataFrame): DataFrame = {
    def firstTs(evType: String) =
      min(when(col("event_type") === evType, unix_micros(col("ts"))))
    val perUser = events
      .groupBy(col("user_id"))
      .agg(
        firstTs("signup").as("t_signup"),
        firstTs("view").as("t_view"),
        firstTs("click").as("t_click"),
        firstTs("purchase").as("t_purchase"))
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") >= col("t_signup")
    val s3 = s2 && col("t_click") >= col("t_view")
    val s4 = s3 && col("t_purchase") >= col("t_click")
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(when(s1, 1)).as("n_signup"),
      count(when(s2, 1)).as("n_view"),
      count(when(s3, 1)).as("n_click"),
      count(when(s4, 1)).as("n_purchase"))
  }

  // ---------------------------------------------------------------- OLAP

  /** ROLLUP with grouping_id: per-(flag,status) subtotals, per-flag
    * subtotals, grand total in ONE pass. Catalyst expands the rollup
    * into a single Expand + aggregate — still one shuffle; the
    * alternative (three separate groupBys unioned) scans the fact
    * table three times. */
  def rollupKpis(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("lvl"),
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_qty"))
      .orderBy("lvl", "l_returnflag", "l_linestatus")

  /** CUBE: all four grouping combinations of (flag, status) — detail,
    * each one-dimension subtotal, grand total — in the same single
    * Expand + aggregate pass as [[rollupKpis]] (×4 Expand rows here,
    * still collapsed by partial aggregation before the one shuffle). */
  def cubeKpis(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("lvl"),
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_qty"))
      .orderBy("lvl", "l_returnflag", "l_linestatus")

  /** Pivot (long → wide): line status becomes columns. Values are
    * enumerated explicitly (Seq("F","O")) so the plan is a single
    * group-aggregate — without them Spark runs an extra distinct job
    * just to discover the column set. */
  def pivotDemand(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
        .cast("double"))
      .orderBy("l_returnflag")

  /** Exact percentiles per group (Spark `percentile` = ANSI
    * percentile_cont: linear interpolation at rank p*(n-1)). Exact
    * percentile requires the group's values together — one shuffle on
    * event_type; Spark's implementation aggregates a per-partition
    * counts-map first, so the shuffle carries (value → count) maps,
    * not raw rows. For quantiles over high-cardinality groups at
    * 100 TB, swap in percentile_approx (mergeable KLL-style sketch,
    * same call shape, rank-error bound). */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"))
      .orderBy("event_type")

  // ----------------------------------------------------------- KMV sketch

  /** Deterministic KMV (k-minimum-values) distinct-count sketch,
    * estimate = (k-1) / h_k where h_k is the k-th smallest hash
    * fraction of the distinct values [Bar-Yossef et al. 2002].
    *
    * Engine-portable hashing: md5 hex → first 13 hex digits → 52-bit
    * integer / 16^13 — exact in double, reproducible in any engine
    * (the DuckDB oracle computes the identical fraction).
    *
    * Scale shape: the k-th smallest per group is found WITHOUT a
    * single-reducer per-group sort — the [[graft.plans.TopKPerKey]]
    * operator's partial heaps keep each partition's k smallest per
    * group map-side (the global k-th smallest is necessarily among
    * every partition's local k smallest), then the survivor set
    * (≤ k·partitions rows per group) is tiny for the exact global
    * pick. Same shape as [[TrainingData.capPerSource]]. Unlike HLL,
    * KMV sketches are mergeable by keeping the k smallest of a
    * union — the partial stage IS that merge. */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 32,
      shards: Int = 32): DataFrame = {
    val events = load(spark, dir, "events")
    val kth = kmvSketch(events, "event_type", "user_id", k, shards)
    val exact = events
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    kth.join(exact, Seq("event_type")).orderBy("event_type")
  }

  /** The engine-portable KMV hash fraction of a column — md5 hex →
    * 52-bit integer / 16^13, exact in double (see [[kmvDistinct]]). */
  private def kmvFrac(valueCol: String) =
    (conv(substring(md5(col(valueCol).cast("string").cast("binary")), 1, 13),
      16, 10).cast("double") / pow(lit(16.0), lit(13.0))).as("frac")

  /** (groupCol, kmv_estimate) per group — the reusable sketch stage;
    * see [[kmvDistinct]] for the portable-hash and scale rationale. */
  def kmvSketch(df: DataFrame, groupCol: String, valueCol: String,
      k: Int, shards: Int): DataFrame =
    kmvEstimate(df.select(col(groupCol), kmvFrac(valueCol)).distinct(),
      groupCol, k)

  /** The estimate stage over an ALREADY-HASHED (groupCol, frac) frame
    * — split out so MERGED sketches (q257's partial-union rollup) run
    * the identical pick: k smallest per group via the partial-heap
    * operator, then (k-1)/h_k (or the exact survivor count for
    * small groups). */
  private[queries] def kmvEstimate(hashed: DataFrame, groupCol: String,
      k: Int): DataFrame = {
    val wGlobal = Window.partitionBy(col(groupCol)).orderBy(col("frac"))
    // Groups with fewer than k distinct values hold their ENTIRE value
    // set after the pre-prune (the operator kept everything), so the
    // standard small-group KMV case applies: the estimate is the exact
    // survivor count, not (k-1)/h_k. frac is unique within a group
    // (post-distinct), so ordering by it alone is total — the
    // operator's contract. ≤ k·partitions rows per group shuffle.
    graft.plans.TopKPerKey
      .perKey(hashed, Seq(col(groupCol)), Seq(col("frac").asc), k)
      .withColumn("_rn", row_number().over(wGlobal))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("_rn") === least(lit(k), col("_cnt")))
      .select(col(groupCol),
        when(col("_cnt") < k, col("_cnt").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("frac"))
          .as("kmv_estimate"))
  }

  /** SKETCH-PARTIAL MATERIALIZED VIEW (q257; the Druid/BigQuery
    * "materialized sketch" pattern): the persisted summary stores,
    * per FINE grain (event_type, day), the sorted k-minimum-value
    * sketch of the day's distinct users — and any COARSER distinct
    * count rolls up by MERGING sketches (union → distinct → k
    * smallest), which is exact for KMV: a frac among the k smallest
    * of the union is among the k smallest of every day containing
    * it, so the merged pick equals the sketch computed directly on
    * the union. That is the property that makes approximate distinct
    * counts ROLLUP-SAFE where raw countDistinct is not (you cannot
    * add distinct counts). The oracle computes the rollup straight
    * from the base table — identical by the merge law — plus the
    * exact count for reference. Scale: the MV holds k doubles per
    * (type, day); the rollup explodes only the MV (days × k rows),
    * never the base; both pick stages ride the partial-heap
    * TopKPerKey operator. */
  def sketchMvRollup(spark: SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sketchmv").toString
    val ev = load(spark, dir, "events")
    val hashedFine = ev
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        kmvFrac("user_id"))
      .distinct()
    val perDay = graft.plans.TopKPerKey
      .perKey(hashedFine, Seq(col("event_type"), col("day")),
        Seq(col("frac").asc), k)
      .groupBy("event_type", "day")
      .agg(sort_array(collect_list(col("frac"))).as("sketch"))
    val mv = new graft.io.VersionedTable(spark, root + "/mv")
    mv.write(perDay)
    // rollup: union the day sketches, drop cross-day duplicates (the
    // same user's frac recurs under every active day), re-pick k
    val merged = mv.read()
      .select(col("event_type"), explode(col("sketch")).as("frac"))
      .distinct()
    val est = kmvEstimate(merged, "event_type", k)
    val meta = mv.read().groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(meta, Seq("event_type")).join(exact, Seq("event_type"))
      .orderBy("event_type")
  }

  // ----------------------------------------------------- cohort retention

  /** Weekly cohort retention: users grouped by the week of their first
    * event; each later week counts how many of them were active —
    * the classic retention-matrix query.
    *
    * Single-window formulation: `min(ts) over (partition by user_id)`
    * attaches each user's cohort week WITHOUT the groupBy+self-join
    * shape (which would shuffle events twice). One shuffle on user_id
    * for the window, then the countDistinct re-shuffles only
    * (cohort_week, week_index, user_id) triples — already one row per
    * triple after partial dedup. week_index arithmetic is exact: both
    * timestamps are week-truncated, so the day difference is an exact
    * multiple of 7 in both engines. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    load(spark, dir, "events")
      .withColumn("cohort_week", date_trunc("week", min(col("ts")).over(w)))
      .withColumn("week_index",
        (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7)
          .cast("int"))
      .groupBy(col("cohort_week"), col("week_index"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_index")
  }

  // -------------------------------------------------------- heavy hitters

  /** Exact top-k most frequent users per event type. */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 5,
      shards: Int = 32): DataFrame =
    topKPerGroup(load(spark, dir, "events"), "event_type", "user_id", k, shards)

  /** Exact per-group top-k by frequency (desc, item asc tiebreak).
    *
    * Scale shape: the count aggregate shuffles on the composite
    * (group, item) key — fully parallel. The top-k pick then runs
    * through the custom [[graft.plans.TopKPerKey]] physical operator
    * (an item's count is already its GLOBAL count, so the operator's
    * partial heaps prune map-side and the exchange carries
    * ≤ k·partitions rows per group instead of the whole distinct
    * (group, item) pair table — at web scale that pair table is
    * itself unbounded). The exact rank (part of the output contract)
    * then windows over ≤ k survivors per group — bounded input, so
    * the single-reducer-per-group sort is a rounding error. `shards`
    * is kept for API stability; the operator's partial stage plays
    * that role natively. */
  def topKPerGroup(df: DataFrame, groupCol: String, itemCol: String,
      k: Int, shards: Int): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(itemCol))
      .agg(count(lit(1)).as("n"))
    val ord = Seq(col("n").desc, col(itemCol).asc)
    val wGlobal = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    graft.plans.TopKPerKey.perKey(counts, Seq(col(groupCol)), ord, k)
      .withColumn("top_rank", row_number().over(wGlobal))
      .select(col(groupCol), col(itemCol), col("n"), col("top_rank"))
      .orderBy(col(groupCol), col("top_rank"))
  }

  // ------------------------------------------------------ epoch upsample

  /** Demo recipe for [[upsampleByWeight]]: one source upsampled 2.5
    * epochs, one downsampled to 0.4, one dropped, rest kept at 1.0. */
  def epochUpsample(spark: SparkSession, dir: String): DataFrame =
    upsampleByWeight(load(spark, dir, "documents"),
      Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0), 1.0)
      .select("doc_id", "source", "epoch")
      .orderBy("doc_id", "epoch")

  /** Deterministic fractional-epoch upsampling — the data-recipe
    * "source weights" op (e.g. weight 2.5 = every doc twice, plus a
    * deterministic half of them a third time). floor(w) full copies
    * per doc, plus one more iff the doc's hash coin < frac(w): the
    * SAME docs get the extra epoch on every run, cluster, and
    * partitioning (a rand() draw is none of those), and the oracle
    * reproduces the coin from the same md5. Pure narrow op — explode
    * of a ≤⌈w⌉-element sequence, zero shuffles. Keeps every input
    * column and appends `epoch` (1-based copy index). */
  def upsampleByWeight(docs: DataFrame, weights: Map[String, Double],
      defaultWeight: Double): DataFrame = {
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0,
      "source weights must be non-negative")
    val w = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, wt)) => when(col("source") === s, lit(wt)).otherwise(acc)
    }
    val u = hashUniform("epoch", col("doc_id"))
    val inputCols = docs.columns.toSeq.map(col)
    docs
      .withColumn("_w", w)
      .withColumn("_n", floor(col("_w")).cast("long") +
        when(u < (col("_w") - floor(col("_w"))), 1L).otherwise(0L))
      .filter(col("_n") > 0)
      .select(inputCols :+
        explode(sequence(lit(1L), col("_n"))).as("epoch"): _*)
  }

  /** Uniform-in-[0,1) draw from md5 of `salt:key` — same deterministic
    * coin as TrainingData's sampling ops (first 8 hex digits / 2^32),
    * reproducible in the DuckDB oracle. */
  private def hashUniform(salt: String, key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)

  // ------------------------------------------------- repetition (Gopher)

  /** Gopher-style repetition quality stats per document: fraction of
    * bigrams taken by the most common bigram, and fraction occupied by
    * any repeated bigram, plus the filter verdict. One native-kernel
    * scan ([[graft.functions.NGramRepetition]]), zero shuffles — see
    * the expression's scaladoc for why composition would shuffle the
    * exploded corpus twice. Docs with <2 tokens have no bigrams and
    * are excluded (matching the oracle's len(ws) >= 2 guard). */
  def repetitionStats(spark: SparkSession, dir: String,
      topThreshold: Double = 0.18): DataFrame = {
    val r = graft.functions.NGramRepetition.ngramRepetition(
      graft.text.TextAnalysis.tokens(col("text")), 2)
    load(spark, dir, "documents")
      .withColumn("_r", r)
      .filter(col("_r").isNotNull)
      .select(
        col("doc_id"),
        col("_r.top_frac").as("top_bigram_frac"),
        col("_r.dup_frac").as("dup_bigram_frac"),
        (col("_r.top_frac") > topThreshold).as("repetitive"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- anomaly detection

  /** ROLLING Z-SCORE anomaly detection over the hourly event stream —
    * the monitoring query an ops team runs over pipeline telemetry:
    * per (event_type, hour) count, scored against the TRAILING 24
    * observed hours (rows-window, excluding the current row), flag
    * |z| > 3. Two shuffles total: the hourly pre-aggregate (partial
    * agg — raw events collapse map-side) and ONE window shuffle on
    * event_type; the window state is 24 integer rows.
    *
    * Float discipline: the window carries only EXACT LONGs (count,
    * sum, sum of squares), and z folds them in one closed form —
    * `z = (w·n − s) / sqrt(w·ss − s²)` (algebraically (n−mean)/std
    * with population std) — so the only float ops are a single
    * multiply, subtract, sqrt and divide over exact integers:
    * bit-identical cross-engine, no order-sensitive float summation.
    * Rows with fewer than 24 prior hours (warm-up) or a flat baseline
    * (zero variance) are excluded: a z-score against no/degenerate
    * history is noise, not signal. */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = load(spark, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_bucket"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("_w", count(lit(1)).over(w))
      .withColumn("_s", sum(col("n_events")).over(w))
      .withColumn("_ss", sum(col("n_events") * col("n_events")).over(w))
      .filter(col("_w") === 24 &&
        (col("_w") * col("_ss") - col("_s") * col("_s")) > 0)
      .withColumn("z",
        (col("_w") * col("n_events") - col("_s")).cast("double") /
          sqrt((col("_w") * col("_ss") - col("_s") * col("_s")).cast("double")))
      .select(col("event_type"), col("hour_bucket"), col("n_events"),
        col("_s").as("base_sum"), col("z"),
        (abs(col("z")) > 3.0).as("anomaly"))
      .orderBy("event_type", "hour_bucket")
  }

  /** RANGE-frame window (q139): per event, how many same-type events
    * fired in the PRECEDING 24 hours — the event-time sliding count
    * behind rate limiting and burst detection, and the window
    * capability q124's ROWS frame doesn't cover (a RANGE frame bounds
    * by VALUE distance, so gaps and bursts are handled correctly).
    * The frame is anchored on exact integer microseconds
    * (`unix_micros`), excludes the current row's peers (… AND 1
    * PRECEDING), and emits an exact integer count — deterministic on
    * both engines regardless of tie order. One shuffle on event_type;
    * state is the 24-hour sliding frame. */
  def rollingRangeCount(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__us"))
      .rangeBetween(-86400000000L, -1L)
    load(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("__us"))
      .withColumn("n_prior_24h", count(lit(1)).over(w))
      .select(col("event_id"), col("event_type"), col("n_prior_24h"))
      .orderBy("event_id")
  }

  // ----------------------------------------------------- streaming parity

  /** STRUCTURED STREAMING under the DuckDB oracle (q132): the hourly
    * windowed aggregate executed as a REAL streaming job — file
    * source → watermark → `Streaming.windowedAgg` → memory sink,
    * `Trigger.AvailableNow`, complete mode — and hash-checked against
    * the plain batch SQL. This pins the whole streaming stack
    * (micro-batch planning, event-time windows, state store
    * aggregation) to batch semantics cross-engine: any divergence —
    * a window misaligned, a row dropped by state handling, a partial
    * flush — hash-mismatches. Sums run in DECIMAL pre-aggregation so
    * the stateful sum is bit-identical to batch regardless of
    * micro-batch order (the same reason q73's IVM sums are DECIMAL).
    * At 100 TB the same code runs continuously: AvailableNow is the
    * backfill trigger, the watermark bounds state. */
  def streamingHourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .select(col("ts"), col("event_type"),
        col("value").cast("decimal(18,4)").as("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src")
      .toString
    ev.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val agg = graft.streaming.Streaming.windowedAgg(
      stream, "ts", "event_type", "value", "1 hour", "10 minutes")
    val mem = "q132_stream_agg"
    spark.catalog.dropTempView(mem)
    // state partitions sized to the source (guide §2 scale-adaptive
    // partitioning): the cloned query session keeps the sizing, the
    // caller's session reverts
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      agg.writeStream.format("memory").queryName(mem)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("window_start").as("hour_bucket"), col("event_type"),
        col("n_events"),
        round(col("sum_value"), 2).cast("double").as("sum_value"))
      .orderBy("hour_bucket", "event_type")
  }

  /** STREAMING AT-LEAST-ONCE DEDUP (q197; `Streaming.dedupStream` /
    * `dropDuplicatesWithinWatermark`): the events feed replayed with
    * injected redelivery — every 3rd and every 7th event re-sent, the
    * at-least-once delivery duplicates every real message bus
    * produces — then deduplicated by event_id with watermark-bounded
    * state. Duplicates are byte-identical rows, so the "keep first
    * arrival" semantics are order-independent and the oracle is
    * simply the original feed. The fixture is written as ONE file so
    * AvailableNow sees one batch (documented determinism convention,
    * cf. q188); the horizon is generous so nothing is late-dropped —
    * the spec suite pins the eviction semantics separately. Scale:
    * state is 8-byte keys within the horizon, evicted by event time —
    * the unbounded form of exactly-once ingest dedup. */
  def streamingDedupAtLeastOnce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val dups = ev
      .unionAll(ev.filter(col("event_id") % 3 === 0))
      .unionAll(ev.filter(col("event_id") % 7 === 0))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sdedup-src")
      .toString
    dups.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val deduped = graft.streaming.Streaming.dedupStream(
      stream, "ts", Seq("event_id"), "365 days")
    val mem = "q197_stream_dedup"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      deduped.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** STREAM–STATIC ENRICHMENT JOIN (q198): the events stream joined
    * against a STATIC broadcast dimension (nation, via the arithmetic
    * user_id→nationkey mapping) before a watermarked daily window
    * aggregate — the canonical streaming-enrichment shape (clicks ×
    * user table, logs × geo table). The static side is planned as a
    * broadcast hash join inside every micro-batch, so the stream is
    * never shuffled for the join; only the (window, name) partials
    * shuffle for the aggregate. Money discipline as q132: exact
    * DECIMAL sums, one cast to double. At 100 TB/day this is
    * broadcast-join + map-side-combined window agg — no scale cliff. */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .select(col("ts"), col("user_id"),
        col("value").cast("decimal(18,4)").as("value"))
    val nation = load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-senrich-src")
      .toString
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val agg = stream
      .join(broadcast(nation), pmod(col("user_id"), lit(25)) === col("n_nationkey"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day"), col("n_name"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    val mem = "q198_stream_static"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      agg.writeStream.format("memory").queryName(mem)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("window.start").as("day_bucket"), col("n_name"),
        col("n_events"),
        round(col("sum_value"), 2).cast("double").as("sum_value"))
      .orderBy("day_bucket", "n_name")
  }

  /** EVENT-TYPE CO-OCCURRENCE PMI (q199): pointwise mutual
    * information over per-user event-type incidence — "which actions
    * co-occur in the same users beyond chance", the association-
    * mining statistic behind co-purchase panels, query-term
    * suggestion, and feature cross selection. All counts are exact
    * BIGINTs (distinct-user incidence, per-type counts, pair counts);
    * the PMI itself follows the q130/q168 ln discipline — one
    * `round(ln(ratio)·1e6)` per OUTPUT row (output is bounded by
    * types², not data), emitted as a LONG so the hash never touches a
    * raw float. The single driver-side scalar is the user universe
    * size (one count — the documented bounded-collect convention).
    * Scale: incidence collapses map-side to ≤ users·types rows, the
    * pair join is per-user (bounded fan-out by types), and the final
    * shuffle carries one row per type pair. */
  def cooccurrencePmi(spark: SparkSession, dir: String): DataFrame = {
    val inc = load(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val nUsers = inc.select(col("user_id")).distinct().count()
    val ci = inc.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val pairs = inc.as("a")
      .join(inc.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(ci.select(col("event_type").as("type_a"),
        col("c").as("ca"))), "type_a")
      .join(broadcast(ci.select(col("event_type").as("type_b"),
        col("c").as("cb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        round(log((lit(nUsers) * col("n_both")).cast("double") /
          (col("ca") * col("cb")).cast("double")) * lit(1e6))
          .cast("long").as("pmi_micro"))
      .orderBy("type_a", "type_b")
  }

  /** PER-TYPE EWMA OF DAILY VOLUME (q208): zero-seeded exponentially
    * weighted moving average (α = 1/2) over each event type's daily
    * counts — the smoothing primitive behind alerting baselines and
    * drift monitors, complementing q160's linear trend. Float
    * discipline: the fold is order-DEFINED on both engines (left fold
    * in day order — `aggregate(array_sort(...))` here, DuckDB
    * `list_reduce(list_prepend(0.0, list(... ORDER BY day)))` so both
    * sides run the SAME zero-seeded recurrence), α = 1/2 keeps every
    * step one correctly-rounded IEEE add plus an exact halving, so
    * the doubles match bitwise. Scale: daily counts collapse map-side
    * to (type, day) partials; each fold runs over ≤ days elements of
    * one group — the array never exceeds the calendar. */
  def ewmaDailyVolume(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("y"))))
        .as("xs"))
      .select(col("event_type"),
        size(col("xs")).cast("long").as("n_days"),
        aggregate(expr("transform(xs, s -> cast(s.y as double))"),
          lit(0.0), (acc, x) => (acc + x) / lit(2.0)).as("ewma"))
      .orderBy("event_type")
  }

  /** PER-GROUP TREND SLOPE (q160): the least-squares slope of daily
    * event counts per event type — "is this source growing or
    * decaying", the volume-drift companion to q120's KS
    * distribution-drift. Everything before the final division is
    * EXACT integer arithmetic (day index x and daily count y are
    * LONGs; Σx, Σy, Σxy, Σxx are BIGINT sums), and the slope is one
    * closed-form division of exact BIGINTs — bit-identical across
    * engines, per the float-discipline rules (no rounding of
    * ratio-valued outputs). Scale shape: raw events collapse map-side
    * to (type, day) partial counts; the per-type regression then runs
    * over ≤ days rows per type — sums collapse map-side again, so the
    * final shuffle carries a handful of stat rows per type. */
  def dailyTrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = load(spark, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("x"))
      .groupBy("event_type", "x")
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"))
      .orderBy("event_type")
  }

  /** LOCF GAP-FILL onto a per-user daily grid (q180): sparse per-user
    * observations become a DENSE regular time series — every user gets
    * one row per day between their first and last event, with missing
    * days carrying the LAST OBSERVATION FORWARD. The canonical
    * feature-engineering reshape (a model wants aligned daily features,
    * telemetry arrives when it arrives). Three narrow steps: (1) last
    * observation per (user, day) via one row_number window (ties broken
    * ts desc, event_id desc — deterministic cross-engine); (2) the grid
    * as `explode(sequence(d0, d1))` per user — generated, never stored;
    * (3) `last(value, ignoreNulls)` over the per-user day order. Scale:
    * everything partitions by user_id — one shuffle, users independent,
    * no driver-side calendar; the grid is at most span-days × users
    * rows and never wider than the answer. The carried value is a RAW
    * double (no arithmetic), so the hash check is exact. */
  def locfDailyGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("value"))
    val byDay = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "day")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val grid = ev.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(byDay, Seq("user_id", "day"), "left")
      .withColumn("value", last(col("value"), ignoreNulls = true).over(
        Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("value"))
      .orderBy("user_id", "day")
  }

  /** STREAMING SESSIONIZATION under the DuckDB oracle (q158): the
    * `flatMapGroupsWithState` gap-session operator
    * (`Streaming.sessionize`, previously spec-only) run as a real
    * stream over the events table and hash-compared against the batch
    * gaps-and-islands formulation. Determinism contract: the source is
    * ONE parquet file → one data micro-batch, so within-batch
    * event-time ordering closes exactly the gap-separated sessions;
    * the trailing no-data micro-batch then advances the watermark to
    * max(ts) and EVICTS every session whose `last + gap` the watermark
    * passed. Net: a session is emitted iff `session_end + gap <
    * max(ts)` over the whole table — a pure SQL predicate, which is
    * what makes a STATEFUL STREAMING operator hash-oracle-able at all.
    * Timestamps are pre-truncated to milliseconds on both sides
    * (`SessionEvent.ts.getTime` is millisecond-grained; sub-ms ties
    * sort arbitrarily but are always within-gap, so session membership
    * is order-free). At 100 TB this runs as a real unbounded stream:
    * state is O(active keys) with event-time-timeout eviction doing
    * the garbage collection — exactly what the parity check pins. */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val gapMs = 30L * 60L * 1000L
    val ev = load(spark, dir, "events")
      .select(col("user_id").cast("string").as("key"),
        date_trunc("millisecond", col("ts")).as("ts"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-sess").toString
    ev.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
      .as[graft.streaming.Streaming.SessionEvent]
    val sessions =
      graft.streaming.Streaming.sessionize(stream, gapMs, "0 seconds")
    val mem = "q158_stream_sess"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      sessions.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("key").cast("long").as("user_id"),
        col("session_start"), col("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Shared PART CO-OCCURRENCE edge list (symmetric form): parts in
    * the same order link both ways. The self-join is a SHUFFLED HASH
    * join by hint: the equi-key is `l_orderkey`, so each build-side
    * hash table holds one partition's order groups (≤7 lineitems per
    * order in TPC-H shapes — bounded build memory at any scale), and
    * the sort-merge alternative pays two full sorts of the lineitem
    * stream for keys the join never needs ordered (guide §3.1;
    * measured 3.2s → 1.1s on the materialized edge list at sf0.1).
    * Every graph-family operator (q157/q175/q181/q195/q207/q209/
    * q212/q215/q237) derives its graph here. */
  private def coEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a")
      .join(li.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
  }

  /** TRIANGLE COUNT over the part co-occurrence graph (q175):
    * degree-ordered orientation — every undirected edge points from
    * its lower (degree, id) endpoint to the higher — turns the
    * graph into a DAG where each triangle is closed at EXACTLY ONE
    * edge (the one between its two smallest vertices), so
    * Σ_{(u,v)∈E} |N⁺(u) ∩ N⁺(v)| counts each triangle once, no
    * dedup (Suri & Vassilvitskii WWW'11 node-iterator++, executed
    * as adjacency-array intersection instead of a wedge self-join —
    * the Σd⁺² wedge stream never hits a shuffle; only the m edge
    * rows and the per-node neighbor arrays move). The orientation
    * is the scale trick: out-degree is bounded by O(√m) however
    * skewed the raw degrees, so arrays stay small and a web-scale
    * hub node stops being a quadratic bomb. The (deg, id) order is
    * a lexicographic STRUCT/row comparison — identical in Spark and
    * DuckDB, and total for the full 64-bit id range (a packed
    * deg·2³¹+id key would collide across degree buckets once ids
    * exceed 2³¹, silently mis-orienting edges at web scale). All
    * counts exact BIGINTs; output one summary row (nodes, edges,
    * wedges, triangles — 0, never NULL, on a triangle-free graph). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // upper-triangle form of [[coEdges]]; same shuffled-hash shape
    val co = li.as("a").join(li.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val deg = co.select(col("u").as("n"))
      .unionAll(co.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val e = co
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      // referenced four times below (the intersection joins + the two
      // edge stats) in one plan: an eager checkpoint runs the
      // co-occurrence self-join once. At 100 TB this is a written
      // table, not a checkpoint.
      .localCheckpoint()
    // adjacency-intersection form: per oriented edge (u,v), triangles
    // closed at it are |N⁺(u) ∩ N⁺(v)|. Arrays are SORTED ONCE per
    // node so the per-edge intersection is a codegen'd two-pointer
    // merge (SortedLongSetOverlap) — `array_intersect` builds a hash
    // set and materializes the result array per EDGE, i.e. per wedge
    // re-hashes what one sort amortizes (measured 2.9x on this leg).
    // The attach joins carry the O(√m) arrays as payload, so they are
    // SHUFFLED HASH joins on the node-sized adjacency build side —
    // sort-merge would sort the wedge-byte stream twice for keys the
    // aggregate exchange already clustered.
    val adj = e.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      // referenced three times (both intersection sides + the
      // edge/wedge stats below) in one plan — checkpoint the node-sized
      // arrays eagerly instead of re-running the groupBy over e per
      // reference
      .localCheckpoint()
    val nTri = e.select(col("src"), col("dst"))
      .join(adj.select(col("src").as("a_u"), col("nbrs").as("nu"))
        .hint("shuffle_hash"), col("src") === col("a_u"))
      .join(adj.select(col("src").as("a_v"), col("nbrs").as("nv"))
        .hint("shuffle_hash"), col("dst") === col("a_v"))
      .select(graft.functions.SortedLongSetOverlap
        .sortedOverlap(col("nu"), col("nv")).cast("long").as("t"))
      // coalesce: a triangle-free graph (no oriented edge with any
      // out-neighbor match) must report 0, not NULL
      .agg(coalesce(sum(col("t")), lit(0L)).cast("long")
        .as("n_triangles"))
    // node count from the CHECKPOINTED oriented edges (src ∪ dst distinct
    // — every co edge survives orientation, so the node set is
    // identical to deg's); counting deg would re-run the co-occurrence
    // self-join, which is only checkpointed as part of e
    val nNodes = e.select(col("src").as("n"))
      .unionAll(e.select(col("dst").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    // edge + wedge counts in ONE pass over the checkpointed adjacency
    // arrays (out-degree = array size), replacing two separate
    // aggregate branches over e: n_edges = Σ|N⁺|, wedges = Σ d(d−1)/2.
    // coalesce on edges only — count(*) was never NULL, while the
    // wedge sum's NULL-on-empty matches the former groupBy form.
    val d = size(col("nbrs")).cast("long")
    val edgeStats = adj.agg(
      coalesce(sum(d), lit(0L)).as("n_edges"),
      sum(expr("CAST(size(nbrs) AS BIGINT) * (size(nbrs) - 1) div 2"))
        .as("n_wedges"))
    nNodes.crossJoin(edgeStats).crossJoin(nTri)
  }

  /** MARKOV TRANSITION MATRIX over per-user event sequences (q174):
    * each user's events ordered by (ts, event_id), lag gives the
    * previous event type, and the (prev → next) counts normalize to
    * an empirical first-order transition matrix — the session-model
    * input for behavioral simulation / anomaly scoring. All counts
    * are exact BIGINTs; the probability is ONE IEEE division of two
    * exact integers (float-discipline rule: ratios divide once at
    * the end, never accumulate). Scale: one shuffle to co-locate
    * each user's sequence for the lag window (users are independent
    * ⇒ perfectly parallel), then the transition pairs collapse
    * map-side to ≤ |types|² rows. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = trans.groupBy(col("prev_type"))
      .agg(sum(col("n_transitions")).as("n_from"))
    trans.join(totals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** STREAM-STREAM INTERVAL JOIN under the DuckDB oracle (q172):
    * click→view attribution — every view by the same user within 24 h
    * of a click — executed as a REAL stream-stream inner join
    * ([[graft.streaming.Streaming.intervalJoin]]): two file-source
    * streams (the click stream and the view stream), watermarks on
    * both event-time columns, and the time-range bound inside the
    * join condition so Spark's symmetric hash join can size its state
    * buffers. Inner joins emit each matched pair exactly once as soon
    * as both rows arrive, so under `Trigger.AvailableNow` the emitted
    * multiset provably equals the batch join — the property the hash
    * check pins cross-engine (a row buffered too short, a watermark
    * mis-applied, a duplicate emission all hash-mismatch). The lag is
    * an exact integer-microsecond division. At 100 TB this is the
    * unbounded form: state holds only the 24 h range horizon per
    * side, evicted as the watermarks advance. */
  def streamStreamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-join").toString
    ev.write.mode("overwrite").parquet(srcDir)
    def side(t: String): DataFrame =
      spark.readStream.schema(ev.schema).parquet(srcDir)
        .filter(col("event_type") === t)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val views = side("view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("view_ts"))
    val joined = graft.streaming.Streaming.intervalJoin(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "q172_stream_join"
    spark.catalog.dropTempView(mem)
    // state partitions sized to the source (guide §2): a stream-
    // stream join keeps FOUR stores per partition, each committing a
    // checkpoint delta per batch — measured 6.9s → 2.8s at sf0.1
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      joined.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("user_id"), col("click_id"), col("view_id"),
        expr("(unix_micros(view_ts) - unix_micros(click_ts)) div 60000000")
          .as("lag_min"))
      .orderBy("click_id", "view_id")
  }

  /** STREAM-STREAM LEFT-SEMI INTERVAL JOIN under the oracle (q218;
    * `Streaming.intervalJoinLeftSemi`): "the clicks that converted",
    * each emitted AT MOST ONCE at its first qualifying view —
    * completing the streaming join family (inner q172, left-outer
    * q183, full-outer q202) with its simplest member: a semi row
    * needs no null-completion, so nothing waits for a watermark
    * horizon and under AvailableNow the emitted set equals the batch
    * EXISTS exactly, which the oracle replays. The gating shape
    * pipelines want when "≥1 match" is the question (conversion
    * gates, qualified-lead filters) — one output per qualifying row,
    * never one per match. State story as q172: O(24 h horizon) per
    * side; unmatched clicks age out silently. */
  def streamStreamSemiAttribution(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-semi").toString
    ev.write.mode("overwrite").parquet(srcDir)
    def side(t: String): DataFrame =
      spark.readStream.schema(ev.schema).parquet(srcDir)
        .filter(col("event_type") === t)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val views = side("view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("view_ts"))
    val joined = graft.streaming.Streaming.intervalJoinLeftSemi(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "q218_stream_semi"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      joined.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("user_id"), col("click_id"))
      .orderBy("click_id")
  }

  /** STREAMING CDF → INCREMENTAL VIEW MAINTENANCE, end to end
    * (q191): the loop q188's source exists for, actually closed — a
    * `foreachBatch` consumer folds every change-feed micro-batch
    * into a maintained per-status rollup via `IncrementalAgg.update`
    * (insert/delete rows are signed deltas), across three drains of
    * one checkpointed stream: base snapshot, an append, a DV delete.
    * The maintained aggregate must equal the direct aggregate of the
    * FINAL table state — the IVM invariant, hash-checked. Money sums
    * ride as exact integer cents (DECIMAL→LONG per row), so the
    * incremental fold order can't flake the hash. Scale: each batch
    * folds O(changed rows) against the status-sized rollup; the
    * table is never rescanned after the snapshot batch — this is
    * the materialized-view pattern for a 100 TB CDC tail. */
  def streamIvmRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-stream-ivm").toString
    val root = s"$base0/tbl"
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
    vt.write(orders.filter(col("o_orderkey") % 3 === 0).coalesce(1)) // v0
    var prior = vt.read().limit(0).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .localCheckpoint()
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(root)) {
      graft.streaming.Streaming.changeFeedSource(spark, root)
          .writeStream
          .option("checkpointLocation", s"$base0/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            prior = graft.incremental.IncrementalAgg.update(
              prior, batch, Seq("o_orderstatus"), Seq("cents"))
              .localCheckpoint()
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    drain() // snapshot batch
    vt.write(orders.filter(col("o_orderkey") % 3 === 1).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v1
    drain() // insert delta
    vt.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 1000, 2000).condition) // v2
    drain() // delete delta
    prior.orderBy("o_orderstatus")
  }

  /** STREAMING CDC APPLY, end to end (q211;
    * [[graft.streaming.Streaming.versionedApplyChangesBatch]]): the
    * composed loop q204's batch operator and q188's source exist for —
    * `changeFeedSource(feed) → foreachBatch { apply changes } →
    * downstream versioned SCD1 table`, exactly-once per micro-batch
    * via the q132 history markers. The CDC feed is itself a versioned
    * table taking three appended commits, drained one checkpointed
    * batch each: seq-1 upserts (keys ≡0 mod 3), seq-2 upserts (keys
    * ≡1 mod 3 new, ≡0 mod 15 updated, cents+7), then a batch mixing
    * seq-3 deletes of [500,1500] with LATE seq-0 upserts for every
    * ≡0-mod-3 key carrying a poisoned value (cents+999983) — which
    * must LOSE to the stored newer sequences: the maintained table
    * keeps `seq`, and each merge is a fold-to-latest over
    * (state ∪ batch), the cross-batch ordering guarantee the batch
    * operator alone cannot give. The oracle folds the ENTIRE feed
    * relationally (per-key max seq, surviving op ≠ delete), so a sink
    * that re-applies a batch, lets the late rows clobber, or loses
    * the delete hash-mismatches. Money rides as exact integer cents.
    * Scale: each batch is one window shuffle over (dimension-sized
    * state + batch); the feed streams from manifests, never rescanned. */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cdc-apply").toString
    val feedRoot = s"$base0/feed"
    val targetRoot = s"$base0/target"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val o = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 3000)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    def commit(df: DataFrame, mode: org.apache.spark.sql.SaveMode): Unit = {
      feedVt.write(df.coalesce(1), mode); ()
    }
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(feedRoot)) {
      graft.streaming.Streaming.changeFeedSource(spark, feedRoot)
          .writeStream
          .option("checkpointLocation", s"$base0/ckpt")
          .foreachBatch(graft.streaming.Streaming.versionedApplyChangesBatch(
            targetRoot, "cdc-apply-q211", Seq("o_orderkey"), "seq", "op"))
          .trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    commit(o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("cents"), lit(1L).as("seq"),
        lit("upsert").as("op")), org.apache.spark.sql.SaveMode.Overwrite)
    drain() // batch 0: initial upserts
    commit(o.filter(col("o_orderkey") % 3 === 1 ||
        col("o_orderkey") % 15 === 0)
      .select(col("o_orderkey"), (col("cents") + 7).as("cents"),
        lit(2L).as("seq"), lit("upsert").as("op")),
      org.apache.spark.sql.SaveMode.Append)
    drain() // batch 1: inserts + updates
    commit(o.filter(col("o_orderkey").between(500, 1500))
      .select(col("o_orderkey"), lit(0L).as("cents"), lit(3L).as("seq"),
        lit("delete").as("op"))
      .unionByName(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("cents") + 999983).as("cents"),
          lit(0L).as("seq"), lit("upsert").as("op"))),
      org.apache.spark.sql.SaveMode.Append)
    drain() // batch 2: deletes + late out-of-order rows (must lose)
    new graft.io.VersionedTable(spark, targetRoot).read()
      .select(col("o_orderkey"), col("cents"), col("seq"))
      .orderBy("o_orderkey")
  }

  /** STREAMING CDC APPLY ON A STRING KEY (q242): q211's composed loop
    * with the merge key a DOC-ID STRING — the key shape LLM-pipeline
    * dimension tables actually use. The sink's stats-pruned fold now
    * rides the manifest's short-ASCII string min/max (M12 →
    * [[graft.io.VersionedTable.scanMayMatch]]): each narrow
    * batch replaceWhere-rewrites only the files whose STRING key
    * range it may touch and re-references the rest byte-identically
    * (StreamingSpec pins the file-level contract) — before r15 a
    * string key silently fell back to a FULL table overwrite per
    * batch. Feed: even keys seed at seq 1; a narrow band updates at
    * seq 2 (odd keys in the band become inserts); a disjoint band
    * deletes at seq 2. The oracle folds the whole feed relationally
    * (per-key max seq, survivor op ≠ delete). */
  def streamCdcApplyStringKey(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cdc-strkey").toString
    val feedRoot = s"$base0/feed"
    val targetRoot = s"$base0/target"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val o = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 3000)
      .select(
        concat(lit("d"), lpad(col("o_orderkey").cast("string"), 7, "0"))
          .as("doc_id"),
        col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    def commit(df: DataFrame, mode: org.apache.spark.sql.SaveMode): Unit = {
      feedVt.write(df.coalesce(1), mode); ()
    }
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(feedRoot)) {
      graft.streaming.Streaming.changeFeedSource(spark, feedRoot)
          .writeStream
          .option("checkpointLocation", s"$base0/ckpt")
          .foreachBatch(graft.streaming.Streaming.versionedApplyChangesBatch(
            targetRoot, "cdc-apply-q242", Seq("doc_id"), "seq", "op"))
          .trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    commit(o.filter(col("k") % 2 === 0)
      .select(col("doc_id"), col("cents"), lit(1L).as("seq"),
        lit("upsert").as("op")), org.apache.spark.sql.SaveMode.Overwrite)
    drain() // batch 0: even keys seed the dimension
    commit(o.filter(col("k").between(500, 800))
      .select(col("doc_id"), (col("cents") + 7).as("cents"),
        lit(2L).as("seq"), lit("upsert").as("op"))
      .unionByName(o.filter(col("k").between(900, 1200))
        .select(col("doc_id"), lit(0L).as("cents"), lit(2L).as("seq"),
          lit("delete").as("op"))),
      org.apache.spark.sql.SaveMode.Append)
    drain() // batch 1: narrow-band updates/inserts + disjoint deletes
    new graft.io.VersionedTable(spark, targetRoot).read()
      .select(col("doc_id"), col("cents"), col("seq"))
      .orderBy("doc_id")
  }

  /** STREAMING CDC APPLY VIA THE DV FOLD (q248;
    * [[graft.streaming.Streaming.versionedApplyChangesBatchDv]] →
    * [[graft.io.VersionedTable.foldVectorized]]): q211's composed
    * loop with the per-batch WRITE dropped from O(touched files) to
    * O(batch ∪ affected rows) — each micro-batch masks ONLY the
    * stored rows whose keys it touches and appends the fold winners;
    * membership is an exact semi-join (stats only prune candidates),
    * so every key type is safe and the seed files are NEVER
    * rewritten (StreamingSpec pins fold-equivalence and the
    * zero-rewrite file contract). Feed: seq-1 seed (keys ≡0 mod 2),
    * a narrow seq-2 update band + a disjoint delete band, then a
    * LATE seq-1 batch that must lose to the stored seq-2 rows —
    * the cross-batch ordering the fold guarantees. The oracle folds
    * the whole feed relationally. */
  def streamCdcApplyDvFold(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cdc-dvfold").toString
    val feedRoot = s"$base0/feed"
    val targetRoot = s"$base0/target"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val o = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 3000)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    def commit(df: DataFrame, mode: org.apache.spark.sql.SaveMode): Unit = {
      feedVt.write(df.coalesce(1), mode); ()
    }
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(feedRoot)) {
      graft.streaming.Streaming.changeFeedSource(spark, feedRoot)
          .writeStream
          .option("checkpointLocation", s"$base0/ckpt")
          .foreachBatch(
            graft.streaming.Streaming.versionedApplyChangesBatchDv(
              targetRoot, "cdc-dvfold-q248", Seq("o_orderkey"), "seq", "op"))
          .trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    commit(o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("cents"), lit(1L).as("seq"),
        lit("upsert").as("op")), org.apache.spark.sql.SaveMode.Overwrite)
    drain() // batch 0: seed
    commit(o.filter(col("o_orderkey").between(400, 700))
      .select(col("o_orderkey"), (col("cents") + 11).as("cents"),
        lit(2L).as("seq"), lit("upsert").as("op"))
      .unionByName(o.filter(col("o_orderkey").between(800, 1100))
        .select(col("o_orderkey"), lit(0L).as("cents"), lit(2L).as("seq"),
          lit("delete").as("op"))),
      org.apache.spark.sql.SaveMode.Append)
    drain() // batch 1: narrow updates/inserts + disjoint deletes
    commit(o.filter(col("o_orderkey").between(500, 600))
      .select(col("o_orderkey"), (col("cents") + 999983).as("cents"),
        lit(1L).as("seq"), lit("upsert").as("op")),
      org.apache.spark.sql.SaveMode.Append)
    drain() // batch 2: LATE seq-1 rows — must lose to stored seq 2
    new graft.io.VersionedTable(spark, targetRoot).read()
      .select(col("o_orderkey"), col("cents"), col("seq"))
      .orderBy("o_orderkey")
  }

  /** DELETE-TOLERANT STREAMING (q245; Delta's `skipChangeCommits` /
    * `ignoreDeletes`,
    * [[graft.io.VersionedTable.streamBatch]] under a
    * [[graft.io.VersionedTable.ChangePolicy]]): per-commit
    * tolerance the all-or-nothing `ignoreChanges` cannot give. Leg A
    * streams a history `seed → append → UPDATE-rewrite → append` with
    * `skipChangeCommits`: the rewrite commit is invisible WHOLESALE
    * (its added files never stream — a leak shows the bumped cents
    * and hash-mismatches). Leg B streams `seed → DV delete → append`
    * with `ignoreDeletes`: the delete-only commit admits nothing and
    * the stream keeps going (before r15 it failed loudly), so the
    * sink still holds every seeded row — "new data only", Delta's
    * contract. Both sinks fold to a per-group census the oracle
    * restates from the slices. Classification is a driver-side
    * manifest walk; admitted files plan as-at-commit. */
  def streamDeleteTolerant(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft-skipcc").toString
    val o = load(spark, dir, "orders")
      .filter(col("o_orderkey") <= 6000)
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    def drain(root: String, sink: String, ckpt: String,
        skipChanges: Boolean, ignoreDel: Boolean): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(root)) {
      graft.streaming.Streaming.versionedSource(spark, root,
            skipChangeCommits = skipChanges, ignoreDeletes = ignoreDel)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(sink); ()
          }
          .trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    // Leg A: skipChangeCommits across an UPDATE rewrite
    val rootA = s"$base/a"; val sinkA = s"$base/sinkA"
    val vtA = new graft.io.VersionedTable(spark, rootA)
    vtA.write(o.filter(col("o_orderkey") % 3 === 0)) // v0
    drain(rootA, sinkA, s"$base/ckptA", skipChanges = true,
      ignoreDel = false)
    vtA.write(o.filter(col("o_orderkey") % 3 === 1),
      org.apache.spark.sql.SaveMode.Append) // v1: append
    vtA.updateBetween("o_orderkey", 0, 6000,
      Map("cents" -> (col("cents") + 999L))) // v2: rewrite — invisible
    vtA.write(o.filter(col("o_orderkey") % 3 === 2),
      org.apache.spark.sql.SaveMode.Append) // v3: append
    drain(rootA, sinkA, s"$base/ckptA", skipChanges = true,
      ignoreDel = false)
    // Leg B: ignoreDeletes across a DV-delete-only commit
    val rootB = s"$base/b"; val sinkB = s"$base/sinkB"
    val vtB = new graft.io.VersionedTable(spark, rootB)
    vtB.write(o.filter(col("o_orderkey") % 2 === 0)) // v0
    drain(rootB, sinkB, s"$base/ckptB", skipChanges = false,
      ignoreDel = true)
    vtB.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 1000, 2000).condition) // v1: delete-only
    vtB.write(o.filter(col("o_orderkey") % 2 === 1),
      org.apache.spark.sql.SaveMode.Append) // v2: append
    drain(rootB, sinkB, s"$base/ckptB", skipChanges = false,
      ignoreDel = true)
    def census(path: String, leg: String): DataFrame =
      spark.read.parquet(path)
        .groupBy((col("o_orderkey") % 10).as("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("leg", lit(leg))
    census(sinkA, "skip_changes").unionByName(census(sinkB, "ignore_deletes"))
      .select("leg", "grp", "n", "cents")
      .orderBy("leg", "grp")
  }

  /** STREAMING GOLD-TABLE MAINTENANCE (q230): the reference's gold
    * job in streaming form, closed end to end — `events stream →
    * watermarked 1-day windowed agg (update mode) → foreachBatch
    * PARTITION-SCOPED MERGE into a day-partitioned versioned gold
    * table`. Update mode emits only the (day, type) rows a batch
    * changed, and the merge restates exactly those keys from the
    * state-backed cumulative totals — so each commit rewrites the
    * touched DAY partitions and re-references every other day's files
    * untouched ([[graft.incremental.Upsert.mergeIntoVersionedTable]]
    * scoping: the partition column is a merge key). Replays are safe
    * WITHOUT markers: merging the same restated totals twice is
    * idempotent, the at-least-once + idempotent = exactly-once
    * argument. Money rides as per-term-rounded exact micros, so the
    * streaming accumulation order cannot perturb the sums and the
    * oracle is the plain daily census. Scale: per batch one window
    * shuffle over the delta + a merge that rewrites only the touched
    * days of the gold table — the 100 TB shape of "keep the daily
    * rollup current forever". */
  def streamGoldMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = java.nio.file.Files
      .createTempDirectory("graft-stream-gold").toString
    val feedRoot = s"$base/feed"
    val goldRoot = s"$base/gold"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val ev = load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("event_type"),
        round(col("value") * 1000000).cast("long").as("micro"))
      .localCheckpoint()
    feedVt.write(ev.filter(col("event_id") % 3 === 0).coalesce(1)) // v0
    feedVt.write(ev.filter(col("event_id") % 3 === 1).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v1
    feedVt.write(ev.filter(col("event_id") % 3 === 2).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v2
    val agg = graft.streaming.Streaming
      .versionedSource(spark, feedRoot)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("micro")).as("sum_micro"))
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(feedRoot)) {
      agg.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.select(
            date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("n_events"), col("sum_micro"))
          if (!rows.isEmpty) {
            graft.incremental.Upsert.mergeIntoVersionedTable(
              batch.sparkSession, rows, goldRoot,
              mergeKeys = Seq("day", "event_type"),
              partitionBy = Some(Seq("day")))
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    new graft.io.VersionedTable(spark, goldRoot).read()
      .select("day", "event_type", "n_events", "sum_micro")
      .orderBy("day", "event_type")
  }

  /** STREAMING MATERIALIZED VIEW (q256; Delta Live Tables'
    * incrementally-maintained aggregate, closed end to end:
    * `changeFeedSource → foreachBatch(versionedIvmAggBatch) →
    * summary table`): the base's CHANGE FEED streams through the
    * signed IVM fold — the snapshot-as-inserts first batch
    * initializes the EMPTY-seeded summary, the append's inserts and
    * the DV band delete's delete rows maintain it, all exactly-once
    * via per-batch history markers, and the BASE IS NEVER
    * RE-AGGREGATED. The oracle recomputes the final state from raw
    * orders: a missed batch, double-folded replay, or wrong signed
    * delta hash-mismatches. Scale: per batch one O(batch)+O(groups)
    * fold and a groups-sized summary rewrite; layout-only base
    * commits contribute no feed rows (the M13 CDF contract), so
    * OPTIMIZE churn costs the MV nothing. */
  def streamMvMaintain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files
      .createTempDirectory("graft-streammv").toString
    val baseRoot = s"$root/base"
    val mvRoot = s"$root/mv"
    val base = new graft.io.VersionedTable(spark, baseRoot)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
    val keys = Seq("o_orderstatus", "o_orderpriority")
    val sums = Seq("cents")
    base.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    base.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1
    base.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 1000, 1999).condition) // v2
    val mv = new graft.io.VersionedTable(spark, mvRoot)
    mv.write(IncrementalAgg.compute(base.read().limit(0), keys, sums))
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(baseRoot)) {
      graft.streaming.Streaming.changeFeedSource(spark, baseRoot)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(graft.streaming.Streaming.versionedIvmAggBatch(
          mvRoot, keys, sums, "q256mv"))
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    mv.read().select(col("o_orderstatus"), col("o_orderpriority"),
        col(IncrementalAgg.CountCol), col(IncrementalAgg.sumCol("cents")))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** STREAMING STAR-JOIN MATERIALIZED VIEW (q266; DLT's
    * streaming-table-joins-dim pattern, closed end to end: the FACT's
    * change feed → stream-static enrichment against the dim snapshot
    * → signed IVM fold into the dim-keyed summary —
    * `changeFeedSource(fact) → foreachBatch(versionedIvmStarBatch)`):
    * the snapshot-as-inserts first batch initializes the
    * EMPTY-seeded summary through the enriching fold, the append's
    * inserts and the DV band delete's signed deletes maintain it —
    * each event joining the dim AS OF ITS BATCH (the stream-static
    * contract; the dim here is static for exactly that reason) —
    * all exactly-once via per-batch history markers, and NEITHER the
    * fact NOR the join is ever re-aggregated. The oracle recomputes
    * the segment totals from the final fact state joined to the dim:
    * a missed batch, a double-folded replay, a wrong signed delete,
    * or an enrichment against the wrong dim rows all hash-mismatch.
    * Scale: per batch one broadcast enrichment (the dim is the small
    * star side) + one O(batch)+O(groups) fold + a groups-sized
    * summary rewrite; dim ATTRIBUTE churn belongs to the batch
    * REFRESH path (M55), not this sink. */
  def streamStarMvMaintain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.incremental.IncrementalAgg
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamstarmv").toString
    val factRoot = s"$root/fact"
    val dimRoot = s"$root/dim"
    val mvRoot = s"$root/mv"
    val fact = new graft.io.VersionedTable(spark, factRoot)
    val dim = new graft.io.VersionedTable(spark, dimRoot)
    val orders = load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      (col("o_totalprice").cast("decimal(18,4)") * 100)
        .cast("long").as("cents"))
    dim.write(load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    fact.write(orders.filter(col("o_orderkey") % 3 =!= 0)) // v0
    fact.write(orders.filter(col("o_orderkey") % 3 === 0),
      org.apache.spark.sql.SaveMode.Append) // v1
    fact.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 1000, 1999).condition) // v2
    val keys = Seq("c_mktsegment")
    val sums = Seq("cents")
    val mv = new graft.io.VersionedTable(spark, mvRoot)
    mv.write(IncrementalAgg.compute(
      fact.read().limit(0).join(dim.read().limit(0),
        col("o_custkey") === col("c_custkey")), keys, sums))
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(factRoot)) {
      graft.streaming.Streaming.changeFeedSource(spark, factRoot)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(graft.streaming.Streaming.versionedIvmStarBatch(
          mvRoot, Seq((dimRoot, Seq("o_custkey"), Seq("c_custkey"))),
          keys, sums, "q266mv"))
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    mv.read().select(col("c_mktsegment"),
        col(IncrementalAgg.CountCol), col(IncrementalAgg.sumCol("cents")))
      .orderBy("c_mktsegment")
  }

  /** STREAMING EXPECTATIONS with QUARANTINE (q233; the DLT
    * `expect_or_drop` + quarantine-table pattern): a streamed feed is
    * split per micro-batch by a data-quality predicate — passing rows
    * append to the serving table, violations append to a QUARANTINE
    * table carrying the failed expectation's name — both through the
    * exactly-once versioned sink (per-table replay markers), so a
    * replayed batch never double-routes either side. Quarantine
    * beats silent dropping (violations are INSPECTABLE — the triage
    * loop DQ teams actually run) and beats failing the pipeline (one
    * bad upstream row doesn't stall the stream). The oracle rebuilds
    * both sides from the same predicate, so a row routed to the
    * wrong side, dropped, or duplicated hash-mismatches. Scale: the
    * split is one narrow predicate pass per batch; each side's
    * append is one manifest commit. */
  def streamExpectations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft-expectations").toString
    val feedRoot = s"$base/feed"
    val validRoot = s"$base/valid"
    val quarRoot = s"$base/quarantine"
    val feedVt = new graft.io.VersionedTable(spark, feedRoot)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    feedVt.write(o.filter(col("o_orderkey") % 2 === 0).coalesce(1)) // v0
    feedVt.write(o.filter(col("o_orderkey") % 2 =!= 0).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v1
    val validSink = graft.streaming.Streaming
      .versionedAppendBatch(validRoot, "exp-valid")
    val quarSink = graft.streaming.Streaming
      .versionedAppendBatch(quarRoot, "exp-quarantine")
    val expectation = col("cents") > 0L && col("cents") < 30000000L
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(feedRoot)) {
      graft.streaming.Streaming.versionedSource(spark, feedRoot)
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          validSink(batch.filter(expectation), id)
          quarSink(batch.filter(!expectation)
            .withColumn("failed_expectation", lit("cents_in_range")), id)
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    def census(root: String, side: String): DataFrame =
      new graft.io.VersionedTable(spark, root).read()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
        .withColumn("side", lit(side))
        .select("side", "o_orderstatus", "n_rows", "cents")
    // a violation-free feed never creates the quarantine table — an
    // empty census is the right answer, not an error
    val quar =
      if (new graft.io.VersionedTable(spark, quarRoot).exists)
        census(quarRoot, "quarantine")
      else census(validRoot, "quarantine").limit(0)
    census(validRoot, "valid").unionByName(quar)
      .orderBy("side", "o_orderstatus")
  }

  /** BOUNDED STREAMING REPLAY (q220; Delta CDF
    * `endingVersion`/`endingTimestamp`,
    * [[graft.streaming.Streaming.versionedSource]]): a versioned
    * table takes three commits (thirds of orders by key mod 3), and a
    * stream subscribes with `endingVersion = 1` — under AvailableNow
    * it delivers the SNAPSHOT AS OF THE BOUND (v0 ∪ v1) and
    * terminates, never planning v2. This is the "replay a closed
    * window through the streaming pipeline" shape (backfills, audits,
    * incident re-processing): the same pipeline code runs over a
    * frozen range and STOPS, instead of tailing forever. The oracle
    * aggregates exactly the two admitted thirds, so a source that
    * snapshots at CURRENT (leaking v2), drains past the bound, or
    * drops the bound on restart hash-mismatches. Money rides as exact
    * integer cents. Scale: the bound caps `latestOffset` — planning
    * stays O(manifests in the window); nothing past the bound is
    * listed, read, or buffered. */
  def boundedReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files
      .createTempDirectory("graft-bounded-replay").toString
    val root = s"$base/tbl"
    val vt = new graft.io.VersionedTable(spark, root)
    val o = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("cents"))
      .localCheckpoint()
    vt.write(o.filter(col("o_orderkey") % 3 === 0).coalesce(1)) // v0
    vt.write(o.filter(col("o_orderkey") % 3 === 1).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v1
    vt.write(o.filter(col("o_orderkey") % 3 === 2).coalesce(1),
      org.apache.spark.sql.SaveMode.Append) // v2 — beyond the bound
    val out = s"$base/out"
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(root)) {
      graft.streaming.Streaming
        .versionedSource(spark, root, endingVersion = Some(1L))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      .orderBy("o_orderstatus")
  }

  /** K-ANONYMITY CENSUS under the oracle (q194;
    * [[graft.dq.DataQuality.kAnonymityCensus]]): the privacy gate on
    * a quasi-identifier tuple — here (event type, UTC day, a
    * 100-bucket user cohort), k=5. The census answers "how much of
    * this table re-identifies its members": total groups, groups
    * under k, rows inside them, smallest group — the
    * suppress/generalize/release decision input. Exact integer
    * counts only; one partial-agg shuffle bounded by the quasi-value
    * cross product. */
  def kAnonymityEvents(spark: SparkSession, dir: String): DataFrame =
    new graft.dq.DataQualityFramework(spark).kAnonymityCensus(
      load(spark, dir, "events").select(
        col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (col("user_id") % 100).as("cohort")),
      Seq("event_type", "day", "cohort"), k = 5L)

  /** L-DIVERSITY CENSUS (q223;
    * [[graft.dq.DataQualityFramework.lDiversityCensus]]): the privacy
    * gate k-anonymity (q194) cannot close — a (day, cohort) group is
    * large enough to hide IN yet still discloses WHAT its members did
    * if every row shares one event type (the homogeneity attack).
    * Here: quasi = (UTC day, 100-bucket user cohort), sensitive =
    * event_type, l = 3 — the census reports how many groups expose a
    * near-uniform behavior profile and the worst diversity observed.
    * Exact integer counts; one partial-agg shuffle bounded by the
    * quasi×sensitive cross product, never row count. */
  def lDiversityEvents(spark: SparkSession, dir: String): DataFrame =
    new graft.dq.DataQualityFramework(spark).lDiversityCensus(
      load(spark, dir, "events").select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        (col("user_id") % 100).as("cohort"),
        col("event_type")),
      Seq("day", "cohort"), sensitive = "event_type", l = 3L)

  /** EXACT PERCENTILE_DISC per group (q190): per-source token-count
    * p50/p90 as EXACT ELEMENTS of the sorted distribution (rank
    * `ceil(p·n)` via pure integer arithmetic — no float rank, no
    * interpolation), the corpus-length profile a mixing policy reads.
    * PERCENTILE_DISC semantics make the picked VALUE deterministic
    * even under ties, so the hash check is stable where interpolated
    * percentiles would flake. Scale: one window shuffle on source,
    * then a per-source collapse; the sorted distribution is never
    * collected. */
  def percentileDiscTokens(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.queries.Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val byN = Window.partitionBy("source").orderBy("n_tokens")
    val part = Window.partitionBy("source")
    c.withColumn("rn", row_number().over(byN))
      .withColumn("nd", count(lit(1)).over(part))
      .groupBy("source")
      .agg(max(col("nd")).as("n_docs"),
        max(when(col("rn") === expr("(nd + 1) div 2"),
          col("n_tokens"))).as("p50_tokens"),
        max(when(col("rn") === expr("(9 * nd + 9) div 10"),
          col("n_tokens"))).as("p90_tokens"))
      .orderBy("source")
  }

  /** STREAM-STREAM LEFT-OUTER INTERVAL JOIN under the oracle (q183):
    * q172's attribution join in the shape real pipelines need —
    * every click accounted for: matched pairs emit like the inner
    * join, and a click with NO view inside its 24 h window emits
    * once with null view columns, but only after the event-time
    * watermark provably passes its join horizon. Under
    * `Trigger.AvailableNow` the final watermark is
    * min(max click_ts, max view_ts) (both delays 0), so the emitted
    * set is deterministic and the oracle replays it exactly: batch
    * left join, unmatched rows kept only where
    * `click_ts + 24 h < watermark` — at sf0.01 that splits 1260
    * emitted null-rows from 46 horizon-suppressed ones, so a join
    * that emits unmatched rows too early (or never) hash-mismatches.
    * At 100 TB the state story is [[q172]]'s: O(24 h horizon) per
    * side, left state dropped at the same watermark crossing that
    * emits its null row. */
  def streamStreamOuterAttribution(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-outer").toString
    ev.write.mode("overwrite").parquet(srcDir)
    def side(t: String): DataFrame =
      spark.readStream.schema(ev.schema).parquet(srcDir)
        .filter(col("event_type") === t)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val views = side("view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("view_ts"))
    val joined = graft.streaming.Streaming.intervalJoinLeftOuter(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "q183_stream_outer"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      joined.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(col("user_id"), col("click_id"), col("view_id"),
        expr("(unix_micros(view_ts) - unix_micros(click_ts)) div 60000000")
          .as("lag_min"))
      .orderBy("click_id", "view_id")
  }

  /** STREAM-STREAM FULL-OUTER interval join (q202;
    * `Streaming.intervalJoinFullOuter`): the q183 attribution with
    * BOTH ledgers complete — unmatched clicks emit null view columns
    * (as q183), and unmatched VIEWS now also emit (null click
    * columns) once the watermark passes the view's own event time,
    * which is its join horizon under `click_ts ≤ view_ts ≤ click_ts +
    * 24 h`. The oracle replays all three legs with their distinct
    * emission rules from the final watermark (min of both sides' max
    * event times), so emitting a view too early, never emitting one,
    * or mixing up the two horizons all hash-mismatch. Scale identical
    * to q172/q183: state per side O(watermark + 24 h), both sides'
    * state dropped at the crossing that emits their null row. */
  def streamStreamFullOuterAttribution(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = load(spark, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-fouter").toString
    ev.write.mode("overwrite").parquet(srcDir)
    def side(t: String): DataFrame =
      spark.readStream.schema(ev.schema).parquet(srcDir)
        .filter(col("event_type") === t)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val views = side("view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("view_ts"))
    val joined = graft.streaming.Streaming.intervalJoinFullOuter(
      clicks, "click_ts", "0 seconds", views, "view_ts", "0 seconds",
      col("user_id") === col("v_user_id") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
    val mem = "q202_stream_full_outer"
    spark.catalog.dropTempView(mem)
    val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(srcDir)) {
      joined.writeStream.format("memory").queryName(mem)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    spark.table(mem)
      .select(coalesce(col("user_id"), col("v_user_id")).as("user_id"),
        col("click_id"), col("view_id"),
        expr("(unix_micros(view_ts) - unix_micros(click_ts)) div 60000000")
          .as("lag_min"))
      .orderBy("click_id", "view_id")
  }

  /** STREAMING CHANGE FEED under the oracle (q188;
    * `Streaming.changeFeedSource` — Delta's
    * `readStream.option("readChangeFeed", true)`): a versioned table
    * streamed as `_change_type`-tagged rows across two AvailableNow
    * drains sharing one checkpoint. Drain 1 consumes the base commit
    * (snapshot as inserts); then an append and a DV delete land, and
    * drain 2 resumes FROM THE CHECKPOINT to stream exactly the new
    * rows: the appended rows as inserts and the newly masked rows as
    * deletes — read back from the files + mask delta, never a table
    * diff. The oracle replays the ledger relationally (every row
    * inserted once; the deleted range also emits a delete), so a
    * feed that re-streams the snapshot, misses the delta, or drops
    * the delete rows hash-mismatches. Scale: each batch plans
    * O(changed files + masked rows) from manifests — the table is
    * never rescanned after the initial load. */
  def changeFeedStreamRead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cdf-q").toString
    val root = s"$base0/tbl"
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") <= 2000)
    vt.write(orders.filter(col("o_orderkey") % 2 === 0)) // v0
    val out = s"$base0/out"
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(root)) {
      graft.streaming.Streaming.changeFeedSource(spark, root)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", s"$base0/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    drain() // snapshot as inserts
    vt.write(orders.filter(col("o_orderkey") % 2 === 1),
      org.apache.spark.sql.SaveMode.Append) // v1
    drain() // resumes from checkpoint: v1's rows as inserts
    vt.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 100, 300).condition) // v2
    drain() // the newly masked rows as deletes (a same-batch
    // append+delete would instead COLLAPSE the overlap — compacted
    // CDC semantics; per-commit drains keep the full ledger)
    spark.read.parquet(out)
      .select(col("o_orderkey"), col("o_totalprice"), col("_change_type"))
      .orderBy("o_orderkey", "_change_type")
  }

  /** TIMESTAMP-SUBSCRIBED CHANGE FEED, streaming + batch (q210;
    * `startingTimestamp` on [[graft.streaming.Streaming.changeFeedSource]]
    * and [[graft.io.VersionedTable.changesBetweenTimestamps]] — Delta's
    * timestamp forms of the same options): operators think in
    * wall-clock instants, so both APIs resolve instants through the
    * commit history — the start rounds FORWARD to the first commit at
    * or after it, the end BACK to the last at or before. The scenario
    * is q188's ledger with the snapshot SKIPPED: v0 (evens) must not
    * replay because the subscription starts at v1's own commit
    * timestamp; two per-commit drains of one checkpointed stream then
    * deliver v1's odds as inserts and v2's DV-masked range as deletes
    * (`channel = 'stream'`). The SAME window read as one batch
    * timestamp-range CDF (`channel = 'batch'`) exercises the COMPACTED
    * semantics instead — one snapshot diff v0→v2, so odds masked
    * inside the delete range never surface and the deletes are the
    * evens the diff lost — and the oracle replays both ledgers, so a
    * feed that re-streams the snapshot, resolves an instant to the
    * wrong side, or compacts when it should not (or vice versa)
    * hash-mismatches. Scale: resolution is two bounded history walks;
    * the stream plans O(changed files + masked rows) per batch from
    * manifests; the batch diff pays the documented row-level fallback
    * only because the window crosses a DV commit. */
  def changeFeedFromTimestamp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cdf-ts").toString
    val root = s"$base0/tbl"
    val vt = new graft.io.VersionedTable(spark, root)
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") <= 2000)
    vt.write(orders.filter(col("o_orderkey") % 2 === 0)) // v0 snapshot
    vt.write(orders.filter(col("o_orderkey") % 2 === 1),
      org.apache.spark.sql.SaveMode.Append) // v1
    val ts1 = vt.history(limit = Int.MaxValue)
      .find(_.version == 1L).get.timestamp
    val out = s"$base0/out"
    def drain(): Unit = {
      val q = graft.streaming.Streaming.withStatePartitions(spark,
      graft.streaming.Streaming.dirBytes(root)) {
      graft.streaming.Streaming.changeFeedSource(spark, root,
            startingTimestamp = Some(ts1))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", s"$base0/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
      q.awaitTermination()
    }
    drain() // subscribed at t(v1): v1's odds as inserts, NO snapshot
    vt.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("o_orderkey", 100, 300).condition) // v2
    drain() // resumes from checkpoint: the masked rows as deletes
    val ts2 = vt.history(limit = Int.MaxValue)
      .find(_.version == 2L).get.timestamp
    val streamed = spark.read.parquet(out)
      .select(lit("stream").as("channel"), col("o_orderkey"),
        col("o_totalprice"), col("_change_type"))
    val batch = vt.changesBetweenTimestamps(ts1, ts2)
      .select(lit("batch").as("channel"), col("o_orderkey"),
        col("o_totalprice"), col("_change_type"))
    streamed.unionByName(batch)
      .orderBy("channel", "o_orderkey", "_change_type")
  }

  /** SINGLE-SOURCE BFS over the part co-occurrence graph (q181;
    * `graph.Bfs`): exact shortest hop counts from the smallest part
    * node, capped at 3 hops — the reachability/radius primitive
    * (recommendation neighborhoods, contamination blast radius)
    * completing the graph family: components (q36), PageRank (q157),
    * triangles (q175), now distances. The oracle is a recursive CTE
    * enumerating (node, dist ≤ 3) pairs and taking min — DuckDB's
    * working-table recursion against Spark's relational frontier
    * expansion, exact integers on both sides. The one driver-side
    * scalar is the source pick (`min(src)`, one row — the documented
    * bounded-collect convention). Scale: O(rounds) edge scans, each
    * one equi-join + distinct + node-sized anti-join; frontiers are
    * checkpointed so AQE sizes them for broadcast. */
  def bfsHopsParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
    val source = edges.agg(min(col("src"))).head().getLong(0)
    graft.graph.Bfs.shortestHops(edges, source, maxHops = 3)
      .orderBy("node")
  }

  /** WEIGHTED single-source shortest paths (q195; `graph.Sssp`): the
    * cost-aware sibling of q181 — same part co-occurrence graph, each
    * edge carrying a deterministic integer weight, relaxed for 3
    * frontier Bellman-Ford rounds. After k rounds the tentative
    * distances are EXACTLY the minimum path weight over paths of ≤ k
    * edges (the Bellman-Ford invariant), which the oracle reproduces
    * as a recursive CTE with a hop counter — min over enumerated
    * ≤3-hop path weights. Weights are derived arithmetically from the
    * endpoint keys (`(src+dst) % 9 + 1`) so both engines compute the
    * identical exact-integer graph without a side table. Same
    * bounded-collect convention as q181 for the source pick. Scale:
    * each round is one edge-list join against a node-sized frontier +
    * one map-side-combined `groupBy(dst).min` — O(rounds) edge scans,
    * frontiers checkpointed, no driver data path. */
  def ssspParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
      .withColumn("w", (col("src") + col("dst")) % 9 + 1)
    val source = edges.agg(min(col("src"))).head().getLong(0)
    graft.graph.Sssp.shortestPaths(edges, source, maxRounds = 3)
      .orderBy("node")
  }

  /** K-CORE PEELING over the part co-occurrence graph (q207;
    * `graph.KCore`): three synchronized peel rounds at k=90 strip
    * the periphery and leave the densely co-purchased core with each
    * survivor's in-core degree — the cohesion primitive (spam-farm
    * cores, community kernels, link-quality weighting) completing
    * the graph family next to components/PageRank/triangles/BFS/
    * SSSP. Fixed rounds make the operator well-defined and let the
    * oracle replay it as three chained CTE peels — the q195
    * bounded-rounds trick. Exact integer degrees; same O(rounds)
    * edge-scan shape as BFS with node-sized semi-joins. */
  def kcoreParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
    graft.graph.KCore.peel(edges, k = 90, rounds = 3)
      .orderBy("node")
  }

  /** LABEL-PROPAGATION COMMUNITIES over the part co-occurrence graph
    * (q212; `graph.LabelProp`): two synchronized rounds of "adopt the
    * most frequent neighbor label, ties to the smallest" — the cheap
    * community detector a training pipeline runs over a domain/link
    * graph before assigning per-community mixing or quality policies;
    * with components (q36), PageRank (q157), triangles (q175), BFS
    * (q181), SSSP (q195), k-core (q207) and assortativity (q209) this
    * closes the standard graph-primitive set. Synchronous rounds with
    * an exact integer argmax (max vote count, min label) make the
    * result partitioning-invariant — classic asynchronous LPA is
    * visit-order-dependent and unhashable — and the fixed round count
    * (the q195/q207 trick) lets the oracle replay both rounds as
    * chained count+argmax CTEs. Output: every node's community after
    * round 2. Scale: O(rounds) edge scans — per round one edge⋈label
    * equi-join, one map-side-combined vote count, one per-node argmax
    * window bounded by degree; label frames localCheckpointed flat. */
  def labelPropParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
    graft.graph.LabelProp.run(edges, rounds = 2)
      .orderBy("node")
  }

  /** MODULARITY of the label-propagation partition (q215): the one
    * scalar that says whether q212's communities are real structure
    * or noise — Newman's Q over the symmetric co-occurrence graph,
    * `Q = e_in/m − Σ_c (d_c/m)²` (m = directed edge count, e_in =
    * within-community edges, d_c = community degree mass), the
    * accept/reject gate before a mixing policy trusts a clustering.
    * Float discipline is q209's closed-form rule: e_in, m, and every
    * d_c are exact BIGINTs (bounds: m ≤ ~2³¹ keeps e_in·m and Σd_c² ≤
    * m² < 2⁶³), and Q is ONE expression over them — two long→double
    * casts and a divide — so the double matches bitwise. Scale: the
    * community frame is node-sized and BROADCAST into the edge scan
    * (the [[graft.graph.PageRank.run]] contract — the returned label
    * frame is checkpointed, so no exchange under it gives AQE a
    * runtime size and the unhinted join sort-merges the edge list);
    * degree mass is two map-side-combined folds; everything
    * collapses to a single row. */
  def labelPropModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
      .localCheckpoint() // reused: LPA rounds + e_in + degree mass
    val com = graft.graph.LabelProp.run(edges, rounds = 2)
    import graft.graph.GraphBroadcast.{bc => gbc}
    val eIn = edges
      .join(gbc(com.select(col("node").as("src"),
        col("community").as("ca")), param = true), "src")
      .join(gbc(com.select(col("node").as("dst"),
        col("community").as("cb")), param = true), "dst")
      .agg(count(lit(1)).as("m2"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e_in"))
    val dc2 = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .join(gbc(com.select(col("node").as("src"), col("community")),
        param = true), "src")
      .groupBy("community").agg(sum(col("d")).as("dsum"))
      .agg(sum(col("dsum") * col("dsum")).as("sum_dc2"))
    eIn.crossJoin(dc2).select(col("m2"), col("e_in"), col("sum_dc2"),
      ((col("e_in") * col("m2") - col("sum_dc2")).cast("double") /
        (col("m2") * col("m2")).cast("double")).as("modularity"))
  }

  /** DEGREE ASSORTATIVITY of the part co-occurrence graph (q209):
    * the Pearson correlation of endpoint degrees over all directed
    * edges — one scalar that says whether hubs attach to hubs
    * (assortative, r > 0) or to the periphery (disassortative,
    * r < 0; typical for co-purchase and web graphs), the global
    * structure statistic next to the family's node-level outputs.
    * Float discipline is q160's closed-form rule: every moment (m,
    * Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT (bounds checked:
    * degrees ≤ ~2²⁰, edges ≤ ~2³², every product < 2⁶³), and r is ONE
    * identical expression tree over them — two long→double casts, a
    * multiply, a correctly-rounded sqrt, a divide — so the double
    * matches bitwise. Scale: the degree table is node-sized — LEFT TO
    * AQE to broadcast when it fits, off the degree shuffle's runtime
    * stats (a forced hint would OOM the driver on a 10⁹-node graph;
    * unhinted, the planner falls back to a shuffle join exactly when
    * it must); the edge list is checkpointed once for its three
    * consumers; the moments collapse map-side to a single row. */
  def assortativityParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
      .localCheckpoint() // referenced 3x (degree + both join sides):
    // checkpoint the EDGE list once instead of re-running the
    // self-join per branch
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val xy = edges
      .join(deg.select(col("src"), col("d").as("x")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("y")), "dst")
    xy.agg(
        count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("m"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        col("syy"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("assortativity"))
  }

  /** PAGERANK over the part co-occurrence graph (q157;
    * `graph.PageRank`): parts appearing in the same order link both
    * ways (the co-purchase graph), then 3 exact integer-arithmetic
    * PageRank rounds rank "central" parts — the quality-propagation
    * shape a training pipeline runs over a domain link graph. The
    * co-occurrence self-join is bounded by order size (≤ 7 lineitems
    * in TPC-H shapes, so ≤ 42 pairs per order); symmetric edges mean
    * no dangling nodes, satisfying [[graft.graph.PageRank.run]]'s
    * contract. Integer micro-unit ranks hash bit-identically against
    * the DuckDB oracle's unrolled iterations — the float formulation
    * would be shuffle-order-dependent and unhashable. Output: top 20
    * by rank desc, part asc. */
  def pagerankParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
    graft.graph.PageRank.run(edges, iterations = 3)
      .orderBy(col("rank").desc, col("node").asc)
      .limit(20)
      .select(col("node").as("part"), col("rank"))
  }

  /** MULTI-TOUCH ATTRIBUTION (q239): each purchase splits its credit
    * EQUALLY across the user's clicks in the preceding 24 h (linear
    * attribution — the model marketing analytics defaults to when
    * last-touch overstates the final click), rolled up by the click's
    * hour of day: which hours' clicks actually drive purchases.
    * Credit is the INTEGER micro-share `1000000 div n` — fractional
    * credits as floats would sum order-dependently across thousands
    * of purchases, so the share truncates to an exact long once per
    * purchase and every downstream sum is exact (the deliberate
    * penny-rounding trade, documented). Shape: one user-keyed range
    * join (clicks buffered per user, the q34/q146 shape), one
    * purchase-sized window for the share, one 24-bucket rollup. */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts").as("cts"))
    val j = p.join(c, Seq("user_id"))
      .filter(col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 24 HOURS"))
    val w = j.withColumn("n", count(lit(1)).over(Window.partitionBy("pid")))
      .withColumn("credit", expr("1000000L div n"))
    w.groupBy(hour(col("cts")).cast("long").as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("credit")).as("credit_micro"))
      .orderBy("click_hour")
  }

  /** PERSONALIZED PAGERANK (q237; [[graft.graph.PageRank.personalized]]):
    * random-walk-with-restart proximity TO A SEED SET — here "parts
    * co-purchased near Brand#11's catalog", the related-item /
    * trusted-set-expansion primitive global PageRank can't express
    * (its score is seed-blind popularity). Teleportation returns only
    * to the seeds, so rank decays with link distance from them and
    * unreachable nodes honestly score 0. Two exact-integer rounds
    * (the q157 micro-unit discipline plus a seed-flag base term), so
    * the oracle replays them as chained CTEs and the top-20 hashes
    * exactly. Scale: q157's per-round cost + one node-sized seed-flag
    * broadcast. */
  def pprBrandParts(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges(spark, dir)
    val seeds = load(spark, dir, "part")
      .filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey").as("node"))
    graft.graph.PageRank.personalized(edges, seeds, iterations = 2)
      .orderBy(col("rank").desc, col("node").asc)
      .limit(20)
      .select(col("node").as("part"), col("rank"))
  }

  /** HITS HUBS AND AUTHORITIES (q226; [[graft.graph.Hits]]): two
    * mutual-recursion rounds over the bipartite buyer→part purchase
    * graph — hub customers are those buying authoritative parts,
    * authoritative parts those bought by hub customers, the TWO-ROLE
    * scoring PageRank's single score conflates (and the right scorer
    * for bipartite graphs, where PageRank needs artificial back
    * edges). All-integer micro-unit arithmetic with max
    * normalization (one integral div per half-round), so the oracle
    * replays both rounds as chained CTEs and the top-10 of each side
    * hashes exactly. Scale: per round two edge-scan joins against
    * node-sized score frames + map-side-combined sums; the top-k is
    * TakeOrdered, never a full sort. */
  def hitsBuyersParts(spark: SparkSession, dir: String): DataFrame = {
    val e = load(spark, dir, "orders")
      .join(load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()
    val (h, a) = graft.graph.Hits.run(e, rounds = 2)
    def top(df: DataFrame, c: String, side: String): DataFrame =
      df.orderBy(col(c).desc, col("node").asc).limit(10)
        .select(lit(side).as("side"), col("node"), col(c).as("score"))
    top(h, "hub", "hub").unionByName(top(a, "auth", "auth"))
      .orderBy("side", "node")
  }

  /** CORPUS DIFF via multiset set-operations (q164): two crawl
    * snapshots compared by content fingerprint — `exceptAll` both
    * ways for added/removed, `intersectAll` for carried-over — then
    * rolled into the per-source churn report a crawl pipeline
    * publishes between refreshes. The "new" snapshot drops every 7th
    * doc, the "old" every 10th, and every 13th doc's text changed
    * (fingerprint rewritten), so all three legs are non-trivial.
    * Scale shape: set ops hash-shuffle on the full row (id, source,
    * fp) — fingerprints keep the shuffle rows narrow no matter how
    * big the documents are; counts collapse map-side. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents").select(col("doc_id"),
      col("source"), md5(col("text").cast("binary")).as("fp"))
    val old = d.filter(col("doc_id") % 10 =!= 0)
    val neu = d.filter(col("doc_id") % 7 =!= 0)
      .withColumn("fp", when(col("doc_id") % 13 === 0,
        md5(concat(col("fp"), lit("~v2")).cast("binary")))
        .otherwise(col("fp")))
    def cnt(df: DataFrame, name: String): DataFrame =
      df.groupBy("source").agg(count(lit(1)).as(name))
    d.select("source").distinct()
      .join(cnt(neu.exceptAll(old), "n_added"), Seq("source"), "left")
      .join(cnt(old.exceptAll(neu), "n_removed"), Seq("source"), "left")
      .join(cnt(neu.intersectAll(old), "n_common"), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy("source")
  }

  /** KMV SKETCH SET ALGEBRA (q165): distinct-count estimates for two
    * user sets AND their union/intersection from mergeable sketches —
    * the cross-partition cardinality algebra (how many users do
    * clicks and views share?) that exact countDistinct can't answer
    * compositionally. KMV's defining property: the k smallest hashes
    * of A ∪ B are computable from the two k-smallest sketches alone,
    * so the union estimate needs no re-scan; the intersection falls
    * out by inclusion-exclusion. Portable md5-fraction hashing means
    * the DuckDB oracle reproduces every estimate bit-for-bit (same
    * IEEE division tree). Sets smaller than k degrade to exact
    * counts (the sketch holds the whole set). Exact counterparts are
    * emitted alongside. Scale: each sketch is `orderBy().limit(k)` —
    * TakeOrdered partial top-k per partition, k rows to the driver
    * regardless of set size. */
  def kmvSetOps(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val ev = load(spark, dir, "events")
    val frac =
      (conv(substring(md5(col("user_id").cast("string").cast("binary")),
        1, 13), 16, 10).cast("double") / pow(lit(16.0), lit(13.0)))
        .as("frac")
    def fracs(t: String): DataFrame =
      ev.filter(col("event_type") === t).select(frac).distinct()
    def est(d: DataFrame, name: String): DataFrame =
      d.orderBy("frac").limit(k)
        .agg(count(lit(1)).as("_c"), max(col("frac")).as("_kth"))
        .select(when(col("_c") < k, col("_c").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("_kth")).as(name))
    def exact(t: String): DataFrame =
      ev.filter(col("event_type") === t)
    val a = fracs("click")
    val b = fracs("view")
    est(a, "est_click").crossJoin(est(b, "est_view"))
      .crossJoin(est(a.unionByName(b).distinct(), "est_union"))
      .crossJoin(exact("click").unionByName(exact("view"))
        .agg(countDistinct(col("user_id")).as("exact_union")))
      .select(col("est_click"), col("est_view"), col("est_union"),
        (col("est_click") + col("est_view") - col("est_union"))
          .as("est_intersect"),
        col("exact_union"))
  }

  /** TYPED `Aggregator` UDAF under the oracle (q167): per-event-type
    * value stats through a custom partial-merge aggregator
    * (`TypedAggregators.microStats`) over a `KeyValueGroupedDataset`
    * — the typed two-phase aggregation extension surface. Values are
    * pre-scaled to LONG micro-units, so reduce/merge are pure
    * integer arithmetic: order-independent, hence hash-comparable to
    * DuckDB recomputing the same integer summary (a double-summing
    * UDAF could never be). Plan shape: map-side reduce into O(groups)
    * buffers, ONE exchange of buffer rows, reducer merge — identical
    * cost to a built-in aggregate. */
  def typedMicroStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = graft.functions.TypedAggregators.microStats
    load(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 1000000).cast("long").as("micros"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("stats"))
      .select(col("key").as("event_type"),
        col("stats.n").as("n_events"),
        col("stats.sum").as("sum_micros"),
        col("stats.min").as("min_micros"),
        col("stats.max").as("max_micros"))
      .orderBy("event_type")
  }

  /** NATIVE `session_window` (q169): Spark's built-in gap-session
    * operator — the DECLARATIVE counterpart to q158's
    * flatMapGroupsWithState formulation — run in batch mode and
    * hash-compared to the gaps-and-islands SQL. Pins the built-in's
    * exact semantics (a session extends while consecutive events are
    * STRICTLY LESS than `gap` apart — `session_window`'s boundary is
    * exclusive where q47's `> gap` flag is inclusive, hence the `>=`
    * in the oracle's flag) at millisecond grain. One shuffle on
    * (user, session) like any grouped aggregate. */
  def nativeSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "events")
      .select(col("user_id"),
        date_trunc("millisecond", col("ts")).as("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q46_props_json" -> propsJsonAgg,
    "q47_sessionize" -> ((s, d) => sessionize(s, d)),
    "q48_funnel" -> funnel,
    "q49_rollup_kpis" -> rollupKpis,
    "q50_pivot_demand" -> pivotDemand,
    "q51_percentiles" -> valuePercentiles,
    "q52_kmv_distinct" -> ((s, d) => kmvDistinct(s, d)),
    "q53_repetition" -> ((s, d) => repetitionStats(s, d)),
    "q54_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "q55_epoch_upsample" -> epochUpsample,
    "q56_retention_cohorts" -> retentionCohorts,
    "q64_cube_kpis" -> cubeKpis,
    "q124_rolling_anomaly" -> rollingAnomaly,
    "q132_streaming_agg" -> streamingHourlyAgg,
    "q139_range_window" -> rollingRangeCount,
    "q157_pagerank" -> pagerankParts,
    "q158_streaming_sessionize" -> streamingSessionize,
    "q160_trend_slope" -> dailyTrendSlope,
    "q180_locf_gapfill" -> locfDailyGrid,
    "q181_bfs_hops" -> bfsHopsParts,
    "q195_sssp_weighted" -> ssspParts,
    "q207_kcore" -> kcoreParts,
    "q208_ewma" -> ewmaDailyVolume,
    "q209_assortativity" -> assortativityParts,
    "q164_corpus_diff" -> corpusDiff,
    "q165_kmv_setops" -> ((s, d) => kmvSetOps(s, d)),
    "q167_typed_udaf" -> typedMicroStats,
    "q169_session_window" -> nativeSessionWindow,
    "q172_stream_stream_join" -> streamStreamAttribution,
    "q183_stream_outer_join" -> streamStreamOuterAttribution,
    "q202_stream_full_outer" -> streamStreamFullOuterAttribution,
    "q188_change_feed_stream" -> changeFeedStreamRead,
    "q191_stream_ivm" -> streamIvmRollup,
    "q194_k_anonymity" -> kAnonymityEvents,
    "q223_l_diversity" -> lDiversityEvents,
    "q226_hits" -> hitsBuyersParts,
    "q237_ppr" -> pprBrandParts,
    "q239_multitouch" -> multiTouchAttribution,
    "q230_stream_gold_merge" -> streamGoldMerge,
    "q233_stream_expectations" -> streamExpectations,
    "q197_stream_dedup" -> streamingDedupAtLeastOnce,
    "q198_stream_static_join" -> streamStaticEnrich,
    "q199_cooccur_pmi" -> cooccurrencePmi,
    "q190_percentile_disc" -> percentileDiscTokens,
    "q174_markov_transitions" -> markovTransitions,
    "q175_triangle_count" -> triangleCount,
    "q210_cdf_timestamp" -> changeFeedFromTimestamp,
    "q211_stream_cdc_apply" -> streamCdcApply,
    "q242_stream_cdc_string_key" -> streamCdcApplyStringKey,
    "q245_stream_delete_tolerant" -> streamDeleteTolerant,
    "q248_stream_cdc_dv_fold" -> streamCdcApplyDvFold,
    "q256_stream_mv" -> streamMvMaintain,
    "q266_stream_star_mv" -> streamStarMvMaintain,
    "q257_sketch_mv" -> ((s, d) => sketchMvRollup(s, d)),
    "q220_bounded_replay" -> boundedReplay,
    "q212_label_prop" -> labelPropParts,
    "q215_lpa_modularity" -> labelPropModularity,
    "q218_stream_semi_join" -> streamStreamSemiAttribution
  )

  /** q212/q215's shared oracle chain: the part co-occurrence graph and
    * two synchronized label-propagation rounds (count + min-label
    * argmax), mirroring [[graft.graph.LabelProp.run]] round for round;
    * ends in `l2(node, community)`. The edge list and label frames are
    * MATERIALIZED — q215 references them several more times. */
  private val labelPropCtes: String =
    """li AS (SELECT l_orderkey, l_partkey FROM lineitem),
       e AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey <> b.l_partkey),
       l0 AS (SELECT DISTINCT src AS node, src AS community FROM e),
       v1 AS (SELECT e.dst AS node, l.community, count(*) AS c
              FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
       p1 AS (SELECT node, community FROM (
                SELECT node, community, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, community ASC)
                  AS rn FROM v1) WHERE rn = 1),
       l1 AS MATERIALIZED (
         SELECT l.node, coalesce(p.community, l.community) AS community
         FROM l0 l LEFT JOIN p1 p ON l.node = p.node),
       v2 AS (SELECT e.dst AS node, l.community, count(*) AS c
              FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
       p2 AS (SELECT node, community FROM (
                SELECT node, community, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, community ASC)
                  AS rn FROM v2) WHERE rn = 1),
       l2 AS MATERIALIZED (
         SELECT l.node, coalesce(p.community, l.community) AS community
         FROM l1 l LEFT JOIN p2 p ON l.node = p.node)"""

  val oracles: Map[String, String] = Map(
    "q218_stream_semi_join" ->
      // batch EXISTS: a semi row emits at its first match, no horizon
      // wait, so the streamed set equals this exactly
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE event_type IN ('click', 'view')),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM e WHERE event_type = 'click'),
         v AS (SELECT user_id, ts AS view_ts
               FROM e WHERE event_type = 'view')
         SELECT c.user_id, click_id FROM c
         WHERE EXISTS (SELECT 1 FROM v
           WHERE v.user_id = c.user_id
             AND v.view_ts >= c.click_ts
             AND v.view_ts <= c.click_ts + INTERVAL 24 HOUR)
         ORDER BY click_id""",
    "q210_cdf_timestamp" ->
      // both ledgers replayed relationally: the stream channel is
      // q188's per-commit ledger MINUS the skipped snapshot (odds
      // inserted once, the masked range also deletes); the batch
      // channel is the COMPACTED v0→v2 diff (masked odds never
      // surface; the deletes are the evens the diff lost)
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey <= 2000)
         SELECT * FROM (
           SELECT 'stream' AS channel, o_orderkey, o_totalprice,
             'insert' AS _change_type FROM o WHERE o_orderkey % 2 = 1
           UNION ALL
           SELECT 'stream', o_orderkey, o_totalprice, 'delete'
           FROM o WHERE o_orderkey BETWEEN 100 AND 300
           UNION ALL
           SELECT 'batch', o_orderkey, o_totalprice, 'insert'
           FROM o WHERE o_orderkey % 2 = 1
            AND o_orderkey NOT BETWEEN 100 AND 300
           UNION ALL
           SELECT 'batch', o_orderkey, o_totalprice, 'delete'
           FROM o WHERE o_orderkey % 2 = 0
            AND o_orderkey BETWEEN 100 AND 300)
         ORDER BY channel, o_orderkey, _change_type""",
    "q211_stream_cdc_apply" ->
      // the whole CDC feed folded relationally: per-key max seq wins,
      // a surviving 'delete' leaves the table — so replayed batches,
      // late-row clobbers, or lost deletes all hash-mismatch; cents
      // are exact integers on both engines
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders WHERE o_orderkey <= 3000),
         feed AS (
           SELECT k, cents AS v, CAST(1 AS BIGINT) AS seq,
             'upsert' AS op FROM o WHERE k % 3 = 0
           UNION ALL SELECT k, cents + 7, 2, 'upsert' FROM o
             WHERE k % 3 = 1 OR k % 15 = 0
           UNION ALL SELECT k, 0, 3, 'delete' FROM o
             WHERE k BETWEEN 500 AND 1500
           UNION ALL SELECT k, cents + 999983, 0, 'upsert' FROM o
             WHERE k % 3 = 0),
         latest AS (SELECT k, v, seq, op,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
           FROM feed)
         SELECT k AS o_orderkey, v AS cents, seq FROM latest
         WHERE rn = 1 AND op <> 'delete' ORDER BY o_orderkey""",
    "q242_stream_cdc_string_key" ->
      // the string-keyed feed folded relationally: per-doc-id max seq
      // wins, a surviving 'delete' leaves the table — a sink that
      // loses pruned-away state rows (the r15 string-envelope path),
      // re-applies a batch, or drops the delete band hash-mismatches
      """WITH o AS (SELECT
             'd' || lpad(CAST(o_orderkey AS VARCHAR), 7, '0') AS doc_id,
             o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders WHERE o_orderkey <= 3000),
         feed AS (
           SELECT doc_id, cents AS v, CAST(1 AS BIGINT) AS seq,
             'upsert' AS op FROM o WHERE k % 2 = 0
           UNION ALL SELECT doc_id, cents + 7, 2, 'upsert' FROM o
             WHERE k BETWEEN 500 AND 800
           UNION ALL SELECT doc_id, 0, 2, 'delete' FROM o
             WHERE k BETWEEN 900 AND 1200),
         latest AS (SELECT doc_id, v, seq, op,
             row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC)
               AS rn
           FROM feed)
         SELECT doc_id, v AS cents, seq FROM latest
         WHERE rn = 1 AND op <> 'delete' ORDER BY doc_id""",
    "q245_stream_delete_tolerant" ->
      // leg A sees the three appended slices with ORIGINAL cents (the
      // UPDATE rewrite is invisible wholesale — a leak adds +999 rows
      // or values); leg B sees both seeded slices in full (the DV
      // delete-only commit admits nothing but the stream keeps going)
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders WHERE o_orderkey <= 6000),
         a AS (SELECT k, cents FROM o), -- %3 in (0,1,2) = everything
         b AS (SELECT k, cents FROM o)  -- %2 in (0,1) = everything
         SELECT leg, grp, n, cents FROM (
           SELECT 'skip_changes' AS leg, k % 10 AS grp,
                  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
           FROM a GROUP BY 2
           UNION ALL
           SELECT 'ignore_deletes', k % 10, count(*),
                  CAST(sum(cents) AS BIGINT)
           FROM b GROUP BY 2)
         ORDER BY leg, grp""",
    "q256_stream_mv" ->
      // the streamed IVM fold must equal a from-scratch aggregate of
      // the FINAL base state (all rows minus the DV band): a missed
      // batch, a double-folded replay, or a wrong signed delete
      // delta hash-mismatches; exact integer cents
      """WITH b AS (
           SELECT o_orderstatus, o_orderpriority,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 1000 AND 1999)
         SELECT o_orderstatus, o_orderpriority, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM b GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q266_stream_star_mv" ->
      // the streamed star fold must equal a from-scratch aggregate of
      // the FINAL fact state (all rows minus the DV band) joined to
      // the dim: a missed batch, a double-folded replay, a wrong
      // signed delete, or an enrichment against wrong dim rows all
      // hash-mismatch; exact integer cents
      """WITH f AS (
           SELECT o_custkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                    AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey NOT BETWEEN 1000 AND 1999)
         SELECT c.c_mktsegment, count(*) AS n_rows,
                CAST(sum(f.cents) AS BIGINT) AS sum_cents
         FROM f JOIN customer c ON f.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    "q257_sketch_mv" ->
      // the KMV merge law makes the MV rollup equal the direct
      // computation on the base, so the oracle IS the direct form: k
      // smallest distinct hash fractions per type, (k-1)/h_k (exact
      // survivor count for small groups), day-grain row count, exact
      // distinct for reference — a merge that lost a day's sketch,
      // kept duplicate fracs, or re-hashed hash-mismatches
      """WITH h AS (SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
             AS BIGINT) / 4503599627370496.0 AS frac
           FROM events),
         r AS (SELECT event_type, frac,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY frac) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS cnt FROM h),
         d AS (SELECT event_type,
                 count(DISTINCT strftime(CAST(ts AS TIMESTAMP),
                   '%Y-%m-%d')) AS n_days
               FROM events GROUP BY 1),
         x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY 1)
         SELECT r.event_type,
           CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
                ELSE 63.0 / frac END AS kmv_estimate,
           d.n_days, x.n_exact
         FROM r JOIN d USING (event_type) JOIN x USING (event_type)
         WHERE rn = CASE WHEN cnt < 64 THEN cnt ELSE 64 END
         ORDER BY 1""",
    "q248_stream_cdc_dv_fold" ->
      // the whole feed folded relationally (per-key max seq wins, a
      // surviving 'delete' leaves the table): a DV fold that masks
      // the wrong rows, loses an unmasked stored row, double-applies
      // a batch, or lets the late seq-1 rows clobber hash-mismatches
      """WITH o AS (SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders WHERE o_orderkey <= 3000),
         feed AS (
           SELECT k, cents AS v, CAST(1 AS BIGINT) AS seq,
             'upsert' AS op, 0 AS src FROM o WHERE k % 2 = 0
           UNION ALL SELECT k, cents + 11, 2, 'upsert', 1 FROM o
             WHERE k BETWEEN 400 AND 700
           UNION ALL SELECT k, 0, 2, 'delete', 1 FROM o
             WHERE k BETWEEN 800 AND 1100
           UNION ALL SELECT k, cents + 999983, 1, 'upsert', 2 FROM o
             WHERE k BETWEEN 500 AND 600),
         latest AS (SELECT k, v, seq, op,
             row_number() OVER (PARTITION BY k
               ORDER BY seq DESC, src ASC) AS rn
           FROM feed)
         SELECT k AS o_orderkey, v AS cents, seq FROM latest
         WHERE rn = 1 AND op <> 'delete' ORDER BY o_orderkey""",
    "q220_bounded_replay" ->
      // the stream's ending bound admits v0 (keys ≡0 mod 3) and v1
      // (≡1) and must never plan v2 (≡2): a source snapshotting at
      // CURRENT or draining past the bound leaks the third slice
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
             AS BIGINT)) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 3 IN (0, 1)
         GROUP BY 1 ORDER BY 1""",
    "q212_label_prop" ->
      // two synchronized rounds as chained count+argmax CTEs; the
      // argmax is exact-integer (max votes, min label) in both engines
      s"""WITH $labelPropCtes
         SELECT node, community FROM l2 ORDER BY node""",
    "q215_lpa_modularity" ->
      // same LPA replay, then Newman's Q from exact BIGINT moments:
      // within-community edge count, per-community degree mass, ONE
      // final division of exact ints
      s"""WITH $labelPropCtes,
         deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
                 FROM e GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
         ein AS (SELECT CAST(count(*) AS BIGINT) AS e_in
                 FROM e JOIN l2 a ON e.src = a.node
                   JOIN l2 b ON e.dst = b.node
                 WHERE a.community = b.community),
         dc AS (SELECT CAST(sum(dsum * dsum) AS BIGINT) AS sum_dc2
                FROM (SELECT l.community,
                        CAST(sum(d.d) AS BIGINT) AS dsum
                      FROM deg d JOIN l2 l ON d.node = l.node
                      GROUP BY 1))
         SELECT m2, e_in, sum_dc2,
           CAST(e_in * m2 - sum_dc2 AS DOUBLE)
             / CAST(m2 * m2 AS DOUBLE) AS modularity
         FROM m CROSS JOIN ein CROSS JOIN dc""",
    "q175_triangle_count" ->
      // same degree-ordered orientation as a LEXICOGRAPHIC (deg, id)
      // row comparison — total over the full id range, identical in
      // both engines; all counts exact BIGINTs
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         co AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey),
         deg AS (SELECT n, count(*) AS deg FROM
                   (SELECT u AS n FROM co UNION ALL SELECT v FROM co)
                 GROUP BY 1),
         e AS (SELECT CASE WHEN (a.deg, co.u) < (b.deg, co.v)
                   THEN co.u ELSE co.v END AS src,
                 CASE WHEN (a.deg, co.u) < (b.deg, co.v)
                   THEN co.v ELSE co.u END AS dst,
                 CASE WHEN (a.deg, co.u) < (b.deg, co.v)
                   THEN b.deg ELSE a.deg END AS ddst
               FROM co JOIN deg a ON co.u = a.n JOIN deg b ON co.v = b.n)
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM
             (SELECT src, count(*) AS d FROM e GROUP BY 1)) AS n_wedges,
           (SELECT count(*) FROM e e1
              JOIN e e2 ON e1.src = e2.src
               AND (e1.ddst, e1.dst) < (e2.ddst, e2.dst)
              JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
             AS n_triangles""",
    "q174_markov_transitions" ->
      // exact BIGINT pair counts; p = one IEEE division of exact ints
      """WITH seq AS (SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
           FROM events),
         t AS (SELECT prev_type, event_type AS next_type,
                 count(*) AS n_transitions
               FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev_type,
                   CAST(sum(n_transitions) AS BIGINT) AS n_from
                 FROM t GROUP BY 1)
         SELECT t.prev_type, next_type, n_transitions,
           CAST(n_transitions AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
         FROM t JOIN tot ON t.prev_type = tot.prev_type
         ORDER BY 1, 2""",
    "q194_k_anonymity" ->
      // same quasi tuple, same k; exact integer census
      """WITH g AS (SELECT event_type,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             user_id % 100 AS cohort, count(*) AS n_rows
           FROM events GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(CASE WHEN n_rows < 5 THEN 1 END)
             AS BIGINT) AS n_risky_groups,
           CAST(coalesce(sum(CASE WHEN n_rows < 5 THEN n_rows END), 0)
             AS BIGINT) AS n_risky_rows,
           CAST(min(n_rows) AS BIGINT) AS min_group_size
         FROM g""",
    "q233_stream_expectations" ->
      // both routing sides rebuilt from the same predicate: a row on
      // the wrong side, dropped, or double-appended hash-mismatches
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
               AS cents
           FROM orders)
         SELECT * FROM (
           SELECT 'valid' AS side, o_orderstatus, count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS cents
           FROM o WHERE cents > 0 AND cents < 30000000 GROUP BY 2
           UNION ALL
           SELECT 'quarantine', o_orderstatus, count(*),
             CAST(sum(cents) AS BIGINT)
           FROM o WHERE NOT (cents > 0 AND cents < 30000000) GROUP BY 2)
         ORDER BY side, o_orderstatus""",
    "q230_stream_gold_merge" ->
      // the maintained gold table must equal the direct daily census;
      // micros are per-term-rounded exact integers on both engines
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
           event_type, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_micro
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q226_hits" ->
      // two HITS rounds as chained integer CTEs: sum-of-BIGINT
      // half-steps, max-normalized by one integral division each —
      // identical micro-unit scores, then top-10 per side
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT o_custkey AS src, l_partkey AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         h0 AS (SELECT DISTINCT src AS node,
                  CAST(1000000 AS BIGINT) AS hub FROM e),
         a1s AS MATERIALIZED (
           SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS s
           FROM e JOIN h0 h ON e.src = h.node GROUP BY 1),
         a1 AS MATERIALIZED (SELECT node,
           (s * 1000000) // (SELECT max(s) FROM a1s) AS auth FROM a1s),
         h1s AS MATERIALIZED (
           SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS s
           FROM e JOIN a1 a ON e.dst = a.node GROUP BY 1),
         h1 AS MATERIALIZED (SELECT node,
           (s * 1000000) // (SELECT max(s) FROM h1s) AS hub FROM h1s),
         a2s AS MATERIALIZED (
           SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS s
           FROM e JOIN h1 h ON e.src = h.node GROUP BY 1),
         a2 AS MATERIALIZED (SELECT node,
           (s * 1000000) // (SELECT max(s) FROM a2s) AS auth FROM a2s),
         h2s AS MATERIALIZED (
           SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS s
           FROM e JOIN a2 a ON e.dst = a.node GROUP BY 1),
         h2 AS MATERIALIZED (SELECT node,
           (s * 1000000) // (SELECT max(s) FROM h2s) AS hub FROM h2s)
         SELECT * FROM (
           SELECT 'hub' AS side, node, hub AS score FROM h2
           ORDER BY hub DESC, node ASC LIMIT 10)
         UNION ALL
         SELECT * FROM (
           SELECT 'auth' AS side, node, auth AS score FROM a2
           ORDER BY auth DESC, node ASC LIMIT 10)
         ORDER BY side, node""",
    "q223_l_diversity" ->
      // quasi = (day, cohort), sensitive = event_type, l = 3; the
      // per-group distinct count is exact on both engines
      """WITH g AS (SELECT
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             user_id % 100 AS cohort, count(*) AS n_rows,
             count(DISTINCT event_type) AS n_sens
           FROM events GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(CASE WHEN n_sens < 3 THEN 1 END)
             AS BIGINT) AS n_low_div_groups,
           CAST(coalesce(sum(CASE WHEN n_sens < 3 THEN n_rows END), 0)
             AS BIGINT) AS n_exposed_rows,
           CAST(min(n_sens) AS BIGINT) AS min_diversity
         FROM g""",
    "q191_stream_ivm" ->
      // the IVM invariant: the maintained rollup equals the direct
      // aggregate of the FINAL state (evens+odds of %3, minus the
      // deleted range); cents are exact integers on both engines
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
               AS BIGINT) AS cents
           FROM orders
           WHERE o_orderkey <= 4000 AND o_orderkey % 3 <> 2)
         SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM o WHERE NOT (o_orderkey BETWEEN 1000 AND 2000)
         GROUP BY 1 ORDER BY 1""",
    "q190_percentile_disc" ->
      // identical integer rank arithmetic: ceil(p*n) as (n+1)//2 and
      // (9n+9)//10 — no float rank, exact elements either engine
      """WITH c AS (SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT source, n_tokens,
             row_number() OVER (PARTITION BY source
               ORDER BY n_tokens) AS rn,
             count(*) OVER (PARTITION BY source) AS nd
           FROM c)
         SELECT source, CAST(max(nd) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = (nd + 1) // 2 THEN n_tokens END)
             AS BIGINT) AS p50_tokens,
           CAST(max(CASE WHEN rn = (9 * nd + 9) // 10 THEN n_tokens
             END) AS BIGINT) AS p90_tokens
         FROM r GROUP BY source ORDER BY source""",
    "q188_change_feed_stream" ->
      // the CDC ledger replayed relationally: every key <= 2000
      // inserted exactly once (evens in v0, odds in v1), the masked
      // range also emits a delete row
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey <= 2000)
         SELECT o_orderkey, o_totalprice, 'insert' AS _change_type
         FROM o
         UNION ALL
         SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
         FROM o WHERE o_orderkey BETWEEN 100 AND 300
         ORDER BY o_orderkey, _change_type""",
    "q183_stream_outer_join" ->
      // batch LEFT join + the watermark emission rule: unmatched
      // clicks appear ONLY where the final watermark
      // (min of both sides' max event time, delay 0) passed the
      // click's 24 h join horizon — emitted-vs-suppressed is part of
      // the hash
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE event_type IN ('click', 'view')),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM e WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM e WHERE event_type = 'view'),
         wm AS (SELECT least((SELECT max(click_ts) FROM c),
                             (SELECT max(view_ts) FROM v)) AS w),
         m AS (SELECT c.user_id, click_id, view_id,
                 CAST((epoch_us(view_ts) - epoch_us(click_ts)) // 60000000
                   AS BIGINT) AS lag_min
               FROM c JOIN v ON c.user_id = v.user_id
                 AND view_ts >= click_ts
                 AND view_ts <= click_ts + INTERVAL 24 HOUR),
         u AS (SELECT c.user_id, click_id,
                 CAST(NULL AS BIGINT) AS view_id,
                 CAST(NULL AS BIGINT) AS lag_min
               FROM c, wm
               WHERE c.click_ts + INTERVAL 24 HOUR < wm.w
                 AND NOT EXISTS (SELECT 1 FROM v
                   WHERE v.user_id = c.user_id
                     AND v.view_ts >= c.click_ts
                     AND v.view_ts <= c.click_ts + INTERVAL 24 HOUR))
         SELECT * FROM m UNION ALL SELECT * FROM u
         ORDER BY click_id, view_id NULLS FIRST""",
    "q202_stream_full_outer" ->
      // three legs, two distinct horizons: matched pairs; unmatched
      // clicks where wm passed click_ts + 24h; unmatched views where
      // wm passed the view's own event time
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE event_type IN ('click', 'view')),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM e WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM e WHERE event_type = 'view'),
         wm AS (SELECT least((SELECT max(click_ts) FROM c),
                             (SELECT max(view_ts) FROM v)) AS w),
         m AS (SELECT c.user_id, click_id, view_id,
                 CAST((epoch_us(view_ts) - epoch_us(click_ts)) // 60000000
                   AS BIGINT) AS lag_min
               FROM c JOIN v ON c.user_id = v.user_id
                 AND view_ts >= click_ts
                 AND view_ts <= click_ts + INTERVAL 24 HOUR),
         u AS (SELECT c.user_id, click_id,
                 CAST(NULL AS BIGINT) AS view_id,
                 CAST(NULL AS BIGINT) AS lag_min
               FROM c, wm
               WHERE c.click_ts + INTERVAL 24 HOUR < wm.w
                 AND NOT EXISTS (SELECT 1 FROM v
                   WHERE v.user_id = c.user_id
                     AND v.view_ts >= c.click_ts
                     AND v.view_ts <= c.click_ts + INTERVAL 24 HOUR)),
         r AS (SELECT v.user_id, CAST(NULL AS BIGINT) AS click_id,
                 view_id, CAST(NULL AS BIGINT) AS lag_min
               FROM v, wm
               WHERE v.view_ts < wm.w
                 AND NOT EXISTS (SELECT 1 FROM c
                   WHERE c.user_id = v.user_id
                     AND v.view_ts >= c.click_ts
                     AND v.view_ts <= c.click_ts + INTERVAL 24 HOUR))
         SELECT * FROM m
         UNION ALL SELECT * FROM u
         UNION ALL SELECT * FROM r
         ORDER BY click_id NULLS FIRST, view_id NULLS FIRST""",
    "q172_stream_stream_join" ->
      // the BATCH interval join: the stream-stream emitted multiset
      // must equal it exactly (lag is exact integer-us division)
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts FROM events),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM e WHERE event_type = 'click'),
         v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
               FROM e WHERE event_type = 'view')
         SELECT c.user_id, click_id, view_id,
           CAST((epoch_us(view_ts) - epoch_us(click_ts)) // 60000000
             AS BIGINT) AS lag_min
         FROM c JOIN v ON c.user_id = v.user_id
           AND view_ts >= click_ts
           AND view_ts <= click_ts + INTERVAL 24 HOUR
         ORDER BY click_id, view_id""",
    "q169_session_window" ->
      // session_window's boundary is EXCLUSIVE (an event exactly
      // `gap` after the last starts a NEW session), so the flag is
      // >=; window end = last event + gap
      """WITH e AS (SELECT user_id, event_id,
             date_trunc('milliseconds', CAST(ts AS TIMESTAMP)) AS ts
           FROM events),
         lagd AS (SELECT user_id, event_id, ts,
             lag(epoch_ms(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
           FROM e),
         flag AS (SELECT *, CASE WHEN prev_ms IS NULL
             OR epoch_ms(ts) - prev_ms >= 1800000
             THEN 1 ELSE 0 END AS new_sess FROM lagd),
         sess AS (SELECT *, sum(new_sess) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS sid
           FROM flag)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "q167_typed_udaf" ->
      // the same integer micro-unit summary the custom Aggregator
      // folds (round-half-away-from-zero scaling matches Spark's
      // round; integer sums are order-free)
      """WITH m AS (SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS micros
           FROM events)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(micros) AS BIGINT) AS sum_micros,
           min(micros) AS min_micros, max(micros) AS max_micros
         FROM m GROUP BY 1 ORDER BY 1""",
    "q164_corpus_diff" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS fp
                    FROM documents),
         old AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
         neu AS (SELECT doc_id, source,
                   CASE WHEN doc_id % 13 = 0 THEN md5(fp || '~v2')
                        ELSE fp END AS fp
                 FROM d WHERE doc_id % 7 <> 0),
         added AS (SELECT * FROM neu EXCEPT ALL SELECT * FROM old),
         removed AS (SELECT * FROM old EXCEPT ALL SELECT * FROM neu),
         com AS (SELECT * FROM neu INTERSECT ALL SELECT * FROM old),
         s AS (SELECT DISTINCT source FROM d),
         ca AS (SELECT source, count(*) AS n_added FROM added GROUP BY 1),
         cr AS (SELECT source, count(*) AS n_removed FROM removed GROUP BY 1),
         cc AS (SELECT source, count(*) AS n_common FROM com GROUP BY 1)
         SELECT s.source, coalesce(n_added, 0) AS n_added,
           coalesce(n_removed, 0) AS n_removed,
           coalesce(n_common, 0) AS n_common
         FROM s LEFT JOIN ca USING (source) LEFT JOIN cr USING (source)
         LEFT JOIN cc USING (source)
         ORDER BY source""",
    "q165_kmv_setops" ->
      """WITH f AS (SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
             AS BIGINT) / 4503599627370496.0 AS frac
           FROM events WHERE event_type IN ('click', 'view')),
         a AS (SELECT frac FROM f WHERE event_type = 'click'),
         b AS (SELECT frac FROM f WHERE event_type = 'view'),
         u AS (SELECT frac FROM a UNION SELECT frac FROM b),
         ea AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / max(frac) END AS est_click
                FROM (SELECT frac FROM a ORDER BY frac LIMIT 64)),
         eb AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / max(frac) END AS est_view
                FROM (SELECT frac FROM b ORDER BY frac LIMIT 64)),
         eu AS (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / max(frac) END AS est_union
                FROM (SELECT frac FROM u ORDER BY frac LIMIT 64)),
         ex AS (SELECT count(DISTINCT user_id) AS exact_union FROM events
                WHERE event_type IN ('click', 'view'))
         SELECT est_click, est_view, est_union,
           est_click + est_view - est_union AS est_intersect, exact_union
         FROM ea, eb, eu, ex""",
    "q181_bfs_hops" ->
      // recursive working-table BFS: enumerate (node, dist<=3) pairs,
      // min per node; exact integers end to end
      """WITH RECURSIVE edges AS (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey <> b.l_partkey),
         bfs(node, dist) AS (
           SELECT (SELECT min(src) FROM edges), 0
           UNION
           SELECT e.dst, b.dist + 1
           FROM bfs b JOIN edges e ON e.src = b.node
           WHERE b.dist < 3)
         SELECT node, min(dist) AS dist FROM bfs
         GROUP BY 1 ORDER BY 1""",
    "q197_stream_dedup" ->
      // at-least-once redelivery collapses back to the original feed:
      // duplicates are byte-identical, so "first arrival wins" == the
      // source rows themselves
      """SELECT event_id, event_type, value FROM events ORDER BY 1""",
    "q198_stream_static_join" ->
      // stream x static broadcast enrichment + daily window agg;
      // exact DECIMAL money sums, one cast to double
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_bucket,
                n_name, count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                  AS sum_value
         FROM events JOIN nation ON user_id % 25 = n_nationkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q199_cooccur_pmi" ->
      // exact BIGINT incidence/pair counts; PMI per the q130/q168 ln
      // discipline: one round(ln(ratio)*1e6) per (bounded) output row,
      // emitted as BIGINT so no raw float reaches the hash
      """WITH inc AS (SELECT DISTINCT user_id, event_type FROM events),
         n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
               FROM events),
         ci AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
                FROM inc GROUP BY 1),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                          CAST(count(*) AS BIGINT) AS n_both
                   FROM inc a JOIN inc b ON a.user_id = b.user_id
                    AND a.event_type < b.event_type
                   GROUP BY 1, 2)
         SELECT type_a, type_b, n_both,
                CAST(round(ln(CAST(n.n * n_both AS DOUBLE) /
                              CAST(ca.c * cb.c AS DOUBLE)) * 1e6)
                  AS BIGINT) AS pmi_micro
         FROM pairs CROSS JOIN n
         JOIN ci ca ON ca.event_type = type_a
         JOIN ci cb ON cb.event_type = type_b
         ORDER BY 1, 2""",
    "q209_assortativity" ->
      // exact BIGINT moments; r = one identical IEEE tree (two casts,
      // a multiply, a correctly-rounded sqrt, a divide) both engines
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
               FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS d
                 FROM e GROUP BY 1),
         xy AS (SELECT dx.d AS x, dy.d AS y FROM e
                JOIN deg dx ON e.src = dx.n
                JOIN deg dy ON e.dst = dy.n),
         s AS (SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
               FROM xy)
         SELECT m, sx, sy, sxy, sxx, syy,
           CAST(m * sxy - sx * sy AS DOUBLE) /
             sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
                  CAST(m * syy - sy * sy AS DOUBLE)) AS assortativity
         FROM s""",
    "q208_ewma" ->
      // zero-seeded order-DEFINED left fold in day order; alpha=1/2
      // keeps every step one correctly-rounded add + an exact halving
      """WITH daily AS (SELECT event_type,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           list_reduce(
             list_prepend(0.0, list(CAST(y AS DOUBLE) ORDER BY day)),
             (acc, x) -> (acc + x) / 2) AS ewma
         FROM daily GROUP BY 1 ORDER BY 1""",
    "q207_kcore" ->
      // three chained synchronized peels (the q195 bounded-rounds
      // trick, unrolled): degree >= 90 survives, edges keep only
      // survivor endpoints; output = surviving in-core degrees
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
                FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey <> b.l_partkey),
         k1 AS (SELECT src AS n FROM e0 GROUP BY 1
                HAVING count(*) >= 90),
         e1 AS (SELECT e0.src, e0.dst FROM e0
                JOIN k1 a ON e0.src = a.n JOIN k1 b ON e0.dst = b.n),
         k2 AS (SELECT src AS n FROM e1 GROUP BY 1
                HAVING count(*) >= 90),
         e2 AS (SELECT e1.src, e1.dst FROM e1
                JOIN k2 a ON e1.src = a.n JOIN k2 b ON e1.dst = b.n),
         k3 AS (SELECT src AS n FROM e2 GROUP BY 1
                HAVING count(*) >= 90),
         e3 AS (SELECT e2.src, e2.dst FROM e2
                JOIN k3 a ON e2.src = a.n JOIN k3 b ON e2.dst = b.n)
         SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM e3 GROUP BY 1 ORDER BY 1""",
    "q195_sssp_weighted" ->
      // recursive working-table Bellman-Ford: enumerate (node, path
      // weight, hops<=3) triples, min weight per node; the hop
      // counter makes the recursion match the operator's k-round
      // invariant exactly; all arithmetic exact BIGINT
      """WITH RECURSIVE edges AS (
           SELECT src, dst, (src + dst) % 9 + 1 AS w FROM (
             SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey <> b.l_partkey)),
         sssp(node, dist, hops) AS (
           SELECT (SELECT min(src) FROM edges), CAST(0 AS BIGINT), 0
           UNION
           SELECT e.dst, s.dist + e.w, s.hops + 1
           FROM sssp s JOIN edges e ON e.src = s.node
           WHERE s.hops < 3)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM sssp
         GROUP BY 1 ORDER BY 1""",
    "q180_locf_gapfill" ->
      // same three steps relationally; the filled value is a raw
      // double carried from the source (no arithmetic), day rendered
      // as a string so both engines sort and hash identically
      """WITH e AS (SELECT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(ts AS TIMESTAMP) AS tts, event_id, value FROM events),
         byday AS (SELECT user_id, day, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id, day
               ORDER BY tts DESC, event_id DESC) AS rn FROM e)
           WHERE rn = 1),
         grid AS (SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
           FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
                 FROM e GROUP BY 1)),
         filled AS (SELECT g.user_id, g.day,
             last_value(b.value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
           FROM grid g LEFT JOIN byday b
             ON g.user_id = b.user_id AND g.day = b.day)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS day, value
         FROM filled ORDER BY 1, 2""",
    "q160_trend_slope" ->
      // exact BIGINT regression sums; slope = one IEEE division of
      // exact ints (no rounding — float-discipline rule #2)
      """WITH daily AS (
           SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01',
               CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
             count(*) AS y
           FROM events GROUP BY 1, 2)
         SELECT event_type, count(*) AS n_days,
           CAST(count(*) * CAST(sum(x * y) AS BIGINT)
                - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT)
                AS DOUBLE)
           / CAST(count(*) * CAST(sum(x * x) AS BIGINT)
                - CAST(sum(x) AS BIGINT) * CAST(sum(x) AS BIGINT)
                AS DOUBLE) AS slope
         FROM daily GROUP BY 1 ORDER BY 1""",
    "q158_streaming_sessionize" ->
      // batch gaps-and-islands at MILLISECOND grain; the stream emits
      // a session iff the final watermark (= global max ts) passed
      // session_end + gap — gap-closed sessions satisfy it a
      // fortiori (their closer event is later than end + gap)
      """WITH e AS (SELECT user_id, event_id,
                    date_trunc('milliseconds', CAST(ts AS TIMESTAMP)) AS ts
                    FROM events),
         lagd AS (SELECT user_id, event_id, ts,
                  lag(epoch_ms(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
                  FROM e),
         flag AS (SELECT *, CASE WHEN prev_ms IS NULL
                    OR epoch_ms(ts) - prev_ms > 1800000
                    THEN 1 ELSE 0 END AS new_sess FROM lagd),
         sess AS (SELECT *, sum(new_sess) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS sid
                  FROM flag),
         agg AS (SELECT user_id, sid, min(ts) AS session_start,
                   max(ts) AS session_end, count(*) AS n_events
                 FROM sess GROUP BY 1, 2)
         SELECT user_id, session_start, session_end, n_events
         FROM agg
         WHERE epoch_ms(session_end) + 1800000 <
               (SELECT max(epoch_ms(ts)) FROM e)
         ORDER BY user_id, session_start""",
    "q239_multitouch" ->
      // same range join, same integer micro-share per purchase: the
      // truncating division makes every credit sum exact
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts FROM events),
         p AS (SELECT event_id AS pid, user_id, ts AS pts
               FROM e WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS cid, user_id, ts AS cts
               FROM e WHERE event_type = 'click'),
         j AS (SELECT pid, cid, cts FROM p JOIN c USING (user_id)
               WHERE cts <= pts AND cts >= pts - INTERVAL 24 HOUR),
         w AS (SELECT pid, cid, cts,
                 1000000 // count(*) OVER (PARTITION BY pid) AS credit
               FROM j)
         SELECT CAST(extract(hour FROM cts) AS BIGINT) AS click_hour,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(sum(credit) AS BIGINT) AS credit_micro
         FROM w GROUP BY 1 ORDER BY 1""",
    "q237_ppr" ->
      // 2 unrolled personalized-PageRank rounds: q157's integer
      // arithmetic plus a seed-flag base term (teleport to seeds only)
      """WITH edges AS (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         seeds AS (SELECT DISTINCT p_partkey AS node FROM part
                   WHERE p_brand = 'Brand#11'),
         sf AS (SELECT n.node,
                  CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
                FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         r0 AS (SELECT node, CAST(CASE WHEN is_seed = 1 THEN 1000000
                  ELSE 0 END AS BIGINT) AS rank FROM sf),
         c1 AS (SELECT e.dst AS node,
                  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS c
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN deg d ON e.src = d.src GROUP BY 1),
         r1 AS (SELECT f.node,
                  CAST(CASE WHEN f.is_seed = 1 THEN 150000 ELSE 0 END
                    + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS rank
                FROM sf f LEFT JOIN c1 c ON f.node = c.node),
         c2 AS (SELECT e.dst AS node,
                  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS c
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN deg d ON e.src = d.src GROUP BY 1),
         r2 AS (SELECT f.node,
                  CAST(CASE WHEN f.is_seed = 1 THEN 150000 ELSE 0 END
                    + (85 * coalesce(c.c, 0)) // 100 AS BIGINT) AS rank
                FROM sf f LEFT JOIN c2 c ON f.node = c.node)
         SELECT node AS part, rank FROM r2
         ORDER BY rank DESC, part ASC LIMIT 20""",
    "q157_pagerank" ->
      // 3 unrolled exact-integer PageRank rounds: rank//outdeg
      // per-edge contributions (both engines truncate positives
      // identically), BIGINT sums, damping as (85*c)//100
      """WITH edges AS (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey <> b.l_partkey),
         deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         nodes AS (SELECT DISTINCT src AS node FROM edges),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         c1 AS (SELECT e.dst AS node,
                  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS c
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN deg d ON e.src = d.src GROUP BY 1),
         r1 AS (SELECT n.node,
                  150000 + (85 * coalesce(c.c, 0)) // 100 AS rank
                FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
         c2 AS (SELECT e.dst AS node,
                  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS c
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN deg d ON e.src = d.src GROUP BY 1),
         r2 AS (SELECT n.node,
                  150000 + (85 * coalesce(c.c, 0)) // 100 AS rank
                FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
         c3 AS (SELECT e.dst AS node,
                  CAST(sum(r.rank // d.outdeg) AS BIGINT) AS c
                FROM edges e JOIN r2 r ON e.src = r.node
                JOIN deg d ON e.src = d.src GROUP BY 1),
         r3 AS (SELECT n.node,
                  150000 + (85 * coalesce(c.c, 0)) // 100 AS rank
                FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
         SELECT node AS part, CAST(rank AS BIGINT) AS rank FROM r3
         ORDER BY rank DESC, part ASC LIMIT 20""",
    "q139_range_window" ->
      """SELECT event_id, event_type,
           count(*) OVER (PARTITION BY event_type
             ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
             AS n_prior_24h
         FROM events ORDER BY event_id""",
    "q132_streaming_agg" ->
      // the BATCH formulation (q16's shape): streaming execution must
      // be semantically indistinguishable from it
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
         event_type, count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q124_rolling_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
                    AS hour_bucket,
                  count(*) AS n_events
           FROM events GROUP BY 1, 2),
         win AS (
           SELECT event_type, hour_bucket, n_events,
             count(*) OVER w AS w,
             sum(n_events) OVER w AS s,
             sum(n_events * n_events) OVER w AS ss
           FROM hourly
           WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, hour_bucket, n_events,
           CAST(s AS BIGINT) AS base_sum,
           CAST(w * n_events - s AS DOUBLE)
             / sqrt(CAST(w * ss - s * s AS DOUBLE)) AS z,
           abs(CAST(w * n_events - s AS DOUBLE)
             / sqrt(CAST(w * ss - s * s AS DOUBLE))) > 3.0 AS anomaly
         FROM win
         WHERE w = 24 AND w * ss - s * s > 0
         ORDER BY event_type, hour_bucket""",
    "q46_props_json" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
         min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
         max(json_extract_string(props, '$.k')::BIGINT) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "q47_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
         lagd AS (SELECT user_id, event_id, ts,
                  lag(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
                  FROM e),
         flag AS (SELECT *, CASE WHEN prev_us IS NULL
                    OR epoch_us(ts) - prev_us > 1800000000
                    THEN 1 ELSE 0 END AS new_sess FROM lagd),
         sess AS (SELECT *, sum(new_sess) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
                  FROM flag)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end,
                epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""",
    "q48_funnel" ->
      """WITH m AS (SELECT user_id,
           min(CASE WHEN event_type = 'signup'
               THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_signup,
           min(CASE WHEN event_type = 'view'
               THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
           min(CASE WHEN event_type = 'click'
               THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
           min(CASE WHEN event_type = 'purchase'
               THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purchase
           FROM events GROUP BY 1)
         SELECT count(*) AS n_users,
           count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
           count(CASE WHEN t_view >= t_signup THEN 1 END) AS n_view,
           count(CASE WHEN t_view >= t_signup AND t_click >= t_view
                 THEN 1 END) AS n_click,
           count(CASE WHEN t_view >= t_signup AND t_click >= t_view
                 AND t_purchase >= t_click THEN 1 END) AS n_purchase
         FROM m""",
    "q49_rollup_kpis" ->
      """SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus) AS lvl,
         count(*) AS n_items,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY 3, 1, 2""",
    "q50_pivot_demand" ->
      """SELECT l_returnflag,
         CAST(round(sum(CASE WHEN l_linestatus = 'F'
           THEN CAST(l_quantity AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS "F",
         CAST(round(sum(CASE WHEN l_linestatus = 'O'
           THEN CAST(l_quantity AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS "O"
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q51_percentiles" ->
      """SELECT event_type,
         quantile_cont(value, 0.5) AS p50,
         quantile_cont(value, 0.9) AS p90,
         quantile_cont(value, 0.99) AS p99
         FROM events GROUP BY 1 ORDER BY 1""",
    "q52_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
             AS BIGINT) / 4503599627370496.0 AS frac
           FROM events),
         r AS (SELECT event_type, frac,
                 row_number() OVER (PARTITION BY event_type ORDER BY frac) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS cnt FROM h),
         x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY 1)
         SELECT r.event_type,
           CASE WHEN cnt < 32 THEN CAST(cnt AS DOUBLE)
                ELSE 31.0 / frac END AS kmv_estimate, x.n_exact
         FROM r JOIN x USING (event_type)
         WHERE rn = CASE WHEN cnt < 32 THEN cnt ELSE 32 END ORDER BY 1""",
    "q53_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                      FROM documents),
         big AS (SELECT doc_id, len(ws) - 1 AS nbig,
                 unnest(list_transform(range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bg
                 FROM tok WHERE len(ws) >= 2),
         cnt AS (SELECT doc_id, nbig, bg, count(*) AS c
                 FROM big GROUP BY 1, 2, 3)
         SELECT doc_id,
                max(c) / CAST(nbig AS DOUBLE) AS top_bigram_frac,
                sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                  / CAST(nbig AS DOUBLE) AS dup_bigram_frac,
                (max(c) / CAST(nbig AS DOUBLE)) > 0.18 AS repetitive
         FROM cnt GROUP BY doc_id, nbig ORDER BY doc_id""",
    "q54_heavy_hitters" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
                    FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, user_id, n, row_number() OVER
                 (PARTITION BY event_type ORDER BY n DESC, user_id)
                 AS top_rank FROM c)
         SELECT event_type, user_id, n, top_rank FROM r
         WHERE top_rank <= 5 ORDER BY 1, 4""",
    "q55_epoch_upsample" ->
      """WITH d AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                       WHEN 'src2' THEN 0.0 ELSE 1.0 END AS w,
           CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)),
             1, 8)) AS BIGINT) / 4294967296.0 AS u
           FROM documents),
         n AS (SELECT doc_id, source,
           CAST(floor(w) AS BIGINT)
             + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS n_copies
           FROM d)
         SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
         FROM n WHERE n_copies > 0 ORDER BY doc_id, epoch""",
    "q56_retention_cohorts" ->
      """WITH f AS (SELECT user_id,
           CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP)))
             AS TIMESTAMP) AS cohort_week
           FROM events GROUP BY 1),
         a AS (SELECT e.user_id, f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
             date_trunc('week', CAST(e.ts AS TIMESTAMP))) // 7 AS INT)
             AS week_index
           FROM events e JOIN f USING (user_id))
         SELECT cohort_week, week_index,
                count(DISTINCT user_id) AS n_active
         FROM a GROUP BY 1, 2 ORDER BY 1, 2""",
    "q64_cube_kpis" ->
      """SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus) AS lvl,
         count(*) AS n_items,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY 3, 1, 2"""
  )
}
