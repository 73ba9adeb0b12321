package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators: the streaming face of the batch
  * pipeline (SURVEY.md §2.11 — the reference's "incremental" mode is a
  * manual batch high-water-mark; these are the exactly-once upgrades).
  *
  * Every function takes/returns DataFrames so the same transform plugs
  * into `spark.readStream` sources and, for backfill, batch frames.
  * Tested with MemoryStream in StreamingSpec.
  *
  * Scale notes:
  *   - All stateful ops carry a watermark so state is bounded: late
  *     rows beyond it are dropped and their state evicted.
  *   - Windowed aggregation shuffles once on (window, key); with
  *     `Trigger.AvailableNow` the same query does catch-up batch runs.
  */
object Streaming {

  /** State-partition count for a stateful streaming drain, derived
    * from the SOURCE SIZE instead of a constant (guide §2: make
    * partitioning scale-adaptive): one state partition per ~32 MB of
    * source, floored at 1, capped at the session's configured shuffle
    * parallelism. A stateful micro-batch pays per-partition fixed
    * costs every batch — each state partition holds its own store
    * instances (a stream-stream join keeps FOUR per partition), each
    * committing a checkpoint delta per batch — so a KB-scale drain at
    * the cluster's shuffle width spends its wall-clock on empty store
    * commits (measured 6.9s → 2.8s at sf0.1 for the q172 join going
    * 32 → 8 partitions, identical output). A 100 TB stream saturates
    * the cap and keeps the session's cluster sizing. An UNMEASURABLE
    * source (`sourceBytes < 0`) gets the CAP, not the floor: running a
    * production drain on one state partition because the size probe
    * failed would funnel the whole stream through one store. Override:
    * `spark.graft.stream.statePartitions`. */
  def adaptiveStatePartitions(spark: SparkSession, sourceBytes: Long): Int =
    spark.conf.getOption("spark.graft.stream.statePartitions")
      .map(_.toInt).getOrElse {
        val cap = math.max(1,
          spark.conf.get("spark.sql.shuffle.partitions").toInt)
        if (sourceBytes < 0) cap
        else {
          val want = (sourceBytes / (32L << 20)).toInt + 1
          math.max(1, math.min(cap, want))
        }
      }

  /** Byte size of the source at `path` — the driver-side probe
    * [[adaptiveStatePartitions]] clamps on. Local paths sum
    * recursively; anything else (an `hdfs://`/`s3a://` URI, a
    * vanished dir) resolves through its Hadoop FileSystem, and a
    * probe that fails returns UNKNOWN (-1) so the partition sizing
    * fails OPEN to the session's parallelism instead of closed to
    * one state partition. */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()) match {
      case Some(children) => children.map(c => dirBytes(c.getPath)).sum
      case None =>
        try {
          // the active session's Hadoop configuration carries the
          // credentials and filesystem settings a remote probe needs
          val conf = SparkSession.getActiveSession
            .map(_.sparkContext.hadoopConfiguration)
            .getOrElse(new org.apache.hadoop.conf.Configuration())
          val p = new org.apache.hadoop.fs.Path(path)
          p.getFileSystem(conf).getContentSummary(p).getLength
        } catch { case scala.util.control.NonFatal(_) => -1L }
    }
  }

  /** Run `body` (which STARTS a streaming query) with the session's
    * shuffle partitions set by [[adaptiveStatePartitions]], restoring
    * the prior value after. Safe to restore immediately: a streaming
    * query clones the session at `start()`, so the drain keeps the
    * sized setting for its whole life while the caller's session
    * reverts. */
  def withStatePartitions[T](spark: SparkSession, sourceBytes: Long)(
      body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key,
      adaptiveStatePartitions(spark, sourceBytes).toString)
    try body finally spark.conf.set(key, old)
  }

  /** Event-time windowed counts/sums with a watermark — the streaming
    * twin of Relational.hourlyEventAgg. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Streaming dedup on key columns with bounded state: duplicates
    * arriving within the watermark horizon are dropped. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming exact-content dedup — the streaming face of the batch
    * content-hash dedup (q22): re-arrivals of the same text within the
    * watermark horizon are dropped, keyed by a 64-bit content hash so
    * the dedup state stores 8 bytes per document, not the text. */
  def dedupStreamByContent(docs: DataFrame, tsCol: String, textCol: String,
      watermarkDelay: String): DataFrame =
    docs.withColumn("_content_key", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_content_key")
      .drop("_content_key")

  /** Streaming NEAR-dup dedup: drop documents whose full SimHash
    * signature was already seen within the watermark horizon. Catches
    * re-phrasings/boilerplate variants that hash to the same signature
    * — strictly more than content-hash dedup, strictly less than the
    * batch banded join (which also pairs signatures at small Hamming
    * distance; per-element state lookups can't do candidate joins, so
    * streaming trades that recall for O(1) state per doc: a 4-byte
    * signature within the watermark horizon). Run the batch q38 join
    * over the accumulated corpus for the full near-dup sweep. */
  def dedupStreamNearDup(docs: DataFrame, tsCol: String, textCol: String,
      watermarkDelay: String, bits: Int = 28): DataFrame =
    docs.withColumn("_sig", graft.dedup.Dedup.simhash(col(textCol), bits))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_sig")
      .drop("_sig")

  /** Keyed running state: (key, runningCount, runningSum) maintained via
    * mapGroupsWithState — the custom-state primitive the reference's
    * audit/metrics tables would stream into. NoTimeout = exact lifetime
    * totals, right for small known key sets; for unbounded key spaces
    * use [[runningTotalsEvicting]], which bounds state via event-time
    * idle eviction. */
  final case class KeyedEvent(key: String, value: Double)
  final case class KeyedRunning(key: String, n: Long, total: Double)

  def runningTotals(events: Dataset[KeyedEvent]): Dataset[KeyedRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState[KeyedRunning, KeyedRunning](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedEvent],
         state: GroupState[KeyedRunning]) =>
          val prev = state.getOption.getOrElse(KeyedRunning(key, 0L, 0.0))
          val (n, total) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, s), e) => (c + 1, s + e.value)
          }
          val next = KeyedRunning(key, n, total)
          state.update(next)
          next
      }
  }

  /** [[runningTotals]] with BOUNDED state — the production entry point
    * for unbounded key spaces. Events carry an event-time column; a key
    * idle past `idleTimeoutMs` (by watermark time) has its state
    * evicted, so state size is O(recently-active keys), not O(all keys
    * ever seen). A later event for an evicted key starts fresh totals —
    * the deliberate trade for boundedness (the NoTimeout variant keeps
    * exact lifetime totals and is right for small, known key sets like
    * the audit/metrics tables). Event-time timeout keeps tests
    * deterministic: eviction fires when the WATERMARK passes, not
    * wall-clock. */
  final case class TimedKeyedEvent(key: String, value: Double,
      ts: java.sql.Timestamp)

  def runningTotalsEvicting(events: Dataset[TimedKeyedEvent],
      watermarkDelay: String, idleTimeoutMs: Long): Dataset[KeyedRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[KeyedRunning, KeyedRunning](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[TimedKeyedEvent],
         state: GroupState[KeyedRunning]) =>
          if (state.hasTimedOut) {
            // totals were emitted on every update; eviction only drops
            // the state
            state.remove()
            Iterator.empty
          } else {
            val evs = rows.toSeq
            val prev = state.getOption.getOrElse(KeyedRunning(key, 0L, 0.0))
            val next = KeyedRunning(key,
              prev.n + evs.size, prev.total + evs.iterator.map(_.value).sum)
            state.update(next)
            // timeout must land at or after the current watermark —
            // late-but-in-horizon events could otherwise set one in the
            // past, which GroupState rejects
            val lastTs = evs.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(math.max(
              lastTs + idleTimeoutMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(next)
          }
      }
  }

  /** Output mode for [[windowedAgg]] sinks: Append emits a window only
    * once its watermark passes (exactly-once semantics to files);
    * Update is for dashboards/memory sinks. */
  val defaultAggMode: OutputMode = OutputMode.Update()

  /** foreachBatch sink committing each micro-batch as one
    * [[graft.io.VersionedTable]] Append version, EXACTLY-ONCE per
    * `appId`: (appId, batchId) is recorded in the commit's history
    * operation, and a replayed batch (foreachBatch's contract is
    * at-least-once — a failure after the write but before the
    * checkpoint re-runs the batch) is detected and skipped, so rows
    * are never appended twice. Batch ids are monotonic per CHECKPOINT,
    * not per table — `appId` must change together with the checkpoint
    * location (Delta's `txnAppId` contract): keying on the bare batch
    * id would silently drop every batch of a fresh-checkpoint restart
    * until its ids exceeded the old maximum.
    *
    * The `STREAM_<appId>_BATCH_<n>` history-operation format is the
    * sink's durable idempotence record — treat it as a stable on-disk
    * format (changing it orphans in-flight streams' replay markers).
    *
    * Usage: `df.writeStream.foreachBatch(versionedAppendBatch(root,
    * "my_ingest_v1")).option("checkpointLocation", ...).start()`. */
  def versionedAppendBatch(root: String, appId: String)
      : (DataFrame, Long) => Unit = {
    // restricted alphabet: an appId containing "_BATCH_" would make one
    // app's marker a prefix of another's and corrupt the id parse.
    // Validated HERE, not in the closure: an invalid appId should fail
    // at pipeline construction, not kill the query at its first batch.
    require(appId.matches("[A-Za-z0-9.-]+"),
      s"appId must be [A-Za-z0-9.-]+, got '$appId'")
    val marker = s"STREAM_${appId}_BATCH_"
    (batch, batchId) =>
    val vt = new graft.io.VersionedTable(batch.sparkSession, root)
    // newest-first short-circuit: on a streaming table the newest
    // commit IS the last stream batch, so this reads one history file
    // per micro-batch instead of all of them
    val lastCommitted = vt.lastOperationWith(marker)
      .map(_.operation.stripPrefix(marker).toLong)
    if (lastCommitted.forall(_ < batchId) && !batch.isEmpty)
      vt.write(batch, org.apache.spark.sql.SaveMode.Append,
        s"$marker$batchId")
  }

  /** foreachBatch sink folding a CDC CHANGE FEED into a maintained
    * SCD-Type-1 table — the streaming half of
    * [[graft.incremental.Incremental.applyChanges]] (the DLT `APPLY
    * CHANGES INTO` loop, closed end to end: `changeFeedSource →
    * foreachBatch { this } → versioned table`). Each micro-batch is
    * folded to its per-key latest row by `seqCol`, merged against the
    * table's CURRENT state, and committed as ONE version — EXACTLY-ONCE
    * per `appId` via the same `STREAM_<appId>_BATCH_<n>` history
    * markers as [[versionedAppendBatch]] (foreachBatch replays are
    * detected and skipped).
    *
    * Cross-batch ordering: the table STORES `seqCol`, and the merge is
    * itself a fold-to-latest over (current state ∪ batch) — so a
    * late-arriving batch carrying an OLDER change for a key loses to
    * the stored newer sequence instead of clobbering it, the guarantee
    * the batch operator can only give within one feed. Equal-sequence
    * collisions resolve DETERMINISTICALLY: the batch row beats stored
    * state (a re-delivered change converges), and within a batch a
    * delete beats an upsert — the window orders by (seq desc,
    * batch-over-state, op asc), never by arrival. Rows whose
    * surviving op is `"delete"` leave the table (no tombstone is
    * retained: a delete followed by a LOWER-sequence upsert in a
    * later batch would resurrect the key — DLT's tombstone-retention
    * caveat; sequence-monotonic feeds, the CDC-log norm, are exact).
    *
    * The feed must be append-only AS A TABLE: rows tagged by the
    * change-feed source with `_change_type` other than `"insert"`
    * (a DV delete or rewrite of the FEED itself) fail the batch
    * loudly — folding a transport-level delete as if it were a CDC
    * command would corrupt the state.
    *
    * Scale: the per-batch fold is one window shuffle over
    * (touched state + batch), and each commit is a STATS-PRUNED
    * [[graft.io.VersionedTable.replaceWhere]]: only files whose
    * recorded key range may overlap the batch's keys are read, folded,
    * and rewritten — every other file is re-referenced byte-identical,
    * so a batch touching 1% of keys rewrites ~1% of files, not the
    * table. To give that pruning something to bite on, the state is
    * kept RANGE-CLUSTERED on the first merge key (one extra range
    * shuffle per batch over the rewritten subset — dimension-sized,
    * the SCD1 shape). Non-numeric first keys fall back to a full
    * rewrite (stats ranges are numeric).
    * `opCol` rows valued `"delete"` delete; everything else upserts. */
  /** [[versionedApplyChangesBatch]] with the DV-BACKED fold
    * ([[graft.io.VersionedTable.foldVectorized]]): each batch masks
    * ONLY the stored rows whose keys it touches and appends the fold
    * winners — per-batch write cost O(batch ∪ affected rows), where
    * even the stats-pruned replaceWhere fold rewrites every row of
    * every may-match FILE. Same exactly-once markers, same fold
    * semantics (spec pins equivalence); null-key batches still fall
    * back to the exact full fold (a NULL never semi-joins, so a
    * stored null-key row would evade its mask). Repeated batches
    * accumulate masks; run OPTIMIZE/REORG PURGE on the maintenance
    * cadence like any DV-heavy table. */
  def versionedApplyChangesBatchDv(root: String, appId: String,
      mergeKeys: Seq[String], seqCol: String, opCol: String)
      : (DataFrame, Long) => Unit =
    versionedApplyChangesBatch(root, appId, mergeKeys, seqCol, opCol,
      dvFold = true)

  /** foreachBatch sink maintaining a persisted INCREMENTAL AGGREGATE
    * from the change feed — the STREAMING MATERIALIZED VIEW: each
    * micro-batch of `changeFeedSource` rows folds into the summary
    * table via [[graft.incremental.IncrementalAgg.update]] (insert
    * and delete rows are SIGNED deltas; the base table is never
    * read), committed EXACTLY-ONCE per `appId` through the same
    * `STREAM_<appId>_BATCH_<n>` history markers as
    * [[versionedAppendBatch]] — a replayed batch is detected and
    * skipped, so no delta ever folds twice. Seed the MV with the
    * EMPTY aggregate shape (`IncrementalAgg.compute(base.limit(0))`)
    * and start the feed from version 0: the snapshot-as-inserts first
    * batch initializes the summary through the same fold that
    * maintains it. Serve queries through
    * [[graft.plans.MvRewrite]] for the full lifecycle (q254/q256).
    *
    * Scale: the fold shuffles O(batch) + O(groups), and the commit
    * rewrites the GROUPS-SIZED summary — small by the definition of
    * an aggregate MV (a summary too big to rewrite per batch wants
    * the q211 key-scoped merge instead). Layout-only base commits
    * (OPTIMIZE / REORG) contribute no feed rows and cost nothing. */
  def versionedIvmAggBatch(mvRoot: String, keys: Seq[String],
      sums: Seq[String], appId: String): (DataFrame, Long) => Unit = {
    require(appId.matches("[A-Za-z0-9.-]+"),
      s"appId must be [A-Za-z0-9.-]+, got '$appId'")
    val marker = s"STREAM_${appId}_BATCH_"
    (batch, batchId) =>
    import org.apache.spark.sql.functions.col
    val vt = new graft.io.VersionedTable(batch.sparkSession, mvRoot)
    val lastCommitted = vt.lastOperationWith(marker)
      .map(_.operation.stripPrefix(marker).toLong)
    if (lastCommitted.forall(_ < batchId) && !batch.isEmpty) {
      val cols = (keys ++ sums :+ "_change_type").map(col)
      val updated = graft.incremental.IncrementalAgg.update(
        vt.read(), batch.select(cols: _*), keys, sums)
      vt.write(updated, org.apache.spark.sql.SaveMode.Overwrite,
        s"$marker$batchId")
    }
  }

  /** foreachBatch sink maintaining a persisted STAR-JOIN streaming
    * MV: each micro-batch of the FACT's change feed enriches against
    * the CURRENT dim snapshots — the stream-static join Spark itself
    * gives a streaming fact (dims are the small star sides, so each
    * enrichment broadcasts) — and folds SIGNED into the summary via
    * [[graft.incremental.IncrementalAgg.update]], exactly-once per
    * `appId` through the same history markers as
    * [[versionedIvmAggBatch]]. The FACT is never re-aggregated and
    * the dims are never scanned beyond their (tiny) snapshots.
    *
    * Semantics contract (the stream-static standard, stated rather
    * than hidden): each fact event joins the dim state AS OF ITS
    * PROCESSING BATCH — a dim row changed between batches enriches
    * only later events, exactly like Spark's own stream-static join
    * and DLT's streaming-table-joins-dim pattern. A dim ATTRIBUTE
    * move should therefore re-sync via the BATCH
    * `REFRESH MATERIALIZED VIEW` path (exact as-of-versions, M55)
    * or a re-seed; this sink is for the high-velocity fact side.
    *
    * `dims` rows are `(dimRoot, factKeys, dimKeys)`, keys pairwise.
    * Group `keys` and `sums` resolve by name against the feed first,
    * then each dim in order. */
  def versionedIvmStarBatch(mvRoot: String,
      dims: Seq[(String, Seq[String], Seq[String])],
      keys: Seq[String], sums: Seq[String], appId: String)
      : (DataFrame, Long) => Unit = {
    require(appId.matches("[A-Za-z0-9.-]+"),
      s"appId must be [A-Za-z0-9.-]+, got '$appId'")
    val marker = s"STREAM_${appId}_BATCH_"
    (batch, batchId) =>
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val vt = new graft.io.VersionedTable(spark, mvRoot)
    val lastCommitted = vt.lastOperationWith(marker)
      .map(_.operation.stripPrefix(marker).toLong)
    if (lastCommitted.forall(_ < batchId) && !batch.isEmpty) {
      val dimDfs = dims.map { case (root, _, _) =>
        new graft.io.VersionedTable(spark, root).read() }
      val enriched = dims.zipWithIndex.foldLeft(batch.as("__f")) {
        case (acc, ((_, fks, dks), i)) =>
          val cond = fks.zip(dks).map { case (a, b) =>
            col(s"__f.$a") === col(s"__d$i.$b") }.reduce(_ && _)
          acc.join(dimDfs(i).as(s"__d$i"), cond, "inner")
      }
      val factCols = batch.columns.toSet
      def res(c: String): org.apache.spark.sql.Column =
        if (factCols.contains(c)) col(s"__f.$c")
        else dimDfs.indexWhere(_.columns.contains(c)) match {
          case -1 => sys.error(s"streaming star MV column $c is in " +
            "neither the feed nor any dim")
          case i => col(s"__d$i.$c")
        }
      val projected = enriched.select(
        (keys ++ sums).map(c => res(c).as(c)) :+
          col("__f._change_type").as("_change_type"): _*)
      val updated = graft.incremental.IncrementalAgg.update(
        vt.read(), projected, keys, sums)
      vt.write(updated, org.apache.spark.sql.SaveMode.Overwrite,
        s"$marker$batchId")
    }
  }

  def versionedApplyChangesBatch(root: String, appId: String,
      mergeKeys: Seq[String], seqCol: String, opCol: String,
      dvFold: Boolean = false)
      : (DataFrame, Long) => Unit = {
    require(appId.matches("[A-Za-z0-9.-]+"),
      s"appId must be [A-Za-z0-9.-]+, got '$appId'")
    val marker = s"STREAM_${appId}_BATCH_"
    (batch0, batchId) =>
    import org.apache.spark.sql.functions.{col, count, lit, min, max, row_number}
    val spark = batch0.sparkSession
    val vt = new graft.io.VersionedTable(spark, root)
    val lastCommitted = vt.lastOperationWith(marker)
      .map(_.operation.stripPrefix(marker).toLong)
    if (lastCommitted.forall(_ < batchId) && !batch0.isEmpty) {
      // the change-feed source tags rows _change_type; the CDC ops the
      // fold consumes live in opCol, so the tag is transport metadata —
      // but only the "insert" tag is foldable (see scaladoc)
      if (batch0.columns.contains("_change_type"))
        require(batch0.filter(col("_change_type") =!= "insert").isEmpty,
          s"CDC apply feed for $root carries non-insert _change_type " +
            "rows (the FEED table was rewritten/deleted from); these " +
            "are transport-level changes, not CDC commands — re-seed " +
            "the stream from a snapshot instead of folding them")
      val batch = batch0.drop("_change_type")
      val cols = batch.columns.toSeq
      require(cols.contains(seqCol) && cols.contains(opCol),
        s"feed must carry $seqCol and $opCol; has ${cols.mkString(",")}")
      val keyCol = mergeKeys.head
      def fold(state: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(mergeKeys.map(col): _*)
          .orderBy(col(seqCol).desc, col("_ac_src").desc, col(opCol).asc)
        state.withColumn("_ac_src", lit(0))
          .unionByName(batch.withColumn("_ac_src", lit(1)))
          .withColumn("_ac_rn", row_number().over(w))
          .filter(col("_ac_rn") === 1 && col(opCol) =!= "delete")
          .drop("_ac_rn", "_ac_src", opCol)
          // range-clustered on the key so the NEXT batch's stats
          // pruning can prove files disjoint from its key envelope
          .repartitionByRange(col(keyCol))
      }
      if (vt.currentVersion.isEmpty) {
        vt.write(fold(batch.limit(0)),
          org.apache.spark.sql.SaveMode.Overwrite, s"$marker$batchId")
        ()
      } else {
        // Stats-pruned fold (M35): scan only the state files that MAY
        // hold the batch's keys (the key's [min, max] envelope through
        // VersionedTable.scanMayMatch, which refuses to prune where
        // the stats cannot decide: a bound beyond 2^53, a NaN, a key
        // type without stats), re-reference the rest untouched. A NULL
        // key in the batch falls back to the full fold: it would never
        // be seen against null-key state rows living in envelope-
        // pruned files (the window dedup needs them in the same fold —
        // two rows for the null key otherwise).
        def fullFold(): Unit = {
          val state = vt.read().withColumn(opCol, lit("upsert"))
            .select(cols.map(col): _*)
          vt.write(fold(state), org.apache.spark.sql.SaveMode.Overwrite,
            s"$marker$batchId")
          ()
        }
        def prunedFold(scan: DataFrame,
            keep: graft.io.ManifestEntry => Boolean, basisV: Long): Unit = {
          val state = scan.withColumn(opCol, lit("upsert"))
            .select(cols.map(col): _*)
          vt.replaceWhere(fold(state), keep, s"$marker$batchId",
            basisVersion = Some(basisV))
          ()
        }
        import org.apache.spark.sql.types._
        if (dvFold) {
          // DV fold: exact semi-join membership makes every key TYPE
          // safe (stats only PRUNE candidates; they never decide
          // membership) — the one hazard is NULL in ANY merge key,
          // which never semi-joins and would evade its mask
          val nullCheck = batch.agg(count(lit(1)),
            mergeKeys.map(k => count(col(k))): _*).head()
          val hasNullKey = mergeKeys.indices
            .exists(i => nullCheck.getLong(i + 1) != nullCheck.getLong(0))
          if (hasNullKey) fullFold()
          else {
            vt.foldVectorized(batch, mergeKeys, s"$marker$batchId") {
              affected =>
                fold(affected.withColumn(opCol, lit("upsert"))
                  .select(cols.map(col): _*))
            }
            ()
          }
        } else batch.schema(keyCol).dataType match {
          case _: NumericType | StringType | DateType | TimestampType =>
            // the batch's typed key envelope and its null check: four
            // scalars off one batch-sized scan
            val env = batch.agg(min(col(keyCol)), max(col(keyCol)),
              count(lit(1)), count(col(keyCol))).head()
            if (env.isNullAt(0) || env.getLong(2) != env.getLong(3))
              fullFold()
            else {
              val (scan, keep, basisV) = vt.scanMayMatch(col(keyCol)
                .between(lit(env.get(0)), lit(env.get(1))))
              prunedFold(scan, keep, basisV)
            }
          case _ => fullFold() // no stats semantics for this key type
        }
      }
    }
  }

  /** STREAM-STREAM inner join with bounded state: both sides carry an
    * event-time watermark, and `cond` must include a time-range bound
    * between the two event-time columns (e.g. `right.ts BETWEEN
    * left.ts AND left.ts + INTERVAL x`) so Spark can derive how long
    * each side's rows must be buffered. State is then
    * O(rows inside the watermark+range horizon) per side, not the
    * whole stream — the only shape under which an unbounded
    * stream-stream join is runnable at all. Inner joins emit each
    * matched pair exactly once, as soon as both rows are present, so
    * with `Trigger.AvailableNow` the emitted set equals the batch
    * join — which is exactly what q172 hash-pins cross-engine. */
  def intervalJoin(left: DataFrame, leftTsCol: String, leftDelay: String,
      right: DataFrame, rightTsCol: String, rightDelay: String,
      cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftDelay)
      .join(right.withWatermark(rightTsCol, rightDelay), cond)

  /** STREAM-STREAM LEFT-OUTER interval join — the attribution shape
    * production pipelines actually need (every click accounted for:
    * converted OR provably unconverted). Matched pairs emit exactly
    * like the inner join, as soon as both rows are present; an
    * UNMATCHED left row emits once, right columns null, only after
    * the event-time watermark passes its join horizon (left ts +
    * range bound) — before that a match could still arrive, so
    * emitting earlier would be wrong, and never emitting would lose
    * the row. Same state bound as [[intervalJoin]]: each side
    * buffers O(watermark + range horizon); the left row's state is
    * DROPPED at the same watermark crossing that emits its null row.
    * Under `Trigger.AvailableNow` the trailing no-data batch
    * advances the watermark to max(event time) − delay (min across
    * the two streams), so the emitted set is deterministic: batch
    * left join restricted to left rows whose horizon the final
    * watermark passed — exactly what the q183 oracle replays. */
  def intervalJoinLeftOuter(left: DataFrame, leftTsCol: String,
      leftDelay: String, right: DataFrame, rightTsCol: String,
      rightDelay: String, cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftDelay)
      .join(right.withWatermark(rightTsCol, rightDelay), cond, "left_outer")

  /** STREAM-STREAM RIGHT-OUTER interval join — the mirror of
    * [[intervalJoinLeftOuter]] (every RIGHT row accounted for:
    * matched, or emitted once with left columns null after its
    * watermark horizon passes), completing the join family's fifth
    * type. Provided as a first-class member rather than "swap your
    * sides": attribution pipelines often read more naturally with the
    * conversion stream on the right, and the state/emission bounds
    * are exactly the left-outer ones mirrored. */
  def intervalJoinRightOuter(left: DataFrame, leftTsCol: String,
      leftDelay: String, right: DataFrame, rightTsCol: String,
      rightDelay: String, cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftDelay)
      .join(right.withWatermark(rightTsCol, rightDelay), cond, "right_outer")

  /** STREAM-STREAM FULL-OUTER interval join — BOTH ledgers complete:
    * every left row accounted for (as [[intervalJoinLeftOuter]]) AND
    * every right row (orphaned conversions surface instead of
    * silently dropping — the reconciliation shape audit pipelines
    * need). Matched pairs emit like the inner join; each side's
    * unmatched rows emit once, other side null, only after the
    * event-time watermark passes THAT row's own join horizon (for a
    * right row whose matches satisfy `left_ts ∈ [right_ts − range,
    * right_ts]`, the horizon is simply its own event time). State
    * bound unchanged: O(watermark + range horizon) per side, and each
    * row's state drops at the same crossing that emits its null row. */
  def intervalJoinFullOuter(left: DataFrame, leftTsCol: String,
      leftDelay: String, right: DataFrame, rightTsCol: String,
      rightDelay: String, cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftDelay)
      .join(right.withWatermark(rightTsCol, rightDelay), cond, "full_outer")

  /** STREAM-STREAM LEFT-SEMI interval join — "keep the clicks that
    * converted", without materializing the match columns: each left
    * row emits AT MOST ONCE, as soon as its FIRST match arrives (no
    * horizon wait — a semi row needs no null-completion), and an
    * unmatched left row silently ages out of state at its watermark
    * horizon. Same bounded-state contract as [[intervalJoin]]; under
    * `Trigger.AvailableNow` the emitted set equals the batch EXISTS —
    * the simplest deterministic member of the join family, and the
    * shape dedup-style gating pipelines want (emit each qualifying
    * row once, never one output per match). */
  def intervalJoinLeftSemi(left: DataFrame, leftTsCol: String,
      leftDelay: String, right: DataFrame, rightTsCol: String,
      rightDelay: String, cond: org.apache.spark.sql.Column): DataFrame =
    left.withWatermark(leftTsCol, leftDelay)
      .join(right.withWatermark(rightTsCol, rightDelay), cond, "left_semi")

  // ------------------------------------------------------------ sessions

  final case class SessionEvent(key: String, ts: java.sql.Timestamp)
  final case class SessionSummary(key: String,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)
  /** Internal per-key state (public: the state Encoder's generated code
    * needs the constructor). */
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Gap-based sessionization via flatMapGroupsWithState — the
    * custom-state operator with a 1:N row↔output relationship that
    * mapGroupsWithState cannot express. A session closes (and emits)
    * when a same-key event arrives more than `gapMs` after the last
    * one, or when the event-time watermark passes last + gap with no
    * arrivals (EventTimeTimeout — so idle keys' state is evicted, not
    * retained forever; that bound is what keeps state size O(active
    * keys) on an unbounded stream).
    *
    * Within a micro-batch, events are processed in event-time order per
    * key, so results do not depend on arrival order inside a batch. */
  /** Stream a versioned table's commits (the Delta streaming source,
    * reference `readStream.format("delta")`): the first micro-batch is
    * the current snapshot, each later one exactly the files a version
    * range appended — planned from manifests, zero directory listing.
    * Offsets are version numbers and checkpoint-resume across
    * restarts. `ignoreChanges` tolerates non-append commits by
    * streaming only their added files (at-least-once for rewritten
    * rows); without it such commits fail the query loudly. Vacuum
    * retention must cover the stream's maximum lag. */
  def versionedSource(spark: SparkSession, root: String,
      ignoreChanges: Boolean = false,
      maxVersionsPerBatch: Option[Long] = None,
      startingVersion: Option[Long] = None,
      startingTimestamp: Option[String] = None,
      maxFilesPerBatch: Option[Long] = None,
      endingVersion: Option[Long] = None,
      endingTimestamp: Option[String] = None,
      ignoreDeletes: Boolean = false,
      skipChangeCommits: Boolean = false): DataFrame = {
    val r00 = spark.readStream
      .format(classOf[
        org.apache.spark.sql.graftbridge.VersionedStreamSourceProvider].getName)
      .option("path", root)
      .option("ignoreChanges", ignoreChanges.toString)
    // per-commit tolerance (Delta's finer-grained options): delete-only
    // commits admitted without rows / rewrite commits skipped wholesale
    val r0 = (if (ignoreDeletes) r00.option("ignoreDeletes", "true")
              else r00) match {
      case b => if (skipChangeCommits) b.option("skipChangeCommits", "true")
                else b
    }
    val r1 = maxVersionsPerBatch.fold(r0)(m =>
      r0.option("maxVersionsPerBatch", m.toString))
    val r2 = startingVersion.fold(r1)(v =>
      r1.option("startingVersion", v.toString))
    val r3 = startingTimestamp.fold(r2)(ts =>
      r2.option("startingTimestamp", ts))
    val r4 = maxFilesPerBatch.fold(r3)(m =>
      r3.option("maxFilesPerBatch", m.toString))
    val r5 = endingVersion.fold(r4)(v =>
      r4.option("endingVersion", v.toString))
    endingTimestamp.fold(r5)(ts =>
      r5.option("endingTimestamp", ts)).load()
  }

  /** STREAMING CHANGE FEED over a versioned table (Delta
    * `readStream.option("readChangeFeed", true)`): rows tagged
    * `_change_type` — the initial batch is the snapshot as inserts,
    * appends stream as inserts, DV deletes as delete rows (the newly
    * masked rows, read back from the files + mask delta), and pure
    * OPTIMIZE/REORG PURGE windows contribute NOTHING — so a
    * downstream IVM consumer does zero work for layout churn. A
    * rewrite it cannot express row-level fails loudly; keep the
    * stream's lag inside the maintenance cadence. Offsets are
    * versions, checkpoint-resumable like [[versionedSource]]. */
  def changeFeedSource(spark: SparkSession, root: String,
      startingVersion: Option[Long] = None,
      startingTimestamp: Option[String] = None,
      endingVersion: Option[Long] = None,
      endingTimestamp: Option[String] = None,
      withCommitMeta: Boolean = false): DataFrame = {
    val r00 = spark.readStream
      .format(classOf[
        org.apache.spark.sql.graftbridge.VersionedStreamSourceProvider].getName)
      .option("path", root)
      .option("readChangeFeed", "true")
    // Delta CDF's _commit_version/_commit_timestamp columns, stamped
    // per version slice from the manifest log + M33 commit times
    val r0 = if (withCommitMeta) r00.option("changeFeedMeta", "true")
             else r00
    val r1 = startingVersion.fold(r0)(v =>
      r0.option("startingVersion", v.toString))
    val r2 = startingTimestamp.fold(r1)(ts =>
      r1.option("startingTimestamp", ts))
    val r3 = endingVersion.fold(r2)(v =>
      r2.option("endingVersion", v.toString))
    endingTimestamp.fold(r3)(ts =>
      r3.option("endingTimestamp", ts)).load()
  }

  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
      watermarkDelay: String): Dataset[SessionSummary] = {
    require(gapMs > 0, s"session gap must be positive, got $gapMs")
    val spark = events.sparkSession
    import spark.implicits._
    def summary(key: String, s: SessionState): SessionSummary =
      SessionSummary(key, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.n)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val closed = summary(key, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val ordered = rows.toSeq.sortBy(_.ts.getTime)
            val out = Seq.newBuilder[SessionSummary]
            var cur = state.getOption
            ordered.foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.last <= gapMs =>
                  Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  out += summary(key, s)
                  Some(SessionState(t, t, 1))
                case None =>
                  Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp as in runningTotalsEvicting: a late-but-in-horizon
              // event can put last + gap at/behind the current watermark,
              // which GroupState rejects and the query dies
              state.setTimeoutTimestamp(math.max(
                s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}
