package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.VersionedTable
import graft.similarity.Similarity

/** PERSISTENT lexical (BM25) retrieval index — the SPARSE sibling of
  * [[graft.similarity.IvfIndex]]: build once, query many, versioned.
  * Classic search-engine shape (inverted index + Okapi BM25, the
  * Robertson/Spärck-Jones family q60 already scores with), laid out
  * for manifest partition pruning instead of a posting-file format.
  *
  * Two tables under one root:
  *  - `postings` — one row per (term, doc): `(term, doc_id, n_td,
  *    len_d, bucket)`, hive-partitioned by `bucket` =
  *    `pmod(xxhash64(term), nBuckets)`. A query tokenizes, hashes its
  *    terms, and plans ONLY those buckets' files via
  *    `readWherePartitionIn` — at 4096 buckets a 5-term query reads
  *    ≤ 5/4096 of the index regardless of corpus size. Doc length
  *    rides ON the posting row (the standard impact-index
  *    denormalization) so scoring needs no doc-stats join.
  *  - `stats` — ONE row per commit: `(n_docs, sum_len, n_buckets)`.
  *    Corpus-level BM25 inputs are ADDITIVE, so append commits a new
  *    partial row and query time folds them (`sum`) — N and avg_len
  *    always reflect every committed batch without rescanning
  *    anything bigger than a few rows.
  *
  * Term document frequencies are deliberately NOT stored: df(t) is
  * the length of t's posting list, which the query's pruned scan
  * already holds — one `count` per query term over rows it was
  * reading anyway. Storing df would go stale on every append.
  *
  * Scoring sums per-term BM25 contributions per (query, doc). The
  * cross-term sum is made ORDER-INSENSITIVE the q86 way: each
  * contribution rounds to 1e-6 and sums as LONG (exact in any
  * partitioning / engine), with one float division at output — this
  * is what lets an external SQL oracle hash-match a distributed sum
  * of doubles. Rebuilds are new versions; old index versions stay
  * readable via time travel. */
object LexicalIndex {

  val DefaultBuckets = 16

  /** Tokenize + count + commit postings and the stats row. Returns
    * the postings table's new version. */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, root: String,
      nBuckets: Int = DefaultBuckets): Long = {
    val (postings, stats) = indexRows(docs, idCol, textCol, nBuckets)
    new VersionedTable(spark, s"$root/stats").write(stats)
    new VersionedTable(spark, s"$root/postings")
      .write(postings, partitionBy = Some(Seq("bucket")))
  }

  /** Incremental ingest: index NEW docs and append their postings
    * (landing in matching bucket partitions) plus one additive stats
    * row. Queries immediately score old + new corpus; time travel
    * still serves the pre-append index. */
  def append(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, root: String): Long = {
    val nBuckets = readStats(spark, root)._3
    val (postings, stats) = indexRows(docs, idCol, textCol, nBuckets)
    new VersionedTable(spark, s"$root/stats").write(stats, SaveMode.Append)
    new VersionedTable(spark, s"$root/postings")
      .write(postings, SaveMode.Append)
  }

  /** Row-level DELETE of indexed docs — the q69/q70 lifecycle parity
    * for the sparse index: DV-mask the victims' posting rows
    * (O(deleted postings) sidecar bytes, zero file rewrites) and
    * append a NEGATIVE stats row so N and avg_len stop counting them.
    * Everything at query time self-corrects: df folds from the
    * DV-masked pruned scan (a deleted doc's postings stop existing
    * the moment the mask commit lands), and the additive stats fold
    * nets out the deleted docs. Masks land BEFORE the stats row (the
    * IvfPqIndex.delete ordering argument: a crash in between leaves N
    * slightly stale — scores shift, no ghost results). Time travel
    * still serves the pre-delete index. */
  def delete(spark: SparkSession, root: String, docIds: DataFrame): Unit = {
    val ids = docIds.select(docIds.columns.head)
      .toDF("doc_id").select(col("doc_id").cast("long").as("doc_id"))
    val p = new VersionedTable(spark, s"$root/postings")
    // stats correction from the still-visible postings: one (len_d)
    // row per indexed victim (docs with no postings never counted)
    val gone = p.read().join(ids, Seq("doc_id"), "left_semi")
      .select("doc_id", "len_d").distinct()
      .agg(count(lit(1)), sum("len_d")).collect()(0)
    val (k, l) = (gone.getLong(0), if (gone.isNullAt(1)) 0L else gone.getLong(1))
    p.deleteVectorizedKeys("doc_id", ids)
    if (k > 0) {
      val nBuckets = readStats(spark, root)._3
      import spark.implicits._
      new VersionedTable(spark, s"$root/stats").write(
        Seq((-k, -l, nBuckets)).toDF("n_docs", "sum_len", "n_buckets"),
        SaveMode.Append)
    }
  }

  /** UPSERT (MERGE by doc id): [[delete]] any existing postings for
    * the incoming ids — which also nets their old length out of the
    * stats — then [[append]] the fresh tokenization. O(matched
    * postings) masks + O(new postings) data; mirrors
    * [[graft.similarity.IvfPqIndex.upsert]]. */
  def upsert(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, root: String): Long = {
    delete(spark, root, docs.select(col(idCol)))
    append(spark, docs, idCol, textCol, root)
  }

  /** Streaming ingest: a foreachBatch sink indexing each micro-batch
    * of `(idCol, textCol)` docs into an EXISTING index (build the
    * empty/seed index first), EXACTLY-ONCE per `appId` via the
    * `Streaming.versionedAppendBatch` marker contract. The index
    * writes TWO tables per batch, so each table carries its OWN
    * `STREAM_<appId>_BATCH_<n>` marker and a replayed batch
    * (foreachBatch is at-least-once) completes whichever commit is
    * missing and skips the one that landed — postings are never
    * doubled and the additive stats never double-count. Same appId ↔
    * checkpoint coupling as the versioned sink (batch ids are
    * monotonic per checkpoint).
    *
    * Usage: `docsStream.writeStream.foreachBatch(
    * LexicalIndex.streamingIngestBatch("doc_id", "text", root,
    * "lex-ingest-v1")).option("checkpointLocation", …).start()`. */
  def streamingIngestBatch(idCol: String, textCol: String, root: String,
      appId: String): (DataFrame, Long) => Unit = {
    require(appId.matches("[A-Za-z0-9.-]+"),
      s"appId must be [A-Za-z0-9.-]+, got '$appId'")
    val marker = s"STREAM_${appId}_BATCH_"
    (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val nBuckets = readStats(spark, root)._3
        val (postings, stats) = indexRows(batch, idCol, textCol, nBuckets)
        def appendOnce(table: String, df: DataFrame): Unit = {
          val vt = new VersionedTable(spark, s"$root/$table")
          val last = vt.lastOperationWith(marker)
            .map(_.operation.stripPrefix(marker).toLong)
          if (last.forall(_ < batchId))
            vt.write(df, SaveMode.Append, s"$marker$batchId")
        }
        appendOnce("stats", stats)
        appendOnce("postings", postings)
      }
  }

  /** OPTIMIZE the postings table: fold append churn's small files and
    * purge accumulated DV masks by rewriting survivors (bucket
    * partitioning is table metadata — pruning is unaffected). */
  def compact(spark: SparkSession, root: String,
      targetFileMB: Int = 128): Unit =
    new VersionedTable(spark, s"$root/postings").compact(targetFileMB)

  /** BM25 top-k docs per query row. Plans only the query terms'
    * bucket partitions of `postings`; df folds from the pruned rows;
    * N / avg_len fold from the stats table. */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (nDocs, sumLen, nBuckets) = readStats(spark, root)
    val avgLen = sumLen.toDouble / nDocs
    // DISTINCT query terms (classical binary query-side weighting —
    // also what keeps the oracle one DISTINCT away from the corpus SQL)
    val qt = queries.select(col(idCol).cast("long").as("q_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val buckets = qt.select(
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0).toString).toSet
    val p = new VersionedTable(spark, s"$root/postings")
      .readWherePartitionIn("bucket", buckets)
    // df(t) = posting-list length, computed over rows the pruned scan
    // yields anyway (semi-join keeps only the query's terms)
    val dft = p.join(broadcast(qt.select("term").distinct()),
        Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df_t"))
    val idf = log((lit(nDocs) - col("df_t") + lit(0.5)) /
      (col("df_t") + lit(0.5)) + lit(1.0))
    val sat = (col("n_td") * (lit(k1) + 1)) /
      (col("n_td") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("len_d") / lit(avgLen)))
    val scored = p.join(broadcast(qt), "term")
      .join(broadcast(dft), "term")
      .withColumn("_c6", round(idf * sat * lit(1e6)).cast("long"))
      .groupBy(col("q_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("_c6")).as("_si"))
    Similarity.keepTopPerQuery(scored, k,
        Seq(col("_si").desc, col("neighbor_id").asc))
      .select(col("q_id"), col("neighbor_id"),
        (col("_si").cast("double") / lit(1e6)).as("bm25"))
      .orderBy("q_id", "neighbor_id")
  }

  /** `(postings, statsRow)` for one batch of docs.
    *
    * The postings frame is REPARTITIONED BY BUCKET before the caller
    * writes it: an unclustered `partitionBy(bucket)` write has every
    * write task emit one file per bucket it sees — `shuffle.partitions
    * × nBuckets` small files, a per-file commit cost that GROWS with
    * core count (q88 measured 3× FASTER on 8 cores than 32; c8/c32
    * ratio 0.35). Clustered ([[graft.io.WriteLayout.byPartitionValue]]),
    * a KB-scale batch writes exactly nBuckets files regardless of
    * cores, and adaptive execution splits a bucket past the advisory
    * partition size into a few files. Layout-only — the persisted index
    * shape (hive-partitioned by bucket) and every query result are
    * unchanged. */
  private def indexRows(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): (DataFrame, DataFrame) = {
    val tf = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("n_td"))
      .localCheckpoint() // feeds len, postings, and the stats fold once
    val len = tf.groupBy("doc_id").agg(sum("n_td").as("len_d"))
    val postings = graft.io.WriteLayout.byPartitionValue(
      tf.join(len, "doc_id").withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong))),
      Some("bucket"))
    val stats = len.agg(count(lit(1)).as("n_docs"),
      sum("len_d").as("sum_len"), lit(nBuckets).as("n_buckets"))
    (postings, stats)
  }

  /** Fold the additive stats rows: (N, Σlen, nBuckets). */
  private def readStats(spark: SparkSession,
      root: String): (Long, Long, Int) = {
    val r = new VersionedTable(spark, s"$root/stats").read()
      .agg(sum("n_docs"), sum("sum_len"), max("n_buckets"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getInt(2))
  }
}
