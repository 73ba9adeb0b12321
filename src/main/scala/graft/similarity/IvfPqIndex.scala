package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.VersionedTable

/** PERSISTENT IVF+PQ ANN index — [[IvfIndex]]'s memory-bound sibling
  * and the true 100 TB shape: what persists per vector is its
  * inverted-list id and m PQ codes (64× smaller than the raw
  * vector), hive-partitioned BY CLUSTER, plus the raw vectors for the
  * bounded exact re-rank and the model (centroids + residual
  * codebooks) as tiny tables. All four are versioned commits under
  * one root: rebuilds are new versions, old indexes stay readable.
  *
  * Query probes the stored model, scans ONLY the probed clusters'
  * CODES files (manifest partition pruning — at nlist=4096/nprobe=64
  * that is ~1.6% of an already-64×-compressed table), ADC-ranks with
  * the sharded top-r, and exact-cosine re-ranks the survivors against
  * the raw-vector table — itself cluster-partitioned by the same
  * assignment, so the re-rank scan plans only the probed clusters'
  * vector files (a join whose left side is queries×rerank rows never
  * pays a full-table scan). Training, probe rule, encoding, ADC fold, and rank are the
  * SAME code as [[Similarity.ivfPqTopK]] ([[Similarity.ivfPqModel]] /
  * [[Similarity.ivfPqQuerySide]] / [[Similarity.adcRerank]]), so
  * results are identical for equal parameters — q70 hash-checks this
  * path against q58's generated frozen-model oracle. */
object IvfPqIndex {

  /** Train + encode + commit the index tables. Returns the codes
    * table's new version.
    *
    * The raw-vector table is hive-partitioned BY CLUSTER exactly like
    * the codes — using the codes' OWN assignment, so a candidate id
    * surfacing from a probed cluster's codes is guaranteed to sit in
    * that same cluster's vector partition. That makes the re-rank
    * read partition-pruned too: [[query]] plans only the probed
    * clusters' vector files, never the full table (at 100 TB the
    * full-scan alternative would dwarf the pruned codes probe the
    * index exists to provide). */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, root: String, nlist: Int, m: Int, ksub: Int,
      iters: Int = 2): Long = {
    val corpusN = Similarity.normalizedFrame(corpus, idCol, vecCol)
    val (centroids, codebooks, codes) =
      Similarity.ivfPqModel(corpusN, nlist, m, ksub, iters)
    import spark.implicits._
    new VersionedTable(spark, s"$root/centroids").write(
      centroids.zipWithIndex.flatMap { case (c, cl) =>
        c.zipWithIndex.map { case (x, pos) => (cl, pos, x) }
      }.toIndexedSeq.toDF("cluster", "pos", "x"))
    new VersionedTable(spark, s"$root/codebooks").write(
      (for {
        j <- codebooks.indices
        code <- codebooks(j).indices
        (x, pos) <- codebooks(j)(code).zipWithIndex
      } yield (j, code, pos, x)).toIndexedSeq.toDF("j", "code", "pos", "x"))
    // cluster both partitioned writes by their hive column — see
    // graft.io.WriteLayout: unclustered, file count = write tasks ×
    // clusters and grows with core count
    new VersionedTable(spark, s"$root/vectors").write(
      graft.io.WriteLayout.byPartitionValue(
        corpus.select(col(idCol).cast("long").as("id"),
          Similarity.toDouble(col(vecCol)).as("v"))
          .join(codes.select(col("id"), col("cluster")), "id"),
        Some("cluster")),
      partitionBy = Some(Seq("cluster")))
    new VersionedTable(spark, s"$root/codes")
      .write(graft.io.WriteLayout.byPartitionValue(codes, Some("cluster")),
        partitionBy = Some(Seq("cluster")))
  }

  /** Incremental ingest: normalize, assign, and residual-encode NEW
    * vectors with the STORED model (no retraining — the standard
    * IVFPQ append; retrain = [[build]]) and append-commit codes +
    * raw vectors. Queries immediately see old + new; time travel
    * still serves the pre-append index. */
  def append(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, root: String): Long = {
    val (centroids, codebooks) = loadModel(spark, root)
    val dsub = codebooks(0)(0).length
    val assigned = Similarity.withCluster(
      Similarity.normalizedFrame(vectors, idCol, vecCol), centroids)
    val resid = assigned.withColumn("v",
      Similarity.residualOf(centroids)(col("v"), col("cluster")))
    val codes = Similarity.withPqCodes(resid, codebooks, dsub)
      .select("id", "cluster", "codes")
    // raw vectors inherit the SAME stored-model assignment as their
    // codes, so the append lands in matching cluster partitions and
    // query-time re-rank pruning keeps holding over appended data
    new VersionedTable(spark, s"$root/vectors").write(
      vectors.select(col(idCol).cast("long").as("id"),
        Similarity.toDouble(col(vecCol)).as("v"))
        .join(assigned.select(col("id"), col("cluster")), "id"),
      org.apache.spark.sql.SaveMode.Append)
    new VersionedTable(spark, s"$root/codes")
      .write(codes, org.apache.spark.sql.SaveMode.Append)
  }

  /** UPSERT (MERGE by id): ONE DV-backed MERGE commit PER TABLE
    * ([[graft.io.VersionedTable.mergeVectorized]]) — matched rows
    * retire via masks, the re-encoded rows append, so within each
    * table a reader never sees an id absent or doubled (the old
    * delete-then-append left a two-commit absent window per table).
    * Stored-model assignment + residual encode, exactly [[append]]'s
    * kernels; changed embeddings may MOVE cluster partitions (the
    * merge masks the old cluster's row and appends into the new
    * one's). O(matched) masks + O(new) data; the index never rebuilds
    * and every intermediate state stays time-travelable. Duplicate
    * incoming ids are refused. */
  def upsert(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, root: String): Long = {
    val (centroids, codebooks) = loadModel(spark, root)
    val dsub = codebooks(0)(0).length
    val assigned = Similarity.withCluster(
      Similarity.normalizedFrame(vectors, idCol, vecCol), centroids)
    val resid = assigned.withColumn("v",
      Similarity.residualOf(centroids)(col("v"), col("cluster")))
    val codes = Similarity.withPqCodes(resid, codebooks, dsub)
      .select("id", "cluster", "codes")
    new VersionedTable(spark, s"$root/vectors").mergeVectorized(
      vectors.select(col(idCol).cast("long").as("id"),
        Similarity.toDouble(col(vecCol)).as("v"))
        .join(assigned.select(col("id"), col("cluster")), "id"),
      Seq("id"))
    new VersionedTable(spark, s"$root/codes")
      .mergeVectorized(codes, Seq("id"))
  }

  /** Row-level DELETE of indexed ids from BOTH index tables via
    * deletion vectors — O(deleted rows) sidecars, zero file rewrites,
    * no retraining (the model keeps quantizing the survivors; that is
    * the standard IVF semantics — rebuild to re-train). Vectors are
    * masked FIRST: the exact re-rank inner-joins the raw-vector
    * table, so a deleted id stops being returnable the moment that
    * commit lands, even if the codes mask hasn't landed yet (the
    * stale code row only wastes a candidate slot). Old versions of
    * both tables still serve the pre-delete index via time travel. */
  def delete(spark: SparkSession, root: String, ids: Set[Long]): Unit =
    if (ids.nonEmpty) {
      val matches = col("id").isin(ids.toSeq: _*)
      new VersionedTable(spark, s"$root/vectors").deleteVectorizedWhere(matches)
      new VersionedTable(spark, s"$root/codes").deleteVectorizedWhere(matches)
    }

  /** DISTRIBUTED delete — ids as a single-column FRAME through the
    * semi-join mask kernel ([[graft.io.VersionedTable
    * .deleteVectorizedKeys]]): victims never collect to the driver
    * (only the [min, max] envelope does, for pruning). Vectors mask
    * first, as the Set overload (a deleted id is unreturnable from
    * that commit on; a stale code row only wastes a candidate slot).
    * The frame is checkpointed once here so the two table commits
    * mask the SAME id set even if `ids` is non-deterministic. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    val pinned = ids.localCheckpoint()
    new VersionedTable(spark, s"$root/vectors")
      .deleteVectorizedKeys("id", pinned)
    new VersionedTable(spark, s"$root/codes")
      .deleteVectorizedKeys("id", pinned)
    ()
  }

  /** OPTIMIZE both data tables of the index: repeated [[append]]s
    * accumulate small files per cluster partition; compaction rewrites
    * each snapshot into ~`targetFileMB` files as a NEW version
    * (partitioning is table metadata, so the rewrite stays
    * cluster-partitioned and query pruning is unaffected), and purges
    * accumulated deletion-vector masks by rewriting survivors. */
  def compact(spark: SparkSession, root: String,
      targetFileMB: Int = 128): Unit = {
    new VersionedTable(spark, s"$root/vectors").compact(targetFileMB)
    new VersionedTable(spark, s"$root/codes").compact(targetFileMB)
  }

  /** The stored model back as driver-side arrays (both tables are
    * broadcast-sized by construction). */
  def loadModel(spark: SparkSession, root: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val centroids = IvfIndex.loadCentroids(spark, root)
    val rows = new VersionedTable(spark, s"$root/codebooks").read()
      .select("j", "code", "pos", "x").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val dsub = rows.map(_.getInt(2)).max + 1
    val cbs = Array.ofDim[Double](m, ksub, dsub)
    rows.foreach(r => cbs(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
    (centroids, cbs)
  }

  /** ANN top-k against the persisted index: probe lists from the
    * stored model, codes scan partition-pruned to the probed
    * clusters, sharded ADC top-`rerank`, exact re-rank on the stored
    * raw vectors. */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      rerank: Int = 0): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    val (centroids, codebooks) = loadModel(spark, root)
    val q = Similarity.ivfPqQuerySide(
      queries, idCol, vecCol, centroids, codebooks, nprobe)
    val probed = q.select("cluster").distinct()
      .collect().map(_.getInt(0).toString).toSet
    val codes = new VersionedTable(spark, s"$root/codes")
      .readWherePartitionIn("cluster", probed)
      .select(col("id").as("neighbor_id"),
        col("cluster").cast("int").as("cluster"), col("codes"))
    // every ADC candidate comes from a probed cluster's codes, and
    // vectors are partitioned by the SAME assignment — so the re-rank
    // scan plans only the probed clusters' vector files (manifest
    // pruning), never the full raw-vector table
    val vecs = new VersionedTable(spark, s"$root/vectors")
      .readWherePartitionIn("cluster", probed)
      .select(col("id").as("neighbor_id"), col("v"))
      .withColumn("nv", sqrt(Similarity.dot(col("v"), col("v"))))
    Similarity.adcRerank(q, codes, vecs, r, k)
  }
}
