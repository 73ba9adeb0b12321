package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.VersionedTable

/** PERSISTENT IVF ANN index — the build-once / query-many lifecycle
  * [[Similarity.ivfTopK]] (train+search in one call) scales up to.
  *
  * Build trains the coarse quantizer, assigns every corpus vector to
  * its inverted list, and commits TWO versioned tables under one
  * root: `<root>/vectors` — (id, cluster, v) hive-partitioned BY
  * CLUSTER — and `<root>/centroids` — the nlist×dim model as
  * (cluster, pos, x) rows. Both are manifest-log versioned, so index
  * rebuilds are new VERSIONS: history, time travel, and concurrent
  * readers of the previous index all keep working mid-rebuild.
  *
  * Query is where the layout pays: each query's `nprobe` nearest
  * lists are computed from the (tiny, collected) centroid table, and
  * the corpus scan goes through
  * [[VersionedTable.readWherePartitionIn]] — the probed clusters'
  * FILES are planned, everything else is pruned from the manifest
  * alone. At 100 TB with nlist=4096 and nprobe=64, a query batch
  * reads ~1.6% of the corpus bytes without opening a single
  * non-probed file; the per-query rank is [[Similarity.rankTopK]]'s
  * sharded exact top-k. Results are identical to `ivfTopK` with the
  * same parameters (same deterministic training, same probe rule,
  * same rank) — q69 hash-checks this path against the generated
  * frozen-centroid oracle.
  */
object IvfIndex {

  /** Train + assign + commit the index tables. Returns the vectors
    * table's new version.
    *
    * `payload` columns ride along in the vectors table — the metadata
    * a FILTERED vector search predicates on (label/source/language/
    * license in a real corpus). Storing them IN the index keeps the
    * filter a narrow column read inside the already-pruned probe scan
    * instead of a join against the source table at query time. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, root: String, nlist: Int = 8,
      iters: Int = 2, payload: Seq[String] = Nil): Long = {
    val centroids = Similarity.ivfTrain(corpus, idCol, vecCol, nlist, iters)
    import spark.implicits._
    val centRows = centroids.zipWithIndex.flatMap { case (c, cl) =>
      c.zipWithIndex.map { case (x, pos) => (cl, pos, x) }
    }.toIndexedSeq
    new VersionedTable(spark, s"$root/centroids")
      .write(centRows.toDF("cluster", "pos", "x"))
    val assigned = Similarity.withCluster(
      corpus.select(col(idCol).cast("long").as("id") +:
        Similarity.toDouble(col(vecCol)).as("v") +:
        payload.map(col): _*),
      centroids)
    // clustered by the hive column before the write (graft.io.
    // WriteLayout): unclustered, file count = write tasks × clusters
    // and grows with core count
    new VersionedTable(spark, s"$root/vectors")
      .write(graft.io.WriteLayout.byPartitionValue(
          assigned.select(
            (Seq("id", "cluster", "v") ++ payload).map(col): _*),
          Some("cluster")),
        partitionBy = Some(Seq("cluster")))
  }

  /** Incremental ingest: assign NEW vectors with the STORED centroids
    * (the model does not retrain — the standard IVF append; retrain =
    * [[build]], which commits a fresh version) and append-commit them
    * into the partitioned vectors table. Queries immediately see
    * old + new; time travel still serves the pre-append index. */
  def append(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, root: String): Long = {
    val centroids = loadCentroids(spark, root)
    val vt = new VersionedTable(spark, s"$root/vectors")
    // a payload-built index stores extra metadata columns — appends
    // must carry them too (the incoming frame supplies them by name)
    val payload = vt.read().columns.toSeq
      .filterNot(Set("id", "cluster", "v"))
    require(payload.forall(vectors.columns.contains),
      s"index at $root stores payload columns [${payload.mkString(",")}] " +
        s"— the appended frame must supply them (has: " +
        s"${vectors.columns.mkString(",")})")
    val assigned = Similarity.withCluster(
      vectors.select(col(idCol).cast("long").as("id") +:
        Similarity.toDouble(col(vecCol)).as("v") +:
        payload.map(col): _*),
      centroids)
    vt.write(assigned.select(
        (Seq("id", "cluster", "v") ++ payload).map(col): _*),
      org.apache.spark.sql.SaveMode.Append)
  }

  /** UPSERT (MERGE by id): replace any existing rows carrying the
    * incoming ids and insert the rest, as ONE DV-backed MERGE commit
    * ([[graft.io.VersionedTable.mergeVectorized]]): matched rows
    * retire via masks (O(matched rows) sidecar bytes), the re-encoded
    * rows append — readers never see an id absent or doubled, and no
    * data file is rewritten. Re-assignment uses the STORED model, so
    * a changed embedding can MOVE cluster partitions (the merge
    * handles partition movement: masked out of the old cluster's
    * file, appended into the new one's). The re-embed-and-reindex
    * shape: documents change, their vectors re-encode, the index
    * never rebuilds. Duplicate incoming ids are refused (each id is
    * one vector). */
  def upsert(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, root: String): Long = {
    val centroids = loadCentroids(spark, root)
    val vt = new VersionedTable(spark, s"$root/vectors")
    val payload = vt.read().columns.toSeq
      .filterNot(Set("id", "cluster", "v"))
    require(payload.forall(vectors.columns.contains),
      s"index at $root stores payload columns [${payload.mkString(",")}] " +
        s"— the upserted frame must supply them (has: " +
        s"${vectors.columns.mkString(",")})")
    val assigned = Similarity.withCluster(
      vectors.select(col(idCol).cast("long").as("id") +:
        Similarity.toDouble(col(vecCol)).as("v") +:
        payload.map(col): _*),
      centroids)
    vt.mergeVectorized(
      assigned.select((Seq("id", "cluster", "v") ++ payload).map(col): _*),
      Seq("id"))
  }

  /** Row-level DELETE of indexed ids via deletion vectors on the
    * vectors table — O(deleted rows) sidecar bytes, zero file
    * rewrites, no retraining (rebuild to re-train). The read path
    * anti-joins the masks away, so a deleted id is unreturnable from
    * the commit on; prior versions still serve the pre-delete index
    * via time travel. This closes the dedup-pipeline loop: the
    * survivor list's complement deletes straight out of the index. */
  def delete(spark: SparkSession, root: String, ids: Set[Long]): Unit =
    if (ids.nonEmpty) new VersionedTable(spark, s"$root/vectors")
      .deleteVectorizedWhere(col("id").isin(ids.toSeq: _*))

  /** DISTRIBUTED delete — the id set as a single-column FRAME, riding
    * [[graft.io.VersionedTable.deleteVectorizedKeys]]' semi-join mask:
    * the victim list never collects to the driver (only its 2-element
    * [min, max] envelope does, for manifest pruning), so deleting a
    * third of a 100 TB index costs the same driver memory as deleting
    * three rows. Duplicate ids are harmless (distinct'd in the
    * kernel) and NULL ids delete nothing (an equi-semi-join never
    * matches NULL). This is the form churn pipelines should call —
    * the `Set[Long]` overload stays for interactive use. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    new VersionedTable(spark, s"$root/vectors")
      .deleteVectorizedKeys("id", ids)
    ()
  }

  /** OPTIMIZE the vectors table: repeated [[append]]s accumulate one+
    * small file per touched cluster partition per batch; compaction
    * rewrites the snapshot into ~`targetFileMB` files as a NEW version
    * (partitioning is table metadata — the rewrite stays
    * cluster-partitioned, so probe pruning is unaffected) and purges
    * accumulated deletion-vector masks by rewriting survivors. */
  def compact(spark: SparkSession, root: String,
      targetFileMB: Int = 128): Unit = {
    new VersionedTable(spark, s"$root/vectors").compact(targetFileMB)
    ()
  }

  /** The trained model back as nlist×dim (driver-side — it is
    * broadcast-sized by construction). */
  def loadCentroids(spark: SparkSession, root: String): Array[Array[Double]] = {
    val rows = new VersionedTable(spark, s"$root/centroids").read()
      .select("cluster", "pos", "x").collect()
    val nlist = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Double](nlist, dim)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    out
  }

  /** ANN top-k against the persisted index: probe lists from the
    * stored centroids, corpus scan partition-pruned to the probed
    * clusters, exact cosine rank inside them. Same probe rule and
    * rank as [[Similarity.ivfTopK]] (first-min tie-breaks), so
    * results match it exactly for equal parameters.
    *
    * `filter` is a FILTERED-search predicate over the index's stored
    * [[build]] `payload` columns (pre-filtering, in ANN terms): it
    * applies INSIDE the partition-pruned scan — candidates that fail
    * it are never scored, and the rank fills top-k from the probed
    * clusters' matching vectors only. Fewer than k rows can come back
    * for a query whose probed lists hold few matches: raise nprobe
    * under selective filters (the standard filtered-ANN trade).
    * Stats-bearing payload columns additionally prune at the manifest
    * level when the predicate is range-shaped. */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val centroids = loadCentroids(spark, root)
    val centLit = typedLit(centroids.toIndexedSeq.map(_.toIndexedSeq))
    // NOT broadcast-hinted here: `q` is also the source of the
    // driver-side probed-cluster collect below, and a hint on a
    // non-join relation logs a HintErrorLogger warning per query
    // (masking real hint regressions) — the hint lands at the join
    val q = queries.select(col(idCol).cast("long").as("q_id"),
        Similarity.toDouble(col(vecCol)).as("qv"))
        .withColumn("_dists", transform(centLit, cc =>
          graft.functions.vector.arrayL2Sq(cc, col("qv"))))
        .withColumn("_ranked", transform(
          array_sort(transform(col("_dists"),
            (d, i) => struct(d.as("d"), i.as("i")))),
          s => s.getField("i")))
        .withColumn("_probe", explode(slice(col("_ranked"), 1, nprobe)))
        .withColumn("cluster", col("_probe").cast("int"))
        .select(col("q_id"), col("qv"), col("cluster"))
        .withColumn("nq", sqrt(Similarity.dot(col("qv"), col("qv"))))
    // the probed-cluster set is a driver-side value (queries×nprobe
    // rows, bounded) — it selects PARTITIONS, so the corpus scan plans
    // only those clusters' files from the manifest
    val probed = q.select("cluster").distinct()
      .collect().map(_.getInt(0).toString).toSet
    val scan = new VersionedTable(spark, s"$root/vectors")
      .readWherePartitionIn("cluster", probed)
    val c = filter.fold(scan)(scan.filter)
      .select(col("id").as("neighbor_id"),
        col("cluster").cast("int").as("cluster"), col("v"))
      .withColumn("nv", sqrt(Similarity.dot(col("v"), col("v"))))
    Similarity.rankTopK(
      broadcast(q).join(c, Seq("cluster"))
        .filter(col("q_id") =!= col("neighbor_id")), k)
  }
}
