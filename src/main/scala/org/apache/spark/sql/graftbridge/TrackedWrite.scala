package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter,
  WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** A parquet write whose tasks report per-file facts to the caller.
  *
  * `DataFrameWriter` plans an `InsertIntoHadoopFsRelationCommand`, which
  * fixes its own stats-tracker list, so facts a write already sees row
  * by row (how many rows it wrote, per key or per file) would otherwise
  * cost a second job reading the output back. This calls
  * `FileFormatWriter` directly with extra `WriteJobStatsTracker`s — the
  * route Delta Lake's transactional write takes — from inside an
  * `org.apache.spark.sql` subpackage, since `FileFormatWriter.write` and
  * the classic session state are `private[sql]`. Trackers only ever see
  * the stats of COMMITTED tasks: each task attempt counts into its own
  * tracker instance, and the driver receives the result of the one
  * attempt per partition whose output was committed. */
object TrackedWrite {

  /** Write `df` as parquet to `dir`, replacing anything there (the
    * `SaveMode.Overwrite` contract), unpartitioned. `options` reach the
    * Hadoop job configuration exactly as `DataFrameWriter` options do
    * (commit-protocol settings included). */
  def parquet(df: DataFrame, dir: String, options: Map[String, String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val out = new Path(dir)
    val fs = out.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(out)
    if (fs.exists(qualified)) fs.delete(qualified, true)
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = qualified.toString)
    SQLExecution.withNewExecutionId(qe, Some("tracked parquet write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(qualified.toString, Map.empty, plan.output),
        hadoopConf, partitionColumns = Seq.empty, bucketSpec = None,
        statsTrackers = trackers, options = options)
    }
  }
}

/** Rows written per value of the string column at `ordinal`, summed
  * over the committed tasks of one write; read [[counts]] after the
  * write returns. A null value is not counted. */
final class RowsPerKeyTracker(ordinal: Int) extends WriteJobStatsTracker {
  @volatile private var totals = Map.empty[String, Long]

  def counts: Map[String, Long] = totals

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val n = scala.collection.mutable.HashMap.empty[String, Long]
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(filePath: String): Unit = ()
      override def closeFile(filePath: String): Unit = ()
      override def newRow(filePath: String, row: InternalRow): Unit =
        if (!row.isNullAt(ordinal)) {
          val k = row.getUTF8String(ordinal).toString
          n(k) = n.getOrElse(k, 0L) + 1L
        }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        RowsPerKey(n.toMap)
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    totals = stats.foldLeft(Map.empty[String, Long]) {
      case (acc, RowsPerKey(m)) => m.foldLeft(acc) { case (a, (k, c)) =>
        a.updated(k, a.getOrElse(k, 0L) + c) }
      case (acc, _) => acc
    }
}

final case class RowsPerKey(counts: Map[String, Long]) extends WriteTaskStats
