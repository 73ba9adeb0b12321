package perfbench

import org.apache.spark.sql.SparkSession
import graft.io.VersionedTable

/** Per-layer figures derived from spans, the listener and table
  * metadata. Span-derived figures need a traced run; the rest are
  * read from the table after the measured loop. */
object Figures {
  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Median jobs, task seconds, driver-only milliseconds and shuffle MB
    * per call over the spans with the given names. */
  final case class Calls(jobs: Double, taskS: Double, driverMs: Double,
      shuffleMb: Double)

  def calls(run: Run, names: String*): Calls = {
    val t = run.tracer
    val ss = names.flatMap(t.named)
    if (!t.enabled || ss.isEmpty) Calls(0, 0, 0, 0)
    else Calls(med(ss.map(s => t.costs.jobs(s.id).toDouble)),
      med(ss.map(s => t.costs.taskS(s.id))), med(ss.map(t.driverOnlyMs)),
      med(ss.map(s => t.costs.shuffle(s.id) / 1048576.0)))
  }

  /** Jobs per call for each named span kind, as `io.jobs_per_<label>`. */
  def jobsPerCall(run: Run, kinds: (String, String)*): Unit =
    kinds.foreach { case (span, label) =>
      run.put(s"io.jobs_per_$label", calls(run, span).jobs, "count") }

  /** Commit-path costs pooled over the given commit span names. */
  def commits(run: Run, names: String*): Unit = {
    val c = calls(run, names: _*)
    run.put("io.commit_driver_ms", c.driverMs, "ms")
    run.put("io.commit_jobs", c.jobs, "count")
    run.put("io.commit_task_s", c.taskS, "s")
  }

  /** Files the latest commit of a table added. */
  def addedFiles(vt: VersionedTable): Double =
    vt.addedFileCount(vt.currentVersion.get).toDouble

  /** Storage figures of one versioned table: live files, bytes on disk
    * per live byte, `_SUCCESS` markers, the median of `filesAdded` (files
    * added per commit) and, for `pointKey`, the files a point read plans. */
  def table(spark: SparkSession, run: Run, root: String, filesAdded: Seq[Double],
      pointKey: Option[(String, Long)]): Unit = {
    val vt = new VersionedTable(spark, root)
    val cur = vt.currentVersion.get
    val liveEntries = vt.manifestEntries(cur)
    val files = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(root), null, true)
    import scala.jdk.CollectionConverters._
    val all = files.asScala.toSeq
    run.put("io.live_files", liveEntries.size.toDouble, "count")
    run.put("io.bytes_per_user_byte",
      all.map(_.length).sum.toDouble / math.max(1L, liveEntries.map(_.bytes).sum), "ratio")
    run.put("io.success_markers", all.count(_.getName == "_SUCCESS").toDouble, "count")
    run.put("io.files_added_per_commit", med(filesAdded), "count")
    pointKey.foreach { case (c, k) =>
      run.put("io.point_read_files_kept", vt.pruningReport(
        VersionedTable.NumRange(c, k.toDouble, k.toDouble)).plannedFiles.toDouble, "count")
    }
  }

  /** Stage task seconds per program module. */
  def moduleTask(run: Run, modules: (String, String)*): Unit =
    if (run.tracer.enabled) {
      val byModule = run.tracer.moduleTaskS
      System.err.println(s"[perfbench] task seconds by module: $byModule")
      modules.foreach { case (module, name) =>
        run.put(name, byModule.getOrElse(module, 0.0), "s") }
    }
}
