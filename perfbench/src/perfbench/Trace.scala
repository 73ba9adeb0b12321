package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program. Spans of one top-level operation
  * share its `opId`; `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, opId: Long,
    startNs: Long, startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Cost of one completed stage. `module` is the program package of the
  * innermost `graft.*` frame of the call site of the SQL execution that ran
  * the stage (adaptive execution submits stages from its own threads, so
  * the stage's own call site often has no program frame), else of the
  * stage's call site; "" when neither has one. */
final case class StageCost(module: String, group: String, submitMs: Long,
    taskS: Double, shuffleBytes: Long, spillBytes: Long)

final case class JobRec(group: String, startMs: Long, var endMs: Long)

/** Records jobs and stages with their job group and call-site module. */
final class CostListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageCost]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageExecution = mutable.Map.empty[Int, String]
  private val executionModule = mutable.Map.empty[String, String]

  private def prop(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).getOrElse("")
  private def group(p: java.util.Properties): String = prop(p, "spark.jobGroup.id")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionModule(s.executionId.toString) = Modules.of(s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(group(e.properties), e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageGroup(e.stageInfo.stageId) = group(e.properties)
      stageExecution(e.stageInfo.stageId) = prop(e.properties, "spark.sql.execution.id")
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      val module = stageExecution.remove(si.stageId).flatMap(executionModule.get)
        .filter(_.nonEmpty).getOrElse(Modules.of(si.details))
      stages += StageCost(module,
        stageGroup.remove(si.stageId).getOrElse(""),
        si.submissionTime.getOrElse(0L),
        if (tm == null) 0.0 else tm.executorRunTime / 1e3,
        if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead +
          tm.shuffleWriteMetrics.bytesWritten,
        if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }
}

object Modules {
  private val Frame = """^graft\.([a-zA-Z0-9_$]+)\..*""".r

  /** Package of the innermost `graft.*` frame of a call site. */
  def of(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .collectFirst { case Frame(pkg) => pkg }
      .map(p => if (p.head.isUpper) "graft" else p).getOrElse("")
}

/** Span recorder. Off, it does nothing but run the body; on, it keeps
  * every span in memory, sets one job group per span so the listener
  * can attribute jobs, and writes the spans out at the end. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new CostListener
  private var stack = List.empty[Span]
  private var nextOp = 0L
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val opId = stack.lastOption.map(_.opId).getOrElse { nextOp += 1; nextOp }
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opId,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack ::= s
    sc.setJobGroup(s"pb:${s.id}", name)
    try body finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb:${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Innermost span a job/stage belongs to: by job group when the
    * harness set it, else (streaming threads) by start time. */
  private def owner(group: String, ms: Long): Int =
    if (group.startsWith("pb:")) group.stripPrefix("pb:").toInt
    else spans.lastIndexWhere(s => s.startMs <= ms && ms <= s.endMs)

  private def ancestors(id: Int): Iterator[Int] =
    Iterator.iterate(id)(i => spans(i).parent).takeWhile(_ >= 0)

  /** Per-span totals including descendants. */
  final class Costs {
    val jobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val taskS = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    val shuffle = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val jobIntervals =
      mutable.Map.empty[Int, List[(Long, Long)]].withDefaultValue(Nil)
  }

  lazy val costs: Costs = {
    org.apache.spark.perfbenchbridge.ListenerDrain.drain(sc)
    val c = new Costs
    listener.synchronized {
      listener.jobs.values.foreach { j =>
        val o = owner(j.group, j.startMs)
        if (o >= 0) ancestors(o).foreach { a =>
          c.jobs(a) += 1
          c.jobIntervals(a) ::= (j.startMs -> j.endMs)
        }
      }
      listener.stages.foreach { s =>
        val o = owner(s.group, s.submitMs)
        if (o >= 0) ancestors(o).foreach { a =>
          c.taskS(a) += s.taskS
          c.shuffle(a) += s.shuffleBytes
        }
      }
    }
    c
  }

  /** Wall time of a span not covered by any of its jobs. */
  def driverOnlyMs(s: Span): Double = {
    val iv = costs.jobIntervals(s.id).map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sorted
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0.0, s.seconds * 1e3 - covered)
  }

  private def topLevel: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Share of the wall time of top-level spans in which none of their
    * Spark jobs ran: planning, commit and listing on the driver. */
  def driverOnlyShare: Double = {
    val top = topLevel
    top.map(driverOnlyMs).sum / math.max(1e-9, top.map(_.seconds * 1e3).sum)
  }

  /** Stage task seconds of all top-level spans. */
  def taskS: Double = topLevel.map(s => costs.taskS(s.id)).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Stage task seconds per call-site module, over the stages of spans. */
  def moduleTaskS: Map[String, Double] = {
    costs
    listener.synchronized {
      listener.stages.filter(s => owner(s.group, s.submitMs) >= 0).groupBy(_.module)
        .map { case (m, ss) => m -> ss.map(_.taskS).sum }.toMap
    }
  }

  /** Memory and disk spill of the stages of spans, in MB. */
  def spillMb: Double = {
    costs
    listener.synchronized {
      listener.stages.filter(s => owner(s.group, s.submitMs) >= 0).map(_.spillBytes).sum / 1048576.0
    }
  }

  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.opId},"start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${costs.jobs(s.id)},"task_s":${costs.taskS(s.id)}}""")
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
