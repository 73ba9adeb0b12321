package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What one benchmark run records: operation and phase timings, the
  * attempted/failed tally (a correctness mismatch counts as a failed
  * operation) and workload-specific figures. */
final class Run(val seed: Long, val tracer: Tracer, val work: String,
    val input: String) {
  val opSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val phaseSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val cycleSamples = mutable.ArrayBuffer.empty[Double]
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** False during warm-up: timings are then not kept. */
  var measuring = false
  private var cycleS = 0.0

  private def timed[T](into: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]],
      name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = if (measuring) tracer.span(name)(body) else body
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $name%s $dt%.3f s")
    if (measuring) into.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    (r, dt)
  }

  /** One call into the program, counted as an operation. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    val (r, dt) = try timed(opSamples, name)(body) catch {
      case NonFatal(e) => failed += 1; throw e
    }
    cycleS += dt
    r
  }

  /** A timed step inside an operation. */
  def phase[T](name: String)(body: => T): T = timed(phaseSamples, name)(body)._1

  /** One closed-loop cycle; its time is the sum of its operations, so
    * checks and clean-up between operations are not charged to it. */
  def cycle(body: => Unit): Unit = {
    cycleS = 0.0
    body
    if (measuring) cycleSamples += cycleS
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    if (mismatches.size < 50) mismatches += what
  }

  def put(name: String, value: Double, unit: String): Unit =
    figures(name) = (value, unit)

  def ops(name: String): Seq[Double] = opSamples.get(name).fold(Seq.empty[Double])(_.toSeq)
  def phases(name: String): Seq[Double] =
    phaseSamples.get(name).fold(Seq.empty[Double])(_.toSeq)
  def samples(name: String): Seq[Double] =
    if (opSamples.contains(name)) ops(name) else phases(name)
}

trait Workload {
  /** Builds what the measured loop needs; timed as part of set-up. */
  def setup(spark: SparkSession, run: Run): Unit
  /** Untimed cycles before the measured loop (JIT, codegen, first drain). */
  def warmupCycles: Int
  /** One closed-loop cycle of operations. */
  def cycle(spark: SparkSession, run: Run, i: Int): Unit
  /** Calls whose medians make up `op_geomean_ms`: operations or phases,
    * one per public function of the program the workload times. */
  def geomeanOps: Seq[String]
  /** Final correctness checks and workload figures. */
  def finish(spark: SparkSession, run: Run): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --cores C
  * --work DIR --input DIR --out FILE`. Sets up, runs the workload's
  * untimed warm-up cycles, then measured cycles until S seconds have
  * passed (at least one) and writes every figure it measured to FILE as
  * one JSON object. */
object Main {
  private val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val cores = o("cores").toInt
    val tracer = new Tracer(o("trace") == "1")
    val run = new Run(seed, tracer, o("work"), o("input"))
    val wl: Workload = o("workload") match {
      case "etl_medallion" => new EtlWorkload
      case "table_dml" => new DmlWorkload
      case other => sys.error(s"unknown workload $other")
    }
    var error: Option[String] = None
    var spark: SparkSession = null
    val setups = mutable.ArrayBuffer.empty[Double]
    try {
      // set-up: JVM start (first round only) through a warm session with
      // the workload's fixtures built, repeated so its median is steady
      val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      for (round <- 0 until SetupRounds) {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val t0 = System.nanoTime()
        spark = graft.core.Sessions.local("perfbench", cores)
        spark.range(1000000).selectExpr("sum(id)").collect()
        wl.setup(spark, run)
        setups += (if (round == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                   else (System.nanoTime() - t0) / 1e9)
        System.err.println(f"[perfbench] setup ${setups.last}%.3f s")
      }
      (0 until wl.warmupCycles).foreach(wl.cycle(spark, run, _))
      tracer.attach(spark.sparkContext)
      run.measuring = true
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = wl.warmupCycles
      do {
        System.gc() // leave the last cycle's garbage out of this one's timings
        wl.cycle(spark, run, i)
        i += 1
      } while (System.nanoTime() < deadline)
      run.measuring = false
      wl.finish(spark, run)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        if (run.failed == 0) run.failed = 1
    }
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    // the first round also pays JVM start, so it is reported on its own
    m("setup_s") = (Stats.median(setups.drop(1).toSeq), "s")
    m("cycle_p50_s") = (Stats.median(run.cycleSamples.toSeq), "s")
    m("op_geomean_ms") = (Stats.geomean(wl.geomeanOps.map(k =>
      Stats.median(run.samples(k)) * 1e3).filter(_ > 0)), "ms")
    m("core.setup_first_s") = (setups.headOption.getOrElse(0.0), "s")
    m("core.cycles") = (run.cycleSamples.size.toDouble, "count")
    m("core.heap_peak_mb") = (heapPeakMb, "MB")
    if (tracer.enabled && spark != null) {
      m("core.spill_mb") = (tracer.spillMb, "MB")
      m("core.driver_only_share") = (tracer.driverOnlyShare, "ratio")
      m("core.task_s_per_cycle") =
        (tracer.taskS / math.max(1, run.cycleSamples.size), "s")
    }
    m("trace.cycle_p50_s") = m("cycle_p50_s")
    m ++= run.figures
    if (tracer.enabled && spark != null) tracer.write(s"${o("out")}.spans.jsonl")
    if (spark != null) spark.stop()
    val metricsJson = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${if (v.isNaN || v.isInfinite) 0.0 else v},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val samplesJson = run.opSamples.map { case (k, xs) =>
      s"${Json.str(k)}:${xs.mkString("[", ",", "]")}" }.mkString("{", ",", "}")
    val line = s"""{"correct":${error.isEmpty && run.mismatches.isEmpty},"attempted":${run.attempted},"failed":${run.failed},"metrics":$metricsJson,"op_samples":$samplesJson,"error":${error.fold("null")(Json.str)},"mismatches":${run.mismatches.map(Json.str).mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), line + "\n")
    System.exit(if (error.isEmpty) 0 else 1)
  }

  def rm(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  private def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
