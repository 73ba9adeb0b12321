package graft

import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code runs. Each call runs under a
  * job group of its own; the listener bus is drained before the status
  * store is read, so the count is complete when the call returns (jobs
  * that adaptive execution or broadcasts submit from other threads
  * inherit the group). */
object SparkJobs {
  private val next = new java.util.concurrent.atomic.AtomicLong()

  /** `body`'s result and its jobs, oldest first, each named by the
    * names of its stages (the call sites, for failure messages). */
  def traced[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${next.incrementAndGet()}"
    sc.setJobGroup(group, "job count")
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    val st = sc.statusTracker
    val jobs = st.getJobIdsForGroup(group).sorted.toSeq.map { id =>
      st.getJobInfo(id).map(_.stageIds.toSeq.sorted
        .flatMap(st.getStageInfo(_).map(_.name)).mkString(" + "))
        .getOrElse(s"job $id")
    }
    (out, jobs)
  }

  /** Number of Spark jobs `body` runs. */
  def count(spark: SparkSession)(body: => Any): Int =
    traced(spark)(body)._2.size
}
