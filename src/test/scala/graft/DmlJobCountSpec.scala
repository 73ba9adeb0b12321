package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.VersionedTable

/** Spark jobs per call of the table services on a small bloom-indexed
  * table. Each job costs a scheduling round trip plus driver time, and
  * on small commits that is most of an operation's latency, so the
  * counts are pinned: a bookkeeping job (a read-back, a source check,
  * a schema inference) that creeps back into one of these paths fails
  * here, listing the stages of every job the call ran. */
class DmlJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jobs per call: merge, DV update, DV delete, point read, compaction") {
    val root = Fixtures.tempDir("graft-dml-jobs") + "/tbl"
    val vt = new VersionedTable(spark, root)
    vt.write((0L until 4000L).map(i => (i, i * 7, s"t${i % 13}"))
      .toDF("id", "v", "tag").repartition(4, col("id")))
    vt.buildBloomIndex("id")
    def assertJobs(label: String, atMost: Int)(body: => Any): Unit = {
      val jobs = SparkJobs.traced(spark)(body)._2
      assert(jobs.size <= atMost,
        s"$label ran ${jobs.size} jobs, pinned at $atMost:\n" +
          jobs.mkString("\n"))
    }
    // merge on DV-free files: the source checks' one aggregate (3), the
    // matched rows (2), the DV sidecar (1), the new images (2), the
    // bloom refresh (1)
    val src = ((100L until 120L).map(i => (i, -i, "u")) ++
      (5000L until 5020L).map(i => (i, i, "n"))).toDF("id", "v", "tag")
    assertJobs("merge", 9)(vt.mergeVectorized(src, Seq("id")))
    // the candidates now carry DVs: each scan of them broadcasts the
    // masks (1) — the DV sidecar (2), the new images (2), the refresh (1)
    assertJobs("update", 5)(vt.updateVectorizedWhere(
      col("id") >= 200L && col("id") < 210L, Map("v" -> (col("v") + 1))))
    assertJobs("delete", 2)(vt.deleteVectorizedWhere(
      col("id") >= 300L && col("id") < 310L))
    // the sidecar pass (1), then the read with its mask broadcast (2)
    assertJobs("point read", 3)(
      vt.readWhereKeyIn("id", Seq(7L, 205L, 305L, 5001L)).collect())
    assertJobs("compaction", 4)(
      graft.maintenance.Maintenance.compact(spark, root))
    assert(vt.readWhereKeyIn("id", Seq(7L, 205L, 305L, 5001L))
      .as[(Long, Long, String)].collect().toSet ===
      Set((7L, 49L, "t7"), (205L, 1436L, "t10"), (5001L, 5001L, "n")))
  }
}
