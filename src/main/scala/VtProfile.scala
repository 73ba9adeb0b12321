import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
object VtProfile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def t[A](tag: String)(f: => A): A = {
      val s = System.nanoTime; val r = f
      println(f"PROF $tag: ${(System.nanoTime-s)/1e9}%.3fs"); r }
    val root = java.nio.file.Files.createTempDirectory("vtprof")
      .resolve("tbl").toString
    val vt = new graft.io.VersionedTable(spark, root)
    val df = (0L until 100000L).map(i => (i, i % 10, i * 2))
      .toDF("id", "k", "x")
    t("write v0"){ vt.write(df) }
    t("append v1"){ vt.write(df.filter(col("id") < 1000), SaveMode.Append) }
    t("dv delete v2"){ vt.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("id", 100, 199).condition) }
    t("read count"){ println(vt.read().count()) }
    t("changes fold"){ println(vt.changes(0L, 2L).count()) }
    t("append v3"){ vt.write(df.filter(col("id") < 500), SaveMode.Append) }
    t("dv delete v4"){ vt.deleteVectorizedWhere(
      graft.io.VersionedTable.NumRange("id", 300, 399).condition) }
    spark.stop()
  }
}
