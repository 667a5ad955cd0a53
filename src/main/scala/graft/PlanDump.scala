package graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.nio.file.{Files, Paths}

import graft.pipeline.CallsPipeline

/** Dev tool (not part of the driver contract): writes
  * `.explain("formatted")` output for named queries to a directory —
  * the plan evidence the optimization rounds commit under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> q330_hits,q414_scd2_from_feed
  * Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default 32).
  *
  * Besides registry names it takes `calls_pipeline`: the
  * transform → dedup → aggregate frame [[CallsPipeline.frame]]
  * over an empty [[CallsPipeline.IngestSchema]] parquet input
  * (the plan does not depend on the rows).
  *
  * Session config matches Bench exactly so the dumped plan is the plan
  * the bench times (same shuffle partitions, same AQE defaults).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1) // "before" | "after"
    val names = args(2).split(",").toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val frames: Seq[(String, (SparkSession, String) => DataFrame)] =
      SparkEntry.queries.toSeq :+ ("calls_pipeline" -> callsPipeline _)
    frames.filter { case (n, _) => names.contains(n) }.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally { spark.catalog.clearCache(); graft.operators.Scratch.sweep() }
    }
    spark.stop()
  }

  private def callsPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val input = Files.createTempDirectory("plandump-calls").resolve("calls").toString
    spark.createDataFrame(java.util.Collections.emptyList[Row](), CallsPipeline.IngestSchema)
      .write.parquet(input)
    CallsPipeline.frame(spark.read.parquet(input))
  }
}
