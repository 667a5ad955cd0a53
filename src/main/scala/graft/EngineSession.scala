package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the operational posture of the reference pipeline (UTC
  * timestamps, deterministic partition sizing — reference `app.py:165,183`
  * picks chunk sizes by hand) but lets Spark AQE own runtime re-planning.
  *
  * At cluster scale the same settings apply; only `master` and memory
  * change. Shuffle partitions default to the local core count here —
  * on a real cluster this would be `max(2 * totalCores, inputBytes /
  * targetPartitionBytes)` or left to AQE coalescing.
  *
  * Local `file:` paths go through [[sources.NioLocalFs]], which sets
  * permissions and reads link status without forking a process.
  */
object EngineSession {

  /** Apply engine defaults to any builder (used by Verify/Bench/tests). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder =
    sources.NioLocalFs.HadoopConf
      .foldLeft(b) { case (acc, (k, v)) => acc.config(s"spark.hadoop.$k", v) }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r15 (guide §2.2): let AQE coalesce the shuffles that MATERIALIZE
      // a cached plan too. Default false pins every persist() pipeline at
      // spark.sql.shuffle.partitions tasks regardless of data size —
      // measured as 32-task stages over few-KB iterative rounds (Rounds,
      // CandidateGraph fixtures). Size-adaptive: at 100 TB the same
      // setting keeps advisory-sized (64 MB) partitions; only physical
      // partitioning changes, never results. Parameterised for A/B and
      // for deployments that rely on cached-plan partitioning stability.
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHED_PLAN_AQE", "true")
      )
      .config("spark.ui.enabled", "false")

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        // keep managed-table data (bucketed tables in tests) out of the repo
        .config("spark.sql.warehouse.dir", s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
