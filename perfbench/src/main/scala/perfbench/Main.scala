package perfbench

import org.apache.spark.sql.SparkSession

/** Shared run context of one benchmark process. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cores: Int) {

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Host-drift probe (a diagnostic, not a metric): the same fixed work
    * at the start and end of every run, a column-complete scan of a
    * seed-independent calls table plus three aggregates.
    */
  def calibrate(): Double = {
    val path = s"$work/../calibration" // kept across runs: the probe reads the same bytes every time
    if (!new java.io.File(path, "_SUCCESS").exists()) CallsGen.write(spark, 5000L, 0L, path, cores)
    spark.read.parquet(path).selectExpr("count(*)", "max(create_time_incident)", "bit_xor(xxhash64(*))").collect()
    timed(spark.read.parquet(path).selectExpr("count(*)", "max(create_time_incident)", "bit_xor(xxhash64(*))").collect())
  }

  private val born = System.nanoTime()
  /** Progress line on stderr with the seconds since the run started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.1fs $msg")

  def opJson(o: Outcome[_]): Map[String, Any] =
    Map("name" -> o.name, "kind" -> o.kind, "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error.orNull)
}

/** Benchmark process: `Main <workload> <seed> <seconds> <trace 0|1>
  * <work dir> <result file>`. Runs one workload on a `local[cores]`
  * session and writes a JSON result for `run.py` to check and reduce.
  */
object Main {
  /** Spark `local[Cores]`: one per vCPU of the 4-vCPU reference host. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    orphanGuard()
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    // shutdown hooks still run; threads that linger, after stop() or after
    // a failure, are not waited for
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, resultFile) = args
    val cores = Cores
    val spark = graft.EngineSession.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.catalog.graft_mfst", classOf[graft.sources.ManifestCatalog].getName)
        .config("spark.sql.catalog.graft_mfst.warehouse", s"$work/lake")
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h"),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, workload, seed.toLong, seconds.toDouble, trace == "1", work, cores)
    val body = workload match {
      case "calls_etl"    => CallsEtl.run(ctx)
      case "lakehouse_rw" => Lakehouse.run(ctx)
      case other          => sys.error(s"unknown workload $other")
    }
    val env = Map(
      "workload" -> workload, "seed" -> seed.toLong, "trace" -> ctx.trace, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version, "peak_rss_mb" -> peakRssMb,
      "retained_heap_mb" -> retainedHeapMb
    )
    val json = org.json4s.jackson.Serialization.write(env ++ body)(org.json4s.DefaultFormats)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultFile), json)
    ctx.log("result written")
    spark.stop()
    ctx.log("session stopped")
  }

  /** Halts the JVM when its stdin reaches end of file: `run.py` holds the
    * other end of the pipe, so the JVM never outlives the process that
    * started it, however that process ends.
    */
  def orphanGuard(): Unit = {
    val t = new Thread(() => {
      try while (System.in.read() >= 0) () catch { case _: java.io.IOException => () }
      System.err.println("[perfbench] stdin closed: the starting process is gone, halting")
      Runtime.getRuntime.halt(3)
    }, "perfbench-orphan-guard")
    t.setDaemon(true)
    t.start()
  }

  /** Heap still in use after a full collection at the end of the run,
    * outside every timed interval: what the session keeps live after the
    * workload (caches, plans, listener state, log snapshots).
    */
  def retainedHeapMb: Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  /** The driver JVM's resident-set high-water mark (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
