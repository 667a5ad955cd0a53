package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span per operation. Its children are the SQL executions (actions)
  * it ran and the jobs those launched; jobs link to their action through
  * the `spark.sql.execution.id` job property and to the operation through
  * the job group the runner sets. Counters are summed over the span.
  */
final class OpSpan(val name: String, val kind: String, val group: String) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var error: Option[String] = None
  val actions = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  val plans = mutable.ArrayBuffer.empty[SparkPlan]
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)

  /** Wall time not covered by any of this operation's jobs: driver-side
    * planning, commit protocol and scheduling gaps.
    */
  def driverGapS: Double = {
    val iv = jobs.values.toSeq
      .flatMap(j => for (s <- j.get("start"); e <- j.get("end")) yield (s.asInstanceOf[Long].max(startMs), e.asInstanceOf[Long].min(endMs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallS - covered / 1000.0)
  }

  def toJson: Map[String, Any] = Map(
    "name" -> name, "kind" -> kind, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
    "wall_s" -> wallS, "error" -> error.orNull, "counters" -> c.toMap,
    "actions" -> actions.values.map(_.toMap).toSeq,
    "jobs" -> jobs.values.map(_.toMap).toSeq
  )
}

/** Listeners the benchmark registers itself. Events arrive on Spark's
  * listener bus; [[end]] drains the bus before closing a span, so every
  * event lands in the span of the operation that caused it (the harness
  * runs one operation at a time).
  */
final class Tracer(spark: SparkSession, val cores: Int) {
  @volatile private var current: OpSpan = _
  val spans = mutable.ArrayBuffer.empty[OpSpan]

  private def withSpan(f: OpSpan => Unit): Unit = {
    val s = current
    if (s != null) s.synchronized(f(s))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withSpan { s =>
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      s.jobs(e.jobId) = mutable.Map[String, Any]("job_id" -> e.jobId, "start" -> e.time, "action" -> exec,
        "stages" -> e.stageIds.size)
      s.add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withSpan { s =>
      s.jobs.get(e.jobId).foreach(_("end") = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withSpan { s =>
      s.add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("exec.task_run_s", m.executorRunTime / 1e3)
        s.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("exec.gc_s", m.jvmGCTime / 1e3)
        s.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("sources.input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart => withSpan { s =>
        s.actions(st.executionId) = mutable.Map[String, Any]("execution_id" -> st.executionId,
          "description" -> st.description.take(120), "start" -> st.time)
      }
      case en: SparkListenerSQLExecutionEnd => withSpan { s =>
        s.actions.get(en.executionId).foreach(_("end") = en.time)
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = withSpan { s =>
      val ph = qe.tracker.phases
      def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      s.add("plans.actions", 1)
      s.add("plans.analysis_s", sec("analysis"))
      s.add("plans.optimization_s", sec("optimization"))
      s.add("plans.physical_s", sec("planning"))
      s.add("plans.plan_nodes", scala.util.Try(qe.optimizedPlan.collect { case p => p }.size.toDouble).getOrElse(0.0))
      scala.util.Try(qe.executedPlan).foreach(s.plans += _)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = withSpan { s =>
      val p = event.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      s.add("streaming.batches", 1)
      s.add("streaming.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      s.add("streaming.planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
      s.add("streaming.commit_s", (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3)
      s.max("streaming.state_store_instances", p.stateOperators.map(_.numStateStoreInstances).sum.toDouble)
      s.max("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
  }

  /** Registers the listeners for one operation; untraced operations
    * run with none registered.
    */
  def begin(span: OpSpan): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    current = span
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def end(span: OpSpan): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    current = null
    span.c("exec.driver_gap_s") = span.driverGapS
    span.c("exec.core_busy_ratio") = if (span.wallS > 0) span.c("exec.task_run_s") / (cores * span.wallS) else 0.0
    spans += span
  }
}

object Tracer {
  /** Per-operation mean of every counter the spans carry. */
  def means(spans: Seq[OpSpan]): Map[String, Double] =
    if (spans.isEmpty) Map.empty
    else spans.flatMap(_.c.keys).distinct.map(k => k -> spans.map(_.c(k)).sum / spans.size).toMap
}
