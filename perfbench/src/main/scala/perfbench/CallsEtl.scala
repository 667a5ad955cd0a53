package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.pipeline.CallsPipeline
import graft.sinks.RetryingSink

/** `calls_etl`: `CallsPipeline.run` over the generated calls table,
  * repeated a fixed number of times, each run loading its own sink dir so
  * every output can be checked after the run.
  */
object CallsEtl {
  val Cycles = 15000L // 210k rows, 120k incidents
  val SecondsPerOp = 2.5 // sizes the fixed op count from --seconds
  val WarmupRuns = 4

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val input = s"${ctx.work}/calls"
    val exp = CallsGen.expected(Cycles)
    // the first set-up runs on a cold JVM; the median falls on a warm one
    val setup = (1 to 3).map(_ => ctx.timed(CallsGen.write(spark, Cycles, ctx.seed, input, ctx.cores)))
    ctx.log("set-up done")
    val calStart = ctx.calibrate()
    val n = math.max(3, math.round(ctx.seconds / SecondsPerOp).toInt)
    val runner = new Runner(spark, capS = 60)

    def etl(name: String, sink: String): Outcome[(Long, Int)] = {
      val o = runner.op(name, "etl")(CallsPipeline.run(spark.read.parquet(input), sink))
      // closed-form check, outside the timed interval: one output row per
      // group, and each surviving incident counted in exactly one group
      o.value match {
        case Some((rows, _)) =>
          val r = spark.read.parquet(sink).selectExpr("count(*)", "sum(n_distinct)").head()
          val bad =
            if (r.getLong(0) != rows) Some(s"returned $rows rows but the sink holds ${r.getLong(0)}")
            else if (r.getLong(1) != exp.survivors) Some(s"sum(n_distinct)=${r.getLong(1)}, expected ${exp.survivors}")
            else None
          bad.fold(o)(b => o.copy(value = None, error = Some(s"wrong result: $b")))
        case None => o
      }
    }

    def etlOp(name: String) = etl(name, s"${ctx.work}/sink/$name") // run.py checks each sink by op name
    // JIT and codegen warm-up, not counted in the latencies
    val warmups = (0 until WarmupRuns).map(i => etlOp(s"etl_warmup_$i"))
    ctx.log("warm-up done")
    // traced runs interleave each untraced op with a traced twin, the
    // twin going second on even ops and first on odd ones
    val tracer = new Tracer(spark, ctx.cores)
    def tracedOp[A](body: => A): A = {
      runner.tracer = Some(tracer)
      try body finally runner.tracer = None
    }
    val pairs = (0 until n).map { i =>
      Pair.inTurn(i, etlOp(f"etl_$i%02d"), if (ctx.trace) Some(tracedOp(etlOp(f"etl_traced_$i%02d"))) else None)
    }
    val ops = pairs.map(_._1)
    ctx.log("measured ops done")
    val tops = pairs.flatMap(_._2)
    val aux = scala.collection.mutable.ArrayBuffer.empty[Outcome[_]]

    val traced: Map[String, Any] = if (!ctx.trace) Map.empty else {
      // prefix materialization: each public stage function, in pipeline
      // order, written to the noop sink; self time = prefix - previous
      val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
        "sources.scan_s" -> identity,
        "functions.parse_s" -> CallsPipeline.parseTimes,
        "functions.derive_s" -> (df => CallsPipeline.deriveDateParts(CallsPipeline.deriveTimedeltas(df))),
        "operators.dedup_s" -> (df => CallsPipeline.dedupBest(CallsPipeline.dropSparse(df))),
        "operators.dim_agg_s" -> CallsPipeline.aggregate
      )
      def prefix(k: Int): DataFrame = stages.take(k + 1).foldLeft(spark.read.parquet(input))((d, s) => s._2(d))
      // stage ops count as attempted, so a failed one fails the run
      // instead of leaving a bogus time
      def stageOp(name: String, kind: String)(body: => Unit): Double = {
        val o = tracedOp(runner.op(name, kind)(body))
        aux += o
        o.wallS
      }
      val prefixWall = stages.indices.map { k =>
        Stats.median((0 until 2).map { r =>
          stageOp(s"prefix_${stages(k)._1}_$r", "prefix")(prefix(k).write.format("noop").mode("overwrite").save())
        })
      }
      // the load stage on its own: the sink write and read-back of
      // CallsPipeline.run, fed from the aggregate materialized beforehand
      // (untimed), minus the time to read that input, which the pipeline
      // does not pay; so its time does not depend on the other stages'.
      // Each materialized file is read as its own partition, so the write
      // runs as many tasks as the pipeline's does.
      val aggDir = s"${ctx.work}/agg"
      prefix(stages.size - 1).write.mode("overwrite").parquet(aggDir)
      val openCost = "spark.sql.files.openCostInBytes"
      val savedOpenCost = spark.conf.getOption(openCost)
      spark.conf.set(openCost, spark.conf.get("spark.sql.files.maxPartitionBytes"))
      val loadWall = try {
        val sink = s"${ctx.work}/load_sink"
        val (read, load) = (0 until 2).map { r =>
          (stageOp(s"load_input_$r", "load")(spark.read.parquet(aggDir).write.format("noop").mode("overwrite").save()),
            stageOp(s"load_$r", "load") {
              RetryingSink.overwriteParquet(spark.read.parquet(aggDir), sink)
              spark.read.parquet(sink).count()
            })
        }.unzip
        Stats.median(load) - Stats.median(read)
      } finally savedOpenCost.fold(spark.conf.unset(openCost))(spark.conf.set(openCost, _))
      val etlTraced = Stats.median(tops.map(_.wallS))
      val etlUntraced = Stats.median(ops.map(_.wallS))
      val self = stages.map(_._1).zipWithIndex.map { case (name, k) =>
        name -> (prefixWall(k) - (if (k == 0) 0.0 else prefixWall(k - 1)))
      } :+ ("sinks.load_s" -> loadWall)
      val selfClamped = self.map { case (k, v) => k -> math.max(0.0, v) }
      val etlSpans = tracer.spans.filter(_.kind == "etl").toSeq
      val sinkFiles = tops.indices.map { i =>
        val d = new java.io.File(f"${ctx.work}/sink/etl_traced_$i%02d")
        Option(d.listFiles()).getOrElse(Array.empty).filter(f => f.isFile && f.getName.startsWith("part-"))
      }
      val layers = Tracer.means(etlSpans) ++ selfClamped ++ Map(
        "sinks.attempts" -> Stats.mean(tops.flatMap(_.value).map(_._2.toDouble)),
        "sinks.files_written" -> Stats.mean(sinkFiles.map(_.length.toDouble)),
        "sinks.bytes_written" -> Stats.mean(sinkFiles.map(_.map(_.length).sum.toDouble)),
        "sources.records_per_result" -> {
          val rows = Stats.mean(tops.flatMap(_.value).map(_._1.toDouble))
          if (rows > 0) Stats.mean(etlSpans.map(_.c("sources.input_records"))) / rows else 0.0
        },
        "trace.overhead_ratio" -> (etlTraced / etlUntraced - 1.0),
        "trace.stage_share" -> selfClamped.map(_._2).sum / etlUntraced
      )
      Map(
        "layers" -> layers,
        "stage_self_s" -> self.toMap,
        "prefix_cumulative_s" -> stages.map(_._1).zip(prefixWall).toMap,
        // driver-side planning (analysis + optimization + physical) as a
        // share of a traced run's wall time
        "planning_share" -> Stats.mean(etlSpans.map(sp =>
          (sp.c("plans.analysis_s") + sp.c("plans.optimization_s") + sp.c("plans.physical_s")) / sp.wallS)),
        "plan_metrics_ms" -> planTimings(etlSpans.lastOption.toSeq.flatMap(_.plans)),
        "spans" -> tracer.spans.map(_.toJson).toSeq
      )
    }
    val calEnd = ctx.calibrate()
    Map(
      "setup_s" -> setup,
      "ops" -> (warmups ++ ops ++ tops ++ aux).map(ctx.opJson),
      "measured" -> ops.map(_.name),
      "rows_per_op" -> exp.rows,
      "calibration_s" -> Map("start" -> calStart, "end" -> calEnd),
      "expected" -> Map("rows" -> exp.rows, "incidents" -> exp.incidents, "survivors" -> exp.survivors,
        "repeated_incidents" -> exp.repeated),
      "input" -> input
    ) ++ traced
  }

  /** The executed plan's timing SQLMetrics summed by operator and metric
    * (milliseconds), for cross-checking the prefix self times: prefix
    * materialization changes column pruning, the plan metrics do not.
    */
  def planTimings(plans: Seq[SparkPlan]): Map[String, Double] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => q +: nodes(q.plan)
      case other                    => other +: other.children.flatMap(nodes)
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    plans.flatMap(nodes).foreach { n =>
      n.metrics.foreach { case (k, m) =>
        val ms = m.metricType match {
          case "timing"   => Some(m.value.toDouble)
          case "nsTiming" => Some(m.value / 1e6)
          case _          => None
        }
        ms.foreach(v => out(s"${n.nodeName}.$k") += v)
      }
    }
    out.toMap
  }
}
