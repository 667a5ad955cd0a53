package graft.pipeline

import java.nio.file.Files

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.functions.TimeOps
import graft.operators.DimAgg

/** End-to-end pipeline parity on a deterministic calls fixture built to
  * FIXTURES.md §A: duplicate event groups with (a) all-null districts,
  * (b) one non-null, (c) several non-null incl. tied create times; null
  * rates 0→100%; 3 years of timestamps crossing month boundaries.
  */
class CallsPipelineSpec extends SparkSpec {

  private def fixture: DataFrame = {
    val rnd = new scala.util.Random(42)
    val streets = Seq("MAIN ST", "VINE ST", "ELM AVE", null)
    val rows = (0 until 300).map { i =>
      val year = 2019 + i % 3
      val month = 1 + i % 12
      val day = 1 + i % 28
      val eventNum = f"CPD${i / 3}%05d" // rows i, i+1, i+2 share an event
      val create = f"$year%04d-$month%02d-$day%02dT${i % 24}%02d:${i % 60}%02d:00.000"
      val closed = if (i % 10 == 9) null else f"$year%04d-$month%02d-$day%02dT${(i % 24)}%02d:${(i % 60)}%02d:45.000"
      val district = if (i % 3 == 1 || i % 7 == 0) null else s"D${i % 5}"
      Row(
        streets(i % 4), "CPD", create, if (i % 5 == 4) null else s"DISP${i % 3}",
        eventNum, s"T${i % 9}", s"DESC${i % 9}", s"${1 + i % 5}",
        "GREEN", closed, s"B${i % 6}", district,
        null, // sna_neighborhood: 100% null (the drop target)
        if (i % 2 == 0) s"CPDN${i % 4}" else null, s"CCN${i % 3}",
        s"39.1${i % 10}", s"-84.5${i % 10}", closed, create
      )
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), CallsPipeline.IngestSchema)
  }

  /** [[fixture]] plus incidents it lacks: negative, sub-second and
    * half-way deltas (with losing duplicate rows that carry other
    * deltas), a three-incident group, and a two-incident group whose
    * deltas are all null.
    */
  private def parityFixture: DataFrame = {
    def call(event: String, create: String, closed: String, dispatch: String, arrival: String,
             district: String, beat: String): Row =
      Row("OAK ST", "CPD", create, "DISPX", event, "T1", "DESC1", "2", "RED", closed, beat, district,
        null, "CPDN9", "CCN9", "39.20", "-84.60", arrival, dispatch)
    val d = "2022-03-04T05"
    val extra = Seq(
      call("XNEG01", s"$d:10:00.500", s"$d:09:30.000", s"$d:10:07.999", s"$d:09:52.500", "D9", "B90"),
      call("XNEG01", s"$d:10:00.250", s"$d:59:00.000", s"$d:10:01.000", null, "D9", "B90"),
      call("XNEG01", s"$d:10:01.000", s"$d:10:02.000", null, null, null, "B90"),
      call("XNEG02", s"$d:20:00.000", s"$d:20:07.500", s"$d:19:52.500", s"$d:20:00.999", "D9", "B90"),
      call("XNEG03", s"$d:30:00.001", s"$d:29:59.999", s"$d:30:00.124", s"$d:29:59.000", "D9", "B90"),
      call("XNULL1", s"$d:40:00.000", null, null, null, "D8", "B91"),
      call("XNULL2", s"$d:45:00.000", null, null, null, "D8", "B91"),
      call("XNULL2", s"$d:44:00.000", s"$d:46:00.000", null, null, "D8", "B91")
    )
    fixture.union(spark.createDataFrame(spark.sparkContext.parallelize(extra, 2), CallsPipeline.IngestSchema))
  }

  /** The earlier formulation of [[CallsPipeline.frame]]: derive before
    * the dedup, then a distinct count and decimal-summed means.
    */
  private def referenceFrame(source: DataFrame): DataFrame = {
    import CallsPipeline._
    val best = dedupBest(dropSparse(deriveDateParts(deriveTimedeltas(parseTimes(source)))))
    DimAgg.dimAgg(best, AggDims.map(col), col("event_number"),
      TimedeltaSpecs.map { case (name, _, _) => s"${name}_mean" -> col(name) })
  }

  test("timestamp parse turns *time* columns into timestamps, bad/null → null") {
    val parsed = CallsPipeline.parseTimes(fixture)
    val timeCols = parsed.schema.fields.filter(_.name.toLowerCase.contains("time"))
    assert(timeCols.nonEmpty)
    timeCols.foreach(f => assert(f.dataType.typeName.startsWith("timestamp"), f.name))
    assert(parsed.filter(col("create_time_incident").isNull).count() === 0)
    assert(parsed.filter(col("closed_time_incident").isNull).count() === 30)
  }

  test("timedeltas: 45-second close delta = 0.75 minutes, null propagates") {
    val df = CallsPipeline.deriveTimedeltas(CallsPipeline.parseTimes(fixture))
    val vals = df.select("create_closed_timedelta").distinct().collect().map(r => Option(r.get(0)))
    assert(vals.toSet === Set(Some(0.75), None))
  }

  test("dedup keeps one best row per event, only non-null districts") {
    val best = CallsPipeline.dedupBest(
      CallsPipeline.dropSparse(CallsPipeline.deriveDateParts(CallsPipeline.deriveTimedeltas(CallsPipeline.parseTimes(fixture))))
    )
    assert(best.groupBy("event_number").count().filter(col("count") > 1).count() === 0)
    assert(best.filter(col("district").isNull).count() === 0)
    // events where EVERY row has null district must not appear at all
    val allNull = fixture.groupBy("event_number").agg(max(col("district")).as("d")).filter(col("d").isNull)
    assert(best.join(allNull, Seq("event_number"), "left_semi").count() === 0)
  }

  test("aggregate: 14 dims, one row per dim tuple, counts conserve") {
    val transformed = CallsPipeline.deriveDateParts(CallsPipeline.deriveTimedeltas(CallsPipeline.parseTimes(fixture)))
    val best = CallsPipeline.dedupBest(CallsPipeline.dropSparse(transformed))
    val agg = CallsPipeline.aggregate(best)
    assert(agg.columns.length === 14 + 1 + 4)
    assert(agg.select(sum("n_distinct")).head.getLong(0) === best.count()) // post-dedup: 1 event per row
    assert(agg.groupBy(CallsPipeline.AggDims.map(col): _*).count().filter(col("count") > 1).count() === 0)
  }

  test("full run: single write action lands the aggregate, retry count 1") {
    val out = Files.createTempDirectory("graft-pipeline").resolve("agg").toString
    val (rows, attempts) = CallsPipeline.run(fixture, out)
    assert(rows > 0 && attempts === 1)
    val reread = spark.read.parquet(out)
    assert(reread.columns.contains("create_closed_timedelta_mean"))
  }

  test("run's sink equals the derive-first, distinct-count formulation") {
    val src = parityFixture
    val out = Files.createTempDirectory("graft-pipeline-parity").resolve("agg").toString
    val (rows, _) = CallsPipeline.run(src, out)
    val sink = spark.read.parquet(out)
    val ref = referenceFrame(src)
    assert(CallsPipeline.frame(src).schema === ref.schema)
    assert(sink.schema.map(f => f.name -> f.dataType) === ref.schema.map(f => f.name -> f.dataType))
    assert(rows === ref.count())
    assert(sink.exceptAll(ref).isEmpty && ref.exceptAll(sink).isEmpty)
    // the added incidents reach the sink: negative, sub-second and
    // all-null means
    val means = CallsPipeline.TimedeltaSpecs.map { case (name, _, _) => col(s"${name}_mean") }
    val b90 = sink.filter(col("beat") === "B90").select(col("n_distinct") +: means: _*).head()
    assert(b90.getLong(0) === 3)
    assert(b90.getDouble(1) < 0)
    val b91 = sink.filter(col("beat") === "B91").select(col("n_distinct") +: means: _*).head()
    assert(b91.getLong(0) === 2 && (1 to 4).forall(b91.isNullAt))
  }

  test("run is one SQL action; the frame is one two-phase aggregate without distinct or decimal buffers") {
    val src = parityFixture
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = actions.incrementAndGet()
    }
    val out = Files.createTempDirectory("graft-pipeline-actions").resolve("agg").toString
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      CallsPipeline.run(src, out)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.get === 1)

    val plan = CallsPipeline.frame(src).queryExecution.executedPlan
    val aggs = new AdaptiveSparkPlanHelper {}.collect(plan) { case a: HashAggregateExec => a }
    assert(aggs.size === 2)
    assert(!plan.toString.contains("count(distinct"))
    val buffers = aggs.flatMap(_.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes))
    assert(!buffers.exists(_.dataType == DecimalType(35, 6)))
  }

  test("each derive stage is one projection; the frame matches the chained-withColumn formulation") {
    import CallsPipeline._
    val src = parityFixture
    // one withColumn, and one analyzer pass over the growing plan, per column
    def chained(df: DataFrame): DataFrame = {
      val parsed = df.columns.filter(_.toLowerCase.contains("time"))
        .foldLeft(df)((d, c) => d.withColumn(c, TimeOps.parseTimestamp(col(c))))
      val deltas = TimedeltaSpecs.foldLeft(dedupBest(dropSparse(parsed))) { case (d, (name, t2, t1)) =>
        d.withColumn(name, TimeOps.timedeltaMinutes(col(t2), col(t1)))
      }
      val ts = col("create_time_incident")
      aggregate(
        deltas.withColumn("create_time_incident_year", year(ts)).withColumn("create_time_incident_month", month(ts))
          .withColumn("create_time_incident_day", dayofmonth(ts)).withColumn("create_time_incident_hour", hour(ts))
      )
    }
    val (frame, ref) = (CallsPipeline.frame(src), chained(src))
    assert(frame.schema === ref.schema)
    assert(frame.queryExecution.optimizedPlan.sameResult(ref.queryExecution.optimizedPlan))
    def projects(df: DataFrame) = df.queryExecution.analyzed.collect { case p: Project => p }.size
    assert(projects(deriveDateParts(deriveTimedeltas(parseTimes(src)))) - projects(src) === 3)
  }

  test("profiling side-outputs: sparse column at 100%, pivot spans the 3 years") {
    val (nan, vc, pivot) = CallsPipeline.profile(fixture, "cpd_neighborhood", Seq(2019, 2020, 2021))
    val nanMap = nan.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(nanMap("sna_neighborhood") === 100.0)
    assert(nanMap("event_number") === 0.0)
    assert(vc.head.getLong(1) >= 2) // duplicate incidents exist
    assert(Seq("2019", "2020", "2021").forall(pivot.columns.contains))
  }
}
