package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{NumOps, TimeOps}
import graft.operators.{Dedup, Profiling}
import graft.sinks.RetryingSink

/** The reference pipeline (`main_func`, `app.py:206-968`) end-to-end,
  * Spark-first: every stage is a declarative DataFrame transform, the
  * whole run is ONE SQL action, the sink write (the reference also
  * materializes exactly once, at the Mongo insert — SURVEY §3), and
  * Catalyst owns pushdown/pruning/partial-agg.
  *
  * Stage map (reference → here), in run order:
  *  - ingest: 19-col all-string schema (`app.py:61-83`) → [[IngestSchema]]
  *  - timestamp parse on *time* columns (`app.py:275-282`) → [[parseTimes]]
  *  - drop ~100%-null column (`app.py:316`) → [[dropSparse]]
  *  - dedup to best row per incident (`app.py:427-516`) → [[dedupBest]]
  *    (sort+index+groupmax+join collapses to one window — SURVEY §2.10)
  *  - 4 response-time metrics in minutes (`app.py:290-312`) → [[deriveTimedeltas]]
  *  - calendar parts (`app.py:320-346`) → [[deriveDateParts]]
  *  - 14-dim aggregate (`app.py:520-590`) → [[aggregate]]
  *  - truncate-and-load with retry (`app.py:645-740`) → RetryingSink
  *
  * The reference derives before it dedups; both derivations are per-row
  * and the dedup reads neither, so deriving after it gives the same rows
  * while computing them once per incident and shuffling the narrower
  * parsed rows.
  */
object CallsPipeline {

  /** The Socrata ingest schema: 19 columns, all strings (`app.py:61-83`,
    * names per the rename at `app.py:434-461`).
    */
  val IngestSchema: StructType = StructType(
    Seq(
      "address_x", "agency", "create_time_incident", "disposition_text",
      "event_number", "incident_type_id", "incident_type_desc", "priority",
      "priority_color", "closed_time_incident", "beat", "district",
      "sna_neighborhood", "cpd_neighborhood", "community_council_neighborhood",
      "latitude_x", "longitude_x", "arrival_time_primary_unit",
      "dispatch_time_primary_unit"
    ).map(StructField(_, StringType, nullable = true))
  )

  /** The 14 grouping dimensions of `get_agg` (`app.py:552-567`). */
  val AggDims: Seq[String] = Seq(
    "create_time_incident_year", "create_time_incident_month",
    "create_time_incident_day", "create_time_incident_hour",
    "address_x", "disposition_text", "incident_type_id", "priority",
    "beat", "district", "cpd_neighborhood",
    "community_council_neighborhood", "latitude_x", "longitude_x"
  )

  /** (metric name, end column, start column) for the four response-time
    * deltas (`app.py:290-312`).
    */
  val TimedeltaSpecs: Seq[(String, String, String)] = Seq(
    ("create_closed_timedelta", "closed_time_incident", "create_time_incident"),
    ("create_dispatch_timedelta", "dispatch_time_primary_unit", "create_time_incident"),
    ("create_arrival_timedelta", "arrival_time_primary_unit", "create_time_incident"),
    ("dispatch_arrival_timedelta", "arrival_time_primary_unit", "dispatch_time_primary_unit")
  )

  def parseTimes(df: DataFrame): DataFrame = TimeOps.parseTimeColumns(df)

  def deriveTimedeltas(df: DataFrame): DataFrame =
    df.withColumns(ListMap(TimedeltaSpecs.map { case (name, t2, t1) =>
      name -> TimeOps.timedeltaMinutes(col(t2), col(t1))
    }: _*))

  def deriveDateParts(df: DataFrame): DataFrame =
    TimeOps.withDateParts(df, "create_time_incident")

  def dropSparse(df: DataFrame): DataFrame = df.drop("sna_neighborhood")

  /** Best record per incident: latest `create_time_incident` among rows
    * with a non-null district; ties broken by `ind` (arrival order) when
    * present — the well-defined replacement for the reference's
    * partition-local index (SURVEY §7 risk list).
    */
  def dedupBest(df: DataFrame): DataFrame = {
    val order =
      if (df.columns.contains("ind")) Seq(col("create_time_incident").desc, col("ind").desc)
      else Seq(col("create_time_incident").desc)
    Dedup.keepOnePerKey(df, Seq(col("event_number")), order, keep = Some(col("district").isNotNull))
  }

  /** `get_agg`: incident count + mean response times over the 14 dims;
    * null keys kept (`dropna=False`), global semantics (the reference's
    * per-partition variant is documented-weaker, SURVEY §2.5 A6).
    *
    * Takes [[dedupBest]]'s output: one row per `event_number`, so a
    * plain `count` is the reference's `nunique` without the second,
    * (dims + id)-keyed aggregation a distinct count plans as. The means
    * sum the [[TimeOps.DeltaScale]]-decimal deltas in longs
    * ([[NumOps.fixedScaleAvg]]), bit-identical to [[NumOps.exactAvg]].
    */
  def aggregate(df: DataFrame): DataFrame =
    df.groupBy(AggDims.map(col): _*)
      .agg(
        count(col("event_number")).as("n_distinct"),
        TimedeltaSpecs.map { case (name, _, _) =>
          NumOps.fixedScaleAvg(col(name), TimeOps.DeltaScale).as(s"${name}_mean")
        }: _*
      )

  /** transform → dedup → aggregate: the frame [[run]] loads. */
  def frame(source: DataFrame): DataFrame =
    aggregate(deriveDateParts(deriveTimedeltas(dedupBest(dropSparse(parseTimes(source))))))

  /** Full run: [[frame]] → truncate-and-load, one write action per sink
    * attempt. Returns (aggregate rows the write observed, sink attempts
    * used); each attempt observes under a fresh name, since an
    * `Observation` serves one action only.
    */
  def run(source: DataFrame, sinkPath: String): (Long, Int) = {
    val agg = frame(source)
    RetryingSink.withRetry() { () =>
      val rows = Observation(s"calls_pipeline_rows_${System.nanoTime()}")
      agg.observe(rows, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite).parquet(sinkPath)
      rows.get("rows").asInstanceOf[Long]
    }
  }

  /** The profiling side-outputs of the reference run: per-column null
    * percentages (`show_nan`), incident frequency (`value_counts`), and
    * the day×month×year null pivot (`get_nan_pivot`).
    */
  def profile(df: DataFrame, nanPivotProbe: String, years: Seq[Int]): (DataFrame, DataFrame, DataFrame) = {
    val nan = Profiling.nanProfile(df, df.columns.toSeq)
    val vc = Profiling.valueCounts(df, col("event_number"))
    val pivot = Profiling.pivotDistinctCount(
      deriveDateParts(parseTimes(df)),
      probe = col(nanPivotProbe).isNull,
      rowDims = Seq(col("create_time_incident_day"), col("create_time_incident_month")),
      pivotCol = "create_time_incident_year",
      pivotValues = years,
      idCol = col("event_number")
    )
    (nan, vc, pivot)
  }
}
