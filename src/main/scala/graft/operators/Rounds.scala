package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One lineage cut per round for iterative operators (connected
  * components, label propagation, k-core, HITS, PageRank).
  *
  * Catalyst's analyzer and optimizer walk the whole logical tree on
  * every action. A round that re-embeds its predecessor's tree — CC's
  * self ∪ via-neighbor and k-core's semi joins reference it two or
  * three times, HITS re-embeds the other side each half-round — grows
  * that tree with every round, geometrically when the references
  * multiply: r14's q330 let 16 half-rounds grow uncut into the 2 GB
  * plan-string cap (6.4 s → 1 741 s, all driver-side). So [[next]]
  * cuts EVERY round, with no per-operator interval to tune:
  *
  *  - one action, `Dataset.localCheckpoint()`, materializes the round
  *    into executor blocks and returns a frame whose plan is a single
  *    `LogicalRDD` leaf — no parquet encode, commit protocol or
  *    re-listing, and the plan the next round builds on never grows
  *    with the round count;
  *  - convergence/census metrics ride that same action via
  *    `Dataset.observe` — no separate checksum job;
  *  - the previous round's checkpoint RDD is unpersisted once the new
  *    round is materialized, so exactly one round is live between
  *    calls (two only while the next one is being computed);
  *  - [[finish]] writes the final frame to parquet, releases the live
  *    round, and returns the plain parquet scan — the returned frame
  *    outlives the operator and holds no blocks (the NoLeakSpec
  *    discipline); [[release]] drops the live round for callers that
  *    stop early or throw.
  *
  * Checkpoint blocks replace recomputable lineage, which has two
  * consequences:
  *
  *  - a frame that still reads a RELEASED round fails with a missing
  *    checkpoint block error instead of silently recomputing it. Every
  *    caller builds round n+1 from round n only; keep it that way;
  *  - on a real cluster a lost executor takes its blocks with it and
  *    fails the job, where a parquet barrier would have bounded the
  *    recomputation. Every harness here runs `local[N]`.
  */
final class Rounds(spark: SparkSession, base: String) {

  private var live: Option[RDD[_]] = None

  /** Materialize one round. Returns the frame the NEXT round should
    * build on (a one-node checkpoint plan) plus the observed metrics
    * (empty map when none were asked for).
    */
  def next(df: DataFrame, metrics: Seq[Column] = Nil): (DataFrame, Map[String, Any]) = {
    val obs = if (metrics.nonEmpty) Some(Observation()) else None
    val cut = obs.fold(df)(o => df.observe(o, metrics.head, metrics.tail: _*)).localCheckpoint()
    val got: Map[String, Any] = obs.map(_.get).getOrElse(Map.empty)
    release()
    // the checkpoint's blocks belong to the RDD under the LogicalRDD
    // leaf; `cut.unpersist()` would look in the CacheManager and miss them
    live = cut.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    (cut, got)
  }

  /** Write `df` (typically the last round or a projection of it) to
    * `base/name`, release the live round, and return the plain parquet
    * scan.
    */
  def finish(df: DataFrame, name: String): DataFrame = {
    val path = s"$base/$name"
    df.write.mode("overwrite").parquet(path)
    release()
    spark.read.parquet(path)
  }

  /** Drop the live round's checkpoint blocks. */
  def release(): Unit = {
    live.foreach(_.unpersist(blocking = false))
    live = None
  }
}
