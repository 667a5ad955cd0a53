package graft.operators


import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over the near-dup candidate graph, in INTEGER arithmetic.
  *
  * Centrality on the duplicate graph ranks each cluster's most
  *-connected member — a principled canonical-document choice (vs q80's
  * min-id or q118's longest-member) and a dedup-graph health metric
  * (an abnormally central doc is a template/boilerplate magnet worth
  * inspecting).
  *
  * All mass is held in fixed-point longs (1 ≡ 10⁻¹² of total rank) and
  * every division is a FLOOR division: `pr div deg` and
  * `(85 · inflow) div 100`. Floating-point PageRank is
  * summation-order-dependent (a parallel sum of doubles differs by
  * ulps between partitionings, engines, runs); floored integer mass is
  * bit-identical everywhere, at the price of leaking ≤1 unit per
  * division — bounded, deterministic, and identically replayed by the
  * DuckDB oracle (which unrolls the same iterations; the IVF/Lloyd
  * oracle precedent). Dangling mass (isolated nodes keep only the
  * teleport term; their rank never flows out) is likewise dropped
  * identically on both sides.
  *
  * Scale shape: per iteration, ONE (src)-keyed join to ship each
  * node's share along its edges and ONE (dst)-keyed aggregation to
  * collect inflow — the standard message-passing round, sharded by
  * node key, nothing global. Unlike [[ConnectedComponents]] (whose
  * rounds reference the previous labels TWICE, doubling lineage per
  * round), PageRank references the previous ranks once — lineage
  * grows linearly — so materializing every round would pay 10 jobs for
  * nothing. Every `SnapshotEvery` rounds the ranks are cut to one local
  * checkpoint through [[Rounds]], and the final round goes to parquet:
  * plans stay shallow, un-materialized rounds fuse into one job, nothing
  * is recomputed (each intermediate is consumed exactly once).
  * Iteration count is a fixed parameter (rank deltas shrink
  * geometrically — 10 rounds is the conventional budget), so wall time
  * is linear in |E| · iters with no convergence action at all.
  */
object PageRank {

  val One: Long = 1000000000000L // fixed-point unit: total mass = 1e12

  private val SnapshotEvery = 5 // rounds between lineage cuts (see the object doc)

  /** One row per node: (id, deg, pr) — `pr` the floored fixed-point
    * rank after `iters` message-passing rounds; `deg` the undirected
    * degree (0 for isolated nodes, whose rank is the bare teleport
    * term). `edges` holds each undirected pair once.
    */
  def integerPageRank(
      nodes: DataFrame,
      id: Column,
      edges: DataFrame,
      a: Column,
      b: Column,
      iters: Int = 10,
      damping: Int = 85, // percent
      scratchDir: Option[String] = None
  ): DataFrame = {
    val spark = nodes.sparkSession
    val base = scratchDir.getOrElse(Scratch.dir("graft-pr"))

    def snapshot(df: DataFrame, name: String): DataFrame = {
      val path = s"$base/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    // ids and sym are consumed only inside the loop (the final round is
    // parquet'd below) — cache them instead of parquet round-trips; deg
    // stays a parquet snapshot because the RETURNED join reads it after
    // the caches are released (r14 optimization round, guide §1/§2.4)
    val ids = nodes.select(id.as("id")).persist()
    val sym = edges
      .select(a.as("src"), b.as("dst"))
      .unionByName(edges.select(b.as("src"), a.as("dst")))
      .persist()
    val deg = snapshot(sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), "deg")

    val rounds = new Rounds(spark, base)
    try {
      // driver-side scalars: node count fixes the teleport term — the
      // same dimension-sized action as CC's convergence checksum (this
      // count is also what materializes the ids cache)
      val n = ids.count()
      require(n > 0, "PageRank over an empty node set")
      val teleport = (100 - damping) * One / (100 * n) // floor, as the oracle floors

      var pr = ids.withColumn("pr", lit(One / n))
      (1 to iters).foreach { i =>
        val share = pr
          .join(deg, Seq("id"))
          .select(col("id"), expr("pr div deg").as("sh"))
        val inflow = sym
          .join(share, sym("src") === share("id"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("sh")).as("inflow"))
        pr = ids
          .join(inflow, Seq("id"), "left")
          .select(
            col("id"),
            (lit(teleport) + expr(s"($damping * coalesce(inflow, 0L)) div 100")).as("pr")
          )
        if (i == iters) pr = rounds.finish(pr, s"round_$i")
        else if (i % SnapshotEvery == 0) pr = rounds.next(pr)._1
      }
      pr.join(deg, Seq("id"), "left").select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"), col("pr"))
    } finally {
      // the final round's parquet backs the returned frame; the loop
      // caches and checkpoints are done — released also on error
      rounds.release()
      ids.unpersist()
      sym.unpersist()
    }
  }
}
