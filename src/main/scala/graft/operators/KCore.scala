package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-core decomposition by bounded peeling — the graph-sparsification
  * step that isolates the cohesive heart of a near-dup graph (template
  * families survive; hash-noise tendrils peel away).
  *
  * Each round recomputes degrees in the SURVIVING subgraph and drops
  * nodes below k; an edge survives only while BOTH endpoints do. The
  * round count is a fixed parameter, not a convergence test — so the
  * computation is deterministic, its cost is `rounds` × (one keyed
  * degree aggregation + two semi joins), and the DuckDB oracle can
  * replay the identical rounds as chained CTEs (the PageRank/Lloyd
  * unrolling precedent). On real dedup graphs peeling stabilizes in a
  * handful of rounds; a production caller raises `rounds` until the
  * round-over-round drop count hits zero (observable per snapshot).
  *
  * Scale shape: everything is keyed by node id — degrees shard, the
  * endpoint filters are semi joins, nothing global. Like
  * [[ConnectedComponents]], each round references the previous edge
  * set twice (once per endpoint), so lineage would DOUBLE per round;
  * [[Rounds]] cuts it with one local checkpoint per round (the final
  * round goes to parquet), the same pattern as CC/PageRank.
  */
object KCore {

  /** Surviving (id, deg) after `rounds` of k-core peeling. `edges`
    * holds each undirected pair once; nodes whose edges are all peeled
    * vanish from the output.
    */
  def kcore(edges: DataFrame, a: Column, b: Column, k: Int, rounds: Int, scratchDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val scratch = scratchDir.getOrElse(Scratch.dir("graft-kcore"))
    val rs = new Rounds(spark, scratch)
    var e = edges.select(a.as("u"), b.as("v"))
    try
      for (r <- 1 to rounds) {
        val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val keep = sym
          .groupBy("u")
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("u").as("id"))
        val next = e
          .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        // intermediate rounds are local checkpoints; the FINAL round goes
        // to parquet because the returned degree frame reads it after this
        // call releases the live round (Rounds doc)
        e = if (r == rounds) rs.finish(next, s"round$r") else rs.next(next)._1
      }
    finally rs.release() // no checkpointed round outlives the call, also on error
    e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("deg"))
  }
}
