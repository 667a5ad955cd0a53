package graft.operators


import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the rung of the dedup
  * ladder ABOVE candidate pairs: near-dup pairs only say "these two are
  * duplicates"; deduplication needs the transitive closure (a≈b, b≈c ⇒
  * {a,b,c} are one cluster) and ONE canonical keeper per cluster.
  * (The reference's exact dedup, `app.py:427-480`, never needs this —
  * exact-hash groups are already transitive; similarity graphs are
  * not.)
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with itself; each round, a node's label becomes the min of
  * its own and its neighbors'; converged when no label changes. Rounds
  * = graph diameter — and near-dup graphs are overwhelmingly
  * tiny-diameter star/clique clusters, so 3-5 rounds in practice. Each
  * round is one join + one aggregation (two shuffles), all keyed on
  * node id: no driver-side graph, no collect — node and edge sets
  * stream through exchanges at any scale. (The round-count optimization
  * for adversarial long-chain graphs is alternating large-star /
  * small-star [Kiveris et al., "Connected Components in MapReduce"];
  * same per-round plan shape, fewer rounds — the swap-in if diameter
  * ever bites.)
  *
  * Lineage: every round is MATERIALIZED before the next is planned —
  * via [[Rounds]]: one local checkpoint per round (with the convergence
  * checksum observed inline on that same action), which cuts the plan
  * to one leaf (each round references the previous labels twice — self
  * ∪ via-neighbor — so an uncut plan would double per round), the
  * previous round's blocks dropped as the loop advances. The FINAL
  * labeling is written to parquet and read back, so the returned frame
  * is a plain scan, and no checkpoint blocks outlive the call
  * (NoLeakSpec discipline).
  *
  * Determinism: min-label is order-free — the converged labeling is a
  * pure function of the graph, independent of partitioning, round
  * count past convergence, or tie order. The DuckDB oracle computes the
  * same fixpoint with a recursive CTE.
  */
object ConnectedComponents {

  /** One row per node: (id, cluster) where cluster = min node id
    * reachable through `edges` (undirected; pass each pair once).
    * Node ids must be an INTEGRAL type: the checksum convergence test
    * sums labels exactly as decimal — string or fractional ids would
    * make the cast throw (ANSI) or the test lie. Hash non-numeric keys
    * to longs first (`TextOps.hash32` is the house pattern).
    */
  def minLabel(
      nodes: DataFrame,
      id: Column,
      edges: DataFrame,
      a: Column,
      b: Column,
      maxIters: Int = 20,
      scratchDir: Option[String] = None
  ): DataFrame = {
    val spark = nodes.sparkSession
    val idType = nodes.select(id.as("id")).schema("id").dataType
    require(
      {
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)
      },
      s"minLabel needs integral node ids (checksum convergence sums them exactly); got $idType"
    )
    val base = scratchDir.getOrElse(Scratch.dir("graft-cc"))

    // convergence by CHECKSUM, not a join: every node's label is
    // non-increasing (next = min(own, neighbors')), so Σ labels strictly
    // decreases iff ANY label changed. The checksum rides the round's
    // OWN materialization action (Dataset.observe inside Rounds.next) —
    // no separate aggregation job per round. Decimal sum: no overflow
    // at any n.
    val checkCol = sum(col("lbl").cast("decimal(38,0)")).as("s")
    def asSum(m: Map[String, Any]): java.math.BigDecimal =
      Option(m("s")).map(_.asInstanceOf[java.math.BigDecimal]).getOrElse(java.math.BigDecimal.ZERO)

    // symmetrize once — and materialize: the edge pipeline (for q80,
    // the whole minhash+banding candidate generation) must run ONCE,
    // not once per propagation round. Cached, never parquet'd: it is
    // consumed only inside this loop and released before return.
    val sym = edges
      .select(a.as("src"), b.as("dst"))
      .unionByName(edges.select(b.as("src"), a.as("dst")))
      .persist()

    val rounds = new Rounds(spark, base)
    try {
      var (labels, m0) = rounds.next(nodes.select(id.as("id"), id.as("lbl")), Seq(checkCol))
      var prevSum = asSum(m0)
      var round = 0
      var converged = false
      while (!converged && round < maxIters) {
        round += 1
        // a node's next label: min of its own and every neighbor's
        val viaNeighbor = sym
          .join(labels, sym("src") === labels("id"))
          .select(col("dst").as("id"), col("lbl"))
        val (next, mr) =
          rounds.next(labels.unionByName(viaNeighbor).groupBy("id").agg(min("lbl").as("lbl")), Seq(checkCol))
        val nextSum = asSum(mr)
        labels = next
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      }
      // silent truncation would return WRONG clusters (and diverge from
      // the oracle's exact fixpoint) — refuse instead
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIters rounds — graph diameter exceeds the cap; raise maxIters"
        )
      // the returned frame is a plain parquet scan (unchanged contract)
      rounds.finish(labels.withColumnRenamed("lbl", "cluster"), "cc_labels")
    } finally {
      // no cached or checkpointed blocks outlive the call, also on error
      rounds.release()
      sym.unpersist()
    }
  }

  /** Incremental connected components — cluster-label MAINTENANCE
    * under edge arrivals, the production shape continuous dedup needs:
    * yesterday's labeling is PUBLISHED (`oldLabels`), today's batch
    * adds `newNodes` and `deltaEdges`, and a full-graph recompute per
    * day is exactly the cost this exists to avoid. Only components a
    * delta edge touches can change (adding nodes/edges only MERGES
    * components — it can never split one), so the fixpoint re-runs on
    * the bounded subgraph of (new nodes ∪ members of affected
    * components) with (delta edges ∪ old edges inside affected
    * components); every other label is carried through untouched.
    * Returns (id, cluster, relabeled) — relabeled marks the rows the
    * maintenance pass actually recomputed, which is also the day's
    * write amplification. Audited ≡ the full recompute in q358 (and
    * bit-for-bit on a cluster-merging fixture in the spec): min-label
    * is a pure function of the graph, and the subgraph preserves all
    * connectivity among exactly the nodes whose labels can move.
    * Scale shape: two keyed semi-joins to find the affected closure,
    * then [[minLabel]] over a delta-bounded subgraph — the corpus
    * never re-pairs, and rounds follow the SUBGRAPH diameter.
    *
    * PRECONDITION: `oldLabels` must cover every OLD node that
    * `oldEdges` or `deltaEdges` references — i.e. each delta endpoint
    * is either in `newNodes` or has a row in `oldLabels`. An endpoint
    * in neither is silently absent from the subgraph's node set while
    * its edges still enter the sub-fixpoint, which can emit labels for
    * nodes outside the declared universe. That invariant is exactly
    * "yesterday's labeling was complete", which a published labeling
    * satisfies by construction (q358's call site does).
    */
  def incrementalMinLabel(
      newNodes: DataFrame,
      id: Column,
      oldLabels: DataFrame, // (id, cluster) — yesterday's published labeling
      oldEdges: DataFrame,
      deltaEdges: DataFrame,
      a: Column,
      b: Column,
      scratchDir: Option[String] = None
  ): DataFrame = {
    val spark = newNodes.sparkSession
    val base = scratchDir.getOrElse(Scratch.dir("graft-inc-cc"))
    def snapshot(df: DataFrame, name: String): DataFrame = {
      val path = s"$base/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    // delta is consumed only inside this call (endpoint set + the
    // sub-fixpoint's edge union, whose final labeling is parquet'd by
    // minLabel) — cache it instead of a parquet round-trip; `affected`
    // stays a parquet snapshot because the RETURNED plan references it
    // (the carried-through anti-join), so it must outlive this call.
    val delta = deltaEdges.select(a.as("d1"), b.as("d2")).persist()
    delta.count()
    val endpoints = delta
      .select(col("d1").as("id"))
      .unionByName(delta.select(col("d2").as("id")))
      .distinct()
    // affected closure: every OLD component a delta edge touches — the
    // label, not just the endpoint, because the whole component may
    // inherit a smaller minimum through the merge
    val affected = snapshot(
      oldLabels.join(endpoints, Seq("id"), "left_semi").select("cluster").distinct(),
      "affected"
    )
    val subNodes = newNodes
      .select(id.as("id"))
      .unionByName(oldLabels.join(affected, Seq("cluster"), "left_semi").select("id"))
      .distinct()
    // old edges inside affected components: both endpoints share a
    // component by construction, so classifying by d1's label suffices
    val oldAffected = oldEdges
      .select(a.as("d1"), b.as("d2"))
      .join(oldLabels.select(col("id").as("d1"), col("cluster")), Seq("d1"))
      .join(affected, Seq("cluster"), "left_semi")
      .select("d1", "d2")
    val subLabels =
      try
        minLabel(
          subNodes,
          col("id"),
          delta.unionByName(oldAffected),
          col("d1"),
          col("d2"),
          scratchDir = Some(s"$base/cc")
        )
      finally delta.unpersist() // minLabel's sym cache + final parquet no longer need it
    oldLabels
      .join(affected, Seq("cluster"), "left_anti")
      .select(col("id"), col("cluster"), lit(0L).as("relabeled"))
      .unionByName(subLabels.select(col("id"), col("cluster"), lit(1L).as("relabeled")))
  }

  /** Alternating large-star / small-star connected components
    * [Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14] — the round-count upgrade over [[minLabel]]: O(log²n)
    * rounds on ANY graph versus diameter rounds, the swap-in when
    * adversarial long chains ever bite. Same output contract and the
    * same per-round machinery (two keyed shuffles, snapshot-per-round
    * lineage truncation, convergence by fixpoint, throw on cap).
    *
    * Edges are kept normalized (hi, lo):
    *  - large-star: over the full neighborhood of each node `u`, link
    *    every LARGER neighbor to `m = min(Γ(u) ∪ u)` — long chains
    *    collapse toward minima from both sides at once;
    *  - small-star: over each node's ≤-neighbors, re-point them all at
    *    the minimum — consolidating the partial stars.
    * The fixpoint is a forest of stars rooted at component minima;
    * labels read directly off the final edge set (singletons label
    * themselves). Spec-proven equal to [[minLabel]] on chains, cliques
    * and seeded random graphs.
    */
  def alternatingStar(
      nodes: DataFrame,
      id: Column,
      edges: DataFrame,
      a: Column,
      b: Column,
      maxIters: Int = 30,
      scratchDir: Option[String] = None
  ): DataFrame = {
    val spark = nodes.sparkSession
    val base = scratchDir.getOrElse(Scratch.dir("graft-cc-star"))

    def snapshot(df: DataFrame, name: String): DataFrame = {
      val path = s"$base/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    def dropSnapshot(name: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$base/$name")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }

    // normalized (hi, lo) edge set, self-loops dropped
    var e = snapshot(
      edges
        .select(greatest(a, b).as("hi"), least(a, b).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct(),
      "star_0"
    )
    var round = 0
    var converged = false
    while (!converged && round < maxIters) {
      round += 1
      // large-star: m(u) over the FULL neighborhood; larger neighbors
      // re-point at m. (v, m) is normalized by construction: m <= u < v
      val sym = e
        .select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val mFull = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym
        .join(mFull, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // small-star: per hi-node minimum over its <=-neighbors (and
      // itself); every member of that set re-points at the minimum
      val mSmall = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val small = large
        .join(mSmall, "hi")
        .select(greatest(col("lo"), col("m")).as("hi2"), least(col("lo"), col("m")).as("lo2"), col("hi").as("self"), col("m"))
      val next = snapshot(
        small
          .select(col("self").as("hi"), col("m").as("lo"))
          .unionByName(small.select(col("hi2").as("hi"), col("lo2").as("lo")))
          .filter(col("hi") =!= col("lo"))
          .distinct(),
        s"star_$round"
      )
      val changed = next.unionByName(e).except(next.intersect(e)).count()
      dropSnapshot(s"star_${round - 1}")
      e = next
      converged = changed == 0
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating-star did not converge in $maxIters rounds; raise maxIters"
      )
    // fixpoint edges are (member, root) stars: label = root, or self
    val out = nodes
      .select(id.as("id"))
      .join(e.select(col("hi").as("id"), col("lo").as("cluster")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    out
  }
}
