package graft

import org.apache.spark.sql.DataFrame

/** Cache discipline: no query may leak persisted blocks into the
  * session. Historically the near-dup/ANN/tfidf operators `persist()`ed
  * shared intermediates and relied on callers to `clearCache()` — a
  * footgun for library users (blocks accumulate until executors evict
  * under memory pressure). Now the shared subtrees are either reused by
  * the planner (ReuseExchange on identical self-join sides), folded
  * into keyed windows, or — for IVF training, which genuinely needs a
  * cache across its Lloyd collects — unpersisted before the operator
  * returns.
  */
class NoLeakSpec extends SparkSpec {

  private def assertNoBlocks(name: String)(mk: => DataFrame): Unit = {
    spark.catalog.clearCache()
    val df = mk
    df.collect()
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(
      leaked.isEmpty,
      s"$name left ${leaked.size} cached RDD(s) in the session: ${leaked.values.map(_.toString).mkString("; ")}"
    )
  }

  test("near-dup, ANN, and tfidf queries leave no cached blocks after execution") {
    assertNoBlocks("q26_ngram_jaccard")(Queries.ngramJaccard(spark, sfDir))
    assertNoBlocks("q27_minhash_lsh")(Queries.minhashLsh(spark, sfDir))
    assertNoBlocks("q31_ann_lsh")(Queries.annLsh(spark, sfDir))
    assertNoBlocks("q36_ann_ivf (training cache unpersisted)")(Queries.annIvf(spark, sfDir))
    assertNoBlocks("q51_embed_near_dup_lsh")(Queries.embedNearDupLsh(spark, sfDir))
    assertNoBlocks("q71_tfidf")(Queries.tfidf(spark, sfDir))
    // every Rounds-backed graph query: per-round checkpoints unpersisted
    assertNoBlocks("q80_dedup_clusters")(Queries.dedupClusters(spark, sfDir))
    assertNoBlocks("q150_pagerank")(Queries.pagerank(spark, sfDir))
    assertNoBlocks("q183_kcore")(Queries.kcoreDocs(spark, sfDir))
    assertNoBlocks("q330_hits")(Queries.hitsScores(spark, sfDir))
    assertNoBlocks("q350_label_propagation")(Queries.labelPropagation(spark, sfDir))
    assertNoBlocks("q358_incremental_clusters")(Queries.incrementalClusters(spark, sfDir))
    assertNoBlocks("q105_minhash_estimate")(Queries.minhashEstimate(spark, sfDir))
    assertNoBlocks("spec-only jaccardPairs")(
      graft.operators.NearDup.jaccardPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")
      )
    )
  }

  /** The manifest-lakehouse fixtures built on [[ManifestFixture]]:
    * q404–q453 except q407/q408 (ANN serving) and q415 (the scratch
    * catalog).
    */
  private val manifestFixtures = SparkEntry.queries.toSeq
    .filter { case (name, _) =>
      val id = name.drop(1).takeWhile(_.isDigit).toInt
      id >= 404 && id <= 453 && !Set(407, 408, 415).contains(id)
    }
    .sortBy(_._1)

  test("CDF/manifest staging queries leave no cached blocks after execution") {
    // they stage batch tables from cached projected sources and cache
    // feeds and snapshots; every cache must be released before the
    // query returns
    assert(manifestFixtures.size == 47)
    manifestFixtures.foreach { case (name, q) => assertNoBlocks(name)(q(spark, sfDir)) }
  }

  test("withCached releases its cache when the body throws, and rethrows the body's exception") {
    spark.catalog.clearCache()
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      ManifestFixture.withCached(spark.range(100).toDF("id")) { df =>
        assert(df.count() == 100L) // materializes the cache
        throw boom
      }
    }
    assert(thrown eq boom)
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty, s"withCached left ${leaked.size} cached RDD(s) after a throw")
  }

  test("LSH banding self-join materializes its shared side once (ReuseExchange)") {
    // q27 itself now reads the CandidateGraph snapshot (the stronger
    // form of "build once"); the ReuseExchange guarantee belongs to
    // the LIVE banding operator that builds that snapshot, so assert
    // it on the operator directly
    val docs = graft.sources.Tables.parquet(spark, sfDir, "documents")
    val sigs = graft.operators.NearDup
      .minhashSignatures(docs, org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("text"), k = 16, n = 3)
    val df = graft.operators.NearDup.lshCandidatePairs(sigs, bands = 4, rowsPerBand = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"banding sides must share one shuffle:\n$p")
  }
}
