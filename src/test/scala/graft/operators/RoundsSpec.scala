package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Focused spec for Rounds: each round is one local checkpoint whose
  * plan is a single leaf, observed metrics ride that same action, and
  * neither finish nor release leaves persisted RDDs behind. Checkpoint
  * blocks live outside the CacheManager, so leaks are read from the
  * SparkContext's persistent RDDs, relative to what the suite found.
  */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def planNodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case p => p }.size

  test("observed metrics ride the round's checkpoint action") {
    val before = persistedIds
    val rs = new Rounds(spark, Scratch.dir("rounds-spec"))
    val (r1, m1) = rs.next(Seq(1L, 2L, 3L).toDF("v"), Seq(sum(col("v")).as("s")))
    assert(m1("s") == 6L)
    assert(planNodes(r1) == 1)
    assert(r1.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert((persistedIds -- before).size == 1) // the live round
    val (r2, m2) = rs.next(r1.select((col("v") * 10).as("v")), Seq(count(lit(1)).as("n"), max(col("v")).as("m")))
    assert(m2("n") == 3L && m2("m") == 30L)
    assert(r2.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    assert((persistedIds -- before).size == 1) // round 1 released once round 2 is live
    rs.release()
    assert((persistedIds -- before).isEmpty)
  }

  test("plan size does not grow over 12 self-doubling rounds") {
    val rs = new Rounds(spark, Scratch.dir("rounds-spec-doubling"))
    try {
      var cur = rs.next(spark.range(4).toDF("v"))._1
      // each candidate references the previous round twice, so an uncut
      // plan would double per round
      val sizes = (1 to 12).map { _ =>
        val candidate = cur.unionByName(cur.select((col("v") + 1).as("v"))).distinct()
        val candidateNodes = planNodes(candidate)
        cur = rs.next(candidate)._1
        (candidateNodes, planNodes(cur))
      }
      assert(sizes.map(_._1).distinct.size == 1, s"candidate plan sizes per round: ${sizes.map(_._1)}")
      assert(sizes.forall(_._2 == 1), s"returned plan sizes per round: ${sizes.map(_._2)}")
      assert(cur.as[Long].collect().sorted.toSeq == (0L to 15L))
    } finally rs.release()
  }

  test("a body that throws between rounds, then release(), leaves no persisted RDDs") {
    val before = persistedIds
    val rs = new Rounds(spark, Scratch.dir("rounds-spec-throw"))
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      try {
        val (r1, _) = rs.next(spark.range(10).toDF("v"))
        rs.next(r1.select((col("v") + 1).as("v")))
        assert((persistedIds -- before).size == 1)
        throw boom
      } finally rs.release()
    }
    assert(thrown eq boom)
    assert((persistedIds -- before).isEmpty)
  }

  test("finish writes the final frame and releases every cached round") {
    val before = persistedIds
    val rs = new Rounds(spark, Scratch.dir("rounds-spec3"))
    val (r1, _) = rs.next(Seq(5L).toDF("v"))
    val fin = rs.finish(r1.select((col("v") + 1).as("v")), "final")
    assert(fin.as[Long].collect().toSeq == Seq(6L))
    assert((persistedIds -- before).isEmpty)
  }
}
