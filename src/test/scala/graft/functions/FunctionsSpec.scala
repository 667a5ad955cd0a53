package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("parseTimestamp: Socrata millis format; NULL on mismatch (NaT parity)") {
    val df = Seq("2021-08-19T22:33:44.000", "garbage", null)
      .toDF("s")
      .select(TimeOps.parseTimestamp($"s").as("ts"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).exists(_.startsWith("2021-08-19 22:33:44")))
    assert(got(1).isEmpty)
    assert(got(2).isEmpty)
  }

  test("parseTimeColumns targets only *time* columns by name") {
    val df = Seq(("2021-08-19T22:33:44.000", "x"))
      .toDF("create_time_incident", "other")
    val parsed = TimeOps.parseTimeColumns(df)
    assert(parsed.schema("create_time_incident").dataType.typeName.startsWith("timestamp"))
    assert(parsed.schema("other").dataType.typeName === "string")
  }

  test("timedeltaMinutes: sub-second precision, bround(2)") {
    val df = Seq(("2021-01-01 10:00:00", "2021-01-01 10:30:30"))
      .toDF("t1", "t2")
      .select(TimeOps.timedeltaMinutes(to_timestamp($"t2"), to_timestamp($"t1")).as("m"))
    assert(df.head.getDouble(0) === 30.5)
  }

  test("timedelta propagates null (NaT semantics)") {
    val df = Seq(("2021-01-01 10:00:00", Option.empty[String]))
      .toDF("t1", "t2")
      .select(TimeOps.timedeltaMinutes(to_timestamp($"t2"), to_timestamp($"t1")).as("m"))
    assert(df.head.isNullAt(0))
  }

  test("tryCast coerces bad strings to NULL even under ANSI") {
    val df = Seq("12", "x", null).toDF("s").select(TimeOps.tryCast($"s", "int").as("i"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq === Seq(Some(12), None, None))
  }

  test("roundAway: half always away from zero, both signs") {
    val df = Seq(0.04925, -0.04925, 1.005, 2.675).toDF("x").select(NumOps.roundAway($"x", 4).as("r4"), NumOps.roundAway($"x", 2).as("r2"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) === 0.0493)
    assert(rows(1).getDouble(0) === -0.0493)
  }

  test("exactAvg is invariant to repartitioning (decimal sums associative)") {
    val base = Tables1.lineitem(spark, sfDir)
    val a = base.agg(NumOps.exactAvg($"l_extendedprice").as("v")).head.getDouble(0)
    val b = base.repartition(17).agg(NumOps.exactAvg($"l_extendedprice").as("v")).head.getDouble(0)
    assert(a === b)

    // 2-decimal grid: both signs, zero, nulls, an all-null group and
    // magnitudes up to 1e9. fixedScaleAvg's long sums must give
    // exactAvg's bits, in any partitioning.
    val rnd = new scala.util.Random(7)
    val cents = Seq(0L, 1L, 5L, 49L, 50L, 51L, 99L, 100L, 12345L, 98765432L, 99999999999L, 100000000000L)
    val grid = (0 until 3000).map { i =>
      val c = if (i < 2 * cents.size) cents(i % cents.size) else rnd.nextLong(100000000001L)
      val v = if (i % 11 == 10) None else Some((if (i % 2 == 0) c else -c) / 100.0)
      (if (i % 97 == 0) -1 else i % 13, v)
    } ++ Seq((99, Option.empty[Double]), (99, Option.empty[Double]))
    val gridDf = grid.toDF("g", "x")
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g")
        .agg(NumOps.exactAvg($"x").as("exact"), NumOps.fixedScaleAvg($"x", 2).as("fixed"))
        .orderBy("g").collect()
        .map(r => (r.getInt(0), Seq(1, 2).map(k => Option(r.get(k)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])))))
        .toSeq
    val whole = bits(gridDf)
    assert(whole.forall { case (_, Seq(e, f)) => e === f })
    assert(whole.exists { case (g, vs) => g == 99 && vs.forall(_.isEmpty) })
    assert(bits(gridDf.repartition(17)) === whole)
  }

  private object Tables1 {
    def lineitem(s: org.apache.spark.sql.SparkSession, dir: String) =
      graft.sources.Tables.parquet(s, dir, "lineitem")
  }
}
