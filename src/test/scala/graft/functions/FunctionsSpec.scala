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

    // SocrataTimestamp's fast path against the strict parser: calendar
    // edges (leap centuries, month and day 0/13/32, 24:00, :60) and the
    // shapes only the strict parser may answer.
    val years = Seq("0000", "0001", "0004", "0100", "0400", "1582", "1900", "2000", "2023", "2024", "2100", "9999")
    val days = Seq("00", "01", "28", "29", "30", "31", "32")
    val times = Seq("00:00:00.000", "00:00:00.001", "12:34:56.789", "23:59:59.999",
      "24:00:00.000", "23:60:00.000", "23:59:60.000")
    val grid = for (y <- years; m <- 0 to 13; d <- days; t <- times) yield f"$y-$m%02d-${d}T$t"
    val odd = Seq("2021-08-19T22:33:44.1", "2021-08-19T22:33:44.12", "2021-08-19T22:33:44.1234",
      "2021-08-19 22:33:44.000", "2021-08-19T22:33:44.000Z", "+2021-08-19T22:33:44.000",
      "2021-8-19T22:33:44.000", "2021-08-19T22:33:44,000", "\u0662\u0660\u0662\u0661-08-19T22:33:44.000",
      "2021-08-19T22:33:4\u0664.000", " 2021-08-19T22:33:44.000", "2021-08-19t22:33:44.000", "", null)
    val inputs = grid ++ odd
    val strictFmt = try_to_timestamp($"s", lit(TimeOps.SocrataFormat))
    def withConf[T](kv: (String, String))(body: => T): T = {
      val before = spark.conf.getOption(kv._1)
      spark.conf.set(kv._1, kv._2)
      try body
      finally before.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
    }
    def fastOffset(df: org.apache.spark.sql.DataFrame): Option[Long] =
      df.queryExecution.analyzed.expressions.flatMap(_.collect { case e: graft.plans.SocrataTimestamp => e })
        .head.fastOffsetSeconds
    val settings = Seq(
      "spark.sql.session.timeZone" -> "UTC" -> Some(0L),
      "spark.sql.session.timeZone" -> "+05:30" -> Some(19800L),
      "spark.sql.session.timeZone" -> "America/New_York" -> None,
      "spark.sql.timestampType" -> "TIMESTAMP_NTZ" -> Some(0L),
      "spark.sql.legacy.timeParserPolicy" -> "LEGACY" -> None
    )
    for ((kv, offset) <- settings) withConf(kv) {
      // a local relation is folded by the interpreted eval; an RDD scan
      // runs the generated code
      val sources = Seq(
        "interpreted" -> inputs.toDF("s"),
        "codegen" -> spark.sparkContext.parallelize(inputs, 3).toDF("s")
      )
      for ((path, src) <- sources) {
        val both = src.select($"s", TimeOps.parseTimestamp($"s").as("fast"), strictFmt.as("strict"))
        assert(both.schema("fast").dataType === both.schema("strict").dataType, s"$kv $path")
        assert(fastOffset(both) === offset, s"$kv $path")
        val diff = both.filter(!($"fast" <=> $"strict")).select("s").collect().map(_.getString(0))
        assert(diff.isEmpty, s"$kv $path: ${diff.take(10).mkString(", ")}")
      }
      val code = sources(1)._2.select(TimeOps.parseTimestamp($"s")).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(code.contains("SocrataTimestamp.fastMicros(") === offset.isDefined, s"$kv")
    }

    // the parity is not the fallback's alone: the fast path itself
    // answers every grid row the strict parser accepts (the odd shapes,
    // lower-case 't' among them, are the strict parser's alone)
    import graft.plans.SocrataTimestamp.{fastMicros, Miss}
    val onGrid = grid.toSet
    val hits = inputs.toDF("s").select($"s", unix_micros(strictFmt)).collect().count { r =>
      val s = r.getString(0)
      val fast = if (s == null) Miss else fastMicros(org.apache.spark.unsafe.types.UTF8String.fromString(s), 0L)
      val strict = if (r.isNullAt(1)) Miss else r.getLong(1)
      assert(fast === (if (onGrid(s)) strict else Miss), String.valueOf(s))
      fast != Miss
    }
    assert(hits === 2564) // 641 valid dates × 4 valid times
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
