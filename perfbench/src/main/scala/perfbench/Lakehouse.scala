package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.DurableManifestLog

/** `lakehouse_rw`: SQL against the `graft_mfst` catalog on a table whose
  * log is grown before measuring. A fixed number of cycles; each cycle
  * runs 4 appends (`INSERT INTO`, 20k rows), 8 range `SELECT`s (4 at
  * head, 4 `VERSION AS OF` an earlier version) and 1 row-level `DELETE`
  * in two seed-shuffled halves, each half followed by a change-feed
  * catch-up (a stateful streaming aggregate over `db.t.changes`,
  * `Trigger.AvailableNow`, one checkpoint for the run).
  * The table is created with `change_feed` on, so deletes that rewrite
  * files stage the change rows the feed serves.
  *
  * Rows are `(k, v = 3k + s)` over disjoint key ranges, so the expected
  * count and sum of every read are known in closed form from the key
  * intervals that are live at the version read.
  */
object Lakehouse {
  val BaseRows = 200000L
  val AppendRows = 20000L
  val ScanSpan = 5000L
  val DeleteSpan = 4000L
  // a cycle is two halves, each shuffled and then closed by a change-feed
  // catch-up, so every catch-up has two or three new commits to read (one
  // right after another would run no batch at all). Two catch-ups per
  // delete make the slow kinds a fifth of the ops, so the pooled p90
  // falls mid-way through them, not on the few slowest
  val HalfCycles: Seq[Seq[String]] = Seq(
    Seq("append", "append", "scan_head", "scan_head", "scan_asof", "scan_asof", "delete"),
    Seq("append", "append", "scan_head", "scan_head", "scan_asof", "scan_asof"))
  val SecondsPerCycle = 5.0 // sizes the fixed cycle count from --seconds
  // untimed history before the warm-up: with the warm-up's commits the
  // measured ops run against a log of ~17 to ~27 versions, so O(history)
  // costs show; at ~0.5 s a commit, a longer one does not fit the run
  val PreVersions = 12
  val PreRows = 1000L
  // untimed warm-up (JIT and codegen): each op kind once, the slow ones
  // on a cold JVM, and a catch-up that consumes the history, so the first
  // measured catch-up does not replay it all
  val Warmup: Seq[String] = Seq("append", "scan_head", "scan_asof", "delete", "append", "cdc")

  /** Live key intervals `[lo, hi)` and running insert/delete totals. */
  final class Model(s: Long) {
    var live: Vector[(Long, Long)] = Vector.empty
    var nextKey = 0L
    val history = mutable.LinkedHashMap.empty[Long, Vector[(Long, Long)]]
    var inserted = (0L, 0L)
    var deleted = (0L, 0L)

    private def cs(lo: Long, hi: Long): (Long, Long) = {
      val n = hi - lo
      (n, 3 * ((lo + hi - 1) * n / 2) + s * n)
    }
    /** Count and sum of `v` over live keys in `[a, b]`. */
    def countSum(iv: Vector[(Long, Long)], a: Long, b: Long): (Long, Long) =
      iv.foldLeft((0L, 0L)) { case ((n, t), (lo, hi)) =>
        val l = math.max(lo, a)
        val h = math.min(hi, b + 1)
        if (h > l) { val (m, u) = cs(l, h); (n + m, t + u) } else (n, t)
      }
    def append(rows: Long): (Long, Long) = {
      val r = (nextKey, nextKey + rows)
      live = live :+ r
      nextKey += rows
      val (n, t) = cs(r._1, r._2)
      inserted = (inserted._1 + n, inserted._2 + t)
      r
    }
    def copy(): Model = {
      val c = new Model(s)
      c.live = live
      c.nextKey = nextKey
      c.history ++= history
      c.inserted = inserted
      c.deleted = deleted
      c
    }
    def delete(a: Long, b: Long): Unit = {
      val (n, t) = countSum(live, a, b)
      deleted = (deleted._1 + n, deleted._2 + t)
      live = live.flatMap { case (lo, hi) =>
        Seq((lo, math.min(hi, a)), (math.max(lo, b + 1), hi)).filter { case (l, h) => h > l }
      }
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val s = ctx.seed % 1000
    val cycles = math.max(1, math.round(ctx.seconds / SecondsPerCycle).toInt)
    val runner = new Runner(spark, capS = 30)
    var tableSeq = 0

    def dir(t: String) = s"${ctx.work}/lake/db/$t"
    def head(t: String): Long = DurableManifestLog.open(dir(t)).head()

    /** A fresh table holding the base load: the set-up unit. */
    def fresh(): Table = {
      tableSeq += 1
      val t = s"lake_$tableSeq"
      val m = new Model(s)
      spark.sql(s"DROP TABLE IF EXISTS graft_mfst.db.$t")
      spark.sql(s"CREATE TABLE graft_mfst.db.$t (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k', 'change_feed'='true')")
      val (lo, hi) = m.append(BaseRows)
      spark.sql(s"INSERT INTO graft_mfst.db.$t SELECT id AS k, 3 * id + $s AS v FROM range($lo, $hi) ORDER BY k")
      m.history(head(t)) = m.live
      new Table(t, m)
    }

    /** A copy of `src` under a new name: its log and data files, whose
      * paths in the log are relative to the table dir.
      */
    def copyOf(src: Table): Table = {
      tableSeq += 1
      val t = s"lake_$tableSeq"
      val from = java.nio.file.Paths.get(dir(src.t))
      val to = java.nio.file.Paths.get(dir(t))
      val walk = java.nio.file.Files.walk(from)
      try walk.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
      finally walk.close()
      new Table(t, src.model.copy())
    }

    /** One table under test. Its key ranges come from its own seeded
      * generator, so two tables fed the same op sequence see the same
      * ranges; each check runs outside the timed interval, and a wrong
      * result fails the op.
      */
    final class Table(val t: String, m: Model) {
      private val rnd = new scala.util.Random(ctx.seed + 1)
      private val ckpt = s"${ctx.work}/cdc/$t"
      // a catch-up with no commits since the last one runs no batch, so
      // its memory sink stays empty: the consumer's view is unchanged
      private var lastFeed = Map.empty[String, (Long, Long)]
      val logStats = mutable.ArrayBuffer.empty[(Double, Double, Double)]
      def model: Model = m

      private def check[A](o: Outcome[A])(f: A => Option[String]): Outcome[A] =
        o.value.flatMap(f).fold[Outcome[A]](o)(b => o.copy(value = None, error = Some(s"wrong result: $b")))
      private def readCheck(rows: Array[org.apache.spark.sql.Row], iv: Vector[(Long, Long)], a: Long, b: Long) = {
        val got = (rows.length.toLong, rows.map(_.getLong(1)).sum)
        val want = m.countSum(iv, a, b)
        if (got != want) Some(s"[$a,$b] read (count, sum)=$got, expected $want") else None
      }
      private def commitCheck(before: Long, noop: Boolean = false): Option[String] = {
        val h = head(t)
        if (h == before && noop) None
        else if (h != before + 1) Some(s"head $h after a write on $before")
        else { m.history(h) = m.live; None }
      }

      def op(kind: String, name: String): Outcome[_] = {
        val before = m.history.keys.last
        kind match {
          case "append" =>
            val (lo, hi) = (m.nextKey, m.nextKey + AppendRows)
            check(runner.op(name, kind)(spark.sql(s"INSERT INTO graft_mfst.db.$t SELECT /*+ COALESCE(1) */ " +
              s"id AS k, 3 * id + $s AS v FROM range($lo, $hi)").collect())) { _ => m.append(AppendRows); commitCheck(before) }
          case "delete" =>
            val a = (rnd.nextDouble() * (m.nextKey - DeleteSpan)).toLong
            val b = a + DeleteSpan - 1
            check(runner.op(name, kind)(spark.sql(s"DELETE FROM graft_mfst.db.$t WHERE k BETWEEN $a AND $b").collect())) { _ =>
              val noop = m.countSum(m.live, a, b)._1 == 0
              m.delete(a, b)
              commitCheck(before, noop)
            }
          case "scan_head" =>
            val a = (rnd.nextDouble() * (m.nextKey - ScanSpan)).toLong
            val b = a + ScanSpan - 1
            check(runner.op(name, kind)(spark.sql(s"SELECT k, v FROM graft_mfst.db.$t WHERE k BETWEEN $a AND $b").collect()))(
              rows => readCheck(rows, m.live, a, b))
          case "scan_asof" =>
            val versions = m.history.keys.toIndexedSeq
            val v = versions(rnd.nextInt(versions.size))
            val iv = m.history(v)
            val top = iv.lastOption.map(_._2).getOrElse(ScanSpan)
            val a = (rnd.nextDouble() * math.max(1L, top - ScanSpan)).toLong
            val b = a + ScanSpan - 1
            check(runner.op(name, kind)(spark.sql(
              s"SELECT k, v FROM graft_mfst.db.$t VERSION AS OF $v WHERE k BETWEEN $a AND $b").collect()))(
              rows => readCheck(rows, iv, a, b))
          case "cdc" =>
            check(runner.op(name, kind) {
              val q = spark.readStream.table(s"graft_mfst.db.$t.changes")
                .groupBy(col("_change_type"))
                .agg(count(lit(1)).as("n"), sum(col("v")).as("v"))
                .writeStream.outputMode("complete").format("memory").queryName(s"cdc_$t")
                .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
              q.awaitTermination()
              q.exception.foreach(e => throw e)
              spark.table(s"cdc_$t").collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
            }) { served =>
              val got = if (served.isEmpty) lastFeed else served
              lastFeed = got
              val ins = got.getOrElse("insert", (0L, 0L))
              val del = got.getOrElse("delete", (0L, 0L))
              if (ins != m.inserted || del != m.deleted)
                Some(s"change feed insert=$ins delete=$del, expected insert=${m.inserted} delete=${m.deleted} (all: $got)")
              else None
            }
        }
      }

      /** Untimed history: `versions` small appends, one commit each. */
      def grow(versions: Int): Unit = (1 to versions).foreach { _ =>
        val before = m.history.keys.last
        val (lo, hi) = m.append(PreRows)
        spark.sql(s"INSERT INTO graft_mfst.db.$t SELECT /*+ COALESCE(1) */ id AS k, 3 * id + $s AS v FROM range($lo, $hi)").collect()
        commitCheck(before).foreach(e => sys.error(s"set-up: $e"))
      }

      /** `sources.log_*`: open the log, resolve head, list live files. */
      def probeLog(): Unit = {
        val t0 = System.nanoTime()
        val log = DurableManifestLog.open(dir(t))
        val files = log.liveFiles(log.head()).size
        logStats += (((System.nanoTime() - t0) / 1e9, log.versions.size.toDouble, files.toDouble))
      }
    }

    /** The op sequence: `cycles` cycles of [[HalfCycles]], each half
      * seed-shuffled and followed by a catch-up. */
    def plan(cycles: Int, tag: String): Seq[(String, String)] = {
      val order = new scala.util.Random(ctx.seed)
      (0 until cycles).flatMap { c =>
        HalfCycles.flatMap(h => order.shuffle(h) :+ "cdc").zipWithIndex.map { case (k, i) => (k, f"$tag${k}_$c%02d_$i%02d") }
      }
    }

    fresh() // cold JVM, not counted
    val setups = (1 to 3).map { _ =>
      var tbl: Table = null
      val dt = ctx.timed { tbl = fresh() }
      (dt, tbl)
    }
    ctx.log("set-up done")
    val calStart = ctx.calibrate()
    // the measured table gets its long log; a traced run's twin is a copy
    // of it. Each then runs the untimed warm-up.
    val main = setups.last._2
    main.grow(PreVersions)
    val twin = if (ctx.trace) Some(copyOf(main)) else None
    ctx.log(s"history of $PreVersions versions done")
    val warmups = (Seq(main -> "warmup_") ++ twin.map(_ -> "traced_warmup_")).flatMap { case (tb, tag) =>
      Warmup.zipWithIndex.map { case (k, i) => tb.op(k, f"$tag${k}_$i%02d") }
    }
    ctx.log("warm-up done")
    // traced runs interleave each op on the measured table with a traced
    // twin on a table fed the identical sequence, the twin going second on
    // even ops and first on odd ones
    val tracer = new Tracer(spark, ctx.cores)
    val pairs = plan(cycles, "").zipWithIndex.map { case ((k, n), i) =>
      Pair.inTurn(i, main.op(k, n), twin.map { tw =>
        runner.tracer = Some(tracer)
        val r = tw.op(k, "traced_" + n)
        runner.tracer = None
        tw.probeLog()
        r
      })
    }
    val ops = pairs.map(_._1)
    ctx.log("measured ops done")
    val tops = pairs.flatMap(_._2)

    val traced: Map[String, Any] = twin.fold(Map.empty[String, Any]) { tw =>
      val spans = tracer.spans.toSeq
      val reads = spans.filter(_.kind.startsWith("scan"))
      val rowsReturned = tops.filter(_.kind.startsWith("scan")).flatMap(_.value).map {
        case rows: Array[_] => rows.length.toDouble
        case _              => 0.0
      }
      val layers = Tracer.means(spans) ++ Map(
        "sources.log_open_s" -> Stats.mean(tw.logStats.map(_._1).toSeq),
        "sources.log_versions" -> Stats.mean(tw.logStats.map(_._2).toSeq),
        "sources.live_files" -> Stats.mean(tw.logStats.map(_._3).toSeq),
        "sources.records_per_result" ->
          (if (rowsReturned.sum > 0) reads.map(_.c("sources.input_records")).sum / rowsReturned.sum else 0.0),
        "trace.overhead_ratio" -> (Stats.mean(tops.map(_.wallS)) / Stats.mean(ops.map(_.wallS)) - 1.0)
      )
      val byKind = spans.groupBy(_.kind).map { case (k, ss) => k -> Tracer.means(ss) }
      Map("layers" -> layers, "layers_by_kind" -> byKind, "spans" -> spans.map(_.toJson))
    }
    val calEnd = ctx.calibrate()
    Map(
      "setup_s" -> setups.map(_._1),
      "ops" -> (warmups ++ ops ++ tops).map(ctx.opJson),
      "measured" -> ops.map(_.name),
      "calibration_s" -> Map("start" -> calStart, "end" -> calEnd),
      "final_version" -> main.model.history.keys.last,
      "expected" -> Map("inserted" -> main.model.inserted.productIterator.toSeq,
        "deleted" -> main.model.deleted.productIterator.toSeq)
    ) ++ traced
  }
}
