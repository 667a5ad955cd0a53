package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.NumOps

/** Structured-Streaming restatement of the reference's scheduler loop
  * (`app.py:50, 991-995`): instead of a cron re-pulling the full
  * history daily, a file-source stream with `Trigger.AvailableNow`
  * processes whatever has arrived and stops — the incremental-ingest
  * upgrade path SURVEY §2.8 names. Same declarative aggregation as the
  * batch path; Complete-mode aggregation over a static directory equals
  * the batch answer, which is exactly what the oracle checks.
  */
object StreamAgg {

  private val runSeq = new AtomicInteger(0)

  /** Watermarked tumbling-window aggregation in APPEND mode: daily
    * windows of event counts/sums, emitted only once the 1-hour
    * watermark passes the window end — so the final (still-open) day is
    * withheld, exactly as a live pipeline would. The oracle mirrors the
    * emission rule: windows whose end ≤ max(ts) − 1 hour.
    */
  def dailyWindowedTotals(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val agg = raw
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), NumOps.exactSum(col("value")).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("event_type"), col("n"), col("total_value"))
      val name = s"graft_stream_window_${runSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("day", "event_type")
    }
  }

  /** Stream-static join: each micro-batch of the fact stream joins a
    * STATIC dimension snapshot — the canonical enrichment shape (fact
    * stream × slowly-changing dim). Unlike the agg/dedup state
    * operators this keeps NO state for the join itself: the dim is
    * simply (re)broadcast per micro-batch, so at cluster scale the
    * stream side never shuffles for the join and the dim refreshes by
    * swapping the snapshot between batches.
    */
  def enrichedSegmentTotals(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val dim = spark.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"), col("c_mktsegment"))
      val agg = raw
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), NumOps.exactSum(col("value")).as("total_value"))
      val name = s"graft_stream_enrich_${runSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("c_mktsegment")
    }
  }

  /** Streaming → arbitrary batch sink via `foreachBatch`: the
    * production pattern for writing a stream anywhere a DataFrame can
    * be written. Complete-mode aggregation + truncate-and-load per
    * micro-batch = the reference's daily drop-and-rewrite
    * (`app.py:661-700`), incrementalized; the retry contract rides
    * along from [[graft.sinks.RetryingSink]]. Returns the sink read
    * back — what a downstream consumer would see.
    */
  def eventTotalsViaSink(spark: SparkSession, dir: String, outBase: String): DataFrame =
    StateConf.withStatePartitions(spark, 8) {
      // per-run unique sink dir (same reason the memory-sink queries use
      // runSeq names): two concurrent JVMs must not race one directory
      val outPath = s"${outBase}_${java.util.UUID.randomUUID().toString.take(8)}"
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val agg = raw
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), NumOps.exactSum(col("value")).as("total_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sinks.RetryingSink.overwriteParquet(batch, outPath): Unit
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.read.parquet(outPath).orderBy("event_type")
    }

  /** Stream-stream self-join: events joined to later events of the
    * SAME user within a 1-hour follow-up window — the stateful
    * two-sided join operator (each side buffers rows in the state
    * store; the time-range condition plus both watermarks bound that
    * state: a buffered row is evicted once the other side's watermark
    * passes its last possible match). Inner matches emit in the batch
    * they arrive — no withholding — so an available-now pass equals the
    * batch join, which is exactly what the oracle computes. The
    * equality key (user_id) shards join state across executors; the
    * time predicate runs as a post-filter within each key's bucket.
    * Aggregation happens AFTER the sink (batch groupBy over the memory
    * table) so the streaming stage is purely the join.
    */
  def followupPairCounts(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      // ONE streaming source, projected twice — a stream-stream
      // SELF-join reads and decodes each micro-batch once, not once
      // per side (two readStream calls would double the scan)
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      def side(n: Int) =
        raw
          .select(
            col("user_id").as(s"u$n"),
            col("event_id").as(s"id$n"),
            col("event_type").as(s"t$n"),
            col("ts").as(s"ts$n")
          )
          .withWatermark(s"ts$n", "1 hour")
      val joined = side(1).join(
        side(2),
        col("u1") === col("u2") && col("id1") =!= col("id2") &&
          col("ts2") >= col("ts1") && col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR")
      )
      val name = s"graft_stream_join_${runSeq.incrementAndGet()}"
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark
        .table(name)
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("t1", "t2")
    }
  }

  /** Watermarked stream-stream LEFT OUTER join: every click joined to
    * the purchases that follow it within 1 hour, AND a null-padded row
    * for clicks that never convert — the outer emission only a
    * watermark makes safe (the engine must prove no match can still
    * arrive before emitting the null row). Inner matches emit as they
    * arrive; an unmatched click emits once the GLOBAL watermark (the
    * min of the two sides' max event times — each watermark node sits
    * after its type filter — minus the 1-hour delay) passes the end of
    * its join window (click_ts + 1h). `AvailableNow` runs the extra
    * finalize batch that advances the watermark past the last data
    * batch. The oracle replays exactly that rule, ms-truncated as
    * Spark tracks event time. State on both sides is (user_id)-sharded and
    * watermark-evicted — the same bounded-state story as the inner
    * join (q60), plus the outer-eviction bookkeeping.
    */
  def leftOuterConversions(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      def side(role: String, typ: String) =
        raw
          .filter(col("event_type") === typ)
          .select(
            col("user_id").as(s"${role}_user"),
            col("event_id").as(s"${role}_id"),
            col("ts").as(s"${role}_ts")
          )
          .withWatermark(s"${role}_ts", "1 hour")
      val joined = side("c", "click").join(
        side("p", "purchase"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer"
      )
      val name = s"graft_stream_left_join_${runSeq.incrementAndGet()}"
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark
        .table(name)
        .groupBy(col("c_user").as("user_id"))
        .agg(
          sum(when(col("p_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unmatched")
        )
        .orderBy("user_id")
    }
  }

  /** Streaming exact dedup: `dropDuplicates` on the content digest —
    * the `StreamingDeduplicate` state operator (distinct from the agg
    * state of the windowed queries): per-key state holds each seen
    * digest, sharded across executors by the digest hash. Output is the
    * digest SET (the retained row per key is first-seen and therefore
    * partition-order-dependent; the set is deterministic, which is what
    * the oracle checks). At 100 TB with an event-time column, bound the
    * state with `dropDuplicatesWithinWatermark` — same plan shape,
    * state evicted past the watermark; the documents fixture carries no
    * event time, so the unbounded variant is the honest restatement of
    * the reference's full-history daily re-pull. The BOUNDED form is a
    * first-class query too: [[dedupKeysWithinWatermark]] (q78) runs it
    * over the events table, which does carry event time.
    */
  def streamDedupHashes(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val raw = spark.readStream.schema(schema).option("pathGlobFilter", "documents.parquet").parquet(dir)
      val deduped = raw.select(md5(col("text")).as("h")).dropDuplicates("h")
      val name = s"graft_stream_dedup_${runSeq.incrementAndGet()}"
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("h")
    }
  }

  /** Streaming near-dup probe — the streaming twin of the batch
    * incremental dedup (q202), proving stream/batch parity on the SAME
    * oracle: arriving documents (the `doc_id ≡ 0 mod 5` batch) compute
    * their MinHash signature PER ROW (array-min over the shingle
    * array — [[graft.operators.NearDup.rowSignatures]]; no streaming
    * aggregation, so no agg state), explode into band rows, and
    * equi-join the STATIC banding index of the existing corpus — the
    * stream-static enrichment shape, stateless for the join. The exact
    * confirm is a SCALAR on the joined row (array_intersect against
    * the broadcast old-side shingle sets — no second shuffle), and the
    * only stateful operator is the final pair dropDuplicates (a pair
    * can surface via several shared bands). At 100 TB the static index
    * is yesterday's persisted (band, bucket) table; per-arrival cost
    * is k hashes + one keyed lookup — this is how continuous-ingest
    * dedup actually deploys.
    */
  def dedupProbePairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CandidateGraph, NearDup}
    StateConf.withStatePartitions(spark, 8) {
      val sh = CandidateGraph.shingles(spark, dir)
      val oldSide = col("doc_id") % 5 =!= 0
      val oldIndex = NearDup
        .bandRows(NearDup.minhashSignaturesFromShingles(sh.filter(oldSide), k = 16), bands = 4, rowsPerBand = 4)
        .withColumnRenamed("doc_id", "old_id")
      val oldShingles = sh
        .filter(oldSide)
        .groupBy(col("doc_id").as("old_id"))
        .agg(collect_set(col("g")).as("old_sh"))
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val arrivals = spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(col("doc_id") % 5 === 0)
        .select(
          col("doc_id"),
          array_distinct(graft.functions.TextOps.wordShingles(graft.functions.TextOps.tokens(col("text")), 3)).as("shs")
        )
        .filter(size(col("shs")) >= 1)
      val confirmed = NearDup
        .bandRows(NearDup.rowSignatures(arrivals, col("shs"), k = 16), bands = 4, rowsPerBand = 4, carry = Seq("shs"))
        .withColumnRenamed("doc_id", "new_id")
        .join(oldIndex, Seq("bi", "bv"))
        .join(broadcast(oldShingles), Seq("old_id"))
        .withColumn("inter", size(array_intersect(col("shs"), col("old_sh"))).cast("long"))
        .withColumn("n1", size(col("shs")).cast("long"))
        .withColumn("n2", size(col("old_sh")).cast("long"))
        .filter(col("inter") * 2 >= col("n1") + col("n2") - col("inter"))
        .select(
          col("new_id"),
          col("old_id"),
          col("inter"),
          expr("inter * 1000 div (n1 + n2 - inter)").as("jaccard_permille")
        )
        .dropDuplicates("new_id", "old_id")
      val name = s"graft_stream_probe_${runSeq.incrementAndGet()}"
      val q = confirmed.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("new_id", "old_id")
    }
  }

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * over (user_id, event_type) keyed by event time — the
    * `StreamingDeduplicateWithinWatermark` operator. Unlike plain
    * `dropDuplicates` (q50, state grows with every key ever seen), a
    * key's state is EVICTED once the watermark passes its event time
    * plus the delay: at 100 TB the store holds one watermark-window of
    * keys, not the corpus. The trade is exactness only WITHIN the
    * window — a key recurring later than the delay re-emits — which is
    * the right contract for the reference's daily re-pull (duplicates
    * arrive adjacent, not months apart). Output is the key SET (the
    * retained row per key is first-seen and partition-order-dependent;
    * the set is deterministic — the q50 oracle rule), and an
    * available-now pass over one file is one micro-batch, so no key is
    * ever emitted twice.
    */
  def dedupKeysWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val deduped = raw
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
      val name = s"graft_stream_dedup_wm_${runSeq.incrementAndGet()}"
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("user_id", "event_type")
    }
  }

  /** Native `session_window` streaming aggregation: gap-merged sessions
    * per user in APPEND mode — the engine-managed complement of the
    * `flatMapGroupsWithState` sessionizer (q37). The state operator
    * merges an arriving event into any session within 30 min and
    * finalizes a session once the 1-hour watermark passes its end
    * (last event + gap), so each user's trailing open session is
    * withheld — exactly what a live pipeline must do. State is keyed
    * (user, session), sharded by user: no global structure, watermark
    * bounds the store. The oracle replays the same gaps-and-islands in
    * MICROSECONDS (the unit the operator merges in) and applies the
    * same emission rule.
    */
  def sessionWindowTotals(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val agg = raw
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), NumOps.exactSum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          unix_millis(col("session_window.start")).as("start_ms"),
          unix_millis(col("session_window.end")).as("end_ms"),
          col("n_events"),
          col("sum_value")
        )
      val name = s"graft_stream_session_${runSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("user_id", "start_ms")
    }
  }

  /** Stream the events table (available-now), aggregate per event_type,
    * materialize via memory sink, return the result.
    */
  def eventTypeTotals(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      // file stream sources take a directory; select just the events
      // table — the shared reader also normalizes `ts` (see Tables)
      val raw = graft.sources.Tables.eventsStream(spark, dir)
      val agg = raw
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), NumOps.exactSum(col("value")).as("total_value"))
      val name = s"graft_stream_agg_${runSeq.incrementAndGet()}"
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("event_type")
    }
  }

  /** Late-data audit: surfaces `numRowsDroppedByWatermark` — the
    * observability counter that tells an operator how many rows a
    * watermark silently discarded — as a first-class, oracle-checked
    * result. Two-phase replay against ONE checkpoint:
    *
    *   phase 1 ingests the recent head of the stream (ts ≥ max−48 h),
    *   advancing the persisted watermark to max(ts)−72 h;
    *   phase 2 RESTARTS from the same checkpoint (the q133-family
    *   restart contract: file source resumes from its seen-files log,
    *   the watermark from its commit log) and feeds everything older.
    *
    * In phase 2 a day-window whose end precedes the restored watermark
    * is already finalized, so its rows are dropped and counted by the
    * state operator; a late row whose window is still open is merged
    * normally. The emitted audit row carries the on-time/late split
    * (batch-derived) and the drop counter read from the query's
    * progress — the DuckDB oracle replays the same rule relationally:
    * wm_ms = epoch_ms(max ts) − 72 h, dropped ⟺ window_end ≤ wm.
    * At 100 TB this query is the cheap sidecar of any watermarked job:
    * the counter is per-micro-batch metadata, the split predicate one
    * scan — nothing here is proportional to state size.
    */
  def lateDataAudit(spark: SparkSession, dir: String): DataFrame = {
    StateConf.withStatePartitions(spark, 8) {
      val ev = graft.sources.Tables.events(spark, dir).select(col("ts"), col("event_id"))
      val mxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val splitUs = mxUs - 48L * 3600 * 1000000 // late = older than 48 h
      val scratch = graft.operators.Scratch.dir("graft-late")
      val in = s"$scratch/in"
      val ckpt = s"$scratch/ckpt"

      def runPhase(input: DataFrame): Long = {
        input.write.mode("append").parquet(in)
        val schema = spark.read.parquet(in).schema
        val agg = spark.readStream
          .schema(schema)
          .parquet(in)
          .withWatermark("ts", "72 hours")
          .groupBy(window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"))
          .select(unix_millis(col("window.start")).as("day_ms"), col("n"))
        // durable parquet sink, NOT memory: the memory sink cannot
        // recover from a checkpoint, and phase 2 exists precisely to
        // restart from phase 1's commit log
        val q = agg.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$scratch/out")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination()
        finally q.stop()
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      }

      runPhase(ev.filter(unix_micros(col("ts")) >= splitUs)) // head: advances watermark
      val dropped = runPhase(ev.filter(unix_micros(col("ts")) < splitUs)) // tail: late
      // UNITS: numRowsDroppedByWatermark counts what the STATE OPERATOR
      // refuses — and its input sits after partial aggregation and the
      // restore-merge, i.e. ONE merged row per finalized window. So the
      // metric is "late windows refused", not raw rows (observed and
      // oracle-replayed: 26 windows vs 8 665 raw rows at sf0.01). The
      // audit reports both: the metric as n_windows_dropped, and the
      // row-level split replayed relationally against the SAME
      // watermark rule (wm_ms = ms-floor(max ts) − 72 h; a late row is
      // lost iff its day-window end ≤ wm) — the pairing an operator
      // needs to turn "the counter moved" into "this many rows from
      // these days are missing".
      val wmMs = mxUs / 1000 - 72L * 3600 * 1000
      val isLate = unix_micros(col("ts")) < splitUs
      val lostPred =
        unix_millis(date_trunc("DAY", col("ts")) + expr("INTERVAL 1 DAY")) <= wmMs
      // the three row counts in ONE scan (conditional sums), not three
      // separate count() jobs over the same unpersisted frame — the
      // same single pass the DuckDB oracle runs
      val counts = ev
        .agg(
          sum((!isLate).cast("long")).as("n_on_time"),
          sum(isLate.cast("long")).as("n_late"),
          sum((isLate && lostPred).cast("long")).as("n_rows_dropped")
        )
        .head()
      val (nOnTime, nLate, nRowsDropped) =
        (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      spark
        .range(1)
        .select(
          lit(nOnTime).as("n_on_time"),
          lit(nLate).as("n_late"),
          lit(dropped).as("n_windows_dropped"),
          lit(nRowsDropped).as("n_rows_dropped"),
          lit(nLate - nRowsDropped).as("n_rows_kept")
        )
    }
  }

  /** Streaming right-to-erasure enforcement (q370) — the privacy twin
    * of the q202 stream-static shape: an arriving event stream is
    * anti-joined against the BROADCAST tombstone list (q220's erasure
    * cohort — request-sized, always broadcastable) BEFORE any state or
    * sink sees it, so an erased subject's events never enter derived
    * aggregates. This is the deploy shape of erasure for live
    * pipelines: the stored-artifact rewrite (q357) handles yesterday,
    * this filter handles tomorrow. Per-type counts and an integer
    * checksum run in complete mode; the DuckDB oracle is the batch
    * equivalent, so stream/batch parity is the correctness claim.
    */
  def erasureFilteredCounts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StateConf.withStatePartitions(spark, 8) {
      val del = graft.sources.Tables
        .events(spark, dir)
        .select(col("user_id"))
        .distinct()
        .filter(graft.functions.TextOps.hash32(col("user_id").cast("string")) % 20 === 0)
      val counts = graft.sources.Tables
        .eventsStream(spark, dir)
        .join(broadcast(del), Seq("user_id"), "left_anti")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("checksum"))
      val name = s"graft_stream_erasure_${runSeq.incrementAndGet()}"
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
      spark.table(name).orderBy("event_type")
    }
}
