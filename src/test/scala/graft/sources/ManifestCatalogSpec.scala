package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The manifest-backed DSv2 catalog: SQL reads/writes and VERSION AS
  * OF over REAL FILE TABLES whose truth is the durable log, plus the
  * plan-level guarantee the r11 verdict asked for — zone-map file
  * skipping visible INSIDE the scan (the BatchScan's file index holds
  * only the kept files), not driver arithmetic beside it.
  */
class ManifestCatalogSpec extends SparkSpec {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)

  test("SQL lifecycle: CREATE / INSERT / SELECT / DROP over a file table backed by the log") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec1")
    spark.sql("CREATE TABLE graft_mfst.db.mspec1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_mfst.db.mspec1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_mfst.db.mspec1 VALUES (3, 'c')")
    val got = spark.table("graft_mfst.db.mspec1").orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the truth is the LOG: two appends → two versions past genesis
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mspec1 VERSION AS OF 1").collect()(0).getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mspec1 VERSION AS OF 2").collect()(0).getLong(0) === 3L)
    assert(spark.sql("DROP TABLE graft_mfst.db.mspec1").collect().isEmpty)
    assertThrows[Exception](spark.table("graft_mfst.db.mspec1").collect())
  }

  test("VERSION AS OF: pinned reads survive later writes; missing refuses; past rejects writes at analysis") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec2")
    spark.sql("CREATE TABLE graft_mfst.db.mspec2 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mspec2 VALUES (1)") // v1
    spark.sql("INSERT INTO graft_mfst.db.mspec2 VALUES (2)") // v2
    assert(spark.sql("SELECT sum(k) FROM graft_mfst.db.mspec2 VERSION AS OF 1").collect()(0).getLong(0) === 1L)
    spark.sql("INSERT INTO graft_mfst.db.mspec2 VALUES (3)") // v3
    assert(spark.sql("SELECT sum(k) FROM graft_mfst.db.mspec2 VERSION AS OF 1").collect()(0).getLong(0) === 1L)
    assert(spark.sql("SELECT sum(k) FROM graft_mfst.db.mspec2").collect()(0).getLong(0) === 6L)
    val e = intercept[Exception](spark.sql("SELECT * FROM graft_mfst.db.mspec2 VERSION AS OF 42").collect())
    assert(e.getMessage.contains("42"), e.getMessage)
    assertThrows[Exception](
      spark.sql("INSERT INTO graft_mfst.db.mspec2 VERSION AS OF 1 VALUES (9)")
    )
  }

  test("cross-process shape: a table written through SQL reads back through a SECOND log instance") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec3")
    spark.sql("CREATE TABLE graft_mfst.db.mspec3 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mspec3 SELECT explode(sequence(1, 100))")
    val dir = s"${ManifestCatalog.defaultWarehouse}/db/mspec3"
    val other = DurableManifestLog.open(dir) // a fresh instance, disk-only replay
    assert(other.head() === 1L)
    val live = other.liveFiles(other.head())
    assert(live.nonEmpty)
    val paths = live.toSeq.map(r => s"$dir/${r.dir}/${r.file}")
    assert(spark.read.parquet(paths: _*).count() === 100L)
  }

  test("zone-map skipping: the scan's file index holds ONLY the files whose zones intersect the predicate") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec4")
    spark.sql("CREATE TABLE graft_mfst.db.mspec4 (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    // four appends = four files with disjoint known zones
    (0 until 4).foreach { i =>
      spark.sql(
        s"INSERT INTO graft_mfst.db.mspec4 SELECT /*+ COALESCE(1) */ id AS k, id * 10 AS v " +
          s"FROM range(${i * 100}, ${i * 100 + 100})"
      )
    }
    val df = spark.sql("SELECT sum(v) FROM graft_mfst.db.mspec4 WHERE k BETWEEN 150 AND 250")
    val expected = (150L to 250L).map(_ * 10).sum
    assert(df.collect()(0).getLong(0) === expected)
    val scanned = org.apache.spark.sql.graft.manifestGlue.scanInputFiles(df.queryExecution.executedPlan)
    assert(scanned.size === 2, s"zones [100,199] and [200,299] must survive, got: $scanned")
    // an equality predicate prunes to one file
    val df1 = spark.sql("SELECT v FROM graft_mfst.db.mspec4 WHERE k = 42")
    assert(df1.collect()(0).getLong(0) === 420L)
    assert(org.apache.spark.sql.graft.manifestGlue.scanInputFiles(df1.queryExecution.executedPlan).size === 1)
    // no predicate: all four files scanned, nothing silently dropped
    val dfAll = spark.table("graft_mfst.db.mspec4")
    assert(dfAll.count() === 400L)
    assert(org.apache.spark.sql.graft.manifestGlue.scanInputFiles(dfAll.queryExecution.executedPlan).size === 4)
  }

  test("pruned scans stay correct at the boundary: predicates touching zone edges over-read, never wrong-answer") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec5")
    spark.sql("CREATE TABLE graft_mfst.db.mspec5 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mspec5 SELECT /*+ COALESCE(1) */ id FROM range(0, 10)")
    spark.sql("INSERT INTO graft_mfst.db.mspec5 SELECT /*+ COALESCE(1) */ id FROM range(10, 20)")
    def cnt(pred: String): Long =
      spark.sql(s"SELECT count(*) FROM graft_mfst.db.mspec5 WHERE $pred").collect()(0).getLong(0)
    assert(cnt("k >= 10") === 10L)
    assert(cnt("k > 9") === 10L)
    assert(cnt("k <= 9") === 10L)
    assert(cnt("k < 10") === 10L)
    assert(cnt("k = 9 OR k = 10") === 2L)
    assert(cnt("k IN (3, 17)") === 2L)
    assert(cnt("k IN (25, 99)") === 0L)
  }

  test("row-level SQL over the file table: UPDATE, DELETE and MERGE land exactly") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mrlo1")
    spark.sql("CREATE TABLE graft_mfst.db.mrlo1 (k BIGINT, st STRING, cents BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mrlo1 VALUES (1, 'A', 10), (2, 'B', 20), (3, 'A', 30)")
    spark.sql("UPDATE graft_mfst.db.mrlo1 SET cents = cents + 1 WHERE st = 'A'")
    def rows(): Seq[(Long, String, Long)] =
      spark
        .table("graft_mfst.db.mrlo1")
        .orderBy("k")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq
    assert(rows() === Seq((1L, "A", 11L), (2L, "B", 20L), (3L, "A", 31L)))
    spark.sql("DELETE FROM graft_mfst.db.mrlo1 WHERE k = 2")
    assert(rows() === Seq((1L, "A", 11L), (3L, "A", 31L)))
    spark
      .sql(
        "SELECT 1 AS k, 'A' AS st, CAST(99 AS BIGINT) AS cents, 'U' AS op " +
          "UNION ALL SELECT 3, 'A', 31, 'D' UNION ALL SELECT 4, 'C', 40, 'I'"
      )
      .createOrReplaceTempView("mrlo_src")
    spark.sql("""MERGE INTO graft_mfst.db.mrlo1 t USING mrlo_src s ON t.k = s.k
                |WHEN MATCHED AND s.op = 'D' THEN DELETE
                |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET cents = s.cents
                |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, st, cents) VALUES (s.k, s.st, s.cents)
                |""".stripMargin)
    assert(rows() === Seq((1L, "A", 99L), (4L, "C", 40L)))
    // history is intact: every pre-rewrite version still time-travels
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mrlo1 VERSION AS OF 1").collect()(0).getLong(0) === 3L)
    // and the files on disk carry exactly the table columns (the
    // MergeRows op slot was stripped before parquet encoding)
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mrlo1"
    val log = DurableManifestLog.open(tdir)
    val paths = log.liveFiles(log.head()).toSeq.map(r => s"$tdir/${r.dir}/${r.file}")
    assert(spark.read.parquet(paths: _*).columns.sorted.toSeq === Seq("cents", "k", "st"))
  }

  test("row-level rewrite is STRICT OCC: any commit in the scan→commit window aborts it loudly") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mrlo2")
    spark.sql("CREATE TABLE graft_mfst.db.mrlo2 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mrlo2 VALUES (1), (2)")
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mrlo2"
    // a commuting APPEND lands through a second instance (another
    // process's insert): strict replace derived from v1 must abort —
    // its replacement row set would silently drop the new row
    val other = DurableManifestLog.open(tdir)
    val live1 = other.liveFiles(1L).toSeq
    spark.range(1).select((col("id") + 7L).as("k")).coalesce(1).write.parquet(s"$tdir/x")
    val xRefs = GraftFs.listDataFiles(s"$tdir/x").map(f => ManifestLog.FileRef("x", f))
    // stale strict replace: reads v1, but the append below moves the head first
    assert(other.tryCommit("main", 1L, "append", add = xRefs).isInstanceOf[ManifestLog.Committed])
    spark.range(1).select(col("id").as("k")).coalesce(1).write.parquet(s"$tdir/y")
    val yRefs = GraftFs.listDataFiles(s"$tdir/y").map(f => ManifestLog.FileRef("y", f))
    other.tryCommit("main", 1L, "replace_update", add = yRefs, remove = live1, strict = true) match {
      case ManifestLog.Conflicted(_, _) => () // the strict posture
      case o                            => fail(s"strict replace from a stale read must abort, got $o")
    }
    // the table still serves append ∪ original — nothing was lost
    assert(spark.table("graft_mfst.db.mrlo2").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 7L))
  }

  test("metadata tables: db.t.history lists the commit chain, db.t.files the head's zone maps") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mmeta1")
    spark.sql("CREATE TABLE graft_mfst.db.mmeta1 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mmeta1 SELECT /*+ COALESCE(1) */ id FROM range(0, 10)")
    spark.sql("INSERT INTO graft_mfst.db.mmeta1 SELECT /*+ COALESCE(1) */ id FROM range(10, 30)")
    spark.sql("DELETE FROM graft_mfst.db.mmeta1 WHERE k >= 25")
    val hist = spark
      .sql("SELECT version, op, n_added > 0, n_removed FROM graft_mfst.db.mmeta1.history ORDER BY version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    assert(hist.map(x => (x._1, x._2)).toSeq ===
      Seq((0L, "genesis"), (1L, "append"), (2L, "append"), (3L, "replace_delete")))
    // the rewrite removed only the [10, 29] file: no key of [0, 9] can satisfy k >= 25
    assert(hist(3)._4 === 1L)
    val files = spark
      .sql("SELECT min_key, max_key, n_rows FROM graft_mfst.db.mmeta1.files ORDER BY min_key")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(files.contains((0L, 9L, 10L)), s"the untouched [0, 9] file must stay live: ${files.mkString(", ")}")
    // post-delete head: [0, 9] and the rewrite's files cover [0, 24] with 25 rows
    assert(files.map(_._3).sum === 25L)
    assert(files.map(_._1).min === 0L && files.map(_._2).max === 24L)
  }

  test("vacuum retains files live in ANY replayable version; expire shrinks the set; orphans reclaimed") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mvac1")
    spark.sql("CREATE TABLE graft_mfst.db.mvac1 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mvac1 SELECT /*+ COALESCE(1) */ id FROM range(0, 5)") // v1
    spark.sql("DELETE FROM graft_mfst.db.mvac1 WHERE k >= 3") // v2: rewrites v1's file
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mvac1"
    val log = DurableManifestLog.open(tdir)
    // a crashed writer's staging: never committed, immediately orphaned
    spark.range(1).select(col("id").as("k")).coalesce(1).write.parquet(s"$tdir/crashed")
    // BEFORE expiration v1's file is still live in a replayable
    // version — vacuum must keep it, and VERSION AS OF 1 still serves
    // with the DEFAULT grace the seconds-old staged file is protected
    // even though no version references it — exactly the window a
    // concurrent writer's about-to-commit staging occupies
    assert(ManifestMaintenance.unreachable(tdir, log).isEmpty)
    val deleted1 = ManifestMaintenance.vacuum(tdir, log, graceMs = 0L)
    assert(deleted1.map(_.dir).toSet === Set("crashed"), deleted1.toString)
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mvac1 VERSION AS OF 1").collect()(0).getLong(0) === 5L)
    // expire below v2, then vacuum: v1's rewritten-away file goes
    log.expireBefore(2L)
    val deleted2 = ManifestMaintenance.vacuum(tdir, log, graceMs = 0L)
    assert(deleted2.size === 1)
    assert(spark.table("graft_mfst.db.mvac1").collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    assertThrows[Exception](spark.sql("SELECT * FROM graft_mfst.db.mvac1 VERSION AS OF 1").collect())
  }

  test("TIMESTAMP AS OF: latest at-or-before; exact hit; after-head serves head; before-first refuses") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mts1")
    // pin commit wall-clocks: v1@10s, v2@20s, v3@30s (epoch seconds)
    val ticks = Iterator(10000L, 20000L, 30000L)
    DurableManifestLog.withClock(() => ticks.next()) {
      spark.sql("CREATE TABLE graft_mfst.db.mts1 (k BIGINT)")
      spark.sql("INSERT INTO graft_mfst.db.mts1 VALUES (1)") // v1 @ 10s
      spark.sql("INSERT INTO graft_mfst.db.mts1 VALUES (2)") // v2 @ 20s
      spark.sql("INSERT INTO graft_mfst.db.mts1 VALUES (3)") // v3 @ 30s
    }
    def cnt(tsLit: String): Long =
      spark.sql(s"SELECT count(*) FROM graft_mfst.db.mts1 TIMESTAMP AS OF $tsLit").collect()(0).getLong(0)
    // exact commit time resolves that commit
    assert(cnt("'1970-01-01 00:00:20'") === 2L)
    // between commits: latest at-or-before
    assert(cnt("'1970-01-01 00:00:25'") === 2L)
    // after the head's commit: the head was current then
    assert(cnt("'1970-01-01 00:01:40'") === 3L)
    // before the first commit: the table did not exist — refuse loudly
    val e = intercept[Exception](cnt("'1970-01-01 00:00:05'"))
    assert(e.getMessage.contains("TIMESTAMP AS OF"), e.getMessage)
    // the resolved snapshot is read-only, like VERSION AS OF
    assertThrows[Exception](
      spark.sql("INSERT INTO graft_mfst.db.mts1 TIMESTAMP AS OF '1970-01-01 00:00:20' VALUES (9)"))
    // the commit clocks are introspectable through db.t.history
    assert(
      spark.sql("SELECT ts_ms FROM graft_mfst.db.mts1.history ORDER BY version")
        .collect().map(_.getLong(0)).toSeq === Seq(0L, 10000L, 20000L, 30000L))
    // the change feed composes with the clock: startingTimestamp
    // resolves latest-at-or-before and serves changes AFTER it
    val fromTs = spark.read
      .option("startingTimestamp", "15000") // between v1@10s and v2@20s → resolves v1, feed = v2..v3
      .table("graft_mfst.db.mts1.changes")
      .collect()
      .map(_.getAs[Long]("k"))
      .sorted
    assert(fromTs.toSeq === Seq(2L, 3L))
    // resolution survives expiration: the squash checkpoint inherits
    // the horizon commit's wall-clock
    DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mts1").expireBefore(2L)
    assert(cnt("'1970-01-01 00:00:25'") === 2L)
    assertThrows[Exception](cnt("'1970-01-01 00:00:15'")) // v1 expired: its timestamp range is gone with it
  }

  test("per-column file stats: a non-cluster-column predicate prunes files; IS NULL prunes on null counts") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mcols1")
    spark.sql("CREATE TABLE graft_mfst.db.mcols1 (k BIGINT, m BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    // two single-file zones; m tracks k shifted by 100
    spark.sql("INSERT INTO graft_mfst.db.mcols1 SELECT /*+ COALESCE(1) */ id, id + 100 FROM range(0, 10)")
    spark.sql("INSERT INTO graft_mfst.db.mcols1 SELECT /*+ COALESCE(1) */ id, id + 100 FROM range(10, 20)")
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      org.apache.spark.sql.graft.manifestGlue.scanInputFiles(df.queryExecution.executedPlan).distinct.size
    }
    // predicate on m ONLY — cluster-key stats alone cannot prune this
    val one = spark.sql("SELECT sum(k) FROM graft_mfst.db.mcols1 WHERE m BETWEEN 100 AND 105")
    assert(scanned(one) === 1)
    assert(one.collect()(0).getLong(0) === (0L to 5L).sum)
    // m is never null and the footers recorded nullCount = 0: zero files
    val nul = spark.sql("SELECT count(*) FROM graft_mfst.db.mcols1 WHERE m IS NULL")
    assert(scanned(nul) === 0)
    assert(nul.collect()(0).getLong(0) === 0L)
    // the stats survive a disk replay: a FRESH log instance carries them
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mcols1")
    val stats = log.liveStats(log.head())
    assert(stats.nonEmpty && stats.values.forall(_.cols.contains("m")))
    assert(stats.values.forall(_.cols("m").nulls === 0L))
  }

  test("schema evolution: ADD COLUMN is a versioned metadata commit; old files null-fill; per-version schemas") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mevo1")
    spark.sql("CREATE TABLE graft_mfst.db.mevo1 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mevo1 VALUES (1), (2)") // v1: schema (k)
    spark.sql("ALTER TABLE graft_mfst.db.mevo1 ADD COLUMN bonus BIGINT") // v2: schema (k, bonus)
    spark.sql("INSERT INTO graft_mfst.db.mevo1 VALUES (3, 30)") // v3
    val head = spark.table("graft_mfst.db.mevo1").orderBy("k").collect()
    assert(head.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      === Seq((1L, -1L), (2L, -1L), (3L, 30L)), "old files read null-filled for the added column")
    // VERSION AS OF 1 serves the schema that version HAD — no bonus
    assert(spark.sql("SELECT * FROM graft_mfst.db.mevo1 VERSION AS OF 1").schema.fieldNames.toSeq === Seq("k"))
    assert(spark.sql("SELECT * FROM graft_mfst.db.mevo1 VERSION AS OF 3").schema.fieldNames.toSeq === Seq("k", "bonus"))
    // duplicate column refuses loudly, nothing lands
    val before = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mevo1").head()
    assertThrows[Exception](spark.sql("ALTER TABLE graft_mfst.db.mevo1 ADD COLUMN bonus BIGINT"))
    assert(DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mevo1").head() === before)
    // non-additive evolution refuses
    assertThrows[Exception](spark.sql("ALTER TABLE graft_mfst.db.mevo1 DROP COLUMN bonus"))
  }

  test("schema evolution OCC: an ALTER racing an INSERT — both land, through the storage CAS") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mevo2")
    spark.sql("CREATE TABLE graft_mfst.db.mevo2 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mevo2 VALUES (1)") // v1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    def racer(body: => Unit): Thread = {
      val t = new Thread(() => {
        gate.await()
        try body
        catch { case e: Throwable => errs.add(e); () }
      })
      t.start(); t
    }
    val a = racer(spark.sql("ALTER TABLE graft_mfst.db.mevo2 ADD COLUMN extra BIGINT"))
    // the insert names the PRE-evolution shape; if the ALTER lands
    // before its ANALYSIS the arity no longer matches and it re-issues
    // against the evolved schema — the interesting race (analyzed at
    // v1, ALTER lands between staging and commit, the append rebases
    // through the CAS) needs no retry
    val b = racer {
      try spark.sql("INSERT INTO graft_mfst.db.mevo2 VALUES (2)")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.sql("INSERT INTO graft_mfst.db.mevo2 VALUES (2, NULL)")
      }
      ()
    }
    gate.countDown()
    a.join(60000); b.join(60000)
    assert(errs.isEmpty, errs.toString)
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mevo2")
    assert(log.head() === 3L, "both the ALTER and the INSERT landed")
    // whatever the landing order, the head schema has the column and
    // both rows are served (the insert's file null-fills if it lost)
    val rows = spark.table("graft_mfst.db.mevo2").orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.head.schema.fieldNames.toSeq === Seq("k", "extra"))
  }

  test("partitioned tables: hive-layout staging, partition values served from paths, two-level pruning") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mpart1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mpart1 (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('cluster_key'='k')"
    )
    // two commits × two partitions, one file each; k-zones disjoint
    // per commit ([0,10) then [10,20))
    spark.sql(
      "INSERT INTO graft_mfst.db.mpart1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(0, 10)")
    spark.sql(
      "INSERT INTO graft_mfst.db.mpart1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(10, 20)")
    // the partition column is served from the directory layout (the
    // data files do not carry it)
    val all = spark.table("graft_mfst.db.mpart1").orderBy("k").collect()
    assert(all.map(r => (r.getLong(0), r.getLong(1))).toSeq === (0L until 20L).map(k => (k, k % 2)))
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      org.apache.spark.sql.graft.manifestGlue.scanInputFiles(df.queryExecution.executedPlan).distinct.size
    }
    // partition-only predicate: 2 of 4 files
    val pOnly = spark.sql("SELECT sum(k) FROM graft_mfst.db.mpart1 WHERE p = 1")
    assert(scanned(pOnly) === 2)
    assert(pOnly.collect()(0).getLong(0) === (0L until 20L).filter(_ % 2 == 1).sum)
    // two-level: partition AND cluster-key zone — 1 of 4 files
    val both = spark.sql("SELECT sum(k) FROM graft_mfst.db.mpart1 WHERE p = 1 AND k < 10")
    assert(scanned(both) === 1)
    assert(both.collect()(0).getLong(0) === (0L until 10L).filter(_ % 2 == 1).sum)
    // row-level operations refuse loudly on partitioned tables
    assertThrows[Exception](spark.sql("DELETE FROM graft_mfst.db.mpart1 WHERE k = 3"))
    // the partition value rides the commit record: a fresh disk
    // replay prunes identically (no footer consulted for p)
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mpart1")
    assert(log.liveFiles(log.head()).forall(_.dir.contains("p=")))
  }

  test("dynamic partition overwrite: only written partitions replace, atomically; history still serves") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mpow1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mpow1 (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('cluster_key'='k')"
    )
    spark.sql("INSERT INTO graft_mfst.db.mpow1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(0, 10)") // v1
    // DYNAMIC mode (the engine key — Spark's own key would plan
    // OverwritePartitionsDynamic, which has no V1 fallback):
    // overwrite ONLY p=1; p=0 must survive untouched
    spark.conf.set("spark.graft.partitionOverwriteMode", "dynamic")
    try
      spark.sql(
        "INSERT OVERWRITE graft_mfst.db.mpow1 SELECT /*+ COALESCE(1) */ id + 100, CAST(1 AS BIGINT) FROM range(0, 3)"
      ) // v2
    finally spark.conf.set("spark.graft.partitionOverwriteMode", "static")
    val rows = spark.table("graft_mfst.db.mpow1").orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === (0L until 10L by 2).map(k => (k, 0L)) ++ Seq((100L, 1L), (101L, 1L), (102L, 1L)))
    // the pre-overwrite version still serves the original p=1 cohort
    assert(
      spark.sql("SELECT count(*) FROM graft_mfst.db.mpow1 VERSION AS OF 1 WHERE p = 1").collect()(0).getLong(0) === 5L)
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mpow1")
    assert(log.chain(log.head()).last.op === "overwrite_partitions")
    // STATIC mode (the default): the whole table is replaced
    spark.sql("INSERT OVERWRITE graft_mfst.db.mpow1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(0, 4)") // v3
    assert(spark.table("graft_mfst.db.mpow1").count() === 4L)
    assert(log.chain(log.head()).last.op === "overwrite_table")
    // and v2 still time-travels
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mpow1 VERSION AS OF 2").collect()(0).getLong(0) === 8L)
  }

  test("change feed over a partitioned table: the partition column is served from the plan, per file") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mpcdf1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mpcdf1 (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('cluster_key'='k')"
    )
    spark.sql("INSERT INTO graft_mfst.db.mpcdf1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(0, 6)") // v1
    spark.sql("INSERT INTO graft_mfst.db.mpcdf1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(6, 10)") // v2
    val feed = spark.read.table("graft_mfst.db.mpcdf1.changes")
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("p"), r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
    assert(feed.length === 10)
    assert(feed.forall { case (k, p, ct, _) => p === k % 2 && ct === "insert" })
    assert(feed.filter(_._4 == 1L).map(_._1).toSeq === (0L until 6L))
  }

  test("metadata-only DELETE: partition-aligned conditions drop whole files from the commit record") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mdel1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mdel1 (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('cluster_key'='k')"
    )
    spark.sql("INSERT INTO graft_mfst.db.mdel1 SELECT /*+ COALESCE(1) */ id, id % 3 FROM range(0, 12)") // v1
    // aligned: DELETE by partition is one remove-only commit
    spark.sql("DELETE FROM graft_mfst.db.mdel1 WHERE p = 1")
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mdel1")
    val last = log.chain(log.head()).last
    assert(last.op === "delete_partitions" && last.added.isEmpty && last.removed.nonEmpty)
    assert(spark.table("graft_mfst.db.mdel1").collect().map(_.getLong(1)).toSet === Set(0L, 2L))
    // the deleted partition still time-travels
    assert(
      spark.sql("SELECT count(*) FROM graft_mfst.db.mdel1 VERSION AS OF 1 WHERE p = 1").collect()(0).getLong(0) === 4L)
    // IN-lists align too
    spark.sql("DELETE FROM graft_mfst.db.mdel1 WHERE p IN (0)")
    assert(spark.table("graft_mfst.db.mdel1").collect().map(_.getLong(1)).toSet === Set(2L))
    // non-aligned conditions on a partitioned table refuse loudly
    assertThrows[Exception](spark.sql("DELETE FROM graft_mfst.db.mdel1 WHERE p = 2 AND k = 8"))
    // unconditional DELETE is a metadata remove-all (Spark routes the
    // partitioned case through deleteWhere(always-true), the
    // unpartitioned one through truncateTable)
    spark.sql("DELETE FROM graft_mfst.db.mdel1")
    assert(spark.table("graft_mfst.db.mdel1").count() === 0L)
    val lastAll = log.chain(log.head()).last
    assert(Set("truncate", "delete_partitions").contains(lastAll.op) && lastAll.added.isEmpty)
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mdel2")
    spark.sql("CREATE TABLE graft_mfst.db.mdel2 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mdel2 VALUES (1), (2)")
    spark.sql("DELETE FROM graft_mfst.db.mdel2")
    assert(spark.table("graft_mfst.db.mdel2").count() === 0L)
    val log2 = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mdel2")
    assert(log2.chain(log2.head()).last.op === "truncate")
  }

  test("SQL WAP: INSERTs land on the conf-named branch, main stays clean, fast-forward publishes") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mwap1")
    spark.sql("CREATE TABLE graft_mfst.db.mwap1 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mwap1 VALUES (1)") // v1 on main
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mwap1"
    DurableManifestLog.open(tdir).createBranch("audit", 1L)
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      spark.sql("INSERT INTO graft_mfst.db.mwap1 VALUES (2), (3)") // v2 on audit
      // staged work invisible to plain reads; the audit sees it by ref
      assert(spark.table("graft_mfst.db.mwap1").count() === 1L)
      assert(
        spark.sql("SELECT count(*) FROM graft_mfst.db.mwap1 VERSION AS OF 'audit'").collect()(0).getLong(0) === 3L)
      // a typo'd branch refuses loudly at commit — nothing lands anywhere
      spark.conf.set("spark.graft.wap.branch", "nope")
      assertThrows[Exception](spark.sql("INSERT INTO graft_mfst.db.mwap1 VALUES (9)"))
    } finally spark.conf.unset("spark.graft.wap.branch")
    val log = DurableManifestLog.open(tdir)
    assert(log.head("main") === 1L && log.head("audit") === 2L)
    // publish: fast-forward main to the audited branch
    log.fastForward("main", "audit")
    assert(spark.table("graft_mfst.db.mwap1").orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("CDC-on-write: change_feed tables stage pre/post images with their rewrites; feed serves them") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mcdc1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mcdc1 (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('cluster_key'='k', 'change_feed'='true')"
    )
    spark.sql("INSERT INTO graft_mfst.db.mcdc1 SELECT /*+ COALESCE(1) */ id, id * 10 FROM range(0, 6)") // v1
    spark.sql("UPDATE graft_mfst.db.mcdc1 SET v = v + 1 WHERE k IN (2, 4)") // v2: rewrite + cdc
    spark.sql("DELETE FROM graft_mfst.db.mcdc1 WHERE k = 5") // v3: rewrite + cdc
    val feed = spark.read
      .option("startingVersion", 1) // the rewrites only — inserts proved elsewhere
      .table("graft_mfst.db.mcdc1.changes")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._4, t._3, t._1))
    assert(
      feed.toSeq === Seq(
        (2L, 21L, "update_postimage", 2L), (4L, 41L, "update_postimage", 2L),
        (2L, 20L, "update_preimage", 2L), (4L, 40L, "update_preimage", 2L),
        (5L, 50L, "delete", 3L)
      ),
      feed.mkString(", ")
    )
    // without the property, a rewrite still refuses at feed planning
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mcdc2")
    spark.sql("CREATE TABLE graft_mfst.db.mcdc2 (k BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.mcdc2 VALUES (1), (2)")
    spark.sql("UPDATE graft_mfst.db.mcdc2 SET k = 3 WHERE k = 2")
    val e = intercept[Exception](
      spark.read.option("startingVersion", 1).table("graft_mfst.db.mcdc2.changes").collect())
    assert(e.getMessage.contains("no cdc change files"), e.getMessage)
  }

  test("OPTIMIZE: log-planned compaction rewrites groups, reads identical, partitions never merge") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mopt1")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mopt1 (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        "TBLPROPERTIES ('cluster_key'='k')"
    )
    // 3 commits × 2 partitions = 6 single-row-group files
    (0 until 3).foreach { i =>
      spark.sql(
        s"INSERT INTO graft_mfst.db.mopt1 SELECT /*+ COALESCE(1) */ id, id % 2 FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mopt1"
    val log = DurableManifestLog.open(tdir)
    assert(log.liveFiles(log.head()).size === 6)
    val before = spark.table("graft_mfst.db.mopt1").orderBy("k", "p").collect().toSeq
    val schema = spark.table("graft_mfst.db.mopt1").schema
    val done = ManifestMaintenance.compact(tdir, log, schema, Some("k"), groupSize = 3)
    // 3 files per partition fold to 1 each; outputs stay inside their
    // partition dirs (path-served values keep working)
    assert(done.size === 2 && done.forall(_._1.size === 3))
    assert(log.liveFiles(log.head()).size === 2)
    assert(log.liveFiles(log.head()).forall(_.dir.startsWith("p=")))
    assert(spark.table("graft_mfst.db.mopt1").orderBy("k", "p").collect().toSeq === before)
    // pre-compaction versions still serve
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mopt1 VERSION AS OF 1").collect()(0).getLong(0) === 10L)
    // zone maps rode the compaction: a key predicate still prunes
    val df = spark.sql("SELECT sum(k) FROM graft_mfst.db.mopt1 WHERE k >= 100")
    df.collect()
    assert(org.apache.spark.sql.graft.manifestGlue.scanInputFiles(df.queryExecution.executedPlan).isEmpty)
  }

  test("VERSION AS OF 'ref': tags and branches resolve by name; unknown refs refuse at resolution") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mref1")
    spark.sql("CREATE TABLE graft_mfst.db.mref1 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mref1 VALUES (1), (2)") // v1
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mref1")
    log.tag("audit", 1L)
    spark.sql("INSERT INTO graft_mfst.db.mref1 VALUES (3)") // v2
    assert(spark.sql("SELECT count(*) FROM graft_mfst.db.mref1 VERSION AS OF 'audit'").collect()(0).getLong(0) === 2L)
    assert(spark.table("graft_mfst.db.mref1").count() === 3L)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft_mfst.db.mref1 VERSION AS OF 'nope'").collect()
    )
    assert(e.getMessage.contains("no ref"), e.getMessage)
    // a ref read is read-only like any pinned version
    assertThrows[Exception](
      spark.sql("INSERT INTO graft_mfst.db.mref1 VERSION AS OF 'audit' VALUES (9)")
    )
  }

  test("concurrent INSERTs commute through the log's OCC — both land, none lost") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mspec6")
    spark.sql("CREATE TABLE graft_mfst.db.mspec6 (k BIGINT)")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try { spark.sql(s"INSERT INTO graft_mfst.db.mspec6 VALUES ($i)"); () }
        catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent INSERT threw: ${Option(errors.peek()).map(_.toString)}")
    assert(spark.table("graft_mfst.db.mspec6").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("ALTER on a partitioned table keeps the partition column LAST; metadata DELETE still plans after it") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.malt1")
    spark.sql("CREATE TABLE graft_mfst.db.malt1 (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_mfst.db.malt1 VALUES (1, 0), (2, 1), (3, 0)")
    spark.sql("ALTER TABLE graft_mfst.db.malt1 ADD COLUMN bonus BIGINT")
    // the evolved schema slots the new column BEFORE the partition
    // column — createTable's scan-order invariant survives evolution
    assert(spark.table("graft_mfst.db.malt1").schema.fieldNames.toSeq === Seq("k", "bonus", "p"))
    spark.sql("INSERT INTO graft_mfst.db.malt1 VALUES (4, 40, 1)")
    // the partition-aligned DELETE must still be METADATA-ONLY (a
    // non-last partition column would wrap the scan in a Project and
    // push this into the refused row-level path)
    spark.sql("DELETE FROM graft_mfst.db.malt1 WHERE p = 0")
    val got = spark.table("graft_mfst.db.malt1").orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq === Seq((2L, 1L), (4L, 1L)))
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/malt1")
    assert(log.chain(log.head()).last.op === "delete_partitions", "the DELETE must commit metadata-only")
  }

  test("NULL partition values refuse at INSERT time — nothing publishes, the table is unchanged") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mnull1")
    spark.sql("CREATE TABLE graft_mfst.db.mnull1 (k BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft_mfst.db.mnull1 VALUES (1, 0)")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft_mfst.db.mnull1 VALUES (2, NULL)")
    )
    assert(
      e.getMessage.contains("non-null") || Option(e.getCause).exists(_.getMessage.contains("non-null")),
      e.getMessage
    )
    // the refused insert published NOTHING — one version, one row
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mnull1")
    assert(log.head() === 1L)
    assert(spark.table("graft_mfst.db.mnull1").count() === 1L)
  }

  test("an active WAP branch refuses every non-INSERT mutation loudly — main is never touched mid-audit") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mwapg1")
    spark.sql("CREATE TABLE graft_mfst.db.mwapg1 (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.mwapg1 VALUES (1, 10), (2, 20)")
    val log = DurableManifestLog.open(s"${ManifestCatalog.defaultWarehouse}/db/mwapg1")
    log.createBranch("stage", log.head())
    spark.conf.set("spark.graft.wap.branch", "stage")
    try {
      def refused(sql: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        def mentionsWap(t: Throwable): Boolean =
          t != null && (Option(t.getMessage).exists(_.contains("wap.branch")) || mentionsWap(t.getCause))
        assert(mentionsWap(e), s"$sql must refuse on the WAP guard, got: ${e.getMessage}")
      }
      refused("DELETE FROM graft_mfst.db.mwapg1 WHERE k = 1") // row-level
      refused("UPDATE graft_mfst.db.mwapg1 SET v = 0 WHERE k = 1") // row-level
      refused("DELETE FROM graft_mfst.db.mwapg1") // truncate
      refused("ALTER TABLE graft_mfst.db.mwapg1 ADD COLUMN bonus BIGINT") // metadata
      // INSERT is the one staged verb — it lands on the branch, not main
      spark.sql("INSERT INTO graft_mfst.db.mwapg1 VALUES (3, 30)")
      assert(spark.table("graft_mfst.db.mwapg1").count() === 2L, "main must not see the staged insert")
    } finally spark.conf.set("spark.graft.wap.branch", "")
    assert(log.head("stage") > log.head("main"))
    assert(spark.table("graft_mfst.db.mwapg1").count() === 2L)
  }

  test("OPTIMIZE ZORDER absorbs in-force deletion vectors — tombstoned rows never resurrect through the rewrite") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mzord1")
    spark.sql("CREATE TABLE graft_mfst.db.mzord1 (k BIGINT, m BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    (0 until 4).foreach { i =>
      spark.sql(
        s"INSERT INTO graft_mfst.db.mzord1 SELECT /*+ COALESCE(1) */ id, (id * 37) % 1000 " +
          s"FROM range(${i * 100}, ${i * 100 + 100})"
      )
    }
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/mzord1"
    val log = DurableManifestLog.open(tdir)
    // DV-delete k % 10 = 3 (driver-staged tombstones, the q424 shape)
    val live = log.liveFiles(log.head()).toSeq.sortBy(r => (r.dir, r.file))
    spark.read
      .parquet(live.map(r => s"$tdir/${r.dir}/${r.file}"): _*)
      .select(
        org.apache.spark.sql.functions.col("k"),
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.col("_metadata.file_path"), "([^/]+)/[^/]+$", 1).as("d"),
        org.apache.spark.sql.functions.col("_metadata.file_name").as("f"),
        org.apache.spark.sql.functions.col("_metadata.row_index").as("ri"))
      .filter(org.apache.spark.sql.functions.col("k") % 10 === 3)
      .select("d", "f", "ri")
      .coalesce(1)
      .write
      .parquet(s"$tdir/dvz")
    val dvRefs = GraftFs.listDataFiles(s"$tdir/dvz").map(f => ManifestLog.FileRef("dvz", f))
    assert(log.tryCommit("main", log.head(), "delete_dv", dvAdd = dvRefs).isInstanceOf[ManifestLog.Committed])
    // the plain scan refuses while tombstones target live files
    assertThrows[Exception](spark.table("graft_mfst.db.mzord1").count())
    // schema resolution alone doesn't plan the scan — no DV refusal
    val schema = spark.table("graft_mfst.db.mzord1").schema
    val (removed, added) =
      ManifestMaintenance.zorder(tdir, log, schema, Some("k"), "k", "m", targetFiles = 4)
    assert(removed.size === 4 && added.nonEmpty)
    // absorbed: the deleted cohort is GONE, everything else intact
    val got = spark.table("graft_mfst.db.mzord1")
    assert(got.count() === 400L - 40L)
    assert(got.filter(org.apache.spark.sql.functions.col("k") % 10 === 3).count() === 0L)
    assert(
      got.agg(org.apache.spark.sql.functions.sum("k")).collect()(0).getLong(0)
        === (0L until 400L).filterNot(_ % 10 == 3).sum
    )
    // a second racer that planned at the PRE-zorder head aborts loudly
    val stale = ManifestLog.FileRef(removed.head.dir, removed.head.file)
    log.tryCommit("main", log.head() - 1L, "compact", add = Seq(ManifestLog.FileRef("x", "x.parquet")), remove = Seq(stale)) match {
      case ManifestLog.Conflicted(overlap, _) => assert(overlap.nonEmpty)
      case other                              => fail(s"stale rewrite must abort, got $other")
    }
  }

  test("overwrite-class commits recompute their remove set per attempt and land STRICT — no lost update") {
    // the log-level shape of INSERT OVERWRITE / metadata DELETE /
    // TRUNCATE: a concurrent append lands between the head-read and
    // the publish; the strict retry recomputes the remove set from the
    // refreshed head, so the overwrite replaces the late rows too
    // instead of rebasing past them (the Delta ConcurrentAppend class)
    val dir = graft.operators.Scratch.dir("graft-strictc")
    val log = DurableManifestLog.open(dir)
    import graft.sources.ManifestLog.FileRef
    assert(log.tryCommit("main", 0L, "append", add = Seq(FileRef("p=2", "a.parquet"))).isInstanceOf[ManifestLog.Committed])
    var injected = false
    ManifestCatalog.retryingStrictCommit("test overwrite") { () =>
      val head = log.head()
      val removed = log.liveFiles(head).toSeq.sortBy(r => (r.dir, r.file))
      if (!injected) {
        injected = true
        log.tryCommit("main", log.head(), "append", add = Seq(FileRef("p=2", "late.parquet")))
        ()
      }
      log.tryCommit(
        "main", head, "overwrite_table",
        add = Seq(FileRef("p=2", "new.parquet")), remove = removed, maxAttempts = 1, strict = true)
    }
    assert(
      log.liveFiles(log.head()) === Set(FileRef("p=2", "new.parquet")),
      "the late append must NOT survive the overwrite"
    )
  }

  test("db.t.detail: one metadata row of table-level facts, zero data IO") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mdet")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mdet (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('cluster_key'='k', 'bloom_col'='v')")
    spark.sql("INSERT INTO graft_mfst.db.mdet SELECT id, id * 2 FROM range(1, 51)")
    spark.sql("ALTER TABLE graft_mfst.db.mdet ADD CONSTRAINT v_even CHECK (v % 2 = 0)")
    val r = spark.read.table("graft_mfst.db.mdet.detail").collect()(0)
    assert(r.getAs[Long]("version") === 2L) // insert + constraint
    assert(r.getAs[Long]("n_files") >= 1L)
    assert(r.getAs[Long]("size_bytes") > 0L)
    assert(r.getAs[Long]("n_rows") === 50L)
    assert(r.getAs[String]("cluster_key") === "k")
    assert(r.getAs[String]("partition_col") == null)
    assert(r.getAs[String]("bucket_spec") == null)
    assert(r.getAs[String]("bloom_col") === "v")
    assert(r.getAs[Long]("n_constraints") === 1L)

    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mdet2")
    spark.sql("CREATE TABLE graft_mfst.db.mdet2 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    val r2 = spark.read.table("graft_mfst.db.mdet2.detail").collect()(0)
    assert(r2.getAs[String]("bucket_spec") === "bucket(4, k)")
    assert(r2.getAs[Long]("n_files") === 0L && r2.getAs[Long]("n_rows") === 0L)
  }
}
