package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.manifestGlue

import graft.SparkSpec

/** File-granular row-level rewrites: an `UPDATE` / `DELETE` /
  * `MERGE INTO` on a manifest table reads, replaces and diffs for the
  * change feed only the files whose zones can satisfy its pushed
  * condition. Every test checks three things against closed-form
  * expectations: the rows (at head and `VERSION AS OF` the prior
  * version), the commit's removed files (exactly the zone-satisfiable
  * ones, which the executed scan read), and the change feed's images.
  */
class ManifestRowLevelPruningSpec extends SparkSpec {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)

  private def tdir(t: String) = s"${ManifestCatalog.defaultWarehouse}/db/$t"

  /** A `cluster_key` table of one file per `[lo, hi)` range, `v = 10k`. */
  private def rangeTable(t: String, ranges: Seq[(Long, Long)], props: String): Map[Long, Long] = {
    useCatalog()
    spark.sql(s"DROP TABLE IF EXISTS graft_mfst.db.$t")
    spark.sql(s"CREATE TABLE graft_mfst.db.$t (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k'$props)")
    ranges.foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO graft_mfst.db.$t SELECT /*+ COALESCE(1) */ id, id * 10 FROM range($lo, $hi)")
    }
    ranges.flatMap { case (lo, hi) => (lo until hi).map(k => k -> k * 10) }.toMap
  }

  private def rows(sql: String): Map[Long, Long] =
    spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fileName(p: String) = p.substring(p.lastIndexOf('/') + 1)

  /** Run `stmt` on `t` and check it against `expected` (the rows after
    * it) and `touched(min, max)` (which live files' key zones its
    * condition can satisfy): one new version that removed exactly
    * those files, which are exactly what its scan read; the other
    * files still live; the prior version still serving `before`.
    * Returns the new version.
    */
  private def rewrite(t: String, stmt: String, before: Map[Long, Long], expected: Map[Long, Long])(
      touched: (Long, Long) => Boolean): Long = {
    val log = DurableManifestLog.open(tdir(t))
    val prior = log.head()
    val stats = log.liveStats(prior)
    val live = log.liveFiles(prior)
    // every live file has a key zone: a rewrite commits no empty output
    assert(live.forall(r => stats(r).min <= stats(r).max), s"a zone-less file is live before $stmt")
    val (hit, untouched) = live.partition(r => touched(stats(r).min, stats(r).max))
    val df: DataFrame = spark.sql(stmt)
    val scanned = manifestGlue.scanInputFiles(df.queryExecution.executedPlan).map(fileName).toSet
    val v = log.head()
    assert(v === prior + 1, s"$stmt must publish exactly one version")
    assert(rows(s"SELECT * FROM graft_mfst.db.$t") === expected, s"$stmt left the wrong rows")
    assert(rows(s"SELECT * FROM graft_mfst.db.$t VERSION AS OF $prior") === before)
    assert(log.chain(v).last.removed.toSet === hit, s"$stmt removed the wrong files")
    assert(scanned === hit.map(_.file), s"$stmt scanned the wrong files")
    assert(untouched.subsetOf(log.liveFiles(v)), s"$stmt dropped an untouched file")
    assert(
      spark.sql(s"SELECT n_removed FROM graft_mfst.db.$t.history WHERE version = $v").collect()(0).getLong(0)
        === hit.size.toLong)
    v
  }

  /** The change rows version `v` committed: (k, v, change type). */
  private def changesAt(t: String, v: Long): Set[(Long, Long, String)] =
    spark.read
      .option("startingVersion", v - 1)
      .option("endingVersion", v)
      .table(s"graft_mfst.db.$t.changes")
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[String]("_change_type")))
      .toSet

  test("range DELETE / UPDATE / MERGE rewrite only the zone-satisfiable files; the rest survive as they were") {
    val t0 = rangeTable("mrlp1", Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L)), ", 'change_feed'='true'")

    // DELETE spanning two files: [100, 199] and [200, 299]
    val t1 = t0 -- (150L to 250L)
    val v1 = rewrite("mrlp1", "DELETE FROM graft_mfst.db.mrlp1 WHERE k BETWEEN 150 AND 250", t0, t1)(
      (mn, mx) => mx >= 150 && mn <= 250)
    assert(changesAt("mrlp1", v1) === (150L to 250L).map(k => (k, k * 10, "delete")).toSet)

    // UPDATE inside one file: [0, 99]
    val t2 = t1 ++ (20L until 30L).map(k => k -> (k * 10 + 1))
    val v2 = rewrite("mrlp1", "UPDATE graft_mfst.db.mrlp1 SET v = v + 1 WHERE k >= 20 AND k < 30", t1, t2)(
      (mn, mx) => mx >= 20 && mn < 30)
    assert(changesAt("mrlp1", v2) === (20L until 30L).flatMap(k =>
      Seq((k, k * 10, "update_preimage"), (k, k * 10 + 1, "update_postimage"))).toSet)

    // MERGE whose source hits one range: the ON clause's target-only
    // conjunct is the pushed condition, so only [300, 399] is rewritten
    // (the unmatched source key 1000 is inserted by the same rewrite)
    val t3 = t2 ++ (300L until 305L).map(k => k -> -k) + (1000L -> -1000L)
    val v3 = rewrite(
      "mrlp1",
      """MERGE INTO graft_mfst.db.mrlp1 t
        |USING (SELECT id AS k, -id AS v FROM range(300, 305) UNION ALL SELECT 1000L, -1000L) s
        |ON t.k = s.k AND t.k BETWEEN 300 AND 399
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin,
      t2,
      t3
    )((mn, mx) => mx >= 300 && mn <= 399)
    assert(changesAt("mrlp1", v3) === ((300L until 305L).flatMap(k =>
      Seq((k, k * 10, "update_preimage"), (k, -k, "update_postimage"))) :+ ((1000L, -1000L, "insert"))).toSet)

    // a MERGE whose ON clause pushes nothing still reads every file
    val t4 = t3 + (5L -> 0L)
    val v4 = rewrite(
      "mrlp1",
      """MERGE INTO graft_mfst.db.mrlp1 t USING (SELECT 5L AS k) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin,
      t3,
      t4
    )((_, _) => true)
    assert(changesAt("mrlp1", v4) === Set((5L, 50L, "update_preimage"), (5L, 0L, "update_postimage")))
  }

  test("a condition no file's zones satisfy still commits one version; table and feed are unchanged") {
    // disjoint ranges with gaps: no file holds a key in [100, 199]
    val t0 = rangeTable("mrlp2", Seq((0L, 100L), (200L, 300L), (400L, 500L), (600L, 700L)), ", 'change_feed'='true'")
    def feedTotals(): Map[String, Long] =
      spark.read.table("graft_mfst.db.mrlp2.changes").groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val feed0 = feedTotals()
    assert(feed0 === Map("insert" -> 400L))
    val v1 = rewrite("mrlp2", "DELETE FROM graft_mfst.db.mrlp2 WHERE k > 120 AND k < 180", t0, t0)((_, _) => false)
    // the write's one empty task file is neither committed nor kept
    val log = DurableManifestLog.open(tdir("mrlp2"))
    assert(log.chain(v1).last.added.isEmpty)
    assert(log.liveFiles(v1) === log.liveFiles(v1 - 1))
    assert(changesAt("mrlp2", v1).isEmpty)
    assert(feedTotals() === feed0)
    // a contradiction across conjuncts: [0, 99] has max > 5 and min < 3,
    // so each conjunct alone is satisfiable there, but k > 5 AND k < 3
    // holds for no k, so no file is read or rewritten
    val v2 = rewrite("mrlp2", "UPDATE graft_mfst.db.mrlp2 SET v = 0 WHERE k > 5 AND k < 3", t0, t0)((_, _) => false)
    assert(changesAt("mrlp2", v2).isEmpty)
    assert(feedTotals() === feed0)
    // the same ranges prune a read
    val read = spark.sql("SELECT * FROM graft_mfst.db.mrlp2 WHERE k > 5 AND k < 3")
    assert(read.collect().isEmpty)
    assert(manifestGlue.scanInputFiles(read.queryExecution.executedPlan).isEmpty)
    val edge = spark.sql("SELECT * FROM graft_mfst.db.mrlp2 WHERE k >= 99 AND k <= 200")
    assert(edge.collect().map(_.getLong(0)).sorted.toSeq === Seq(99L, 200L))
    assert(manifestGlue.scanInputFiles(edge.queryExecution.executedPlan).size === 2)
  }

  test("column mapping: a range UPDATE after a rename prunes by the remapped zones and stays exact") {
    // the cmap3 shape (ManifestColumnMappingSpec) over four files; the
    // cluster key is anchored, so the renamed column is the value one
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.mrlp3")
    spark.sql(
      "CREATE TABLE graft_mfst.db.mrlp3 (k BIGINT, a BIGINT) " +
        "TBLPROPERTIES ('cluster_key'='k', 'column_mapping'='name')")
    (0 until 4).foreach { i =>
      spark.sql(
        s"INSERT INTO graft_mfst.db.mrlp3 SELECT /*+ COALESCE(1) */ id, id * 10 FROM range(${i * 100}, ${i * 100 + 100})")
    }
    spark.sql("ALTER TABLE graft_mfst.db.mrlp3 RENAME COLUMN a TO amount")
    val t0 = (0L until 400L).map(k => k -> k * 10).toMap
    // on the cluster key: its zone is recorded under the physical name
    val t1 = t0 ++ (150L to 170L).map(k => k -> (k * 10 + 1))
    rewrite("mrlp3", "UPDATE graft_mfst.db.mrlp3 SET amount = amount + 1 WHERE k BETWEEN 150 AND 170", t0, t1)(
      (mn, mx) => mx >= 150 && mn <= 170)
    // on the renamed column alone: amount >= 3500 holds only in the
    // file whose key zone starts at 300, so only the amount zone —
    // recorded under the column's physical name — can prune the others
    val t2 = t1 ++ (350L until 400L).map(k => k -> 0L)
    rewrite("mrlp3", "UPDATE graft_mfst.db.mrlp3 SET amount = 0 WHERE amount >= 3500", t1, t2)(
      (mn, _) => mn >= 300)
  }
}
