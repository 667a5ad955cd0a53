package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{DurableManifestLog, GraftFs, ManifestCatalog, ManifestLog}
import ManifestLog.{Committed, FileRef}

/** The change-data-feed source over the manifest catalog: the
  * `db.t.changes` table (batch and micro-batch), offset semantics,
  * and the refusals that keep the feed honest.
  */
class CdfStreamSpec extends SparkSpec {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)

  test("batch read of db.t.changes: appends surface as inserts with their commit versions") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf1")
    spark.sql("CREATE TABLE graft_mfst.db.cdf1 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.cdf1 VALUES (1), (2)") // v1
    spark.sql("INSERT INTO graft_mfst.db.cdf1 VALUES (3)") // v2
    val feed = spark.table("graft_mfst.db.cdf1.changes")
    assert(feed.columns.toSeq === Seq("k", "_change_type", "_commit_version"))
    val rows = feed
      .orderBy("k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq((1L, "insert", 1L), (2L, "insert", 1L), (3L, "insert", 2L)))
    // startingVersion narrows the feed (exclusive lower bound)
    val later = spark.read.option("startingVersion", "1").table("graft_mfst.db.cdf1.changes")
    assert(later.collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("DV commits surface the tombstoned rows as delete pre-images") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf2")
    spark.sql("CREATE TABLE graft_mfst.db.cdf2 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.cdf2 SELECT /*+ COALESCE(1) */ id FROM range(0, 10)") // v1
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/cdf2"
    val log = DurableManifestLog.open(tdir)
    // tombstone the even rows of the single staged file
    spark.read
      .parquet(log.liveFiles(1L).toSeq.map(r => s"$tdir/${r.dir}/${r.file}"): _*)
      .select(
        regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+$", 1).as("d"),
        col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("ri"),
        col("k")
      )
      .filter(col("k") % 2 === 0)
      .select("d", "f", "ri")
      .coalesce(1)
      .write
      .parquet(s"$tdir/dv")
    val dvRefs = GraftFs.listDataFiles(s"$tdir/dv").map(f => FileRef("dv", f))
    assert(log.tryCommit("main", 1L, "delete_dv", dvAdd = dvRefs).isInstanceOf[Committed])
    val dels = spark
      .table("graft_mfst.db.cdf2.changes")
      .filter(col("_change_type") === "delete")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(dels.map(_._1).sorted.toSeq === Seq(0L, 2L, 4L, 6L, 8L))
    assert(dels.forall(_._2 == 2L))
  }

  test("a rewrite commit WITHOUT cdc files refuses at planning — never a silently wrong feed") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf3")
    spark.sql("CREATE TABLE graft_mfst.db.cdf3 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.cdf3 VALUES (1)") // v1
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/cdf3"
    val log = DurableManifestLog.open(tdir)
    val live = log.liveFiles(1L).toSeq
    spark.range(1).select(col("id").as("k")).coalesce(1).write.parquet(s"$tdir/rw")
    val rwRefs = GraftFs.listDataFiles(s"$tdir/rw").map(f => FileRef("rw", f))
    assert(log.tryCommit("main", 1L, "rewrite", add = rwRefs, remove = live).isInstanceOf[Committed])
    val e = intercept[Exception](spark.table("graft_mfst.db.cdf3.changes").collect())
    assert(e.getMessage.contains("cdc"), e.getMessage)
  }

  test("maxVersionsPerTrigger=1: one commit per micro-batch, feed content identical to the unbounded read") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf5")
    spark.sql("CREATE TABLE graft_mfst.db.cdf5 (k BIGINT)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO graft_mfst.db.cdf5 VALUES ($i)")) // v1..v4
    val scratch = graft.operators.Scratch.dir("graft-cdf-ratelimit")
    val perBatchVersions = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val q = spark.readStream
      .option("maxVersionsPerTrigger", "1")
      .table("graft_mfst.db.cdf5.changes")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$scratch/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        perBatchVersions.add(df.select("_commit_version").distinct().collect().map(_.getLong(0)).toSet)
        ()
      }
      .start()
    q.awaitTermination()
    val batches = { import scala.jdk.CollectionConverters._; perBatchVersions.asScala.toVector }
    // four commits → four micro-batches, each exactly one version
    assert(batches.count(_.nonEmpty) === 4, batches.toString)
    assert(batches.filter(_.nonEmpty).forall(_.size == 1), batches.toString)
    assert(batches.flatten.toSet === Set(1L, 2L, 3L, 4L))
    // and the rate limit changed pacing only, never content
    val all = spark.table("graft_mfst.db.cdf5.changes").collect().map(_.getLong(0)).sorted.toSeq
    assert(all === Seq(1L, 2L, 3L, 4L))
  }

  test("maxVersionsPerTrigger=1 across a checkpoint restart: the resumed feed is the unbounded read's tail") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf6")
    spark.sql("CREATE TABLE graft_mfst.db.cdf6 (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k', 'change_feed'='true')")
    spark.sql("INSERT INTO graft_mfst.db.cdf6 SELECT id, id * 10 FROM range(0, 50)") // v1
    spark.sql("INSERT INTO graft_mfst.db.cdf6 SELECT id, id * 10 FROM range(50, 100)") // v2
    val ckpt = s"${graft.operators.Scratch.dir("graft-cdf-restart")}/ckpt"
    type Change = (Long, Long, String, Long)
    // one AvailableNow run over the same checkpoint: each batch's rows
    def drain(): Vector[Vector[Change]] = {
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Vector[Change]]()
      val q = spark.readStream
        .option("maxVersionsPerTrigger", "1")
        .table("graft_mfst.db.cdf6.changes")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.add(df.collect().toVector.map(r =>
            (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))))
          ()
        }
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      batches.asScala.toVector.filter(_.nonEmpty)
    }
    val first = drain()
    spark.sql("UPDATE graft_mfst.db.cdf6 SET v = -v WHERE k BETWEEN 10 AND 19") // v3
    spark.sql("DELETE FROM graft_mfst.db.cdf6 WHERE k >= 90") // v4
    spark.sql("INSERT INTO graft_mfst.db.cdf6 SELECT id, id * 10 FROM range(100, 120)") // v5
    val second = drain()
    assert(first.map(_.map(_._4).toSet) === Vector(Set(1L), Set(2L)))
    assert(second.map(_.map(_._4).toSet) === Vector(Set(3L), Set(4L), Set(5L)))
    val all = spark.table("graft_mfst.db.cdf6.changes").collect().toVector.map(r =>
      (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
    assert((first ++ second).flatten.sorted === all.sorted)
    assert(second.flatten.count(_._3 == "update_postimage") === 10)
    assert(second.flatten.count(_._3 == "delete") === 10)
  }

  test("offset json roundtrip") {
    val scan = new CdfScan("/nowhere", new org.apache.spark.sql.types.StructType(), 0L)
    val off = CdfOffset(7L)
    assert(scan.deserializeOffset(off.json()) === off)
  }

  test("a DV with live targets blocks the plain catalog read; absorbed by a rewrite it turns inert") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cdf4")
    spark.sql("CREATE TABLE graft_mfst.db.cdf4 (k BIGINT)")
    spark.sql("INSERT INTO graft_mfst.db.cdf4 SELECT /*+ COALESCE(1) */ id FROM range(0, 10)") // v1
    val tdir = s"${ManifestCatalog.defaultWarehouse}/db/cdf4"
    val log = DurableManifestLog.open(tdir)
    val live1 = log.liveFiles(1L).toSeq
    spark.read
      .parquet(live1.map(r => s"$tdir/${r.dir}/${r.file}"): _*)
      .select(
        regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+$", 1).as("d"),
        col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("ri"),
        col("k")
      )
      .filter(col("k") >= 5)
      .select("d", "f", "ri")
      .coalesce(1)
      .write
      .parquet(s"$tdir/dv")
    val dvRefs = GraftFs.listDataFiles(s"$tdir/dv").map(f => FileRef("dv", f))
    assert(log.tryCommit("main", 1L, "delete_dv", dvAdd = dvRefs).isInstanceOf[Committed])
    // live target → the plain read refuses (it would overcount)
    val e = intercept[Exception](spark.table("graft_mfst.db.cdf4").collect())
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
    // a rewrite absorbs the tombstones; the DV goes inert and the
    // plain read serves the compacted truth
    spark.range(5).select(col("id").as("k")).coalesce(1).write.parquet(s"$tdir/rw")
    val rwRefs = GraftFs.listDataFiles(s"$tdir/rw").map(f => FileRef("rw", f))
    assert(log.tryCommit("main", 2L, "compact", add = rwRefs, remove = live1).isInstanceOf[Committed])
    assert(spark.table("graft_mfst.db.cdf4").collect().map(_.getLong(0)).sorted.toSeq === (0L to 4L))
  }
}
