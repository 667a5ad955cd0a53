package graft.sources

import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.SparkSpec
import graft.streaming.CdfScan

/** The Hadoop configuration reaches the tasks of manifest writes and
  * change-feed reads by broadcast, once per job: the factories every
  * task deserializes stay small, and each write task works on a conf of
  * its own.
  */
class ConfShippingSpec extends SparkSpec {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)

  private def tdir(t: String) = s"${ManifestCatalog.defaultWarehouse}/db/$t"

  private def javaSize(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    try out.writeObject(o)
    finally out.close()
    bos.size()
  }

  /** A small manifest table, its schema, and the serialized size of
    * the session's Hadoop conf: what a task would deserialize if a conf
    * rode the factory.
    */
  private lazy val (tableSchema, confSize) = {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cship1")
    spark.sql("CREATE TABLE graft_mfst.db.cship1 (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("INSERT INTO graft_mfst.db.cship1 SELECT id, id * 10 FROM range(0, 100)")
    val size = javaSize(new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    assert(size > 16 * 1024, s"the session conf serializes to only $size bytes")
    (spark.table("graft_mfst.db.cship1").schema, size)
  }

  test("the change-feed reader factory ships no Hadoop configuration") {
    val size = javaSize(new CdfScan(tdir("cship1"), tableSchema, 0L).createReaderFactory())
    assert(size < 4 * 1024, s"change-feed reader factory: $size bytes (a conf is $confSize)")
  }

  test("a staged manifest write's writer factory ships no Hadoop configuration") {
    val catalog = new ManifestCatalog()
    catalog.initialize("graft_mfst", CaseInsensitiveStringMap.empty())
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def queryId(): String = "conf-shipping"
      override def schema(): StructType = tableSchema
      override def rowIdSchema(): java.util.Optional[StructType] = java.util.Optional.empty()
      override def metadataSchema(): java.util.Optional[StructType] = java.util.Optional.empty()
    }
    val batch = catalog
      .loadTable(Identifier.of(Array("db"), "cship1"))
      .asInstanceOf[SupportsWrite]
      .newWriteBuilder(info)
      .build()
      .toBatch
    try {
      val size = javaSize(batch.createBatchWriterFactory(new PhysicalWriteInfo { override def numPartitions(): Int = 4 }))
      assert(size < 8 * 1024, s"staged-write factory: $size bytes (a conf is $confSize)")
    } finally batch.abort(Array.empty)
  }

  test("a 4-task INSERT … ORDER BY writes 4 distinct files with exact rows (one conf copy per task)") {
    useCatalog()
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.cship2")
    spark.sql("CREATE TABLE graft_mfst.db.cship2 (k BIGINT, v BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql("INSERT INTO graft_mfst.db.cship2 SELECT id AS k, 3 * id + 1 AS v FROM range(0, 40000) ORDER BY k")
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }

    val log = DurableManifestLog.open(tdir("cship2"))
    val files = log.liveFiles(log.head()).toSeq
    assert(files.size === 4, files.toString)
    assert(files.map(_.file).distinct.size === 4, files.toString)
    // the range exchange gives every task a disjoint slice of the keys
    val stats = log.liveStats(log.head())
    val zones = files.map(r => (stats(r).min, stats(r).max)).sortBy(_._1)
    assert(zones.head._1 === 0L && zones.last._2 === 39999L, zones.toString)
    assert(zones.zip(zones.tail).forall { case ((_, hi), (lo, _)) => hi + 1 == lo }, zones.toString)
    assert(files.map(r => stats(r).rows).sum === 40000L)
    val r = spark.sql("SELECT count(*), sum(v) FROM graft_mfst.db.cship2").collect()(0)
    assert(r.getLong(0) === 40000L)
    assert(r.getLong(1) === 3L * (39999L * 40000L / 2) + 40000L)
  }
}
