package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graft.manifestGlue

import graft.SparkSpec

/** Runtime (join-driven) file pruning on the manifest scan — Spark's
  * dynamic partition pruning served through
  * `SupportsRuntimeFiltering`: the scan reports its statted columns
  * as filterable, Catalyst plants a `DynamicPruningExpression`
  * subquery on the join key, and `BatchScanExec` hands the dim
  * side's key set back to the scan at EXECUTION — the same
  * conservative zone satisfiability pass then drops whole files
  * before a byte of the fact side is read. Partition values are
  * exact zones, so the partition case is classic DPP; cluster-key
  * zones make any RANGED column join-prunable for free.
  */
class RuntimeFilteringSpec extends SparkSpec {

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)

  private def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec        => unwrap(q.plan)
    case other                    => other.children.flatMap(unwrap) :+ other
  }

  /** The executed plan's fact-side scans (identified by a schema
    * column the dim does not carry) with their planted runtime
    * filters and post-runtime input files.
    */
  private def factScanFiles(df: DataFrame, factCol: String): (Boolean, Seq[String]) = {
    val scans = unwrap(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.schema.fieldNames.contains(factCol) => b
    }
    val planted = scans.exists(_.runtimeFilters.nonEmpty)
    (planted, scans.flatMap(manifestGlue.scanInputFiles).distinct)
  }

  test("DPP: a join against a filtered dim prunes the fact's partitions at runtime") {
    useCatalog()
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.rfs1f")
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.rfs1d")
    spark.sql("CREATE TABLE graft_mfst.db.rfs1f (k BIGINT, cents BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql("CREATE TABLE graft_mfst.db.rfs1d (p BIGINT, tag BIGINT)")
    (1L to 4000L).map(k => (k, k * 7, k % 8)).toDF("k", "cents", "p").createOrReplaceTempView("rfs1_src")
    spark.sql("INSERT INTO graft_mfst.db.rfs1f SELECT k, cents, p FROM rfs1_src")
    (0L until 8L).map(p => (p, p % 3)).toDF("p", "tag").createOrReplaceTempView("rfs1_dim")
    spark.sql("INSERT INTO graft_mfst.db.rfs1d SELECT p, tag FROM rfs1_dim")

    val full = spark.sql("SELECT count(*) AS n FROM graft_mfst.db.rfs1f")
    full.collect()
    val filesTotal = manifestGlue.scanInputFiles(full.queryExecution.executedPlan).distinct.size

    // the ONLY predicate on p is the join; matching keys {2, 5} exist
    // solely in the dim's filtered rows — planning cannot prune
    val join = spark.sql(
      "SELECT count(*) AS n, sum(f.cents) AS cc FROM graft_mfst.db.rfs1f f " +
        "JOIN graft_mfst.db.rfs1d d ON f.p = d.p WHERE d.tag = 2"
    )
    val r = join.collect()(0)
    val expect = (1L to 4000L).filter(k => k % 8 == 2 || k % 8 == 5)
    assert(r.getLong(0) === expect.size.toLong)
    assert(r.getLong(1) === expect.map(_ * 7).sum)

    val (planted, factFiles) = factScanFiles(join, "cents")
    assert(planted, "no runtime filter planted on the fact scan")
    assert(factFiles.nonEmpty && factFiles.size < filesTotal,
      s"runtime pruning kept ${factFiles.size} of $filesTotal files")
    assert(factFiles.forall(f => f.contains("p=2") || f.contains("p=5")),
      s"unexpected surviving files: ${factFiles.mkString(", ")}")
  }

  test("join-driven ZONE skipping: a non-partition clustered column prunes at runtime too") {
    useCatalog()
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.rfs2f")
    spark.sql("DROP TABLE IF EXISTS graft_mfst.db.rfs2d")
    spark.sql("CREATE TABLE graft_mfst.db.rfs2f (k BIGINT, cents BIGINT) TBLPROPERTIES ('cluster_key'='k')")
    spark.sql("CREATE TABLE graft_mfst.db.rfs2d (k BIGINT, tag BIGINT)")
    // four ranged files: k zones [1..1000], [1001..2000], ...
    (0 until 4).foreach { i =>
      (i * 1000L + 1L to (i + 1) * 1000L)
        .map(k => (k, k * 3))
        .toDF("k", "cents")
        .createOrReplaceTempView("rfs2_src")
      spark.sql("INSERT INTO graft_mfst.db.rfs2f SELECT /*+ COALESCE(1) */ k, cents FROM rfs2_src")
    }
    // dim keys land in file 0 and file 2 only; the tag filter selects them
    Seq((500L, 1L), (2500L, 1L), (999L, 0L)).toDF("k", "tag").createOrReplaceTempView("rfs2_dim")
    spark.sql("INSERT INTO graft_mfst.db.rfs2d SELECT k, tag FROM rfs2_dim")

    val join = spark.sql(
      "SELECT count(*) AS n, sum(f.cents) AS cc FROM graft_mfst.db.rfs2f f " +
        "JOIN graft_mfst.db.rfs2d d ON f.k = d.k WHERE d.tag = 1"
    )
    val r = join.collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === (500L + 2500L) * 3)

    val (planted, factFiles) = factScanFiles(join, "cents")
    assert(planted, "no runtime filter planted on the clustered fact scan")
    assert(factFiles.size === 2, s"zone runtime pruning kept ${factFiles.size} files (want 2)")
  }

  test("a row-level operation's scan reports NO filterable attributes") {
    // the row-level scan's served files are fixed when it is built
    // (they are the commit's remove set) — runtime filtering must not
    // shrink them through the back door
    val files = Seq(
      org.apache.spark.sql.graft.ManifestScanBuilder.FileEntry(
        "/tmp/none.parquet", Map("k" -> ((1L, 10L, 0L))), rows = Some(10L), bytes = Some(100L)))
    val b = new org.apache.spark.sql.graft.ManifestScanBuilder(
      spark, files, Some("k"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
      mode = org.apache.spark.sql.graft.ManifestScanBuilder.RowLevel(_ => ())
    )
    assert(b.runtimeFilterAttributes.isEmpty)
    val readable = new org.apache.spark.sql.graft.ManifestScanBuilder(
      spark, files, Some("k"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap())
    )
    assert(readable.runtimeFilterAttributes.map(_.describe()).toSeq === Seq("k"))
  }
}
