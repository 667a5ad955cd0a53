package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, floor, max}

import graft.sources.{GraftFs, ManifestCatalog, ManifestLog, Tables}
import graft.sources.ManifestLog.{Committed, FileRef}

/** The set-up the manifest-lakehouse registry fixtures (q404–q453)
  * share, written once: catalog tables, the orders staging projection,
  * staged batch dirs, commit unpacking and loan-scoped caching.
  *
  * Two invariants hold by construction rather than by each fixture's
  * care:
  *   - Catalog registration: [[mfstTable]] and [[dropMfstTable]]
  *     register the `graft_mfst` catalog before touching a table, so a
  *     fixture cannot address `graft_mfst.db.*` in a session that has
  *     not registered it.
  *   - Cache release on every path: [[withCached]] unpersists in a
  *     `finally`, so a throw between the persist and the end of the
  *     loan cannot leave cached blocks in the session.
  */
private[graft] object ManifestFixture {

  /** Register the `graft_mfst` catalog, then drop `graft_mfst.db.<name>`
    * if it exists.
    */
  def dropMfstTable(s: SparkSession, name: String): Unit = {
    s.conf.set("spark.sql.catalog.graft_mfst", classOf[ManifestCatalog].getName)
    s.sql(s"DROP TABLE IF EXISTS graft_mfst.db.$name")
    ()
  }

  /** A fresh `graft_mfst.db.<name>`: any previous table of that name is
    * dropped, then the table is created with `ddlTail` — the column
    * list plus any `PARTITIONED BY` / `TBLPROPERTIES` clauses. Returns
    * the table's directory, where its durable log and files live.
    */
  def mfstTable(s: SparkSession, name: String, ddlTail: String): String = {
    dropMfstTable(s, name)
    s.sql(s"CREATE TABLE graft_mfst.db.$name $ddlTail")
    s"${ManifestCatalog.defaultWarehouse}/db/$name"
  }

  /** Insert `src` into `graft_mfst.db.<name>` as eight key zones of
    * width `1 + max(k) / 8`, one `COALESCE(1)` INSERT of `cols` per zone;
    * returns the width. `src` is cached for the loan: the max(k)
    * aggregate materializes it and the eight INSERTs re-read it instead
    * of re-scanning the base table.
    */
  def insertKeyZones(s: SparkSession, name: String, src: DataFrame, cols: String): Long =
    withCached(src) { rows =>
      rows.createOrReplaceTempView(s"${name}_src")
      val w = 1L + rows.agg(max(col("k"))).collect()(0).getLong(0) / 8L
      (0 until 8).foreach { i =>
        s.sql(
          s"INSERT INTO graft_mfst.db.$name SELECT /*+ COALESCE(1) */ $cols FROM ${name}_src " +
            s"WHERE k >= ${i * w} AND k < ${(i + 1) * w}"
        )
      }
      w
    }

  /** An order's total price in whole cents, half-up rounded. */
  val cents: Column = floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")

  /** The orders staging projection: (k = o_orderkey, cents). */
  def ordersCents(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, dir, "orders").select(col("o_orderkey").as("k"), cents)

  /** The committed version, or a failure that names the outcome. */
  def committed(outcome: ManifestLog.Outcome): Long = outcome match {
    case Committed(v, _) => v
    case other           => sys.error(s"commit did not land: $other")
  }

  /** Persist `df`, run `body` on it and unpersist in `finally`: the
    * cache lives exactly as long as the loan, whatever `body` does.
    */
  def withCached[A](df: DataFrame)(body: DataFrame => A): A = {
    val cached = df.persist()
    try body(cached)
    finally cached.unpersist()
  }

  /** Batch dirs under `base` (a scratch dir, or a table's own dir): each
    * group is one dir of parquet files that a commit names by [[FileRef]].
    */
  final case class StagedBatches(base: String) {

    /** Write `df` as one file into group `group`, replacing it. */
    def write(df: DataFrame, group: String): Unit =
      df.repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$base/$group")

    /** The data files group `group` holds now. */
    def refs(group: String): Seq[FileRef] = GraftFs.listDataFiles(s"$base/$group").map(FileRef(group, _))

    /** Absolute paths of `refs`, in (dir, file) order. */
    def paths(refs: Iterable[FileRef]): Seq[String] =
      refs.toSeq.sortBy(r => (r.dir, r.file)).map(r => s"$base/${r.dir}/${r.file}")
  }
}
