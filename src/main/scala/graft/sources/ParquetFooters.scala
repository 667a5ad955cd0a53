package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Footer-only statistics for a just-staged parquet file — the
  * manifest catalog's write-side stats collection: ONE footer read
  * (metadata, never data pages) yields the row count and the cluster
  * key's (min, max) zone map that ride the commit record. This is the
  * Iceberg/Delta convention of writer-computed stats realized through
  * the bytes the writer just produced; no second data scan ever
  * happens. Routed through Hadoop input files, so the same code works
  * against HDFS/S3A/GCS (the [[GraftFs]] posture).
  */
object ParquetFooters {

  /** (rows, Some((min, max)) of `clusterKey`) — None when the key is
    * absent, non-INT64, or any block lacks stats (conservative: a
    * file without a zone map is never pruned, only never skipped).
    */
  def stats(path: String, clusterKey: Option[String]): (Long, Option[(Long, Long)]) = {
    val (rows, cols) = statsAllColumns(path)
    (rows, clusterKey.flatMap(cols.get).map { case (mn, mx, _) => (mn, mx) })
  }

  /** Footer stats for EVERY INT64 column of the file, in one footer
    * open: column → (min, max, nullCount). A column is included only
    * if ALL row groups carry stats for it (conservative — a partial
    * zone would mis-prune); nullCount is summed across groups. This is
    * the per-column generalization (Iceberg's lower/upper bounds +
    * null_value_counts) that lets the manifest skip files on
    * predicates over ANY integral column, not just the cluster key.
    */
  def statsAllColumns(path: String): (Long, Map[String, (Long, Long, Long)]) = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(NioLocalFs.defaultHadoopConf())
    // read options from the session's conf: the one-argument open
    // builds them over a fresh Configuration, re-parsing the default
    // XML resources for every staged file
    val rdr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), conf), HadoopReadOptions.builder(conf).build())
    try {
      val blocks = {
        val b = rdr.getFooter.getBlocks
        val out = Vector.newBuilder[org.apache.parquet.hadoop.metadata.BlockMetaData]
        b.forEach(x => out += x)
        out.result()
      }
      val rows = blocks.map(_.getRowCount).sum
      // per block: column -> (min, max, nulls); merged only for
      // columns every block reports
      val perBlock: Vector[Map[String, (Long, Long, Long)]] = blocks.map { blk =>
        val m = Map.newBuilder[String, (Long, Long, Long)]
        blk.getColumns.forEach { c =>
          if (c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64) {
            val st = c.getStatistics
            if (st != null && !st.isEmpty && st.hasNonNullValue)
              m += c.getPath.toDotString -> (
                (
                  st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue(),
                  // -1 = null count not recorded (pruning on nulls
                  // then degrades to keep-the-file)
                  if (st.isNumNullsSet) st.getNumNulls else -1L
                )
              )
          }
        }
        m.result()
      }
      val cols =
        if (perBlock.isEmpty) Map.empty[String, (Long, Long, Long)]
        else
          perBlock.map(_.keySet).reduce(_ intersect _).map { key =>
            val vs = perBlock.map(_(key))
            val nulls = if (vs.exists(_._3 < 0L)) -1L else vs.map(_._3).sum
            key -> ((vs.map(_._1).min, vs.map(_._2).max, nulls))
          }.toMap
      (rows, cols)
    } finally rdr.close()
  }
}
