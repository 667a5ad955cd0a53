package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = EngineSession.configure(
      SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.GraftFs.mkdirs(outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Write oracle_sql.json BEFORE the query sweep: the sweep is the
    // long part (7+ min at 373 queries), and if the harness running us
    // times out mid-sweep a missing oracle_sql.json makes the whole
    // round read as empty instead of "these queries produced no
    // output" — two rounds of correctness artifacts were lost to
    // exactly that ordering.
    // dev-only narrowing (unset in a full correctness run): comma-separated names;
    // a narrowed run dumps only those queries, so its oracle_sql.json
    // names only them and the oracle check reports no undumped query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val sql = only.fold(SparkEntry.oracleSql)(names => SparkEntry.oracleSql.filter { case (k, _) => names(k) })
    val json = sql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // newest-id-first (the Bench rationale): if the harness times out
    // mid-sweep, the outputs that land are this round's additions —
    // the ones with no prior green record — not an arbitrary hash-map
    // prefix of long-stable queries
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (-name.drop(1).takeWhile(_.isDigit).toInt, name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist() intermediates (near-dup, ANN) would
      // otherwise accumulate cached blocks across all queries; same
      // for per-query scratch dirs (pinned shared fixtures survive)
      finally { spark.catalog.clearCache(); graft.operators.Scratch.sweep() }
    }
    spark.stop()
  }
}
