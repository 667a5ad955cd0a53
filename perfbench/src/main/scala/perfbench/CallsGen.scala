package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic, seeded calls-for-service table in the 19-column,
  * all-string ingest schema of `CallsPipeline.IngestSchema`.
  *
  * Rows come in cycles of 14 rows / 8 incidents, so every count that the
  * pipeline's dedup depends on is known in closed form from the cycle
  * count. Per cycle, by incident type:
  *
  *   - 0, 1: one row, district set
  *   - 2: one row, district null (dropped by the dedup filter)
  *   - 3: two rows, district null on both (dropped)
  *   - 4: two rows, exactly one district set, and it is the EARLIER row
  *   - 5: three rows, all districts set, distinct create times
  *   - 6: three rows, all districts set, the two latest TIED on create
  *        time; the tied rows differ only in columns the pipeline does
  *        not output (agency, incident_type_desc, priority_color), so the
  *        expected output does not depend on how the tie is broken
  *   - 7: one row, district set, every other nullable column null
  *
  * Null rates run from 0% (event_number, create_time_incident, agency)
  * to 100% (sna_neighborhood). Create times span 2020-01-01 plus 3.5
  * years; closed times trail by up to three days, so many rows cross a
  * month boundary. All four time columns of a row share one millisecond
  * part, so every response-time delta is a whole number of seconds.
  */
object CallsGen {
  val RowsPerCycle = 14
  val IncidentsPerCycle = 8
  val SurvivorsPerCycle = 6
  val RepeatedPerCycle = 4 // incidents with two or more rows (types 3-6)

  final case class Expected(rows: Long, incidents: Long, survivors: Long, repeated: Long)

  def expected(cycles: Long): Expected =
    Expected(RowsPerCycle * cycles, IncidentsPerCycle * cycles, SurvivorsPerCycle * cycles, RepeatedPerCycle * cycles)

  private val Streets = Seq(
    "VINE ST", "MAIN ST", "RACE ST", "ELM ST", "CENTRAL PKWY", "READING RD", "MONTGOMERY RD",
    "HAMILTON AVE", "GLENWAY AVE", "COLERAIN AVE", "MADISON RD", "VICTORY PKWY", "LIBERTY ST",
    "COURT ST", "BROADWAY", "SYCAMORE ST", "WALNUT ST", "LUDLOW AVE", "CLIFTON AVE", "HARRISON AVE"
  )
  private val Dispositions = Seq(
    "ADV: ADVISED", "ARR: ARREST", "CAN: CANCEL", "DUP: DUPLICATE", "GOA: GONE ON ARRIVAL",
    "INV: INVESTIGATED", "NR: NO REPORT", "RPT: REPORT", "SSA: SEE SUPPLEMENTAL", "TOW: TOWED",
    "UNF: UNFOUNDED", "WAR: WARNING"
  )

  private def arr(xs: Seq[Any]): String =
    xs.map {
      case s: String => "'" + s + "'"
      case o         => o.toString
    }.mkString("array(", ",", ")")

  /** The table as a DataFrame over `spark.range` — pure arithmetic in
    * the row index and the seed, so the same seed gives the same rows.
    */
  def frame(spark: SparkSession, cycles: Long, seed: Long, partitions: Int): DataFrame = {
    val types = arr(Seq(0, 1, 2, 3, 3, 4, 4, 5, 5, 5, 6, 6, 6, 7))
    val js = arr(Seq(0, 0, 0, 0, 1, 0, 1, 0, 1, 2, 0, 1, 2, 0))
    def u(k: Int) = s"pmod(xxhash64(hs, $k), 1000)" // per-column draw, shared by tied rows
    def pick(xs: Seq[String], k: Int) = s"element_at(${arr(xs)}, cast(1 + pmod(xxhash64(hs, $k), ${xs.size}) as int))"
    def ts(secs: String) =
      s"concat(date_format(timestamp_seconds($secs), \"yyyy-MM-dd'T'HH:mm:ss\"), '.', lpad(cast(ms as string), 3, '0'))"
    val sparse = "t = 7"
    spark
      .range(0L, RowsPerCycle * cycles, 1L, partitions)
      .selectExpr("id div 14 AS c", "cast(id % 14 AS int) AS p")
      .selectExpr("c", s"element_at($types, p + 1) AS t", s"element_at($js, p + 1) AS j")
      .selectExpr("t", "j", s"c * 8 + t AS e")
      .selectExpr(
        "t", "j", "e",
        s"xxhash64(e, CASE WHEN t = 6 AND j < 2 THEN 0 ELSE j END, ${seed}L) AS hs",
        s"xxhash64(e, j, ${seed}L, 7) AS hr",
        s"xxhash64(e, ${seed}L) AS he"
      )
      .selectExpr(
        "*",
        "pmod(he, 1000) AS ms",
        "1577836800L + pmod(he, 110376000) + CASE " +
          "WHEN t = 4 AND j = 0 THEN 300 WHEN t = 5 THEN -600 * j WHEN t = 6 AND j = 2 THEN -900 ELSE 0 END AS cs"
      )
      .selectExpr(
        "*",
        "cs + 30 + pmod(xxhash64(hs, 11), 1800) AS ds",
        "cs + 90 + pmod(xxhash64(hs, 11), 1800) + pmod(xxhash64(hs, 12), 2400) AS as_",
        "cs + 210 + pmod(xxhash64(hs, 11), 1800) + pmod(xxhash64(hs, 12), 2400) + pmod(xxhash64(hs, 13), 259200) AS cls"
      )
      .selectExpr(
        s"CASE WHEN $sparse OR ${u(1)} < 10 THEN NULL ELSE concat(cast(100 * pmod(xxhash64(hs, 21), 60) AS string), ' BLOCK ', ${pick(Streets, 22)}) END AS address_x",
        "CASE WHEN pmod(hr, 1000) < 900 THEN 'CPD' ELSE 'CFD' END AS agency",
        s"${ts("cs")} AS create_time_incident",
        s"CASE WHEN $sparse OR ${u(2)} < 100 THEN NULL ELSE ${pick(Dispositions, 23)} END AS disposition_text",
        "concat('CPD', lpad(cast(pmod(e * 7919 + " + (seed % 1000003L) + "L, 10000000000L) AS string), 10, '0')) AS event_number",
        s"CASE WHEN ${u(3)} < 5 THEN NULL ELSE concat('T', lpad(cast(pmod(xxhash64(hs, 24), 60) AS string), 3, '0')) END AS incident_type_id",
        s"CASE WHEN ${u(3)} < 5 THEN NULL ELSE concat('TYPE ', cast(pmod(xxhash64(hs, 24), 60) AS string), '-', cast(pmod(hr, 3) AS string)) END AS incident_type_desc",
        s"CASE WHEN ${u(4)} < 20 THEN NULL ELSE cast(1 + pmod(xxhash64(hs, 25), 5) AS string) END AS priority",
        "element_at(array('RED','ORANGE','YELLOW','BLUE','GREEN'), cast(1 + pmod(hr div 7, 5) AS int)) AS priority_color",
        s"CASE WHEN $sparse OR ${u(5)} < 30 THEN NULL ELSE ${ts("cls")} END AS closed_time_incident",
        s"CASE WHEN $sparse OR ${u(6)} < 20 THEN NULL ELSE concat('P', lpad(cast(pmod(xxhash64(hs, 26), 40) AS string), 2, '0')) END AS beat",
        "CASE WHEN t IN (2, 3) OR (t = 4 AND j = 0) THEN NULL " +
          "ELSE concat('DISTRICT ', cast(1 + pmod(xxhash64(hs, 27), 5) AS string)) END AS district",
        "CAST(NULL AS string) AS sna_neighborhood",
        s"CASE WHEN $sparse OR ${u(7)} < 300 THEN NULL ELSE concat('NBHD ', cast(pmod(xxhash64(hs, 28), 50) AS string)) END AS cpd_neighborhood",
        s"CASE WHEN $sparse OR ${u(8)} < 500 THEN NULL ELSE concat('COUNCIL ', cast(pmod(xxhash64(hs, 29), 50) AS string)) END AS community_council_neighborhood",
        s"CASE WHEN $sparse OR ${u(9)} < 50 THEN NULL ELSE concat('39.', lpad(cast(pmod(xxhash64(hs, 30), 1000000) AS string), 6, '0')) END AS latitude_x",
        s"CASE WHEN $sparse OR ${u(9)} < 50 THEN NULL ELSE concat('-84.', lpad(cast(pmod(xxhash64(hs, 31), 1000000) AS string), 6, '0')) END AS longitude_x",
        s"CASE WHEN $sparse OR ${u(10)} < 100 THEN NULL ELSE ${ts("as_")} END AS arrival_time_primary_unit",
        s"CASE WHEN $sparse OR ${u(11)} < 50 THEN NULL ELSE ${ts("ds")} END AS dispatch_time_primary_unit"
      )
  }

  /** Write the table as parquet (overwriting `path`). */
  def write(spark: SparkSession, cycles: Long, seed: Long, path: String, partitions: Int): Unit =
    frame(spark, cycles, seed, partitions).write.mode("overwrite").parquet(path)
}
