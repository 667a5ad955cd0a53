package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{DurableManifestLog, ManifestLog}
import ManifestLog.{Commit, FileRef}

/** The CHANGE DATA FEED as a real DSv2 streaming source — the r11
  * verdict's Missing #4: q418 replayed the feed by hand-staging
  * per-commit parquet and streaming the files; here the offsets ARE
  * log versions, so `readStream.option("readChangeFeed", true)
  * .table(...)` composes with checkpoint restart for free (the
  * stored offset names the last version served; a restart resumes at
  * version+1, the q310 discipline with the LOG as the offset axis).
  *
  * Batch planning is pure commit-record arithmetic, one partition per
  * changed file — the O(|changed files|) contract q405 established:
  *
  *   - APPEND commits: each added file is an `insert` partition; the
  *     reader streams the file's rows as post-images.
  *   - DV commits: the tombstone files are read ON THE DRIVER at
  *     planning (request-sized by the erasure contract) and grouped
  *     per target file; each target file becomes a `delete` partition
  *     carrying its ordinal set — the reader emits exactly the
  *     tombstoned rows as pre-images, walking the file once with a
  *     row counter (ordinals are `_metadata.row_index` semantics).
  *   - REWRITE commits must carry writer-produced CDC files
  *     (`Commit.cdc`, the Delta `_change_data` convention) whose rows
  *     already state their change_type; a rewrite WITHOUT them
  *     refuses loudly at planning — deriving pre/post images at read
  *     time would need a removed×added key join per batch, the exact
  *     cost the cdc convention exists to avoid at 100 TB.
  *
  * Executor-side reading uses parquet-hadoop's example Group reader —
  * row-group streaming, no Spark session needed on the executor; the
  * output schema is the table's columns plus `_change_type` and
  * `_commit_version` (the Delta CDF shape).
  */
object CdfStream {
  val CHANGE_TYPE = "_change_type"
  val COMMIT_VERSION = "_commit_version"

  /** The session's Hadoop configuration (falling back to defaults off
    * a session) — without it every ParquetReader here would open
    * files against an EMPTY Configuration, which resolves local paths
    * but breaks HDFS/S3A/GCS despite the GraftFs same-code-on-all-
    * stores posture. Driver-side call sites read it directly; the
    * executor-side reader factory carries a broadcast of it, which each
    * executor fetches once per scan instead of every task
    * deserializing its own copy.
    */
  private[streaming] def sessionHadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(graft.sources.NioLocalFs.defaultHadoopConf())

  /** A Group reader over `path` that takes its read options from
    * `conf`. `ParquetReader.builder(readSupport, path)` would first build
    * them over a fresh `Configuration`, re-parsing the default XML
    * resources (~3.5 ms warm) for every file it opens.
    */
  private[streaming] def groupReader(path: String, conf: Configuration): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(path), conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()

  def outputSchema(tableSchema: StructType): StructType =
    StructType(
      tableSchema.fields.toSeq :+
        StructField(CHANGE_TYPE, StringType, nullable = false) :+
        StructField(COMMIT_VERSION, LongType, nullable = false)
    )

  /** The DISTINCT (dir, file) targets named by deletion-vector files —
    * driver-side, request-sized by the erasure contract. Used by the
    * manifest table's scan guard to tell an inert DV (targets all
    * rewritten away) from one that would corrupt a plain scan.
    */
  def dvTargets(paths: Seq[String]): Set[(String, String)] = {
    val out = scala.collection.mutable.Set.empty[(String, String)]
    paths.foreach { p =>
      val rdr = groupReader(p, sessionHadoopConf)
      try {
        var g = rdr.read()
        while (g != null) {
          out += ((g.getString("d", 0), g.getString("f", 0)))
          g = rdr.read()
        }
      } finally rdr.close()
    }
    out.toSet
  }

  /** Tombstoned ordinals per (dir, file) target — the full DV
    * payload, driver-side and request-sized like [[dvTargets]]. The
    * compaction path uses it to ABSORB in-force tombstones: the
    * rewritten output excludes exactly these row indexes, so removing
    * the target files renders the DVs inert without resurrecting the
    * deleted rows.
    */
  def dvOrdinals(paths: Seq[String]): Map[(String, String), Array[Long]] = {
    val out = scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.ArrayBuffer[Long]]
    paths.foreach { p =>
      val rdr = groupReader(p, sessionHadoopConf)
      try {
        var g = rdr.read()
        while (g != null) {
          out.getOrElseUpdate(
            (g.getString("d", 0), g.getString("f", 0)),
            scala.collection.mutable.ArrayBuffer.empty
          ) += g.getLong("ri", 0)
          g = rdr.read()
        }
      } finally rdr.close()
    }
    out.map { case (k, v) => k -> v.toArray.sorted }.toMap
  }
}

final case class CdfOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** One planned read: a data (or cdc) file plus how to interpret it.
  * `tombstones` non-empty ⇒ emit ONLY those ordinals (a delete's
  * pre-images); `changeTypeFromFile` ⇒ the file's own `change_type`
  * column wins (a cdc file).
  */
final case class CdfPartition(
    path: String,
    version: Long,
    changeType: String,
    changeTypeFromFile: Boolean,
    tombstones: Array[Long],
    tableSchema: StructType,
    // a PARTITIONED table's data files do not carry the partition
    // column — its (name, value) rides the plan, decoded from the
    // FileRef's hive-style dir at planning, and the reader serves it
    // as a constant per file
    partitionField: Option[(String, Long)] = None,
    // tombstone interpretation: false (default) = emit ONLY these
    // ordinals (a DV delete's pre-images); true = emit all EXCEPT
    // them (a whole-file remove whose already-tombstoned rows were
    // served as deletes by the DV commit and must not re-serve)
    excludeOrdinals: Boolean = false
) extends InputPartition

/** The `db.t.changes` table (the Iceberg changelog-table convention):
  * a read-only view of the parent table's change feed, batch- and
  * micro-batch-readable. Options: `startingVersion` (exclusive lower
  * bound, default 0 = genesis) and, for batch reads, `endingVersion`
  * (inclusive, default the branch head).
  */
final class CdfTable(
    tableName: String,
    baseDir: String,
    tableSchema: StructType,
    partitionCol: Option[String] = None
) extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def name(): String = tableName
  override def schema(): StructType = CdfStream.outputSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap
  ): ScanBuilder = {
    // `startingTimestamp` (epoch millis or 'yyyy-MM-dd HH:mm:ss' UTC,
    // the Delta CDF option) resolves through the same latest-at-or-
    // before rule as TIMESTAMP AS OF; the feed then starts AFTER that
    // version (its changes are already reflected in a read at it)
    val startingVersion = Option(options.get("startingTimestamp"))
      .map { ts =>
        require(!options.containsKey("startingVersion"), "set startingVersion OR startingTimestamp, not both")
        val ms =
          try ts.toLong
          catch {
            case _: NumberFormatException =>
              java.time.LocalDateTime
                .parse(ts.replace(' ', 'T'))
                .toInstant(java.time.ZoneOffset.UTC)
                .toEpochMilli
          }
        graft.sources.DurableManifestLog.open(baseDir).versionAtTimestamp(ms)
      }
      .getOrElse(options.getLong("startingVersion", 0L))
    new CdfScan(
      baseDir,
      tableSchema,
      startingVersion,
      Option(options.get("endingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      partitionCol
    )
  }
}

/** ScanBuilder + Scan + Batch + MicroBatchStream in one (the source
  * is read-only and column-fixed; there is nothing to push down into
  * a change feed — consumers filter the typed columns downstream).
  */
final class CdfScan(
    baseDir: String,
    tableSchema: StructType,
    startingVersion: Long,
    endingVersion: Option[Long] = None,
    // admission control: at most N log versions per micro-batch (the
    // Delta maxFilesPerTrigger shape on the version axis) — a backfill
    // from version 0 proceeds in bounded, checkpointed steps instead
    // of one giant batch; with Trigger.AvailableNow the engine loops
    // batches until the latched head, so maxVersionsPerTrigger=1
    // gives one-commit-per-micro-batch natively (the q418 replay
    // discipline as a source option)
    maxVersionsPerTrigger: Option[Long] = None,
    // partitioned parent: the column whose value rides FileRef dirs
    partitionCol: Option[String] = None
) extends ScanBuilder
    with Scan
    with org.apache.spark.sql.connector.read.Batch
    with MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  override def build(): Scan = this
  override def readSchema(): StructType = CdfStream.outputSchema(tableSchema)
  override def description(): String = s"graft-cdf($baseDir)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = this

  // batch read: the whole feed in (startingVersion, endingVersion]
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    planRange(startingVersion, endingVersion.getOrElse(log.head("main")))

  // one log per scan: every accessor refreshes it (lists `_log` and
  // applies only the entries it has not seen), so latestOffset() still
  // sees commits other PROCESSES landed without replaying the whole
  // log on each planning call
  private lazy val log: DurableManifestLog = DurableManifestLog.open(baseDir)

  override def initialOffset(): Offset = CdfOffset(startingVersion)
  override def latestOffset(): Offset = CdfOffset(log.head("main"))

  // Trigger.AvailableNow, natively: latch the branch head at prepare
  // time so the run drains exactly the commits that existed when it
  // started — a commit landing mid-run waits for the next run (the
  // guarantee Spark's generic wrapper cannot give a source it does
  // not understand)
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = { availableNowEnd = Some(log.head("main")) }
  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit
  ): Offset = {
    val target = availableNowEnd.getOrElse(log.head("main"))
    val s = start.asInstanceOf[CdfOffset].version
    CdfOffset(maxVersionsPerTrigger.fold(target)(n => math.min(target, s + math.max(1L, n))))
  }
  override def deserializeOffset(json: String): Offset = {
    val m = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
    CdfOffset(m.map(_.group(1).toLong).getOrElse(sys.error(s"bad CDF offset: $json")))
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    planRange(start.asInstanceOf[CdfOffset].version, end.asInstanceOf[CdfOffset].version)

  private def planRange(vFrom: Long, vTo: Long): Array[InputPartition] = {
    if (vTo <= vFrom) return Array.empty
    log.commitsBetween(vFrom, vTo).flatMap(commitPartitions).toArray
  }

  private def commitPartitions(c: Commit): Seq[CdfPartition] = {
    def path(r: FileRef) = s"$baseDir/${r.dir}/${r.file}"
    // a partitioned table's partition (col, value) per file — decoded
    // from the hive-style dir the FileRef carries; refuses loudly if a
    // partitioned table's file doesn't encode it (serving the column
    // as NULL would be a wrong answer, not a degradation)
    def partField(r: FileRef): Option[(String, Long)] = partitionCol.map { pc =>
      graft.sources.ManifestFileTable
        .partitionValue(r.dir, pc)
        .getOrElse(
          sys.error(s"change feed: file ${r.dir}/${r.file} of a partitioned table carries no $pc=<value> dir")
        )
    }
    val isDv = c.dvAdded.nonEmpty
    val isRewrite = c.removed.nonEmpty
    require(
      !(isDv && (c.added.nonEmpty || c.removed.nonEmpty)),
      s"commit ${c.version}: mixed DV + file commit — the feed contract is DV xor file motion per commit"
    )
    // WHOLE-FILE verbs serve from the commit record alone, no cdc
    // needed: a metadata delete / truncate removes COMPLETE files
    // (every removed row is a delete pre-image), an overwrite is
    // delete-the-removed + insert-the-added (both sides complete
    // files — the Delta CDF convention for INSERT OVERWRITE), and a
    // pure compaction is dataChange = FALSE: it rearranges bytes
    // without changing the logical table (rows a DV already deleted
    // were served as deletes by the DV commit; the absorbing rewrite
    // must NOT re-serve them), so it contributes NO feed rows.
    val wholeFileRemove = Set("delete_partitions", "truncate", "overwrite_table", "overwrite_partitions")
    if (c.cdc.nonEmpty) {
      // writer-produced change rows: authoritative for the commit
      c.cdc.map(r => CdfPartition(path(r), c.version, "", changeTypeFromFile = true, Array.empty, tableSchema))
    } else if (c.op == "compact" || c.op == "zorder") {
      Seq.empty // dataChange = false: bytes rearranged, logical table unchanged
    } else if (wholeFileRemove.contains(c.op)) {
      // rows an in-force DV already tombstoned were served as deletes
      // by the DV commit — exclude them from the removed files'
      // pre-images (request-sized driver read, only when DVs exist)
      val inForce = log.dvFiles(c.parent)
      val dvOrds: Map[(String, String), Array[Long]] =
        if (inForce.isEmpty) Map.empty
        else CdfStream.dvOrdinals(inForce.toSeq.sortBy(r => (r.dir, r.file)).map(path))
      c.removed.map { r =>
        val ords = dvOrds.getOrElse((r.dir, r.file), Array.empty[Long])
        CdfPartition(
          path(r), c.version, "delete", changeTypeFromFile = false, ords, tableSchema, partField(r),
          excludeOrdinals = ords.nonEmpty)
      } ++
        c.added.map(r =>
          CdfPartition(path(r), c.version, "insert", changeTypeFromFile = false, Array.empty, tableSchema, partField(r)))
    } else if (isDv) {
      // tombstones are request-sized by the erasure contract: read on
      // the driver at planning, group per target file
      val perTarget = scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.ArrayBuffer[Long]]
      c.dvAdded.foreach { dv =>
        val rdr = CdfStream.groupReader(path(dv), CdfStream.sessionHadoopConf)
        try {
          var g = rdr.read()
          while (g != null) {
            val key = (g.getString("d", 0), g.getString("f", 0))
            perTarget.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += g.getLong("ri", 0)
            g = rdr.read()
          }
        } finally rdr.close()
      }
      perTarget.toSeq.sortBy(_._1).map { case ((d, f), ords) =>
        CdfPartition(
          s"$baseDir/$d/$f",
          c.version,
          "delete",
          changeTypeFromFile = false,
          ords.toArray.sorted,
          tableSchema,
          partField(FileRef(d, f))
        )
      }
    } else if (isRewrite) {
      sys.error(
        s"commit ${c.version} (op=${c.op}) rewrites files but carries no cdc change files: " +
          "streamable rewrites must stage their pre/post images at write time (the _change_data convention) — " +
          "deriving them at read time would re-join the rewrite per consumer"
      )
    } else {
      c.added.map(r =>
        CdfPartition(path(r), c.version, "insert", changeTypeFromFile = false, Array.empty, tableSchema, partField(r)))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(
      org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(new SerializableConfiguration(CdfStream.sessionHadoopConf)))
}

/** Carries the driver session's Hadoop configuration to the executors
  * so the data/cdc file opens resolve the same filesystems the session
  * does. The factory rides every task of the read stage (and, through
  * the plan, of a stateful consumer's state-store stage), so it holds
  * only the broadcast handle: each executor fetches the configuration
  * once, and the readers share it read-only.
  */
private final class CdfReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfPartition]
    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] = CdfStream.groupReader(p.path, conf.value.value)
      private val tombs: java.util.HashSet[java.lang.Long] = {
        val s = new java.util.HashSet[java.lang.Long]()
        p.tombstones.foreach(t => s.add(t))
        s
      }
      private var ordinal: Long = -1L
      private var current: InternalRow = _

      private def convert(g: Group): InternalRow = {
        val n = p.tableSchema.length
        val values = new Array[Any](n + 2)
        var i = 0
        while (i < n) {
          val f = p.tableSchema(i)
          // under column mapping the files carry PHYSICAL names — the
          // schema's field metadata says which (identity otherwise);
          // a file written before the column existed (schema
          // evolution) simply lacks it and null-fills, the Delta CDF
          // convention: the feed serves the HEAD schema
          val lookup = graft.sources.ColumnMapping.physicalName(f)
          val present = g.getType.containsField(lookup) && g.getFieldRepetitionCount(lookup) > 0
          values(i) =
            if (p.partitionField.exists(_._1 == f.name))
              // a partitioned table's data files don't carry the
              // partition column: its value is a plan-time constant
              f.dataType match {
                case LongType    => p.partitionField.get._2
                case IntegerType => p.partitionField.get._2.toInt
                case other       => sys.error(s"CDF reader: unsupported partition column type $other")
              }
            else if (!present) null
            else
              f.dataType match {
                case LongType    => g.getLong(lookup, 0)
                case IntegerType => g.getInteger(lookup, 0)
                case DoubleType  => g.getDouble(lookup, 0)
                case FloatType   => g.getFloat(lookup, 0)
                case BooleanType => g.getBoolean(lookup, 0)
                case StringType  => UTF8String.fromString(g.getString(lookup, 0))
                case other       => sys.error(s"CDF reader: unsupported column type $other for ${f.name}")
              }
          i += 1
        }
        val ct =
          if (p.changeTypeFromFile) g.getString("change_type", 0)
          else p.changeType
        values(n) = UTF8String.fromString(ct)
        values(n + 1) = p.version
        new GenericInternalRow(values)
      }

      // which ordinals this partition serves: a DV delete emits ONLY
      // its tombstoned ordinals; a whole-file remove emits everything
      // EXCEPT rows an in-force DV already deleted (see CdfPartition)
      private def serves(o: Long): Boolean =
        if (tombs.isEmpty) true
        else if (p.excludeOrdinals) !tombs.contains(o)
        else tombs.contains(o)

      override def next(): Boolean = {
        var g = reader.read()
        ordinal += 1
        while (g != null && !serves(ordinal)) {
          g = reader.read()
          ordinal += 1
        }
        if (g == null) false
        else {
          current = convert(g)
          true
        }
      }
      override def get(): InternalRow = current
      override def close(): Unit = reader.close()
    }
  }
}
