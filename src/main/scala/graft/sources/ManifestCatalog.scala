package graft.sources

import java.util

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.{manifestGlue, ManifestScanBuilder}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import ManifestLog.{Committed, FileRef, FileStats}

/** A DataSource V2 [[TableCatalog]] BACKED BY the durable manifest
  * log — the r11 verdict's #2 ask: one metadata layer, not two. Where
  * [[ScratchCatalog]] proves the connector contract over driver-held
  * rows, this catalog serves REAL FILE TABLES whose truth is a
  * [[DurableManifestLog]] under the table directory:
  *
  *   - SQL reads (`SELECT … FROM graft_mfst.db.t`) resolve the log's
  *     live file set at the branch head and plan a genuine vectorized
  *     parquet `BatchScan` over exactly those files — with the log's
  *     ZONE MAPS applied inside `ScanBuilder` pushdown
  *     ([[ManifestScanBuilder]]), so q413/q417-style file skipping
  *     happens where Catalyst can see it, not beside the plan.
  *   - SQL writes (`INSERT INTO`) stage parquet through Spark's own
  *     DSv2 parquet write into a fresh per-commit directory, then the
  *     driver-side commit reads each staged file's FOOTER
  *     ([[ParquetFooters]] — metadata-only) and publishes an OCC
  *     append carrying the zone maps. Concurrent inserts commute
  *     through the log's storage CAS.
  *   - `VERSION AS OF n` loads a READ-ONLY table pinned to version n
  *     (the full replayed history, cross-process); an expired or
  *     never-published version refuses at resolution, and a write to
  *     the past fails at analysis (no write capability), the q415
  *     discipline.
  *
  * Table metadata (schema + optional `cluster_key` property) lives in
  * `_table.json` next to the log, created exclusively — schema is
  * immutable here (evolution is [[ScratchCatalog.alterTable]]'s
  * story). Deletion vectors are refused at scan planning: the catalog
  * read path serves file-complete versions; DV-subtracted reads go
  * through the snapshot reader that owns that semantics.
  *
  * Scale shape: resolution cost is the log replay (metadata
  * cardinality); scan planning is |live files| driver arithmetic;
  * the data path is Spark's own parquet scan/write, codegen and all.
  */
class ManifestCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = "graft_mfst"
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(ManifestCatalog.defaultWarehouse)
  }

  override def name(): String = catalogName

  // CHECK constraints are first-class (ALTER TABLE ADD/DROP
  // CONSTRAINT, CREATE TABLE ... CONSTRAINT): without this
  // capability Spark refuses the syntax at analysis
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** CREATE TABLE with inline constraints: the default TableInfo
    * overload delegates to the legacy signature and would SILENTLY
    * DROP them — here they publish as the fresh table's first
    * versioned-metadata commit (the same envelope an ALTER writes),
    * so `constraints()` serves them from version 1 on.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val tbl = createTable(ident, info.schema(), info.partitions(), info.properties())
    val declared = info.constraints()
    if (declared.isEmpty) tbl
    else {
      val specs = declared.toSeq.map {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          CheckSpec(
            chk.name(),
            Option(chk.predicateSql()).filter(_.nonEmpty).getOrElse(
              sys.error(s"CHECK constraint '${chk.name()}' carries no predicate SQL")),
            chk.enforced())
        case other =>
          throw new UnsupportedOperationException(
            s"manifest tables support CHECK constraints only (got ${other.getClass.getSimpleName})")
      }
      require(
        specs.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct.length == specs.length,
        "duplicate constraint names")
      val dir = tableDir(ident)
      val log = DurableManifestLog.open(dir)
      log.tryCommit(
        "main", log.head(), "set_schema",
        maxAttempts = 1, strict = true,
        schemaJson = Some(TableMetaJson.encode(
          // the stored schema (partition normalization, column
          // mapping) is what readers resolve — re-read it
          readTableMeta(ident).schema, specs))
      ) match {
        case _: Committed => loadTable(ident)
        case other        => sys.error(s"constraint publication on a FRESH table cannot race: $other")
      }
    }
  }

  private def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def mapper = new ObjectMapper()

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = (warehouse +: namespace.toSeq).mkString("/")
    GraftFs
      .listDirs(nsDir)
      .filter(d => GraftFs.exists(s"$nsDir/$d/_table.json"))
      .map(d => Identifier.of(namespace, d))
      .toArray
  }

  private def readMeta(ident: Identifier): (StructType, Option[String], Option[String]) = {
    val m = readTableMeta(ident)
    (m.schema, m.clusterKey, m.partitionCol)
  }

  private def readTableMeta(ident: Identifier): ManifestTableMeta = {
    val metaPath = s"${tableDir(ident)}/_table.json"
    if (!GraftFs.exists(metaPath)) throw new NoSuchTableException(ident)
    val n = mapper.readTree(GraftFs.readBytes(metaPath))
    ManifestTableMeta(
      DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      if (n.hasNonNull("clusterKey")) Some(n.get("clusterKey").asText()) else None,
      if (n.hasNonNull("partitionCol")) Some(n.get("partitionCol").asText()) else None,
      n.hasNonNull("changeFeed") && n.get("changeFeed").asBoolean(),
      if (n.hasNonNull("bloomCol")) Some(n.get("bloomCol").asText()) else None,
      if (n.hasNonNull("bucketCol")) Some((n.get("bucketCol").asText(), n.get("bucketN").asInt()))
      else None
    )
  }

  override def loadTable(ident: Identifier): Table = {
    // `db.t.changes` / `db.t.history` / `db.t.files` resolve METADATA
    // TABLES of `db.t` (the Iceberg convention): the change data feed
    // (batch- and micro-batch-readable, log versions as offsets), the
    // commit history, and the head version's live files with their
    // zone maps — all driver-computed at metadata cardinality.
    if (ident.namespace().nonEmpty &&
        Set("changes", "history", "files", "detail", "constraints").contains(ident.name())) {
      val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
      val pdir = tableDir(parent)
      if (GraftFs.exists(s"$pdir/_table.json")) {
        val (genesis, _, parentPc) = readMeta(parent)
        val plog = DurableManifestLog.open(pdir)
        val schema = effectiveSchema(plog, plog.head(), genesis)
        val full = s"$catalogName.${parent.name()}.${ident.name()}"
        if (ident.name() == "detail") {
          val pm = readTableMeta(parent)
          return ManifestMetaTables.detail(
            full, pdir, pm, effectiveConstraints(plog, plog.head()).size)
        }
        if (ident.name() == "constraints")
          return ManifestMetaTables.constraints(full, effectiveConstraints(plog, plog.head()))
        ident.name() match {
          case "changes" =>
            // on a partitioned table the data files do NOT carry the
            // partition column — the CdfTable decodes its value from
            // each FileRef's hive-style dir and serves it as a
            // plan-time constant per file
            return new graft.streaming.CdfTable(full, pdir, schema, parentPc)
          case "history" => return ManifestMetaTables.history(full, pdir)
          case "files"   => return ManifestMetaTables.files(full, pdir)
          case _         => ()
        }
      }
    }
    val m = readTableMeta(ident)
    val dir = tableDir(ident)
    val log = DurableManifestLog.open(dir)
    val head = log.head()
    new ManifestFileTable(
      s"$catalogName.${ident.name()}", dir, log, head, effectiveSchema(log, head, m.schema),
      m.clusterKey, m.partitionCol, writable = true, changeFeed = m.changeFeed,
      checks = effectiveConstraints(log, head), bloomCol = m.bloomCol, bucket = m.bucket)
  }

  /** The schema in force at `version`: the log's latest schema action
    * at-or-before it ([[ManifestLog.schemaAt]] — evolution is
    * versioned metadata, the Delta metaData-action convention),
    * falling back to the genesis schema in `_table.json`.
    */
  private def effectiveSchema(log: DurableManifestLog, version: Long, genesis: StructType): StructType =
    log.schemaAt(version).map(TableMetaJson.decodeSchema).getOrElse(genesis)

  /** The CHECK constraints in force at `version` — carried in the
    * same versioned metadata commits as the schema (see
    * [[TableMetaJson]]); a table that never declared one reads Nil
    * at zero cost.
    */
  private def effectiveConstraints(log: DurableManifestLog, version: Long): Seq[CheckSpec] =
    log.schemaAt(version).map(TableMetaJson.decodeConstraints).getOrElse(Nil)

  /** `VERSION AS OF n` — or `VERSION AS OF 'ref'`: a read-only table
    * pinned to a version number or to a NAMED REF (tag or branch, the
    * Iceberg branch/tag-read convention — an audit tag or a staged
    * WAP branch becomes SQL-addressable without knowing its version
    * number). An unknown ref, or an expired / never-published
    * version, refuses at RESOLUTION — never reads as something else.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val m0 = readTableMeta(ident)
    val (schema, ck, pc) = (m0.schema, m0.clusterKey, m0.partitionCol)
    val dir = tableDir(ident)
    val log = DurableManifestLog.open(dir)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          log.refs.getOrElse(
            version,
            throw new IllegalArgumentException(
              s"no ref '$version' on ${ident.name()} (refs: ${log.refs.keys.toSeq.sorted.mkString(", ")})"
            )
          )
      }
    try log.chain(v)
    catch {
      case e: RuntimeException =>
        throw new IllegalArgumentException(
          s"no readable version $v of ${ident.name()} (expired or never published): ${e.getMessage}"
        )
    }
    new ManifestFileTable(
      s"$catalogName.${ident.name()}@v$v", dir, log, v, effectiveSchema(log, v, schema), ck, pc,
      writable = false, checks = effectiveConstraints(log, v), bloomCol = m0.bloomCol,
      bucket = m0.bucket)
  }

  /** `TIMESTAMP AS OF t` — Spark hands the timestamp in MICROseconds
    * since epoch; resolution is the Delta/Iceberg convention
    * ([[ManifestLog.versionAtTimestamp]]): the latest version whose
    * commit wall-clock is at-or-before it, refusing a timestamp
    * before the first commit, serving the head for one after it. The
    * resolved table is the same read-only pinned snapshot `VERSION AS
    * OF` serves.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val m0 = readTableMeta(ident)
    val (schema, ck, pc) = (m0.schema, m0.clusterKey, m0.partitionCol)
    val dir = tableDir(ident)
    val log = DurableManifestLog.open(dir)
    val v =
      try log.versionAtTimestamp(timestamp / 1000L)
      catch {
        case e: RuntimeException =>
          throw new IllegalArgumentException(
            s"cannot resolve TIMESTAMP AS OF on ${ident.name()}: ${e.getMessage}"
          )
      }
    new ManifestFileTable(
      s"$catalogName.${ident.name()}@v$v", dir, log, v, effectiveSchema(log, v, schema), ck, pc,
      writable = false, checks = effectiveConstraints(log, v), bloomCol = m0.bloomCol,
      bucket = m0.bucket)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    // PARTITIONED BY (one identity column, integral type): files land
    // under hive-style `<col>=<value>` directories inside each
    // commit's staging dir, the partition VALUE rides the FileRef's
    // dir name, and the scan prunes partitions as EXACT zones
    // (min = max = value) before any footer-derived zone map applies.
    def integralColumn(t: Transform): String = {
      val name = t.references()(0).fieldNames().mkString(".")
      require(schema.fieldNames.contains(name), s"partition column '$name' is not a column of the table")
      require(
        schema(name).dataType == org.apache.spark.sql.types.LongType ||
          schema(name).dataType == org.apache.spark.sql.types.IntegerType,
        s"manifest tables partition by an integral column (got ${schema(name).dataType.simpleString})"
      )
      name
    }
    val partitionCol: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name() == "identity" && t.references().length == 1 =>
        Some(integralColumn(t))
      case Seq(t) if t.name() == "bucket" && t.references().length == 1 => None
      case other =>
        throw new UnsupportedOperationException(
          s"manifest tables support PARTITIONED BY (one identity column or bucket(n, col)); " +
            s"got ${other.mkString(", ")}"
        )
    }
    // PARTITIONED BY (bucket(n, col)) — Iceberg-style HIDDEN
    // partitioning: files land under `__gbucket=<pmod(hash(col), n)>`
    // dirs, the column itself STAYS in the data files (reads never
    // need partition recovery), and equality/IN/DPP probes on the
    // column prune whole buckets by recomputing the same hash at
    // planning. The transform is the classic answer to partitioning
    // by a high-cardinality key: n stays bounded while point lookups
    // touch 1/n of the files.
    val bucketSpec: Option[(String, Int)] = partitions.toSeq match {
      case Seq(t) if t.name() == "bucket" =>
        val col = integralColumn(t)
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt
        }.getOrElse(sys.error("bucket(n, col) requires a literal bucket count"))
        require(n > 0 && n <= (1 << 20), s"bucket count must be in [1, 2^20] (got $n)")
        // the synthetic staging dir column must never collide with a
        // real column — the write's withColumn would overwrite it
        require(
          !schema.fieldNames.exists(_.equalsIgnoreCase(ManifestFileTable.BucketDirCol)),
          s"'${ManifestFileTable.BucketDirCol}' is reserved on bucketed manifest tables"
        )
        Some((col, n))
      case _ => None
    }
    // 'column_mapping'='name' enables Delta-style logical→physical
    // name indirection ([[ColumnMapping]]): RENAME/DROP COLUMN become
    // metadata-only. Scoped to unpartitioned, non-CDC tables (the
    // partition dir layout and the CDC diff are keyed by name).
    val mapped = "name".equalsIgnoreCase(properties.get("column_mapping"))
    if (mapped) {
      require(partitionCol.isEmpty, "column_mapping is not supported on partitioned manifest tables")
      require(bucketSpec.isEmpty, "column_mapping is not supported on bucketed manifest tables")
      require(
        !"true".equalsIgnoreCase(properties.get("change_feed")),
        "column_mapping is not supported together with change_feed"
      )
    }
    // NORMALIZE the partition column to LAST (the Hive convention —
    // partition columns always trail the data columns, and Spark's
    // file scans serve them in exactly that order; any other position
    // would wrap every scan in a reordering Project, which breaks the
    // metadata-delete strategy under DeleteFromTable). CREATE accepts
    // any declaration order; DESCRIBE and positional INSERT follow
    // the normalized order, as they do on a Hive table.
    val ordered = partitionCol match {
      case Some(pc) if schema.fieldNames.last != pc =>
        StructType(schema.fields.filterNot(_.name == pc) :+ schema(pc))
      case _ => schema
    }
    val storedSchema = if (mapped) ColumnMapping.assignAll(ordered) else ordered
    val dir = tableDir(ident)
    val meta = mapper.createObjectNode()
    meta.put("schema", storedSchema.json)
    Option(properties.get("cluster_key")).foreach { ck =>
      require(schema.fieldNames.contains(ck), s"cluster_key '$ck' is not a column of the table")
      require(!partitionCol.contains(ck), "cluster_key must be a data column, not the partition column")
      meta.put("clusterKey", ck)
      ()
    }
    partitionCol.foreach { pc => meta.put("partitionCol", pc); () }
    bucketSpec.foreach { case (bc, n) => meta.put("bucketCol", bc); meta.put("bucketN", n); () }
    // 'bloom_col'='<col>' enables PER-FILE BLOOM SIDECARS (the Delta
    // bloom-filter-index analogue): each INSERT's commit builds a
    // compact bloom over the column per staged file, and equality /
    // IN / DPP probes on it skip whole files that zone maps cannot
    // (high-cardinality keys scattered across the full range). Scoped
    // to unpartitioned, unmapped tables.
    Option(properties.get("bloom_col")).foreach { bc =>
      require(schema.fieldNames.contains(bc), s"bloom_col '$bc' is not a column of the table")
      require(
        Set[DataType](
          org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType
        ).contains(schema(bc).dataType),
        s"bloom_col '$bc' must be integral (got ${schema(bc).dataType.simpleString})"
      )
      require(partitionCol.isEmpty, "bloom_col is not supported on partitioned manifest tables")
      require(!mapped, "bloom_col is not supported together with column_mapping")
      meta.put("bloomCol", bc)
      ()
    }
    // 'change_feed'='true' enables CDC-ON-WRITE for row-level
    // rewrites (the Delta enableChangeDataFeed convention): UPDATE /
    // DELETE / MERGE stage explicit pre/post-image files alongside
    // the rewrite, making it streamable through db.t.changes
    if ("true".equalsIgnoreCase(properties.get("change_feed"))) { meta.put("changeFeed", true); () }
    GraftFs.mkdirs(dir)
    if (!GraftFs.createExclusive(s"$dir/_table.json", mapper.writeValueAsBytes(meta)))
      throw new TableAlreadyExistsException(Seq(catalogName) ++ ident.namespace() :+ ident.name())
    val log = DurableManifestLog.open(dir)
    new ManifestFileTable(s"$catalogName.${ident.name()}", dir, log, log.head(), storedSchema,
      Option(properties.get("cluster_key")), partitionCol, writable = true)
  }

  /** SCHEMA EVOLUTION — ADD COLUMN only (the additive evolution every
    * real table format supports first; renames/drops need column-id
    * mapping this catalog does not carry). The new schema is published
    * as a STRICT OCC metadata commit: the ALTER validates against the
    * exact head it computed the schema from, so two racing ALTERs (or
    * an ALTER racing anything) serialize through the log's storage CAS
    * — a loser recomputes against the refreshed schema and retries,
    * and a duplicate column refuses loudly pre-persist. Old files are
    * read null-filled for the new columns (the parquet
    * missing-column contract q143 proved through mergeSchema, now
    * through the catalog). Concurrent INSERTs commute: an insert that
    * loses the CAS to an ALTER rebases (disjoint removed sets) and
    * its files simply lack the new column.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (genesis, ck, pc) = readMeta(ident)
    ManifestCatalog.requireNoWap("ALTER TABLE")
    // the bucketed write's synthetic staging column stays reserved
    // across evolution, not just at CREATE
    if (readTableMeta(ident).bucket.isDefined)
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(
            !add.fieldNames().exists(_.equalsIgnoreCase(ManifestFileTable.BucketDirCol)),
            s"'${ManifestFileTable.BucketDirCol}' is reserved on bucketed manifest tables"
          )
        case _ => ()
      }
    val dir = tableDir(ident)
    val log = DurableManifestLog.open(dir)
    var attempts = 0
    while (attempts < 10) {
      attempts += 1
      val head = log.head()
      val current = effectiveSchema(log, head, genesis)
      val mapped = ColumnMapping.enabled(current)
      // every schema version ever published (genesis + each schema
      // commit) — the id pool freshField must never reissue from
      lazy val historySchemas: Seq[StructType] =
        genesis +: log
          .chain(head)
          .flatMap(_.schemaJson)
          .map(DataType.fromJson(_).asInstanceOf[StructType])
      val consCurrent = effectiveConstraints(log, head)
      val (evolved, evolvedCons) = changes.foldLeft((current, consCurrent)) { case ((sch, cons), ch) =>
        ch match {
          case addc: TableChange.AddConstraint =>
            addc.constraint() match {
              case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
                require(
                  !cons.exists(_.name.equalsIgnoreCase(chk.name())),
                  s"constraint '${chk.name()}' already exists on ${ident.name()}"
                )
                val sql = Option(chk.predicateSql()).filter(_.nonEmpty).getOrElse(
                  sys.error(s"CHECK constraint '${chk.name()}' carries no predicate SQL"))
                // existing data was validated by Spark's own
                // AddCheckConstraintExec child scan before this call
                (sch, cons :+ CheckSpec(chk.name(), sql, chk.enforced()))
              case other =>
                throw new UnsupportedOperationException(
                  s"manifest tables support CHECK constraints only (got ${other.getClass.getSimpleName}: " +
                    "PRIMARY KEY / FOREIGN KEY / UNIQUE are informational elsewhere and unenforceable here)"
                )
            }
          case dropc: TableChange.DropConstraint =>
            val exists = cons.exists(_.name.equalsIgnoreCase(dropc.name()))
            require(
              exists || dropc.ifExists(),
              s"no constraint '${dropc.name()}' on ${ident.name()}"
            )
            (sch, cons.filterNot(_.name.equalsIgnoreCase(dropc.name())))
          case add: TableChange.AddColumn =>
            require(add.fieldNames().length == 1, "ADD COLUMN supports top-level columns only")
            val name = add.fieldNames()(0)
            require(
              !sch.fieldNames.exists(_.equalsIgnoreCase(name)),
              s"column '$name' already exists on ${ident.name()}"
            )
            val bare = org.apache.spark.sql.types.StructField(name, add.dataType(), add.isNullable)
            // under column mapping the new column gets a FRESH physical
            // name, so re-adding a dropped logical name can never
            // resurrect the dropped bytes (old files null-fill it)
            val field = if (mapped) ColumnMapping.freshField(bare, historySchemas) else bare
            // the partition column must STAY LAST (createTable's
            // scan-order invariant — a non-last partition column wraps
            // every scan in a reordering Project that breaks the
            // metadata-delete strategy): new columns slot in BEFORE it
            val widened = pc match {
              case Some(p) if sch.fieldNames.nonEmpty && sch.fieldNames.last == p =>
                StructType((sch.fields.init :+ field) :+ sch.fields.last)
              case _ => sch.add(field)
            }
            (widened, cons)
          case ren: TableChange.RenameColumn =>
            require(
              mapped,
              s"RENAME COLUMN on ${ident.name()} requires 'column_mapping'='name' " +
                "(set at CREATE TABLE) — without the indirection a rename would orphan every existing file"
            )
            require(ren.fieldNames().length == 1, "RENAME COLUMN supports top-level columns only")
            val from = ren.fieldNames()(0)
            require(sch.fieldNames.contains(from), s"no column '$from' on ${ident.name()}")
            require(
              !sch.fieldNames.exists(_.equalsIgnoreCase(ren.newName())),
              s"column '${ren.newName()}' already exists on ${ident.name()}"
            )
            require(
              !ck.contains(from),
              s"'$from' is the cluster key — its name anchors the zone-map contract; rename is refused"
            )
            require(
              !cons.exists(c => ManifestCatalog.constraintReferences(c.sql, from)),
              s"'$from' is referenced by a CHECK constraint — drop the constraint first"
            )
            // metadata-only: the field keeps its physical name, every
            // existing file keeps serving it
            (StructType(sch.fields.map(f => if (f.name == from) f.copy(name = ren.newName()) else f)), cons)
          case del: TableChange.DeleteColumn =>
            require(
              mapped,
              s"DROP COLUMN on ${ident.name()} requires 'column_mapping'='name' " +
                "(set at CREATE TABLE) — without the indirection a drop would need a full rewrite"
            )
            require(del.fieldNames().length == 1, "DROP COLUMN supports top-level columns only")
            val name = del.fieldNames()(0)
            require(sch.fieldNames.contains(name), s"no column '$name' on ${ident.name()}")
            require(
              !ck.contains(name),
              s"'$name' is the cluster key — dropping it would orphan the zone-map contract"
            )
            require(sch.length > 1, "cannot drop the last column")
            require(
              !cons.exists(c => ManifestCatalog.constraintReferences(c.sql, name)),
              s"'$name' is referenced by a CHECK constraint — drop the constraint first"
            )
            // metadata-only: the bytes stay in the files, no scan ever
            // requests this physical column again
            (StructType(sch.fields.filterNot(_.name == name)), cons)
          case other =>
            throw new UnsupportedOperationException(
              s"manifest tables evolve by ADD / RENAME / DROP COLUMN or ADD / DROP CONSTRAINT only " +
                s"(got ${other.getClass.getSimpleName})"
            )
        }
      }
      log.tryCommit(
        "main", head, "set_schema",
        maxAttempts = 1, strict = true,
        schemaJson = Some(TableMetaJson.encode(evolved, evolvedCons))
      ) match {
        case ManifestLog.Committed(v, _) =>
          return new ManifestFileTable(
            s"$catalogName.${ident.name()}", dir, log, v, evolved, ck, pc, writable = true,
            checks = evolvedCons)
        case _ => () // head moved: recompute against the refreshed schema
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"ALTER TABLE on ${ident.name()} lost the commit race 10 times — retry"
    )
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!GraftFs.exists(s"$dir/_table.json")) false
    else GraftFs.deleteRecursive(dir)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME on a manifest table")

  override def listNamespaces(): Array[Array[String]] = Array(Array("db"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = Array.empty
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    new util.HashMap[String, String]()
  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE on the manifest catalog")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = false
}

object ManifestCatalog {
  /** JVM-stable default warehouse (sessions that set no `warehouse`
    * option share it, mirroring how a real deployment points every
    * session at one storage root).
    */
  lazy val defaultWarehouse: String = graft.operators.Scratch.pinned("graft-mfst-wh")

  /** WRITE-AUDIT-PUBLISH from SQL (the Iceberg `spark.wap.branch`
    * convention): while `spark.graft.wap.branch` names a branch,
    * every INSERT commits onto IT — plain reads keep serving `main`
    * (the staged work is invisible), the audit reads it as
    * `VERSION AS OF '<branch>'`, and publication is the log's
    * fast-forward. The branch must already exist (createBranch): a
    * typo'd name refuses loudly at commit, never lands on main.
    */
  def wapBranch: String =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.conf.get("spark.graft.wap.branch", "main"))
      .filter(_.nonEmpty)
      .getOrElse("main")

  /** Does the CHECK constraint's SQL reference column `col`? Parsed,
    * not substring-matched — an ALTER must not be refused because a
    * string literal happens to contain the column's name.
    */
  private[sources] def constraintReferences(sql: String, col: String): Boolean =
    manifestGlue.activeSession.sessionState.sqlParser
      .parseExpression(sql)
      .collect { case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name }
      .exists(_.equalsIgnoreCase(col))

  /** The enforced CHECK constraints of `checks`, compiled to one
    * row-level [[org.apache.spark.sql.catalyst.expressions.CheckInvariant]]
    * filter over `data` — evaluates to true on conforming rows and
    * RAISES (with the constraint's name, SQL, and the offending
    * row's referenced values) on a violation; the same expression
    * Spark itself plants on DSv2 writes, reused here for the V1
    * partitioned write path that bypasses `ResolveTableConstraints`.
    */
  private[sources] def enforceChecks(
      data: org.apache.spark.sql.DataFrame,
      checks: Seq[CheckSpec]
  ): org.apache.spark.sql.DataFrame =
    checks.filter(_.enforced).foldLeft(data) { (df, c) =>
      val parser = df.sparkSession.sessionState.sqlParser
      val cond = parser.parseExpression(c.sql)
      val extractors = cond
        .collect { case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name -> u }
        .distinctBy(_._1)
      df.filter(
        org.apache.spark.sql.graft.bridge.column(
          org.apache.spark.sql.catalyst.expressions.CheckInvariant(cond, extractors, c.name, c.sql)))
    }

  /** WAP scopes INSERTs only. Every OTHER mutation (row-level rewrite,
    * metadata delete, truncate, ALTER) hardwires `main` — running one
    * while a staging branch is active would mutate PRODUCTION mid-
    * audit, the exact surprise WAP exists to prevent (Iceberg's
    * `spark.wap.branch` scopes all writes; until this catalog routes
    * them too, the safe posture is a loud refusal).
    */
  private[sources] def requireNoWap(opName: String): Unit = {
    val b = wapBranch
    if (b != "main")
      throw new UnsupportedOperationException(
        s"$opName while spark.graft.wap.branch='$b' is set would mutate 'main' mid-audit — " +
          "publish (fast-forward) or clear the WAP branch first; WAP stages INSERTs only"
      )
  }

  /** Retry loop for commits whose REMOVE SET is derived from the head
    * they replace (overwrite / metadata delete / truncate): the body
    * re-reads the head, recomputes its removes, and publishes STRICT
    * with maxAttempts = 1 — so the commit lands only on exactly the
    * state it was computed against, and a lost CAS recomputes instead
    * of rebasing past (and silently un-deleting) concurrent traffic.
    */
  private[sources] def retryingStrictCommit(what: String, maxAttempts: Int = 32)(
      attempt: () => ManifestLog.Outcome
  ): Unit = {
    var tries = 0
    while (tries < maxAttempts) {
      tries += 1
      attempt() match {
        case ManifestLog.Committed(_, _) => return
        case _                           => () // head moved: recompute against the refreshed state
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$what failed to publish after $maxAttempts recompute-and-retry attempts"
    )
  }
}

/** One manifest-backed table at a pinned version. The head-resolved
  * instance is writable (appends publish through the log's OCC); an
  * AS-OF instance exposes no write capability, so a write to the past
  * fails at analysis.
  */
private[sources] class ManifestFileTable(
    tableName: String,
    dir: String,
    log: DurableManifestLog,
    version: Long,
    tableSchema: StructType,
    clusterKey: Option[String],
    partitionCol: Option[String],
    writable: Boolean,
    changeFeed: Boolean = false,
    checks: Seq[CheckSpec] = Nil,
    bloomCol: Option[String] = None,
    // PARTITIONED BY (bucket(n, col)) — hidden partitioning: (col, n)
    bucket: Option[(String, Int)] = None
) extends Table
    with SupportsRead
    with SupportsWrite
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The version's CHECK constraints, served back to Spark: the
    * analyzer's own `ResolveTableConstraints` compiles the ENFORCED
    * ones into `CheckInvariant` row checks on every DSv2 write
    * against this table — INSERT enforcement costs nothing here. The
    * V1 partitioned write path bypasses that rule, so
    * [[PartitionedManifestWriteBuilder]] plants the same expression
    * itself ([[ManifestCatalog.enforceChecks]]).
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.map { c =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(c.name)
        .predicateSql(c.sql)
        .enforced(c.enforced)
        // existing rows were validated by Spark's AddCheckConstraintExec
        // scan before the ALTER committed (or the table was empty at
        // CREATE) — VALID is earned, not asserted
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .build()
    }.toArray

  /** METADATA-ONLY DELETE (the Delta partition-delete): a DELETE whose
    * condition references ONLY the partition column is file-aligned by
    * the hive layout (every file of partition v holds exactly the
    * p = v rows), so it commits as a pure REMOVE of those partitions'
    * live files — zero rows scanned, zero files written, one OCC
    * commit; prior versions still time-travel. Catalyst's
    * OptimizeMetadataOnlyDeleteFromTable flips the row-level plan to
    * this path when [[canDeleteWhere]] accepts; everything else
    * stays a group-based rewrite (unpartitioned tables) or refuses
    * (partitioned, non-aligned). DELETE with no WHERE arrives as
    * truncateTable() → deleteWhere(always-true) → remove-all.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // remove-all is metadata-only on ANY table; conditional deletes
    // only when aligned to the partition column
    filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) ||
      partitionCol.exists(pc => filters.forall(f => f.references.forall(_ == pc)))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) {
      truncateTable()
      return
    }
    val pc = partitionCol.getOrElse(sys.error("metadata delete on an unpartitioned table"))
    require(canDeleteWhere(filters), s"DELETE condition is not aligned to partition column '$pc'")
    def matches(v: Long, f: org.apache.spark.sql.sources.Filter): Boolean = f match {
      case org.apache.spark.sql.sources.EqualTo(_, x)            => longOf(x).forall(_ == v)
      case org.apache.spark.sql.sources.EqualNullSafe(_, x)      => longOf(x).forall(_ == v)
      case org.apache.spark.sql.sources.In(_, xs)                => xs.flatMap(longOf).contains(v)
      case org.apache.spark.sql.sources.GreaterThan(_, x)        => longOf(x).forall(v > _)
      case org.apache.spark.sql.sources.GreaterThanOrEqual(_, x) => longOf(x).forall(v >= _)
      case org.apache.spark.sql.sources.LessThan(_, x)           => longOf(x).forall(v < _)
      case org.apache.spark.sql.sources.LessThanOrEqual(_, x)    => longOf(x).forall(v <= _)
      case org.apache.spark.sql.sources.And(a, b)                => matches(v, a) && matches(v, b)
      case org.apache.spark.sql.sources.Or(a, b)                 => matches(v, a) || matches(v, b)
      case org.apache.spark.sql.sources.Not(a)                   => !matches(v, a)
      case org.apache.spark.sql.sources.AlwaysTrue()             => true
      case org.apache.spark.sql.sources.AlwaysFalse()            => false
      case org.apache.spark.sql.sources.IsNull(_)                => false // hive layout: no null partitions
      case org.apache.spark.sql.sources.IsNotNull(_)             => true
      case other => sys.error(s"metadata delete: untranslatable partition filter $other")
    }
    ManifestCatalog.requireNoWap("DELETE")
    // strict + recompute-per-attempt: a non-strict commit with a
    // remove set from a STALE head would rebase past a concurrent
    // append into the deleted partitions — those rows would survive a
    // DELETE that reported success (the Delta ConcurrentAppend class)
    ManifestCatalog.retryingStrictCommit("metadata delete") { () =>
      val head = log.head()
      val removed = log
        .liveFiles(head)
        .toSeq
        .filter { r =>
          ManifestFileTable.partitionValue(r.dir, pc) match {
            case Some((_, v)) => filters.forall(matches(v, _))
            case None         => false // pre-partitioning file: not aligned, keep
          }
        }
        .sortBy(r => (r.dir, r.file))
      if (removed.isEmpty) ManifestLog.Committed(head, 1) // nothing to delete at this head
      else log.tryCommit("main", head, "delete_partitions", remove = removed, maxAttempts = 1, strict = true)
    }
  }

  private def longOf(x: Any): Option[Long] = x match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _        => None
  }

  /** Unconditional DELETE (no WHERE) — metadata-only for ANY manifest
    * table, partitioned or not: one remove-all commit, no scan, no
    * write; history still time-travels.
    */
  override def truncateTable(): Boolean = {
    ManifestCatalog.requireNoWap("TRUNCATE / DELETE")
    // same strict recompute discipline as deleteWhere: remove-all must
    // name the files of the head it actually lands on
    ManifestCatalog.retryingStrictCommit("truncate") { () =>
      val head = log.head()
      val removed = log.liveFiles(head).toSeq.sortBy(r => (r.dir, r.file))
      if (removed.isEmpty) ManifestLog.Committed(head, 1)
      else log.tryCommit("main", head, "truncate", remove = removed, maxAttempts = 1, strict = true)
    }
    true
  }

  /** SQL `UPDATE` / `DELETE` / `MERGE INTO` over the file table — the
    * group-based rewrite (q380's connector contract, now against
    * files), one replacement group per FILE: the operation's scan
    * PINS the version it read and serves only the live files whose
    * zones (bloom, bucket) can satisfy the statement's pushed
    * condition; the ReplaceData write receives those files'
    * post-operation rows, stages them as parquet, and publishes ONE
    * strict OCC commit (remove = exactly the files the scan served,
    * add = the staged files). A file the condition cannot touch is
    * neither read nor rewritten. Strict means ANY intervening commit
    * aborts the rewrite, even one that touched no served file: the
    * statement serializes at exactly the version it read (the
    * conservative posture — a concurrent rewrite of a served file
    * would otherwise be silently undone, the lost-update anomaly),
    * and the outcome of a conflict is a loud retry-me.
    */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    // NOTE: no partitioned-table refusal HERE — the analyzer builds
    // the row-level plan for every DELETE before the optimizer can
    // flip an aligned one to the metadata-only path (SupportsDelete);
    // the refusal lives in the operation's scan build, which only
    // runs if the rewrite actually survives to pushdown.
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        ManifestCatalog.requireNoWap(s"${info.command()} (row-level rewrite)")
        new ManifestRowLevelOperation(
          dir, log, tableSchema, clusterKey, partitionCol, changeFeed, bloomCol, bucket, info.command())
      }
    }
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionCol
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  override def capabilities(): util.Set[TableCapability] =
    if (!writable) util.EnumSet.of(TableCapability.BATCH_READ)
    else if (partitionCol.isDefined)
      // the partitioned INSERT rides Spark's V1 write path (what Delta
      // itself does): the full partitioned parquet writer — dynamic
      // partition dirs, codegen, committer — with the commit publish
      // wrapped around it. TRUNCATE admits INSERT OVERWRITE; the V1
      // relation interprets the session's partitionOverwriteMode
      // (static = whole table, dynamic = written partitions only)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else if (bucket.isDefined)
      // bucketed (hidden partitioning): V1 staged write, INSERT only
      // — "overwrite these buckets" has no user-facing meaning, so
      // INSERT OVERWRITE refuses at analysis (no TRUNCATE capability)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // DV guard: this read path serves FILE-COMPLETE versions. A DV
    // whose targets were all rewritten away (a compaction absorbed
    // the tombstones) is inert and fine; a DV with a LIVE target
    // would make the plain scan overcount, so it refuses loudly —
    // the DV-subtracting snapshot reader owns that semantics. The
    // check reads the in-force DV files' (dir, file) targets at
    // planning: request-sized by the erasure contract, driver-side.
    val dvs = log.dvFiles(version)
    if (dvs.nonEmpty) {
      val liveNames = log.liveFiles(version).map(r => (r.dir, r.file))
      val targets = graft.streaming.CdfStream.dvTargets(dvs.toSeq.map(r => s"$dir/${r.dir}/${r.file}"))
      val liveTargets = targets.intersect(liveNames)
      require(
        liveTargets.isEmpty,
        s"manifest catalog reads serve file-complete versions; deletion vector(s) in force target live " +
          s"file(s) ${liveTargets.mkString(", ")} — use the DV-subtracting snapshot reader"
      )
    }
    val files = ManifestFileTable
      .fileEntries(dir, log, version, tableSchema, clusterKey, partitionCol, bloomCol, bucket)
      .map(_._2)
    // hive-layout recovery: with basePath = the table root, Spark's
    // file index parses `<col>=<value>` segments from the leaf paths
    // and serves the partition column the data files do not carry
    val scanOptions =
      if (partitionCol.isEmpty) options
      else {
        val m = new java.util.HashMap[String, String](options)
        m.put("basePath", dir)
        new CaseInsensitiveStringMap(m)
      }
    new ManifestScanBuilder(
      manifestGlue.activeSession, files, clusterKey, tableSchema, scanOptions,
      physicalOf = ColumnMapping.logicalToPhysical(tableSchema), bloomCol = bloomCol,
      bucketSpec = bucket)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable, s"$tableName is a pinned historical version — writes must target the head")
    partitionCol match {
      case Some(pc) => new PartitionedManifestWriteBuilder(dir, log, clusterKey, pc, checks)
      case None if bucket.isDefined =>
        val (bc, n) = bucket.get
        new BucketedManifestWriteBuilder(dir, log, clusterKey, bc, n, checks)
      case None =>
        // under column mapping the staged files carry PHYSICAL names
        // (the log owns the logical namespace); the footer stats key
        // off the physical cluster key accordingly
        val l2p = ColumnMapping.logicalToPhysical(tableSchema)
        new ManifestWriteBuilder(
          dir, log, clusterKey.map(k => l2p.getOrElse(k, k)), info,
          writeSchema = ColumnMapping.physicalSchema(tableSchema), bloomCol = bloomCol)
    }
  }
}

private[graft] object ManifestFileTable {
  /** The synthetic staging/dir column of `bucket(n, col)` tables —
    * never a table column, never in a data file.
    */
  val BucketDirCol = "__gbucket"

  /** `version`'s live files as scan planning consumes them, each with
    * its ref, in (dir, file) order — what both the table's read scan
    * and a row-level operation's scan prune.
    */
  def fileEntries(
      dir: String,
      log: DurableManifestLog,
      version: Long,
      tableSchema: StructType,
      clusterKey: Option[String],
      partitionCol: Option[String],
      bloomCol: Option[String],
      bucket: Option[(String, Int)]
  ): Seq[(FileRef, ManifestScanBuilder.FileEntry)] = {
    val stats = log.liveStats(version)
    // under column mapping, footer-derived zones are keyed by the
    // files' PHYSICAL column names — remap them into this version's
    // logical namespace so the query's predicates can prune them
    val p2l = ColumnMapping.physicalToLogical(tableSchema)
    log
      .liveFiles(version)
      .toSeq
      .sortBy(r => (r.dir, r.file))
      .map { r =>
        // per-column zones, with the legacy top-level cluster-key
        // (min, max) merged in for pre-cols commit records — but only
        // a REAL zone (min ≤ max): the empty-zone sentinel means "key
        // zone unrecorded", and merging it would prune every file
        val statZones: Map[String, (Long, Long, Long)] = stats
          .get(r)
          .map { st =>
            val cols = st.cols.map { case (c, cs) => p2l.getOrElse(c, c) -> ((cs.min, cs.max, cs.nulls)) }
            clusterKey
              .filterNot(cols.contains)
              .filter(_ => st.min <= st.max)
              .fold(cols)(k => cols + (k -> ((st.min, st.max, -1L))))
          }
          .getOrElse(Map.empty)
        // the partition VALUE enters as an EXACT zone (min = max =
        // value, zero nulls): partition pruning and zone pruning are
        // one satisfiability pass, with the partition conjunct the
        // tightest — pruned before any footer-derived zone can apply
        val zones = partitionCol
          .flatMap(pc => partitionValue(r.dir, pc))
          .fold(statZones) { case (pc, v) => statZones + (pc -> ((v, v, 0L))) }
        r -> ManifestScanBuilder.FileEntry(
          s"$dir/${r.dir}/${r.file}",
          zones,
          rows = stats.get(r).map(_.rows),
          bytes = stats.get(r).map(_.bytes).filter(_ > 0L),
          // the sidecar path is derived, not verified: a file without
          // one (pre-bloom history, a compaction's output) loads as
          // absent and is simply never bloom-pruned
          bloom = bloomCol.map(_ => s"$dir/${r.dir}/${r.file}.bloom"),
          // the file's bucket ordinal, from its `__gbucket=<v>` dir —
          // None (a rewrite's output, pre-bucket history) is never
          // bucket-pruned
          bucketVal = bucket.flatMap(_ => partitionValue(r.dir, BucketDirCol).map(_._2))
        )
      }
  }

  /** The partition (column, value) a FileRef's dir encodes — the last
    * path segment's hive-style `<col>=<value>`, integral values only.
    * None for unpartitioned refs (a pre-partitioning commit or a
    * malformed segment): the file is then never partition-pruned.
    */
  def partitionValue(refDir: String, partitionCol: String): Option[(String, Long)] = {
    val seg = refDir.substring(refDir.lastIndexOf('/') + 1)
    val eq = seg.indexOf('=')
    if (eq <= 0) None
    else {
      val (c, v) = (seg.substring(0, eq), seg.substring(eq + 1))
      if (!c.equalsIgnoreCase(partitionCol)) None
      else
        try Some((partitionCol, v.toLong))
        catch { case _: NumberFormatException => None }
    }
  }
}

/** INSERT INTO a PARTITIONED manifest table: the staging write is
  * Spark's V1 insert — `df.write.partitionBy(col).parquet(staging)`,
  * the exact dynamic-partition parquet writer the built-in path uses
  * (Delta serves INSERT the same way) — then the driver-side publish
  * MOVES each staged part file under the table root's own
  * `<col>=<value>` directory (the Delta physical layout; one rename
  * per file, collision-free by Spark's per-job UUID part names, so
  * every commit's files share ONE partition root and Spark's
  * partition discovery stays trivially consistent), reads each
  * file's footer for zone maps, and lands ONE OCC append whose
  * FileRefs carry the partition dir — the scan prunes partitions
  * from the commit record alone, before any footer stats. A crash
  * mid-move leaves only unreferenced files (never visible; vacuum
  * reclaims them after the grace window).
  */
private[sources] class PartitionedManifestWriteBuilder(
    dir: String,
    log: DurableManifestLog,
    clusterKey: Option[String],
    partitionCol: String,
    checks: Seq[CheckSpec] = Nil
) extends WriteBuilder
    with SupportsTruncate {
  // INSERT OVERWRITE arrives as overwrite-by-truncate ON THE BUILDER
  // (the V1 fallback exec passes insert()'s own overwrite flag as
  // false — truncate() here is the real signal); recorded and OR'd
  // with the insert param below
  private var truncateRequested = false
  override def truncate(): WriteBuilder = { truncateRequested = true; this }
  override def build(): Write = new V1Write {
    private val overwriteRequested = truncateRequested
    override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
      new org.apache.spark.sql.sources.InsertableRelation {
        override def insert(rawData: org.apache.spark.sql.DataFrame, insertOverwrite: Boolean): Unit = {
          // the V1 path bypasses ResolveTableConstraints — plant the
          // same CheckInvariant rows Spark plants on DSv2 writes
          val data = ManifestCatalog.enforceChecks(rawData, checks)
          val overwrite = insertOverwrite || overwriteRequested
          val staging = s".stage-${java.util.UUID.randomUUID().toString.take(12)}"
          data.write
            .partitionBy(partitionCol)
            .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
            .parquet(s"$dir/$staging")
          // NULL (or otherwise unparseable) partition values refuse
          // BEFORE any file is published: Spark stages a null under
          // `<col>=__HIVE_DEFAULT_PARTITION__`, which no partitionValue
          // decode, metadata DELETE, or CDF partField could ever serve
          // — accepting it would create rows that read but can never
          // be partition-deleted. The staged files are simply
          // abandoned (never visible; vacuum reclaims them).
          val stagedDirs = GraftFs.listDirs(s"$dir/$staging").filter(_.contains("="))
          stagedDirs.foreach { pd =>
            require(
              ManifestFileTable.partitionValue(pd, partitionCol).isDefined,
              s"partitioned manifest tables require a non-null integral '$partitionCol' on every row; " +
                s"staged partition dir '$pd' does not parse as $partitionCol=<long>"
            )
          }
          val refs = stagedDirs
            .flatMap { pd =>
              GraftFs.mkdirs(s"$dir/$pd")
              GraftFs.listDataFiles(s"$dir/$staging/$pd").map { f =>
                require(
                  GraftFs.rename(s"$dir/$staging/$pd/$f", s"$dir/$pd/$f"),
                  s"failed to publish staged part file $pd/$f"
                )
                FileRef(pd, f)
              }
            }
          GraftFs.deleteRecursive(s"$dir/$staging")
          val stats = ManifestWrites.footerStats(dir, refs, clusterKey)
          // INSERT OVERWRITE mode: STATIC (the default) replaces the
          // WHOLE table; DYNAMIC replaces only the partitions this
          // write actually produced — their live files become the
          // commit's REMOVE set. The signal is the ENGINE conf key
          // `spark.graft.partitionOverwriteMode`, not Spark's
          // `spark.sql.sources.partitionOverwriteMode`: under the
          // latter Catalyst plans OverwritePartitionsDynamic, which
          // has NO V1 fallback (Delta intercepts with its own
          // analysis rule to the same effect). Either way the
          // replacement is one atomic version and every prior version
          // still time-travels (old files stay on disk until
          // expire+vacuum). A concurrent overwrite of the SAME
          // partition removed our targeted files first → the OCC
          // overlap rule aborts loudly; under dynamic mode, commuting
          // appends to OTHER partitions rebase past.
          val branch = ManifestCatalog.wapBranch
          val dynamic = data.sparkSession.conf
            .get("spark.graft.partitionOverwriteMode", "static")
            .equalsIgnoreCase("dynamic")
          val op =
            if (!overwrite) "append"
            else if (dynamic) "overwrite_partitions"
            else "overwrite_table"
          if (!overwrite) {
            // a plain append commutes: a lost CAS rebases (disjoint
            // remove sets) inside tryCommit
            log.tryCommit(branch, log.head(branch), op, add = refs, stats = stats, maxAttempts = 32) match {
              case Committed(_, _) => ()
              case other =>
                throw new java.util.ConcurrentModificationException(
                  s"partitioned manifest $op failed to publish after retries: $other"
                )
            }
          } else {
            // an OVERWRITE's remove set is a function of the head it
            // replaces — committing non-strict would rebase past a
            // concurrent append to a replaced partition and silently
            // keep its rows through a "successful" overwrite (the
            // Delta ConcurrentAppendException class). Instead: each
            // attempt RE-READS the head, RECOMPUTES the remove set
            // from it, and publishes STRICT (valid only if the head is
            // still exactly what the remove set was derived from); a
            // lost CAS recomputes and retries, so unrelated traffic
            // costs a retry, never a lost update.
            ManifestCatalog.retryingStrictCommit(s"partitioned manifest $op") { () =>
              val head = log.head(branch)
              val removed =
                if (dynamic) {
                  val replaced = refs.map(_.dir).toSet
                  log.liveFiles(head).toSeq.filter(r => replaced.contains(r.dir)).sortBy(r => (r.dir, r.file))
                } else log.liveFiles(head).toSeq.sortBy(r => (r.dir, r.file))
              log.tryCommit(
                branch, head, op,
                add = refs, remove = removed, stats = stats, maxAttempts = 1, strict = true)
            }
          }
        }
      }
  }
}

/** INSERT INTO a BUCKETED manifest table (`PARTITIONED BY
  * (bucket(n, col))` — hidden partitioning): the incoming rows are
  * staged with a SYNTHETIC `__gbucket = pmod(hash(CAST(col AS
  * BIGINT)), n)` dir column through the same V1 dynamic-partition
  * parquet writer the identity path uses; `partitionBy` strips the
  * synthetic column from the data files, so they carry exactly the
  * table schema and reads never need partition recovery — the bucket
  * ordinal lives only in the FileRef's `__gbucket=<v>` dir, where
  * scan planning recomputes the same hash to prune point lookups to
  * 1/n of the files. NULL keys are admitted: Spark's `hash(NULL)` is
  * the seed, so they land deterministically in bucket `pmod(42, n)`
  * — an equality probe never matches NULL and `IS NULL` never
  * bucket-prunes, so exactly the scans that should see them do
  * (unlike the identity path, there is no undeletable
  * __HIVE_DEFAULT_PARTITION__ hole: the dir value always parses).
  * Appends commute through the CAS like any append.
  */
private[sources] class BucketedManifestWriteBuilder(
    dir: String,
    log: DurableManifestLog,
    clusterKey: Option[String],
    bucketCol: String,
    n: Int,
    checks: Seq[CheckSpec] = Nil
) extends WriteBuilder {
  override def build(): Write = new V1Write {
    override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
      new org.apache.spark.sql.sources.InsertableRelation {
        override def insert(rawData: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
          import org.apache.spark.sql.functions.expr
          val data = ManifestCatalog
            .enforceChecks(rawData, checks)
            .withColumn(
              ManifestFileTable.BucketDirCol,
              expr(s"pmod(hash(CAST(`$bucketCol` AS BIGINT)), $n)"))
          val staging = s".stage-${java.util.UUID.randomUUID().toString.take(12)}"
          data.write
            .partitionBy(ManifestFileTable.BucketDirCol)
            .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
            .parquet(s"$dir/$staging")
          val stagedDirs = GraftFs.listDirs(s"$dir/$staging").filter(_.contains("="))
          stagedDirs.foreach { pd =>
            require(
              ManifestFileTable.partitionValue(pd, ManifestFileTable.BucketDirCol).isDefined,
              s"bucketed manifest tables require a non-null '$bucketCol' on every row; " +
                s"staged dir '$pd' does not parse as ${ManifestFileTable.BucketDirCol}=<long>"
            )
          }
          val refs = stagedDirs
            .flatMap { pd =>
              GraftFs.mkdirs(s"$dir/$pd")
              GraftFs.listDataFiles(s"$dir/$staging/$pd").map { f =>
                require(
                  GraftFs.rename(s"$dir/$staging/$pd/$f", s"$dir/$pd/$f"),
                  s"failed to publish staged part file $pd/$f"
                )
                FileRef(pd, f)
              }
            }
          GraftFs.deleteRecursive(s"$dir/$staging")
          val stats = ManifestWrites.footerStats(dir, refs, clusterKey)
          val branch = ManifestCatalog.wapBranch
          log.tryCommit(branch, log.head(branch), "append", add = refs, stats = stats, maxAttempts = 32) match {
            case Committed(_, _) => ()
            case other =>
              throw new java.util.ConcurrentModificationException(
                s"bucketed manifest append failed to publish after retries: $other"
              )
          }
        }
      }
  }
}

/** INSERT INTO path: stage parquet through Spark's own DSv2 parquet
  * write into a fresh per-commit directory under the table root, then
  * publish an OCC append whose stats come from the staged files'
  * FOOTERS (one metadata read per file). The inner write delivers
  * exactly-once task commit (Spark's committer); the log commit makes
  * the files visible atomically — a reader either sees the whole
  * append or none of it, and a crash before the log commit leaves
  * only unreferenced staging files (vacuum-eligible, never visible).
  */
private[sources] class ManifestWriteBuilder(
    dir: String,
    log: DurableManifestLog,
    // PHYSICAL cluster-key name (≡ logical on unmapped tables)
    clusterKey: Option[String],
    info: LogicalWriteInfo,
    // what the staged files must carry: the table columns, renamed to
    // their PHYSICAL names under column mapping (identity otherwise)
    writeSchema: StructType,
    bloomCol: Option[String] = None
) extends WriteBuilder {
  override def build(): Write =
    ManifestWrites.stagedWrite(dir, info, writeSchema, stripOpColumn = false) { refs =>
      val stats = ManifestWrites.footerStats(dir, refs, clusterKey)
      // bloom sidecars BEFORE publish: a reader can never observe a
      // committed file whose sidecar is still being written (absence
      // is only ever the no-bloom fallback, not a torn state)
      bloomCol.foreach(bc =>
        ManifestWrites.buildBloomSidecars(dir, refs, bc, r => stats.get(r).map(_.rows)))
      val branch = ManifestCatalog.wapBranch // WAP: stage onto the named branch, main untouched
      log.tryCommit(branch, log.head(branch), "append", add = refs, stats = stats, maxAttempts = 32) match {
        case Committed(_, _) => ()
        case other =>
          throw new java.util.ConcurrentModificationException(
            s"manifest append failed to publish after retries: $other"
          )
      }
    }
}

/** The group-based row-level operation over a manifest file table:
  * the scan pins the version it read and serves only the files the
  * statement's condition can touch; the replace commit removes
  * EXACTLY those files and is STRICT — valid only while the table is
  * still at exactly that version.
  */
private[sources] class ManifestRowLevelOperation(
    dir: String,
    log: DurableManifestLog,
    tableSchema: StructType,
    clusterKey: Option[String],
    partitionCol: Option[String],
    changeFeed: Boolean,
    bloomCol: Option[String],
    bucket: Option[(String, Int)],
    cmd: RowLevelOperation.Command
) extends RowLevelOperation {
  // every scan this operation built: (the version it read, the files
  // it served) — the commit's remove set is the one scan's files
  private val served = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[FileRef])]()
  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a partitioned table's group rewrite would need a partition-
    // preserving staged write this catalog does not implement; the
    // refusal fires here (pushdown time) so partition-ALIGNED deletes
    // have already been flipped to the metadata-only SupportsDelete
    // path by the optimizer and never reach this scan
    require(
      partitionCol.isEmpty,
      "row-level rewrites on a PARTITIONED manifest table are not implemented — " +
        "partition-aligned DELETEs are served metadata-only; other rewrites go through INSERT OVERWRITE"
    )
    val v = log.head()
    val files = ManifestFileTable.fileEntries(dir, log, v, tableSchema, clusterKey, partitionCol, bloomCol, bucket)
    val refOf = files.map { case (r, e) => e.path -> r }.toMap
    // RowLevel: the pushed condition prunes whole files and reaches no
    // deeper (see ManifestScanBuilder.RowLevel); the built scan's
    // entries are recorded as the replacement groups
    new ManifestScanBuilder(
      manifestGlue.activeSession, files.map(_._2), clusterKey, tableSchema, options,
      mode = ManifestScanBuilder.RowLevel { kept => served.add(v -> kept.map(e => refOf(e.path))); () },
      physicalOf = ColumnMapping.logicalToPhysical(tableSchema), bloomCol = bloomCol, bucketSpec = bucket)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = {
      // a group-based MERGE's rows arrive with MergeRows' leading
      // __row_operation int; UPDATE/DELETE arrive bare — the staged
      // write strips the slot so the files carry exactly the table
      // columns (the q380 ScratchWriterFactory lesson, applied before
      // parquet encoding instead of after)
      // under column mapping the rewrite's files carry PHYSICAL names
      val l2p = ColumnMapping.logicalToPhysical(tableSchema)
      ManifestWrites.stagedWrite(
        dir, info, ColumnMapping.physicalSchema(tableSchema), stripOpColumn = true) { refs =>
        // the rows written are those of the files ONE scan served:
        // removing any other file would drop rows nobody read, so a
        // statement that built no scan, or several, refuses to publish
        val (readVersion, removed) = served.toArray(Array.empty[(Long, Seq[FileRef])]) match {
          case Array(one) => one
          case scans =>
            throw new IllegalStateException(
              s"row-level $cmd built ${scans.length} scans; its commit must remove exactly the files " +
                "one scan served — refusing to publish")
        }
        val allStats = ManifestWrites.footerStats(dir, refs, clusterKey.map(k => l2p.getOrElse(k, k)))
        // a file with no rows (Spark writes one for an empty task, e.g.
        // a DELETE that removed every row it read) joins neither the
        // commit nor the CDC diff: it has no zones, so every later
        // rewrite would read and remove it again
        val (added, empty) = refs.partition(r => allStats(r).rows > 0L)
        empty.foreach(r => GraftFs.delete(s"$dir/${r.dir}/${r.file}"))
        val stats = allStats -- empty
        // CDC-ON-WRITE (table property change_feed='true', the Delta
        // enableChangeDataFeed convention): the rewrite job itself
        // stages explicit pre/post-image rows — one key-joined diff of
        // the served (removed) vs staged files — so the commit is
        // streamable through db.t.changes (a rewrite WITHOUT cdc
        // refuses at feed planning by design: deriving images per
        // consumer would re-run this diff for each).
        // Requires a cluster key (the diff's join key; key-unique
        // tables, the manifestChanges precondition).
        val cdcRefs =
          if (!changeFeed) Seq.empty[FileRef]
          else
            ManifestWrites.stageCdc(
              dir,
              clusterKey.getOrElse(
                sys.error("change_feed tables need a cluster_key — the CDC diff joins on it")),
              tableSchema,
              removed,
              added
            )
        log.tryCommit(
          "main",
          readVersion,
          s"replace_${cmd.toString.toLowerCase(java.util.Locale.ROOT)}",
          add = added,
          remove = removed,
          stats = stats,
          cdc = cdcRefs,
          strict = true
        ) match {
          case Committed(_, _) => ()
          case other =>
            throw new java.util.ConcurrentModificationException(
              s"OCC conflict: row-level operation scanned version $readVersion but the table moved " +
                s"($other); the rewrite is stale — re-run it"
            )
        }
      }
    }
  }
}

/** `_table.json`, decoded. */
private[sources] final case class ManifestTableMeta(
    schema: StructType,
    clusterKey: Option[String],
    partitionCol: Option[String],
    changeFeed: Boolean,
    bloomCol: Option[String] = None,
    bucket: Option[(String, Int)] = None
)

/** A CHECK constraint as VERSIONED table metadata: the predicate's
  * SQL text (the Delta `delta.constraints.<name>` convention, made
  * versioned), plus whether writes must enforce it.
  */
private[sources] final case class CheckSpec(name: String, sql: String, enforced: Boolean)

/** Constraints ride the log's existing `schemaJson` channel as an
  * ENVELOPE — `{"schema": <StructType JSON>, "constraints": [...]}`
  * — so they version, time-travel, and survive checkpoint squash
  * exactly like the schema, with ZERO log-format changes: a bare
  * StructType JSON (every pre-constraints commit, and every commit a
  * constraint-free table makes) still decodes as schema-only, and a
  * constraint-free encode emits the bare form byte-identically.
  */
private[sources] object TableMetaJson {
  private def mapper = new ObjectMapper()

  def encode(schema: StructType, constraints: Seq[CheckSpec]): String =
    if (constraints.isEmpty) schema.json
    else {
      val o = mapper.createObjectNode()
      o.put("schema", schema.json)
      val arr = o.putArray("constraints")
      constraints.foreach { c =>
        val n = arr.addObject()
        n.put("name", c.name)
        n.put("sql", c.sql)
        n.put("enforced", c.enforced)
        ()
      }
      mapper.writeValueAsString(o)
    }

  // a bare StructType serializes with top-level "type":"struct"; the
  // envelope's top-level "schema" is a TEXT node — shape, not a
  // substring probe (a column literally named "constraints" must not
  // flip the format)
  private def isEnvelope(json: String): Boolean = {
    val n = mapper.readTree(json)
    n.hasNonNull("schema") && n.get("schema").isTextual
  }

  def decodeSchema(json: String): StructType =
    if (!isEnvelope(json)) DataType.fromJson(json).asInstanceOf[StructType]
    else
      DataType.fromJson(mapper.readTree(json).get("schema").asText()).asInstanceOf[StructType]

  def decodeConstraints(json: String): Seq[CheckSpec] =
    if (!isEnvelope(json)) Nil
    else {
      val n = mapper.readTree(json).get("constraints")
      (0 until n.size()).map { i =>
        val c = n.get(i)
        CheckSpec(c.get("name").asText(), c.get("sql").asText(), c.get("enforced").asBoolean())
      }
    }
}

/** Shared staging machinery for the catalog's write paths. Visible
  * package-wide for [[idempotentAppend]] — the exactly-once batch
  * writer surface.
  */
private[graft] object ManifestWrites {

  /** Stage a rewrite's CDC files: one single-pass full-outer diff of
    * the removed files' rows against the staged files' rows on the
    * cluster key (the manifestChanges when/explode classification,
    * generic over the table schema), written as parquet whose rows
    * carry `change_type` + every table column — exactly what the CDF
    * reader's `changeTypeFromFile` path serves. Cost: one join job
    * over the rewrite's files only — `removed` is exactly what the
    * row-level scan served, never the rest of the table — paid once
    * at write time (the Delta `_change_data` economics). Returns the
    * staged refs.
    */
  def stageCdc(
      dir: String,
      key: String,
      tableSchema: StructType,
      removed: Seq[FileRef],
      added: Seq[FileRef]
  ): Seq[FileRef] = {
    import org.apache.spark.sql.functions._
    val ss = manifestGlue.activeSession
    val cdcDir = s"cdc-${java.util.UUID.randomUUID().toString.take(12)}"
    val cols = tableSchema.fieldNames.toSeq
    def read(fs: Seq[FileRef]) =
      if (fs.isEmpty) ss.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), tableSchema)
      else ss.read.schema(tableSchema).parquet(fs.map(r => s"$dir/${r.dir}/${r.file}"): _*)
    val o = read(removed).as("o")
    val n = read(added).as("n")
    def img(ct: String, side: String) =
      struct(lit(ct).as("change_type") +: cols.map(c => col(s"$side.$c").as(c)): _*)
    val valueChanged = cols
      .filter(_ != key)
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .select(
        explode(
          when(
            col(s"o.$key").isNotNull && col(s"n.$key").isNotNull && valueChanged,
            array(img("update_preimage", "o"), img("update_postimage", "n"))
          ).when(col(s"n.$key").isNull, array(img("delete", "o")))
            .when(col(s"o.$key").isNull, array(img("insert", "n")))
        ).as("c")
      )
      .select("c.*")
      .write
      .parquet(s"$dir/$cdcDir")
    GraftFs.listDataFiles(s"$dir/$cdcDir").map(f => FileRef(cdcDir, f))
  }
  /** A Write that stages parquet into a fresh dir under the table
    * root via Spark's own DSv2 parquet write, then runs `publish`
    * with the staged FileRefs on driver-side commit. `writeSchema`
    * is what the files must carry (the table columns);
    * `stripOpColumn` tolerates MergeRows' extra leading int. The
    * write's Hadoop configuration reaches the tasks by one broadcast
    * per job ([[manifestGlue.shipConfOnce]]).
    */
  def stagedWrite(
      dir: String,
      info: LogicalWriteInfo,
      writeSchema: StructType,
      stripOpColumn: Boolean
  )(publish: Seq[FileRef] => Unit): Write = {
    val staging = s"w-${java.util.UUID.randomUUID().toString.take(12)}"
    val cleanInfo: LogicalWriteInfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = info.options()
      override def queryId(): String = info.queryId()
      override def schema(): StructType = writeSchema
      override def rowIdSchema(): java.util.Optional[StructType] = info.rowIdSchema()
      override def metadataSchema(): java.util.Optional[StructType] = info.metadataSchema()
    }
    val inner = manifestGlue
      .parquetWriteBuilder(manifestGlue.activeSession, s"$dir/$staging", cleanInfo, CaseInsensitiveStringMap.empty())
      .build()
    new Write {
      override def toBatch: BatchWrite = {
        val ib = inner.toBatch
        new BatchWrite {
          override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
            val f = manifestGlue.shipConfOnce(ib.createBatchWriterFactory(pinfo))
            if (stripOpColumn) new OpStrippingWriterFactory(f, writeSchema) else f
          }
          override def useCommitCoordinator(): Boolean = ib.useCommitCoordinator()
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            ib.commit(messages)
            publish(GraftFs.listDataFiles(s"$dir/$staging").map(f => FileRef(staging, f)))
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ib.abort(messages)
        }
      }
    }
  }

  /** EXACTLY-ONCE batch append — the Delta `txn`/foreachBatch
    * idempotency contract: stage `df` as parquet under the table
    * root, then publish ONE append carrying the (appId, batchVersion)
    * watermark. A REPLAYED batch — a foreachBatch writer restarting
    * after a crash BETWEEN its commit and its checkpoint re-runs the
    * last batch id — is refused at two layers: a fast-path watermark
    * read skips the staging IO entirely, and (because that read races
    * other writers) the commit itself re-checks the watermark
    * atomically with the storage CAS ([[ManifestLog.AlreadyApplied]]),
    * so the batch lands EXACTLY once no matter where the crash fell.
    * A refused replay's staged files are unreferenced debris (vacuum
    * reclaims them after the grace window). Returns true iff THIS
    * call published.
    */
  def idempotentAppend(
      dir: String,
      log: DurableManifestLog,
      df: org.apache.spark.sql.DataFrame,
      clusterKey: Option[String],
      appId: String,
      batchVersion: Long
  ): Boolean = {
    if (log.txnVersion(appId).exists(_ >= batchVersion)) return false // replay: skip the staging IO
    val staging = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.parquet(s"$dir/$staging")
    val refs = GraftFs.listDataFiles(s"$dir/$staging").map(f => FileRef(staging, f))
    val stats = footerStats(dir, refs, clusterKey)
    log.tryCommit(
      "main", log.head(), "append",
      add = refs, stats = stats, maxAttempts = 32, txn = Some((appId, batchVersion))
    ) match {
      case ManifestLog.Committed(_, _) => true
      case ManifestLog.AlreadyApplied(_, _) =>
        // a concurrent twin won the race: our staging is orphaned
        // debris, never visible; reclaim it eagerly
        GraftFs.deleteRecursive(s"$dir/$staging")
        false
      case other =>
        throw new java.util.ConcurrentModificationException(
          s"idempotent append ($appId @ $batchVersion) failed to publish: $other"
        )
    }
  }

  /** Footer-derived per-file zone maps for a staged commit —
    * metadata-only, one footer read + one getFileStatus per file.
    * Every INT64 column's (min, max, nullCount) rides the commit
    * ([[ManifestLog.ColStats]]); the legacy top-level (min, max)
    * carry the cluster key's zone as before. EVERY file contributes a
    * record (rows and bytes are what exact scan statistics and
    * metadata-only COUNT need, key zone or not); a file whose cluster
    * key lacks footer stats — or a table with no cluster key — gets
    * the EMPTY top-level zone (0, −1), which consumers treat as
    * "no key zone", never "prunable".
    */
  def footerStats(
      dir: String,
      refs: Seq[FileRef],
      clusterKey: Option[String]
  ): Map[FileRef, ManifestLog.FileStats] =
    refs.map { r =>
      val path = s"$dir/${r.dir}/${r.file}"
      val (rows, cols) = ParquetFooters.statsAllColumns(path)
      val colStats = cols.map { case (c, (mn, mx, nl)) => c -> ManifestLog.ColStats(mn, mx, nl) }
      val (kMin, kMax) = clusterKey.flatMap(cols.get).map { case (mn, mx, _) => (mn, mx) }.getOrElse((0L, -1L))
      r -> ManifestLog.FileStats(kMin, kMax, rows, colStats, bytes = GraftFs.fileLength(path))
    }.toMap

  /** One compact bloom sidecar per staged file over `bloomCol`
    * (`<file>.parquet.bloom`, Spark's own
    * [[org.apache.spark.util.sketch.BloomFilter]] serialization at
    * fpp 0.01 ≈ 9.6 bits/key): the file-level skipping index for
    * predicates zone maps cannot serve — a high-cardinality key
    * scattered across every file's full range. Cost: one
    * column-pruned read of each JUST-STAGED file (page-cache-warm
    * bytes; Delta's bloom index pays the same work inside its
    * writer). Sidecars are invisible to the log and to vacuum's
    * data-file census (`listDataFiles` is `.parquet`-suffixed);
    * absence — pre-bloom history, a compaction's output — simply
    * reads as "never bloom-pruned".
    */
  def buildBloomSidecars(
      dir: String,
      refs: Seq[FileRef],
      bloomCol: String,
      rowsOf: FileRef => Option[Long]
  ): Unit = {
    val spark = manifestGlue.activeSession
    refs.foreach { r =>
      val path = s"$dir/${r.dir}/${r.file}"
      val expected = rowsOf(r).filter(_ > 0L).getOrElse(1L << 16)
      val bf = spark.read.parquet(path).stat.bloomFilter(bloomCol, expected, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      require(
        GraftFs.createExclusive(s"$path.bloom", bos.toByteArray),
        s"failed to write bloom sidecar for $path"
      )
    }
  }
}

/** Physical maintenance for a manifest table directory: vacuum
  * reclaims every data file NO REPLAYABLE VERSION can serve — aborted
  * rewrites' staging (a strict OCC loser never published its files),
  * crashed writers' leftovers (staged but never committed), and files
  * that only expired-away history referenced. Retention is the q410
  * orphan rule, not mere ref-head reachability: a file live in ANY
  * version still in the log (plus every in-force DV and cdc file)
  * stays, so `VERSION AS OF` keeps working for ALL retained history —
  * the way to shrink the retained set is [[DurableManifestLog
  * .expireBefore]] first, then vacuum. Everything is metadata-
  * cardinality driver work through the [[GraftFs]] seam: one listing
  * per subdirectory, one delete per orphan.
  */
object ManifestMaintenance {
  private def physicalFiles(dir: String): Seq[ManifestLog.FileRef] =
    GraftFs
      .listDirs(dir)
      .filter(_ != "_log")
      .flatMap { d =>
        // one extra level for partitioned staging (`w-…/<col>=<value>/`)
        val nested = GraftFs
          .listDirs(s"$dir/$d")
          .filter(_.contains("="))
          .flatMap(pd => GraftFs.listDataFiles(s"$dir/$d/$pd").map(f => FileRef(s"$d/$pd", f)))
        GraftFs.listDataFiles(s"$dir/$d").map(f => FileRef(d, f)) ++ nested
      }

  private def retained(log: DurableManifestLog): Set[ManifestLog.FileRef] =
    log.versions.foldLeft(Set.empty[ManifestLog.FileRef]) { (acc, v) =>
      val c = log.chain(v)
      acc ++ log.liveFiles(v) ++ c.flatMap(_.dvAdded) ++ c.flatMap(_.cdc)
    }

  /** Default vacuum grace: files younger than this are NEVER deleted
    * even if no replayable version references them — a concurrent
    * writer's staged-but-not-yet-committed parquet is, by definition,
    * unreferenced until its OCC commit lands, and a graceless vacuum
    * racing it would delete files the commit is about to publish
    * (reads of that version then fail on missing files). The Delta
    * VACUUM convention: retention is mtime-based, and only files old
    * enough that no live writer can still be staging them are
    * eligible. Callers that provably own the table exclusively (a
    * test fixture, a single-writer maintenance window) may pass 0.
    */
  val DefaultGraceMs: Long = 10L * 60L * 1000L

  /** Data files on disk that no replayable version can serve AND that
    * are older than `graceMs` (mtime-based — see [[DefaultGraceMs]]).
    */
  def unreachable(
      dir: String,
      log: DurableManifestLog,
      graceMs: Long = DefaultGraceMs
  ): Seq[ManifestLog.FileRef] = {
    val keep = retained(log)
    val cutoff = System.currentTimeMillis() - graceMs
    physicalFiles(dir)
      .filterNot(keep.contains)
      .filter(r => graceMs <= 0L || GraftFs.modificationTime(s"$dir/${r.dir}/${r.file}") <= cutoff)
  }

  /** Delete every grace-expired unreachable data file; returns what
    * was deleted.
    */
  def vacuum(
      dir: String,
      log: DurableManifestLog,
      graceMs: Long = DefaultGraceMs
  ): Seq[ManifestLog.FileRef] = {
    val orphans = unreachable(dir, log, graceMs)
    orphans.foreach { r =>
      GraftFs.delete(s"$dir/${r.dir}/${r.file}")
      // a bloom sidecar lives and dies with its data file
      val sidecar = s"$dir/${r.dir}/${r.file}.bloom"
      if (GraftFs.exists(sidecar)) GraftFs.delete(sidecar)
      ()
    }
    orphans
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE tgt SHALLOW CLONE src
    * [VERSION AS OF n]`): a ZERO-COPY table whose genesis commit
    * references the source version's live files BY RELATIVE PATH —
    * no byte of data moves, the commit is metadata-cardinality, and
    * the copied per-file stats mean zone/partition pruning works on
    * the clone exactly as on the source. From there the two tables
    * evolve INDEPENDENTLY: each log is its own truth, so inserts,
    * deletes, schema changes, and time travel on one never touch the
    * other (the clone's v1 IS the cloned snapshot). The source
    * version's schema AND CHECK constraints carry over.
    *
    * At 100 TB this is how a dev/test/experiment branch of a
    * production table costs one commit instead of a copy job.
    *
    * The Delta caveat carries over verbatim: VACUUM on the SOURCE
    * does not know about clone references and can delete files the
    * clone still serves — vacuum sources only when no clone outlives
    * the grace window. (VACUUM on the clone is safe by construction:
    * it only ever lists files physically under the clone's own
    * directory, and the referenced source files are not.)
    *
    * Refuses when the source version has in-force deletion vectors
    * targeting live files (the clone serves file-complete snapshots;
    * OPTIMIZE the source first — the read path's own guard).
    */
  def shallowClone(srcDir: String, tgtDir: String, version: Option[Long] = None): Long = {
    val mapper = new ObjectMapper()
    val srcMetaPath = s"$srcDir/_table.json"
    require(GraftFs.exists(srcMetaPath), s"no manifest table at $srcDir")
    val srcMeta = mapper.readTree(GraftFs.readBytes(srcMetaPath))
    // a partitioned table's scan recovers the partition column via
    // Spark's basePath hive-layout discovery, which requires every
    // leaf file be UNDER the table root — a clone's references are
    // not. Until the partitioned scan serves partition values as
    // plan-time constants (the CdfTable mechanism), refuse loudly
    // rather than produce a clone whose reads fail downstream.
    require(
      !srcMeta.hasNonNull("partitionCol"),
      s"shallow clone of a PARTITIONED table is not supported (source $srcDir partitions by " +
        s"'${if (srcMeta.hasNonNull("partitionCol")) srcMeta.get("partitionCol").asText() else ""}')"
    )
    val srcLog = DurableManifestLog.open(srcDir)
    val v = version.getOrElse(srcLog.head())
    srcLog.chain(v) // refuses on an expired / never-published version
    val live = srcLog.liveFiles(v).toSeq.sortBy(r => (r.dir, r.file))
    val dvs = srcLog.dvFiles(v)
    if (dvs.nonEmpty) {
      val targets = graft.streaming.CdfStream
        .dvTargets(dvs.toSeq.map(r => s"$srcDir/${r.dir}/${r.file}"))
      val liveTargets = targets.intersect(live.map(r => (r.dir, r.file)).toSet)
      require(
        liveTargets.isEmpty,
        s"source version $v has deletion vector(s) targeting live file(s) " +
          s"${liveTargets.mkString(", ")} — a shallow clone serves file-complete snapshots; " +
          "OPTIMIZE the source first"
      )
    }
    // the genesis schema (and constraints) of the clone = the source's
    // EFFECTIVE metadata at the cloned version
    val genesisSchemaJson = srcLog.schemaAt(v).getOrElse(srcMeta.get("schema").asText())
    val rel = java.nio.file.Paths.get(tgtDir).relativize(java.nio.file.Paths.get(srcDir)).toString
    val stats = srcLog.liveStats(v)
    val refs = live.map(r => FileRef(s"$rel/${r.dir}", r.file))
    val relStats: Map[FileRef, FileStats] = live.flatMap { r =>
      stats.get(r).map(st => FileRef(s"$rel/${r.dir}", r.file) -> st)
    }.toMap
    val meta = mapper.createObjectNode()
    meta.put("schema", TableMetaJson.decodeSchema(genesisSchemaJson).json)
    if (srcMeta.hasNonNull("clusterKey")) meta.put("clusterKey", srcMeta.get("clusterKey").asText())
    if (srcMeta.hasNonNull("partitionCol")) meta.put("partitionCol", srcMeta.get("partitionCol").asText())
    if (srcMeta.hasNonNull("changeFeed") && srcMeta.get("changeFeed").asBoolean())
      meta.put("changeFeed", true)
    // bucket ordinals ride the refs' dir names and bloom sidecars sit
    // next to the source files — both indexes keep pruning on the
    // clone with zero extra work
    if (srcMeta.hasNonNull("bucketCol")) {
      meta.put("bucketCol", srcMeta.get("bucketCol").asText())
      meta.put("bucketN", srcMeta.get("bucketN").asInt())
      ()
    }
    if (srcMeta.hasNonNull("bloomCol")) meta.put("bloomCol", srcMeta.get("bloomCol").asText())
    GraftFs.mkdirs(tgtDir)
    require(
      GraftFs.createExclusive(s"$tgtDir/_table.json", mapper.writeValueAsBytes(meta)),
      s"a table already exists at $tgtDir"
    )
    val tgtLog = DurableManifestLog.open(tgtDir)
    // constraints (and any evolved-past-genesis schema) publish as the
    // clone's own first metadata action, exactly like an ALTER would
    val cons = TableMetaJson.decodeConstraints(genesisSchemaJson)
    val schemaAction =
      if (cons.isEmpty) None
      else Some(TableMetaJson.encode(TableMetaJson.decodeSchema(genesisSchemaJson), cons))
    tgtLog.tryCommit(
      "main", 0L, "clone", add = refs, stats = relStats,
      maxAttempts = 1, strict = true, schemaJson = schemaAction
    ) match {
      case Committed(cv, _) => cv
      case other            => sys.error(s"clone genesis commit on a FRESH table cannot race: $other")
    }
  }

  /** OPTIMIZE ZORDER BY (colA, colB) — the multi-dimensional
    * clustering rewrite (Delta's ZORDER, q397's Hilbert advisor now
    * ENACTED as a catalog maintenance verb): every live row is
    * re-laid-out along a Hilbert space-filling curve over the two
    * columns' grid coordinates, range-partitioned into `targetFiles`
    * curve segments and published as ONE strict OCC commit with
    * footer-derived per-column stats — after which a predicate on
    * EITHER dimension (or a 2-D box) prunes files by the recorded
    * zones, not just the insertion-order column. Grid bounds come
    * from the LOG's per-column zones (metadata, no pre-scan); the
    * Hilbert index is [[graft.operators.SpaceFill]]'s shared SQL
    * text, so the layout arithmetic is oracle-replayable. The commit
    * is STRICT with no recompute (the rewrite is derived from the
    * version it read; an intervener means stale bytes — abort
    * loudly, the row-level posture). Unpartitioned tables only (a
    * partitioned table z-orders within partitions via compact's
    * scoping; cross-partition curves would break the hive layout).
    * Scale shape: one read→shuffle→write pass over the table — the
    * cost OPTIMIZE ZORDER always pays — with the shuffle keyed by
    * curve position (range partition ≈ equal-size curve segments).
    */
  def zorder(
      dir: String,
      log: DurableManifestLog,
      schema: org.apache.spark.sql.types.StructType,
      clusterKey: Option[String],
      colA: String,
      colB: String,
      targetFiles: Int = 8,
      order: Int = 6,
      // a bloom-indexed table's rewrite REBUILDS the sidecars for its
      // output files, so the index survives maintenance instead of
      // degrading to never-pruned
      bloomCol: Option[String] = None
  ): (Seq[ManifestLog.FileRef], Seq[ManifestLog.FileRef]) = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(targetFiles >= 1 && order >= 2 && order <= 15, "zorder: bad targetFiles/order")
    val spark = org.apache.spark.sql.graft.manifestGlue.activeSession
    val head = log.head()
    val live = log.liveFiles(head).toSeq.sortBy(r => (r.dir, r.file))
    require(live.nonEmpty, "zorder: empty table")
    require(!live.exists(_.dir.contains("=")), "zorder: unpartitioned manifest tables only")
    // in-force DVs would resurrect through a raw rewrite — absorb
    // them exactly as compact does (request-sized driver read)
    val dvOrds = graft.streaming.CdfStream.dvOrdinals(
      log.dvFiles(head).toSeq.sortBy(r => (r.dir, r.file)).map(r => s"$dir/${r.dir}/${r.file}"))
    // grid bounds from the log's per-column zones — metadata only
    val stats = log.liveStats(head)
    def bounds(c: String): (Long, Long) = {
      val zs = live.map(r =>
        stats.get(r).flatMap(_.cols.get(c)).getOrElse(
          sys.error(s"zorder: file ${r.dir}/${r.file} has no recorded zone for '$c' — stats required")))
      (zs.map(_.min).min, zs.map(_.max).max)
    }
    val (aMin, aMax) = bounds(colA)
    val (bMin, bMax) = bounds(colB)
    val n = 1 << order
    val physSchema = ColumnMapping.physicalSchema(schema)
    val raw = spark.read.schema(physSchema).parquet(live.map(r => s"$dir/${r.dir}/${r.file}"): _*)
    val tombs: Seq[(String, Long)] =
      live.flatMap(r => dvOrds.getOrElse((r.dir, r.file), Array.empty[Long]).map(ri => (r.file, ri)))
    val cleaned =
      if (tombs.isEmpty) raw
      else {
        import spark.implicits._
        val t = tombs.toDF("__f", "__ri")
        raw
          .select(col("*"), col("_metadata.file_name").as("__f"), col("_metadata.row_index").as("__ri"))
          .join(org.apache.spark.sql.functions.broadcast(t), Seq("__f", "__ri"), "left_anti")
          .drop("__f", "__ri")
      }
    // grid coordinates (integer arithmetic, clamped) + the unrolled
    // Hilbert walk — SpaceFill's shared SQL text
    def gridExpr(c: String, lo: Long, hi: Long): String =
      s"least(CAST((($c - $lo) * $n) DIV ${hi - lo + 1} AS BIGINT), ${n - 1})"
    var base = cleaned
      .withColumn("x0", expr(gridExpr(colA, aMin, aMax)))
      .withColumn("y0", expr(gridExpr(colB, bMin, bMax)))
      .withColumn("__h", lit(0L))
    graft.operators.SpaceFill.levels(order).zipWithIndex.foreach { case (sv, k) =>
      val (nx, ny, dt) = graft.operators.SpaceFill.hilbertStep(sv, s"x$k", s"y$k")
      base = base
        .withColumn(s"x${k + 1}", expr(nx))
        .withColumn(s"y${k + 1}", expr(ny))
        .withColumn("__h", col("__h") + expr(dt))
    }
    val staging = s".zord-${java.util.UUID.randomUUID().toString.take(12)}"
    base
      .repartitionByRange(targetFiles, col("__h"))
      .sortWithinPartitions("__h")
      .select(physSchema.fieldNames.map(col): _*)
      .write
      .parquet(s"$dir/$staging")
    val outDir = s"z-${java.util.UUID.randomUUID().toString.take(12)}"
    GraftFs.mkdirs(s"$dir/$outDir")
    val outRefs = GraftFs.listDataFiles(s"$dir/$staging").map { f =>
      require(GraftFs.rename(s"$dir/$staging/$f", s"$dir/$outDir/$f"), s"zorder publish failed: $f")
      ManifestLog.FileRef(outDir, f)
    }
    GraftFs.deleteRecursive(s"$dir/$staging")
    val l2p = ColumnMapping.logicalToPhysical(schema)
    val outStats = ManifestWrites.footerStats(dir, outRefs, clusterKey.map(k => l2p.getOrElse(k, k)))
    bloomCol.foreach(bc =>
      ManifestWrites.buildBloomSidecars(dir, outRefs, bc, r => outStats.get(r).map(_.rows)))
    log.tryCommit(
      "main", head, "zorder", add = outRefs, remove = live, stats = outStats, maxAttempts = 1, strict = true
    ) match {
      case ManifestLog.Committed(_, _) => (live, outRefs)
      case other =>
        throw new java.util.ConcurrentModificationException(
          s"OPTIMIZE ZORDER aborted — the table moved while rewriting (stale bytes): $other"
        )
    }
  }

  /** OPTIMIZE — small-file compaction on a durable manifest table
    * (q420's log-planned compaction as a catalog maintenance verb):
    * groups are planned FROM THE LOG (files zone-ordered by their
    * recorded cluster-key min, `groupSize` inputs per output, within
    * one partition dir — never across partitions), each group is
    * rewritten to one file through Spark's parquet writer, and each
    * rewrite publishes one OCC commit (remove = the group, add = the
    * output, stats from the output's FOOTER so zone pruning keeps
    * working). A concurrent writer that removed one of the group's
    * files aborts that group loudly (the OCC overlap rule) without
    * touching the others; every pre-compaction version still
    * time-travels (inputs stay on disk until expire+vacuum). Returns
    * (inputs, output) per group committed. `schema` is the CURRENT
    * table schema — pre-evolution files null-fill through it, so a
    * compaction also materializes the evolved shape.
    */
  def compact(
      dir: String,
      log: DurableManifestLog,
      schema: org.apache.spark.sql.types.StructType,
      clusterKey: Option[String],
      groupSize: Int = 4,
      // rebuild the bloom sidecar for each output so the index
      // survives compaction instead of degrading to never-pruned
      bloomCol: Option[String] = None
  ): Seq[(Seq[ManifestLog.FileRef], ManifestLog.FileRef)] = {
    require(groupSize >= 2, "compaction needs at least 2 inputs per output")
    val spark = org.apache.spark.sql.graft.manifestGlue.activeSession
    // under column mapping the files carry PHYSICAL names: read and
    // rewrite in the physical namespace (identity on unmapped tables)
    val physSchema = ColumnMapping.physicalSchema(schema)
    val l2p = ColumnMapping.logicalToPhysical(schema)
    val physKey = clusterKey.map(k => l2p.getOrElse(k, k))
    val head = log.head()
    val stats = log.liveStats(head)
    val live = log.liveFiles(head).toSeq
    // IN-FORCE DELETION VECTORS ARE ABSORBED, never resurrected: a
    // compaction that read its inputs raw would re-materialize every
    // tombstoned row (the inputs still hold the bytes) and then REMOVE
    // the DV's target files, rendering the tombstones inert — a silent
    // un-delete. Instead the rewrite EXCLUDES the tombstoned ordinals
    // (Delta's OPTIMIZE-with-DV semantics): the output carries only
    // live rows, the DVs go inert by design, and metadata COUNT stays
    // exact (liveDvRows drops with the removed targets). Tombstones
    // are request-sized by the erasure contract: one driver read.
    val dvOrds: Map[(String, String), Array[Long]] =
      graft.streaming.CdfStream.dvOrdinals(
        log.dvFiles(head).toSeq.sortBy(r => (r.dir, r.file)).map(r => s"$dir/${r.dir}/${r.file}")
      )
    val groups: Seq[(String, Seq[FileRef])] = live
      .groupBy(r => if (r.dir.contains("=")) r.dir else "") // one partition = one compaction scope
      .toSeq
      .sortBy(_._1)
      .flatMap { case (part, fs) =>
        fs.sortBy(r => (stats.get(r).map(_.min).getOrElse(Long.MaxValue), r.dir, r.file))
          .grouped(groupSize)
          .filter(_.size >= 2) // a singleton gains nothing
          .map(g => part -> g)
      }
    groups.flatMap { case (part, inputs) =>
      val staging = s".copt-${java.util.UUID.randomUUID().toString.take(12)}"
      val raw = spark.read.schema(physSchema).parquet(inputs.map(r => s"$dir/${r.dir}/${r.file}"): _*)
      val groupTombs: Seq[(String, Long)] = inputs.flatMap(r =>
        dvOrds.getOrElse((r.dir, r.file), Array.empty[Long]).map(ri => (r.file, ri)))
      val cleaned =
        if (groupTombs.isEmpty) raw
        else {
          // absorb: drop exactly the tombstoned (file, row_index)
          // pairs — part-file names are per-job-UUID unique, so the
          // file name alone keys the join; tombstones broadcast
          // (request-sized by the erasure contract)
          import org.apache.spark.sql.functions.{broadcast, col}
          import spark.implicits._
          val tomb = groupTombs.toDF("__f", "__ri")
          raw
            .select(col("*"),
              col("_metadata.file_name").as("__f"), col("_metadata.row_index").as("__ri"))
            .join(broadcast(tomb), Seq("__f", "__ri"), "left_anti")
            .drop("__f", "__ri")
        }
      cleaned.coalesce(1).write.parquet(s"$dir/$staging")
      // partitioned inputs: the output must live under the SAME
      // partition dir for path-served partition values; unpartitioned
      // outputs get their own compact dir
      val outRef = GraftFs.listDataFiles(s"$dir/$staging") match {
        case Seq(f) =>
          if (part.isEmpty) {
            val cdir = s"c-${java.util.UUID.randomUUID().toString.take(12)}"
            GraftFs.mkdirs(s"$dir/$cdir")
            require(GraftFs.rename(s"$dir/$staging/$f", s"$dir/$cdir/$f"), s"compaction publish failed: $f")
            FileRef(cdir, f)
          } else {
            require(GraftFs.rename(s"$dir/$staging/$f", s"$dir/$part/$f"), s"compaction publish failed: $f")
            FileRef(part, f)
          }
        case other => sys.error(s"compaction staged ${other.size} files for one group (expected 1)")
      }
      GraftFs.deleteRecursive(s"$dir/$staging")
      val outStats = ManifestWrites.footerStats(dir, Seq(outRef), physKey)
      bloomCol.foreach(bc =>
        ManifestWrites.buildBloomSidecars(dir, Seq(outRef), bc, r => outStats.get(r).map(_.rows)))
      // readVersion re-anchored per group: earlier groups' own commits
      // are interveners otherwise (disjoint, but why pay the rebase)
      log.tryCommit(
        "main", log.head(), "compact",
        add = Seq(outRef), remove = inputs, stats = outStats, maxAttempts = 4
      ) match {
        case Committed(_, _) => Some(inputs -> outRef)
        case other =>
          throw new java.util.ConcurrentModificationException(
            s"compaction group aborted (a concurrent writer touched its inputs): $other"
          )
      }
    }
  }
}

/** The `.history` / `.files` metadata tables: driver-computed rows
  * (metadata cardinality — one row per commit / per live file),
  * served through a local batch scan the way a LocalScan ships rows.
  * SQL introspection of the log without leaving the query language:
  * `SELECT * FROM graft_mfst.db.t.history ORDER BY version`.
  */
private[sources] object ManifestMetaTables {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  def history(name: String, dir: String): Table = {
    val log = DurableManifestLog.open(dir)
    val schema = StructType(
      Seq(
        StructField("version", LongType, nullable = false),
        StructField("parent", LongType, nullable = false),
        StructField("op", StringType, nullable = false),
        StructField("n_added", LongType, nullable = false),
        StructField("n_removed", LongType, nullable = false),
        StructField("n_dv", LongType, nullable = false),
        StructField("n_cdc", LongType, nullable = false),
        // the commit wall-clock (epoch ms; 0 = unstamped) — TIMESTAMP
        // AS OF's axis, introspectable like Delta's DESCRIBE HISTORY
        StructField("ts_ms", LongType, nullable = false)
      )
    )
    val rows: Array[InternalRow] = log
      .chain(log.head())
      .map { c =>
        new GenericInternalRow(
          Array[Any](
            c.version,
            c.parent,
            UTF8String.fromString(c.op),
            c.added.size.toLong,
            c.removed.size.toLong,
            c.dvAdded.size.toLong,
            c.cdc.size.toLong,
            c.ts
          )
        ): InternalRow
      }
      .toArray
    new MetaRowsTable(name, schema, rows)
  }

  /** `db.t.detail` — the Delta DESCRIBE DETAIL analogue, one row of
    * table-level facts, all from metadata the log/`_table.json`
    * already hold: head version, live file count, exact on-disk
    * bytes and (when every live file recorded them) exact rows, and
    * the table's layout/index/contract configuration. Zero data IO.
    */
  def detail(name: String, dir: String, meta: ManifestTableMeta, nConstraints: Int): Table = {
    val log = DurableManifestLog.open(dir)
    val head = log.head()
    val stats = log.liveStats(head)
    val live = log.liveFiles(head).toSeq
    val schema = StructType(
      Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("cluster_key", StringType, nullable = true),
        StructField("partition_col", StringType, nullable = true),
        StructField("bucket_spec", StringType, nullable = true),
        StructField("bloom_col", StringType, nullable = true),
        StructField("change_feed", BooleanType, nullable = false),
        StructField("n_constraints", LongType, nullable = false)
      )
    )
    val bytes = live.map { r =>
      stats.get(r).map(_.bytes).filter(_ > 0L).getOrElse(GraftFs.fileLength(s"$dir/${r.dir}/${r.file}"))
    }.sum
    val rows: Any =
      if (live.forall(stats.contains)) live.map(stats(_).rows).sum else null
    val row: InternalRow = new GenericInternalRow(
      Array[Any](
        head,
        live.size.toLong,
        bytes,
        rows,
        meta.clusterKey.map(UTF8String.fromString).orNull,
        meta.partitionCol.map(UTF8String.fromString).orNull,
        meta.bucket.map { case (c, n) => UTF8String.fromString(s"bucket($n, $c)") }.orNull,
        meta.bloomCol.map(UTF8String.fromString).orNull,
        meta.changeFeed,
        nConstraints.toLong
      )
    )
    new MetaRowsTable(name, schema, Array(row))
  }

  /** `db.t.constraints` — the in-force CHECK constraints as rows
    * (the information_schema.table_constraints shape): SQL
    * introspection of the versioned contract metadata.
    */
  def constraints(name: String, cons: Seq[CheckSpec]): Table = {
    val schema = StructType(
      Seq(
        StructField("name", StringType, nullable = false),
        StructField("predicate_sql", StringType, nullable = false),
        StructField("enforced", BooleanType, nullable = false)
      )
    )
    val rows: Array[InternalRow] = cons.sortBy(_.name).map { c =>
      new GenericInternalRow(
        Array[Any](UTF8String.fromString(c.name), UTF8String.fromString(c.sql), c.enforced)
      ): InternalRow
    }.toArray
    new MetaRowsTable(name, schema, rows)
  }

  def files(name: String, dir: String): Table = {
    val log = DurableManifestLog.open(dir)
    val head = log.head()
    val stats = log.liveStats(head)
    val schema = StructType(
      Seq(
        StructField("dir", StringType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("min_key", LongType, nullable = true),
        StructField("max_key", LongType, nullable = true),
        StructField("n_rows", LongType, nullable = true)
      )
    )
    val rows: Array[InternalRow] = log
      .liveFiles(head)
      .toSeq
      .sortBy(r => (r.dir, r.file))
      .map { r =>
        val st = stats.get(r)
        val zone = st.filter(s => s.min <= s.max) // empty-zone sentinel reads as "no key zone"
        new GenericInternalRow(
          Array[Any](
            UTF8String.fromString(r.dir),
            UTF8String.fromString(r.file),
            zone.map(_.min).orNull,
            zone.map(_.max).orNull,
            st.map(_.rows).orNull
          )
        ): InternalRow
      }
      .toArray
    new MetaRowsTable(name, schema, rows)
  }
}

/** A read-only table over driver-held rows (the ScratchScan shipping
  * pattern): rows snapshot at load, shipped inside the partition.
  */
private[sources] class MetaRowsTable(tableName: String, tableSchema: StructType, rows: Array[InternalRow])
    extends Table
    with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.Scan with org.apache.spark.sql.connector.read.Batch {
      override def build(): org.apache.spark.sql.connector.read.Scan = this
      override def readSchema(): StructType = tableSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
        Array(MetaRowsPartition(rows))
      override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new MetaRowsReaderFactory
    }
}

private[sources] case class MetaRowsPartition(rows: Array[InternalRow])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] class MetaRowsReaderFactory extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition
  ): org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[MetaRowsPartition].rows.iterator
      private var current: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) current = it.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Drops MergeRows' leading `__row_operation` slot when present (row
  * arity = table arity + 1), so the delegated parquet writer encodes
  * exactly the table columns. Values are read positionally offset by
  * one and handed straight to the inner writer, which copies what it
  * buffers — no second deep copy needed.
  */
private[sources] class OpStrippingWriterFactory(inner: DataWriterFactory, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val iw = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      private val n = schema.length
      private val buf = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n)
      override def write(row: InternalRow): Unit = {
        val base = row.numFields - n
        require(base == 0 || base == 1, s"row arity ${row.numFields} vs table arity $n")
        if (base == 0) iw.write(row)
        else {
          var i = 0
          while (i < n) {
            buf.update(i, row.get(i + 1, schema(i).dataType))
            i += 1
          }
          iw.write(buf)
        }
      }
      override def commit(): WriterCommitMessage = iw.commit()
      override def abort(): Unit = iw.abort()
      override def close(): Unit = iw.close()
    }
  }
}
