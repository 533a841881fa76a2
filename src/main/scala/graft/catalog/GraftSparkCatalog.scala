package graft.catalog

import java.nio.file.Paths
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 catalog plugin exposing [[GraftCatalog]] tables to Spark
  * SQL — the integration shape the reference gets from Iceberg's
  * SparkCatalog (`/root/reference/conf/spark-defaults.conf:2-5`: a named
  * catalog + warehouse, resolved by the analyzer). Register per session:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftSparkCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/wh")
  *   spark.sql("SELECT * FROM graft.nyc.region VERSION AS OF 1")
  * }}}
  *
  * Reads resolve the snapshot's file list at ANALYSIS time (metadata-only,
  * like every other read path here) and hand Spark a stock ParquetTable —
  * so pushdown, vectorization and AQE all apply unchanged. `VERSION AS OF`
  * maps to the snapshot id via the time-travel `loadTable` overload.
  * Tables carrying merge-on-read delete debt are refused (materialize
  * first): silently returning rows-with-deleted-data would be worse than
  * an error. DDL surface: CREATE/DROP TABLE (incl. CTAS), namespaces, and
  * schema evolution via ALTER TABLE ADD/RENAME/DROP COLUMN + ALTER COLUMN
  * TYPE (metadata-only commits; see [[GraftCatalog.addColumn]]). Iceberg-
  * style metadata tables resolve as `cat.ns.t.snapshots` / `.files` /
  * `.history` ([[GraftMetadataTable]]). Table RENAME stays unsupported.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catName: String = _
  private var cat: GraftCatalog = _
  private var morDml: Boolean = false
  private var identityCols: Seq[String] = Nil

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val wh = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    // DML mode, mirroring Iceberg's write.update.mode / write.merge.mode:
    //  - copy-on-write (default): one overwrite snapshot, O(table) write,
    //    zero read overhead
    //  - merge-on-read: delta row-level ops, O(changed rows) write — the
    //    100 TB write path; reads through this SQL catalog then refuse
    //    until the debt is materialized (GraftCatalog.readTable folds it).
    //    Requires `rowlevel.identity`: the row-identity columns equality
    //    deletes key on — Iceberg's identifier fields, which must be
    //    non-null and unique per row (a user contract there too).
    val mode = Option(options.get("rowlevel.mode")).getOrElse("copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"catalog $name: rowlevel.mode must be copy-on-write or merge-on-read, got $mode")
    morDml = mode == "merge-on-read"
    identityCols = Option(options.get("rowlevel.identity"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    require(!morDml || identityCols.nonEmpty,
      s"catalog $name: rowlevel.mode=merge-on-read requires rowlevel.identity " +
        "(comma-separated row-identity columns, like Iceberg identifier fields)")
    cat = new GraftCatalog(wh)
  }

  override def name(): String = catName

  private def nsOf(ident: Identifier): String = ident.namespace.mkString(".")

  // ----------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.mkString(".")
    if (!cat.namespaceExists(ns)) throw new NoSuchNamespaceException(namespace.toSeq)
    cat.listTables(ns).map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    cat.tableExists(nsOf(ident), ident.name)

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <snapshot-id-or-tag>` time travel: numeric versions
    * are snapshot ids; anything else resolves as an Iceberg-style tag. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(cat.resolveRef(nsOf(ident), ident.name, version)))

  /** `TIMESTAMP AS OF <instant>` time travel — Spark hands MICROseconds
    * since epoch; resolve to the snapshot current at that wall-clock via
    * the commit log, then serve it exactly like `VERSION AS OF`. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Some(cat.snapshotAsOfTime(nsOf(ident), ident.name,
      timestamp / 1000L)))

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val ns = nsOf(ident)
    if (!cat.tableExists(ns, ident.name)) {
      // Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.snapshots`
      // parses as namespace [ns, t] + table "snapshots" — when no real
      // table shadows that identifier, serve the snapshot log itself
      // (driver-side rows via LocalScan; the log IS driver metadata).
      if (ident.namespace.length >= 2) {
        val baseNs = ident.namespace.init.mkString(".")
        val baseT = ident.namespace.last
        if (cat.tableExists(baseNs, baseT) &&
            GraftMetadataTable.kinds(ident.name.toLowerCase))
          return GraftMetadataTable(cat, catName, baseNs, baseT,
            ident.name.toLowerCase)
      }
      throw new NoSuchTableException(ident)
    }
    val meta = cat.loadTable(ns, ident.name)
    // Scan refusals are computed here but ENFORCED at scan-builder time,
    // not at resolution: DDL (the very ALTER that would fix a drift) and
    // plain INSERTs against such a table are legitimate — only READING
    // the files is unserved.
    //
    // (1) merge-on-read delete debt: silently returning deleted rows would
    // be worse than an error; materialize first.
    // (2) schema drift: this path hands Spark ONE stock ParquetTable,
    // which resolves columns by NAME. That stays correct across add/drop
    // evolution (missing columns null-fill, extra physical columns are
    // ignored) but NOT when a live file was written before a rename/type-
    // widening, or when an added column's name shadows a dropped column's
    // physical data — those need the id-based projection of
    // GraftCatalog.readTable. Refuse and direct to materialization.
    val drifted = meta.driftedVersions(asOf)
    val refuseScan =
      if (meta.deleteFilesAsOf(asOf).nonEmpty) Some(
        s"$ns.${ident.name} carries merge-on-read delete files; " +
          "materialize before SQL reads")
      else if (drifted.nonEmpty) Some(
        s"$ns.${ident.name}: live files were written under schema version(s) " +
          s"${drifted.mkString(", ")} whose physical layout differs from the " +
          "current schema (rename/type change); materialize " +
          "(Maintenance.optimize) before SQL reads — GraftCatalog.readTable " +
          "serves them directly")
      else None
    // In merge-on-read mode the identity columns are declared required —
    // Iceberg marks identifier fields non-null the same way (the analyzer
    // refuses nullable row-id attributes). Nulls there break the user
    // contract on both engines.
    val served =
      if (!morDml) meta.schema
      else {
        val missing = identityCols.filterNot(meta.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"$ns.${ident.name}: rowlevel.identity columns not in schema: ${missing.mkString(", ")}")
        StructType(meta.schema.map(f =>
          if (identityCols.contains(f.name)) f.copy(nullable = false) else f))
      }
    new GraftSqlTable(cat, catName, ns, ident.name, served, meta, asOf,
      morDml, identityCols, refuseScan)
  }

  /** CREATE TABLE, optionally `PARTITIONED BY` Iceberg-style hidden
    * transforms: `days(ts)`, `months(d)`, `years(d)`, `hours(ts)`,
    * `bucket(N, col)`, `truncate(W, col)`, or a bare column (identity).
    * The spec is stored by stable source-field id; queries keep filtering
    * on the SOURCE column and the scan prunes files through the transform
    * ([[GraftPruningScanBuilder]]). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    def colOf(ref: NamedReference): String = ref.fieldNames match {
      case Array(one) => one
      case other => throw new UnsupportedOperationException(
        s"nested partition source: ${other.mkString(".")}")
    }
    val spec = partitions.toSeq.map { t =>
      def oneRef: String = t.references() match {
        case Array(r) => colOf(r)
        case other => throw new UnsupportedOperationException(
          s"${t.name()} transform needs exactly one source column, " +
            s"got ${other.length}")
      }
      def intArg: Int = t.arguments().collectFirst {
        case l: VLiteral[_] => l.value().toString.toInt
      }.getOrElse(throw new UnsupportedOperationException(
        s"${t.name()} transform needs an integer argument"))
      t.name() match {
        case "identity" => ("identity", oneRef)
        case "years"    => ("year", oneRef)
        case "months"   => ("month", oneRef)
        case "days"     => ("day", oneRef)
        case "hours"    => ("hour", oneRef)
        case "bucket"   => (s"bucket[$intArg]", oneRef)
        case "truncate" => (s"truncate[$intArg]", oneRef)
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform: $other")
      }
    }
    cat.createTable(nsOf(ident), ident.name, schema, spec)
    loadTable(ident)
  }

  /** SQL `ALTER TABLE` schema evolution — the Iceberg-catalog surface the
    * reference's served SQL accepts (`ALTER TABLE … ADD COLUMNS`, `RENAME
    * COLUMN`, `DROP COLUMN`, `ALTER COLUMN TYPE`). All metadata-only
    * commits; id-based projection keeps old files readable
    * ([[GraftCatalog.addColumn]] and friends). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ns = nsOf(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "nested column additions are not supported")
        require(a.isNullable,
          "added columns must be nullable (existing rows have no value)")
        cat.addColumn(ns, ident.name, a.fieldNames()(0), a.dataType().sql)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "nested column renames are not supported")
        cat.renameColumn(ns, ident.name, r.fieldNames()(0), r.newName())
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "nested column drops are not supported")
        cat.dropColumn(ns, ident.name, dc.fieldNames()(0))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "nested column type changes are not supported")
        cat.widenColumn(ns, ident.name, u.fieldNames()(0), u.newDataType().sql)
      case c => throw new UnsupportedOperationException(
        s"unsupported table change: $c")
    }
    // return the post-ALTER table WITHOUT the serving checks: the DDL
    // itself is metadata-only and always valid — the drift/debt refusals
    // guard scans, and re-running them here would make the very rename
    // that causes drift fail instead of the later read
    val ns2 = nsOf(ident)
    val meta = cat.loadTable(ns2, ident.name)
    new GraftSqlTable(cat, catName, ns2, ident.name, meta.schema, meta,
      None, morDml, identityCols)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not supported")

  override def dropTable(ident: Identifier): Boolean =
    cat.dropTable(nsOf(ident), ident.name)

  // ------------------------------------------------------------- namespaces

  // ------------------------------------------------------------- functions

  /** FunctionCatalog: the one system function (`bucket`) that lets the
    * planner resolve a scan-reported `bucket(N, col)` transform and prove
    * two bucket-partitioned tables co-clustered for storage-partitioned
    * joins — the role Iceberg's `system.bucket` plays for its SPJ. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket") &&
        (ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** ProcedureCatalog: the Iceberg-style maintenance verbs behind Spark 4's
    * native `CALL cat.system.<proc>(...)` statement ([[GraftProcedures]]). */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))
    (if (ok) GraftProcedures.load(cat, ident.name.toLowerCase) else None)
      .getOrElse(throw new RuntimeException(
        s"$catName: no such procedure ${ident.namespace.mkString(".")}.${ident.name}"))
  }

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(ns => Array(ns)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (cat.namespaceExists(namespace.mkString("."))) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    cat.namespaceExists(namespace.mkString("."))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (cat.namespaceExists(namespace.mkString(".")))
      Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    cat.createNamespace(namespace.mkString("."))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("drop namespace is not supported")
}

/** One catalog table as Spark SQL sees it: reads delegate to a stock
  * ParquetTable over the snapshot's resolved file list; writes (`INSERT
  * INTO` / `INSERT OVERWRITE`) land parquet under the table's `data/` dir
  * and commit ONE append/overwrite snapshot — atomic exactly like the
  * programmatic [[GraftCatalog]] path, through the V1Write bridge (the
  * same route mature connectors take for driver-coordinated commits).
  * Row-level DML (`MERGE INTO` / `UPDATE` / `DELETE`) runs in the
  * catalog's configured mode: copy-on-write (default — metadata delete
  * fast path for filter-expressible DELETEs, ReplaceData whole-group
  * rewrite otherwise) or merge-on-read (`rowlevel.mode=merge-on-read`,
  * delta writes costing O(changed rows)). */
private[catalog] class GraftSqlTable(cat: GraftCatalog, catName: String,
                                     ns: String, tbl: String,
                                     tableSchema: StructType,
                                     meta: TableMeta,
                                     asOf: Option[Long],
                                     morDml: Boolean = false,
                                     identityCols: Seq[String] = Nil,
                                     refuseScan: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with TruncatableTable {

  private val files: Seq[DataFileMeta] = meta.filesAsOf(asOf)
  private def spec: Seq[PartitionField] = meta.spec
  private def specFields: Seq[FieldMeta] = meta.currentSchemaVersion.fields
  // the snapshot `files` was resolved at — the DERIVATION BASE every
  // copy-on-write rewrite below commits with, so a racing append folds in
  // instead of being erased
  private def baseSnapshotId: Long = asOf.getOrElse(meta.currentSnapshotId)
  private def paths: Seq[String] = files.map(_.path)

  /** Enforce the serving refusals (MoR debt / schema drift, computed at
    * load) on every path that READS file bytes by name. */
  private def requireServable(): Unit =
    refuseScan.foreach(msg => throw new IllegalStateException(msg))

  /** Report the Iceberg-style spec back to Spark (`DESCRIBE`, `SHOW CREATE
    * TABLE` surfaces it as `PARTITIONED BY`). */
  override def partitioning(): Array[Transform] = spec.toArray.map { pf =>
    val src = specFields.find(_.id == pf.sourceId)
      .map(_.name).getOrElse(pf.name)
    pf.transform match {
      case "identity" => Expressions.identity(src)
      case "year"     => Expressions.years(src)
      case "month"    => Expressions.months(src)
      case "day"      => Expressions.days(src)
      case "hour"     => Expressions.hours(src)
      case b if b.startsWith("bucket[") =>
        Expressions.bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt, src)
      case t if t.startsWith("truncate[") =>
        Expressions.apply("truncate",
          Expressions.literal(t.stripPrefix("truncate[").stripSuffix("]").toInt),
          Expressions.column(src))
    }
  }

  /** SQL `TRUNCATE TABLE`: one EMPTY overwrite snapshot — metadata-only
    * (no file is touched), earlier states stay time-travelable, exactly
    * the Iceberg truncate semantics. */
  override def truncateTable(): Boolean = {
    cat.registerFiles(ns, tbl, Nil, operation = "overwrite")
    true
  }

  override def name(): String = s"$catName.$ns.$tbl"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    // BATCH_WRITE is what the row-level (MERGE/UPDATE) ReplaceData write
    // uses; plain INSERT still takes the V1Write route below (the planner
    // dispatches on the Write instance, not the capability set).
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  /** SQL `MERGE INTO` / `UPDATE` (and the non-filter-expressible `DELETE`
    * residue): Spark's native analyzer rules (RewriteMergeIntoTable /
    * RewriteUpdateTable / RewriteDeleteFromTable) rewrite the statement
    * into a ReplaceData plan over this GROUP-BASED copy-on-write
    * operation — the same statement surface the reference gets from
    * Iceberg's extensions (`/root/reference/conf/spark-defaults.conf:1`,
    * `entrypoint-spark.sh:85`). The scan side re-reads the current
    * snapshot; the write side delegates the distributed parquet write to
    * Spark's own DSv2 ParquetTable write aimed at a fresh staging dir
    * under the table's `data/`, then commits ONE overwrite snapshot —
    * atomic, time-travel preserving, identical in shape to
    * [[graft.etl.Merge.mergeInto]]. At 100 TB the rewrite cost is
    * O(table) by design (copy-on-write); the O(changed-rows) trade is the
    * merge-on-read path ([[GraftCatalog.commitMergeOnRead]]).
    *
    * On a PARTITIONED table this rewrite stages flat files (the delegated
    * executor-side writers cannot re-derive tuples), so partition pruning
    * degrades to footer-stats pruning until the next partitioned write or
    * `Maintenance.optimize` (which re-clusters and re-records tuples). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    if (morDml) newMorOperationBuilder(info) else newCowOperationBuilder(info)

  private def newCowOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation {
        override def command(): RowLevelOperation.Command = info.command()

        // the commit replaces the WHOLE table with what this scan read, so
        // it must read every row: no file pruning and no pushed filter.
        // Spark pushes the statement's condition into whatever builder it
        // gets, and the stock parquet scan would skip the row groups (whole
        // files) that cannot match it; a bare ScanBuilder accepts nothing.
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
          val all = GraftSqlTable.this.rawScanBuilder(options)
          new ScanBuilder { override def build(): Scan = all.build() }
        }

        override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder = {
          val staging = Paths.get(cat.warehouse, ns, tbl, "data",
            s"rowlevel-${Stamp.next()}")
          val delegate = ParquetTable(s"$catName.$ns.$tbl-rowlevel",
            SparkSession.active, CaseInsensitiveStringMap.empty(),
            Seq(staging.toString), Some(tableSchema), classOf[ParquetFileFormat])
            .newWriteBuilder(writeInfo)
          val dataSchema = writeInfo.schema()
          new WriteBuilder { override def build(): Write = new Write {
            private val inner = delegate.build().toBatch
            override def toBatch: BatchWrite = new BatchWrite {
              override def createBatchWriterFactory(
                  p: PhysicalWriteInfo): DataWriterFactory =
                new RowSuffixProjectingFactory(
                  inner.createBatchWriterFactory(p), dataSchema)
              override def useCommitCoordinator(): Boolean =
                inner.useCommitCoordinator()
              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                // parquet job commit first (files become final in staging),
                // then one atomic catalog snapshot replacing the table
                inner.commit(messages)
                cat.registerFiles(ns, tbl, Seq(staging), operation = "overwrite",
                  baseSnapshotId = Some(baseSnapshotId))
              }
              override def abort(messages: Array[WriterCommitMessage]): Unit =
                inner.abort(messages)
            }
          } }
        }
      }
    }

  /** UNPRUNED scan over every live file — the base for the pruning
    * builder and the MANDATORY scan for row-level rewrites: the group-based
    * copy-on-write commit replaces the WHOLE table with the rewritten scan
    * output, so pruning that scan would drop untouched files' rows.
    * `recursiveFileLookup` disables Hive partition-column inference —
    * partitioned writes place files under `<field>=<value>` dirs, but those
    * are derived values (hidden partitioning), never columns. */
  private def rawScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    requireServable()
    GraftPruningScanBuilder.parquetBuilder(name(), tableSchema, paths, options)
  }

  /** Scans through SQL prune files at PLAN time from the pushed filters,
    * through the catalog's one scan planner ([[GraftCatalog.planFiles]]:
    * partition, then stats, then bloom). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // always the pruning builder: it degrades to a plain delegate scan
    // when nothing prunes, and it is what serves metadata-only COUNT(*)
    // (exact per-file row counts exist for every registered file)
    {
      requireServable()
      new GraftPruningScanBuilder(cat, name(), tableSchema, meta, asOf, options)
    }

  import org.apache.spark.sql.sources
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}

  private def filterToColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case sources.Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(not)
    case _ => None
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    // in merge-on-read mode every DELETE goes through the delta row-level
    // path (writes only the doomed rows' ids); the copy-on-write rewrite
    // below would be O(table)
    !morDml && filters.forall(filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    requireServable() // the SQL table's refusals hold for DELETE as for scans
    val spark = SparkSession.active
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // the state this table was loaded at, through the catalog's one read
    val current = cat.readInternal(spark, meta, asOf, Nil, withPos = false)
    // SQL DELETE removes only rows where the predicate is TRUE — a row where
    // it evaluates NULL must survive, so the keep-filter is NOT(coalesce(p,
    // false)), not NOT(p) (which is NULL for NULL inputs and would drop them).
    val kept = current.filter(
      not(org.apache.spark.sql.functions.coalesce(cond, lit(false))))
    if (spec.nonEmpty)
      // keep the surviving rows partition-clustered (tuples re-recorded)
      cat.writePartitioned(spark, ns, tbl, kept, operation = "overwrite",
        baseSnapshotId = Some(baseSnapshotId))
    else {
      val dir = Paths.get(cat.warehouse, ns, tbl, "data",
        s"delete-${Stamp.next()}")
      kept.write.parquet(dir.toString)
      cat.registerFiles(ns, tbl, Seq(dir), operation = "overwrite",
        baseSnapshotId = Some(baseSnapshotId))
    }
  }

  /** Merge-on-read (delta) row-level operation: Spark's WriteDelta plan
    * sends ONLY changed rows — insert(row) / delete(id) / update(id, row)
    * — so a 1-row UPDATE on a 100 TB table writes one data file and one
    * equality-delete file instead of rewriting the table. Row identity is
    * the catalog's declared `rowlevel.identity` columns — Iceberg's
    * identifier fields, with the same user contract (non-null, unique per
    * row); delete files carry ONLY those key tuples and the read-side
    * anti-join is null-safe. Each task writes via two delegated
    * DSv2 parquet writers (data + delete staging dirs); the driver commit
    * registers ONE atomic "merge"/"delete"/append snapshot with cost
    * O(changed rows). Reads through this SQL catalog refuse the debt
    * until materialized ([[GraftCatalog.readTable]] folds it; Maintenance
    * .optimize / Merge.materialize clear it). */
  private def newMorOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new RowLevelOperation with SupportsDelta {
        override def command(): RowLevelOperation.Command = info.command()

        // the delta's derivation base is the snapshot the REWRITE SCAN
        // read — captured when Spark creates that scan, not when the
        // write builder appears later in planning (a commit landing in
        // between would otherwise slip under the base-validation)
        @volatile private var scanBase: Option[Long] = None

        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
          scanBase = Some(cat.loadTable(ns, tbl).currentSnapshotId)
          GraftSqlTable.this.rawScanBuilder(options) // never prune a rewrite scan
        }

        override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          identityCols.toArray.map(
            org.apache.spark.sql.connector.expressions.Expressions.column)

        override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder = {
          // the commit carries the scan-time base so a racing overwrite
          // (compaction, CoW DML) refuses loudly instead of landing a
          // delete whose tuples reference replaced files
          // (GraftCatalog.validateDeltaBase); fall back to now only if
          // Spark somehow built the write before any scan
          val deriveBase = scanBase.getOrElse(
            cat.loadTable(ns, tbl).currentSnapshotId)
          val ts = Stamp.next()
          val dataDir = Paths.get(cat.warehouse, ns, tbl, "data", s"mor-data-$ts")
          val delDir = Paths.get(cat.warehouse, ns, tbl, "data", s"mor-delete-$ts")
          val idSchema = writeInfo.rowIdSchema().orElse(
            StructType(tableSchema.filter(f => identityCols.contains(f.name))))
          // data side: Spark's own DSv2 parquet write at a staging dir.
          // The DELETE side cannot be a second FileWrite: both would call
          // the Hadoop commit protocol for the same (stage, partition) and
          // the OutputCommitCoordinator authorizes only the first
          // (CommitDeniedException). Delete files are tiny key tuples, so
          // each task writes them directly with ParquetWriteSupport and
          // publishes by atomic rename — no commit protocol needed.
          // a pure DELETE writes no data rows: its write schema is EMPTY,
          // which the parquet FileWrite rejects — skip the data delegate
          val dataDelegate = if (writeInfo.schema().isEmpty) None else Some(
            ParquetTable(s"$catName.$ns.$tbl-mor-data", SparkSession.active,
              CaseInsensitiveStringMap.empty(), Seq(dataDir.toString),
              Some(writeInfo.schema()), classOf[ParquetFileFormat])
              .newWriteBuilder(new LogicalWriteInfo {
                override def options(): CaseInsensitiveStringMap = writeInfo.options()
                override def queryId(): String = writeInfo.queryId() + "-data"
                override def schema(): StructType = writeInfo.schema()
                // the interface DEFAULTS throw; the delegate is a plain
                // batch parquet write, so both are empty here
                override def rowIdSchema(): java.util.Optional[StructType] =
                  java.util.Optional.empty()
                override def metadataSchema(): java.util.Optional[StructType] =
                  java.util.Optional.empty()
              }))
          val delConf = {
            val spark = SparkSession.active
            val c = spark.sessionState.newHadoopConf()
            org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
              .setSchema(idSchema, c)
            // ParquetWriteSupport.init asserts these are explicitly set
            // (ParquetFileFormat.prepareWrite normally does it)
            import org.apache.spark.sql.internal.SQLConf
            Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
              SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
              SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
              SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE,
              SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
              SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
              .foreach(e => c.set(e.key, spark.conf.get(e.key)))
            new org.apache.spark.util.SerializableConfiguration(c)
          }
          new DeltaWriteBuilder {
            override def build(): DeltaWrite = new DeltaWrite {
              private val dataInner = dataDelegate.map(_.build().toBatch)
              override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
                override def createBatchWriterFactory(
                    p: PhysicalWriteInfo): DeltaWriterFactory =
                  MorDeltaWriterFactory(
                    dataInner.map(_.createBatchWriterFactory(p)),
                    delDir.toString, delConf)
                override def useCommitCoordinator(): Boolean =
                  dataInner.forall(_.useCommitCoordinator())
                override def commit(messages: Array[WriterCommitMessage]): Unit = {
                  val msgs = messages.map(_.asInstanceOf[MorDeltaCommit])
                  dataInner.foreach(_.commit(msgs.flatMap(_.data)))
                  // register O(changed rows): drop empty part files (a task
                  // that saw no row of a kind) and uncommitted .tmp files
                  def live(dir: java.nio.file.Path) =
                    if (!java.nio.file.Files.isDirectory(dir)) Nil
                    else cat.statFiles(Fs.regularFiles(dir, Seq(".parquet")))
                      .filter(_.rowCount > 0).map(f => Paths.get(f.path))
                  val (delFs, dataFs) = (live(delDir), live(dataDir))
                  if (delFs.nonEmpty)
                    cat.commitMergeOnRead(ns, tbl, idSchema.fieldNames.toSeq,
                      delFs, dataFs, baseSnapshotId = Some(deriveBase))
                  else if (dataFs.nonEmpty)
                    cat.registerFiles(ns, tbl, dataFs, operation = "append")
                }
                override def abort(messages: Array[WriterCommitMessage]): Unit =
                  dataInner.foreach(_.abort(
                    messages.collect { case m: MorDeltaCommit => m }.flatMap(_.data)))
              }
            }
          }
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwriteMode = false
      override def truncate(): WriteBuilder = { overwriteMode = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val op = if (overwriteMode || overwrite) "overwrite" else "append"
              if (spec.nonEmpty)
                // partitioned table: cluster by the spec's transforms and
                // record each file's partition tuple for scan pruning
                cat.writePartitioned(SparkSession.active, ns, tbl, data, op)
              else {
                val dir = Paths.get(cat.warehouse, ns, tbl, "data",
                  s"insert-${Stamp.next()}")
                data.write.parquet(dir.toString)
                cat.registerFiles(ns, tbl, Seq(dir), operation = op)
              }
            }
          }
      }
    }
}

/** Scan-planning file pruning for the SQL read path. Implements the same
  * catalyst-filter pushdown interface the stock parquet builder does, so
  * NOTHING is lost downstream: the pushed filters are (1) translated to
  * source filters and used to prune the FILE LIST through the catalog's
  * one scan planner ([[GraftCatalog.planFiles]]: partition-tuple
  * projection through the hidden-partitioning transforms, footer min/max
  * bounds, then bloom sidecars for point predicates), then (2) delegated
  * verbatim to a stock parquet ScanBuilder over the surviving files,
  * which keeps row-group pushdown, column pruning, and vectorized reads
  * exactly as before (PlanSpec pins the PushedFilters transparency). */
private[catalog] class GraftPruningScanBuilder(
    cat: GraftCatalog, tableName: String, tableSchema: StructType,
    meta: TableMeta, asOf: Option[Long], options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private val files: Seq[DataFileMeta] = meta.filesAsOf(asOf)
  private var inner: ScanBuilder = _
  private var hadFilters = false
  // pushed metadata aggregate: (output schema, the single pre-aggregated row)
  private var pushedAgg: Option[(StructType, Array[Any])] = None

  /** METADATA-ONLY aggregates: the catalog records every file's exact
    * footer row count, per-column value/null counts and per-column
    * min/max bounds, so an unfiltered global `COUNT(*)`, a `COUNT(col)`
    * / null-count query (`count(*) - count(col)`) over columns whose
    * files all carry counts — and `MIN`/`MAX` over columns whose stats are
    * EXACT in the recorded double (int/short/byte/date: 32-bit values;
    * never long/float/double/string, where doubles round or footer bounds
    * truncate) — is answerable without opening a single data file: the
    * Iceberg manifests-aggregate optimization, at 100 TB the difference
    * between milliseconds and a full-table scan. Strictly conservative:
    * any pushed filter (pruning keeps a SUPERSET of matching rows), any
    * grouping, any other aggregate, or any live file MISSING stats for a
    * referenced column (e.g. an all-null chunk) declines, and the stock
    * scan proceeds. The partial-pushdown contract (supportCompletePushDown
    * stays false) means Spark still runs the final fold over our single
    * pre-aggregated row. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.types._
    if (hadFilters || agg.groupByExpressions().nonEmpty ||
        agg.aggregateExpressions().isEmpty)
      return false
    def exactField(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        tableSchema.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
          .filter(f => f.dataType match {
            case IntegerType | ShortType | ByteType | DateType => true
            case _ => false
          })
      case _ => None
    }
    // every live file must carry bounds for the column, else its rows are
    // invisible to the metadata min/max
    def bounds(f: StructField): Option[(Double, Double)] = {
      val per = files.map(_.colRanges.flatMap(_.collectFirst {
        case (n, r) if n.equalsIgnoreCase(f.name) => r }))
      if (per.isEmpty || per.exists(_.isEmpty)) None
      else Some((per.flatten.map(_.min).min, per.flatten.map(_.max).max))
    }
    def narrow(f: StructField, v: Double): Any = f.dataType match {
      case ShortType => v.toShort
      case ByteType  => v.toByte
      case _         => v.toInt // int + date (days since epoch)
    }
    // COUNT(col) = Σ per file (value_count − null_value_count), the
    // Iceberg DataFile metrics recorded at stat time (round 11). Exact
    // for ANY column type — no bounds involved — but every live file
    // must carry BOTH counts for the column (pre-round-11 manifests and
    // nested/repeated columns have neither → decline, stock scan runs).
    // DISTINCT declines: manifests cannot answer cardinality.
    def nonNullCount(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Long] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        val name = r.fieldNames()(0)
        val per = files.map { df =>
          for {
            vc <- df.valueCounts.flatMap(_.collectFirst {
              case (n, v) if n.equalsIgnoreCase(name) => v })
            nc <- df.nullCounts.flatMap(_.collectFirst {
              case (n, v) if n.equalsIgnoreCase(name) => v })
          } yield vc - nc
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      case _ => None
    }
    val resolved = agg.aggregateExpressions().map {
      case _: CountStar =>
        Some((StructField(s"count", LongType, nullable = false),
          files.map(_.rowCount).sum: Any))
      case c: Count if !c.isDistinct =>
        nonNullCount(c.column).map(n =>
          (StructField(s"count", LongType, nullable = false), n: Any))
      case m: Min => exactField(m.column).flatMap(f =>
        bounds(f).map(b => (f.copy(name = "min"), narrow(f, b._1))))
      case m: Max => exactField(m.column).flatMap(f =>
        bounds(f).map(b => (f.copy(name = "max"), narrow(f, b._2))))
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) return false
    // MIN/MAX over an EMPTY table yields null through the normal scan; an
    // empty pre-aggregated frame would be wrong for COUNT — decline the
    // whole push instead of special-casing
    if (files.isEmpty && resolved.flatten.exists(_._1.name != "count"))
      return false
    val fields = resolved.flatten.zipWithIndex.map { case ((f, _), i) =>
      f.copy(name = s"${f.name}_$i") }
    pushedAgg = Some((StructType(fields), resolved.flatten.map(_._2).toArray))
    true
  }

  private def delegate: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =
    ensure().asInstanceOf[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]

  private def ensure(): ScanBuilder = {
    if (inner == null)
      inner = GraftPruningScanBuilder.parquetBuilder(
        tableName, tableSchema, files.map(_.path), options)
    inner
  }

  /** Files the built scan will read (narrowed by pushFilters pruning). */
  private var scanFiles: Seq[DataFileMeta] = files

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (inner == null) {
      hadFilters = filters.nonEmpty
      scanFiles = cat.planFiles(meta, asOf,
        filters.flatMap(Partitioning.translateForPruning))
      inner = GraftPruningScanBuilder.parquetBuilder(
        tableName, tableSchema, scanFiles.map(_.path), options)
    }
    delegate.pushFilters(filters)
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    // with a pushed aggregate the required schema is the AGGREGATE's shape
    // (e.g. `count(*)`), not table columns — the delegate never sees it
    if (pushedAgg.isEmpty)
      ensure().asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
        .pruneColumns(requiredSchema)

  override def build(): org.apache.spark.sql.connector.read.Scan =
    pushedAgg match {
      case Some((schema, values)) =>
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
        val row: Array[InternalRow] = Array(new GenericInternalRow(values))
        new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[InternalRow] = row
          override def readSchema(): StructType = schema
          override def description(): String =
            s"$tableName metadata-only aggregate ${schema.fieldNames.mkString(",")}"
        }
      case None =>
        // storage-partitioned-join reporting, when sound and opted into
        GraftKeyedScan.maybeWrap(ensure().build(), scanFiles, meta.specForFile,
          meta.currentSchemaVersion.fields)
    }
}

object GraftPruningScanBuilder {
  /** Distinct data files the scans of `df`'s executed plan read — the
    * input partitions of each DSv2 batch scan, so a query reports its own
    * pruning (no shared state between concurrent sessions). Planning runs
    * once per Dataset: collect from `df` itself, then call this. */
  def filesScanned(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def paths(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => paths(a.executedPlan)
      case q: QueryStageExec => paths(q.plan)
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case f: FilePartition => f.files.map(_.filePath.toString).toSeq
        case _ => Nil
      }
      case other => (other.children ++ other.subqueries).flatMap(paths)
    }
    paths(df.queryExecution.executedPlan).distinct.size
  }

  /** Stock parquet ScanBuilder over an explicit LEAF-file list. Leaf files
    * never trigger Hive partition-column inference, so the
    * `<field>=<value>` directories a partitioned write produces hold
    * DERIVED values (hidden partitioning), never become columns — and a
    * file registered by two snapshots is scanned twice, as the snapshot
    * log says. */
  def parquetBuilder(tableName: String, schema: StructType,
                     paths: Seq[String],
                     options: CaseInsensitiveStringMap): ScanBuilder =
    ParquetTable(tableName, SparkSession.active, options, paths,
      Some(schema), classOf[ParquetFileFormat]).newScanBuilder(options)
}

/** Projects incoming rows down to the declared data schema by taking the
  * TRAILING `schema.length` fields. Needed because Spark's group-based
  * ReplaceData plan prepends an internal `__row_operation` column to the
  * rewritten rows for UPDATE/MERGE, and `ReplaceDataExec.writingTask` only
  * strips it when the operation declared metadata attributes (Iceberg's
  * `_spec_id`/`_partition` case) — with zero metadata attributes the plain
  * writing task hands the writer the raw query row. The data columns are
  * always the suffix (operation column first, no metadata columns here), so
  * a fixed trailing-ordinal projection restores the declared write schema;
  * rows already at the declared width (group-based DELETE) pass through. */
private[catalog] class RowSuffixProjectingFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val n = dataSchema.length
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == n) w.write(row)
        else {
          if (proj == null) proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            dataSchema, (row.numFields - n) until row.numFields)
          proj.project(row)
          w.write(proj)
        }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Per-task commit message of the merge-on-read delta write: carries the
  * data-side delegate's message; delete files are published by atomic
  * rename inside the task commit, so they need no message. */
private[catalog] case class MorDeltaCommit(
    data: Option[org.apache.spark.sql.connector.write.WriterCommitMessage])
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Creates per-task delta writers: the data side delegates to Spark's
  * parquet DataWriter, the delete side is a task-local direct parquet
  * writer (no commit protocol — see newMorOperationBuilder). */
private[catalog] case class MorDeltaWriterFactory(
    dataF: Option[org.apache.spark.sql.connector.write.DataWriterFactory],
    delDir: String,
    delConf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new MorDeltaWriter(dataF.map(_.createWriter(partitionId, taskId)),
      delDir, delConf, partitionId, taskId)
}

/** Delta callbacks -> parquet rows: inserts land in the data file, deletes
  * land their row-id tuple in the equality-delete file, updates do both
  * (delete old id, insert new row) — Iceberg v2 merge-on-read shape. The
  * delete writer opens lazily on the first delete, writes to a dot-tmp
  * name, and publishes by ATOMIC rename at task commit, so failed
  * attempts never leave a half-written .parquet behind (taskId is
  * attempt-unique, and `live()` on the driver ignores .tmp files). */
private[catalog] class MorDeltaWriter(
    data: Option[org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow]],
    delDir: String,
    delConf: org.apache.spark.util.SerializableConfiguration,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DeltaWriter[org.apache.spark.sql.catalyst.InternalRow] {
  import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
  import org.apache.spark.sql.catalyst.InternalRow

  private val tmpPath = s"$delDir/.part-$partitionId-$taskId.tmp"
  private val finalPath = s"$delDir/part-$partitionId-$taskId.parquet"
  private var delWriter: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _

  // the deprecated ctor is the only public way to pass a CUSTOM
  // WriteSupport (the Builder API requires subclassing per support class)
  @scala.annotation.nowarn("cat=deprecation")
  private def del(): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    if (delWriter == null) {
      JFiles.createDirectories(JPaths.get(delDir))
      delWriter = new org.apache.parquet.hadoop.ParquetWriter[InternalRow](
        new org.apache.hadoop.fs.Path(tmpPath),
        new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport,
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY,
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE,
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_PAGE_SIZE,
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_PAGE_SIZE,
        true, false,
        org.apache.parquet.column.ParquetProperties.WriterVersion.PARQUET_1_0,
        delConf.value)
    }
    delWriter
  }

  override def insert(row: InternalRow): Unit = data.get.write(row)
  override def delete(meta: InternalRow, id: InternalRow): Unit = del().write(id)
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    del().write(id); data.get.write(row)
  }
  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (delWriter != null) {
      delWriter.close()
      JFiles.move(JPaths.get(tmpPath), JPaths.get(finalPath),
        StandardCopyOption.ATOMIC_MOVE)
    }
    MorDeltaCommit(data.map(_.commit()))
  }
  override def abort(): Unit =
    try data.foreach(_.abort())
    finally {
      if (delWriter != null) {
        try delWriter.close() catch { case _: Throwable => () }
      }
      JFiles.deleteIfExists(JPaths.get(tmpPath))
    }
  override def close(): Unit = data.foreach(_.close())
}

/** Iceberg-style SQL metadata tables (`cat.ns.t.snapshots` / `.files` /
  * `.history` — the surface the reference's served catalog exposes to
  * Superset, `entrypoint-spark.sh:89-92`). The snapshot log already lives
  * on the driver, so the scan is a [[org.apache.spark.sql.connector.read.LocalScan]]:
  * metadata-only, no data file is read — the same cost model as Iceberg's
  * metadata tables, which read manifests, not data. The scan runs no job
  * of its own, but a query over it still runs its plan's jobs, at least
  * the one that returns the rows: `ORDER BY snapshot_id` runs one, since
  * a global sort over local rows this small runs in one partition
  * ([[graft.plans.SmallSortSinglePartition]]). The scan reports its size
  * and row count to the optimizer. */
private[catalog] object GraftMetadataTable {
  val kinds: Set[String] = Set("snapshots", "files", "history", "partitions",
    "refs")

  def apply(cat: GraftCatalog, catName: String, ns: String, t: String,
            kind: String): Table = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val meta = cat.loadTable(ns, t)
    val (tblSchema, tblRows) = kind match {
      case "snapshots" =>
        val s = StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("committed_at", TimestampType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("added_data_files", IntegerType, nullable = false),
          StructField("added_rows", LongType, nullable = false),
          StructField("schema_version", IntegerType, nullable = false),
          StructField("is_staged", BooleanType, nullable = false)))
        val rs = meta.snapshots.map { sn =>
          new GenericInternalRow(Array[Any](sn.id, sn.timestampMs * 1000L,
            UTF8String.fromString(sn.operation), sn.addedFiles.size,
            sn.addedFiles.map(_.rowCount).sum, sn.schemaVer, sn.isStaged))
        }
        (s, rs)
      case "files" =>
        val s = StructType(Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("partition", StringType, nullable = true)))
        val rs = meta.filesAsOf(None).map { f =>
          val tuple = f.partition.map(_.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("/")).orNull
          new GenericInternalRow(Array[Any](UTF8String.fromString(f.path),
            f.sizeBytes, f.rowCount,
            if (tuple == null) null else UTF8String.fromString(tuple)))
        }
        (s, rs)
      case "history" =>
        val s = StructType(Seq(
          StructField("made_current_at", TimestampType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("is_current_ancestor", BooleanType, nullable = false)))
        val live = meta.stateAsOf(None).map(_.id).toSet
        val rs = meta.snapshots.map { sn =>
          new GenericInternalRow(Array[Any](sn.timestampMs * 1000L, sn.id,
            live.contains(sn.id)))
        }
        (s, rs)
      case "partitions" =>
        // Iceberg `partitions` table: per-partition-tuple rollup straight
        // from file metadata (spec_id included — after spec evolution one
        // table legitimately holds tuples of several shapes). Files with
        // no tuple aggregate under the null partition, like Iceberg's
        // unpartitioned row.
        val s = StructType(Seq(
          StructField("partition", StringType, nullable = true),
          StructField("spec_id", IntegerType, nullable = false),
          StructField("file_count", LongType, nullable = false),
          StructField("record_count", LongType, nullable = false),
          StructField("total_size_bytes", LongType, nullable = false)))
        val rs = meta.filesAsOf(None)
          .groupBy(f => (f.partition.map(_.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("/")),
            f.specId.getOrElse(if (f.partition.isDefined) 1 else 0)))
          .toSeq.sortBy(_._1._1.getOrElse(""))
          .map { case ((tuple, specId), fs) =>
            new GenericInternalRow(Array[Any](
              tuple.map(UTF8String.fromString).orNull, specId,
              fs.size.toLong, fs.map(_.rowCount).sum, fs.map(_.sizeBytes).sum))
          }
        (s, rs)
      case "refs" =>
        // Iceberg `refs` table: tags (immutable) + branches (mutable, each
        // at its current head) + the main head, like Iceberg lists `main`.
        val s = StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false)))
        val rs = (meta.tagMap.toSeq.sortBy(_._1).map { case (tag, id) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(tag),
            UTF8String.fromString("TAG"), id))
        }) ++ (meta.branchMap.toSeq.sortBy(_._1).map { case (b, br) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(b),
            UTF8String.fromString("BRANCH"), br.headId))
        }) ++ (if (meta.currentSnapshotId > 0)
          Seq(new GenericInternalRow(Array[Any](UTF8String.fromString("main"),
            UTF8String.fromString("BRANCH"), meta.currentSnapshotId)))
        else Nil)
        (s, rs)
    }
    val localRows: Array[InternalRow] = tblRows.toArray
    val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(tblSchema)
    val localBytes = localRows.map(r => toUnsafe(r).getSizeInBytes.toLong).sum
    new Table with SupportsRead {
      override def name(): String = s"$catName.$ns.$t.$kind"
      override def schema(): StructType = tblSchema
      override def capabilities(): util.Set[TableCapability] =
        Set(TableCapability.BATCH_READ).asJava
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          override def build(): org.apache.spark.sql.connector.read.Scan =
            new org.apache.spark.sql.connector.read.LocalScan
                with org.apache.spark.sql.connector.read.SupportsReportStatistics {
              override def rows(): Array[InternalRow] = localRows
              override def readSchema(): StructType = tblSchema
              override def description(): String = s"$catName.$ns.$t.$kind"
              override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
                new org.apache.spark.sql.connector.read.Statistics {
                  override def sizeInBytes(): java.util.OptionalLong =
                    java.util.OptionalLong.of(localBytes)
                  override def numRows(): java.util.OptionalLong =
                    java.util.OptionalLong.of(localRows.length.toLong)
                }
            }
        }
    }
  }
}
