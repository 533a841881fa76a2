package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Per-column [min, max] from the Parquet footer statistics of one file
  * (numeric columns), the manifest-level stats Iceberg planners use for
  * file skipping. */
case class ColRange(min: Double, max: Double)

/** Truncated string bounds for one column, Iceberg-manifest style
  * (`truncate(16)`): `min` is a ≤16-char PREFIX of the true minimum (a
  * prefix is always a valid lower bound), `max` is the true maximum when
  * ≤16 chars, else its 16-char prefix with the last character incremented
  * (a valid upper bound). Columns whose max cannot be bounded that way
  * (all prefix chars at Char.MaxValue) are simply not recorded — skipping
  * stays conservative. */
case class StrRange(min: String, max: String)

/** One registered data file: the fields the reference's importer records
  * per file (`/root/reference/src/main/java/com/example/
  * ImportParquetFolders.java:105-115` — path, size in bytes, record count,
  * format=PARQUET) plus footer stats, mirroring the Iceberg DataFile
  * metrics its manifests carry and its planner consumes: numeric ranges
  * and truncated string bounds for scan-time file skipping, and — since
  * round 11 — per-column value/null counts (Iceberg's `value_counts` /
  * `null_value_counts`), recorded for TOP-LEVEL non-repeated columns
  * only (where chunk value counts equal row-level counts), which widen
  * the metadata-only aggregate surface from COUNT(*) to COUNT(col) and
  * null-count queries. Both maps are Options with None defaults, so
  * manifests written before the field existed still parse (the pushed
  * aggregate then simply declines — conservative). */
case class DataFileMeta(path: String, sizeBytes: Long, rowCount: Long,
                        colRanges: Option[Map[String, ColRange]] = None,
                        strRanges: Option[Map[String, StrRange]] = None,
                        partition: Option[Map[String, String]] = None,
                        specId: Option[Int] = None,
                        valueCounts: Option[Map[String, Long]] = None,
                        nullCounts: Option[Map[String, Long]] = None,
                        // commit-level bloom sidecar for point-lookup
                        // skipping ([[BloomIndex]]); the bits live in the
                        // sidecar parquet, never in this manifest JSON
                        bloomPath: Option[String] = None)

/** One immutable partition spec version (Iceberg "partition spec
  * evolution"): a table's spec can be replaced without touching any file —
  * each data file records the spec id it was WRITTEN under, and scan
  * planning prunes every file with its own spec. Absent id on a file with
  * a partition tuple means the first spec (pre-evolution metadata). */
case class PartitionSpecMeta(specId: Int, fields: List[PartitionField])

/** One column of one schema version: Iceberg-style stable field id (never
  * reused, survives renames), display name, Spark DDL type, nullability.
  * The id — not the name — is a column's identity, which is what makes
  * rename/drop/re-add safe over files that were written earlier: a data
  * file is always read with the FIELD NAMES AND TYPES of the schema
  * version it was committed under, then projected to the current schema
  * by id (Iceberg spec "Schema Evolution": correctness guaranteed by id-
  * based column resolution). */
case class FieldMeta(id: Int, name: String, typeDdl: String, nullable: Boolean) {
  def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
}

/** One immutable schema version; every snapshot records the version its
  * files were written under. */
case class SchemaVersion(version: Int, fields: List[FieldMeta]) {
  def struct: StructType = StructType(fields.map(f =>
    org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable)))
}

/** One snapshot: id (1-based ordinal), wall-clock, operation ("append",
  * "overwrite", "delete" or "merge"), and the files ADDED by this snapshot.
  * Table state at snapshot N = union of added files since the latest
  * overwrite ≤ N (an overwrite REPLACES the file set — Iceberg's overwrite
  * snapshot — while appends accumulate, as a pure-append table's cumulative
  * manifests do).
  *
  * Merge-on-read extension (Iceberg v2 deletes, both shapes): a snapshot
  * may also carry `deleteFiles` — parquet files describing rows deleted
  * WITHOUT rewriting any data file. `deleteKind` selects the shape:
  *
  *  - absent / "equality": rows hold the `equalityKeys` column VALUES of
  *    deleted rows; they apply to data files committed in EARLIER snapshots
  *    (Iceberg's sequence-number rule), so a single "merge" snapshot that
  *    carries both delete files and added files upserts atomically.
  *  - "position": rows hold `(file_path STRING, pos BIGINT)` — the exact
  *    file and 0-based row ordinal of each deleted row, the Iceberg v2
  *    position-delete file layout. Cheapest possible delete encoding when
  *    the writer knows which physical rows die (no key columns copied),
  *    and the read side is an anti-join on (file, pos) instead of on data
  *    values — collision-proof even when rows are bit-identical.
  */
case class SnapshotMeta(id: Long, timestampMs: Long, operation: String,
                        addedFiles: List[DataFileMeta],
                        deleteFiles: Option[List[DataFileMeta]] = None,
                        equalityKeys: Option[List[String]] = None,
                        schemaVersion: Option[Int] = None,
                        staged: Option[Boolean] = None,
                        deleteKind: Option[String] = None) {
  def deletes: List[DataFileMeta] = deleteFiles.getOrElse(Nil)
  /** Position-delete snapshot? (absent = equality, the original shape) */
  def isPositionDelete: Boolean = deleteKind.contains("position")
  /** Schema version this snapshot's files were written under; metadata
    * from before schema evolution existed is implicitly version 1. */
  def schemaVer: Int = schemaVersion.getOrElse(1)
  /** Write-audit-publish: a STAGED snapshot is committed to the log but
    * invisible to current reads until published (Iceberg's `spark.wap.id`
    * stage-only commits). Audit it via time travel to its own id. */
  def isStaged: Boolean = staged.contains(true)
}

/** Full table metadata document, persisted as versioned JSON.
  * `schemaDdl` is always the CURRENT schema (kept in sync on evolution);
  * `schemaVersions` is the full evolution history — absent for tables that
  * never evolved (legacy metadata), where version 1 is derived on demand. */
case class TableMeta(namespace: String, name: String, schemaDdl: String,
                     currentSnapshotId: Long, snapshots: List[SnapshotMeta],
                     schemaVersions: Option[List[SchemaVersion]] = None,
                     tags: Option[Map[String, Long]] = None,
                     partitionSpec: Option[List[PartitionField]] = None,
                     lastSnapshotId: Option[Long] = None,
                     partitionSpecs: Option[List[PartitionSpecMeta]] = None,
                     branches: Option[Map[String, BranchMeta]] = None) {

  /** Named immutable snapshot refs (Iceberg tags). */
  def tagMap: Map[String, Long] = tags.getOrElse(Map.empty)

  /** Named MUTABLE refs (Iceberg branches): each holds its own linear
    * delta log forked from a main-history snapshot. */
  def branchMap: Map[String, BranchMeta] = branches.getOrElse(Map.empty)

  def branchOf(branch: String): BranchMeta = branchMap.getOrElse(branch,
    throw new IllegalArgumentException(s"$namespace.$name has no branch '$branch'"))

  /** The branch (if any) whose private log contains snapshot `id`. */
  def branchContaining(id: Long): Option[(String, BranchMeta)] =
    branchMap.find(_._2.snapshots.exists(_.id == id))

  /** Full partition-spec history, oldest first. Legacy metadata (single
    * `partitionSpec`, written before spec evolution existed) folds into a
    * one-entry history as spec 1. */
  def specs: List[PartitionSpecMeta] = partitionSpecs.getOrElse(
    partitionSpec.map(fs => List(PartitionSpecMeta(1, fs))).getOrElse(Nil))

  /** CURRENT partition spec (what new writes cluster by); empty =
    * unpartitioned (the reference's importer only creates unpartitioned
    * tables — the spec is the Iceberg-parity extension beyond it). */
  def spec: List[PartitionField] = specs.lastOption.map(_.fields).getOrElse(Nil)

  /** The spec `f` was WRITTEN under — what scan planning must project
    * predicates through for THIS file. Unknown spec ids (never committed
    * here) resolve to no spec: the file is kept, pruning stays
    * conservative. Files without a recorded id predate evolution and
    * belong to the first spec. */
  def specForFile(f: DataFileMeta): List[PartitionField] = f.specId match {
    case Some(id) => specs.find(_.specId == id).map(_.fields).getOrElse(Nil)
    case None     => specs.headOption.map(_.fields).getOrElse(Nil)
  }
  def schema: StructType = StructType.fromDDL(schemaDdl)

  /** All schema versions, oldest first. A table that never evolved gets a
    * synthetic version 1 from `schemaDdl` with field ids by position —
    * consistent because ids are only ever ASSIGNED at this point or by an
    * evolution commit, never inferred differently twice. */
  def versions: List[SchemaVersion] = schemaVersions.getOrElse(List(
    SchemaVersion(1, schema.fields.zipWithIndex.map { case (f, i) =>
      FieldMeta(i + 1, f.name, f.dataType.sql, f.nullable) }.toList)))

  def currentSchemaVersion: SchemaVersion = versions.last

  def versionOf(v: Int): SchemaVersion =
    versions.find(_.version == v).getOrElse(throw new IllegalArgumentException(
      s"$namespace.$name has no schema version $v"))

  /** Snapshots that constitute the table state at `asOf` (those since the
    * latest overwrite, in commit order). Travel to a snapshot id that is
    * not in the log — never committed, or expired by
    * [[GraftCatalog.expireSnapshots]] — is an error, not an empty result. */
  def stateAsOf(asOf: Option[Long]): List[SnapshotMeta] = {
    // a snapshot id inside a BRANCH's private log: state = main history at
    // the fork point + the branch's deltas up to the target (each linear)
    asOf.flatMap(id => branchContaining(id)) match {
      case Some((_, br)) =>
        val forkState =
          if (br.forkId == 0) Nil // branch forked from the empty table
          else stateAsOf(Some(br.forkId))
        val chain = forkState ++ br.snapshots.takeWhile(_.id <= asOf.get)
        val lastOverwrite = chain.lastIndexWhere(_.operation == "overwrite")
        return if (lastOverwrite >= 0) chain.drop(lastOverwrite) else chain
      case None => ()
    }
    asOf.foreach(id => require(snapshots.exists(_.id == id),
      s"$namespace.$name has no snapshot $id (expired or never committed); " +
        s"available: ${snapshots.map(_.id).mkString(", ")}"))
    val cut = asOf.getOrElse(currentSnapshotId)
    // staged snapshots are invisible EXCEPT when the read targets one
    // directly — that's the WAP audit view
    val upTo = snapshots.filter(sn =>
      sn.id <= cut && (!sn.isStaged || asOf.contains(sn.id)))
    val lastOverwrite = upTo.lastIndexWhere(_.operation == "overwrite")
    if (lastOverwrite >= 0) upTo.drop(lastOverwrite) else upTo
  }

  /** Next snapshot id: one past the HIGHEST id ever allocated — not
    * `currentSnapshotId + 1` (staged snapshots sit beyond the current
    * head) and not the max LIVE id (a discarded staged snapshot's id must
    * never be recycled: a stale audit reference would silently resolve to
    * a different snapshot). `lastSnapshotId` is the persisted high-water
    * mark; legacy metadata without it derives from the log. */
  def nextSnapshotId: Long =
    (currentSnapshotId +: lastSnapshotId.getOrElse(0L) +:
      (snapshots.map(_.id) ++
        branchMap.values.flatMap(_.snapshots.map(_.id)))).max + 1

  def filesAsOf(asOf: Option[Long]): List[DataFileMeta] =
    stateAsOf(asOf).flatMap(_.addedFiles)

  /** Schema versions of live files whose PHYSICAL layout cannot be read
    * by-name under the current schema: rename/type-widening since the file
    * was written, or an added column shadowing a dropped column's physical
    * data. Add/drop-only evolution is name-safe (missing columns null-fill,
    * extra physical columns are ignored), so it does not count as drift.
    * Read paths that hand Spark a single by-name scan (the DSv2 SQL table,
    * the file-source stream view) must refuse when this is non-empty;
    * [[GraftCatalog.readTable]]'s id-based projection serves them anyway. */
  def driftedVersions(asOf: Option[Long]): List[Int] = {
    val cur = currentSchemaVersion
    stateAsOf(asOf).filter(_.addedFiles.nonEmpty)
      .map(_.schemaVer).distinct.filterNot { v =>
        val sv = versionOf(v)
        val byId = sv.fields.map(f => f.id -> f).toMap
        cur.fields.forall { f =>
          byId.get(f.id) match {
            case Some(o) => o.name == f.name && o.typeDdl == f.typeDdl
            case None    => !sv.fields.exists(_.name.equalsIgnoreCase(f.name))
          }
        }
      }
  }

  /** Live delete files at `asOf`, position and equality alike
    * (merge-on-read debt). */
  def deleteFilesAsOf(asOf: Option[Long]): List[DataFileMeta] =
    stateAsOf(asOf).flatMap(_.deletes)
}

/** A racing writer claimed the metadata version this commit targeted.
  * Retryable: the loser re-loads the fresh base and re-derives its
  * snapshot (see [[GraftCatalog.withCommitRetry]]). */
class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** An OVERWRITE commit's derivation base was invalidated by a racing
  * non-append commit (another overwrite/delete/merge, or history
  * expiration) — NOT retryable: the overwrite's file list was computed
  * from rows read at the base snapshot, so blind-retrying it on top of
  * the moved log would silently erase the racing commit's effect
  * (Iceberg's RewriteFiles validation failure). The caller must
  * re-derive from fresh state or defer. Racing APPENDS never raise
  * this — their files fold into the overwrite unchanged (the rewrite
  * never read them, so keeping them loses nothing). */
class ConcurrentOverwriteException(msg: String) extends IllegalStateException(msg)

/** Import result row, mirroring the reference's per-table summary
  * (`ImportParquetFolders.java:118-119`). */
case class ImportSummary(namespace: String, table: String, files: Long, rows: Long)

/** [[GraftCatalog.expireSnapshots]] summary. */
case class ExpireResult(expiredSnapshots: Int, deletedFiles: Int,
                        remainingSnapshots: Int)

/** [[GraftCatalog.changelogViewStats]] report: the changelog stream
  * view's on-disk footprint. `prunedDirs` are `sn<id>` dirs whose
  * CONTENT retention already reclaimed (names kept as stale-view
  * refusal evidence); `prunedThroughSnapshot` is the highest such id
  * (0 = nothing pruned); `maxSnapshot` the highest materialized id. */
case class ChangelogViewStats(materializedDirs: Int, prunedDirs: Int,
                              liveFiles: Long, liveBytes: Long,
                              prunedThroughSnapshot: Long,
                              maxSnapshot: Long)

/** One Iceberg-style BRANCH: a mutable named ref carrying its own linear
  * delta log on top of the main-history snapshot it forked from
  * (`forkId`; 0 = forked from the empty table). Branch snapshots use the
  * table-wide id sequence (never recycled), so audit references stay
  * unambiguous across fast-forward and drop. */
case class BranchMeta(forkId: Long, snapshots: List[SnapshotMeta]) {
  def headId: Long = snapshots.lastOption.map(_.id).getOrElse(forkId)
}

object GraftCatalog {
  /** Column names a position-aware read ([[GraftCatalog.readTableWithPositions]])
    * exposes: the physical file path and 0-based row ordinal, sourced from
    * Spark's parquet `_metadata` struct. Underscored to stay out of the way
    * of user schemas (the catalog rejects leading-underscore columns
    * nowhere, but TPC-H-style schemas never use them). */
  val PosFileCol = "__graft_file"
  val PosIdxCol = "__graft_pos"

  /** One step of [[GraftCatalog.readInternal]]'s fold, in commit order:
    * the kept files snapshot `sn` adds, or the delete files it carries. */
  private sealed trait ReadStep {
    def sn: SnapshotMeta
    /** Whether this step and `o`, adjacent, fold as one scan or one
      * anti-join. */
    def foldsWith(o: ReadStep): Boolean = (this, o) match {
      case (_: AddFiles, _: AddFiles) | (_: PosDeletes, _: PosDeletes) => true
      case (EqDeletes(_, k1), EqDeletes(_, k2)) => k1 == k2
      case _ => false
    }
  }
  private case class AddFiles(sn: SnapshotMeta) extends ReadStep
  private case class PosDeletes(sn: SnapshotMeta) extends ReadStep
  /** Equality deletes on the current key fields `keys`. */
  private case class EqDeletes(sn: SnapshotMeta, keys: List[FieldMeta])
      extends ReadStep

  /** Max recorded string-bound length — Iceberg's manifest `truncate(16)`. */
  private val StrBoundLen = 16

  /** Truncated LOWER bound: a prefix of the min is always ≤ the min. */
  private[catalog] def truncateMin(s: String): String =
    if (s.length <= StrBoundLen) s else s.substring(0, StrBoundLen)

  /** Truncated UPPER bound: exact when short enough; else the 16-char
    * prefix with its last incrementable char bumped and the tail dropped —
    * strictly greater than every string sharing the prefix. None when no
    * char can be bumped (skipping must stay conservative). */
  private[catalog] def truncateMax(s: String): Option[String] =
    if (s.length <= StrBoundLen) Some(s)
    else {
      val prefix = s.substring(0, StrBoundLen)
      val i = prefix.lastIndexWhere(_ < Char.MaxValue)
      if (i < 0) None
      else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
    }

  /** Row count + per-column [min,max] from ONE footer read: numeric ranges
    * plus truncated bounds for UTF8 string columns (the stats Iceberg
    * manifests carry for string file-skipping). Block stats are merged on
    * the FULL values; truncation happens once at the end. Lives on the
    * COMPANION so the distributed stat pass can run it inside executor
    * tasks without capturing the catalog instance. */
  private[catalog] def footerStats(p: Path)
      : (Long, Map[String, ColRange], Map[String, StrRange],
         Map[String, Long], Map[String, Long]) =
    footerStats(new org.apache.hadoop.fs.Path(p.toUri))

  private[catalog] def footerStats(hp: org.apache.hadoop.fs.Path)
      : (Long, Map[String, ColRange], Map[String, StrRange],
         Map[String, Long], Map[String, Long]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = HadoopInputFile.fromPath(hp, new Configuration())
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val perCol = collection.mutable.Map.empty[String, ColRange]
      val perStr = collection.mutable.Map.empty[String, (String, String)]
      val perVals = collection.mutable.Map.empty[String, Long]
      val perNulls = collection.mutable.Map.empty[String, Long]
      val nullsUnknown = collection.mutable.Set.empty[String]
      r.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { c =>
          // value/null counts — Iceberg's value_counts/null_value_counts:
          // top-level non-repeated columns only (nested/repeated leaves
          // count values, not rows); nulls recorded only when EVERY chunk
          // sets numNulls, else the column's count is dropped entirely
          // (a partial sum would be wrong, not just imprecise)
          if (c.getPath.size == 1 && c.getPrimitiveType.getRepetition !=
              org.apache.parquet.schema.Type.Repetition.REPEATED) {
            val key = c.getPath.toDotString
            perVals(key) = perVals.getOrElse(key, 0L) + c.getValueCount
            val cst = c.getStatistics
            if (cst != null && cst.isNumNullsSet)
              perNulls(key) = perNulls.getOrElse(key, 0L) + cst.getNumNulls
            else nullsUnknown += key
          }
          val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          if (st != null && !st.isEmpty && st.hasNonNullValue) {
            val key = c.getPath.toDotString
            c.getPrimitiveType.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE =>
                val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: Number, b: Number) => (a.doubleValue(), b.doubleValue())
                }
                val merged = perCol.get(key)
                  .map(o => ColRange(math.min(o.min, mn), math.max(o.max, mx)))
                  .getOrElse(ColRange(mn, mx))
                perCol(key) = merged
              case BINARY
                  if c.getPrimitiveType.getLogicalTypeAnnotation ==
                    org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val merged = perStr.get(key)
                  .map { case (omn, omx) =>
                    (if (mn < omn) mn else omn, if (mx > omx) mx else omx) }
                  .getOrElse((mn, mx))
                perStr(key) = merged
              case _ => // other binary/logical types: skip
            }
          }
        }
      }
      val strRanges = perStr.toMap.flatMap { case (k, (mn, mx)) =>
        truncateMax(mx).map(tmx => k -> StrRange(truncateMin(mn), tmx))
      }
      val nulls = (perNulls -- nullsUnknown).toMap
      // a value count without its null count cannot answer COUNT(col)
      val vals = perVals.filter { case (k, _) => nulls.contains(k) }.toMap
      (r.getRecordCount, perCol.toMap, strRanges, vals, nulls)
    } finally r.close()
  }

  /** Stat ONE file into its manifest entry — the unit of work both the
    * driver-pool and the distributed stat passes share. All I/O goes
    * through the Hadoop FileSystem resolved from the path's scheme
    * end-to-end (the footer read AND the size probe), so an executor
    * task stats `hdfs://`/`s3a://` files the same as driver-local ones.
    * Scheme-less paths keep the previous java.nio canonicalization so
    * existing manifests (plain absolute paths) stay byte-identical;
    * scheme-qualified strings are passed to Hadoop verbatim — they must
    * never round-trip through java.nio, which would mangle `hdfs://x/y`
    * into a relative file path. */
  private[catalog] def statOne(pathStr: String): DataFileMeta = {
    val hasScheme =
      new org.apache.hadoop.fs.Path(pathStr).toUri.getScheme != null
    val canonical =
      if (hasScheme) pathStr else Paths.get(pathStr).toAbsolutePath.toString
    val hp = new org.apache.hadoop.fs.Path(canonical)
    val fs = hp.getFileSystem(new Configuration())
    val st = fs.getFileStatus(hp)
    // Footer stats are a pure function of the file CONTENT; re-statting
    // the same immutable file (repeated imports, symlinked fixture trees,
    // re-registered compaction outputs) re-reads the same footer. Cache
    // per (real path, size, mtime) — the identity triple invalidates on
    // any rewrite — and resolve symlinks so N links to one target share
    // one entry. Only the footer READ is skipped; the returned manifest
    // entry is byte-identical (path stays the caller's canonical form).
    val real =
      if (hasScheme) canonical
      else try Paths.get(canonical).toRealPath().toString
      catch { case _: java.io.IOException => canonical }
    val key = (real, st.getLen, st.getModificationTime)
    val cached = statCache.get(key)
    if (cached != null) cached.copy(path = canonical)
    else {
      val (rows, ranges, strs, vals, nulls) = footerStats(hp)
      val meta = DataFileMeta(canonical, st.getLen, rows,
        if (ranges.nonEmpty) Some(ranges) else None,
        if (strs.nonEmpty) Some(strs) else None,
        valueCounts = if (vals.nonEmpty) Some(vals) else None,
        nullCounts = if (nulls.nonEmpty) Some(nulls) else None)
      if (statCache.size < StatCacheMax) statCache.put(key, meta)
      meta
    }
  }

  /** Bounded footer-stat cache (see [[statOne]]); ~1KB/entry, so the cap
    * bounds driver memory at a few hundred MB for pathological imports. */
  private val StatCacheMax = 1 << 18
  private val statCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), DataFileMeta]()

  /** Footer-schema cache, same identity triple as [[statOne]]'s: repeated
    * imports of the same immutable file skip the footer re-read + Catalyst
    * conversion. StructType is immutable, so sharing is safe. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  private[catalog] def inferSchemaCached(spark: SparkSession, p: Path): StructType = {
    val key = try {
      val real = p.toRealPath()
      (real.toString, Files.size(real),
        Files.getLastModifiedTime(real).toMillis)
    } catch { case _: java.io.IOException => (p.toString, -1L, -1L) }
    val cached = schemaCache.get(key)
    if (cached != null) cached
    else {
      val s = ParquetSchema.infer(spark, p)
      if (schemaCache.size < StatCacheMax) schemaCache.put(key, s)
      s
    }
  }
}

/** Native table-metadata layer (SURVEY.md §7.2) re-implementing, without
  * any Iceberg dependency, the slice of Iceberg the reference uses
  * (HadoopCatalog + unpartitioned create + metadata-only append + load +
  * drop-purge + snapshot listing + time travel):
  *
  *  - warehouse layout: `<warehouse>/<ns>/<table>/metadata/v<N>.json` with a
  *    `version-hint.text` pointer, committed by atomic rename — the same
  *    commit protocol as Iceberg's HadoopCatalog
  *    (`ImportParquetFolders.java:36-40` uses `hadoop` catalog type).
  *  - table = folder of Parquet registered by reference, never rewritten
  *    (`ImportParquetFolders.java:75-120`).
  *  - schema inferred once from the FIRST file's footer, fixed thereafter,
  *    no merge (`ImportParquetFolders.java:93-100`, `:128-138`).
  *
  * Scale note: all catalog operations are metadata-only (driver-side JSON,
  * no data movement); the read path hands Spark an explicit file list, so
  * file pruning for time travel happens before the scan is planned, and
  * everything downstream (vectorized parquet, pushdown, AQE) is stock
  * Spark — exactly how Iceberg's planner integrates.
  */
class GraftCatalog(val warehouse: String) {
  private implicit val fmts: Formats = DefaultFormats

  private def nsDir(ns: String): Path = Paths.get(warehouse, ns)
  private def tableDir(ns: String, t: String): Path = nsDir(ns).resolve(t)
  private def metaDir(ns: String, t: String): Path = tableDir(ns, t).resolve("metadata")
  private def hintFile(ns: String, t: String): Path =
    metaDir(ns, t).resolve("version-hint.text")

  // ------------------------------------------------------------ namespaces

  /** Idempotent, like the reference's create-if-missing
    * (`ImportParquetFolders.java:52-61`). */
  def createNamespace(ns: String): Unit = Files.createDirectories(nsDir(ns))
  def namespaceExists(ns: String): Boolean = Files.isDirectory(nsDir(ns))
  def listNamespaces(): Seq[String] =
    if (!Files.isDirectory(Paths.get(warehouse))) Seq.empty
    else Fs.list(Paths.get(warehouse))
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted

  // ---------------------------------------------------------------- tables

  def tableExists(ns: String, t: String): Boolean = Files.exists(hintFile(ns, t))

  def listTables(ns: String): Seq[String] =
    if (!namespaceExists(ns)) Seq.empty
    else Fs.list(nsDir(ns))
      .filter(p => Files.exists(p.resolve("metadata").resolve("version-hint.text")))
      .map(_.getFileName.toString).sorted

  /** Create unpartitioned table with a fixed schema
    * (`ImportParquetFolders.java:93-100`, PartitionSpec.unpartitioned at `:99`). */
  def createTable(ns: String, t: String, schema: StructType): TableMeta =
    createTable(ns, t, schema, Nil)

  /** Create a table with an Iceberg-style partition spec: each entry is
    * `(transform, sourceColumnName)` — see [[PartitionField]]. Source
    * columns resolve to stable field ids at creation, so the spec survives
    * later renames. The spec shapes WRITES ([[writePartitioned]] clusters
    * rows into one directory per partition tuple) and PRUNES reads
    * ([[planFiles]] projects source-column predicates through the
    * transforms) — hidden partitioning: queries never name the partition
    * columns. */
  def createTable(ns: String, t: String, schema: StructType,
                  spec: Seq[(String, String)]): TableMeta = {
    require(!tableExists(ns, t), s"table $ns.$t already exists")
    createNamespace(ns)
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      FieldMeta(i + 1, f.name, f.dataType.sql, f.nullable) }
    val pf = spec.map { case (transform, srcName) =>
      val src = fields.find(_.name.equalsIgnoreCase(srcName)).getOrElse(
        throw new IllegalArgumentException(
          s"$ns.$t: partition source column $srcName not in schema"))
      // validates transform grammar + type compatibility up front
      Partitioning.valueColumn(transform, src.name, src.dataType)
      PartitionField(src.id, transform,
        Partitioning.defaultName(transform, src.name))
    }.toList
    require(pf.map(_.name).distinct.size == pf.size,
      s"$ns.$t: duplicate partition field names in spec")
    val meta = TableMeta(ns, t, schema.toDDL, currentSnapshotId = 0L,
      snapshots = Nil,
      partitionSpecs = if (pf.isEmpty) None
                       else Some(List(PartitionSpecMeta(1, pf))))
    commit(meta, expectedVersion = 0)
    meta
  }

  /** Replace the table's partition spec — Iceberg partition spec evolution
    * (`UpdatePartitionSpec`): a metadata-only commit appending a NEW spec
    * version; no file is touched. Files written earlier keep their old
    * spec id and their old directory layout, and scans keep pruning them
    * through the spec they were written under, while new writes cluster by
    * (and prune through) the new spec. `spec` may be empty — evolving back
    * to unpartitioned. Source columns resolve against the CURRENT schema
    * to stable field ids, same as [[createTable]]. */
  def evolvePartitionSpec(ns: String, t: String,
                          spec: Seq[(String, String)]): TableMeta =
    withCommitRetry {
      val (meta, observedVersion) = loadTableAt(ns, t)
      val fields = meta.currentSchemaVersion.fields
      val pf = spec.map { case (transform, srcName) =>
        val src = fields.find(_.name.equalsIgnoreCase(srcName)).getOrElse(
          throw new IllegalArgumentException(
            s"$ns.$t: partition source column $srcName not in schema"))
        Partitioning.valueColumn(transform, src.name, src.dataType)
        PartitionField(src.id, transform,
          Partitioning.defaultName(transform, src.name))
      }.toList
      require(pf.map(_.name).distinct.size == pf.size,
        s"$ns.$t: duplicate partition field names in spec")
      val nextId = (0 :: meta.specs.map(_.specId)).max + 1
      val next = meta.copy(
        partitionSpecs = Some(meta.specs :+ PartitionSpecMeta(nextId, pf)),
        partitionSpec = None)
      commit(next, expectedVersion = observedVersion)
      next
    }

  def loadTable(ns: String, t: String): TableMeta = loadTableAt(ns, t)._1

  /** Load plus the metadata version it was read at — commits must pass THIS
    * version as `expectedVersion`, not re-read `currentVersion` at commit
    * time: re-reading would let a writer that committed between our load and
    * our commit advance the expected slot, so the O_EXCL claim succeeds and
    * the interleaved snapshot silently vanishes (lost update). */
  private def loadTableAt(ns: String, t: String): (TableMeta, Int) = {
    val v = currentVersion(ns, t)
    require(v > 0, s"table $ns.$t does not exist")
    val json = Files.readString(metaDir(ns, t).resolve(s"v$v.json"))
    (JsonMethods.parse(json).extract[TableMeta], v)
  }

  /** Drop with purge=true semantics (`/root/reference/src/archive/App.java:29-33`):
    * removes all table metadata (data files are never owned by the catalog,
    * matching the reference's external-file model). */
  def dropTable(ns: String, t: String): Boolean = {
    val dir = tableDir(ns, t)
    if (!Files.exists(dir)) false
    else {
      Fs.deleteRecursively(dir)
      true
    }
  }

  /** Metadata-only append commit: one atomic snapshot registering N files,
    * no data rewrite (`ImportParquetFolders.java:102-117`). */
  def append(ns: String, t: String, files: Seq[DataFileMeta]): TableMeta =
    commitSnapshot(ns, t, "append", files)

  /** Overwrite commit: the new snapshot's files REPLACE the table state
    * (earlier snapshots stay readable via time travel). This is the
    * snapshot kind Iceberg's MERGE/UPDATE/DELETE extensions produce — the
    * DML surface the reference enables via its session extensions
    * (`/root/reference/conf/spark-defaults.conf:1`).
    *
    * `baseSnapshotId`: the snapshot the file list was DERIVED from (the
    * state the rewrite read). When passed, a racing append's files fold
    * into the overwrite (no row lost whichever side wins the commit
    * race) and a racing non-append raises [[ConcurrentOverwriteException]]
    * instead of silently erasing it — every rewrite-shaped caller
    * (compaction, maintenance, rollback, DML) should pass it. */
  def overwrite(ns: String, t: String, files: Seq[DataFileMeta],
                baseSnapshotId: Option[Long] = None,
                foldAppends: Boolean = true): TableMeta =
    commitSnapshot(ns, t, "overwrite", files, baseSnapshotId, foldAppends)

  /** Stat the given parquet paths (size + exact footer row count, like the
    * importer does per file) and commit them in one snapshot. Directories
    * (e.g. a Spark `.write.parquet` output) expand to their part files.
    * `baseSnapshotId`: see [[overwrite]] — overwrite-operation callers
    * pass the snapshot their rewrite read. */
  def registerFiles(ns: String, t: String, paths: Seq[Path],
                    operation: String = "append",
                    baseSnapshotId: Option[Long] = None,
                    foldAppends: Boolean = true): TableMeta = {
    val expanded = paths.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    commitSnapshot(ns, t, operation, statFiles(expanded), baseSnapshotId,
      foldAppends)
  }

  /** [[registerFiles]] + a per-commit bloom sidecar over `bloomColumns`
    * ([[BloomIndex]]): one Spark aggregation job per commit builds the
    * per-(file, column) membership sketches, committed as ONE sidecar
    * parquet whose path every file's manifest entry records — the
    * point-lookup skipping layer for columns whose values scatter
    * across the write layout (where [min,max] prunes nothing). */
  def registerFilesWithBlooms(spark: SparkSession, ns: String, t: String,
                              paths: Seq[Path], bloomColumns: Seq[String],
                              operation: String = "append",
                              baseSnapshotId: Option[Long] = None,
                              foldAppends: Boolean = true): TableMeta = {
    val expanded = paths.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    val stated = statFiles(expanded)
    // zero files = an empty commit, same as registerFiles — there is
    // nothing to sketch (buildSidecar would otherwise crash on an
    // unrelated empty.max)
    if (stated.isEmpty) commitSnapshot(ns, t, operation, stated,
      baseSnapshotId, foldAppends)
    else {
      val dir = tableDir(ns, t).resolve("bloom")
        .resolve(s"bloom-${Stamp.next()}")
      BloomIndex.buildSidecar(spark, stated, bloomColumns, dir)
      commitSnapshot(ns, t, operation,
        stated.map(_.copy(bloomPath = Some(dir.toString))),
        baseSnapshotId, foldAppends)
    }
  }

  /** Partition-clustered write: computes each spec field's canonical value,
    * writes one directory per partition tuple (`partitionBy` — the derived
    * columns are dropped from the data files; SOURCE columns stay, which is
    * what makes the partitioning hidden), then commits one snapshot whose
    * files carry their partition tuples for scan-time pruning.
    *
    * Scale: with `cluster` (default) the rows are repartitioned by the
    * partition tuple first — ONE shuffle, after which each task holds
    * complete tuples and writes one file per tuple instead of every task
    * writing a sliver of every partition (the small-files explosion that
    * kills 100 TB partitioned appends). `cluster = false` keeps the
    * caller's layout. */
  def writePartitioned(spark: SparkSession, ns: String, t: String,
                       df: DataFrame, operation: String = "append",
                       cluster: Boolean = true,
                       baseSnapshotId: Option[Long] = None): TableMeta = {
    import org.apache.spark.sql.functions.col
    val meta = loadTable(ns, t)
    require(meta.spec.nonEmpty, s"$ns.$t has no partition spec; use registerFiles")
    val fields = meta.currentSchemaVersion.fields
    // derived partition columns are written under a reserved prefix so an
    // IDENTITY field (whose Iceberg-style name IS the source column's) can
    // coexist with the data column it derives from; the prefix is stripped
    // when the directory layout is parsed back into partition tuples
    val gp = "__gp_"
    val collide = df.columns.filter(_.toLowerCase.startsWith(gp))
    require(collide.isEmpty,
      s"$ns.$t: data column(s) ${collide.mkString(", ")} use the reserved $gp prefix")
    val partCols = meta.spec.map { pf =>
      val src = fields.find(_.id == pf.sourceId).getOrElse(
        throw new IllegalStateException(
          s"$ns.$t: partition source field id ${pf.sourceId} missing from schema"))
      Partitioning.valueColumn(pf.transform, src.name, src.dataType).as(gp + pf.name)
    }
    val staging = tableDir(ns, t).resolve("data")
      .resolve(s"part-write-${Stamp.next()}")
    // Write timestamps as INT64 micros for this write (scoped, restored):
    // Spark's default INT96 is deprecated AND carries no parquet min/max
    // statistics, which would blind timestamp file-skipping — Iceberg
    // writers standardized on micros for the same reason.
    graft.GraftSession.withConfs(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      val withParts = df.select(df.columns.map(col).toIndexedSeq ++ partCols: _*)
      val shaped =
        if (cluster)
          withParts.repartition(meta.spec.map(pf => col(gp + pf.name)): _*)
        else withParts
      shaped.write.partitionBy(meta.spec.map(gp + _.name): _*)
        .parquet(staging.toString)
    }
    val stated = statFiles(findParquet(staging))
    val withTuples = stated.map { fm =>
      val rel = staging.relativize(Paths.get(fm.path))
      val tuple = rel.iterator.asScala.map(_.toString)
        .filter(_.contains("=")).map { seg =>
          val i = seg.indexOf('=')
          seg.substring(0, i).stripPrefix(gp) ->
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(seg.substring(i + 1))
        }.toMap
      // record the spec the tuples were computed under — after a later
      // spec evolution, scans still prune THIS file through THIS spec
      fm.copy(partition = Some(tuple), specId = Some(meta.specs.last.specId))
    }
    commitSnapshot(ns, t, operation, withTuples, baseSnapshotId)
  }

  /** Iceberg-style optimistic-commit retry (`commit.retry.num-retries`,
    * default 4 there too): a writer that loses the version-claim race
    * re-loads the FRESH base metadata and re-derives its snapshot — safe
    * for append/overwrite/delta/evolution commits because everything they
    * write is a function of the freshly-loaded state, and what the winner
    * committed is preserved (the loser's snapshot lands on top). Linear
    * backoff; conflicts beyond the budget propagate. */
  private def withCommitRetry[T](body: => T): T = {
    val maxAttempts = 8
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          // JITTERED backoff: N losers with deterministic sleeps re-collide
          // in lockstep forever; randomization spreads their re-claims
          Thread.sleep(2L + java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(12L * attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def commitSnapshot(ns: String, t: String, operation: String,
                             files: Seq[DataFileMeta],
                             baseSnapshotId: Option[Long] = None,
                             foldAppends: Boolean = true): TableMeta = withCommitRetry {
    val (meta, observedVersion) = loadTableAt(ns, t)
    // Overwrite-base validation (Iceberg's RewriteFiles rule): an
    // overwrite's file list is a function of rows READ AT ITS BASE
    // snapshot, computed BEFORE this retry loop — so when the log has
    // advanced past the base, blind-landing the pre-computed list would
    // silently erase every racing commit's rows (compaction racing a
    // streaming append: the append's batch vanishes from the live
    // state). Racing APPENDS are safe to fold in — the rewrite never
    // read their rows, so their files join the overwrite's list
    // unchanged, and the result equals "append then overwrite-without-
    // race" either way the race lands. Any racing NON-append
    // (overwrite/delete/merge, or a base expired out of the log) is a
    // real write-write conflict: refuse loudly, the caller re-derives.
    // Callers that pass no base keep the old semantics (overwrite-wins).
    val effective = baseSnapshotId match {
      case Some(base) if operation == "overwrite" &&
          meta.currentSnapshotId != base =>
        val raced =
          if (base == 0L) meta.snapshots
          else {
            val idx = meta.snapshots.indexWhere(_.id == base)
            if (idx < 0) throw new ConcurrentOverwriteException(
              s"$ns.$t: overwrite derived at snapshot $base, but that " +
                "snapshot is no longer in the log (expired or rolled " +
                "back) — re-derive from the current state")
            meta.snapshots.drop(idx + 1)
          }
        // foldAppends = false is the MODEL-CHANGING rebuild contract
        // (new quantizer cells, new tokenizer): a racing append's rows
        // were encoded under the OLD model, so folding them into the
        // rebuilt state would corrupt it — refuse ANY racing commit
        // and let the caller re-derive under the new model instead.
        raced.find(sn => sn.operation != "append" || sn.isStaged ||
            !foldAppends)
          .foreach { sn =>
            throw new ConcurrentOverwriteException(
              s"$ns.$t: overwrite derived at snapshot $base conflicts " +
                s"with racing ${sn.operation} snapshot ${sn.id} — " +
                "re-derive from the current state")
          }
        files ++ raced.flatMap(_.addedFiles)
      case _ => files
    }
    val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
      operation, effective.toList,
      schemaVersion = Some(meta.currentSchemaVersion.version))
    val next = meta.copy(currentSnapshotId = snap.id,
      snapshots = meta.snapshots :+ snap, lastSnapshotId = Some(snap.id))
    commit(next, expectedVersion = observedVersion)
    // live streams tail the view directory; append the new files to it
    if (operation == "append") syncStreamView(next)
    next
  }

  /** Delta-commit base validation — the mirror of the overwrite's rule
    * (Iceberg's `RowDelta.validateDataFilesExist`): a delete/merge
    * snapshot's tuples were DERIVED from rows read at the base snapshot.
    * A racing live OVERWRITE (compaction, copy-on-write DML, rollback,
    * materialize) replaced the file set the tuples reference — a
    * position delete's `(file_path, pos)` rows now name files outside
    * the live state fold and silently no-op (the "deleted" rows
    * resurrect — the RTBF-relevant silent-erasure class), and an
    * equality delete's key set was computed from row values the
    * overwrite may have changed (a write-write conflict under
    * serializable isolation). Racing APPENDS are compatible: position
    * tuples never reference the new files, and equality deletes apply
    * key-wise to every earlier file including appended ones — Iceberg's
    * snapshot-isolation default for row deltas. Racing DELTA commits
    * also commute (they only add delete debt; no file is removed).
    * Callers passing no base keep the old blind-commit semantics. */
  private def validateDeltaBase(meta: TableMeta, ns: String, t: String,
                                base: Long, what: String): Unit = {
    if (meta.currentSnapshotId == base) return
    val raced =
      if (base == 0L) meta.snapshots
      else {
        val idx = meta.snapshots.indexWhere(_.id == base)
        if (idx < 0) throw new ConcurrentOverwriteException(
          s"$ns.$t: $what derived at snapshot $base, but that snapshot " +
            "is no longer in the log (expired or rolled back) — " +
            "re-derive from the current state")
        meta.snapshots.drop(idx + 1)
      }
    raced.find(sn => sn.operation == "overwrite" && !sn.isStaged)
      .foreach { sn =>
        throw new ConcurrentOverwriteException(
          s"$ns.$t: $what derived at snapshot $base conflicts with " +
            s"racing overwrite snapshot ${sn.id} — the files its tuples " +
            "reference were replaced; re-derive from the current state")
      }
  }

  /** Merge-on-read commit: ONE atomic snapshot carrying equality-delete
    * files (rows whose `keys` values match any delete-file row vanish from
    * all EARLIER data files) and optionally new data files (an upsert's
    * inserted/updated rows). No existing data file is rewritten — the write
    * cost is O(changed rows), not O(table), which is the whole point of
    * merge-on-read at 100 TB. Read-side cost accrues instead (an anti-join
    * per delete commit) until [[registerFiles]] with operation="overwrite"
    * materializes the state and clears the debt.
    * `baseSnapshotId`: the snapshot the delete/upsert tuples were derived
    * from — see [[validateDeltaBase]]. */
  def commitMergeOnRead(ns: String, t: String, keys: Seq[String],
                        deleteFiles: Seq[Path],
                        addedFiles: Seq[Path] = Nil,
                        baseSnapshotId: Option[Long] = None): TableMeta = {
    require(keys.nonEmpty && deleteFiles.nonEmpty,
      "merge-on-read commit needs equality keys and at least one delete file")
    val expand = (ps: Seq[Path]) => ps.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    withCommitRetry {
    val (meta, observedVersion) = loadTableAt(ns, t)
    baseSnapshotId.foreach(validateDeltaBase(meta, ns, t, _,
      "merge-on-read delta"))
    val op = if (addedFiles.nonEmpty) "merge" else "delete"
    val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
      op, statFiles(expand(addedFiles)).toList,
      deleteFiles = Some(statFiles(expand(deleteFiles)).toList),
      equalityKeys = Some(keys.toList),
      schemaVersion = Some(meta.currentSchemaVersion.version))
    val next = meta.copy(currentSnapshotId = snap.id,
      snapshots = meta.snapshots :+ snap, lastSnapshotId = Some(snap.id))
    commit(next, expectedVersion = observedVersion)
    next
    }
  }

  /** Position-delete commit (Iceberg v2's second delete shape): ONE atomic
    * snapshot whose delete files hold `(file_path STRING, pos BIGINT)` rows
    * — the exact physical rows removed, typically produced by filtering
    * [[readTableWithPositions]]. Cheapest delete encoding (two slim columns
    * regardless of table width, no key values copied) and immune to value
    * collisions: bit-identical rows in different files die independently.
    * Like equality deletes, no data file is rewritten — cost is O(deleted
    * rows); read-side debt is an anti-join until materialization.
    * `baseSnapshotId`: the snapshot the `(file_path, pos)` tuples were
    * derived from — see [[validateDeltaBase]]; position deletes are the
    * shape MOST exposed to the racing-overwrite silent no-op, since
    * their tuples name physical files by path. */
  def commitPositionDeletes(ns: String, t: String, deleteFiles: Seq[Path],
                            addedFiles: Seq[Path] = Nil,
                            baseSnapshotId: Option[Long] = None): TableMeta = {
    require(deleteFiles.nonEmpty,
      "position-delete commit needs at least one delete file")
    val expand = (ps: Seq[Path]) => ps.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    withCommitRetry {
      val (meta, observedVersion) = loadTableAt(ns, t)
      baseSnapshotId.foreach(validateDeltaBase(meta, ns, t, _,
        "position-delete delta"))
      val op = if (addedFiles.nonEmpty) "merge" else "delete"
      val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
        op, statFiles(expand(addedFiles)).toList,
        deleteFiles = Some(statFiles(expand(deleteFiles)).toList),
        schemaVersion = Some(meta.currentSchemaVersion.version),
        deleteKind = Some("position"))
      val next = meta.copy(currentSnapshotId = snap.id,
        snapshots = meta.snapshots :+ snap, lastSnapshotId = Some(snap.id))
      commit(next, expectedVersion = observedVersion)
      next
    }
  }

  // ------------------------------------------------------ schema evolution

  /** Commit a new schema version derived from the current one — the
    * metadata-only schema-evolution commit Iceberg's `UpdateSchema` does
    * (the reference's served surface accepts `ALTER TABLE` through the
    * Iceberg catalog; data files are NEVER touched). Field ids are global
    * across the table's whole history and never reused, so a dropped
    * column's physical data can never resurface under a re-added name. */
  private def evolveSchema(ns: String, t: String)
                          (change: TableMeta => List[FieldMeta]): TableMeta =
      withCommitRetry {
    val (meta, observedVersion) = loadTableAt(ns, t)
    val all = meta.versions
    // `change` sees the FRESHLY-loaded metadata each retry attempt, so a
    // racing evolution can never hand out a duplicate field id
    val nextVer = SchemaVersion(all.last.version + 1, change(meta))
    require(nextVer.fields.nonEmpty, s"$ns.$t: schema cannot become empty")
    val names = nextVer.fields.map(_.name.toLowerCase)
    require(names.distinct == names,
      s"$ns.$t: duplicate column names after evolution: ${names.mkString(", ")}")
    val next = meta.copy(schemaDdl = nextVer.struct.toDDL,
      schemaVersions = Some(all :+ nextVer))
    commit(next, expectedVersion = observedVersion)
    next
  }

  private def maxFieldId(meta: TableMeta): Int =
    meta.versions.flatMap(_.fields.map(_.id)).max

  /** Add a nullable column at the end of the schema. Files written before
    * this commit serve NULL for it (id-based projection at read). */
  def addColumn(ns: String, t: String, name: String, typeDdl: String): TableMeta =
    evolveSchema(ns, t) { meta =>
      val cur = meta.currentSchemaVersion
      require(!cur.fields.exists(_.name.equalsIgnoreCase(name)),
        s"$ns.$t: column $name already exists")
      cur.fields :+ FieldMeta(maxFieldId(meta) + 1, name,
        org.apache.spark.sql.types.DataType.fromDDL(typeDdl).sql, nullable = true)
    }

  /** Rename a column; its field id — and therefore the mapping to every
    * already-written file — is unchanged. */
  def renameColumn(ns: String, t: String, oldName: String, newName: String): TableMeta =
    evolveSchema(ns, t) { meta =>
      val cur = meta.currentSchemaVersion
      require(cur.fields.exists(_.name.equalsIgnoreCase(oldName)),
        s"$ns.$t: no column $oldName")
      require(!cur.fields.exists(_.name.equalsIgnoreCase(newName)),
        s"$ns.$t: column $newName already exists")
      cur.fields.map(f =>
        if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f)
    }

  /** Drop a column. Metadata-only: the physical data stays in the files
    * (and stays reachable via time travel-era schema versions), but its
    * field id is retired forever. */
  def dropColumn(ns: String, t: String, name: String): TableMeta =
    evolveSchema(ns, t) { meta =>
      val cur = meta.currentSchemaVersion
      require(cur.fields.exists(_.name.equalsIgnoreCase(name)),
        s"$ns.$t: no column $name")
      val doomed = cur.fields.filter(_.name.equalsIgnoreCase(name))
      // ANY spec version counts: files written under an old spec still
      // prune through it, which resolves this column by field id
      require(!meta.specs.flatMap(_.fields)
          .exists(pf => doomed.exists(_.id == pf.sourceId)),
        s"$ns.$t: column $name is a partition source; drop is not allowed " +
          "(Iceberg refuses this too — the spec would dangle)")
      cur.fields.filterNot(_.name.equalsIgnoreCase(name))
    }

  /** Widen a column's type. Only safe up-casts are allowed (int→bigint,
    * float→double, decimal precision growth …) — Iceberg's permitted type
    * promotions; old files up-cast at read, which is lossless by
    * construction. */
  def widenColumn(ns: String, t: String, name: String, newTypeDdl: String): TableMeta =
    evolveSchema(ns, t) { meta =>
      val cur = meta.currentSchemaVersion
      val f = cur.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(s"$ns.$t: no column $name"))
      val to = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
      require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f.dataType, to),
        s"$ns.$t: ${f.typeDdl} -> ${to.sql} is not a lossless widening")
      // bucket transforms hash the PHYSICAL type (Murmur3 of an INT differs
      // from Murmur3 of the same value as LONG), so widening a bucket
      // source would silently divert predicate projection away from the
      // files' recorded buckets — pruning would drop live rows. The other
      // transforms are canonical-stable across widenings (year/truncate
      // cast through LONG, identity through string form). Iceberg keeps
      // bucket stable by hashing ints AS longs; this engine hashes with
      // Spark's own functions.hash for write/prune symmetry, so it must
      // refuse instead.
      require(!meta.specs.flatMap(_.fields).exists(pf =>
          pf.sourceId == f.id && pf.transform.startsWith("bucket[")),
        s"$ns.$t: column $name is a bucket-partition source; widening would " +
          "change the bucket hash and corrupt partition pruning")
      cur.fields.map(x => if (x.id == f.id) x.copy(typeDdl = to.sql) else x)
    }

  /** Project a scan of files written under schema version `from` onto the
    * current schema `to`: resolve by FIELD ID (rename-safe), null-fill
    * fields added since `from`, silently drop removed fields, up-cast
    * widened types. A pure projection — stays inside whole-stage codegen,
    * costs nothing at scan time. `extra` columns (the row-position columns
    * of a position-delete read) ride through untouched. */
  private def projectToCurrent(df: DataFrame, from: SchemaVersion,
                               to: SchemaVersion,
                               extra: Seq[String] = Nil): DataFrame = {
    if (from.version == to.version) df
    else {
      import org.apache.spark.sql.functions.{col, lit}
      val byId = from.fields.map(f => f.id -> f).toMap
      df.select(to.fields.map { f =>
        byId.get(f.id) match {
          case Some(old) => col(old.name).cast(f.dataType).as(f.name)
          case None      => lit(null).cast(f.dataType).as(f.name)
        }
      } ++ extra.map(col): _*)
    }
  }

  /** Scan `files` as written (schema version `ver`) and project to the
    * current schema. With `keepPos`, each row additionally carries the
    * physical file path and 0-based row ordinal it came from
    * ([[GraftCatalog.PosFileCol]]/[[GraftCatalog.PosIdxCol]]), taken from
    * Spark's parquet `_metadata` struct — computed by the reader itself
    * (constant per file / generated row index), so the scan stays a plain
    * vectorized scan with zero extra I/O. */
  private def scanAt(spark: SparkSession, meta: TableMeta, ver: Int,
                     files: Seq[String], keepPos: Boolean = false): DataFrame = {
    // the catalog records LEAF files, for which Spark skips Hive-style
    // partition-column inference — so the `<field>=<value>` directories a
    // partitioned write produces stay what they are (derived values,
    // hidden partitioning), never become columns, and duplicate
    // registrations of one path still count twice
    val raw = spark.read.schema(meta.versionOf(ver).struct).parquet(files: _*)
    import org.apache.spark.sql.functions.col
    val withPos =
      if (!keepPos) raw
      else raw.select(col("*"),
        col("_metadata.file_path").as(GraftCatalog.PosFileCol),
        col("_metadata.row_index").as(GraftCatalog.PosIdxCol))
    projectToCurrent(withPos, meta.versionOf(ver), meta.currentSchemaVersion,
      extra = if (keepPos) Seq(GraftCatalog.PosFileCol, GraftCatalog.PosIdxCol) else Nil)
  }

  def snapshots(ns: String, t: String): Seq[SnapshotMeta] = loadTable(ns, t).snapshots

  /** Create an Iceberg-style TAG: a named immutable pointer to a snapshot,
    * resolvable wherever a snapshot id is (`VERSION AS OF 'name'`,
    * `readTable(asOf)` via [[resolveRef]]). Tagged snapshots are protected
    * from [[expireSnapshots]]. Metadata-only, retried like any commit. */
  def createTag(ns: String, t: String, tag: String, snapshotId: Long): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      require(meta.snapshots.exists(_.id == snapshotId),
        s"$ns.$t has no snapshot $snapshotId to tag")
      require(!meta.tagMap.contains(tag), s"$ns.$t: tag $tag already exists")
      require(!meta.branchMap.contains(tag),
        s"$ns.$t: '$tag' already names a branch")
      require(tag.nonEmpty && !tag.forall(_.isDigit),
        s"$ns.$t: tag name '$tag' must be non-empty and not purely numeric " +
          "(would be ambiguous with snapshot ids)")
      val next = meta.copy(tags = Some(meta.tagMap + (tag -> snapshotId)))
      commit(next, expectedVersion = ver)
      next
    }

  def dropTag(ns: String, t: String, tag: String): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      require(meta.tagMap.contains(tag), s"$ns.$t: no tag $tag")
      val next = meta.copy(tags = Some(meta.tagMap - tag))
      commit(next, expectedVersion = ver)
      next
    }

  // -------------------------------------------------------------- branches

  /** Create a BRANCH — a mutable named ref with its own delta log, forked
    * from `fromSnapshot` (default: the current head; on an empty table the
    * branch forks from the empty state). The Iceberg landing pattern:
    * write a day's ingest to a branch, audit it there, then
    * [[fastForward]] main. Metadata-only. */
  def createBranch(ns: String, t: String, branch: String,
                   fromSnapshot: Option[Long] = None): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      require(branch.nonEmpty && !branch.forall(_.isDigit) && branch != "main",
        s"$ns.$t: branch name '$branch' must be non-empty, not numeric, " +
          "and not 'main'")
      require(!meta.branchMap.contains(branch),
        s"$ns.$t: branch $branch already exists")
      require(!meta.tagMap.contains(branch),
        s"$ns.$t: '$branch' already names a tag")
      val fork = fromSnapshot.getOrElse(meta.currentSnapshotId)
      require(fork == 0 || meta.snapshots.exists(sn => sn.id == fork && !sn.isStaged),
        s"$ns.$t has no (published) snapshot $fork to branch from")
      val next = meta.copy(branches =
        Some(meta.branchMap + (branch -> BranchMeta(fork, Nil))))
      commit(next, expectedVersion = ver)
      next
    }

  /** Commit parquet files to a BRANCH (append, or overwrite replacing the
    * branch's whole state) — main is untouched; readers of main never see
    * branch snapshots. Same stat collection and id sequence as main
    * commits. */
  def registerFilesToBranch(ns: String, t: String, branch: String,
                            paths: Seq[Path],
                            operation: String = "append"): TableMeta = {
    val expanded = paths.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    val stated = statFiles(expanded)
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val br = meta.branchOf(branch)
      val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
        operation, stated.toList,
        schemaVersion = Some(meta.currentSchemaVersion.version))
      val next = meta.copy(
        branches = Some(meta.branchMap +
          (branch -> br.copy(snapshots = br.snapshots :+ snap))),
        lastSnapshotId = Some(snap.id))
      commit(next, expectedVersion = ver)
      next
    }
  }

  /** Read a branch's current state (fork-point main history + the
    * branch's deltas). A branch forked from the EMPTY table with no
    * commits yet (headId == 0) reads as empty — never as main's current
    * state, which may have advanced since the fork (branch isolation). */
  def readBranch(spark: SparkSession, ns: String, t: String,
                 branch: String): DataFrame = {
    val meta = loadTable(ns, t)
    val head = meta.branchOf(branch).headId
    if (head == 0) scanFiles(spark, meta, Nil)
    else readInternal(spark, meta, Some(head), Nil, withPos = false)
  }

  /** FAST-FORWARD main to a branch head: the branch's snapshots graft onto
    * the main log and become ordinary history; the branch ref is removed.
    * Allowed ONLY when main still points at the branch's fork — if main
    * advanced since, the histories diverged and this refuses (Iceberg's
    * fast_forward has the same ancestor requirement; rebase by re-branching
    * from the new head). Ids were allocated from the shared sequence, so
    * the grafted log stays strictly increasing — every existing audit
    * reference keeps resolving to the same state. */
  def fastForward(ns: String, t: String, branch: String): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val br = meta.branchOf(branch)
      require(meta.currentSnapshotId == br.forkId,
        s"$ns.$t: main advanced from snapshot ${br.forkId} to " +
          s"${meta.currentSnapshotId} since branch $branch forked; " +
          "fast-forward requires main to still be at the fork point " +
          "(re-branch from the current head to rebase)")
      val next =
        if (br.snapshots.isEmpty) // nothing landed: just retire the ref
          meta.copy(branches = Some(meta.branchMap - branch))
        else meta.copy(
          currentSnapshotId = br.headId,
          snapshots = meta.snapshots ++ br.snapshots,
          branches = Some(meta.branchMap - branch),
          lastSnapshotId = Some(math.max(
            meta.lastSnapshotId.getOrElse(0L), br.headId)))
      commit(next, expectedVersion = ver)
      syncStreamView(next)
      next
    }

  /** Drop a branch; its never-fast-forwarded files are orphans — the
    * warehouse-owned ones are deleted (external registrations are the
    * user's, exactly like [[discardStaged]]). */
  def dropBranch(ns: String, t: String, branch: String): TableMeta = {
    val dropped = withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val br = meta.branchOf(branch)
      val next = meta.copy(branches = Some(meta.branchMap - branch))
      commit(next, expectedVersion = ver)
      (br, next)
    }
    val (br, next) = dropped
    val live = (next.snapshots ++
      next.branchMap.values.flatMap(_.snapshots))
      .flatMap(sn => sn.addedFiles ++ sn.deletes).map(_.path).toSet
    val whPrefix =
      Paths.get(warehouse).toAbsolutePath.toString + java.io.File.separator
    br.snapshots.flatMap(sn => sn.addedFiles ++ sn.deletes).map(_.path)
      .distinct.filterNot(live).filter(_.startsWith(whPrefix))
      .foreach(p => Files.deleteIfExists(Paths.get(p)))
    next
  }

  // -------------------------------------------- write-audit-publish (WAP)

  /** Stage an append WITHOUT making it current — Iceberg's write-audit-
    * publish stage-only commit (`spark.wap.id`): the snapshot joins the
    * log (id allocated past every existing one) but `currentSnapshotId`
    * does not move, so current reads never see it. AUDIT it via time
    * travel to the returned id (`readTable(asOf)` / `VERSION AS OF`),
    * then [[publishSnapshot]] or [[discardStaged]]. Metadata-only;
    * audit-then-publish costs zero data movement. */
  def stageAppend(ns: String, t: String, paths: Seq[Path]): Long = {
    val expanded = paths.flatMap(p =>
      if (Files.isDirectory(p)) findParquet(p) else Seq(p))
    val stated = statFiles(expanded)
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
        "append", stated.toList,
        schemaVersion = Some(meta.currentSchemaVersion.version),
        staged = Some(true))
      commit(meta.copy(snapshots = meta.snapshots :+ snap,
        lastSnapshotId = Some(snap.id)), expectedVersion = ver)
      snap.id
    }
  }

  /** Publish a staged snapshot: it becomes part of the current state (the
    * cherry-pick half of WAP). Commits that landed between staging and
    * publishing are preserved — an append joins the live set regardless
    * of interleaving, which is exactly why [[stageAppend]] only stages
    * appends (an overwrite could not be replayed that simply). */
  def publishSnapshot(ns: String, t: String, snapshotId: Long): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val sn = meta.snapshots.find(_.id == snapshotId).getOrElse(
        throw new IllegalArgumentException(s"$ns.$t has no snapshot $snapshotId"))
      require(sn.isStaged, s"$ns.$t: snapshot $snapshotId is not staged")
      val next = meta.copy(
        currentSnapshotId = math.max(meta.currentSnapshotId, snapshotId),
        snapshots = meta.snapshots.map(s =>
          if (s.id == snapshotId) s.copy(staged = None) else s))
      commit(next, expectedVersion = ver)
      syncStreamView(next)
      next
    }

  /** Drop a staged snapshot that failed its audit. Its files are left in
    * place (the catalog never owned externally-registered data); files
    * under the warehouse that no other snapshot references are deleted. */
  def discardStaged(ns: String, t: String, snapshotId: Long): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val sn = meta.snapshots.find(_.id == snapshotId).getOrElse(
        throw new IllegalArgumentException(s"$ns.$t has no snapshot $snapshotId"))
      require(sn.isStaged, s"$ns.$t: snapshot $snapshotId is not staged " +
        "(published snapshots are dropped via expireSnapshots)")
      val next = meta.copy(snapshots = meta.snapshots.filterNot(_.id == snapshotId))
      commit(next, expectedVersion = ver)
      val live = next.snapshots.flatMap(s => s.addedFiles ++ s.deletes)
        .map(_.path).toSet
      val whPrefix =
        Paths.get(warehouse).toAbsolutePath.toString + java.io.File.separator
      sn.addedFiles.map(_.path).filterNot(live).filter(_.startsWith(whPrefix))
        .foreach(p => Files.deleteIfExists(Paths.get(p)))
      next
    }

  /** Roll the table back to the state at `snapshotId` — the LINEARIZED
    * form of Iceberg's `rollback_to_snapshot`: one new overwrite snapshot
    * re-registering the target state's files (metadata-only, no data
    * movement). History stays intact and strictly forward — the rolled-
    * back-over snapshots remain time-travelable, and the snapshot log
    * never forks (this engine's state model is deliberately linear; see
    * [[TableMeta.stateAsOf]]). */
  def rollbackTo(ns: String, t: String, snapshotId: Long): TableMeta =
    withCommitRetry {
      val (meta, ver) = loadTableAt(ns, t)
      val target = meta.snapshots.find(_.id == snapshotId).getOrElse(
        throw new IllegalArgumentException(s"$ns.$t has no snapshot $snapshotId"))
      require(!target.isStaged,
        s"$ns.$t: snapshot $snapshotId is staged; publish or discard it instead")
      require(meta.deleteFilesAsOf(Some(snapshotId)).isEmpty,
        s"$ns.$t: state at $snapshotId carries merge-on-read delete files; " +
          "a metadata-only rollback would resurrect deleted rows — " +
          "materialize that state first")
      // the target state's files may span schema versions; the rollback
      // snapshot can only record ONE writing version, so require one (the
      // same constraint expiration checkpoints have)
      val vers = meta.stateAsOf(Some(snapshotId))
        .filter(_.addedFiles.nonEmpty).map(_.schemaVer).distinct
      require(vers.size <= 1,
        s"$ns.$t: state at $snapshotId spans schema versions " +
          s"${vers.mkString(", ")}; materialize before rolling back")
      val snap = SnapshotMeta(meta.nextSnapshotId, System.currentTimeMillis(),
        "overwrite", meta.filesAsOf(Some(snapshotId)),
        schemaVersion = vers.headOption
          .orElse(Some(meta.currentSchemaVersion.version)))
      val next = meta.copy(currentSnapshotId = snap.id,
        snapshots = meta.snapshots :+ snap, lastSnapshotId = Some(snap.id))
      commit(next, expectedVersion = ver)
      next
    }

  /** Resolve a version string — a numeric snapshot id, a tag name, or a
    * branch name (its current head) — to a snapshot id. */
  def resolveRef(ns: String, t: String, ref: String): Long = {
    if (ref.forall(_.isDigit) && ref.nonEmpty) return ref.toLong
    val meta = loadTable(ns, t)
    meta.tagMap.get(ref)
      .orElse(meta.branchMap.get(ref).map { br =>
        require(br.headId != 0,
          s"$ns.$t: branch '$ref' has no commits and forked from the " +
            "empty table — nothing to read")
        br.headId
      })
      .getOrElse(throw new IllegalArgumentException(
        s"$ns.$t has no tag or branch '$ref'"))
  }

  /** Snapshot id current AS OF a wall-clock instant — `TIMESTAMP AS OF`
    * time travel (Iceberg's snapshot-log lookup): the latest snapshot
    * committed at or before `tsMillis`. Errors when the instant precedes
    * the first commit (nothing existed yet), like Iceberg. */
  def snapshotAsOfTime(ns: String, t: String, tsMillis: Long): Long = {
    // staged snapshots never answer wall-clock travel: they were not
    // current at ANY instant until published
    val snaps = loadTable(ns, t).snapshots.filterNot(_.isStaged)
    snaps.filter(_.timestampMs <= tsMillis).lastOption.map(_.id).getOrElse(
      throw new IllegalArgumentException(
        s"$ns.$t has no snapshot at or before timestamp $tsMillis " +
          s"(earliest commit: ${snaps.headOption.map(_.timestampMs).getOrElse("none")})"))
  }

  /** Current (or as-of) file listing — the Iceberg `files` metadata table. */
  def files(ns: String, t: String, asOf: Option[Long] = None): Seq[DataFileMeta] =
    loadTable(ns, t).filesAsOf(asOf)

  /** Read the table, optionally time-traveling to a snapshot id (the
    * reference's "AS OF snapshot", served through Iceberg's Spark
    * extensions). Only the files [[planFiles]] keeps for the conjunctive
    * source `filters` are scanned; the caller still applies its row-level
    * filter. Merge-on-read delete debt is applied ([[readInternal]]). */
  def readTable(spark: SparkSession, ns: String, t: String,
                asOf: Option[Long] = None,
                filters: Seq[sources.Filter] = Nil): DataFrame =
    readInternal(spark, loadTable(ns, t), asOf, filters, withPos = false)

  /** Read the current table state with two extra columns — the physical
    * file path and 0-based row ordinal every row came from
    * ([[GraftCatalog.PosFileCol]] / [[GraftCatalog.PosIdxCol]], sourced
    * from Spark's parquet `_metadata` struct at zero extra I/O). This is
    * the scan a POSITION-DELETE writer runs: filter it, keep the two
    * columns, and the result IS the delete file content. Existing delete
    * debt (either kind) is applied first, so positions of already-deleted
    * rows are never re-emitted. */
  def readTableWithPositions(spark: SparkSession, ns: String, t: String,
                             asOf: Option[Long] = None): DataFrame =
    readInternal(spark, loadTable(ns, t), asOf, Nil, withPos = true)

  /** The one fold over a table state: every DataFrame read of a table's
    * live rows goes through it. It walks `stateAsOf(asOf)` in commit
    * order and scans only the files [[planFiles]] keeps for `filters`:
    *
    *  - each maximal run of delete-free snapshots is ONE [[scanFiles]]
    *    call (one multi-file scan per schema version, projected to the
    *    current schema by field id), so a table without debt reads as
    *    exactly that;
    *  - an EQUALITY-delete snapshot's tombstones apply to the accumulated
    *    earlier state, then its own added files union in — Iceberg's
    *    sequence-number rule, which is what makes a one-snapshot upsert
    *    atomic. Keys match null-safe: Iceberg equality deletes treat null
    *    key values as equal;
    *  - a POSITION-delete snapshot's (file_path, pos) tuples apply AFTER
    *    its own added files union in — Iceberg v2's `<=` rule for
    *    position deletes (a one-commit upsert may delete rows of its own
    *    new files). A row in a LATER file can never be hit, even if a path
    *    were registered twice;
    *  - consecutive delete steps of one kind (and, for equality deletes,
    *    the same keys) merge into one anti-join: no file enters between
    *    them, so their order cannot matter.
    *
    * Pruning is exact: it drops whole files and a delete only removes
    * rows, so the fold over the kept files returns exactly the kept
    * files' rows of the full fold. Each delete file is tiny relative to
    * the table, so every anti-join broadcasts; debt is cleared by
    * materialization (overwrite), not by scale-up. With `withPos` every
    * row carries its file path and row ordinal. */
  private[catalog] def readInternal(spark: SparkSession, meta: TableMeta,
                                    asOf: Option[Long],
                                    filters: Seq[sources.Filter],
                                    withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import GraftCatalog.{AddFiles, EqDeletes, PosDeletes, PosFileCol,
      PosIdxCol, ReadStep}
    val snaps = meta.stateAsOf(asOf)
    // a position-delete snapshot anywhere in the state means every scanned
    // row must carry its (file, pos) tuple for the anti-join to bind to
    val needPos = withPos ||
      snaps.exists(sn => sn.isPositionDelete && sn.deletes.nonEmpty)
    val keep: String => Boolean =
      if (filters.isEmpty) _ => true
      else planFiles(meta, asOf, filters).map(_.path).toSet
    val steps: List[ReadStep] = snaps.flatMap { sn =>
      val add =
        if (sn.addedFiles.exists(f => keep(f.path))) List(AddFiles(sn)) else Nil
      if (sn.deletes.isEmpty) add
      else if (sn.isPositionDelete) add :+ PosDeletes(sn)
      else EqDeletes(sn, equalityKeyFields(meta, sn)) :: add
    }
    val groups = steps.foldRight(List.empty[List[ReadStep]]) {
      case (s, (g @ (h :: _)) :: rest) if s.foldsWith(h) => (s :: g) :: rest
      case (s, gs) => List(s) :: gs
    }
    // deletes before the first kept file have nothing to remove
    val folded = groups.foldLeft(Option.empty[DataFrame]) { (acc, g) =>
      g.head match {
        case _: AddFiles =>
          val added = scanFiles(spark, meta, g.map(_.sn), needPos, keep)
          Some(acc.fold(added)(_.unionByName(added)))
        case _: PosDeletes => acc.map { df =>
          val del = spark.read.parquet(g.flatMap(_.sn.deletes.map(_.path)): _*)
          df.join(broadcast(del), df(PosFileCol) === del("file_path") &&
            df(PosIdxCol) === del("pos"), "left_anti")
        }
        case EqDeletes(_, keys) => acc.map { df =>
          df.join(broadcast(tombstones(spark, g.map(_.sn), keys)),
            keys.map(k => col(k.name) <=> col(s"__del_${k.name}"))
              .reduce(_ && _), "left_anti")
        }
      }
    }
    val merged = folded.getOrElse(scanFiles(spark, meta, Nil, needPos))
    if (needPos && !withPos) merged.drop(PosFileCol, PosIdxCol) else merged
  }

  /** The current fields an equality-delete snapshot's keys name. Keys are
    * recorded under the snapshot's schema version; each resolves by field
    * id to its CURRENT name and type, so deletes keep applying across
    * renames and widenings. A key whose column was dropped later cannot
    * apply — refuse rather than silently keep deleted rows. */
  private def equalityKeyFields(meta: TableMeta,
                                sn: SnapshotMeta): List[FieldMeta] = {
    val at = s"${meta.namespace}.${meta.name} snapshot ${sn.id}"
    val keys = sn.equalityKeys.getOrElse(Nil)
    require(keys.nonEmpty, s"$at: equality-delete snapshot without keys")
    val sv = meta.versionOf(sn.schemaVer)
    keys.map { k =>
      val old = sv.fields.find(_.name == k).getOrElse(
        throw new IllegalStateException(
          s"$at: delete key $k not in schema version ${sv.version}"))
      meta.currentSchemaVersion.fields.find(_.id == old.id).getOrElse(
        throw new IllegalStateException(
          s"$at: delete-key column $k (field ${old.id}) was dropped; " +
            "materialize before dropping equality-key columns"))
    }
  }

  /** The tombstone values of equality-delete snapshots `snaps`, all keyed
    * on the current fields `keys` ([[equalityKeyFields]]): one
    * `__del_<name>` column per key, cast to its current type. Snapshots
    * that recorded the same key names read their files in one scan. */
  private def tombstones(spark: SparkSession, snaps: Seq[SnapshotMeta],
                         keys: List[FieldMeta]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val names = (sn: SnapshotMeta) => sn.equalityKeys.getOrElse(Nil)
    snaps.map(names).distinct.map { recorded =>
      spark.read.parquet(
          snaps.filter(names(_) == recorded).flatMap(_.deletes.map(_.path)): _*)
        .select(recorded.zip(keys).map { case (k, f) =>
          col(k).cast(f.dataType).as(s"__del_${f.name}") }: _*)
    }.reduce(_ unionByName _)
  }

  // ------------------------------------------------------- streaming read

  private def streamViewDir(ns: String, t: String): Path =
    tableDir(ns, t).resolve("streamview")

  /** Idempotently link every append snapshot's files into the stream view
    * (deterministic names: `s<snap>f<idx>_<basename>`), so Spark's file
    * stream source discovers them in commit order. Called on every append
    * commit once a view exists, and by [[streamTable]] to backfill. */
  private def syncStreamView(meta: TableMeta): Unit = {
    val dir = streamViewDir(meta.namespace, meta.name)
    if (!Files.isDirectory(dir)) return
    meta.snapshots.filter(_.operation == "append").foreach { sn =>
      sn.addedFiles.zipWithIndex.foreach { case (f, i) =>
        val src = Paths.get(f.path)
        val link = dir.resolve(s"s${sn.id}f${i}_${src.getFileName}")
        try Files.createSymbolicLink(link, src.toAbsolutePath)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
  }

  /** Streaming read of an append-only table — the Iceberg `readStream`
    * surface, composed Spark-first instead of hand-building a
    * MicroBatchStream: the catalog maintains a per-table STREAM VIEW
    * directory of deterministic symlinks (one per registered data file,
    * appended at commit time, never rewritten), and the returned DataFrame
    * is Spark's stock file stream source over it. Everything downstream is
    * stock Structured Streaming: new appends are discovered per
    * micro-batch, the checkpoint's file log gives exactly-once consumption
    * across restarts, `maxFilesPerTrigger` paces backfill, and all
    * stateful operators/watermarks compose. Metadata-only, like every
    * other read path here.
    *
    * Same contract as [[readIncremental]]: only APPEND snapshots are
    * streamable — an overwrite/delete/merge rewrites or removes rows,
    * which no append changelog can express, so tables with DML history
    * are refused (Iceberg's streaming read throws on overwrite snapshots
    * the same way). Physically-drifted schema evolution is refused like
    * the SQL path (the file source is a single by-name scan). */
  def streamTable(spark: SparkSession, ns: String, t: String): DataFrame = {
    val meta = loadTable(ns, t)
    val nonAppend = meta.snapshots.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"$ns.$t has non-append snapshots ${nonAppend.map(sn => s"${sn.id}(${sn.operation})").mkString(", ")}; " +
        "streaming reads serve append-only changelogs")
    val drifted = meta.driftedVersions(None)
    require(drifted.isEmpty,
      s"$ns.$t: live files under schema version(s) ${drifted.mkString(", ")} " +
        "physically differ from the current schema; materialize before streaming")
    Files.createDirectories(streamViewDir(ns, t))
    syncStreamView(meta)
    spark.readStream.schema(meta.schema)
      .parquet(streamViewDir(ns, t).toString)
  }

  private def changelogViewDir(ns: String, t: String): Path =
    tableDir(ns, t).resolve("changelogview")

  /** Materialize each snapshot's CHANGELOG rows under the view directory
    * exactly once (write-once per snapshot id, atomic rename into place),
    * so a stock file stream source turns the snapshot log into an
    * exactly-once CDC stream — the DML-carrying twin of
    * [[syncStreamView]]'s append-only symlinks. Unlike the stream view
    * this needs a Spark job per snapshot (delete rows are COMPUTED, not
    * files on disk), so it syncs here rather than at commit time; a
    * continuously-running consumer advances the view by calling this
    * between triggers, and the AvailableNow sync-then-drain pattern gets
    * it for free from [[streamChangelog]].
    *
    * `_change_ordinal` in the materialized rows is the SNAPSHOT ID (not
    * the range-relative ordinal of a batch [[readChangelog]] call):
    * stable under snapshot expiration and monotonic in commit order —
    * the properties a long-lived stream needs. */
  def syncChangelogView(spark: SparkSession, ns: String, t: String): Path = {
    import org.apache.spark.sql.functions.lit
    val dir = changelogViewDir(ns, t)
    Files.createDirectories(dir)
    val snaps = loadTable(ns, t).snapshots.filterNot(_.isStaged).sortBy(_.id)
    val materialized: Set[Long] = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).collect {
        case n if n.startsWith("sn") => n.stripPrefix("sn").toLong
      }.toSet
      finally ls.close()
    }
    // Publish one snapshot's rows (already under `tmp`) into place.
    def publish(tmp: Path, snId: Long): Unit =
      try Files.move(tmp, dir.resolve(s"sn$snId"),
        StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a racing sync published first — identical content by
        // construction (same snapshot, deterministic changelog).
        // Linux surfaces the directory-onto-nonempty-directory rename
        // as ENOTEMPTY (DirectoryNotEmptyException), not
        // FileAlreadyExists — absorb both shapes of the same race.
        case _: java.nio.file.FileAlreadyExistsException =>
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
        case _: java.nio.file.DirectoryNotEmptyException =>
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    // One snapshot the slow way: its own changelog job + write.
    def syncOne(sn: SnapshotMeta, prevId: Long): Unit = {
      val tmp = dir.resolve(s"_tmp_sn${sn.id}")
      readChangelog(spark, ns, t, prevId, sn.id)
        .withColumn("_change_ordinal", lit(sn.id))
        .write.mode("overwrite").parquet(tmp.toString)
      publish(tmp, sn.id)
    }
    val pending = snaps.zipWithIndex.filter { case (sn, _) => !materialized(sn.id) }
    pending.foreach { case (sn, i) =>
      val prevId = if (i == 0) 0L else snaps(i - 1).id
      // a from-empty replay (prevId 0) over an already-populated view
      // means the view pre-dates a snapshot expiration (the folded
      // boundary checkpoint re-emits rows earlier deltas already
      // streamed) or a rollback rewrote history under the consumer —
      // either way the stream would double-count; refuse loudly
      require(prevId != 0L || materialized.isEmpty,
        s"$ns.$t: changelog stream view holds snapshots no longer in " +
          s"the log, and snapshot ${sn.id} would replay from empty " +
          "over them (expired or rolled-back history) — reset the " +
          "view and the consumer checkpoint, then reprocess from 0")
    }
    // A sync wave with several pending snapshots pays ONE Spark job, not
    // one per snapshot (guide §2.4/§1.2): when the pending set is the
    // contiguous TAIL of the log (the only shape ordinary operation
    // produces — holes would mean an external writer), a single
    // readChangelog over the whole range computes every snapshot's CDC
    // rows (per-snapshot logic identical to one-at-a-time calls), the
    // range-relative ordinal is remapped to the snapshot id, and one
    // partitioned write lands each snapshot under its own `_ord=` dir,
    // which then publishes atomically per snapshot exactly as before.
    val isTail = pending.nonEmpty && pending.head._2 + pending.size == snaps.size
    if (pending.size > 1 && isTail) {
      import org.apache.spark.sql.functions.{col, element_at, typedLit}
      val first = pending.head
      val prevId = if (first._2 == 0) 0L else snaps(first._2 - 1).id
      val rangeIds = pending.map(_._1.id)
      val idByOrd: Map[Long, Long] =
        rangeIds.zipWithIndex.map { case (id, i) => (i + 1).toLong -> id }.toMap
      val waveTmp = dir.resolve(s"_tmp_wave${rangeIds.last}")
      readChangelog(spark, ns, t, prevId, rangeIds.last)
        .withColumn("_change_ordinal",
          element_at(typedLit(idByOrd), col("_change_ordinal")))
        .withColumn("_ord", col("_change_ordinal"))
        .write.mode("overwrite").partitionBy("_ord").parquet(waveTmp.toString)
      rangeIds.foreach { id =>
        val part = waveTmp.resolve(s"_ord=$id")
        if (Files.isDirectory(part)) publish(part, id)
        else {
          // empty changelog for this snapshot (no partition dir written):
          // fall back to the one-snapshot write, which lands the same
          // empty marker dir a solo sync always produced
          val pi = snaps.indexWhere(_.id == id)
          syncOne(snaps(pi), if (pi == 0) 0L else snaps(pi - 1).id)
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(waveTmp.toFile)
    } else pending.foreach { case (sn, i) =>
      syncOne(sn, if (i == 0) 0L else snaps(i - 1).id)
    }
    dir
  }

  /** On-disk footprint of the changelog stream view — the observability
    * counterpart to [[syncChangelogView]]'s write-once growth and
    * [[expireSnapshots]]'s retention prune: the view materializes every
    * snapshot's CDC rows and nothing else deletes them, so a
    * high-commit-rate table's operator needs to SEE the growth before it
    * doubles the table's storage. Reports materialized `sn<id>` dir
    * count, how many are content-pruned (names kept as refusal
    * evidence, bytes reclaimed), total live bytes/files, and the
    * highest pruned-through snapshot id. Pure driver-side directory
    * walk — no job, O(view dirs). */
  def changelogViewStats(ns: String, t: String): ChangelogViewStats = {
    val dir = changelogViewDir(ns, t)
    if (!Files.exists(dir)) return ChangelogViewStats(0, 0, 0L, 0L, 0L, 0L)
    val ls = Files.list(dir)
    val snDirs = try ls.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("sn") && {
        val d = n.stripPrefix("sn")
        d.nonEmpty && d.length <= 18 && d.forall(_.isDigit)
      } && Files.isDirectory(p)
    }.toList finally ls.close()
    var bytes = 0L; var files = 0L
    var pruned = 0; var prunedThrough = 0L; var maxSn = 0L
    snDirs.foreach { d =>
      val id = d.getFileName.toString.stripPrefix("sn").toLong
      maxSn = math.max(maxSn, id)
      val inner = Fs.regularFiles(d, Seq(""))
      if (inner.isEmpty) { pruned += 1; prunedThrough = math.max(prunedThrough, id) }
      else { files += inner.size; bytes += inner.map(Files.size(_)).sum }
    }
    ChangelogViewStats(snDirs.size, pruned, files, bytes, prunedThrough, maxSn)
  }

  /** Streaming CHANGELOG read — [[readChangelog]] as a Structured
    * Streaming source: the view directory holds each snapshot's CDC rows
    * write-once ([[syncChangelogView]]) and the returned frame is
    * Spark's stock file stream over it, so new commits flow to a running
    * (or restarted) consumer exactly once via the checkpoint's file log.
    * This is the surface [[streamTable]] refuses for DML-carrying
    * tables: deletes/upserts stream as explicit `_change_type` rows and
    * a downstream sync is a RUNNING query (fold inserts∖deletes per
    * `_change_ordinal`), not a batch loop. */
  def streamChangelog(spark: SparkSession, ns: String, t: String): DataFrame = {
    val meta = loadTable(ns, t)
    val dir = syncChangelogView(spark, ns, t)
    val schema = StructType(meta.schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("_change_ordinal",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(dir.toString)
  }

  /** Incremental (changelog) read: rows ADDED by snapshots in
    * `(fromExclusive, toInclusive]` — Iceberg's incremental-append scan, the
    * consumption pattern for snapshot-based downstream sync (a consumer
    * remembers the last snapshot it processed and reads only the delta).
    * Metadata-only planning: the file list IS the delta, no data diffing.
    * Restricted to append snapshots — an overwrite REPLACES the file set
    * and a merge-on-read commit removes rows, so neither is expressible as
    * an append-only diff. */
  def readIncremental(spark: SparkSession, ns: String, t: String,
                      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val meta = loadTable(ns, t)
    val range = meta.snapshots.filter(sn =>
      sn.id > fromExclusive && sn.id <= toInclusive)
    val nonAppend = range.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"incremental read over non-append snapshots: ${nonAppend.map(sn => s"${sn.id}(${sn.operation})").mkString(", ")}")
    scanFiles(spark, meta, range)
  }

  /** Row-level CDC CHANGELOG for snapshots in `(fromExclusive,
    * toInclusive]` — Iceberg's `table.changes` surface, the consumption
    * pattern downstream sync needs when the table carries DML (where
    * [[readIncremental]] rightly refuses): every change materializes as
    * a row plus `_change_type` (insert | delete) and `_change_ordinal`
    * (1-based position of its snapshot in the range). Per snapshot kind:
    *
    *  - append: added files' rows → insert;
    *  - overwrite (copy-on-write DML, compaction, rollback): file-set
    *    diff vs the previous snapshot — removed files' rows → delete,
    *    added files' rows → insert (Iceberg's CoW changelog semantics:
    *    rewritten rows surface as delete+insert pairs; net-change
    *    folding is the consumer's choice);
    *  - merge-on-read POSITION delete: the `(file_path, pos)` tuples
    *    resolve against the referenced files of the PREVIOUS state —
    *    only files the delete actually touches are read (stacked
    *    deletes never re-emit positions, so a raw semi-join is exact);
    *  - merge-on-read EQUALITY delete / upsert: previous-state rows
    *    matching the tombstone keys (null-safe, [[readInternal]]'s
    *    fold semantics) → delete; same-snapshot added files (the
    *    upsert shape — by the sequence rule they survive their own
    *    tombstones) → insert.
    *
    * Scale: metadata-only planning like every read here — the append
    * and MoR branches scan only their snapshot's delta files (plus,
    * for position deletes, the bounded referenced subset of the
    * previous state), so changelog cost tracks the CHANGES. The
    * overwrite branch's delete side reads the previous LIVE state
    * (debt applied) filtered to the removed files — an overwrite
    * rewrites its files wholesale, so its changelog is proportional to
    * what it rewrote, the honest CoW cost. */
  def readChangelog(spark: SparkSession, ns: String, t: String,
                    fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    val meta = loadTable(ns, t)
    // a consumer's base snapshot must still be in the log: expiration
    // folds history into a boundary checkpoint, and replaying that
    // checkpoint's overwrite against a mid-expired base would re-emit
    // every row the consumer already processed as a fresh insert —
    // refuse loudly, never double-count silently (0 = fresh consumer,
    // for whom the folded-from-empty replay is exactly right)
    require(fromExclusive == 0L ||
        meta.snapshots.exists(sn => sn.id == fromExclusive && !sn.isStaged),
      s"$ns.$t: changelog base snapshot $fromExclusive is expired or " +
        "staged — the delta cannot be reconstructed; reprocess from 0")
    // staged (unpublished WAP) snapshots are not part of the current
    // lineage — stateAsOf excludes them, and so must the changelog
    val range = meta.snapshots
      .filter(sn =>
        !sn.isStaged && sn.id > fromExclusive && sn.id <= toInclusive)
      .sortBy(_.id)
    val outCols = meta.schema.fieldNames.toSeq
    def tag(df: DataFrame, tpe: String, ord: Long): DataFrame =
      df.select(outCols.map(col): _*)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_change_ordinal", lit(ord))
    val parts: Seq[DataFrame] = range.zipWithIndex.flatMap { case (sn, i) =>
      val ord = (i + 1).toLong
      val prevId = meta.snapshots
        .filter(p => !p.isStaged && p.id < sn.id)
        .map(_.id).maxOption.getOrElse(0L)
      // the state's raw files at this snapshot named by `paths`, no debt
      // applied: a same-commit insert and delete must both be emitted
      def raw(paths: Set[String], keepPos: Boolean = false): DataFrame =
        scanFiles(spark, meta, meta.stateAsOf(Some(sn.id)), keepPos, paths)
      if (sn.deletes.nonEmpty && sn.isPositionDelete) {
        val tuples = spark.read.parquet(sn.deletes.map(_.path): _*)
        // bounded driver fetch: the distinct files this delete touches
        val refPaths = tuples.select(col("file_path")).distinct()
          .collect().map(_.getString(0).replaceFirst("^file:(//)?", ""))
          .toSet
        // resolve as of THIS snapshot, not the previous: a one-commit
        // position UPSERT (commitPositionDeletes with addedFiles —
        // readInternal's documented legal shape) may target rows of its
        // OWN new files; the added rows also emit as inserts below (a
        // same-commit insert+delete of one row nets out, the standard
        // CDC encoding)
        val ref = raw(refPaths, keepPos = true)
        // rows already dead under EARLIER position deletes must not
        // re-emit: Merge.deleteWherePos never re-references a dead
        // (file, pos), but commitPositionDeletes is a public surface —
        // a caller committing an overlapping tuple would otherwise make
        // the changelog emit a second delete for the same row while
        // readTable (anti-join, idempotent) stays correct, silently
        // breaking the multiset replay law. Anti-join the referenced
        // scan against all earlier snapshots' tuples (filtered to the
        // touched files, so the broadcast stays bounded by the delete
        // history of exactly these files).
        val earlierDeleteFiles = meta.snapshots
          .filter(p => !p.isStaged && p.id < sn.id && p.isPositionDelete)
          .flatMap(_.deletes.map(_.path))
        val refAlive =
          if (earlierDeleteFiles.isEmpty) ref
          else {
            val prior = spark.read.parquet(earlierDeleteFiles: _*)
              .filter(regexp_replace(col("file_path"), "^file:(//)?", "")
                .isInCollection(refPaths))
              .select(col("file_path").as("__pr_file"),
                col("pos").as("__pr_pos"))
            ref.join(broadcast(prior),
              ref(PosFileCol) === col("__pr_file") &&
                ref(PosIdxCol) === col("__pr_pos"), "left_anti")
          }
        val dels = tag(refAlive.join(broadcast(tuples),
          refAlive(PosFileCol) === tuples("file_path") &&
            refAlive(PosIdxCol) === tuples("pos"), "left_semi"),
          "delete", ord)
        val added = sn.addedFiles.map(_.path).toSet
        if (added.isEmpty) Seq(dels)
        else Seq(dels, tag(raw(added), "insert", ord))
      } else if (sn.deletes.nonEmpty) {
        // keys resolve by field id to the current name/type, exactly like
        // readInternal's fold, so the changelog serves schema-evolved
        // histories the table itself serves (a raw-name join would throw
        // after a key rename)
        val keys = equalityKeyFields(meta, sn)
        val vals = tombstones(spark, Seq(sn), keys)
        val prev = readInternal(spark, meta, Some(prevId), Nil, withPos = false)
        val cond = keys.map(k =>
          prev(k.name) <=> vals(s"__del_${k.name}")).reduce(_ && _)
        val dels = tag(prev.join(broadcast(vals), cond, "left_semi"),
          "delete", ord)
        val added = sn.addedFiles.map(_.path).toSet
        if (added.isEmpty) Seq(dels)
        else Seq(dels, tag(raw(added), "insert", ord))
      } else if (sn.operation == "append") {
        val files = sn.addedFiles.map(_.path).toSet
        if (files.isEmpty) Nil
        else Seq(tag(raw(files), "insert", ord))
      } else { // overwrite / replace: file-set diff
        // prevId 0 = no previous lineage (e.g. the boundary checkpoint
        // expiration leaves as the earliest snapshot): the previous
        // state is EMPTY, the whole snapshot replays as inserts
        val prevFiles =
          if (prevId == 0L) Set.empty[String]
          else meta.filesAsOf(Some(prevId)).map(_.path).toSet
        val curFiles = meta.filesAsOf(Some(sn.id)).map(_.path).toSet
        val removed = prevFiles -- curFiles
        val added = curFiles -- prevFiles
        val dels =
          if (removed.isEmpty) Nil
          else {
            // the delete side is the previous LIVE state restricted to
            // the removed files — a raw file read would re-emit rows
            // merge-on-read tombstones had already deleted before this
            // overwrite (materialize/compaction folds that debt away,
            // and so must the changelog)
            val prevLive = readInternal(spark, meta, Some(prevId), Nil,
              withPos = true)
            Seq(tag(prevLive.filter(
              org.apache.spark.sql.functions.regexp_replace(
                prevLive(GraftCatalog.PosFileCol), "^file:(//)?", "")
                .isInCollection(removed)), "delete", ord))
          }
        val inss =
          if (added.isEmpty) Nil
          else Seq(tag(raw(added), "insert", ord))
        dels ++ inss
      }
    }
    if (parts.isEmpty) {
      val schema = org.apache.spark.sql.types.StructType(meta.schema.fields ++
        Seq(org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("_change_ordinal",
            org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else parts.reduce(_ unionByName _)
  }

  /** Iceberg's remaining maintenance verb: expire history, keeping the
    * last `keepLast` snapshots. Metadata for expired snapshots is dropped
    * (time travel to them throws afterwards); retained snapshots keep
    * resolving to EXACTLY the same state. Because this log stores per-
    * snapshot DELTAS (added files), two shapes arise:
    *
    *  - earliest retained snapshot is an overwrite → it is self-contained;
    *    expired entries are simply dropped, and their files — when no
    *    retained state references them — are deleted from disk. Only files
    *    physically inside the warehouse are deleted: imported files are
    *    user-owned (the importer is metadata-only, symlinks/externals are
    *    never touched).
    *  - earliest retained snapshot is a delta (append/merge) → a single
    *    boundary CHECKPOINT snapshot (operation "overwrite", id/timestamp
    *    of the last expired snapshot, full state at that point) replaces
    *    the expired prefix, so retained deltas still union onto the right
    *    base and retained merge-on-read deletes still apply to strictly
    *    earlier files. Travel to the boundary id keeps working (it IS that
    *    state); earlier ids throw.
    *
    * Merge-on-read debt AT the boundary is refused (materialize first): a
    * checkpoint would fold deleted-rows' files and their delete files into
    * one snapshot, where the sequence-number rule no longer applies them.
    * Metadata-only except for orphan deletion; commit is optimistic like
    * every other mutation. */
  def expireSnapshots(ns: String, t: String, keepLast: Int): ExpireResult = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val (meta, ver) = loadTableAt(ns, t)
    if (meta.snapshots.size <= keepLast)
      return ExpireResult(0, 0, meta.snapshots.size)
    val retained = meta.snapshots.takeRight(keepLast)
    val expired = meta.snapshots.dropRight(keepLast)
    // tags are retention guarantees (Iceberg: refs block expiration)
    val taggedExpired = meta.tagMap.filter { case (_, id) =>
      expired.exists(_.id == id) }
    require(taggedExpired.isEmpty,
      s"$ns.$t: snapshots ${taggedExpired.map { case (tg, id) => s"$id (tag '$tg')" }
        .mkString(", ")} are tagged; drop the tags before expiring")
    // a staged (never-published) snapshot in the expired prefix is an
    // unfinished WAP cycle — finish it (publish/discard) first
    val stagedExpired = expired.filter(_.isStaged).map(_.id)
    require(stagedExpired.isEmpty,
      s"$ns.$t: snapshots ${stagedExpired.mkString(", ")} are staged; " +
        "publish or discard them before expiring")
    // a live branch's fork point must survive (its state folds onto it);
    // branches are transient audit refs — finish them first
    val branchForks = meta.branchMap.filter { case (_, br) =>
      expired.exists(_.id == br.forkId) }
    require(branchForks.isEmpty,
      s"$ns.$t: branch(es) ${branchForks.keys.mkString(", ")} fork from " +
        "snapshots in the expired prefix; fast-forward or drop them first")
    val boundary = expired.last
    val needCheckpoint = retained.head.operation != "overwrite"
    val checkpoint =
      if (!needCheckpoint) None
      else {
        require(meta.deleteFilesAsOf(Some(boundary.id)).isEmpty,
          s"$ns.$t carries merge-on-read delete debt at snapshot ${boundary.id}; " +
            "materialize before expiring")
        // the checkpoint folds many snapshots' files into one; it can only
        // carry ONE writing-schema version, so a prefix spanning schema
        // versions must be materialized (rewritten under the current
        // schema) before it can be expired
        val boundaryVers = meta.stateAsOf(Some(boundary.id)).map(_.schemaVer).distinct
        require(boundaryVers.size <= 1,
          s"$ns.$t: snapshots up to ${boundary.id} span schema versions " +
            s"${boundaryVers.mkString(", ")}; materialize before expiring")
        Some(SnapshotMeta(boundary.id, boundary.timestampMs, "overwrite",
          meta.filesAsOf(Some(boundary.id)),
          schemaVersion = boundaryVers.headOption))
      }
    val next = meta.copy(snapshots = checkpoint.toList ::: retained)
    commit(next, expectedVersion = ver)
    // orphans: referenced only by expired snapshots, unreachable from any
    // remaining one OR any live branch's private log (a branch may have
    // registered the same physical file — dropBranch's cleanup already
    // counts other branches; this is the mirror), and physically owned by
    // the warehouse
    val live = ((checkpoint.toList ::: retained) ++
      meta.branchMap.values.flatMap(_.snapshots))
      .flatMap(sn => sn.addedFiles ++ sn.deletes).map(_.path).toSet
    val whPrefix =
      Paths.get(warehouse).toAbsolutePath.toString + java.io.File.separator
    val orphans = expired.flatMap(sn => sn.addedFiles ++ sn.deletes).map(_.path)
      .distinct.filterNot(live).filter(_.startsWith(whPrefix))
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    // Changelog-view retention: the view materializes every snapshot's
    // CDC rows write-once and nothing else ever deletes them, so a
    // long-lived stream on a high-commit-rate table doubles the table's
    // storage. Expiration prunes the CONTENT of view dirs at or below
    // the boundary (the storage), while the `sn<id>` dir NAMES remain
    // as materialization evidence — syncChangelogView's stale-view
    // refusal keys on them, so a view that pre-dates the boundary still
    // refuses a from-empty re-materialization instead of double-
    // counting. Contract: consumers are caught up to the boundary
    // before expiring (the same quiescence rule as expiring under a
    // mid-replay stream); a caught-up consumer's file-stream checkpoint
    // has already consumed the deleted files, so its next drain is
    // unaffected. A FRESH consumer over a pruned view must reset it
    // (delete the view dir): the sync then re-materializes the boundary
    // checkpoint's full-state fold from empty, which is complete.
    val clv = changelogViewDir(ns, t)
    if (Files.exists(clv)) {
      // Strictly best-effort: the expire commit already landed, so this
      // prune must never surface a failure. Guard the two post-commit
      // throws: `digits.toLong` overflows on a >18-digit all-digit name
      // (snapshot ids are nanoTime-based, always <= 18 digits), and
      // Files.list throws NotDirectoryException on a regular FILE named
      // sn<digits>.
      val ls = Files.list(clv)
      val pruned = try ls.iterator().asScala.filter { p =>
        val digits = p.getFileName.toString match {
          case n if n.startsWith("sn") => n.stripPrefix("sn")
          case _ => ""
        }
        digits.nonEmpty && digits.length <= 18 &&
          digits.forall(_.isDigit) && digits.toLong <= boundary.id &&
          Files.isDirectory(p)
      }.toList finally ls.close()
      pruned.foreach { d =>
        val fs = Files.list(d)
        val inner = try fs.iterator().asScala.toList finally fs.close()
        inner.foreach(Fs.deleteRecursively)
      }
    }
    ExpireResult(expired.size, orphans.size, next.snapshots.size)
  }

  // ---------------------------------------------------------------- import

  /** Recursive parquet discovery: `.parquet`/`.prq`, case-insensitive
    * (`ImportParquetFolders.java:78-88`, `:122-126`). */
  private[catalog] def findParquet(dir: Path): Seq[Path] =
    Fs.regularFiles(dir, Seq(".parquet", ".prq"))

  /** Stat many files concurrently: footer reads are independent I/O, and a
    * 100k-file table would serialize minutes of driver time if read one by
    * one (the reference importer does exactly that — this is one of the
    * places we deliberately improve on it). Bounded pool; order preserved. */
  private[catalog] def statFiles(files: Seq[Path]): Seq[DataFileMeta] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = files.map { f =>
        new java.util.concurrent.Callable[DataFileMeta] {
          def call(): DataFileMeta =
            GraftCatalog.statOne(f.toAbsolutePath.toString)
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  /** File count above which an import's stat pass runs as a Spark job. */
  private[catalog] val DistributedStatThreshold = 256

  /** The stat pass as a SPARK JOB over the file list — the importer-at-
    * scale path: a 100k-file table pays one short distributed job (footer
    * I/O spread over the cluster) instead of driver-bound I/O, and only
    * the manifest entries (path, size, rows, column ranges) return to the
    * driver. Produces byte-identical DataFileMeta to [[statFiles]], order
    * preserved. */
  private[catalog] def statFilesDistributed(spark: SparkSession,
                                            files: Seq[Path]): Seq[DataFileMeta] = {
    val paths = files.map(_.toAbsolutePath.toString)
    val slices = math.max(1,
      math.min(paths.size, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(paths.zipWithIndex, slices)
      .map { case (p, i) => (i, GraftCatalog.statOne(p)) }
      .collect().sortBy(_._1).map(_._2).toSeq
  }

  /** Exact per-file row count from the Parquet footer
    * (`ImportParquetFolders.java:140-146`). */
  private[catalog] def footerRowCount(p: Path): Long =
    GraftCatalog.footerStats(p)._1

  /** Table schema from the FIRST file's footer — the reference importer's
    * `ParquetSchemaUtil.convert` step (`ImportParquetFolders.java:128-138`).
    * See [[ParquetSchema.infer]] for why this does not use `spark.read`;
    * cached per (real path, size, mtime) like [[GraftCatalog.statOne]]. */
  private[catalog] def inferSchema(spark: SparkSession, p: Path): StructType =
    GraftCatalog.inferSchemaCached(spark, p)

  /** Delegators to the companion's stat helpers (kept on the instance for
    * spec ergonomics; the implementations live on the object so executor
    * closures never capture the catalog). */
  private[catalog] def truncateMin(s: String): String = GraftCatalog.truncateMin(s)
  private[catalog] def truncateMax(s: String): Option[String] =
    GraftCatalog.truncateMax(s)
  private[catalog] def footerStats(p: Path)
      : (Long, Map[String, ColRange], Map[String, StrRange],
         Map[String, Long], Map[String, Long]) =
    GraftCatalog.footerStats(p)

  // ---------------------------------------------------------- scan planning

  /** THE scan planner: the one place a pruned read decides which of the
    * live files at `asOf` to scan — SQL ([[GraftPruningScanBuilder]]'s
    * `pushFilters`) and the DataFrame read ([[readTable]]'s `filters` and
    * the operators built on it) alike. Iceberg's
    * `planFiles` shape: driver-side and metadata-only (no Spark job),
    * three conservative layers in order, each a file veto that never
    * drops a file holding a row the (conjunctive) `filters` accept:
    *
    *  1. partition — each file's recorded tuple, projected through the
    *     spec it was written under ([[Partitioning.keepByPartition]]);
    *  2. stats — footer min/max bounds ([[Partitioning.keepByStats]]).
    *     Literals must carry the column's own type: a DOUBLE bound on a
    *     LONG column prunes nothing ([[Partitioning.between]] types a
    *     numeric range);
    *  3. bloom — for each `EqualTo`/`In` (top level or under `And`) with
    *     integral literals on an integral column or string literals on a
    *     string column, the survivors' bloom sidecars
    *     ([[BloomIndex.keptAny]]: one driver-side read of the candidates'
    *     rows per commit sidecar; files registered without blooms cost
    *     nothing). Any other literal shape skips this layer.
    *
    * The caller still applies its row-level filter. */
  def planFiles(meta: TableMeta, asOf: Option[Long],
                filters: Seq[sources.Filter]): Seq[DataFileMeta] = {
    val fields = meta.currentSchemaVersion.fields
    val schema = meta.schema
    val statsTests = filters.map(Partitioning.keepByStats(schema, _))
    val byStats = meta.filesAsOf(asOf).filter(f => filters.zip(statsTests).forall {
      case (fl, keep) => Partitioning.keepByPartition(meta.specForFile(f), fields, f, fl) && keep(f)
    })
    val probes = bloomProbes(schema, filters)
    if (probes.isEmpty) byStats else BloomIndex.keptAny(byStats, probes)
  }

  /** The point predicates the bloom layer can test, as (column, hashed
    * values): integral values hash by value, strings by
    * [[BloomIndex.hash64]] — the build side's two encodings, so a probe
    * can never miss a value the sidecar holds. Null `In` members never
    * match and drop out; a probe with any other literal type is skipped. */
  private def bloomProbes(schema: StructType, filters: Seq[sources.Filter])
      : Seq[(String, Seq[Long])] = {
    import org.apache.spark.sql.types._
    def probe(c: String, vs: Seq[Any]): Option[(String, Seq[Long])] =
      schema.find(_.name.equalsIgnoreCase(c)).flatMap { f =>
        val hashed = vs.map(v => (f.dataType, v) match {
          case (ByteType | ShortType | IntegerType | LongType,
                n @ (_: java.lang.Byte | _: java.lang.Short |
                     _: java.lang.Integer | _: java.lang.Long)) =>
            Some(n.asInstanceOf[Number].longValue)
          case (StringType, s: String) => Some(BloomIndex.hash64(s))
          case _ => None
        })
        if (hashed.nonEmpty && hashed.forall(_.isDefined))
          Some(f.name -> hashed.flatten)
        else None
      }
    filters.flatMap {
      case sources.And(l, r)     => bloomProbes(schema, Seq(l, r))
      case sources.EqualTo(c, v) => probe(c, Seq(v))
      case sources.In(c, vs)     => probe(c, vs.toSeq.filter(_ != null))
      case _                     => None
    }
  }

  /** The files `snaps` added (those `keep` accepts), as one multi-file
    * [[scanAt]] per schema version they were written under, unioned in
    * version order — or an empty frame of the current schema, plus the
    * position columns when `keepPos`. */
  private def scanFiles(spark: SparkSession, meta: TableMeta,
                        snaps: Seq[SnapshotMeta], keepPos: Boolean = false,
                        keep: String => Boolean = _ => true): DataFrame = {
    val groups = snaps.flatMap(sn => sn.addedFiles.map(f => sn.schemaVer -> f.path))
      .filter { case (_, p) => keep(p) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    if (groups.nonEmpty)
      groups.map { case (v, fs) => scanAt(spark, meta, v, fs.map(_._2), keepPos) }
        .reduce(_ unionByName _)
    else {
      val pos = Seq(
        org.apache.spark.sql.types.StructField(GraftCatalog.PosFileCol,
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField(GraftCatalog.PosIdxCol,
          org.apache.spark.sql.types.LongType, nullable = true))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (keepPos) StructType(meta.schema.fields ++ pos) else meta.schema)
    }
  }

  /** Walk `<dataDir>/<table>/` folders and register each as a table by
    * metadata-only append — the reference's entire importer main
    * (`ImportParquetFolders.java:42-120`):
    * folder→table name lower-cased (`:90-91`), empty folders skipped
    * (`:85-88`), per-folder error isolation (`:64-72`), schema from first
    * file (`:128-138`), one append commit per folder (`:117`).
    */
  def importFolders(spark: SparkSession, dataDir: String,
                    ns: String = "nyc"): Seq[ImportSummary] = {
    createNamespace(ns)
    createNamespace("default") // for BI enumeration, ImportParquetFolders.java:58-61
    val root = Paths.get(dataDir)
    val subdirs = Fs.list(root).filter(Files.isDirectory(_))
    subdirs.flatMap { dir =>
      try {
        val files = findParquet(dir)
        if (files.isEmpty) None // empty-folder skip
        else {
          val tname = dir.getFileName.toString.toLowerCase
          if (!tableExists(ns, tname)) {
            createTable(ns, tname, inferSchema(spark, files.head))
          }
          // big imports stat their footers as a Spark job; small ones on
          // the driver pool (job-submission overhead dominates under ~256)
          val metas =
            if (files.size > DistributedStatThreshold)
              statFilesDistributed(spark, files)
            else statFiles(files)
          append(ns, tname, metas)
          Some(ImportSummary(ns, tname, metas.size.toLong, metas.map(_.rowCount).sum))
        }
      } catch {
        case NonFatal(e) => // per-folder isolation: log and continue
          System.err.println(s"[graft-catalog] skipping ${dir.getFileName}: ${e.getMessage}")
          None
      }
    }
  }

  // ---------------------------------------------------------------- commit

  private def currentVersion(ns: String, t: String): Int = {
    val hint = hintFile(ns, t)
    if (!Files.exists(hint)) return 0
    // The hint is written AFTER the metadata move, so a reader racing a
    // commit can see a lagging hint; probe forward to the newest version
    // actually on disk (same recovery Iceberg's HadoopTableOperations does
    // when the hint is stale). Bounded: one exists() per missed version.
    // only advance past COMPLETE versions: the O_EXCL slot claim creates
    // an empty v(N+1).json before the atomic move fills it — an empty
    // probe target is a commit in flight, not committed state
    var v = Files.readString(hint).trim.toInt
    var nxt = metaDir(ns, t).resolve(s"v${v + 1}.json")
    while (Files.exists(nxt) && Files.size(nxt) > 0) {
      v += 1
      nxt = metaDir(ns, t).resolve(s"v${v + 1}.json")
    }
    v
  }

  /** HadoopCatalog-style optimistic commit: write vN+1.json to a temp name,
    * atomically move into place, then swap the version hint. A concurrent
    * writer that observed the same base version loses the rename race. */
  private def commit(meta: TableMeta, expectedVersion: Int): Unit = {
    val md = metaDir(meta.namespace, meta.name)
    Files.createDirectories(md)
    val next = expectedVersion + 1
    val target = md.resolve(s"v$next.json")
    val tmp = Files.createTempFile(md, s".v$next", ".json.tmp")
    Files.writeString(tmp, Serialization.write(meta))
    // Claim the version slot AND publish the content in ONE atomic step:
    // link(2) fails with EEXIST when the target exists (unlike rename(2),
    // which silently replaces — the reason a plain ATOMIC_MOVE can't
    // detect a racing writer). Because the link carries the full content,
    // there is NO window in which a claimed-but-empty vN+1.json exists on
    // disk — the previous two-step protocol (O_EXCL create, then move
    // onto it) left exactly that window: a writer dying between the two
    // steps wedged the table PERMANENTLY (every later claim hit the
    // empty slot and conflicted forever), and a GC-paused writer's late
    // REPLACE_EXISTING move could silently overwrite a different
    // writer's committed version. A dead writer now leaves only its
    // dot-prefixed tmp file — garbage, never a claim.
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      // Self-heal foreign empty-claim debris (a pre-upgrade crash, an
      // external tool's torn copy): OUR protocol can no longer produce
      // an empty target, so an empty one is definitionally dead — drop
      // it and let the retry re-claim the slot. Non-empty targets are
      // real committed versions: conflict normally.
      try { if (Files.size(target) == 0) Files.deleteIfExists(target) }
      catch { case _: java.io.IOException => () }
      throw new CommitConflictException(
        s"concurrent commit detected for ${meta.namespace}.${meta.name} v$next")
    }
    Files.deleteIfExists(tmp)
    val hintTmp = Files.createTempFile(md, ".hint", ".tmp")
    Files.writeString(hintTmp, next.toString)
    Files.move(hintTmp, hintFile(meta.namespace, meta.name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
