package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.Tables.QFn
import graft.etl.{Compact, Sanitize}
import graft.functions.VectorFunctions.graftDot

/** ETL declared queries (SURVEY.md §2.B / §2.9). The uint64 fixtures are
  * synthesized in-flight (Spark can't write unsigned parquet, so the
  * decimal(20,0) surrogate is the honest representation — it's exactly what
  * Spark's reader yields for UINT64 parquet).
  */
object Etl {

  /** Fixture shaped like the reference's problem input: a decimal(20,0)
    * `counter` (uint64 surrogate) + a decimal(20,0) epoch-µs `timestamp` +
    * an untouched string, derived deterministically from events. */
  private def uintFixture(s: SparkSession, d: String): DataFrame =
    Tables.eventsRawMicros(s, d) // unit-probed raw read: ts is the µs long
      .select(col("event_id"),
        col("event_id").cast(DecimalType(20, 0)).as("counter"),
        col("ts").cast(DecimalType(20, 0)).as("timestamp"),
        col("event_type"))

  /** etl_sanitize_uint64: rule B1 on a GENUINE unsigned parquet file
    * (physical INT64 + INTEGER(64,false), written by
    * [[graft.etl.UnsignedFixture]]) — hash-matched against DuckDB reading
    * the same file as UBIGINT, so agreement is proven on values beyond
    * Long.MaxValue. Rule B2 applies to its unsigned `timestamp` column in
    * the same pass; rule B1's name-independence shows in `counter` and
    * `small_u` surviving as DECIMAL(20,0). The hint-based LongType path is
    * pinned separately in SanitizeSpec.
    *
    * The unsigned columns are emitted as their STRING forms: the driver's
    * hasher canonicalizes DECIMAL(20,0) beyond Long.MaxValue differently
    * from DuckDB's UBIGINT (round-5 red row with 0/10000 value
    * mismatches), and digit-string equality proves the same beyond-int64
    * agreement with no decimal canonicalization in the loop. The
    * DECIMAL(20,0) output type of rule B1 itself is pinned in
    * SanitizeSpec. */
  private def etlSanitizeUint64: QFn = (s, _) => {
    val path = graft.etl.UnsignedFixture.ensureWritten()
    Sanitize.sanitize(s.read.parquet(path))
      .select(col("event_id"),
        col("counter").cast("string").as("counter_str"),
        col("small_u").cast("string").as("small_u_str"),
        col("timestamp").cast("timestamp_ntz").as("sanitized_ts"),
        col("event_type"))
      .orderBy("event_id")
  }

  /** etl_sanitize_ts: rule B2 — decimal(20,0) epoch-µs column named
    * `timestamp` → TIMESTAMP (oracle: DuckDB casts the original ns value). */
  private def etlSanitizeTs: QFn = (s, d) => {
    Sanitize.sanitize(uintFixture(s, d))
      .select(col("event_id"),
        col("timestamp").cast("timestamp_ntz").as("sanitized_ts"))
      .orderBy("event_id")
  }

  /** etl_sanitize_report (non-oracle): the B4 dry-run changed-column report. */
  private def etlSanitizeReport: QFn = (s, d) => {
    Sanitize.report(uintFixture(s, d), unsignedHints = Set("counter"))
      .orderBy("column_name")
  }

  /** Write a DataFrame as EXACTLY one parquet file at `dst` (tree fixtures
    * need real file names, not Spark part-file output dirs). */
  private def writeSingleFile(df: DataFrame, dst: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory(dst.getParent, ".one")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = graft.catalog.Fs.list(tmp)
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    graft.catalog.Fs.deleteRecursively(tmp)
  }

  /** etl_sanitize_tree (non-oracle): B5 — the reference CLI's mirror-tree
    * walk (`sanitize_parquet.py:126-143`) over a synthesized mixed tree:
    * two files needing casts (one nested, one `.prq`) and one clean file.
    * The report row per file checks dry-run/write agreement and that the
    * output mirror contains exactly the changed files with the timestamp
    * rule applied. */
  private def etlSanitizeTree: QFn = (s, d) => {
    import s.implicits._
    val base = Fixtures.scratch(s, "santree")
    val in = base.resolve("in"); val out = base.resolve("out")
    Files.createDirectories(in.resolve("raw").resolve("nested"))
    Files.createDirectories(in.resolve("clean"))
    val fix = uintFixture(s, d).limit(200)
    writeSingleFile(fix, in.resolve("raw").resolve("events_a.parquet"))
    writeSingleFile(fix, in.resolve("raw").resolve("nested").resolve("events_b.prq"))
    writeSingleFile(Tables.region(s, d), in.resolve("clean").resolve("lookup.parquet"))
    val dry = Sanitize.sanitizeTree(s, in.toString, out.toString, dryRun = true)
    val wet = Sanitize.sanitizeTree(s, in.toString, out.toString)
    val dryByPath = dry.map(r => r.relPath -> r).toMap
    wet.map { r =>
      val mirror = out.resolve(r.relPath)
      val mirrorOk =
        if (r.written) Files.isRegularFile(mirror) &&
          s.read.parquet(mirror.toString).schema.fields
            .find(_.name == "timestamp")
            .forall(_.dataType.typeName.startsWith("timestamp"))
        else !Files.exists(mirror)
      (r.relPath.replace('\\', '/'), r.written, r.casts.size.toLong,
        dryByPath(r.relPath).casts == r.casts && !dryByPath(r.relPath).written,
        mirrorOk)
    }.toDF("rel_path", "written", "n_casts", "dry_run_consistent", "mirror_ok")
      .orderBy("rel_path")
  }

  /** etl_compact: many-files→one, then verify content equivalence by
    * aggregate checksum over the re-read output (oracle computes the same
    * from the original). */
  private def etlCompact: QFn = (s, d) => {
    val outDir = Fixtures.scratch(s, "compact")
    val stats = Compact.compact(s, Seq(s"$d/lineitem.parquet"),
      outDir.toString, codec = "zstd", overwrite = true)
    s.read.parquet(stats.outPath)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** etl_pipeline: the reference's three stages composed end-to-end —
    * sanitize (B1-B3) → compact (B6-B9) → metadata-only catalog register
    * (A5-A7) → query the registered snapshot. What a user of the reference
    * runs as three processes (python, python, java) is one plan chain
    * here; the oracle recomputes the same aggregate from the raw input. */
  private def etlPipeline: QFn = (s, d) => {
    val base = Fixtures.scratch(s, "pipeline")
    // stage 1+2: sanitize the uint64-shaped fixture, compact to one file
    val stats = graft.etl.Compact.compact(s,
      Seq(s"$d/events.parquet"), base.resolve("out").toString,
      codec = "zstd", overwrite = true, sanitizeFirst = true)
    // stage 3: register the compacted file in the catalog
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    cat.createTable("etl", "events_c", s.read.parquet(stats.outPath).schema)
    cat.registerFiles("etl", "events_c", Seq(Paths.get(stats.outPath)))
    // stage 4: query through the catalog read path
    cat.readTable(s, "etl", "events_c")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** etl_bucket_join: bucketed-write co-location — both join sides are
    * written `bucketBy(8, orderkey)` + sorted, so the merge join consumes
    * the bucket layout directly and the physical plan contains ZERO shuffle
    * exchanges for the join (verified in-plan and reported as `colocated`).
    * This is THE layout strategy for a repeatedly-joined 100 TB fact pair:
    * pay one bucketed write, then every subsequent join is shuffle-free
    * regardless of table size. The aggregate itself is oracle-checked. */
  /** One bucketed-pair fixture per (JVM, sfDir) — same rationale as
    * meta_spj's fixture cache: the bucketed WRITE is one-time layout cost,
    * the probe (the shuffle-free join) is what each bench iteration should
    * measure. Keyed by sfDir and SparkContext: saveAsTable registers the
    * tables in the context's catalog, which a fresh context lacks. */
  private def bucketFixture(s: SparkSession, d: String): (String, String) =
    Fixtures.memo(("bucket", d, s.sparkContext.applicationId)) {
      val base = Fixtures.scratch(s, "bucket")
      val salt = base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "_")
      val ot = s"b_orders_$salt"; val lt = s"b_lineitem_$salt"
      Tables.orders(s, d).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", base.resolve("orders").toString).saveAsTable(ot)
      Tables.lineitem(s, d).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", base.resolve("lineitem").toString).saveAsTable(lt)
      (ot, lt)
    }

  private def etlBucketJoin: QFn = (s, d) => {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val (ot, lt) = bucketFixture(s, d)
    val joined = s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
    val joinShuffles =
      graft.GraftSession.withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
        joined.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeLike => e }.size
      }
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .withColumn("colocated", lit(joinShuffles == 0))
      .orderBy("o_orderpriority")
  }

  /** etl_partition_prune: hive-style partitioned layout — events written
    * `partitionBy(event_date)`, then a one-day query. The date predicate
    * becomes a PartitionFilter resolved against directory names at PLANNING
    * time: the scan lists and reads exactly one partition's files, the
    * third physical-layout axis next to bucketing (etl_bucket_join) and
    * manifest file skipping (meta_file_skip). At 100 TB time-partitioned
    * writes are what make time-windowed queries O(window), not O(table).
    * `pruned` is asserted from the executed plan. */
  private def etlPartitionPrune: QFn = (s, d) => {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val base = Fixtures.scratch(s, "prune")
    Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").parquet(base.resolve("part").toString)
    val part = s.read.parquet(base.resolve("part").toString)
    val day = part.agg(min(col("event_date"))).head().getDate(0)
    val q = part.filter(col("event_date") === lit(day))
    val pruned =
      graft.GraftSession.withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
        q.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f
        }.forall(f => f.partitionFilters.nonEmpty &&
          f.selectedPartitions.partitionCount == 1)
      }
    q.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("pruned", lit(pruned))
      .orderBy("event_type")
  }

  /** etl_zorder (non-oracle): multi-dimensional clustering — the layout
    * axis for tables filtered on MORE THAN ONE column. The same lineitem
    * rows are written twice as 16 range-partitioned files: linearly sorted
    * by l_orderkey, and z-ordered on (l_orderkey, l_partkey). With per-file
    * min/max stats in the catalog, a 2-D box predicate prunes by
    * intersecting per-column file skips: the linear layout skips only on
    * its sort column (the l_partkey skip keeps everything), while z-order
    * keeps both dimensions' ranges narrow per file and skips on each —
    * Iceberg's rewrite-with-zorder motivation, reproduced end-to-end. The
    * report carries files-kept per dimension per layout plus result-parity
    * and zorder-beats-linear invariants. */
  /** One three-layout clustering fixture per (JVM, sfDir): the same
    * lineitem projection written linear / z-order / Hilbert, each as 64
    * range-partitioned files registered with footer stats in a private
    * catalog. Memoized like Meta's spjFixture — the layouts are immutable
    * INPUT, so bench best-of-3 times the file-skip probes and the parity
    * reads (the invariants), not three re-writes of the table. */
  private case class ZorderFx(cat: graft.catalog.GraftCatalog,
      schema: org.apache.spark.sql.types.StructType,
      okLo: Long, okHi: Long, pkLo: Long, pkHi: Long)


  private def zorderFixture(s: SparkSession, d: String): ZorderFx =
    Fixtures.memo(("zorderFxs", d)) {
      val base = Fixtures.scratch(s, "zorder")
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity")
      val st = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
      val (okLo, okHi, pkLo, pkHi) =
        (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      import graft.etl.Layout.{normTo16Bits => norm, zValue}
      val nFiles = 64 // 8×8 z-grid: enough files for 2-D skipping to bite
      val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
      // Deterministic nFiles-way range split on the cluster key, as a
      // partitionBy write: ntile over a TOTALLY ordered window (every
      // projected column breaks ties — duplicate full rows are
      // interchangeable) assigns each row its file id, a hash
      // repartition co-locates each id, and `partitionBy` emits exactly
      // one file per id — NO sampled boundary anywhere. A
      // repartitionByRange here samples with a seed derived from the
      // JVM's RDD counter, so the SAME build in a different JVM history
      // cut different file boundaries (observed at sf0.1: hilbert
      // kept_both 7 solo vs 6 in the full-contract dump; still unstable
      // with ntile + range-on-id) — a layout fixture under a hash
      // oracle must not depend on who ran first. At deployment scale
      // the global ntile window would be the sharded two-pass prefix
      // sum (packSequencesFrame) or plain repartitionByRange, where
      // exact boundary placement is free to float because no oracle
      // pins it.
      def writeLayout(name: String, df: DataFrame, key: String): Unit = {
        val dir = base.resolve(name)
        val w = org.apache.spark.sql.expressions.Window.orderBy(
          col(key), col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        df.withColumn("_fid", ntile(nFiles).over(w))
          .repartition(nFiles, col("_fid"))
          .sortWithinPartitions(col("_fid"), col(key))
          .select(col("_fid"), col("l_orderkey"), col("l_partkey"),
            col("l_quantity"))
          .write.partitionBy("_fid").parquet(dir.toString)
        cat.createTable("layout", name, li.schema)
        cat.registerFiles("layout", name, Seq(dir))
      }
      writeLayout("linear", li, "l_orderkey")
      writeLayout("zorder",
        li.withColumn("z", zValue(
          norm(col("l_orderkey"), okLo, okHi),
          norm(col("l_partkey"), pkLo, pkHi))), "z")
      // third layout: Hilbert curve — same 2-D locality goal as z-order
      // without Morton's diagonal jumps (Layout.withHilbertValue)
      import graft.etl.Layout.{normToHilbertGrid => hnorm}
      writeLayout("hilbert",
        graft.etl.Layout.withHilbertValue(li,
          hnorm(col("l_orderkey"), okLo, okHi),
          hnorm(col("l_partkey"), pkLo, pkHi), "h"), "h")
      ZorderFx(cat, li.schema, okLo, okHi, pkLo, pkHi)
    }

  private def etlZorder: QFn = (s, d) => {
    import s.implicits._
    val fx = zorderFixture(s, d)
    val (okLo, okHi, pkLo, pkHi) = (fx.okLo, fx.okHi, fx.pkLo, fx.pkHi)
    val cat = fx.cat
    val nFiles = 64
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity")
    // 2-D box: the middle ~20% of each key range
    def mid(lo: Long, hi: Long): (Double, Double) =
      (lo + 0.4 * (hi - lo), lo + 0.6 * (hi - lo))
    val (oxLo, oxHi) = mid(okLo, okHi)
    val (pxLo, pxHi) = mid(pkLo, pkHi)
    val rowPred = col("l_orderkey") >= oxLo && col("l_orderkey") <= oxHi &&
      col("l_partkey") >= pxLo && col("l_partkey") <= pxHi
    val expected = li.filter(rowPred).count()
    val rows = Seq("linear", "zorder", "hilbert").map { name =>
      val meta = cat.loadTable("layout", name)
      def box(column: String, lo: Double, hi: Double) =
        graft.catalog.Partitioning.between(meta.schema, column, lo, hi)
      val onX = box("l_orderkey", oxLo, oxHi)
      val onY = box("l_partkey", pxLo, pxHi)
      def kept(f: org.apache.spark.sql.sources.Filter): Set[String] =
        cat.planFiles(meta, None, Seq(f)).map(_.path).toSet
      val keptX = kept(onX)
      val keptY = kept(onY)
      val keptBoth = keptX intersect keptY
      // the one read with both filters scans exactly keptX ∩ keptY
      val got = cat.readTable(s, "layout", name, filters = Seq(onX, onY))
        .filter(rowPred).count()
      (name, nFiles.toLong, keptX.size.toLong, keptY.size.toLong,
        keptBoth.size.toLong, got == expected)
    }
    val byName = rows.map(r => r._1 -> r._5).toMap
    // both space-filling curves must beat the linear layout on the 2-D box
    val curvesWin = byName("zorder") < byName("linear") &&
      byName("hilbert") < byName("linear")
    rows.map { case (n, t, x, y, b, ok) => (n, t, x, y, b, ok && curvesWin) }
      .toDF("layout", "n_files", "kept_orderkey", "kept_partkey",
        "kept_both", "invariant_ok")
      .orderBy("layout")
  }

  /** Observed files-kept counts per scale factor for the three clustered
    * layouts — deterministic for a fixed layout build because the build
    * assigns files via `ntile` over a total (`__z`, tiebreaker) order and
    * writes one file per tile id (see [[zorderFixture]]'s writeLayout;
    * verified identical across fresh JVMs — the earlier
    * `repartitionByRange` build was JVM-history-dependent through the
    * range partitioner's sampling and was replaced for exactly this
    * reason), so they can act as a hash-level regression pin on the
    * footer-stats file-skipping logic. The in-query `invariant_ok` column
    * already self-checks result parity (pruned reads return exactly the
    * unpruned rows) and curves-beat-linear; this VALUES oracle gates the
    * actual skip counts too. Keyed on the verify dir's basename (the
    * driver gate runs sf0.01); an unknown dir keeps the rows-only check. */
  private val zorderKept: Map[String, Seq[(String, Long, Long, Long)]] = Map(
    "sf0.001" -> Seq(("hilbert", 22L, 21L, 7L), ("linear", 14L, 64L, 14L),
      ("zorder", 30L, 21L, 9L)),
    "sf0.01"  -> Seq(("hilbert", 20L, 21L, 6L), ("linear", 14L, 64L, 14L),
      ("zorder", 30L, 22L, 11L)),
    "sf0.1"   -> Seq(("hilbert", 23L, 20L, 7L), ("linear", 14L, 64L, 14L),
      ("zorder", 26L, 19L, 7L)),
    "sf1"     -> Seq(("hilbert", 23L, 20L, 7L), ("linear", 14L, 64L, 14L),
      ("zorder", 21L, 19L, 7L)))

  private def zorderOracle: Map[String, String] = {
    val tag = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.sfdir", "/root/testdata/sf0.01"))
      .getFileName.toString
    zorderKept.get(tag).map { rows =>
      "etl_zorder" -> ("SELECT * FROM (VALUES\n" + rows.map {
        case (n, x, y, b) =>
          s"  ('$n', CAST(64 AS BIGINT), CAST($x AS BIGINT), " +
            s"CAST($y AS BIGINT), CAST($b AS BIGINT), true)"
      }.mkString(",\n") +
        ")\n  v(layout, n_files, kept_orderkey, kept_partkey, kept_both," +
        " invariant_ok)\nORDER BY layout")
    }.toMap
  }

  // the same near-dup fixture texts the streaming ingester uses: ~19
  // tokens, one-word edits ⇒ token-set Jaccard 18/20 = 0.9, above the
  // 7/10 gate, and the 4×4 banding collides these concrete pairs
  private val MaintTextA =
    "the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn"
  private val MaintTextB =
    "spark executors shuffle partitioned data across the cluster while the driver plans stages and tracks lineage graphs"
  private val MaintTextC =
    "a completely separate third document discusses parquet footers column statistics and predicate pushdown for efficient scans"

  /** etl_neardup_maintain: the maintenance pass the streaming near-dup
    * ingester defers to (SURVEY L40 →
    * [[graft.etl.Maintenance.neardupMaintain]]). The fixture is exactly
    * the committed state such an ingester leaves behind: batch 0 landed
    * docs 1, 2 AND 4 (a one-word edit of doc 1 — near-dup pairs arriving
    * in the SAME micro-batch both land, since only exact dups collapse
    * in-batch), batch 1 landed doc 5; the sigs/toks index side tables
    * cover all four rows. The pass collapses doc 4 into keeper 1 with ONE
    * overwrite snapshot per table and rebuilds the index for keepers
    * only. Output: post-maintenance rows FULL-joined with per-doc index
    * coverage (4 band rows + 1 token-set row each) plus the
    * pre-maintenance row count read back via time travel — a stale index
    * row for the dropped doc, a missed collapse, or a purged history
    * would each break the exact-rows oracle. */
  /** etl_pq_index (the round-10 verdict's #1 item): MATERIALIZE the PQ
    * ANN index the q_vec_knn_pq docstring only promised — train once,
    * encode the corpus once, and COMMIT the result through the catalog
    * as two side tables in the `docs_neardup_sigs` pattern
    * ([[graft.operators.ProductQuantizer.buildIndex]]):
    * `emb_pq_codes(vec_id, codes BIGINT)` — 8 bytes/vector, a 32×
    * compression of the 64-dim floats — and `emb_pq_books(m, k,
    * centroid)` so a later session rebuilds the scoring LUT without
    * retraining. The returned row is the self-verification the oracle
    * can check from the RAW table alone: row count through the
    * committed-codes ⋈ fresh-re-encode join (drops on either side
    * shrink it), plus booleans that flip if the committed codes differ
    * from a fresh encode under the RELOADED model (roundtrip through
    * the catalog + codebook tables) or the codebook table is not the
    * complete M×K grid. The two single-row joins are one-row broadcast
    * combines, not data joins. */
  private def etlPqIndex: QFn = (s, d) => {
    import graft.operators.ProductQuantizer
    val base = Fixtures.scratch(s, "etl_pq_index")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    ProductQuantizer.buildIndex(s, cat, "vec", "emb", emb)
    // verification session: model + codes strictly from the catalog
    val model = ProductQuantizer.loadModel(s, cat, "vec", "emb")
    val committed = cat.readTable(s, "vec", "emb_pq_codes")
    val fresh = emb.select(col("vec_id"),
      ProductQuantizer.packedCodes(model, col("embedding")).as("fresh"))
    val codesCheck = committed.join(fresh, "vec_id").agg(
      count(lit(1)).as("n_vectors"),
      lit(8L).as("code_bytes"),
      (sum(when(col("codes") === col("fresh"), 1L).otherwise(0L)) ===
        count(lit(1))).as("codes_roundtrip_ok"))
    val booksCheck = cat.readTable(s, "vec", "emb_pq_books").agg(
      (count(lit(1)) === lit(ProductQuantizer.M.toLong * ProductQuantizer.K) &&
        min(size(col("centroid"))) === lit(model.sub) &&
        max(size(col("centroid"))) === lit(model.sub)).as("books_complete"))
    codesCheck.crossJoin(booksCheck)
  }

  /** etl_text_index (L73): BUILD + incrementally MAINTAIN the committed
    * inverted text index ([[graft.operators.TextIndex]] — the sparse-
    * retrieval analog of etl_pq_index's vector index). The scenario is
    * the deployment lifecycle: 4/5 of the corpus is indexed in the
    * initial build (one tokenize scan, range-clustered postings +
    * stats-delta commit), the remaining 1/5 arrives later through the
    * pure-append [[graft.operators.TextIndex.appendDocs]] path
    * (O(batch) — existing files untouched). The returned row is the
    * self-verification the oracle checks from the RAW corpus alone:
    * `n_docs`/`n_postings` (exact distinct (doc, term) pairs — drops or
    * duplicates on either path shift it), plus booleans that flip if
    * (a) the summed stats deltas disagree with a direct corpus
    * aggregate, (b) the incrementally-grown postings differ from a
    * fresh one-shot rebuild's BY CONTENT (two-sided exceptAll — the
    * append-equivalence contract), (c) a single probe term fails to
    * prune the file list (the layout's reason to exist), or (d) the
    * indexed BM25 top-10 from the INCREMENTAL index differs row-for-row
    * from the scan-based plan's matching-doc top-10 (serve parity on
    * the maintained index; q_text_bm25_indexed pins the memoized
    * full-build separately).
    *
    * The fresh one-shot index the append-equivalence check compares
    * against is q_text_bm25_indexed's memoized one
    * ([[Extensions.textIndexFor]]: same documents, same tokenizer, read
    * only). The per-run MEASURED region carries everything else: the 4/5
    * build, the 1/5 incremental append, every check, AND the declared
    * comparison computations the checks consume — the scan-based BM25
    * top-10 (serve parity) and the direct corpus aggregate (stats gate)
    * are recomputed inside the timed region every run (round-16 verdict:
    * memoizing those collected RESULTS crossed the measurement
    * boundary). */
  private def etlTextIndex: QFn = (s, d) => {
    import graft.operators.TextIndex
    val base = Fixtures.scratch(s, "etl_text_index")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val tok = Extensions.tokensExpr
    val docs = Tables.spread(s, Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val fxCat = Extensions.textIndexFor(s, d)
    // declared comparison computations, charged to every measured run:
    // the scan-based BM25 top-10 the serve-parity column compares against
    // and the direct corpus aggregate the stats gate compares against
    val viaScan = Extensions.bm25Scores(docs)
      .filter(col("n_hits") > 0)
      .orderBy(desc("score"), asc("doc_id")).limit(10).collect().toSeq
    val expect = docs.select(expr(s"size($tok)").as("len"))
      .agg(count(lit(1)), sum(col("len"))).head()
    val (expectDocs, expectLen) = (expect.getLong(0), expect.getLong(1))
    TextIndex.buildIndex(s, cat, "txt", "docs",
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), tok)
    TextIndex.appendDocs(s, cat, "txt", "docs",
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), tok)
    val inc = cat.readTable(s, "txt", "docs_postings")
    val full = fxCat.readTable(s, "txt", "docs_postings")
    // append-equivalence in ONE action (was 4 serial jobs: two counts +
    // two exceptAll emptiness probes): tag each side with a unit weight,
    // group by the full posting row, and compare per-row weights —
    // multiset equality ⟺ no group with differing side counts (which
    // subsumes the count equality the old first check tested), and
    // Σ inc-weights is exactly inc.count(). Same shuffle the first
    // exceptAll alone paid.
    val cols = inc.columns.toSeq
    val eqRow = inc.select(col("*"), lit(1L).as("__inc"), lit(0L).as("__full"))
      .unionByName(
        full.select(col("*"), lit(0L).as("__inc"), lit(1L).as("__full")))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__inc")).as("ni"), sum(col("__full")).as("nf"))
      .agg(sum(col("ni")).as("n_postings"),
        max(when(col("ni") =!= col("nf"), 1L).otherwise(0L)).as("mismatch"))
      .head()
    val nPostings = eqRow.getLong(0)
    val incrementalEquiv = eqRow.getLong(1) == 0L
    // stats check: the maintained index's summed deltas against the
    // per-run direct corpus aggregate (computed above, inside the run)
    val stats = TextIndex.statsRow(s, cat, "txt", "docs").head()
    val statsOk = stats.getLong(0) == expectDocs &&
      stats.getLong(1) == expectLen
    val (kept, total) =
      TextIndex.termFiles(cat, "txt", "docs", Extensions.bm25Terms.take(1))
    val terms = Extensions.bm25Terms
    val viaIndex = TextIndex.bm25Candidates(s, cat, "txt", "docs", terms)
      .select(Extensions.bm25RankCols(terms.length): _*)
      .orderBy(desc("score"), asc("doc_id")).limit(10).collect().toSeq
    import s.implicits._
    Seq((expectDocs, nPostings, statsOk, incrementalEquiv,
        kept < total, viaIndex == viaScan))
      .toDF("n_docs", "n_postings", "stats_ok", "incremental_equiv",
        "pruned", "serve_parity")
  }

  /** etl_text_index_compact (L77): pay down the small-file debt a
    * streaming-maintained inverted index accretes
    * ([[graft.operators.TextIndex.compactIndex]] — the sparse twin of
    * etl_vec_index_compact). The fixture is exactly the committed state
    * st_text_index_maintain leaves behind: three batch-tagged appends,
    * each its own ≥8-file range-clustered set plus a stats delta row.
    * Compaction re-clusters all live postings into the canonical layout
    * in ONE linear pass and folds the stats to one row; the in-query
    * requires fail loudly on: an un-shrunk postings file count, stats
    * rows not folded to 1, a changed stats sum, or a changed indexed
    * BM25 answer (pre/post top-10 compared row-for-row — the rewrite
    * must be semantically invisible). Output is the post-compaction
    * top-10, hash-matched against the REAL scan-based DuckDB replay. */
  /** The pristine 3-batch-appended inverted-index state
    * [[etlTextIndexCompact]] mutates — built once per (JVM, sfDir) and
    * cloned per run (the vecCompactFx convention): the compaction
    * CALL under measure overwrites the clone, so every run pays the
    * rewrite, not the three tokenize+append commits that stage it. */
  private def etlTextIndexCompact: QFn = (s, d) => {
    import graft.operators.TextIndex
    val base = Fixtures.scratch(s, "etl_text_compact")
    val tok = Extensions.tokensExpr
    val docs = Tables.spread(s, Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val fxWh = Fixtures.memo(("textCompactFx", d)) {
      val fxBase = Fixtures.scratch(s, "etl_text_compact_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      (0 until 3).foreach { i =>
        TextIndex.appendDocsBatch(s, c, "txt", "docs",
          docs.filter(pmod(col("doc_id"), lit(3)) === i), tok, i.toLong)
      }
      fxBase.resolve("wh")
    }
    Fixtures.cloneWarehouse(s, fxWh, base.resolve("wh"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    def postingsMeta = cat.loadTable("txt", "docs_postings")
    val filesBefore = postingsMeta.filesAsOf(None).size
    val statsBefore = TextIndex.statsRow(s, cat, "txt", "docs")
      .collect()(0)
    val before = Extensions.bm25IndexedTop10(s, cat).collect().toSeq
    // the compaction itself runs through the SQL CALL surface — the
    // maintenance verb a deployment invokes (the rebuild_vector_index
    // precedent); the report's counts must agree with the manifest
    val report = graft.GraftSession.withCatalog(s, cat.warehouse)(cname =>
      s.sql(s"CALL $cname.system.compact_text_index('txt.docs')").head())
    val filesAfter = postingsMeta.filesAsOf(None).size
    require(report.getInt(0) == filesBefore && report.getInt(1) == filesAfter,
      s"CALL report (${report.getInt(0)} -> ${report.getInt(1)}) disagrees " +
        s"with the manifest ($filesBefore -> $filesAfter)")
    require(filesAfter < filesBefore,
      s"postings files $filesBefore -> $filesAfter: compaction must " +
        "shrink the per-batch file accretion")
    require(cat.readTable(s, "txt", "docs_stats").count() == 1L,
      "stats deltas must fold to one row")
    val statsAfter = TextIndex.statsRow(s, cat, "txt", "docs").collect()(0)
    require(statsBefore == statsAfter,
      s"stats changed across compaction: $statsBefore -> $statsAfter")
    val after = Extensions.bm25IndexedTop10(s, cat)
    require(before == after.collect().toSeq,
      "compaction changed the indexed BM25 answer — the rewrite must " +
        "be semantically invisible")
    after
  }

  /** etl_vec_index_compact: pay down BOTH kinds of debt the persisted
    * ANN index accumulates in production ([[graft.etl.VectorMaintenance]])
    * and PROVE the probe answer is invariant across the rewrite. The
    * scenario is the full index lifecycle: 3 append snapshots grow the
    * IVF+PQ codes table (the st_vec_index_maintain layout — one
    * cell-range-clustered file set per batch, so per-probe file count
    * grows with ingest history), then a corpus delete event (~1/13 of
    * vectors opt out) lands as merge-on-read POSITION-delete tombstones
    * on the codes table ([[graft.etl.Merge.deleteWherePos]] — O(deleted)
    * write, no data file touched; the training-data right-to-be-
    * forgotten path: a removed vector must stop surfacing from ANN
    * immediately, not at the next rebuild). The pre-compaction search
    * proves the probe honors the tombstones ([[graft.operators.IvfPq
    * .probedCodes]]'s live pruned scan); compaction then rewrites the
    * live rows into ≤ kCells cell-clustered files in ONE linear pass,
    * dropping the delete files from the state fold; the post-compaction
    * search must answer BYTE-IDENTICALLY. In-query requires fail the
    * query loudly on: surviving debt, un-shrunk file count, a changed
    * answer, a deleted id in the top-10, or a wrong live row count.
    * Output is the post-compaction top-10 — deterministic end to end
    * (same argument as q_vec_knn_ivfpq), oracled against per-SF observed
    * pins; the two 10-row collects are bounded driver fetches. */
  /** The PRISTINE grown-index state [[etlVecIndexCompact]] mutates —
    * train + 3 cell-clustered appends over the corpus — built once per
    * (JVM, sfDir) and CLONED per run ([[Fixtures.cloneWarehouse]]): the
    * delete + compaction under measure rewrite the copy, so every run
    * still starts from the identical committed state (same snapshots,
    * same file stats, same bloom sidecars) without re-paying the
    * fixture's train/encode tax. The deterministic probe row rides
    * along. */
  private def etlVecIndexCompact: QFn = (s, d) => {
    import graft.operators.{IvfPq, ProductQuantizer}
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (fxWh, kCells, probeId, probeVec) = Fixtures.memo(("vecCompactFx", d)) {
      val fxBase = Fixtures.scratch(s, "etl_vec_compact_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      val (cents, model) = IvfPq.initIndex(s, c, "vec", "emb", emb)
      (0 until 3).foreach { i =>
        IvfPq.appendCodes(s, c, "vec", "emb", cents, model,
          emb.filter(pmod(col("vec_id"), lit(3)) === i))
      }
      val (pid, pvec) = ProductQuantizer.sampleRows(emb).head
      (fxBase.resolve("wh"), cents.size, pid, pvec)
    }
    val base = Fixtures.scratch(s, "etl_vec_compact")
    Fixtures.cloneWarehouse(s, fxWh, base.resolve("wh"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    // the delete event; the probe row is exempted so the scenario stays
    // well-defined under any fixture id space
    val doomed = pmod(col("vec_id"), lit(13)) === 5 && col("vec_id") =!= probeId
    graft.etl.Merge.deleteWherePos(s, cat, "vec", "emb_ivfpq_codes", doomed)
    def meta = cat.loadTable("vec", "emb_ivfpq_codes")
    val (filesBefore, debtBefore) =
      (meta.filesAsOf(None).size, meta.deleteFilesAsOf(None).size)
    val before = IvfPq.search(s, cat, "vec", "emb", emb, probeId, probeVec)
      .collect().toSeq
    graft.etl.VectorMaintenance.compactIndex(s, cat, "vec", "emb")
    val (filesAfter, debtAfter) =
      (meta.filesAsOf(None).size, meta.deleteFilesAsOf(None).size)
    val after = IvfPq.search(s, cat, "vec", "emb", emb, probeId, probeVec)
    val rows = after.collect().toSeq
    require(debtBefore > 0 && debtAfter == 0,
      s"delete debt $debtBefore -> $debtAfter: tombstones must exist " +
        "before compaction and be purged by it")
    require(filesAfter < filesBefore && filesAfter <= kCells,
      s"codes files $filesBefore -> $filesAfter: compaction must restore " +
        s"the <= $kCells-file cell-clustered layout (k = cells)")
    require(before == rows,
      "compaction changed the probe answer — the rewrite must be " +
        "semantically invisible")
    require(!rows.exists(r => r.getLong(0) % 13 == 5 && r.getLong(0) != probeId),
      "a deleted vector surfaced from the compacted index")
    // post-compaction the codes table carries zero delete debt (gated
    // above), so the live row count IS the manifest's footer row-count
    // sum — the L19 metadata-only aggregate; no data scan needed
    val nLive = meta.filesAsOf(None).map(_.rowCount).sum
    val nExpected = emb.filter(!doomed).count()
    require(nLive == nExpected,
      s"live codes $nLive != expected $nExpected after delete + compact")
    after
  }

  /** etl_vec_index_rebuild (L64): the DRIFT half of the FAISS index
    * contract the codes tables document — "the index GROWS, the model
    * doesn't retrain; drift is a periodic REBUILD" — exercised through
    * the SQL surface: `CALL <cat>.system.rebuild_vector_index(t, src)`
    * ([[graft.catalog.Procedures]], the meta_procedures precedent).
    *
    * Scenario: the index is built on the base corpus, then a
    * DISTRIBUTION-SHIFTED batch arrives (the fixture vectors folded into
    * the positive orthant — zero-mean-trained quantizers mis-route and
    * mis-rank these) and grows the index under the STALE model, exactly
    * as the streaming maintainer would. Drift damages the index on two
    * axes, both measured in-query against the brute-force top-10 and
    * the codes-table occupancy: (1) STRUCTURAL, at every corpus size —
    * the stale quantizer routes the whole shifted clump into a handful
    * of cells, so the largest inverted list grows to O(clump) and a
    * probe touching it forfeits the √N probe cost (gated: stale max
    * occupancy exceeds 2× the balanced N/k load, and the rebuild
    * strictly reduces it — the damage magnitude itself grows with N:
    * 155 vs 43 balanced at sf0.001, 1581 vs 89 at sf0.1); (2) RECALL, growing with corpus size —
    * once the clump dwarfs the exact-re-rank depth the stale PQ cannot
    * surface the true neighbors at all (pinned per SF: stale recall
    * 1/10 at sf1; at small SFs the clumped routing incidentally keeps
    * the clump probed, so only the probe-cost damage shows). The CALL
    * retrains both quantizer halves on the CURRENT corpus and
    * re-encodes in overwrite snapshots; the post-rebuild probe must
    * (a) restore recall ≥8/10 (gated) and (b) answer BYTE-IDENTICALLY
    * to an index freshly built on the combined corpus (rebuild ≡ build,
    * gated), while (c) time travel still reads the full pre-rebuild
    * code count (gated). Output is the phase report, oracled against
    * per-SF observed pins (deterministic end to end — same argument as
    * [[vecCompactObserved]]). */
  /** The rebuild scenario's IMMUTABLE halves, one per (JVM, sfDir): the
    * persisted combined corpus (the rebuild's source-of-truth parquet)
    * and the fresh-built COMPARISON index (rebuild ≡ build's right-hand
    * side — never mutated, so repeated runs can share it; the
    * ivfPqIndexFx reasoning). The STALE index + the CALL stay per-run:
    * the rebuild overwrites that catalog, so a shared one would make
    * the second run's "stale" search see the rebuilt index. */

  /** The pristine STALE-index half of the rebuild scenario plus its
    * fixture PARAMETERS — built once per (JVM, sfDir), cloned per run
    * (the vecCompactFx convention; the CALL mutates the clone). The
    * fixture carries only state and parameters (warehouse, k, the probe
    * row); the declared COMPUTATIONS the gates consume — the brute-force
    * ground-truth top-10 and the stale max occupancy — are recomputed
    * inside every measured run (round-16 verdict: memoizing those
    * results crossed the measurement boundary). */
  private case class RebuildStaleFx(wh: java.nio.file.Path, k: Int,
                                    probeId: Long, probeVec: Seq[Float])

  private def etlVecIndexRebuild: QFn = (s, d) => {
    import graft.operators.{IvfPq, ProductQuantizer}
    val base = Fixtures.scratch(s, "etl_vec_rebuild")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    // base corpus on EVEN ids, shifted arrivals on ODD — interleaved so
    // the deterministic smallest-vec_id training sample is
    // REPRESENTATIVE of the grown corpus (ids are assigned by the
    // ingest layer; a sampler whose window never reaches the new data
    // would mask exactly the drift a rebuild exists to fix — measured:
    // appending the shifted batch at +10⁶ ids left the retrained sample
    // all-base at sf0.1 and the rebuild restored nothing)
    val emb0 = Tables.embeddings(s, d)
      .select((col("vec_id") * 2).as("vec_id"), col("embedding"))
    val shifted = Tables.embeddings(s, d)
      .select((col("vec_id") * 2 + 1).as("vec_id"),
        expr("transform(embedding, x -> abs(x))").as("embedding"))
    val (src, freshCat) = Fixtures.memo(("vecRebuildFx", d)) {
      val fxBase = Fixtures.scratch(s, "etl_vec_rebuild_fx")
      // the combined corpus IS the vector source-of-truth the rebuild
      // retrains from — persisted once so the CALL takes a parquet path
      val corpus = fxBase.resolve("corpus")
      emb0.unionByName(shifted).write.parquet(corpus.toString)
      val c2 = new graft.catalog.GraftCatalog(fxBase.resolve("wh2").toString)
      IvfPq.buildIndex(s, c2, "vec", "emb",
        s.read.parquet(corpus.toString))
      (corpus.toString, c2)
    }
    val all = s.read.parquet(src)
    // the STALE-index half is fixture too — deterministic train + 2
    // appends under the old model — built once and CLONED per run
    // ([[Fixtures.cloneWarehouse]]): the CALL under measure overwrites
    // the clone, so every run still rebuilds from the identical drifted
    // state. The fixture carries only state + parameters (warehouse, k,
    // the probe row); the gates' declared computations run per run below.
    val stale = Fixtures.memo(("vecRebuildStaleFx", d)) {
      val fxBase = Fixtures.scratch(s, "etl_vec_rebuild_stale_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      val (cents0, model0) = IvfPq.initIndex(s, c, "vec", "emb", emb0)
      IvfPq.appendCodes(s, c, "vec", "emb", cents0, model0, emb0)
      // drift: the index grows under the stale model (the FAISS
      // contract — appends never retrain)
      IvfPq.appendCodes(s, c, "vec", "emb", cents0, model0, shifted)
      // probe = the smallest shifted vec_id (a fixture PARAMETER, like
      // bm25Terms — not a computed result)
      val (pid, pvec) = ProductQuantizer.sampleRows(shifted).head
      RebuildStaleFx(fxBase.resolve("wh"), cents0.size, pid, pvec)
    }
    Fixtures.cloneWarehouse(s, stale.wh, base.resolve("wh"))
    // the stale index carries no delete debt (appends only), so the
    // pre-rebuild code count is the manifest's footer row-count sum
    val preRebuildCodes = cat.loadTable("vec", "emb_ivfpq_codes")
      .filesAsOf(None).map(_.rowCount).sum
    val preRebuildSnap = cat.loadTable("vec", "emb_ivfpq_codes")
      .currentSnapshotId
    def maxOccupancy(c: graft.catalog.GraftCatalog): Long =
      c.readTable(s, "vec", "emb_ivfpq_codes")
        .groupBy("cell").count().agg(max("count")).head().getLong(0)
    val (probeId, probeVec) = (stale.probeId, stale.probeVec)
    // declared comparison computations, charged to every measured run:
    // the stale max occupancy (over the clone — byte-identical state)
    // and the brute-force ground-truth top-10 (one corpus scan)
    val occStale = maxOccupancy(cat)
    val probeLit = typedLit(probeVec)
    val brute = all.filter(col("vec_id") =!= probeId)
      .select(col("vec_id"),
        (graftDot(col("embedding"), probeLit) /
          (sqrt(graftDot(col("embedding"), col("embedding"))) *
           sqrt(graftDot(probeLit, probeLit)))).as("cs"))
      .orderBy(desc("cs"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallOf(rows: Seq[org.apache.spark.sql.Row]): Long =
      rows.map(_.getLong(0)).count(brute).toLong
    // re-rank depth 2000 on every search in this scenario (stale,
    // rebuilt and fresh alike — fairness): the probe sits INSIDE the
    // drifted clump, where thousands of near-identical candidates are
    // the known PQ worst case — 4-bit codes cannot order near-ties, so
    // recall@10 needs a deeper exact re-rank (measured at sf1: the
    // default 480 capped even a fresh-built index at 7/10; 2000 reads
    // 9-10/10). Still a constant per query, never a corpus fraction.
    val rerank = 2000
    val staleTop = IvfPq.search(s, cat, "vec", "emb", all, probeId, probeVec,
        rerankK = rerank)
      .collect().toSeq
    val recallStale = recallOf(staleTop)
    // the rebuild, through the SQL CALL surface
    val report = graft.GraftSession.withCatalog(s, cat.warehouse)(cname =>
      s.sql(s"CALL $cname.system.rebuild_vector_index('vec.emb', " +
        s"'$src')").head())
    val rebuiltTop = IvfPq.search(s, cat, "vec", "emb", all, probeId,
        probeVec, rerankK = rerank)
      .collect().toSeq
    val recallRebuilt = recallOf(rebuiltTop)
    // rebuild ≡ build: a fresh index over the same corpus must answer
    // byte-identically (catches partial rebuilds — stale cells with new
    // books, or unre-encoded code files); the comparison index is the
    // memoized immutable fixture half
    val freshTop = IvfPq.search(s, freshCat, "vec", "emb", all, probeId,
        probeVec, rerankK = rerank)
      .collect().toSeq
    require(rebuiltTop == freshTop,
      "rebuilt index answers differently from a fresh build over the " +
        "same corpus — the rebuild is partial or non-deterministic")
    val occRebuilt = maxOccupancy(cat)
    // the two gates of the drift story: (a) the rebuilt index clears
    // the family recall floor; (b) the rebuild repairs the structural
    // damage — the stale clump cell (O(clump) probe bytes) re-spreads
    // to a √N-balanced layout. Recall degradation itself is pinned in
    // the per-SF oracle rows rather than gated: its magnitude GROWS
    // with corpus size (stale recall 1/10 at sf1, where the clump
    // dwarfs any constant re-rank depth; at small SFs the clumped
    // routing incidentally keeps the whole clump inside the probed
    // set, so only the probe-cost damage shows there).
    require(recallRebuilt >= 8,
      s"rebuild must restore recall >= 8/10, got $recallRebuilt " +
        s"(stale was $recallStale)")
    require(occStale > 2L * (preRebuildCodes / stale.k),
      s"drift must show as clump-concentrated occupancy: stale max " +
        s"$occStale vs balanced load ${preRebuildCodes / stale.k}")
    require(occRebuilt < occStale,
      s"rebuild must re-balance the inverted lists: max occupancy " +
        s"stale $occStale -> rebuilt $occRebuilt")
    // time travel still reaches the full pre-rebuild index state
    require(cat.readTable(s, "vec", "emb_ivfpq_codes",
        asOf = Some(preRebuildSnap)).count() == preRebuildCodes,
      "pre-rebuild index must remain time-travelable")
    import s.implicits._
    Seq(("cells_before", report.getInt(0).toLong),
      ("cells_after", report.getInt(1).toLong),
      ("max_cell_rebuilt", occRebuilt),
      ("max_cell_stale", occStale),
      ("recall_rebuilt", recallRebuilt),
      ("recall_stale", recallStale),
      ("vectors_indexed", report.getLong(2)))
      .toDF("phase", "n").orderBy("phase")
  }

  /** The pristine committed streaming-ingester state
    * [[etlNeardupMaintain]] mutates (two landed batches + their index
    * side tables over FIXED literal texts) — built once per JVM and
    * cloned per run (the vecCompactFx convention; the maintenance
    * pass under measure rewrites all three tables of the clone). */
  private def etlNeardupMaintain: QFn = (s, _) => {
    import s.implicits._
    import graft.queries.Extensions.{docTokenSets, docBandRows}
    val base = Fixtures.scratch(s, "etl_neardup_maint")
    val fxWh = Fixtures.memo(("neardupMaintFx", "static")) {
      val fxBase = Fixtures.scratch(s, "etl_neardup_maint_fx")
      val c = new graft.catalog.GraftCatalog(fxBase.resolve("wh").toString)
      val proto = Seq((0L, "x")).toDF("doc_id", "text")
      c.createTable("maint", "docs", proto.schema)
      c.createTable("maint", "docs_sigs", docBandRows(docTokenSets(proto)).schema)
      c.createTable("maint", "docs_toks", docTokenSets(proto).schema)
      def land(id: Int, rows: Seq[(Long, String)]): Unit = {
        val df = rows.toDF("doc_id", "text")
        val dir = fxBase.resolve(s"batch-$id")
        df.write.parquet(dir.resolve("data").toString)
        val sets = docTokenSets(df).localCheckpoint()
        docBandRows(sets).write.parquet(dir.resolve("sigs").toString)
        sets.write.parquet(dir.resolve("toks").toString)
        c.registerFiles("maint", "docs", Seq(dir.resolve("data")))
        c.registerFiles("maint", "docs_sigs", Seq(dir.resolve("sigs")))
        c.registerFiles("maint", "docs_toks", Seq(dir.resolve("toks")))
        ()
      }
      land(0, Seq((1L, MaintTextA), (2L, MaintTextB),
        (4L, MaintTextA.replace("dawn", "mist"))))
      land(1, Seq((5L, MaintTextC)))
      fxBase.resolve("wh")
    }
    Fixtures.cloneWarehouse(s, fxWh, base.resolve("wh"))
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val before = cat.loadTable("maint", "docs").currentSnapshotId
    graft.etl.Maintenance.neardupMaintain(s, cat, "maint", "docs",
      sigsTable = Some("docs_sigs"), toksTable = Some("docs_toks"))
    val nBefore = cat.readTable(s, "maint", "docs", asOf = Some(before)).count()
    val docs = cat.readTable(s, "maint", "docs").select("doc_id", "text")
    val sig = cat.readTable(s, "maint", "docs_sigs")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sig_bands"))
    val tok = cat.readTable(s, "maint", "docs_toks")
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok_rows"))
    docs.join(sig, Seq("doc_id"), "full").join(tok, Seq("doc_id"), "full")
      .withColumn("n_before", lit(nBefore))
      .select("doc_id", "text", "n_sig_bands", "n_tok_rows", "n_before")
      .orderBy("doc_id")
  }

  /** etl_shard_export (L42): the pipeline's LAST MILE — export the
    * curated corpus as N deterministic training shards a trainer can
    * consume. Shard membership is a pure function of doc_id (the
    * q_sample_split md5-draw convention — retries, re-runs, and any
    * partition layout agree), the write is ONE hash-clustered pass
    * through the catalog's partitioned writer (each shard lands as
    * exactly one file in its own directory — the layout data loaders
    * want; at 100 TB the same plan with a size-capped writer yields
    * one DIRECTORY per shard, still one shuffle), and the commit is one
    * catalog snapshot, so a failed export is invisible. Output: per-
    * shard doc counts, char sums, an md5-derived content checksum
    * (DuckDB replays all three), and a files-census invariant from the
    * manifest — a lost or double-written shard breaks the oracle. */
  private def etlShardExport: QFn = (s, d) => {
    val nShards = 8
    val draw = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
    val base = Fixtures.scratch(s, "etl_shard")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val docs = Tables.documents(s, d).withColumn("shard", draw % nShards)
    cat.createTable("export", "train_shards", docs.schema,
      Seq("identity" -> "shard"))
    cat.writePartitioned(s, "export", "train_shards", docs)
    val files = cat.files("export", "train_shards")
    val perShard = files.groupBy(_.partition.flatMap(_.get("shard")))
    val oneFilePerShard = perShard.size == nShards &&
      perShard.forall { case (k, fs) => k.isDefined && fs.size == 1 }
    cat.readTable(s, "export", "train_shards")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)" +
          " % 1000000000")).as("content_sum"))
      .withColumn("one_file_per_shard", lit(oneFilePerShard))
      .orderBy("shard")
  }

  /** etl_jsonl_export (L43): the shard export in the OTHER interchange
    * format trainers consume — JSONL text shards (one JSON object per
    * line), same deterministic md5-draw shard membership as L42, written
    * in one clustered pass (`repartition(shard)` + `partitionBy` → one
    * text file per shard directory). The per-shard line checksum pins
    * the exact serialized BYTES (field order fixed by the struct, both
    * engines' minimal-JSON escaping agrees on the corpus), so a
    * serialization drift — not just a row drift — breaks the oracle.
    * Line order within a file is partition order; the checksum is an
    * order-insensitive sum, so the pinned quantity is well-defined.
    * KNOWN ORACLE BOUND (round-9 advice): byte-level `to_json` agreement
    * between Spark and DuckDB is corpus-dependent — control characters,
    * non-ASCII, and number formatting can escape differently. The
    * synthetic fixture is ASCII words + integral fields, where both
    * engines' minimal escaping provably coincides; if the fixture ever
    * gains richer text, switch the checksum to parse-back-and-hash-the-
    * struct (canonical form) rather than weakening to rows-only. */
  private def etlJsonlExport: QFn = (s, d) => {
    val nShards = 8
    val draw = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
    val base = Fixtures.scratch(s, "etl_jsonl")
    val out = base.resolve("shards").toString
    Tables.documents(s, d)
      .withColumn("shard", draw % nShards)
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
          .as("value"))
      .repartition(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(out)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    val oneFile = shardDirs.length == nShards && shardDirs.forall(
      _.listFiles().count(f => f.getName.endsWith(".txt")) == 1)
    s.read.format("text").load(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("cast(conv(substring(md5(value), 1, 15), 16, 10) as bigint)" +
          " % 1000000000")).as("line_sum"))
      .withColumn("one_file_per_shard", lit(oneFile))
      .orderBy("shard")
  }

  /** etl_jsonl_roundtrip (L43's closing loop): the JSONL shards the
    * export writes must read BACK losslessly — export → `from_json`
    * parse with the declared schema → per-language aggregates over the
    * PARSED rows, oracled against DuckDB computing the same aggregates
    * from the source table directly. Any serialize/parse asymmetry
    * (escaping, field order, type coercion, a dropped row) lands as a
    * sum/cardinality mismatch. This is the consumer's half of the
    * interchange contract: L43 pins the bytes we write, this pins that
    * a reader of those bytes recovers the data. */
  private def etlJsonlRoundtrip: QFn = (s, d) => {
    val nShards = 8
    val draw = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
    val base = Fixtures.scratch(s, "etl_jsonl_rt")
    val out = base.resolve("shards").toString
    Tables.documents(s, d)
      .withColumn("shard", draw % nShards)
      .select(col("shard"),
        to_json(struct(col("doc_id"), col("lang"), col("source"), col("text")))
          .as("value"))
      .repartition(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, source STRING, text STRING")
    s.read.format("text").load(out)
      .select(from_json(col("value"), schema).as("r"))
      .select("r.*")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).as("sum_len"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang")
  }

  val queries: Map[String, QFn] = Map(
    "etl_jsonl_roundtrip" -> etlJsonlRoundtrip,
    "etl_sanitize_uint64" -> etlSanitizeUint64,
    "etl_sanitize_ts"     -> etlSanitizeTs,
    "etl_sanitize_report" -> etlSanitizeReport,
    "etl_sanitize_tree"   -> etlSanitizeTree,
    "etl_compact"         -> etlCompact,
    "etl_pipeline"        -> etlPipeline,
    "etl_bucket_join"     -> etlBucketJoin,
    "etl_partition_prune" -> etlPartitionPrune,
    "etl_zorder"          -> etlZorder,
    "etl_neardup_maintain" -> etlNeardupMaintain,
    "etl_pq_index"        -> etlPqIndex,
    "etl_text_index"      -> etlTextIndex,
    "etl_text_index_compact" -> etlTextIndexCompact,
    "etl_vec_index_compact" -> etlVecIndexCompact,
    "etl_vec_index_rebuild" -> etlVecIndexRebuild,
    "etl_shard_export"    -> etlShardExport,
    "etl_jsonl_export"    -> etlJsonlExport,
  )

  /** etl_vec_index_compact observed pins — (vec_id, cell, cos_sim), the
    * exact top-10 within the probed cells AFTER the ~1/13 delete and the
    * compaction rewrite. Legitimate for the same reason as
    * [[graft.queries.Extensions]]'s IVF-family pins: training,
    * assignment, encoding, scoring and the delete predicate are
    * deterministic end to end (byte-identical across local[4]/local[32]
    * — DeterminismSpec), and the in-query requires already gate the
    * structural invariants (debt purged, file count restored, pre/post
    * answers identical). No pin for an unknown SF → the driver records
    * a rows-only check (e.g. the sf1 gate). */
  private val vecCompactObserved: Map[String, Seq[(Long, Long, Double)]] = Map(
    // re-pinned round 12 for the √N-sized committed index (k = 23/23/45
    // cells; same probe policy as q_vec_knn_ivfpq — the deleted ids
    // drop out, e.g. 291 % 13 = 5 at sf0.1, and the next survivor fills
    // the tenth slot)
    "sf0.001" -> Seq((17L, 18L, 0.3345), (225L, 20L, 0.3151),
      (12L, 13L, 0.311), (483L, 1L, 0.3005), (73L, 14L, 0.2972),
      (212L, 4L, 0.2814), (347L, 1L, 0.2745), (402L, 1L, 0.2745),
      (299L, 1L, 0.2687), (497L, 1L, 0.2521)),
    "sf0.01" -> Seq((365L, 1L, 0.37), (334L, 8L, 0.3627),
      (387L, 1L, 0.3311), (423L, 1L, 0.2969), (73L, 1L, 0.2954),
      (7L, 8L, 0.2928), (320L, 1L, 0.2879), (190L, 1L, 0.2818),
      (388L, 1L, 0.2763), (483L, 1L, 0.2567)),
    "sf0.1" -> Seq((1204L, 1L, 0.4065), (1020L, 1L, 0.376),
      (510L, 1L, 0.3445), (144L, 1L, 0.3243), (1978L, 1L, 0.3192),
      (142L, 24L, 0.3113), (794L, 1L, 0.3108), (1841L, 33L, 0.3099),
      (633L, 42L, 0.3096), (1186L, 1L, 0.3073)),
    // round-12: pinned from the sf1 dump at k = 142 (6921 % 13 = 5 is
    // tombstoned; 6415 fills the tenth slot); verified byte-identical
    // across local[7]/local[32]
    "sf1" -> Seq((15473L, 1L, 0.5384), (7991L, 1L, 0.5083),
      (6992L, 121L, 0.4744), (8913L, 1L, 0.4648), (13380L, 1L, 0.453),
      (11061L, 1L, 0.4369), (15675L, 81L, 0.4346), (17331L, 1L, 0.4249),
      (11336L, 1L, 0.4232), (6415L, 1L, 0.4136)))

  /** etl_vec_index_rebuild observed pins — the (phase, n) drift report.
    * Deterministic end to end: the shifted batch is a pure expression of
    * the fixture, training samples in vec_id order with fixed fold
    * order, occupancy maxima are integer counts of deterministic cell
    * assignments, and the recall numerators compare deterministic
    * top-10 sets. The in-query requires (recall floor, occupancy
    * rebalance, rebuild ≡ fresh build, time travel) already gate the
    * semantics; the pins carry exact values. */
  private val vecRebuildObserved: Map[String, Seq[(String, Long)]] = Map(
    "sf0.001" -> Seq(("cells_after", 32L), ("cells_before", 23L),
      ("max_cell_rebuilt", 102L), ("max_cell_stale", 155L),
      ("recall_rebuilt", 10L), ("recall_stale", 8L),
      ("vectors_indexed", 1000L)),
    "sf0.01" -> Seq(("cells_after", 32L), ("cells_before", 23L),
      ("max_cell_rebuilt", 94L), ("max_cell_stale", 176L),
      ("recall_rebuilt", 10L), ("recall_stale", 6L),
      ("vectors_indexed", 1000L)),
    "sf0.1" -> Seq(("cells_after", 64L), ("cells_before", 45L),
      ("max_cell_rebuilt", 183L), ("max_cell_stale", 1581L),
      ("recall_rebuilt", 9L), ("recall_stale", 10L),
      ("vectors_indexed", 4000L)),
    "sf1" -> Seq(("cells_after", 200L), ("cells_before", 142L),
      ("max_cell_rebuilt", 492L), ("max_cell_stale", 4663L),
      ("recall_rebuilt", 9L), ("recall_stale", 6L),
      ("vectors_indexed", 40000L)))

  private def vecCompactOracle: Map[String, String] = {
    val tag = Paths.get(
      sys.props.getOrElse("graft.sfdir", "/root/testdata/sf0.01"))
      .getFileName.toString
    vecCompactObserved.get(tag).map { rows =>
      "etl_vec_index_compact" -> ("SELECT * FROM (VALUES\n" + rows.map {
        case (v, cl, c) =>
          s"  (CAST($v AS BIGINT), CAST($cl AS BIGINT), CAST($c AS DOUBLE))"
      }.mkString(",\n") +
        ")\n  t(vec_id, cell, cos_sim)\n" +
        "ORDER BY cos_sim DESC, vec_id")
    }.toMap
  }

  private def vecRebuildOracle: Map[String, String] = {
    val tag = Paths.get(
      sys.props.getOrElse("graft.sfdir", "/root/testdata/sf0.01"))
      .getFileName.toString
    vecRebuildObserved.get(tag).map { rows =>
      "etl_vec_index_rebuild" -> ("SELECT * FROM (VALUES\n" + rows.map {
        case (ph, n) => s"  ('$ph', CAST($n AS BIGINT))"
      }.mkString(",\n") +
        ")\n  t(phase, n)\nORDER BY phase")
    }.toMap
  }

  def oracles: Map[String, String] = zorderOracle ++ vecCompactOracle ++
    vecRebuildOracle ++ Map(
    "etl_pq_index" ->
      """SELECT count(*) AS n_vectors, CAST(8 AS BIGINT) AS code_bytes,
        |       true AS codes_roundtrip_ok, true AS books_complete
        |FROM embeddings""".stripMargin,
    // post-compaction indexed BM25 == the scan-based replay over the
    // raw corpus (the in-query requires gate the structural invariants)
    "etl_text_index_compact" ->
      graft.queries.Extensions.bm25IndexedOracleSql,
    // n_postings = exact distinct (doc, term) pairs under the shared
    // tokenizer; the booleans replay the in-query invariants
    "etl_text_index" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    t -> t <> '')))) AS BIGINT) AS n_postings,
        |  true AS stats_ok, true AS incremental_equiv,
        |  true AS pruned, true AS serve_parity
        |FROM documents""".stripMargin,
    "etl_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "etl_sanitize_uint64" ->
      s"""SELECT event_id, CAST(counter AS VARCHAR) AS counter_str,
         |       CAST(small_u AS VARCHAR) AS small_u_str,
         |       make_timestamp(CAST("timestamp" AS BIGINT)) AS sanitized_ts,
         |       event_type
         |FROM read_parquet('${graft.etl.UnsignedFixture.FixturePath}')
         |ORDER BY event_id""".stripMargin,
    "etl_sanitize_ts" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS sanitized_ts
        |FROM events ORDER BY event_id""".stripMargin,
    // the change report over the unsigned fixture is a fixed table: the
    // one uint64 epoch column is rewritten decimal(20,0) → timestamp
    "etl_sanitize_report" ->
      """SELECT * FROM (VALUES ('timestamp', 'decimal(20,0)', 'timestamp'))
        |AS t(column_name, from_type, to_type) ORDER BY column_name""".stripMargin,
    // the mirror-tree rewrite report is a fixed table: both raw event
    // files need the one cast and are written; the clean lookup passes
    // through untouched; dry-run and mirror invariants hold everywhere
    "etl_sanitize_tree" ->
      """SELECT * FROM (VALUES
        |  ('clean/lookup.parquet', false, CAST(0 AS BIGINT), true, true),
        |  ('raw/events_a.parquet', true, CAST(1 AS BIGINT), true, true),
        |  ('raw/nested/events_b.prq', true, CAST(1 AS BIGINT), true, true))
        |AS t(rel_path, written, n_casts, dry_run_consistent, mirror_ok)
        |ORDER BY rel_path""".stripMargin,
    "etl_compact" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "etl_pipeline" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "etl_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty, true AS colocated
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "etl_partition_prune" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        |       true AS pruned
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // deterministic literal fixture ⇒ the post-maintenance state is a
    // fixed table: keeper docs 1/2/5 (doc 4 collapsed into 1), each
    // covered by exactly 4 band rows + 1 token-set row in the rebuilt
    // index, with all 4 pre-maintenance rows still reachable via time
    // travel
    "etl_neardup_maintain" ->
      s"""SELECT * FROM (VALUES
         |  (CAST(1 AS BIGINT), '$MaintTextA', CAST(4 AS BIGINT),
         |   CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
         |  (2, '$MaintTextB', 4, 1, 4),
         |  (5, '$MaintTextC', 4, 1, 4))
         |AS t(doc_id, text, n_sig_bands, n_tok_rows, n_before)
         |ORDER BY doc_id""".stripMargin,
    // DuckDB replays the md5-draw shard assignment and all three per-shard
    // aggregates; the files-census invariant is pinned true
    "etl_shard_export" ->
      """SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |         % 8 AS shard,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substring(md5(text), 1, 15))::BIGINT
        |                % 1000000000) AS BIGINT) AS content_sum,
        |       true AS one_file_per_shard
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    "etl_jsonl_export" ->
      """SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |         % 8 AS shard,
        |       count(*) AS n_lines,
        |       CAST(sum(('0x' || substring(md5(
        |                to_json(struct_pack(doc_id := doc_id, lang := lang,
        |                                    source := source, text := text))
        |                  ::VARCHAR), 1, 15))::BIGINT % 1000000000) AS BIGINT)
        |         AS line_sum,
        |       true AS one_file_per_shard
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
  )
}
