package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, TableMeta}

/** Committed INVERTED TEXT INDEX — the sparse-retrieval analog of the
  * IVF+PQ vector index ([[IvfPq]]): BM25 over a raw corpus re-reads and
  * re-tokenizes every document per query (`q_text_bm25`'s two map-only
  * scans are the best a scan-based plan can do), which at 100 TB makes
  * every retrieval call pay the full corpus. This operator tokenizes
  * ONCE at build time and commits posting lists through the catalog so
  * a query reads O(df) posting rows — the classic inverted-file trade
  * (Zobel & Moffat, "Inverted files for text search engines", 2006)
  * restated in Spark terms: the index is a TABLE, the probe is a
  * manifest-pruned scan, and the scoring plan never touches the corpus.
  *
  * Tables (namespace/table passed by the caller):
  *  - `<t>_postings(term STRING, doc_id BIGINT, tf INT, len INT)` — one
  *    row per (term, document) pair. `len` (the document's token count)
  *    is DENORMALIZED onto every posting — the impact-ordered-index
  *    trick that removes the per-query join back to a doc-lengths
  *    table: scoring needs (tf, df, len, N, Σlen) and nothing else, so
  *    a probe's plan is postings-only. Written range-CLUSTERED on
  *    (term, doc_id) so each file covers a narrow term range and the
  *    catalog's truncated string footer stats (the scan planner,
  *    [[GraftCatalog.planFiles]]) prune a query's terms to a few files.
  *  - `<t>_stats(n_docs BIGINT, sum_len BIGINT)` — append-only DELTA
  *    rows (one per build/append commit) summed at read time, so
  *    incremental maintenance never rewrites statistics. N and Σlen
  *    count EVERY document (including zero-token ones that produce no
  *    postings), matching the scan-based BM25's corpus statistics.
  *
  * Incremental maintenance is a pure append on both tables
  * ([[appendDocs]]): new documents append their postings (clustered
  * among themselves) and one stats delta row. df is never materialized
  * — it is exact at query time as the posting-row count per term over
  * the pruned scan (conservative pruning keeps every file that can
  * hold a query term, so the count sees ALL of a term's postings,
  * whichever commit wrote them). This is what makes append-equivalence
  * exact: an incrementally-grown index answers byte-identically to a
  * fresh rebuild (proven by `etl_text_index`).
  *
  * Scale: build is one tokenize scan + one range shuffle of
  * constant-width posting rows; a probe reads `O(Σ df(term))` rows from
  * the pruned file union, aggregates per candidate doc (exchange sized
  * by candidates, never the corpus), and ranks with a constant top-k.
  * The reference delegates retrieval entirely (its Superset BI layer
  * queries the warehouse); this family is the engine-side answer. */
object TextIndex {

  /** Posting rows per index file at SMALL corpora — the floor-regime
    * granularity (~1 MB files at 8 bytes/row compressed), small enough
    * that a term's postings concentrate in few files. */
  private val BaseRowsPerFile = 131072L

  /** Layout floor: even a tiny corpus writes ≥8 range-clustered files so
    * term pruning has something to skip (mirrors IvfPq's kCells floor). */
  private[graft] val MinFiles = 8

  /** Rows-per-file ceiling (~128 MB at 8 B/row): past it, file count
    * grows linearly — the normal parquet regime. */
  private val MaxRowsPerFile = 16L * 1024 * 1024

  /** Rows per file GROW as √(corpus) beyond the floor regime — the
    * [[IvfPq]] √N-cells convention applied to file sizing: a fixed
    * rows-per-file at 10^13 postings (the 100 TB regime) would put
    * ~10^8 ~1 MB entries in the manifest; under √-scaling file count
    * and file size both grow as √n (~6×10^5 files of ~130 MB at 10^13),
    * and the term-range clustering that makes pruning work is
    * unchanged — only the granularity of what a query's term span
    * keeps. */
  private[graft] def rowsPerFileFor(nPostings: Long): Long = {
    val floorRegime = MinFiles * BaseRowsPerFile // ≈1M postings
    val scaled = (BaseRowsPerFile *
      math.sqrt(math.max(1.0, nPostings.toDouble / floorRegime))).toLong
    math.min(MaxRowsPerFile, math.max(BaseRowsPerFile, scaled))
  }

  private[graft] def filesFor(nPostings: Long): Int =
    math.max(MinFiles.toLong, nPostings / rowsPerFileFor(nPostings) + 1L).toInt

  /** Compaction target: ≥ this many bytes per file once the corpus
    * outgrows the [[MinFiles]] floor. */
  private val TargetFileBytes = 16L * 1024 * 1024

  /** Compaction file count from MEASURED bytes (the manifest's
    * sizeBytes sum — compaction, unlike a fresh build, knows the real
    * on-disk size of what it rewrites): floor-divide by the 16 MB
    * target so emitted files are AT LEAST target-sized, take the
    * smaller of that and the √-scaled row policy (whichever yields
    * BIGGER files), and never drop below the pruning floor. */
  private[graft] def filesForBytes(totalBytes: Long, nPostings: Long): Int = {
    val byBytes = math.max(1L, totalBytes / TargetFileBytes)
    math.max(MinFiles.toLong,
      math.min(byBytes, filesFor(nPostings).toLong)).toInt
  }

  /** Posting rows from an already-tokenized (doc_id, toks) frame: one
    * flat map + one (term, doc_id) aggregate. */
  private def postingsFromToks(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("toks")).as("len"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("tf"), max(col("len")).as("len"))
      .select(col("term"), col("doc_id"), col("tf"), col("len"))

  /** Posting rows for a (doc_id, text) frame under the caller's
    * tokenizer (a SQL array<string> expression over `text` — the SAME
    * expression the query side scores with, which is the index
    * contract). */
  def postingsOf(docs: DataFrame, tokensExpr: String): DataFrame =
    postingsFromToks(
      docs.select(col("doc_id"), expr(tokensExpr).as("toks")))

  /** One corpus-stats DELTA row from the tokenized frame: every doc
    * counts, token-less ones included (they carry length 0 and can
    * never match, but BM25's N must see them — the scan-based plan's
    * `count(*)` does). */
  private def statsFromToks(toks: DataFrame): DataFrame =
    toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("sum_len"))

  private def commitDf(cat: GraftCatalog, ns: String, t: String,
                       df: DataFrame, operation: String,
                       baseSnapshotId: Option[Long] = None): TableMeta = {
    val dir = Paths.get(cat.warehouse, ns, t, "data",
      s"textidx-${graft.catalog.Stamp.next()}")
    df.write.parquet(dir.toString)
    if (!cat.tableExists(ns, t)) cat.createTable(ns, t, df.schema)
    cat.registerFiles(ns, t, Seq(dir), operation = operation,
      baseSnapshotId = baseSnapshotId)
  }

  private def commitPostings(spark: SparkSession, cat: GraftCatalog,
                             ns: String, table: String, docs: DataFrame,
                             tokensExpr: String,
                             operation: String,
                             strictBases: Map[String, Long] = Map.empty): TableMeta = {
    // tokenize ONCE: postings and the stats delta both derive from the
    // persisted token arrays (re-running the tokenizer for the stats
    // row would double the dominant build cost)
    val toks = docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
      .persist()
    val p = postingsFromToks(toks).persist() // count + clustered write
    try {
      // postings and stats are TWO catalog commits; a crash between them
      // would leave N/Σlen permanently inconsistent with the postings
      // (silently wrong BM25 scores), and a naive re-run would double
      // the batch's postings and df. So both commits land under ONE
      // deterministic recovery tag — a content fingerprint (doc count +
      // xor of MIXED doc_ids + id range + tokenizer hash; doc text is
      // immutable under the dedup'd append-only corpus contract) — and a
      // re-run detects the half-landed state from the snapshot log and
      // commits only the missing half, exactly the [[appendDocsBatch]]
      // replay convention. The xor runs over xxhash64(doc_id), NOT the
      // raw ids: raw xor collides trivially between DISTINCT batches
      // (any aligned run of 4 consecutive ids xors to 0, so sequential
      // ingest in multiple-of-4 batches would skip every batch after the
      // first as a "replay" — silent permanent index data loss); mixing
      // each id through a 64-bit avalanche first makes the xor
      // order-independent AND collision-resistant, and the id range
      // pins the batch's position on top.
      val fp = toks.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)).as("x"),
        coalesce(min(col("doc_id")), lit(0L)).as("lo"),
        coalesce(max(col("doc_id")), lit(0L)).as("hi")).head()
      val tag = s"textidx-$operation-n${fp.getLong(0)}-" +
        s"x${java.lang.Long.toHexString(fp.getLong(1))}-" +
        s"r${fp.getLong(2)}-${fp.getLong(3)}-" +
        s"e${Integer.toHexString(tokensExpr.hashCode)}"
      def committed(t: String): Boolean = cat.tableExists(ns, t) && {
        val sns = cat.loadTable(ns, t).snapshots
        // appends scan the FULL log (a replayed batch must never land
        // twice, whatever committed after it); an overwrite only counts
        // if it is the CURRENT state — a rebuild that resets an
        // appended-to index must re-land even though the same tag
        // committed earlier in the log
        val scope = if (operation == "overwrite") sns.lastOption.toSeq
                    else sns
        scope.exists(_.addedFiles.exists(_.path.contains(s"/$tag/")))
      }
      def land(t: String, df: DataFrame): TableMeta = {
        // fresh subdir per landing attempt (keyed by the table's next
        // snapshot id) so a rebuild that re-lands an old tag after later
        // commits never rewrites files an earlier snapshot references —
        // detection only needs the /tag/ path segment; a crash mid-write
        // retries into the SAME subdir and mode(overwrite) cleans it
        val sub =
          if (cat.tableExists(ns, t)) s"a${cat.loadTable(ns, t).nextSnapshotId}"
          else "a1"
        val dir = Paths.get(cat.warehouse, ns, t, "data", tag, sub)
        df.write.mode("overwrite").parquet(dir.toString)
        if (!cat.tableExists(ns, t)) cat.createTable(ns, t, df.schema)
        // a REBUILD may change the tokenizer, so its overwrites carry a
        // STRICT base (foldAppends=false): a racing appendDocs tokenized
        // under the old convention must refuse loudly, never fold into
        // a mixed-convention index (the IvfPq.buildIndex contract)
        cat.registerFiles(ns, t, Seq(dir), operation = operation,
          baseSnapshotId = strictBases.get(t),
          foldAppends = !strictBases.contains(t))
      }
      val pTab = s"${table}_postings"
      val sTab = s"${table}_stats"
      val meta =
        if (committed(pTab)) cat.loadTable(ns, pTab)
        else land(pTab, p
          .repartitionByRange(filesFor(p.count()), col("term"), col("doc_id"))
          .sortWithinPartitions("term", "doc_id"))
      if (!committed(sTab)) land(sTab, statsFromToks(toks))
      meta
    } finally { p.unpersist(); toks.unpersist(); () }
  }

  /** Build (or rebuild) the index from scratch: one tokenize scan, one
    * range-clustered postings commit, one stats row. */
  def buildIndex(spark: SparkSession, cat: GraftCatalog, ns: String,
                 table: String, docs: DataFrame,
                 tokensExpr: String): TableMeta = {
    // pin STRICT bases for a rebuild over existing tables — see land()
    val bases = Seq(s"${table}_postings", s"${table}_stats")
      .filter(cat.tableExists(ns, _))
      .map(t => t -> cat.loadTable(ns, t).currentSnapshotId).toMap
    commitPostings(spark, cat, ns, table, docs, tokensExpr, "overwrite",
      strictBases = bases)
  }

  /** Incrementally index NEW documents (caller guarantees unseen
    * doc_ids — the corpus is append-only under dedup upstream): appends
    * postings clustered among themselves plus one stats delta. O(batch),
    * never touches existing files. */
  def appendDocs(spark: SparkSession, cat: GraftCatalog, ns: String,
                 table: String, docs: DataFrame,
                 tokensExpr: String): TableMeta =
    commitPostings(spark, cat, ns, table, docs, tokensExpr, "append")

  /** [[appendDocs]] keyed to a micro-batch id — the IDEMPOTENT form a
    * streaming sink must use (the [[IvfPq.appendCodesBatch]] contract:
    * `foreachBatch` is at-least-once, and a blind append would double a
    * replayed batch's postings AND its stats delta — doubled df/tf
    * means silently wrong BM25 scores forever after). Each batch owns
    * the directory `textidx-batch-<id>` in BOTH tables; replay
    * detection scans each table's FULL snapshot log independently, so
    * a crash BETWEEN the two commits (postings landed, stats didn't)
    * replays only the missing half. The tokenize pass is shared. */
  def appendDocsBatch(spark: SparkSession, cat: GraftCatalog, ns: String,
                      table: String, docs: DataFrame, tokensExpr: String,
                      batchId: Long): Unit = {
    val tag = s"textidx-batch-$batchId"
    def committed(t: String): Boolean = cat.tableExists(ns, t) &&
      cat.loadTable(ns, t).snapshots
        .exists(_.addedFiles.exists(_.path.contains(s"/$tag/")))
    val pTab = s"${table}_postings"
    val sTab = s"${table}_stats"
    if (committed(pTab) && committed(sTab)) return
    val toks = docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
      .persist()
    try {
      def land(t: String, df: DataFrame): Unit = {
        val dir = Paths.get(cat.warehouse, ns, t, "data", tag)
        df.write.mode("overwrite").parquet(dir.toString)
        if (!cat.tableExists(ns, t)) cat.createTable(ns, t, df.schema)
        cat.registerFiles(ns, t, Seq(dir), operation = "append")
        ()
      }
      if (!committed(pTab)) {
        val p = postingsFromToks(toks).persist() // count + write
        try land(pTab, p
          .repartitionByRange(filesFor(p.count()), col("term"), col("doc_id"))
          .sortWithinPartitions("term", "doc_id"))
        finally { p.unpersist(); () }
      }
      if (!committed(sTab)) land(sTab, statsFromToks(toks))
    } finally { toks.unpersist(); () }
  }

  /** Pay down streaming-append debt ([[graft.etl.VectorMaintenance
    * .compactIndex]]'s sparse twin): every [[appendDocsBatch]] commit
    * writes its own ≥8-file range-clustered set, so a long-running
    * maintenance stream accretes one file SET per batch — probes stay
    * correct (pruning is per file) but the kept-file count grows with
    * ingest history instead of corpus size. One linear pass re-clusters
    * ALL live postings into the canonical ≤[[filesFor]](n) layout
    * (overwrite snapshot) and folds the accumulated stats deltas into
    * one row. Query answers are INVARIANT: same posting rows, same
    * stats sums, different files. */
  def compactIndex(spark: SparkSession, cat: GraftCatalog, ns: String,
                   table: String): TableMeta = {
    // pin each table's derivation base and read AS OF it: a maintaining
    // stream's append racing this compaction folds into the overwrite
    // (postings kept, its stats delta kept) instead of being silently
    // erased by the pre-computed rewrite landing on a moved log
    val pMeta = cat.loadTable(ns, s"${table}_postings")
    val pBase = pMeta.currentSnapshotId
    val liveBytes = pMeta.filesAsOf(None).map(_.sizeBytes).sum
    val p = cat.readTable(spark, ns, s"${table}_postings",
      asOf = Some(pBase)).persist()
    try {
      val meta = commitDf(cat, ns, s"${table}_postings",
        p.repartitionByRange(filesForBytes(liveBytes, p.count()),
            col("term"), col("doc_id"))
          .sortWithinPartitions("term", "doc_id"),
        "overwrite", baseSnapshotId = Some(pBase))
      val sBase = cat.loadTable(ns, s"${table}_stats").currentSnapshotId
      commitDf(cat, ns, s"${table}_stats",
        cat.readTable(spark, ns, s"${table}_stats", asOf = Some(sBase))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_len")).as("sum_len")),
        "overwrite", baseSnapshotId = Some(sBase))
      meta
    } finally { p.unpersist(); () }
  }

  /** (kept, total) postings-file counts for a term set — the pruning
    * fraction the scale smoke reports and specs pin. */
  def termFiles(cat: GraftCatalog, ns: String, table: String,
                terms: Seq[String]): (Int, Int) = {
    val meta = cat.loadTable(ns, s"${table}_postings")
    (cat.planFiles(meta, None, termsIn(terms)).size,
      meta.filesAsOf(None).size)
  }

  private def termsIn(terms: Seq[String]) =
    Seq(org.apache.spark.sql.sources.In("term", terms.toArray[Any]))

  /** The pruned postings scan for a query's terms: manifest string-stats
    * pruning to the file union, then the row-level In filter (parquet
    * pushdown inside the survivors). */
  def postingsFor(spark: SparkSession, cat: GraftCatalog, ns: String,
                  table: String, terms: Seq[String]): DataFrame =
    cat.readTable(spark, ns, s"${table}_postings", filters = termsIn(terms))
      .filter(col("term").isInCollection(terms))

  /** Corpus statistics as ONE row: the sum of the committed deltas. */
  def statsRow(spark: SparkSession, cat: GraftCatalog, ns: String,
               table: String): DataFrame =
    cat.readTable(spark, ns, s"${table}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_len")).as("sum_len"))

  /** Scoring-ready candidate frame for a term list, postings-only:
    * `(doc_id, len, tf0..tfN-1, df0..dfN-1, n_docs, sum_len)` with the
    * EXACT column names/types the scan-based BM25 computes, so the
    * caller applies the same scoring expressions and the result is
    * bit-identical on the matching docs. Plan: one pruned postings scan
    * → per-doc tf pivot in FIXED term order (exchange sized by
    * candidate docs) → df per term as a one-row aggregate OVER THE
    * PIVOT (exact: conservative pruning sees every posting of every
    * query term) → both one-row frames broadcast back. */
  def bm25Candidates(spark: SparkSession, cat: GraftCatalog, ns: String,
                     table: String, terms: Seq[String]): DataFrame = {
    val posts = postingsFor(spark, cat, ns, table, terms)
    val pivotCols = max(col("len")).as("len") +:
      terms.zipWithIndex.map { case (t, i) =>
        coalesce(max(when(col("term") === t, col("tf"))), lit(0))
          .as(s"tf$i")
      }
    val perDoc = posts.groupBy(col("doc_id"))
      .agg(pivotCols.head, pivotCols.tail: _*)
    val dfCols = terms.indices
      .map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val dfs = perDoc.agg(dfCols.head, dfCols.tail: _*)
    perDoc.crossJoin(broadcast(dfs))
      .crossJoin(broadcast(statsRow(spark, cat, ns, table)))
  }
}
