package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.catalog.GraftCatalog

/** The committed inverted text index (SURVEY L72/L73): exactness of the
  * posting rows, conservative term pruning, pure-append incremental
  * maintenance, and end-to-end serve parity with the scan-based BM25. */
class TextIndexSpec extends SparkSpec {

  private val tok = graft.queries.Extensions.tokensExpr

  private def freshCat(): GraftCatalog = {
    val base = scratchDir("textidx_spec")
    new GraftCatalog(base.resolve("wh").toString)
  }

  test("postingsOf emits exact (term, doc, tf, len) rows; token-less docs produce none but count in stats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffles Spark data; spark wins"),
      (2L, "!!! ???"), // tokenizes to nothing
      (3L, "data data data")).toDF("doc_id", "text")
    val rows = TextIndex.postingsOf(docs, tok)
      .orderBy("term", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(rows.toSeq === Seq(
      ("data", 1L, 1, 6), ("data", 3L, 3, 3),
      ("shuffles", 1L, 1, 6),
      ("spark", 1L, 3, 6),
      ("wins", 1L, 1, 6)))
    val cat = freshCat()
    TextIndex.buildIndex(spark, cat, "t", "d", docs, tok)
    // stats count EVERY doc — the empty one too (BM25's N does)
    val st = TextIndex.statsRow(spark, cat, "t", "d").collect()(0)
    assert(st.getLong(0) === 3L && st.getLong(1) === 9L)
  }

  test("pruned probe: a term's postings read fewer files than the table holds, identically to a full scan") {
    val cat = freshCat()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    TextIndex.buildIndex(spark, cat, "t", "d", docs, tok)
    val (kept, total) = TextIndex.termFiles(cat, "t", "d", Seq("vector"))
    assert(total >= 8, s"layout floor: expected >=8 postings files, got $total")
    assert(kept < total,
      s"term pruning kept $kept of $total files — nothing was skipped")
    val pruned = TextIndex.postingsFor(spark, cat, "t", "d", Seq("vector"))
      .orderBy("doc_id").collect().toSeq
    val full = cat.readTable(spark, "t", "d_postings")
      .filter(col("term") === "vector").orderBy("doc_id").collect().toSeq
    assert(pruned === full, "pruning changed the answer")
    assert(pruned.nonEmpty, "fixture term must match")
  }

  test("incremental append == one-shot rebuild, by content; stats deltas sum exactly") {
    val cat = freshCat()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    TextIndex.buildIndex(spark, cat, "inc", "d",
      docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), tok)
    TextIndex.appendDocs(spark, cat, "inc", "d",
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), tok)
    TextIndex.buildIndex(spark, cat, "full", "d", docs, tok)
    val inc = cat.readTable(spark, "inc", "d_postings")
    val full = cat.readTable(spark, "full", "d_postings")
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "incrementally-grown postings differ from a fresh rebuild")
    assert(TextIndex.statsRow(spark, cat, "inc", "d").collect().toSeq ===
      TextIndex.statsRow(spark, cat, "full", "d").collect().toSeq)
    // the appended table carries BOTH commits' stats deltas
    assert(cat.readTable(spark, "inc", "d_stats").count() === 2L)
  }

  test("appendDocsBatch is idempotent on checkpoint replay, per table") {
    import spark.implicits._
    val cat = freshCat()
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma gamma"))
      .toDF("doc_id", "text")
    TextIndex.appendDocsBatch(spark, cat, "s", "d", docs, tok, batchId = 0L)
    val p1 = cat.readTable(spark, "s", "d_postings").collect().toSet
    val s1 = TextIndex.statsRow(spark, cat, "s", "d").collect().toSeq
    // full replay: both tables already tagged — a no-op
    TextIndex.appendDocsBatch(spark, cat, "s", "d", docs, tok, batchId = 0L)
    assert(cat.readTable(spark, "s", "d_postings").collect().toSet === p1)
    assert(TextIndex.statsRow(spark, cat, "s", "d").collect().toSeq === s1)
    // a NEW batch still lands (tags are per batch id)
    TextIndex.appendDocsBatch(spark, cat, "s", "d",
      Seq((3L, "gamma delta")).toDF("doc_id", "text"), tok, batchId = 1L)
    assert(cat.readTable(spark, "s", "d_postings").count() ===
      p1.size.toLong + 2L)
    assert(TextIndex.statsRow(spark, cat, "s", "d").collect()(0)
      .getLong(0) === 3L)
  }

  test("file-size policy: √-scaled rows-per-file at build, ≥16 MB bytes target at compaction") {
    // floor regime: tiny corpora keep the 8-file / 128k-row layout
    assert(TextIndex.rowsPerFileFor(100000L) === 131072L)
    assert(TextIndex.filesFor(100000L) === 8)
    // √ regime: rows-per-file and file count BOTH grow as √n — at 10^13
    // postings (100 TB) the manifest holds ~6×10^5 entries, not 10^8
    val rpf10m = TextIndex.rowsPerFileFor(11500000L)
    assert(rpf10m > 400000L && rpf10m < 500000L, s"√ scaling off: $rpf10m")
    assert(TextIndex.filesFor(11500000L) < 30)
    assert(TextIndex.filesFor(10000000000000L) < 700000,
      "manifest entries must stay far below the fixed-size layout's 10^8")
    // ceiling: rows-per-file caps (~128 MB at 8 B/row), files then linear
    assert(TextIndex.rowsPerFileFor(10000000000000L) === 16L * 1024 * 1024)
    // compaction sizes by MEASURED bytes: above the floor every emitted
    // file is at least the 16 MB target (floor division)
    val n = TextIndex.filesForBytes(300L * 1024 * 1024, 11500000L)
    assert(n >= TextIndex.MinFiles && 300L * 1024 * 1024 / n >= 16L * 1024 * 1024,
      s"$n files from 300 MB breaks the ≥16 MB target")
    // tiny corpora keep the pruning floor even when bytes say fewer
    assert(TextIndex.filesForBytes(3L * 1024 * 1024, 200000L) === 8)
  }

  test("appendDocs re-run with the same batch is detected, never doubling postings or stats") {
    import spark.implicits._
    // buildIndex/appendDocs land TWO catalog commits; the content-
    // fingerprint tag makes a naive retry (the crash-recovery path) a
    // no-op instead of doubling the batch's postings, df, and N/Σlen
    val cat = freshCat()
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma gamma"))
      .toDF("doc_id", "text")
    TextIndex.buildIndex(spark, cat, "r", "d", docs, tok)
    val more = Seq((3L, "gamma delta")).toDF("doc_id", "text")
    TextIndex.appendDocs(spark, cat, "r", "d", more, tok)
    val p1 = cat.readTable(spark, "r", "d_postings").collect().toSet
    val s1 = TextIndex.statsRow(spark, cat, "r", "d").collect().toSeq
    TextIndex.appendDocs(spark, cat, "r", "d", more, tok) // naive retry
    assert(cat.readTable(spark, "r", "d_postings").collect().toSet === p1,
      "a replayed appendDocs doubled its postings")
    assert(TextIndex.statsRow(spark, cat, "r", "d").collect().toSeq === s1,
      "a replayed appendDocs doubled its stats delta")
    // a rebuild that RESETS an appended-to index must re-land even
    // though the same build tag committed earlier in the log
    TextIndex.buildIndex(spark, cat, "r", "d", docs, tok)
    assert(TextIndex.statsRow(spark, cat, "r", "d").collect()(0)
      .getLong(0) === 2L, "overwrite rebuild was wrongly skipped")
  }

  test("DISTINCT batches with colliding raw-xor fingerprints both land (the replay tag must not confuse them)") {
    import spark.implicits._
    // {4..7} and {8..11} are the classic raw-xor collision: same count
    // (4) and both id-sets xor to 0 — a fingerprint of (n, xor(doc_id))
    // would silently skip the second batch as a "replay" of the first,
    // permanently losing its postings. The tag must mix each id through
    // a 64-bit avalanche (and pin the id range) so distinct batches
    // never alias.
    val cat = freshCat()
    def batch(ids: Range) =
      ids.map(i => (i.toLong, s"token$i common")).toDF("doc_id", "text")
    TextIndex.buildIndex(spark, cat, "x", "d", batch(0 until 4), tok)
    TextIndex.appendDocs(spark, cat, "x", "d", batch(4 until 8), tok)
    TextIndex.appendDocs(spark, cat, "x", "d", batch(8 until 12), tok)
    val docsSeen = cat.readTable(spark, "x", "d_postings")
      .select("doc_id").distinct().count()
    assert(docsSeen === 12L,
      s"a distinct batch was skipped as a replay: $docsSeen/12 docs indexed")
    assert(TextIndex.statsRow(spark, cat, "x", "d").collect()(0)
      .getLong(0) === 12L, "stats lost a distinct batch's delta")
    // and the SAME batch re-run is still detected
    TextIndex.appendDocs(spark, cat, "x", "d", batch(8 until 12), tok)
    assert(TextIndex.statsRow(spark, cat, "x", "d").collect()(0)
      .getLong(0) === 12L, "a true replay doubled the stats delta")
  }

  test("compaction shrinks the per-batch file accretion and is answer-invariant") {
    val cat = freshCat()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    (0 until 3).foreach { i =>
      TextIndex.appendDocsBatch(spark, cat, "c", "d",
        docs.filter(pmod(col("doc_id"), lit(3)) === i), tok, i.toLong)
    }
    def meta = cat.loadTable("c", "d_postings")
    val filesBefore = meta.filesAsOf(None).size
    val postingsBefore = cat.readTable(spark, "c", "d_postings")
      .orderBy("term", "doc_id", "tf", "len").collect().toSeq
    val statsBefore = TextIndex.statsRow(spark, cat, "c", "d")
      .collect().toSeq
    TextIndex.compactIndex(spark, cat, "c", "d")
    assert(meta.filesAsOf(None).size < filesBefore,
      s"compaction did not shrink $filesBefore files")
    assert(cat.readTable(spark, "c", "d_postings")
      .orderBy("term", "doc_id", "tf", "len").collect().toSeq
      === postingsBefore, "compaction changed the posting rows")
    assert(TextIndex.statsRow(spark, cat, "c", "d").collect().toSeq
      === statsBefore)
    // pruning still engages on the compacted layout
    val (kept, total) = TextIndex.termFiles(cat, "c", "d", Seq("vector"))
    assert(kept < total)
  }

  test("declared serve parity: q_text_bm25_indexed == scan-based top-10 over matching docs, bit-identical") {
    val indexed = SparkEntry.queries("q_text_bm25_indexed")(spark, sfDir)
      .collect().toSeq
    val scan = SparkEntry.queries("q_text_bm25")(spark, sfDir)
      .filter(col("n_hits") > 0).collect().toSeq
    assert(indexed === scan.take(indexed.size),
      "indexed BM25 diverged from the scan-based plan")
    assert(indexed.nonEmpty)
  }
}
