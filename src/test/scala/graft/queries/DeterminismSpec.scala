package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Cross-layout determinism: the SAME declared query run in a sibling
  * session with a DIFFERENT `spark.sql.shuffle.partitions` must produce
  * byte-identical row sequences. This is the contract the DuckDB hash
  * gate rests on — a layout-sensitive plan (unstable window ties, order-
  * dependent float folds, first()-style aggregates) passes a single-run
  * oracle by luck and then breaks on any cluster whose partitioning
  * differs. The observed-values pins (zorder, HLL, trained quantizer)
  * were each verified across local[4]/local[32] when recorded; this spec
  * keeps the core query families honest on every test run.
  *
  * `newSession()` shares the SparkContext (one per JVM) but gets its own
  * SQLConf, so varying the shuffle width genuinely changes every
  * exchange's layout while the data and code stay fixed.
  */
class DeterminismSpec extends SparkSpec {

  // one representative per layout-sensitive family: windows, multi-stage
  // dedup (MinHash→band→CC→keeper), sharded prefix-sum packing, tf-idf
  // (three keyed aggs + per-doc window), float aggregation, LSH buckets
  // q_subquery_scalar: the boundary comparison against a (rounded) float
  // mean — the round-9 advice's candidate for layout-order sensitivity
  private val targets = Seq("q_win_rank", "q_dedup_pipeline",
    "q_pack_sequences", "q_text_tfidf", "q_agg_stats", "q_embed_neardup_lsh",
    "q_subquery_scalar", "q_dedup_substring",
    // round-10 additions whose ranking/cumsum windows ride shuffles
    "q_rarity_score", "q_token_budget", "q_vocab_coverage",
    // round 11: PQ search over the catalog-committed codes (encode scan
    // + constant TakeOrdered + broadcast re-rank must be layout-blind),
    // and the combined IVF+PQ probe (adds cell assignment + the
    // manifest-pruned inverted-list fetch to the same contract)
    "q_vec_knn_pq_indexed", "q_vec_knn_ivfpq", "q_vec_knn_filtered",
    // the delete/compaction pair: tombstone application (broadcast
    // anti-join) and the compaction rewrite must both be layout-blind
    // — this is what legitimizes etl_vec_index_compact's observed pins
    "q_vec_knn_deleted", "etl_vec_index_compact",
    // round 11 retrieval family: BM25's fixed-order float sum + rounded
    // ranking, RRF's rank fusion over limited legs, SemDeDup's
    // round-then-threshold edge set + star-CC labeling — each a distinct
    // layout-sensitivity surface (one-row stats broadcast, window-over-
    // limit, contraction convergence)
    "q_text_bm25", "q_hybrid_rrf", "q_hybrid_rrf_indexed",
    "q_dedup_semantic", "q_decontaminate_semantic", "q_vec_knn_join",
    // round 12: the √N-sized index family's new pins rest on this —
    // the drift rebuild (3 trainings + occupancy aggregates + recall
    // sets), the equality-tombstone fold-in (one anti-join after the
    // index scan), the parameterized BM25 (map-typed tf + term-keyed df
    // exchange), and the learned-cell variants (cluster histogram;
    // integer-checksum fingerprint over a windowed join)
    "etl_vec_index_rebuild", "q_vec_knn_deleted_eq", "q_text_bm25_param",
    "q_dedup_semantic_cells", "q_vec_knn_join_cells",
    "q_vec_knn_filtered_deleted",
    // round 13: the composite-filter search (manifest-derived probe
    // breadth + two-column pre-filter) — its real-SQL oracle rests on
    // the probed result being layout-blind like its siblings
    "q_vec_knn_filtered_multi",
    // round 13: batch augmentation over the committed index — the
    // probed-union pruning and the checkpointed ranking must not make
    // the fingerprint layout-dependent
    "q_vec_knn_augment",
    // round 13: the inverted text index — the probe's pruned-union scan
    // and candidate pivot must be layout-blind (serve), and the build's
    // range-clustered file boundaries (which DO vary with layout) must
    // never leak into content: postings equality, stats sums, df counts
    // (the etl row re-checks all of it in the sibling session)
    "q_text_bm25_indexed", "etl_text_index",
    // the compaction rewrite must be layout-blind like its vector twin
    "etl_text_index_compact",
    // round 13: parameterized index serve + the fully-indexed hybrid
    // (both legs' prunings + RRF fusion must be layout-blind)
    "q_text_bm25_indexed_param", "q_hybrid_rrf_full_indexed")

  test("results are identical under a different shuffle-partition layout") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    for (q <- targets) {
      val base = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
      val other = SparkEntry.queries(q)(alt, sfDir).collect().toSeq
      assert(base === other, s"$q differs between 4-way and 7-way shuffles")
    }
  }
}
