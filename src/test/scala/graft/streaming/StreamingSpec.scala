package graft.streaming

import graft.SparkSpec

/** Structured-Streaming semantics (SURVEY.md §2.H H5/H6): watermark
  * late-data drop and stateful dedup, driven through MemoryStream exactly
  * as the declared contract runs them.
  */
class StreamingSpec extends SparkSpec {

  private val expectedWindows = Seq(
    ("2024-01-01T00:00", "a", 2L),
    ("2024-01-01T00:10", "b", 1L),
    ("2024-01-01T00:20", "b", 1L))

  test("st_watermark: late event below the watermark is dropped") {
    val rows = Streaming.stWatermark(spark, sfDir)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0).toString,
        r.getString(1), r.getLong(2)))
    // The 00:03 "a" arrives after the watermark passed 00:06 ⇒ the
    // finalized 00:00 window still counts 2, not 3.
    assert(rows.toSeq === expectedWindows)
  }

  test("st_watermark_rocksdb: RocksDB store reproduces the windowed result") {
    val rows = Streaming.stWatermarkRocks(spark, sfDir)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0).toString,
        r.getString(1), r.getLong(2)))
    assert(rows.toSeq === expectedWindows)
  }

  test("st_dedup_catalog: only first arrival of each content hash lands") {
    val rows = Streaming.stDedupCatalog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "alpha"), (2L, "beta"), (5L, "gamma")))
  }

  test("st_curation_catalog: quality gate, PII-equivalent dedup and redaction all fire") {
    val rows = Streaming.stCurationCatalog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._1).toSeq === Seq(1L, 5L, 8L))
    val texts = rows.toMap
    // landed texts carry the REDACTED form only
    assert(texts(1L).contains("<EMAIL>") && !texts(1L).contains("@"))
    assert(texts(8L).contains("<PHONE>") && texts(8L).contains("<IP>"))
    // docs 3/4 differed from doc 1 only in their email address: their
    // absence proves redaction happens BEFORE hashing (a raw-text hash
    // would have landed both)
    assert(!rows.map(_._1).contains(3L) && !rows.map(_._1).contains(4L))
  }

  test("st_curation_full: all six rejection paths fire across micro-batches") {
    val rows = Streaming.stCurationFull(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._1).toSeq === Seq(1L, 3L, 4L, 8L, 12L))
    val texts = rows.toMap
    // PII redacted before hashing; the cross-batch PII-equivalent doc 7
    // is absent because 3's REDACTED hash matched
    assert(texts(3L).contains("<EMAIL>") && !texts(3L).contains("@"))
    assert(texts(12L).contains("<PHONE>") && texts(12L).contains("<IP>"))
    // near-dup screen: docs 5 and 9 are one-word edits (unique hashes —
    // the exact index alone would have landed them)
    assert(!texts.contains(5L) && !texts.contains(9L))
    // decontamination: doc 6 shares 4 3-gram shingles with the benchmark
    assert(!texts.contains(6L))
    // quality + exact-dup paths
    assert(!texts.contains(2L) && !texts.contains(10L) && !texts.contains(11L))
  }

  test("st_neardup_catalog: near-dups of committed docs are rejected, not just exact") {
    val rows = Streaming.stNeardupCatalog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 5L))
    // doc 4 (one-word edit of doc 1) has a UNIQUE content hash, so the
    // exact-hash index alone would have landed it — its absence proves
    // the banded-MinHash + Jaccard rejection fired, and doc 6 likewise
    val committedTexts = rows.map(_._2).toSet
    val t4 = rows.find(_._1 == 1L).get._2.replace("dawn", "mist")
    assert(!committedTexts.contains(t4))
  }

  test("st_vec_index_maintain: streamed index answers identically to the one-shot build") {
    // the maintained index (3 per-batch append snapshots of cell-ranged
    // code files) must answer the shared IvfPq.search byte-identically
    // to q_vec_knn_ivfpq's one-shot build — a missed batch, a checkpoint
    // double-append, or a multi-snapshot pruning bug all change the rows
    val streamed = Streaming.stVecIndexMaintain(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val oneShot = graft.SparkEntry.queries("q_vec_knn_ivfpq")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.length === 10)
    assert(streamed.toSeq === oneShot.toSeq)
  }

  test("st_vec_augment: invariants hold and top-1 recall vs the exact scan clears the floor") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfPq
    // declared invariants: every batch vector augmented exactly once,
    // neighbors strictly from the corpus
    val metrics = Streaming.stVecAugment(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nBatch = graft.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(10)) === 7).count()
    assert(metrics === Map("augmented_rows" -> nBatch,
      "distinct_queries" -> nBatch, "neighbors_from_corpus" -> nBatch))
    // recall: one-shot augmentTop1 over the same split vs the driver's
    // brute exact top-1 (the probed-cell search may miss — pin the floor)
    val base = scratchDir("augment_recall")
    val cat = new graft.catalog.GraftCatalog(base.resolve("wh").toString)
    val emb = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 7)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 7)
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", corpus)
    IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, corpus)
    val got = IvfPq.augmentTop1(spark, cat, "vec", "emb", corpus, batch,
        widen = 1.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(y => y * y).sum))
    val corpusVecs = vecs.filter(_._1 % 10 != 7)
    val exact = vecs.filter(_._1 % 10 == 7).map { case (q, qe) =>
      q -> corpusVecs.map { case (c, ce) =>
        (BigDecimal(cos(qe, ce)).setScale(4, BigDecimal.RoundingMode.HALF_UP), c)
      }.maxBy { case (s, c) => (s, -c) }._2
    }.toMap
    val agree = got.count { case (q, n) => exact(q) == n }
    assert(agree * 10 >= got.size * 8,
      s"top-1 recall $agree/${got.size} below the 0.8 floor")
  }

  test("st_dedup: duplicate event id in a later micro-batch is suppressed") {
    val rows = Streaming.stDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "first"), (2L, "first"), (3L, "first")))
  }

  test("st_dedup_rocksdb: RocksDB store reproduces the default-store result") {
    val rocks = Streaming.stDedupRocks(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val default = Streaming.stDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rocks.toSeq === default.toSeq)
    assert(rocks.toSeq === Seq((1L, "first"), (2L, "first"), (3L, "first")))
    // the scoped provider conf must not leak into the session (getOption
    // surfaces the conf DEFAULT — the HDFS-backed provider — when unset)
    assert(!spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"))
  }

  test("st_catalog_source: append snapshots stream exactly once; DML refused") {
    val rows = Streaming.stCatalogSource(spark, sfDir).collect()
    assert(rows.length == 4)
    val failed = rows.filterNot(_.getBoolean(2)).map(_.getString(0))
    assert(failed.isEmpty, s"invariants failed: ${failed.mkString(", ")}")
  }

  test("st_join_outer: all four batch-parity invariants hold") {
    val rows = Streaming.stJoinOuter(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("matched", "null_extended_closed",
      "no_phantom_null_extension",
      "closed_windows_all_emitted").sorted) // query emits phase-sorted
    // matched rows exist at sf0.001 and every invariant verdict is true
    assert(rows.find(_._1 == "matched").get._2 > 0L)
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("st_sessionize: sessions close on event-time gap; open sessions withheld") {
    val rows = Streaming.stSessionize(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2), r.getAs[java.time.LocalDateTime](3)))
    // u1 and u2 timed out once the watermark passed last-event + 10 min;
    // u3's session is still open (no later watermark advance) ⇒ not emitted.
    def t(m: Int) = java.time.LocalDateTime.of(2024, 1, 1, 0, m)
    assert(rows.toSeq === Seq(
      ("u1", 2L, t(1), t(3)),
      ("u2", 1L, t(2), t(2))))
  }
}
