package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The IVF+PQ index operator behind q_vec_knn_ivfpq: √N-sized
  * deterministic coarse training, the range-clustered inverted-list
  * file layout (and the manifest file skipping it exists for), and the
  * catalog commit + rehydrate roundtrip for both model halves. */
class IvfPqSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def freshCat() = {
    val base = scratchDir("ivfpqspec")
    new graft.catalog.GraftCatalog(base.resolve("wh").toString)
  }

  test("cell count is sized from the corpus: k = max(8, ceil(sqrt(N)))") {
    assert(IvfPq.cellsFor(4) === 8)     // floor dominates tiny corpora
    assert(IvfPq.cellsFor(64) === 8)
    assert(IvfPq.cellsFor(500) === 23)
    assert(IvfPq.cellsFor(2000) === 45)
    assert(IvfPq.cellsFor(1000000000L) === 31623)
    // probe policy holds the FRACTION (~k/4), with a floor of 4
    assert(IvfPq.probeCount(8) === 4)
    assert(IvfPq.probeCount(23) === 6)
    assert(IvfPq.probeCount(45) === 12)
  }

  test("coarse training is deterministic and shapes k centroids") {
    val k = IvfPq.cellsFor(emb.count())
    val sample = ProductQuantizer
      .sampleRows(emb, IvfPq.coarseSampleSize(k)).map(_._2).toSeq
    val a = IvfPq.trainCoarse(sample, k)
    val b = IvfPq.trainCoarse(sample, k)
    assert(a === b)
    assert(a.size === k)
    assert(a.forall(_.size === sample.head.size))
  }

  test("distributed Lloyd assignment is BYTE-identical to the driver loop") {
    // W2: at N=10⁹ the driver-side assignment is k²-bound (driver-hours);
    // the distributed path moves it onto executors via the codegen'd
    // cellOf scan — same index-ordered double dot, strict-< lowest-cell
    // ties, shared meanStep fold — so the committed centroids (and every
    // per-SF pin derived from them) are unchanged whichever path ran.
    val k = IvfPq.cellsFor(emb.count())
    val sample = ProductQuantizer
      .sampleRows(emb, IvfPq.coarseSampleSize(k)).map(_._2).toSeq
    val driver = IvfPq.trainCoarse(sample, k)
    val prev = sys.props.get("graft.ivf.distributeAssignAbove")
    sys.props("graft.ivf.distributeAssignAbove") = "1" // force executors
    try {
      val dist = IvfPq.trainCoarse(spark, sample, k)
      assert(dist === driver, "distributed assignment diverged from driver loop")
    } finally prev match {
      case Some(v) => sys.props("graft.ivf.distributeAssignAbove") = v
      case None => sys.props.remove("graft.ivf.distributeAssignAbove")
    }
    // and the dispatching variant takes the driver loop below threshold
    assert(IvfPq.trainCoarse(spark, sample, k) === driver)
  }

  test("buildIndex commits cells+books+codes; rehydration is exact") {
    val cat = freshCat()
    val k = IvfPq.cellsFor(emb.count())
    val sample = ProductQuantizer
      .sampleRows(emb, IvfPq.coarseSampleSize(k)).map(_._2).toSeq
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    // k is persisted AS the cells table's row count — a later session
    // recovers it from the catalog, never from a constant
    val cents = IvfPq.loadCells(spark, cat, "vec", "emb")
    assert(cents.size === k)
    assert(cents === IvfPq.trainCoarse(sample, k))
    assert(IvfPq.loadModel(spark, cat, "vec", "emb").cbooks ===
      ProductQuantizer.train(sample.take(100)).cbooks)
    // every vector is indexed exactly once, with a valid cell id
    val codes = cat.readTable(spark, "vec", "emb_ivfpq_codes")
    assert(codes.count() === emb.count())
    assert(codes.filter(col("cell") < 1 || col("cell") > k).count() === 0)
    // the stored cell column IS the assignment expression's output
    val mismatch = codes.join(emb, "vec_id")
      .filter(IvfPq.cellOf(cents, col("embedding")) =!= col("cell"))
      .count()
    assert(mismatch === 0)
  }

  test("zero-norm embeddings fail the encode scan loudly") {
    import spark.implicits._
    val k = IvfPq.cellsFor(emb.count())
    val sample = ProductQuantizer
      .sampleRows(emb, IvfPq.coarseSampleSize(k)).map(_._2).toSeq
    val cents = IvfPq.trainCoarse(sample, k)
    val dim = sample.head.size
    val degenerate = Seq((99999L, Seq.fill(dim)(0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      degenerate.select(IvfPq.cellOf(cents, col("embedding"))).collect()
    }
    assert(e.getMessage.contains("zero-norm"),
      s"expected the zero-norm guard to fire, got: ${e.getMessage}")
  }

  /** A frame holding one embedding with a null ELEMENT (not a null
    * array), plus k trained centroids. */
  private def poisonedFrame(session: org.apache.spark.sql.SparkSession)
      : (org.apache.spark.sql.DataFrame, Seq[Seq[Float]]) = {
    val k = IvfPq.cellsFor(emb.count())
    val sample = ProductQuantizer
      .sampleRows(emb, IvfPq.coarseSampleSize(k)).map(_._2).toSeq
    val cents = IvfPq.trainCoarse(sample, k)
    val dim = sample.head.size
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val poisoned = session.createDataFrame(
      java.util.Arrays.asList(Row(99998L,
        Seq.tabulate(dim)(i => if (i == 3) null else Float.box(0.5f)))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    (poisoned, cents)
  }

  test("null-element embeddings fail the encode scan loudly") {
    // a null ELEMENT (not a null array): scored as 0/garbage it would be
    // silently assigned a wrong cell — mis-indexed forever, unlike the
    // null-ARRAY case, which nulls out visibly
    val (poisoned, cents) = poisonedFrame(spark)
    assert(spark.catalog.functionExists("graft_nearest_cell"),
      "spec session must carry the native expression for this test")
    val eNative = intercept[Exception] {
      poisoned.select(IvfPq.cellOf(cents, col("embedding"))).collect()
    }
    assert(eNative.getMessage.contains("null-element"),
      s"native path: expected the null-element guard, got: ${eNative.getMessage}")
  }

  test("cellOf in a session without graft_nearest_cell fails at analysis, before any job") {
    // newSession inherits the extensions (static conf), so drop the
    // function from ITS registry only; the shared spec session keeps it
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nearest_cell"))
    assert(!bare.catalog.functionExists("graft_nearest_cell"))
    val (poisoned, cents) = poisonedFrame(bare)
    // select analyzes eagerly: the error comes from building the frame,
    // with no action called, so no Spark job can have run
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      poisoned.select(IvfPq.cellOf(cents, col("embedding")))
    }
    assert(e.getCondition === "UNRESOLVED_ROUTINE", e.getMessage)
    assert(e.getMessage.contains("graft_nearest_cell"), e.getMessage)
    assert(spark.catalog.functionExists("graft_nearest_cell"))
  }

  test("filteredProbeN: manifest-derived widening — rarer filters widen, scale decays to base") {
    val rk = ProductQuantizer.shortlistK // 480 floor
    // reproduces EXACTLY the breadths the 2.5×-constant policy measured
    // ≥8/10 recall at, for the fixture family's 1-in-10 label (the pins
    // are therefore unchanged by the policy swap)
    assert(IvfPq.filteredProbeN(23, 500L, 0.1, rk) === 15)
    assert(IvfPq.filteredProbeN(45, 2000L, 0.1, rk) === 30)
    assert(IvfPq.filteredProbeN(142, 20000L, 0.1, rk) === 90)
    // a RARER filter widens the probe automatically (the verdict ask);
    // the unfiltered policy stays the k/4 base fraction
    assert(IvfPq.filteredProbeN(45, 2000L, 0.05, rk) >
      IvfPq.filteredProbeN(45, 2000L, 0.1, rk))
    assert(IvfPq.probeCount(45) === 12) // the unfiltered base, untouched
    // a near-unselective filter floors at the base fraction
    assert(IvfPq.filteredProbeN(45, 2000L, 1.0, rk) === 12)
    // at corpus scale the candidate-count regime DECAYS the widening:
    // the base fraction already carries enough filter survivors, so the
    // probed share of the index SHRINKS as N grows (×100 tier: base)
    assert(IvfPq.filteredProbeN(448, 200000L, 0.1, rk) ===
      IvfPq.probeCount(448))
    // 10^9 vectors, same 1-in-10 filter: still the base fraction
    assert(IvfPq.filteredProbeN(31623, 1000000000L, 0.1, rk) ===
      IvfPq.probeCount(31623))
    // a super-rare filter on a tiny corpus honestly probes everything
    // (≈12 survivors total — the filter, not the probe, is the search)
    assert(IvfPq.filteredProbeN(23, 500L, 0.025, rk) === 23)
  }

  test("rangeSelectivity: manifest-estimated interval overlap, floored at one value") {
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb",
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), col("label")))
    val files = cat.loadTable("vec", "emb_ivfpq_codes").filesAsOf(None)
    // label domain 0..9: the lower half is selectivity 0.5, a single
    // value floors at 1/domain, an interval covering everything is 1.0
    assert(IvfPq.rangeSelectivity(files, "label", 0, 4) === 0.5)
    assert(IvfPq.rangeSelectivity(files, "label", 3, 3) === 0.1)
    assert(IvfPq.rangeSelectivity(files, "label", -100, 100) === 1.0)
    // no stats → 1.0 (no widening), like columnNdv
    assert(IvfPq.rangeSelectivity(files, "no_such_column", 0, 1) === 1.0)
    // a range conjunct compounds into the probe policy exactly like an
    // equality of the same selectivity
    assert(IvfPq.filteredProbeN(45, 2000L, 0.1 * 0.5, 480) >
      IvfPq.filteredProbeN(45, 2000L, 0.1, 480))
  }

  test("columnNdv reads the metadata column's domain from the manifest") {
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb",
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), col("label")))
    val files = cat.loadTable("vec", "emb_ivfpq_codes").filesAsOf(None)
    // fixture labels span 0..9 — the per-file footer ranges union to
    // exactly the dense integer domain
    assert(IvfPq.columnNdv(files, "label") === 10.0)
    // a column with no recorded stats yields 1.0 (no widening) rather
    // than guessing
    assert(IvfPq.columnNdv(files, "no_such_column") === 1.0)
  }

  test("adaptiveRerankK: floor when dispersed, proportional when clumped, capped") {
    assert(IvfPq.adaptiveRerankK(480, 100L, 100.0) === 480)   // balanced
    assert(IvfPq.adaptiveRerankK(480, 190L, 100.0) === 480)   // ≤2× noise
    assert(IvfPq.adaptiveRerankK(480, 350L, 100.0) === 1920)  // 3.5× → ×4
    assert(IvfPq.adaptiveRerankK(480, 5000L, 100.0) === 3840) // capped ×8
  }

  test("clumped probe auto-deepens the shortlist; dispersed stays at the floor") {
    // the L64 drift shape in miniature: a dense near-identical clump
    // routed into few cells — PQ cannot order near-ties, so a constant
    // shortlist starves; the manifest's row counts expose the clump at
    // plan time and the default search deepens the re-rank
    val cat = freshCat()
    val base = emb.select((col("vec_id") * lit(2L)).as("vec_id"),
      col("embedding"))
    // 3 deterministic scaled copies of each abs-vector: same cosine
    // DIRECTION per source row (scaling never changes cosine), so the
    // clump is ~3N near-identical-direction vectors in the positive
    // orthant
    val clump = (0 until 3).map { i =>
      emb.select((col("vec_id") + lit(100000L * (i + 1))).as("vec_id"),
        expr(s"transform(embedding, x -> abs(x) * ${1.0f + i * 1e-4f}f)")
          .as("embedding"))
    }.reduce(_ unionByName _)
    val all = base.unionByName(clump)
    IvfPq.buildIndex(spark, cat, "vec", "emb", all)
    val cents = IvfPq.loadCells(spark, cat, "vec", "emb")
    // probe INSIDE the clump
    val p = clump.orderBy("vec_id").head()
    val (probeId, probeVec) = (p.getLong(0), p.getSeq[Float](1))
    // the clump concentrates: probed cells carry far more rows than the
    // balanced N/k expectation, so the adaptive policy must deepen
    val probed = IvfPq.probeCells(cents, probeVec)
    val codesMeta = cat.loadTable("vec", "emb_ivfpq_codes")
    val files = codesMeta.filesAsOf(None)
    val probedRows = files.filter(graft.catalog.Partitioning.keepByStats(
        codesMeta.schema, org.apache.spark.sql.sources.In("cell",
          probed.toArray[Any])))
      .map(_.rowCount).sum
    val expected = probed.size * files.map(_.rowCount).sum.toDouble / cents.size
    assert(probedRows > 2.0 * expected,
      s"fixture must clump: probed $probedRows vs balanced $expected")
    assert(IvfPq.adaptiveRerankK(ProductQuantizer.shortlistK, probedRows,
      expected) > ProductQuantizer.shortlistK)
    // recall with the ADAPTIVE default vs the exact brute force
    val dotc = graft.functions.VectorReference.dot _
    val probeLit = typedLit(probeVec)
    val brute = all.filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), (dotc(col("embedding"), probeLit) /
        (sqrt(dotc(col("embedding"), col("embedding"))) *
         sqrt(dotc(probeLit, probeLit)))).as("cs"))
      .orderBy(desc("cs"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val adaptive = IvfPq.search(spark, cat, "vec", "emb", all, probeId,
      probeVec).collect().map(_.getLong(0))
    assert(adaptive.count(brute) >= 8,
      s"clumped-probe recall ${adaptive.count(brute)}/10 with the " +
        "adaptive shortlist")
    // DISPERSED corpora take the floor exactly: on the plain fixture
    // index the adaptive default is byte-identical to an explicit
    // floor-depth search
    val cat2 = freshCat()
    IvfPq.buildIndex(spark, cat2, "vec", "emb", emb)
    val (pid2, pvec2) = ProductQuantizer.sampleRows(emb).head
    val d1 = IvfPq.search(spark, cat2, "vec", "emb", emb, pid2, pvec2)
      .collect().toSeq
    val d2 = IvfPq.search(spark, cat2, "vec", "emb", emb, pid2, pvec2,
      rerankK = ProductQuantizer.shortlistK).collect().toSeq
    assert(d1 === d2, "dispersed corpus must keep the floor depth")
  }

  test("range-clustered layout: manifest stats prune files per probed cell") {
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val k = IvfPq.loadCells(spark, cat, "vec", "emb").size
    val total = cat.loadTable("vec", "emb_ivfpq_codes").filesAsOf(None).size
    assert(total > 1, "clustered index must span multiple files for pruning")
    // each single-cell probe keeps a strict subset of the files — the
    // inverted-list fetch is file-level, which is the whole point of the
    // repartitionByRange(cell) layout
    (1L to k.toLong).foreach { c =>
      val kept = cat.planFiles(cat.loadTable("vec", "emb_ivfpq_codes"),
        None, Seq(org.apache.spark.sql.sources.EqualTo("cell", c)))
      assert(kept.size < total, s"cell $c kept all $total files")
      assert(kept.nonEmpty || cat.readTable(spark, "vec", "emb_ivfpq_codes")
        .filter(col("cell") === c).isEmpty)
    }
    // the pruned read returns exactly the probed cells' rows, in ONE
    // scan whose kept files stay a strict subset however many cells
    // the √N-sized index probes
    val probed = IvfPq.probedCodes(spark, cat, "vec", "emb", Seq(1L, 3L))
    val expect = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .filter(col("cell").isin(1L, 3L))
    assert(probed.count() === expect.count())
  }

  test("augmentTop1 prunes the index read to the batch's probed-cell union") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    // a ONE-row batch probes only nProbe of the k cells — the codes
    // read must list strictly fewer files than the cell-clustered
    // table holds (before this pin, augmentation scanned the FULL cell
    // range: O(index) per streaming micro-batch)
    val one = emb.orderBy("vec_id").limit(1)
    // AQE wraps the plan — disable it so collect sees the raw scans.
    // The codes scan executes eagerly inside the stage-1 shortlist
    // (round 15) — inspect it via the lastAugmentShortlist handle.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      IvfPq.augmentTop1(spark, cat, "vec", "emb", emb, one).collect()
      IvfPq.lastAugmentShortlist.get()
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val codeFiles = scans.flatMap(_.relation.location.inputFiles)
      .filter(_.contains("emb_ivfpq_codes")).distinct
    assert(codeFiles.nonEmpty)
    val dataDir = new java.io.File(
      codeFiles.head.replace("file:", "")).getParentFile
    val total = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(codeFiles.length < total,
      s"one-query augmentation listed ${codeFiles.length} of $total " +
        "code files — the probed-union pruning did not engage")
    // and the pruned read still answers: the row's nearest neighbor
    // within its probed cells, self excluded
    val rows = IvfPq.augmentTop1(spark, cat, "vec", "emb", emb, one).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(1) !== one.head().getLong(0))
  }

  test("augmentTop1 refuses corpus-scale batches with a pointer to the kNN join") {
    // W1: the entry point is O(batch) on the driver by design (shortlist
    // pair-collect + ranked-batch broadcast) — a corpus-wide NN-graph
    // build must route through the window-based kNN join instead of
    // silently bottlenecking here
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val prev = sys.props.get("graft.augment.maxBatch")
    sys.props("graft.augment.maxBatch") = "3"
    try {
      val e = intercept[IllegalArgumentException] {
        IvfPq.augmentTop1(spark, cat, "vec", "emb", emb,
          emb.orderBy("vec_id").limit(10))
      }
      assert(e.getMessage.contains("q_vec_knn_join"))
      // at or under the gate the same call serves normally
      assert(IvfPq.augmentTop1(spark, cat, "vec", "emb", emb,
        emb.orderBy("vec_id").limit(3)).count() === 3)
    } finally prev match {
      case Some(v) => sys.props("graft.augment.maxBatch") = v
      case None => sys.props.remove("graft.augment.maxBatch")
    }
  }

  test("raw re-rank store: search equals the emb-join fallback; augment re-rank reads the store, cell-pruned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    assert(cat.tableExists("vec", "emb_ivfpq_raw"),
      "buildIndex must commit the raw re-rank store")
    // the store mirrors the corpus, cell-clustered, with vec_id blooms
    val rawFiles = cat.loadTable("vec", "emb_ivfpq_raw").filesAsOf(None)
    assert(rawFiles.forall(_.bloomPath.nonEmpty),
      "every raw-store commit must carry a vec_id bloom sidecar")
    assert(cat.readTable(spark, "vec", "emb_ivfpq_raw").count() === emb.count())
    val (pid, pvec) = ProductQuantizer.sampleRows(emb).head
    val viaStore = IvfPq.search(spark, cat, "vec", "emb", emb, pid, pvec)
      .collect().toSeq
    // fallback twin: an index WITHOUT the store (built pre-round-14
    // shape by dropping the raw table) answers byte-identically via
    // the emb broadcast join
    cat.dropTable("vec", "emb_ivfpq_raw")
    val viaEmb = IvfPq.search(spark, cat, "vec", "emb", emb, pid, pvec)
      .collect().toSeq
    assert(viaStore === viaEmb,
      "raw-store re-rank diverged from the emb-join fallback")
    // augmentation's exact re-rank reads the store (never the corpus
    // parquet), pruned like its candidate scan — rebuild the store twin
    val cat2 = freshCat()
    IvfPq.buildIndex(spark, cat2, "vec", "emb", emb)
    val one = emb.orderBy("vec_id").limit(1)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val files = try {
      IvfPq.augmentTop1(spark, cat2, "vec", "emb", emb, one)
        .queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f }
        .flatMap(_.relation.location.inputFiles)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(files.exists(_.contains("emb_ivfpq_raw")),
      "augment re-rank must read the raw store")
    assert(!files.exists(_.contains("embeddings.parquet")),
      "augment must never scan the corpus embeddings parquet")
    val rawListed = files.filter(_.contains("emb_ivfpq_raw")).distinct
    val rawTotal = cat2.loadTable("vec", "emb_ivfpq_raw").filesAsOf(None).size
    assert(rawListed.size < rawTotal,
      s"augment re-rank listed ${rawListed.size} of $rawTotal raw files — " +
        "cell pruning did not engage")
  }

  test("augmentTop1 on an empty batch returns an empty, correctly-shaped frame") {
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val res = IvfPq.augmentTop1(spark, cat, "vec", "emb", emb,
      emb.filter(lit(false)))
    assert(res.columns.toSeq === Seq("query_id", "neighbor_id", "cos_sim"))
    assert(res.count() === 0)
  }
}
