package graft.etl

import java.nio.file.Paths

import graft.{SparkSpec, Tables}
import graft.catalog.GraftCatalog
import graft.operators.{IvfPq, ProductQuantizer}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

/** The ANN-index delete/compaction lifecycle behind q_vec_knn_deleted and
  * etl_vec_index_compact: position-delete tombstones are honored by the
  * manifest-pruned probe IMMEDIATELY (before any rewrite), so is equality
  * debt on any key (the pruned read folds it in commit order), and
  * compaction purges the debt +
  * restores the ≤ k cell-clustered layout (k = the index's own √N-sized cell count) without changing any
  * probe answer. */
class VectorMaintenanceSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def freshCat() = {
    val base = scratchDir("vecmaint")
    new GraftCatalog(base.resolve("wh").toString)
  }

  /** Grown-index fixture: 3 append snapshots + a ~1/13 position-delete. */
  private def grownIndex(): (GraftCatalog, Long, Seq[Float]) = {
    val cat = freshCat()
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", emb)
    (0 until 3).foreach { i =>
      IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model,
        emb.filter(pmod(col("vec_id"), lit(3)) === i))
    }
    val (probeId, probeVec) = ProductQuantizer.sampleRows(emb).head
    Merge.deleteWherePos(spark, cat, "vec", "emb_ivfpq_codes",
      pmod(col("vec_id"), lit(13)) === 5 && col("vec_id") =!= probeId)
    (cat, probeId, probeVec)
  }

  test("tombstones are honored by the pruned probe before any compaction") {
    val (cat, _, _) = grownIndex()
    assert(cat.loadTable("vec", "emb_ivfpq_codes").deleteFilesAsOf(None).nonEmpty)
    val k = IvfPq.loadCells(spark, cat, "vec", "emb").size
    val probed = IvfPq.probedCodes(spark, cat, "vec", "emb",
      (1L to k.toLong))
    assert(probed.filter(pmod(col("vec_id"), lit(13)) === 5 &&
      col("vec_id") =!= ProductQuantizer.sampleRows(emb).head._1).count() === 0,
      "a deleted vector surfaced from the live pruned probe")
    // the probe of ALL cells sees exactly the live rows
    val expected = emb.filter(!(pmod(col("vec_id"), lit(13)) === 5) ||
      col("vec_id") === ProductQuantizer.sampleRows(emb).head._1).count()
    assert(probed.count() === expected)
  }

  test("the pruned read equals the filtered full read under equality debt") {
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    Merge.deleteWhereMor(spark, cat, "vec", "emb_ivfpq_codes",
      col("vec_id") === 1L, Seq("vec_id"))
    val k = IvfPq.loadCells(spark, cat, "vec", "emb").size
    val allCells = sources.And(sources.GreaterThanOrEqual("cell", 1L),
      sources.LessThanOrEqual("cell", k.toLong))
    def agree(f: sources.Filter, p: Column): Unit = {
      val pruned = cat.readTable(spark, "vec", "emb_ivfpq_codes",
        filters = Seq(f)).filter(p)
      val full = cat.readTable(spark, "vec", "emb_ivfpq_codes").filter(p)
      assert(pruned.count() === full.count())
      assert(pruned.exceptAll(full).isEmpty)
    }
    agree(sources.EqualTo("cell", 1L), col("cell") === 1L)
    agree(allCells, col("cell").between(1L, k.toLong))
    assert(cat.readTable(spark, "vec", "emb_ivfpq_codes",
      filters = Seq(allCells)).filter(col("vec_id") === 1L).count() === 0)
    // a delete keyed on a column that is not append-only folds too
    Merge.deleteWhereMor(spark, cat, "vec", "emb_ivfpq_codes",
      col("cell") === 2L, Seq("cell"))
    agree(sources.EqualTo("cell", 2L), col("cell") === 2L)
    agree(allCells, col("cell").between(1L, k.toLong))
  }

  test("id-keyed equality deletes fold into the pruned probe") {
    // two index twins over the same corpus: one takes the delete as
    // POSITION tombstones, the other as id-keyed EQUALITY tombstones —
    // every live read and search answer must agree exactly
    val catPos = freshCat(); val catEq = freshCat()
    IvfPq.buildIndex(spark, catPos, "vec", "emb", emb)
    IvfPq.buildIndex(spark, catEq, "vec", "emb", emb)
    val (probeId, probeVec) = ProductQuantizer.sampleRows(emb).head
    val doomed = pmod(col("vec_id"), lit(13)) === 5 && col("vec_id") =!= probeId
    Merge.deleteWherePos(spark, catPos, "vec", "emb_ivfpq_codes", doomed)
    Merge.deleteWhereMor(spark, catEq, "vec", "emb_ivfpq_codes", doomed,
      Seq("vec_id"))
    val k = IvfPq.loadCells(spark, catEq, "vec", "emb").size
    // probedCodes sees identical live rows
    val cells = 1L to k.toLong
    val livePos = IvfPq.probedCodes(spark, catPos, "vec", "emb", cells)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val liveEq = IvfPq.probedCodes(spark, catEq, "vec", "emb", cells)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(liveEq === livePos)
    assert(!liveEq.exists(v => v % 13 == 5 && v != probeId))
    // and the policy-probed search answers byte-identically
    val sPos = IvfPq.search(spark, catPos, "vec", "emb", emb, probeId, probeVec)
      .collect().toSeq
    val sEq = IvfPq.search(spark, catEq, "vec", "emb", emb, probeId, probeVec)
      .collect().toSeq
    assert(sEq === sPos)
    // an equality delete on another key (cells are not append-only)
    // applies to the probe as it does to the full read
    Merge.deleteWhereMor(spark, catEq, "vec", "emb_ivfpq_codes",
      col("cell") === 1L, Seq("cell"))
    assert(IvfPq.probedCodes(spark, catEq, "vec", "emb", Seq(1L)).count() === 0)
  }

  test("the pruned probe serves UPSERT-shaped equality snapshots") {
    // mergeIntoMor on vec_id deletes AND re-inserts the key in one
    // snapshot: by the sequence rule the re-inserted row survives its
    // own tombstone, in the pruned probe as in the full read
    val cat = freshCat()
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val k = IvfPq.loadCells(spark, cat, "vec", "emb").size
    val upsert = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .filter(col("vec_id") === 1L)
      .withColumn("cell", lit(1L))
    Merge.mergeIntoMor(spark, cat, "vec", "emb_ivfpq_codes", upsert,
      Seq("vec_id"))
    assert(cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .filter(col("vec_id") === 1L).count() === 1)
    val probed = IvfPq.probedCodes(spark, cat, "vec", "emb", 1L to k.toLong)
    assert(probed.filter(col("vec_id") === 1L).count() === 1)
    assert(probed.count() ===
      cat.readTable(spark, "vec", "emb_ivfpq_codes").count())
  }

  test("appendCodesBatch replay is a no-op even after compaction") {
    // a compaction overwrite between a batch's commit and the stream
    // checkpoint removes the batch's FILES from the live set; the
    // crash-replay must still find the batch tag in the snapshot LOG
    // and skip, or every vector in the batch doubles (the round-12
    // advice note)
    val cat = freshCat()
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", emb)
    IvfPq.appendCodesBatch(spark, cat, "vec", "emb", cents, model,
      emb.filter(pmod(col("vec_id"), lit(3)) === 0), batchId = 0L)
    IvfPq.appendCodesBatch(spark, cat, "vec", "emb", cents, model,
      emb.filter(pmod(col("vec_id"), lit(3)) === 1), batchId = 1L)
    val before = cat.readTable(spark, "vec", "emb_ivfpq_codes").count()
    VectorMaintenance.compactIndex(spark, cat, "vec", "emb")
    // post-compaction, no live file carries the batch tag anymore...
    assert(!cat.loadTable("vec", "emb_ivfpq_codes").filesAsOf(None)
      .exists(_.path.contains("/ivfpq-batch-1/")))
    // ...but the replay (same batchId) must still be detected
    IvfPq.appendCodesBatch(spark, cat, "vec", "emb", cents, model,
      emb.filter(pmod(col("vec_id"), lit(3)) === 1), batchId = 1L)
    assert(cat.readTable(spark, "vec", "emb_ivfpq_codes").count() === before,
      "crash-replay after compaction double-appended the batch")
  }

  test("q_vec_knn_filtered_deleted: filter and tombstones compose on the pruned probe") {
    val got = graft.SparkEntry.queries("q_vec_knn_filtered_deleted")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got.size === 10)
    val full = Tables.embeddings(spark, sfDir)
    val p = full.orderBy("vec_id").select("vec_id", "embedding", "label").head()
    val (pid, pvec, plabel) = (p.getLong(0), p.getSeq[Float](1), p.getInt(2))
    // no deleted id may surface, however the filter interacts with the
    // anti-join (the resurrect-through-the-filter composition bug)
    assert(!got.exists { case (v, _) => v % 13 == 5 && v != pid })
    // recall vs the exact FILTERED-minus-DELETED brute force
    val dot = graft.functions.VectorReference.dot _
    val probe = typedLit(pvec)
    val exact = full
      .filter(col("label") === plabel && col("vec_id") =!= pid &&
        pmod(col("vec_id"), lit(13)) =!= 5)
      .select(col("vec_id"),
        round(dot(col("embedding"), probe) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(probe, probe))), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exactIds = exact.map(_._1).toSet
    val recall = got.map(_._1).count(exactIds).toDouble / 10
    assert(recall >= 0.8, s"filtered+deleted recall $recall < 0.8")
    // surviving members carry the exact re-ranked cosine
    val exactScores = exact.toMap
    got.filter(r => exactScores.contains(r._1)).foreach { case (v, c) =>
      assert(c === exactScores(v))
    }
  }

  test("q_vec_knn_deleted_eq: pruned probe — tombstoned ids never surface, recall holds") {
    // the declared row now exercises the DEPLOYMENT shape (round-12
    // verdict item 4): the policy-fraction pruned probe with the
    // tombstone anti-join folded in, not a full cell-range read
    val got = graft.SparkEntry.queries("q_vec_knn_deleted_eq")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got.size === 10)
    val (probeId, probeVec) = ProductQuantizer.sampleRows(emb).head
    assert(!got.exists { case (v, _) => v % 13 == 5 && v != probeId })
    // recall vs the exact deleted brute force: the pruned probe gates
    // the family floor (the full-range read it replaced matched 10/10)
    val dot = graft.functions.VectorReference.dot _
    val probe = typedLit(probeVec)
    val exact = emb
      .filter(col("vec_id") =!= probeId && pmod(col("vec_id"), lit(13)) =!= 5)
      .select(col("vec_id"),
        round(dot(col("embedding"), probe) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(probe, probe))), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exactIds = exact.map(_._1).toSet
    assert(got.map(_._1).count(exactIds) >= 8,
      s"pruned deleted-eq recall ${got.map(_._1).count(exactIds)}/10 < 8")
    // surviving members carry the exact re-ranked cosine
    val exactScores = exact.toMap
    got.filter(r => exactScores.contains(r._1)).foreach { case (v, c) =>
      assert(c === exactScores(v))
    }
  }

  test("compaction purges tombstoned ids' RAW vectors (the RTBF half) and re-clusters the store") {
    val (cat, probeId, _) = grownIndex()
    val rawBefore = cat.readTable(spark, "vec", "emb_ivfpq_raw").count()
    // pre-compaction the raw store still HOLDS the tombstoned vectors
    // (no search can surface them, but the bytes exist)
    assert(cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .filter(pmod(col("vec_id"), lit(13)) === 5 &&
        col("vec_id") =!= probeId).count() > 0,
      "fixture must carry doomed raw rows before compaction")
    VectorMaintenance.compactIndex(spark, cat, "vec", "emb")
    // post-compaction: physically purged, matching the live codes exactly
    val raw = cat.readTable(spark, "vec", "emb_ivfpq_raw")
    assert(raw.filter(pmod(col("vec_id"), lit(13)) === 5 &&
      col("vec_id") =!= probeId).count() === 0,
      "a right-to-be-forgotten raw vector survived compaction")
    assert(raw.count() ===
      cat.readTable(spark, "vec", "emb_ivfpq_codes").count())
    assert(raw.count() < rawBefore)
    // the re-clustered store keeps its blooms (point re-rank still prunes)
    assert(cat.loadTable("vec", "emb_ivfpq_raw").filesAsOf(None)
      .forall(_.bloomPath.nonEmpty))
  }

  test("a half-landed append's raw rows survive compaction (never purged as tombstones)") {
    // the crash window appendCodes documents: raw committed, codes not
    // yet. A compaction running INSIDE that window must not purge the
    // batch's raw vectors — to a keep-only-codes-live purge they look
    // exactly like tombstones, and once the codes half lands every
    // search touching those ids would die on the sync guard forever.
    val cat = freshCat()
    val half = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    IvfPq.buildIndex(spark, cat, "vec", "emb", half)
    // simulate the half-landed append: raw rows for NEW ids registered
    // through the public commit surface, codes absent
    val cells = IvfPq.loadCells(spark, cat, "vec", "emb")
    val orphanIds = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    val orphan = emb.filter(col("vec_id").isInCollection(orphanIds))
      .withColumn("cell", lit(1L))
      .select(col("vec_id"), col("cell"), col("embedding"))
    val dir = java.nio.file.Paths.get(cat.warehouse, "vec",
      "emb_ivfpq_raw", "data", "halflanded-test")
    orphan.write.parquet(dir.toString)
    cat.registerFilesWithBlooms(spark, "vec", "emb_ivfpq_raw", Seq(dir),
      Seq("vec_id"), operation = "append")
    VectorMaintenance.compactIndex(spark, cat, "vec", "emb")
    val survivors = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .filter(col("vec_id").isInCollection(orphanIds)).count()
    assert(survivors === orphanIds.size,
      s"compaction purged $survivors/${orphanIds.size} half-landed raw rows")
    assert(cells.nonEmpty) // fixture sanity
  }

  test("DETERMINISTIC interleave: an append landing inside compaction's commit window folds in, no row lost") {
    val cat = freshCat()
    val corpus = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", corpus)
    IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, corpus)
    // the interleave seam lands a REAL append exactly between the
    // compaction's rewrite (derived at its pinned base) and its
    // overwrite commit — before the round-15 base validation this was
    // the window that silently erased the batch
    VectorMaintenance.compactIndex(spark, cat, "vec", "emb",
      interleave = () => {
        IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, batch)
        ()
      })
    val codeIds = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id")
    assert(codeIds.count() === emb.count(),
      "the interleaved append's vectors were erased by the compaction")
    assert(codeIds.distinct().count() === emb.count())
    // raw store consistent: every code id resolves (raw-first ordering
    // + the tombstone-diff purge that spares non-tombstoned ids)
    assert(codeIds.join(
        cat.readTable(spark, "vec", "emb_ivfpq_raw").select("vec_id"),
        Seq("vec_id"), "left_anti").count() === 0,
      "a folded-in vector lost its raw re-rank row")
    // the serve path answers on a folded-in vector
    val (pid, pvec) = ProductQuantizer.sampleRows(batch).head
    assert(IvfPq.search(spark, cat, "vec", "emb", emb, pid, pvec, k = 5)
      .collect().length === 5)
  }

  test("compactIndex racing a live appendCodes loses no vector; search stays consistent") {
    val cat = freshCat()
    val half = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", half)
    IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, half)
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val compactor = new Thread(() => {
      try { gate.await()
        VectorMaintenance.compactIndex(spark, cat, "vec", "emb"); ()
      } catch { case t: Throwable => errs.add(t); () }
    })
    val appender = new Thread(() => {
      try { gate.await()
        IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, batch); ()
      } catch { case t: Throwable => errs.add(t); () }
    })
    Seq(compactor, appender).foreach(_.start())
    gate.countDown()
    Seq(compactor, appender).foreach(_.join(120000))
    assert(errs.isEmpty, s"racing index ops failed: ${errs.toArray.mkString(", ")}")
    // NO VECTOR LOST whichever side won each commit race: every id is in
    // the codes exactly once, and the raw store covers every code id
    val codeIds = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id")
    assert(codeIds.count() === emb.count(),
      "the racing append's vectors vanished from the compacted codes")
    assert(codeIds.distinct().count() === emb.count())
    assert(codeIds.join(
        cat.readTable(spark, "vec", "emb_ivfpq_raw").select("vec_id"),
        Seq("vec_id"), "left_anti").count() === 0,
      "a code id has no raw re-rank row after the race")
    // the serve path works end to end on a RACED-IN vector
    val (pid, pvec) = ProductQuantizer.sampleRows(batch).head
    val top = IvfPq.search(spark, cat, "vec", "emb", emb, pid, pvec, k = 5)
      .collect()
    assert(top.length === 5, "post-race search broke")
  }

  test("rebuild racing a live appendCodes never mixes models: refused loudly or serialized cleanly") {
    val cat = freshCat()
    val corpus = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val (cents, model) = IvfPq.initIndex(spark, cat, "vec", "emb", corpus)
    IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, corpus)
    val rebuildErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val otherErrs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val rebuilder = new Thread(() => {
      try { gate.await()
        IvfPq.buildIndex(spark, cat, "vec", "emb", corpus); ()
      } catch { case t: Throwable => rebuildErr.set(t); () }
    })
    val appender = new Thread(() => {
      try { gate.await()
        IvfPq.appendCodes(spark, cat, "vec", "emb", cents, model, batch); ()
      } catch { case t: Throwable => otherErrs.add(t); () }
    })
    Seq(rebuilder, appender).foreach(_.start())
    gate.countDown()
    Seq(rebuilder, appender).foreach(_.join(120000))
    assert(otherErrs.isEmpty,
      s"the appending side must never fail: ${otherErrs.toArray.mkString(", ")}")
    rebuildErr.get() match {
      case null =>
        // rebuild won cleanly (no interleaved commit): the index is on
        // ONE model; if the batch stacked after, its ids are in BOTH
        // stores (raw-first ordering), never codes-only
        val codeIds = cat.readTable(spark, "vec", "emb_ivfpq_codes")
          .select("vec_id").distinct()
        assert(codeIds.join(
            cat.readTable(spark, "vec", "emb_ivfpq_raw").select("vec_id"),
            Seq("vec_id"), "left_anti").count() === 0,
          "a code id has no raw row after the rebuild race")
      case e: graft.catalog.ConcurrentOverwriteException =>
        // rebuild REFUSED the interleaved old-model append — nothing
        // was lost and nothing mixed: every appended id is still live
        assert(cat.readTable(spark, "vec", "emb_ivfpq_codes")
          .select("vec_id").distinct().count() === emb.count(),
          s"refused rebuild lost rows: ${e.getMessage}")
      case other => fail(s"unexpected rebuild failure: $other")
    }
  }

  test("compaction purges debt, restores <= k files, keeps answers") {
    val (cat, probeId, probeVec) = grownIndex()
    def meta = cat.loadTable("vec", "emb_ivfpq_codes")
    val k = IvfPq.loadCells(spark, cat, "vec", "emb").size
    val filesBefore = meta.filesAsOf(None).size
    assert(filesBefore > k,
      "3 appends must leave more files than cells for the test to bite")
    val before = IvfPq.search(spark, cat, "vec", "emb", emb, probeId, probeVec)
      .collect().toSeq
    VectorMaintenance.compactIndex(spark, cat, "vec", "emb")
    assert(meta.deleteFilesAsOf(None).isEmpty, "compaction must purge debt")
    assert(meta.filesAsOf(None).size <= k)
    val after = IvfPq.search(spark, cat, "vec", "emb", emb, probeId, probeVec)
      .collect().toSeq
    assert(after === before, "compaction changed the probe answer")
    // time travel still reaches the pre-compaction (debt-carrying) state
    val preCompact = meta.snapshots.dropRight(1).last.id
    assert(cat.readTable(spark, "vec", "emb_ivfpq_codes",
      asOf = Some(preCompact)).count() ===
      cat.readTable(spark, "vec", "emb_ivfpq_codes").count())
  }

  test("q_vec_knn_deleted: tombstoned vectors never surface; rest is the exact top-10") {
    val got = graft.SparkEntry.queries("q_vec_knn_deleted")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size === 10)
    val (probeId, probeVec) = ProductQuantizer.sampleRows(emb).head
    assert(!got.exists { case (v, _) => v % 13 == 5 && v != probeId })
    // exact brute force minus the deleted set, computed independently
    val dot = graft.functions.VectorReference.dot _
    val probe = typedLit(probeVec)
    val expected = emb
      .filter(col("vec_id") =!= probeId && pmod(col("vec_id"), lit(13)) =!= 5)
      .select(col("vec_id"),
        round(dot(col("embedding"), probe) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(probe, probe))), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), asc("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
  }
}
