package graft.etl

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.catalog.{GraftCatalog, Partitioning}
import org.apache.spark.sql.functions._

/** Maintenance.optimize: compaction, MoR-debt payoff, clustering, and
  * time travel across the maintenance commit. */
class MaintenanceSpec extends SparkSpec {

  /** Files the scan planner keeps for `lo <= column <= hi` on nyc.t. */
  private def kept(cat: GraftCatalog, column: String, lo: Double, hi: Double) = {
    val meta = cat.loadTable("nyc", "t")
    cat.planFiles(meta, None,
      Seq(Partitioning.between(meta.schema, column, lo, hi)))
  }
  import spark.implicits._

  private def setup(): GraftCatalog = {
    val base = scratchDir("maint")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    // 8 tiny files of 64 rows each
    (1 to 512).map(i => (i.toLong, (i % 97).toLong, i * 1.5))
      .toDF("id", "grp", "score")
      .repartition(8).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    cat
  }

  test("optimize compacts small files and preserves every row") {
    val cat = setup()
    assert(cat.files("nyc", "t").size === 8)
    val before = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    Maintenance.optimize(spark, cat, "nyc", "t", targetFileBytes = Long.MaxValue)
    assert(cat.files("nyc", "t").size === 1)
    val after = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(after === before)
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 512)
  }

  test("optimize pays down merge-on-read debt in the same pass") {
    val cat = setup()
    Merge.deleteWhereMor(spark, cat, "nyc", "t", col("id") <= 12L, Seq("id"))
    assert(cat.loadTable("nyc", "t").deleteFilesAsOf(None).nonEmpty)
    Maintenance.optimize(spark, cat, "nyc", "t", targetFileBytes = Long.MaxValue)
    assert(cat.loadTable("nyc", "t").deleteFilesAsOf(None).isEmpty)
    assert(cat.readTable(spark, "nyc", "t").count() === 500)
  }

  test("clusterBy one column narrows per-file ranges; skipping improves") {
    val cat = setup()
    // force ~4 output files, range-clustered on id
    val bytes = cat.files("nyc", "t").map(_.sizeBytes).sum
    Maintenance.optimize(spark, cat, "nyc", "t",
      targetFileBytes = bytes / 4, clusterBy = Seq("id"))
    val files = cat.files("nyc", "t")
    assert(files.size >= 3)
    // a narrow id predicate must keep fewer files than exist
    assert(kept(cat, "id", 1, 64).size < files.size)
    assert(cat.readTable(spark, "nyc", "t", filters = Seq(Partitioning.between(
        cat.loadTable("nyc", "t").schema, "id", 1, 64)))
      .filter(col("id") <= 64).count() === 64)
  }

  test("clusterBy two columns z-orders: both dimensions skip") {
    val cat = setup()
    val bytes = cat.files("nyc", "t").map(_.sizeBytes).sum
    Maintenance.optimize(spark, cat, "nyc", "t",
      targetFileBytes = bytes / 8, clusterBy = Seq("id", "grp"))
    val total = cat.files("nyc", "t").size
    val keptId = kept(cat, "id", 1, 100).size
    val keptGrp = kept(cat, "grp", 0, 20).size
    assert(total >= 6)
    assert(keptId < total)
    assert(keptGrp < total)
  }

  /** Plain-Scala xy→d reference (the classic iterative walk). */
  private def hilbertRef(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (Layout.HilbertBits - 1)
    while (s >= 1) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("withHilbertValue matches the reference walk on random grid points") {
    val rnd = new scala.util.Random(7)
    val m = (1 << Layout.HilbertBits) - 1
    val pts = Seq((0L, 0L), (m.toLong, m.toLong), (0L, m.toLong), (m.toLong, 0L)) ++
      (1 to 200).map(_ => (rnd.nextInt(m + 1).toLong, rnd.nextInt(m + 1).toLong))
    val df = pts.toDF("x", "y")
    val got = Layout.withHilbertValue(df, col("x"), col("y"), "h")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { p =>
      assert(got(p) === hilbertRef(p._1, p._2), s"mismatch at $p")
    }
    // distinct points map to distinct curve positions (it is a bijection)
    assert(got.values.toSet.size === pts.distinct.size)
  }

  test("clusterBy two columns with curve=hilbert: both dimensions skip") {
    val cat = setup()
    val bytes = cat.files("nyc", "t").map(_.sizeBytes).sum
    Maintenance.optimize(spark, cat, "nyc", "t",
      targetFileBytes = bytes / 8, clusterBy = Seq("id", "grp"), curve = "hilbert")
    val total = cat.files("nyc", "t").size
    assert(total >= 6)
    assert(kept(cat, "id", 1, 100).size < total)
    assert(kept(cat, "grp", 0, 20).size < total)
    // the rewrite is lossless
    assert(cat.readTable(spark, "nyc", "t").count() === 512)
  }

  private def landRange(cat: GraftCatalog, tbl: String, n: Long,
                        dir: String): java.nio.file.Path = {
    val d = Paths.get(cat.warehouse, "nyc", tbl, "data", dir)
    spark.range(n).coalesce(1).write.parquet(d.toString)
    d
  }

  test("expireSnapshots drops history, deletes orphans, keeps retained state") {
    val base = scratchDir("expire")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.createTable("nyc", "e", spark.range(1).schema)
    cat.registerFiles("nyc", "e", Seq(landRange(cat, "e", 10, "b1")))
    cat.registerFiles("nyc", "e", Seq(landRange(cat, "e", 20, "b2")))
    cat.registerFiles("nyc", "e", Seq(landRange(cat, "e", 40, "b3")),
      operation = "overwrite")
    val doomed = cat.snapshots("nyc", "e").take(2).flatMap(_.addedFiles).map(_.path)
    val r = cat.expireSnapshots("nyc", "e", keepLast = 1)
    assert(r === graft.catalog.ExpireResult(2, 2, 1))
    assert(doomed.forall(p => !Files.exists(Paths.get(p))))
    assert(cat.readTable(spark, "nyc", "e").count() === 40)
    intercept[Exception] { cat.readTable(spark, "nyc", "e", asOf = Some(1L)) }
    // delta-head retention inserts a boundary checkpoint
    cat.registerFiles("nyc", "e", Seq(landRange(cat, "e", 50, "b4")))
    val r2 = cat.expireSnapshots("nyc", "e", keepLast = 1)
    assert(r2 === graft.catalog.ExpireResult(1, 0, 2)) // checkpoint + snap 4
    assert(cat.readTable(spark, "nyc", "e", asOf = Some(3L)).count() === 40)
    assert(cat.readTable(spark, "nyc", "e").count() === 90)
    // keepLast >= history size is a no-op
    assert(cat.expireSnapshots("nyc", "e", keepLast = 10) ===
      graft.catalog.ExpireResult(0, 0, 2))
  }

  test("etl_neardup_maintain: in-batch near-dup collapses, index rebuilt for keepers") {
    val rows = graft.queries.Etl.queries("etl_neardup_maintain")(spark, sfDir)
      .collect()
    // keepers 1, 2, 5; doc 4 (near-dup of 1 that landed in the same
    // batch) collapsed; each keeper carries 4 band rows + 1 token-set row
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 5L))
    assert(rows.forall(r => r.getLong(2) === 4L && r.getLong(3) === 1L))
    // all four pre-maintenance rows remain reachable via time travel
    assert(rows.forall(_.getLong(4) === 4L))
  }

  test("neardupMaintain repairs an under-indexed table (crash between data and index commits)") {
    // the streaming ingester commits data → sigs → toks; a crash between
    // the first and second commit leaves accepted rows UNDER-indexed, so
    // a later near-dup of those rows screens clean and lands. The
    // documented repair is the maintenance pass — prove it end to end.
    import graft.queries.Extensions.{docTokenSets, docBandRows}
    import graft.streaming.Streaming.neardupScreen
    import org.apache.spark.sql.functions.col
    val base = scratchDir("underindex")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val tA = "the quick brown fox jumps over the lazy dog while rain falls on the quiet village green at dawn"
    val proto = Seq((0L, "x")).toDF("doc_id", "text")
    cat.createTable("m", "docs", proto.schema)
    cat.createTable("m", "docs_sigs", docBandRows(docTokenSets(proto)).schema)
    cat.createTable("m", "docs_toks", docTokenSets(proto).schema)
    // batch 0 lands doc 1 but CRASHES before the index commits
    val d0 = Seq((1L, tA)).toDF("doc_id", "text")
    d0.write.parquet(base.resolve("b0").toString)
    cat.registerFiles("m", "docs", Seq(base.resolve("b0")))
    // batch 1: a near-dup of doc 1 screens against the EMPTY index → lands
    val d1 = Seq((9L, tA.replace("dawn", "mist"))).toDF("doc_id", "text")
    val rejected = neardupScreen(d1,
      cat.readTable(spark, "m", "docs_sigs"),
      cat.readTable(spark, "m", "docs_toks")).count()
    assert(rejected === 0, "under-indexed table must NOT reject (that's the hole)")
    d1.write.parquet(base.resolve("b1").toString)
    cat.registerFiles("m", "docs", Seq(base.resolve("b1")))
    assert(cat.readTable(spark, "m", "docs").count() === 2)
    // the maintenance pass collapses the pair and rebuilds the index
    Maintenance.neardupMaintain(spark, cat, "m", "docs",
      sigsTable = Some("docs_sigs"), toksTable = Some("docs_toks"))
    val kept = cat.readTable(spark, "m", "docs")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
    // and the rebuilt index now rejects the same near-dup
    val rejectedAfter = neardupScreen(d1,
      cat.readTable(spark, "m", "docs_sigs"),
      cat.readTable(spark, "m", "docs_toks"))
      .collect().map(_.getLong(0)).toSeq
    assert(rejectedAfter === Seq(9L))
  }

  test("expireSnapshots refuses a boundary carrying merge-on-read debt") {
    val base = scratchDir("expire_mor")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.createTable("nyc", "em", spark.range(1).schema)
    cat.registerFiles("nyc", "em", Seq(landRange(cat, "em", 10, "b1")))
    Merge.deleteWhereMor(spark, cat, "nyc", "em", col("id") < 3, Seq("id")) // snap 2
    cat.registerFiles("nyc", "em", Seq(landRange(cat, "em", 5, "b3")))
    cat.registerFiles("nyc", "em", Seq(landRange(cat, "em", 5, "b4")))
    // retained = snaps 3,4 (delta head); boundary snap 2 carries MoR debt
    val e = intercept[Exception] { cat.expireSnapshots("nyc", "em", keepLast = 2) }
    assert(e.getMessage.contains("materialize"))
    // after materializing, the same expire succeeds
    Merge.materialize(spark, cat, "nyc", "em")                              // snap 5
    val r = cat.expireSnapshots("nyc", "em", keepLast = 1)
    assert(r.expiredSnapshots === 4)
    assert(cat.readTable(spark, "nyc", "em").count() === 17) // 7 + 5 + 5
  }
}
