package graft.catalog

import java.nio.file.{Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one scan planner ([[GraftCatalog.planFiles]]): typed range
  * literals prune like the raw bound test they replace, and SQL scans
  * get every layer, bloom included, reporting their kept files through
  * their own executed plans. */
class ScanPlannerSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): (Path, GraftCatalog) = {
    val base = scratchDir(tag)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.createNamespace("p")
    (base, cat)
  }

  /** Register `df`'s rows split into files by `fileOf`, one file each. */
  private def register(cat: GraftCatalog, base: Path, t: String, df: DataFrame,
                       fileOf: org.apache.spark.sql.Column, n: Int,
                       blooms: Seq[String] = Nil): Unit = {
    val dirs = (0 until n).map { r =>
      val dir = base.resolve(s"$t-$r")
      df.filter(fileOf === r).coalesce(1).write.parquet(dir.toString)
      dir
    }
    cat.createTable("p", t, df.schema)
    if (blooms.isEmpty) cat.registerFiles("p", t, dirs)
    else cat.registerFilesWithBlooms(spark, "p", t, dirs, blooms)
  }

  private def withCatalog[T](s: SparkSession, cat: GraftCatalog)(body: String => T): T = {
    val c = "sp" + Paths.get(cat.warehouse).getParent.getFileName.toString
      .replaceAll("[^a-zA-Z0-9]", "")
    s.conf.set(s"spark.sql.catalog.$c", classOf[GraftSparkCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$c.warehouse", cat.warehouse)
    try body(c)
    finally {
      s.conf.unset(s"spark.sql.catalog.$c")
      s.conf.unset(s"spark.sql.catalog.$c.warehouse")
    }
  }

  test("typed range literals keep exactly the files the raw bound test keeps (Long, Int, Date)") {
    val (base, cat) = fresh("plan_typed")
    // 4 files, each a disjoint slice of every column
    val df = (0 until 400).map(i => (i.toLong * 3L, i * 2,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(9000L + i))))
      .toDF("l", "i", "d")
    register(cat, base, "t", df, (col("l") / 300).cast("int"), 4)
    val meta = cat.loadTable("p", "t")
    val files = meta.filesAsOf(None)
    assert(files.size === 4)
    // the bound test the Double-bound callers ran before: [min, max]
    // meets [lo, hi]; files without stats stay kept
    def rawKept(column: String, lo: Double, hi: Double): Set[String] =
      files.filter(f => f.colRanges.flatMap(_.get(column)).forall(r =>
        r.max >= lo && r.min <= hi)).map(_.path).toSet
    def planned(column: String, lo: Double, hi: Double): Set[String] =
      cat.planFiles(meta, None,
        Seq(Partitioning.between(meta.schema, column, lo, hi))).map(_.path).toSet
    val cases = Seq(
      ("l", 0.0, 10.0), ("l", 299.5, 300.5), ("l", 301.0, 302.0),
      ("l", 450.0, 950.0), ("l", 2000.0, 3000.0),
      ("i", 0.0, 0.0), ("i", 199.2, 200.7), ("i", 201.0, 201.0),
      ("i", 350.0, 600.0), ("i", -5.0, -1.0),
      ("d", 9000.0, 9000.0), ("d", 9099.5, 9100.5), ("d", 9150.0, 9260.0),
      ("d", 9399.0, 9999.0))
    cases.foreach { case (c, lo, hi) =>
      assert(planned(c, lo, hi) === rawKept(c, lo, hi), s"$c in [$lo, $hi]")
    }
    // the cases prune: a guard that passed by keeping everything
    // would prove nothing
    assert(cases.count { case (c, lo, hi) => rawKept(c, lo, hi).size < 4 } ===
      cases.size)
    // and why the bounds must be typed: a DOUBLE literal on a LONG column
    // fails the literal conversion, and stats pruning keeps every file
    assert(cat.planFiles(meta, None,
      Seq(sources.GreaterThanOrEqual("l", 2000.0))).size === 4)
  }

  test("SQL point lookup reads the bloom layer: fewer files than stats alone, same rows") {
    val (base, cat) = fresh("plan_sqlbloom")
    // ids scattered by residue: every file's [min, max] spans the domain
    val df = (0L until 800L).map(i => (i, s"v$i")).toDF("id", "payload")
    register(cat, base, "t", df, pmod(col("id"), lit(4)), 4, blooms = Seq("id"))
    val meta = cat.loadTable("p", "t")
    val probe = 399L
    val statsKept = cat.planFiles(meta, None, Seq(sources.And(
      sources.GreaterThanOrEqual("id", probe),
      sources.LessThanOrEqual("id", probe)))).size
    val planned = cat.planFiles(meta, None,
      Seq(sources.EqualTo("id", probe))).size
    assert(statsKept === 4)
    withCatalog(spark, cat) { c =>
      val q = spark.sql(s"SELECT id, payload FROM $c.p.t WHERE id = $probe")
      val rows = q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val expected = cat.readTable(spark, "p", "t").filter(col("id") === probe)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows === expected && rows === Seq((probe, s"v$probe")))
      val scanned = GraftPruningScanBuilder.filesScanned(q)
      assert(scanned < statsKept, s"bloom layer unused: $scanned/$statsKept files")
      assert(scanned === planned)
    }
  }

  test("concurrent SQL scans from two sessions each report their own table's pruning") {
    val (base, cat) = fresh("plan_conc")
    val a = (0L until 600L).map(i => (i, i % 7)).toDF("k", "g")
    register(cat, base, "a", a, (col("k") / 100).cast("int"), 6)
    val b = (0L until 400L).map(i => (i, i % 5)).toDF("k", "g")
    register(cat, base, "b", b, (col("k") / 200).cast("int"), 2)
    // (table, predicate, expected count, files the planner keeps)
    def expect(t: String, lo: Long, hi: Long) = {
      val kept = cat.planFiles(cat.loadTable("p", t), None, Seq(sources.And(
        sources.GreaterThanOrEqual("k", lo), sources.LessThanOrEqual("k", hi)))).size
      (t, lo, hi, hi - lo + 1, kept)
    }
    val work = Seq(expect("a", 100L, 250L), expect("b", 0L, 50L))
    assert(work.map(_._5) === Seq(2, 1))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try withCatalog(spark, cat) { c =>
      val runs = work.map { case (t, lo, hi, n, kept) =>
        Future {
          val s = spark.newSession()
          s.conf.set(s"spark.sql.catalog.$c", classOf[GraftSparkCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$c.warehouse", cat.warehouse)
          s.sparkContext.setLocalProperty("spark.scheduler.pool", t)
          (1 to 4).map { _ =>
            val q = s.sql(s"SELECT count(*) FROM $c.p.$t WHERE k BETWEEN $lo AND $hi")
            (q.collect().head.getLong(0), GraftPruningScanBuilder.filesScanned(q))
          } -> ((n, kept))
        }
      }
      runs.map(Await.result(_, 5.minutes)).foreach { case (seen, (n, kept)) =>
        assert(seen.forall(_ == ((n, kept))), s"expected ($n, $kept), saw $seen")
      }
    } finally pool.shutdown()
  }
}
