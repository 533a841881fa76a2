package graft.catalog

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.etl.Merge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** `GraftCatalog.readTable` is one fold over a table state: pruning by
  * source filters drops whole files, deletes only remove rows, so the
  * pruned read filtered by a predicate equals the full read filtered by
  * the same predicate — on every history kind the fold serves. Plan pins:
  * a debt-free read is one scan per schema version with no join, and D
  * delete snapshots cost at most D+1 scan groups per schema version. */
class TableReadSpec extends SparkSpec {

  private val ns = "r"
  private lazy val base = scratchDir("tableread")
  private lazy val cat = {
    val c = new GraftCatalog(base.resolve("wh").toString)
    c.createNamespace(ns)
    c
  }
  private val seq = new AtomicInteger

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("k", StringType), StructField("v", IntegerType)))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit("k"), (col("id") % 7).cast("string")).as("k"),
      (col("id") % 10).cast("int").as("v"))

  /** Write `df` as one parquet file and return its path. */
  private def put(df: DataFrame): Path = {
    val dir = base.resolve(s"f${seq.incrementAndGet()}")
    df.coalesce(1).write.parquet(dir.toString)
    Fs.list(dir).filter(_.toString.endsWith(".parquet")).head
  }

  private def append(t: String, lo: Long, hi: Long): Path = {
    val f = put(rows(lo, hi))
    cat.registerFiles(ns, t, Seq(f))
    f
  }

  /** The (file_path, pos) tuples of the rows of `file` that `p` selects —
    * a position-delete file's content. */
  private def positions(file: Path, p: org.apache.spark.sql.Column): DataFrame =
    spark.read.parquet(file.toString).filter(p)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))

  /** Each history kind as a table, built once. Every data file covers
    * its own 100-id range, so the stats layer prunes by `id`. */
  private lazy val histories: Seq[String] = Seq[(String, String => Unit)](
    "append" -> { t =>
      append(t, 0, 100); append(t, 100, 200); append(t, 200, 300) },
    "eqdelete" -> { t =>
      append(t, 0, 100); append(t, 100, 200); append(t, 200, 300)
      Merge.deleteWhereMor(spark, cat, ns, t, col("id") % 3 === 0, Seq("id"))
      append(t, 300, 400) },
    "equpsert" -> { t =>
      append(t, 0, 100); append(t, 100, 200)
      Merge.mergeIntoMor(spark, cat, ns, t,
        rows(50, 250).withColumn("v", lit(-1)), Seq("id")) },
    "posdelete" -> { t =>
      append(t, 0, 100); append(t, 100, 200); append(t, 200, 300)
      Merge.deleteWherePos(spark, cat, ns, t, col("id") % 4 === 1)
      append(t, 300, 400) },
    "posupsert" -> { t =>
      val first = append(t, 0, 100); append(t, 100, 200)
      // one commit adds a file AND deletes rows of it and of an older file
      val added = put(rows(200, 300))
      val del = base.resolve(s"d${seq.incrementAndGet()}")
      positions(added, col("id") % 5 === 0)
        .unionByName(positions(first, col("id") < 10))
        .coalesce(1).write.parquet(del.toString)
      cat.commitPositionDeletes(ns, t, Seq(del), Seq(added)) },
    "stacked" -> { t =>
      append(t, 0, 100)
      Merge.deleteWherePos(spark, cat, ns, t, col("id") % 4 === 1)
      Merge.deleteWhereMor(spark, cat, ns, t, col("id") % 3 === 0, Seq("id"))
      append(t, 100, 200)
      Merge.deleteWhereMor(spark, cat, ns, t, col("id") % 5 === 0, Seq("id"))
      Merge.deleteWhereMor(spark, cat, ns, t, col("id") % 7 === 0, Seq("id"))
      Merge.deleteWherePos(spark, cat, ns, t, col("id") % 11 === 0)
      Merge.deleteWherePos(spark, cat, ns, t, col("id") % 13 === 0)
      append(t, 200, 300) },
    "drift" -> { t =>
      append(t, 0, 100); append(t, 100, 200)
      Merge.deleteWhereMor(spark, cat, ns, t, col("k") === "k3", Seq("k"))
      cat.renameColumn(ns, t, "k", "name")
      cat.widenColumn(ns, t, "v", "BIGINT")
      cat.registerFiles(ns, t, Seq(put(rows(200, 300)
        .select(col("id"), col("k").as("name"), col("v").cast("bigint")))))
      Merge.deleteWhereMor(spark, cat, ns, t, col("name") === "k4",
        Seq("name"))
      cat.registerFiles(ns, t, Seq(put(rows(300, 400)
        .select(col("id"), col("k").as("name"), col("v").cast("bigint"))))) },
    "twice" -> { t =>
      val f = append(t, 0, 100)
      append(t, 100, 200)
      Merge.deleteWherePos(spark, cat, ns, t, col("id") % 3 === 0)
      // the same path again, after the delete: its rows all survive
      cat.registerFiles(ns, t, Seq(f)) }
  ).map { case (t, build) =>
    cat.createTable(ns, t, schema)
    build(t)
    t
  }

  private def multiset(rs: Seq[Row]): Map[Seq[Any], Int] =
    rs.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  private val filters: Seq[(String, sources.Filter, Long => Boolean)] = Seq(
    ("point", sources.EqualTo("id", 142L), _ == 142L),
    ("range", sources.And(sources.GreaterThanOrEqual("id", 90L),
      sources.LessThanOrEqual("id", 130L)), id => id >= 90L && id <= 130L),
    ("in", sources.In("id", Array[Any](5L, 150L, 250L, 350L)),
      Set(5L, 150L, 250L, 350L)))

  test("pruned reads equal filtered full reads on every history and snapshot") {
    histories.foreach { t =>
      val meta = cat.loadTable(ns, t)
      val asOfs = None +: meta.snapshots.map(sn => Some(sn.id))
      asOfs.foreach { asOf =>
        val full = cat.readTable(spark, ns, t, asOf = asOf).collect().toSeq
        filters.foreach { case (name, f, p) =>
          val pruned = cat.readTable(spark, ns, t, asOf = asOf,
            filters = Seq(f)).collect().toSeq
          assert(multiset(pruned.filter(r => p(r.getLong(0)))) ===
            multiset(full.filter(r => p(r.getLong(0)))),
            s"$t as of $asOf, $name filter")
        }
      }
    }
    // the comparison is not vacuous: the planner drops files here
    val meta = cat.loadTable(ns, "stacked")
    assert(cat.planFiles(meta, None, Seq(filters.head._2)).size <
      meta.filesAsOf(None).size)
  }

  test("the fold applies each history's deletes in commit order") {
    histories
    def ids(t: String): Seq[Long] =
      cat.readTable(spark, ns, t).select("id").collect().map(_.getLong(0))
        .toSeq.sorted
    // a later file is never hit by an earlier equality delete
    assert(ids("eqdelete") ===
      ((0L until 300L).filterNot(_ % 3 == 0) ++ (300L until 400L)).sorted)
    // an upsert's own rows survive its own tombstones
    val up = cat.readTable(spark, ns, "equpsert")
    assert(up.count() === 250L)
    assert(up.filter(col("v") === -1).count() === 200L)
    // a one-commit position upsert deletes rows of its own new file
    assert(ids("posupsert") === ((10L until 300L).filterNot(id =>
      id >= 200 && id % 5 == 0)))
    // a path registered twice: the delete between the two registrations
    // hits only the first
    assert(ids("twice") === ((0L until 100L).filterNot(_ % 3 == 0) ++
      (100L until 200L).filterNot(_ % 3 == 0) ++ (0L until 100L)).sorted)
    assert(ids("stacked") === (0L until 300L).filter { id =>
      val early = id < 200
      !(id < 100 && (id % 4 == 1 || id % 3 == 0)) &&
        !(early && (id % 5 == 0 || id % 7 == 0 || id % 11 == 0 ||
          id % 13 == 0))
    })
    // keys resolve by field id across the rename; the widened column reads
    val drift = cat.readTable(spark, ns, "drift")
    assert(drift.schema("v").dataType === LongType)
    assert(drift.filter(col("id") < 200 &&
      col("name").isin("k3", "k4")).count() === 0L)
    assert(drift.filter(col("id") < 300 && col("name") === "k4").count() === 0L)
    assert(drift.filter(col("id").between(200, 299) &&
      col("name") === "k3").count() > 0L)
    assert(drift.filter(col("id") >= 300 && col("name") === "k4").count() > 0L)
  }

  /** The plan's data-file scans (delete-file reads excluded) and its
    * anti-joins. */
  private def shape(t: String, asOf: Option[Long] = None): (Int, Int) = {
    val data = cat.loadTable(ns, t).filesAsOf(asOf).map(_.path).toSet
    val plan: LogicalPlan =
      cat.readTable(spark, ns, t, asOf = asOf).queryExecution.analyzed
    val scans = plan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
      .count(_.location.inputFiles.exists(f =>
        data(f.replaceFirst("^file:(//)?", ""))))
    val antis = plan.collect { case j: Join if j.joinType == LeftAnti => j }
    (scans, antis.size)
  }

  test("a debt-free read is one scan per schema version with no join") {
    histories
    assert(shape("append") === ((1, 0)))
    val t = "evolved"
    cat.createTable(ns, t, schema)
    append(t, 0, 100)
    cat.renameColumn(ns, t, "k", "name")
    cat.registerFiles(ns, t,
      Seq(put(rows(100, 200).withColumnRenamed("k", "name"))))
    assert(shape(t) === ((2, 0)))
  }

  test("D delete snapshots cost at most D+1 scan groups per schema version") {
    histories
    Seq("eqdelete", "equpsert", "posdelete", "posupsert", "stacked",
        "drift", "twice").foreach { t =>
      val meta = cat.loadTable(ns, t)
      val state = meta.stateAsOf(None)
      val d = state.count(_.deletes.nonEmpty)
      val versions = state.filter(_.addedFiles.nonEmpty)
        .map(_.schemaVer).distinct.size
      val (scans, antis) = shape(t)
      assert(scans <= (d + 1) * versions, s"$t: $scans scans, $d deletes")
      assert(antis <= d, s"$t: $antis anti-joins, $d deletes")
    }
    // consecutive deletes of one kind and key merge: stacked's six delete
    // snapshots apply as four anti-joins over three scan groups
    assert(shape("stacked") === ((3, 4)))
  }
}
