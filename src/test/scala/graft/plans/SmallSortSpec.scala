package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.catalog.GraftCatalog

/** [[SmallSortSinglePartition]]: a global sort over a small input runs in
  * one partition, with no range exchange and no sampling job, and returns
  * the same rows in the same order; large inputs, other range exchanges,
  * growing operators and sessions without AQE keep the exchange. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  // with AQE's coalescing off the rule never applies
  private val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"

  /** A SQL-served table of `n` rows over 3 files, `a` and `b` nullable and
    * repeating, `id` unique — so (a, b, id) orders every row. */
  private lazy val (wh, table) = {
    val base = scratchDir("smallsort")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 7 == 0) None else Some(i % 5), if (i % 11 == 0) None else Some(s"b${i % 3}"))
    }.toDF("id", "a", "b")
    val dirs = (0 until 3).map { f =>
      val dir = base.resolve(s"part-$f")
      rows.filter(col("id") % 3 === f).coalesce(1).write.parquet(dir.toString)
      dir
    }
    cat.createTable("ns", "t", rows.schema)
    cat.registerFiles("ns", "t", dirs.take(2))
    cat.registerFiles("ns", "t", dirs.drop(2))
    (cat.warehouse, "ns.t")
  }

  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
    }

  private def coalesced(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c }.nonEmpty

  /** `df`'s rows and the Spark jobs collecting them ran, counted by a
    * listener on a job group of its own. */
  private def rowsAndJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val group = s"smallsort-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[T](g: String)(body: => T): T = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      val rows = inGroup(group)(df.collect().toSeq)
      // listener events arrive in order: once the marker job is seen,
      // every job of the group has been counted
      inGroup(group + "-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-end") && System.nanoTime() < deadline) Thread.sleep(5)
      (rows, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def smallAggregate =
    spark.range(0, 20000, 1, 4).selectExpr("id % 13 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("s")).orderBy("k")

  test("ORDER BY over a small aggregate: no range exchange, 2 jobs") {
    val df = smallAggregate
    val (rows, jobs) = rowsAndJobs(df)
    assert(rows.map(_.getLong(0)) === (0L until 13L))
    assert(rangeExchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(coalesced(df))
    assert(jobs === 2, "the aggregate's shuffle-map job and the result job")
  }

  test("ORDER BY over a small filtered scan: no range exchange, 1 job") {
    GraftSession.withCatalog(spark, wh) { c =>
      val df = spark.sql(s"SELECT id, a FROM $c.$table WHERE a = 2 ORDER BY id DESC")
      val (rows, jobs) = rowsAndJobs(df)
      assert(rows.map(_.getLong(0)) ===
        (0L until 300L).filter(i => i % 7 != 0 && i % 5 == 2).reverse)
      assert(rangeExchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(jobs === 1)
    }
  }

  test("an input above minPartitionSize keeps the range exchange") {
    GraftSession.withConfs(spark, minSize -> "1") {
      val df = smallAggregate
      val (_, jobs) = rowsAndJobs(df)
      assert(rangeExchanges(df).map(_.shuffleOrigin) === Seq(ENSURE_REQUIREMENTS))
      assert(!coalesced(df))
      assert(jobs === 4, "shuffle-map, range sampling, range shuffle-map, result")
    }
    GraftSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = smallAggregate
      df.collect()
      assert(rangeExchanges(df).size === 1, "no AQE, no rewrite")
    }
  }

  test("repartitionByRange and a Generate child keep their range exchange") {
    val small = (0 until 50).map(i => (i % 7, i)).toDF("k", "v")
    val byRange = small.repartitionByRange(3, col("k")).orderBy("k", "v")
    assert(byRange.collect().map(_.getInt(1)).toSeq ===
      (0 until 50).sortBy(i => (i % 7, i)))
    assert(rangeExchanges(byRange).map(_.shuffleOrigin).forall(_ != ENSURE_REQUIREMENTS))
    assert(rangeExchanges(byRange).nonEmpty && !coalesced(byRange))
    val exploded = small.select(col("k"), explode(array(col("v"), col("v") + 100)).as("x"))
      .orderBy("x")
    assert(exploded.collect().map(_.getInt(1)).toSeq ===
      ((0 until 50) ++ (100 until 150)))
    assert(rangeExchanges(exploded).map(_.shuffleOrigin) === Seq(ENSURE_REQUIREMENTS))
  }

  test("rows and order match with the rule on and off") {
    GraftSession.withCatalog(spark, wh) { c =>
      val t = s"$c.$table"
      val queries = Seq(
        s"SELECT id, a, b FROM $t ORDER BY a ASC NULLS FIRST, id",
        s"SELECT id, a, b FROM $t ORDER BY a DESC NULLS LAST, id DESC",
        s"SELECT id, a, b FROM $t ORDER BY b ASC NULLS LAST, a DESC NULLS FIRST, id",
        s"SELECT id, a, b FROM $t ORDER BY b DESC NULLS FIRST, id ASC",
        s"SELECT a, b, count(*) AS n, max(id) AS m FROM $t GROUP BY a, b " +
          "ORDER BY a DESC NULLS FIRST, b ASC NULLS LAST",
        s"SELECT a, b, count(*) AS n FROM $t GROUP BY a, b ORDER BY n DESC, a NULLS LAST, b",
        s"SELECT id, a FROM $t WHERE id < 0 ORDER BY a",
        s"SELECT a, count(*) AS n FROM $t WHERE id < 0 GROUP BY a ORDER BY a")
      queries.foreach { q =>
        val on = spark.sql(q)
        val onRows = on.collect().toSeq
        assert(rangeExchanges(on).isEmpty, s"rule did not fire: $q")
        val offRows = GraftSession.withConfs(spark, coalescing -> "false") {
          val off = spark.sql(q)
          val rows = off.collect().toSeq
          assert(!coalesced(off), s"rule fired with coalescing off: $q")
          rows
        }
        assert(onRows === offRows, q)
      }
      assert(spark.sql(queries.head).count() === 300L)
    }
  }

  test("a .snapshots ORDER BY query runs one job") {
    GraftSession.withCatalog(spark, wh) { c =>
      val df = spark.sql(s"SELECT snapshot_id, added_rows FROM $c.$table.snapshots " +
        "ORDER BY snapshot_id DESC")
      // the metadata table's scan reports its size and row count
      val stats = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats
      }.get
      assert(stats.rowCount === Some(BigInt(2)))
      assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1024)
      val (rows, jobs) = rowsAndJobs(df)
      assert(rows.map(_.getLong(0)) === rows.map(_.getLong(0)).sorted.reverse)
      assert(rows.map(_.getLong(1)).sorted === Seq(100L, 200L))
      assert(jobs === 1)
    }
  }
}
