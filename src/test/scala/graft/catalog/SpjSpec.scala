package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Storage-partitioned joins: two catalog tables co-partitioned on the
  * join key (bucket[N] or identity transform) join with ZERO shuffle
  * exchanges once the session opts into v2 bucketing — the scan reports
  * KeyGroupedPartitioning, partitions expose their keys, and the catalog's
  * `bucket` function proves both sides co-clustered (Iceberg's SPJ
  * mechanism, SPARK-37375). */
class SpjSpec extends SparkSpec {
  import spark.implicits._

  private def setup(spec: Seq[(String, String)]): (String, GraftCatalog) = {
    val base = scratchDir("spj")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val facts = (1L to 400L).map(i => (i % 40, s"f$i", i * 1.5))
      .toDF("k", "tag", "v")
    val dims = (0L until 40L).map(i => (i, s"dim$i")).toDF("k", "name")
    cat.createTable("nyc", "facts", facts.schema, spec)
    cat.createTable("nyc", "dims", dims.schema, spec)
    cat.writePartitioned(spark, "nyc", "facts", facts)
    cat.writePartitioned(spark, "nyc", "dims", dims)
    val cname = "spj" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    (cname, cat)
  }

  private def joinShuffles(c: String): (Long, Int) = {
    val joined = spark.sql(
      s"""SELECT f.k, count(*) AS n, max(d.name) AS name
         |FROM $c.nyc.facts f JOIN $c.nyc.dims d ON f.k = d.k
         |GROUP BY f.k""".stripMargin)
    val n = joined.count()
    val shuffles = joined.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeLike => e }.size
    (n, shuffles)
  }

  private def withSpj[T](body: => T): T = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // no broadcast: the point is the SHUFFLE join shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucket-partitioned tables join shuffle-free under SPJ") {
    val (c, _) = setup(Seq(("bucket[8]", "k")))
    // control: without the opt-in, the same join shuffles both sides
    val (n0, s0) = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try joinShuffles(c) finally {
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    assert(n0 === 40L)
    assert(s0 >= 2, s"expected shuffled control plan, got $s0 exchanges")
    val (n1, s1) = withSpj { joinShuffles(c) }
    assert(n1 === 40L)
    assert(s1 === 0, s"expected shuffle-free SPJ plan, got $s1 exchanges")
    // result parity between the two shapes
    val rows = withSpj {
      spark.sql(s"""SELECT f.k, f.v, d.name FROM $c.nyc.facts f
                   |JOIN $c.nyc.dims d ON f.k = d.k""".stripMargin)
        .orderBy("k", "v").collect().toSeq
    }
    val control = spark.sql(s"""SELECT f.k, f.v, d.name FROM $c.nyc.facts f
                               |JOIN $c.nyc.dims d ON f.k = d.k""".stripMargin)
      .orderBy("k", "v").collect().toSeq
    assert(rows === control)
  }

  test("identity-partitioned tables join shuffle-free under SPJ") {
    val (c, _) = setup(Seq(("identity", "k")))
    val (n, s) = withSpj { joinShuffles(c) }
    assert(n === 40L)
    assert(s === 0, s"expected shuffle-free SPJ plan, got $s exchanges")
  }

  test("meta_spj declared query: all invariants hold") {
    val rows = graft.queries.Meta.queries("meta_spj")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("spj_join_shuffle_free",
      "control_join_shuffles", "results_identical").sorted) // phase-sorted
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("SPJ reporting stays off for multi-spec or unpartitioned tables") {
    val (c, cat) = setup(Seq(("bucket[8]", "k")))
    // evolve facts to a different spec and land one more file under it:
    // mixed eras → the scan must NOT report key-grouped clustering
    cat.evolvePartitionSpec("nyc", "facts", Seq(("bucket[4]", "k")))
    cat.writePartitioned(spark, "nyc", "facts",
      Seq((7L, "x", 1.0)).toDF("k", "tag", "v")) // lands under bucket[4]
    val (n, s) = withSpj { joinShuffles(c) }
    assert(n === 40L) // k=7 joins into an existing group
    assert(s >= 2, s"mixed-spec scan must fall back to shuffles, got $s")
    // and the result is still exactly right: the extra row is served
    val k7 = withSpj {
      spark.sql(s"""SELECT count(*) AS n FROM $c.nyc.facts f
                   |JOIN $c.nyc.dims d ON f.k = d.k WHERE f.k = 7""".stripMargin)
        .as[Long].head()
    }
    assert(k7 === 11L) // 10 original rows with k=7 + the new one
  }
}
