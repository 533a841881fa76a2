package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** GraftSession must encode the tuned envelope (BASELINE.md). */
class GraftSessionSpec extends SparkSpec {
  test("builder applies the reference envelope and our extensions") {
    // inspect the builder's config without starting a second SparkContext
    val spark = SparkSpec.session // shared session stays untouched
    val b = GraftSession.builder(master = "local[2]", shufflePartitions = 8)
    val m = b.getClass.getMethod("options")
    val opts = m.invoke(b).asInstanceOf[scala.collection.mutable.Map[String, String]]
    assert(opts("spark.sql.shuffle.partitions") === "8")
    assert(opts("spark.sql.autoBroadcastJoinThreshold") === "67108864")
    assert(opts("spark.sql.files.maxPartitionBytes") === "67108864")
    assert(opts("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(opts("spark.sql.session.timeZone") === "UTC")
    assert(opts("spark.sql.extensions") === "graft.functions.GraftExtensions")
    // served sessions share generated code (next test)
    assert(opts("spark.sql.artifact.isolation.enabled") === "false")
    // a dashboard's statement mix stays compiled (below)
    assert(opts("spark.sql.codegen.cache.maxEntries") === "1000")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
  }

  test("a dashboard's statement mix over two sessions compiles nothing in its third round") {
    // bi_serve's charts over the sf tables, served by a graft catalog: a
    // point lookup, a range aggregate, a group-by, a star join, a top-k,
    // a VERSION AS OF read and a .snapshots query, each ORDER BY'd
    val wh = scratchDir("codegen_mix").resolve("wh").toString
    val cat = new graft.catalog.GraftCatalog(wh)
    cat.createNamespace("bi")
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      val file = java.nio.file.Paths.get(sfDir, s"$t.parquet")
      cat.createTable("bi", t, spark.read.parquet(file.toString).schema)
      cat.registerFiles("bi", t, Seq(file))
    }
    val first = cat.loadTable("bi", "lineitem").currentSnapshotId
    cat.registerFiles("bi", "lineitem", Seq(java.nio.file.Paths.get(sfDir, "lineitem.parquet")))
    def mix(c: String) = Seq(
      s"SELECT l_orderkey, l_linenumber, l_quantity FROM $c.bi.lineitem " +
        "WHERE l_orderkey = 7 ORDER BY l_linenumber",
      s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q " +
        s"FROM $c.bi.lineitem WHERE l_shipdate BETWEEN TIMESTAMP'1995-01-01 00:00:00' " +
        "AND TIMESTAMP'1995-03-01 00:00:00' GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus",
      s"SELECT o_orderpriority, o_orderstatus, count(*) AS n FROM $c.bi.orders " +
        "GROUP BY o_orderpriority, o_orderstatus ORDER BY o_orderpriority, o_orderstatus",
      s"SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n " +
        s"FROM $c.bi.lineitem JOIN $c.bi.orders ON l_orderkey = o_orderkey " +
        s"JOIN $c.bi.customer ON o_custkey = c_custkey " +
        s"JOIN $c.bi.nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
      s"SELECT c_custkey, c_name, c_acctbal FROM $c.bi.customer " +
        "WHERE c_mktsegment = 'BUILDING' ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
      s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $c.bi.lineitem VERSION AS OF $first",
      s"SELECT snapshot_id, added_rows FROM $c.bi.lineitem.snapshots ORDER BY snapshot_id")
    val sessions = Seq(SparkSpec.session.newSession(), SparkSpec.session.newSession())
    def round(): Seq[Int] = sessions.flatMap(s =>
      GraftSession.withCatalog(s, wh)(c => mix(c).map(q => s.sql(q).collect().length)))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val sizes = round()
    assert(round() === sizes)
    val before = compiles.getCount
    assert(round() === sizes)
    assert(compiles.getCount === before,
      s"round three compiled ${compiles.getCount - before} bodies")
  }

  test("sessions of one context share generated code, not session state") {
    // each Thrift connection is a newSession() of the serving session
    val base = SparkSpec.session
    def agg(s: SparkSession): Map[Long, Long] =
      s.range(0, 20000, 1, 4).selectExpr("id % 13 AS k", "id AS v")
        .groupBy("k").sum("v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = (base.newSession(), base.newSession())
    val expected = agg(a)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(agg(b) === expected)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled,
      "the second session recompiled code the first one compiled")
    a.range(3).createOrReplaceTempView("only_in_a")
    assert(a.catalog.tableExists("only_in_a"))
    assert(!b.catalog.tableExists("only_in_a"))
  }

  test("scoped confs put back the caller's values, not Spark's defaults") {
    val s = SparkSpec.session.newSession()
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.sources.v2.bucketing.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "12345")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def current = keys.map(k => k -> s.conf.getOption(k))
    val before = current
    GraftSession.withConfs(s, "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") === "-1")
    }
    assert(current === before)
    // the declared queries that scope confs around a plan probe
    graft.queries.Meta.queries("meta_spj")(s, sfDir).collect()
    assert(current === before, "meta_spj changed the caller's confs")
    graft.queries.Etl.queries("etl_bucket_join")(s, sfDir).collect()
    assert(current === before, "etl_bucket_join changed the caller's confs")
  }

  test("withCatalog registers for its body only, named by warehouse and options") {
    val s = SparkSpec.session.newSession()
    val wh = graft.queries.Fixtures.scratch(s, "withcatalog_spec").resolve("wh")
    new graft.catalog.GraftCatalog(wh.toString).createTable("ns", "t", s.range(1).schema)
    def catalogKeys = s.conf.getAll.keySet.filter(_.startsWith("spark.sql.catalog."))
    val before = catalogKeys
    val a = GraftSession.withCatalog(s, wh.toString) { c =>
      assert(s.sql(s"SELECT count(*) FROM $c.ns.t").head().getLong(0) === 0L)
      c
    }
    assert(catalogKeys === before)
    val again = GraftSession.withCatalog(s, wh.toString)(identity)
    val mor = GraftSession.withCatalog(s, wh.toString,
      "rowlevel.mode" -> "merge-on-read")(identity)
    assert(catalogKeys === before)
    assert(again === a, "same warehouse and options must reuse the name")
    assert(mor !== a, "different options must get a fresh name")
    graft.catalog.Fs.deleteRecursively(wh.getParent)
  }
}
