package graft.catalog

import java.nio.file.Paths

import graft.SparkSpec

/** Spark 4 `CALL` statements against the catalog's system procedures —
  * the Iceberg maintenance-procedure UX (`CALL cat.system.expire_snapshots
  * (...)`) served natively. */
class ProcedureSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): (String, GraftCatalog, java.nio.file.Path) = {
    val base = scratchDir("proc")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("nyc", "t", df.schema)
    val d = Paths.get(cat.warehouse, "nyc", "t", "data", "d1")
    df.coalesce(1).write.parquet(d.toString)
    cat.registerFiles("nyc", "t", Seq(d))
    val cname = "gproc" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    (cname, cat, base)
  }

  test("CALL branch lifecycle: create, fast_forward; tags create/drop") {
    val (c, cat, _) = setup()
    val created = spark.sql(s"CALL $c.system.create_branch('nyc.t', 'land')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(created === Seq(("land", 1L)))
    val d2 = Paths.get(cat.warehouse, "nyc", "t", "data", "d2")
    spark.range(4).toDF("id").selectExpr("id", "'x' AS v")
      .coalesce(1).write.parquet(d2.toString)
    cat.registerFilesToBranch("nyc", "t", "land", Seq(d2))
    val head = spark.sql(s"CALL $c.system.fast_forward('nyc.t', 'land')")
      .collect().head.getLong(0)
    assert(head === 2L)
    assert(cat.readTable(spark, "nyc", "t").count() === 7)
    assert(spark.sql(s"CALL $c.system.create_tag('nyc.t', 'v1', 1)")
      .collect().head.getLong(1) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 'v1'")
      .as[Long].head() === 3)
    spark.sql(s"CALL $c.system.drop_tag('nyc.t', 'v1')").collect()
    assert(cat.loadTable("nyc", "t").tagMap.isEmpty)
  }

  test("CALL rewrite_data_files compacts; expire_snapshots trims history") {
    val (c, cat, _) = setup()
    // three more appends → 4 files
    (2 to 4).foreach { i =>
      val d = Paths.get(cat.warehouse, "nyc", "t", "data", s"d$i")
      spark.range(2).toDF("id").selectExpr("id", "'y' AS v")
        .coalesce(1).write.parquet(d.toString)
      cat.registerFiles("nyc", "t", Seq(d))
    }
    val rw = spark.sql(s"CALL $c.system.rewrite_data_files('nyc.t')")
      .collect().map(r => (r.getInt(0), r.getInt(1))).head
    assert(rw._1 === 4 && rw._2 === 1) // 4 small files → 1
    val before = cat.snapshots("nyc", "t").size
    val ex = spark.sql(s"CALL $c.system.expire_snapshots('nyc.t', 1)")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).head
    assert(ex._1 === before - 1 && ex._3 === 1)
    assert(cat.readTable(spark, "nyc", "t").count() === 9) // 3 + 3×2
  }

  test("CALL changelog_stats reports view footprint, before and after a prune") {
    val (c, cat, _) = setup()
    // no view yet: an all-zero report, not an error
    val zero = spark.sql(s"CALL $c.system.changelog_stats('nyc.t')")
      .collect().head
    assert((0 until 6).forall(i => zero.get(i).toString == "0"))
    // two more commits, materialize the changelog view
    (2 to 3).foreach { i =>
      val d = Paths.get(cat.warehouse, "nyc", "t", "data", s"d$i")
      spark.range(2).toDF("id").selectExpr("id", "'y' AS v")
        .coalesce(1).write.parquet(d.toString)
      cat.registerFiles("nyc", "t", Seq(d))
    }
    cat.syncChangelogView(spark, "nyc", "t")
    val pre = spark.sql(s"CALL $c.system.changelog_stats('nyc.t')")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(pre._1 === 3 && pre._2 === 0 && pre._3 > 0L && pre._4 > 0L)
    assert(pre._5 === 0L && pre._6 === 3L)
    // retention prunes snapshots 1-2's view content; the report shows it
    spark.sql(s"CALL $c.system.expire_snapshots('nyc.t', 1)").collect()
    val post = spark.sql(s"CALL $c.system.changelog_stats('nyc.t')")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(post._1 === 3 && post._2 === 2, "2 of 3 dirs content-pruned")
    assert(post._5 === 2L && post._6 === 3L)
    assert(post._4 < pre._4 && post._4 > 0L, "bytes reclaimed, head kept")
  }

  test("meta_procedures declared query: all invariants hold") {
    val rows = graft.queries.Meta.queries("meta_procedures")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("branch_create_ff", "tag_read",
      "rollback", "rewrite", "expire").sorted) // query emits phase-sorted
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("CALL search_text tokenizes under the ONE corpus convention — adversarial queries match the Scala entry") {
    import org.apache.spark.sql.functions.{asc, desc}
    import graft.queries.Extensions
    val base = scratchDir("proctok")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val docs = Seq(
      (1L, "spark shuffles data wins"),
      (2L, "rger 42 data spark"),
      (3L, "data data 007 bond"),
      (4L, "x9 spark42data tail")).toDF("doc_id", "text")
    graft.operators.TextIndex.buildIndex(spark, cat, "txt", "d", docs,
      Extensions.tokensExpr)
    val cname = "gtok" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    // beyond the fixture terms: punctuation runs, case, digits-in-words,
    // unicode (ÄRGER lowercases then splits on the non-[a-z0-9] ä —
    // whatever the convention yields, BOTH sides must yield it),
    // duplicate terms
    val adversarial = Seq(
      "Spark!!! SHUFFLES??? spark",
      "ÄRGER 42",
      "007 spark42data",
      "data—DATA…data",
      "x9   wins\t\nbond")
    for (q <- adversarial) {
      val viaCall = spark.sql(
          s"CALL $cname.system.search_text('txt.d', '$q', 10)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      val terms = Extensions.tokenizeQuery(spark, q)
      assert(terms.nonEmpty, s"fixture query tokenized to nothing: $q")
      val viaScala = graft.operators.TextIndex
        .bm25Candidates(spark, cat, "txt", "d", terms)
        .select(Extensions.bm25RankCols(terms.length): _*)
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(viaCall === viaScala,
        s"CALL search_text diverged from the Scala entry on: $q")
      assert(viaCall.nonEmpty, s"adversarial query matched nothing: $q")
    }
    // empty-after-strip refuses loudly instead of probing a vacuous union
    intercept[Exception] {
      spark.sql(s"CALL $cname.system.search_text('txt.d', '!!! ???', 10)")
        .collect()
    }
    spark.conf.unset(s"spark.sql.catalog.$cname")
    spark.conf.unset(s"spark.sql.catalog.$cname.warehouse")
  }

  test("CALL rollback_to_snapshot restores state; unknown procedure errors") {
    val (c, cat, _) = setup()
    val d2 = Paths.get(cat.warehouse, "nyc", "t", "data", "r2")
    spark.range(5).toDF("id").selectExpr("id", "'z' AS v")
      .coalesce(1).write.parquet(d2.toString)
    cat.registerFiles("nyc", "t", Seq(d2))
    assert(cat.readTable(spark, "nyc", "t").count() === 8)
    val rb = spark.sql(s"CALL $c.system.rollback_to_snapshot('nyc.t', 1)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(rb === ((2L, 3L))) // head was 2; rollback commits snapshot 3
    assert(cat.readTable(spark, "nyc", "t").count() === 3)
    intercept[Exception] {
      spark.sql(s"CALL $c.system.frobnicate('nyc.t')").collect()
    }
  }
}
