package graft.catalog

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Iceberg-style BRANCHES: mutable named refs with private delta logs —
  * create, commit, isolated reads, VERSION AS OF resolution, fast-forward
  * (refused on divergence), drop with orphan cleanup, and the expiration
  * guard on live fork points. */
class BranchSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): (GraftCatalog, java.nio.file.Path) = {
    val base = scratchDir("branch")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("nyc", "t", df.schema)
    val d1 = base.resolve("d1")
    df.coalesce(1).write.parquet(d1.toString)
    cat.registerFiles("nyc", "t", Seq(d1)) // main snapshot 1: 3 rows
    (cat, base)
  }

  private def land(cat: GraftCatalog, base: java.nio.file.Path, name: String,
                   n: Long): java.nio.file.Path = {
    // inside the warehouse → orphan cleanup owns these files
    val d = Paths.get(cat.warehouse, "nyc", "t", "data", name)
    spark.range(n).toDF("id").selectExpr("id", "cast(id as string) AS v")
      .coalesce(1).write.parquet(d.toString)
    d
  }

  test("branch commits are isolated from main and readable by ref") {
    val (cat, base) = setup()
    cat.createBranch("nyc", "t", "audit")
    cat.registerFilesToBranch("nyc", "t", "audit", Seq(land(cat, base, "b1", 4)))
    cat.registerFilesToBranch("nyc", "t", "audit", Seq(land(cat, base, "b2", 5)))
    // main untouched; branch = fork (3) + 4 + 5
    assert(cat.readTable(spark, "nyc", "t").count() === 3)
    assert(cat.readBranch(spark, "nyc", "t", "audit").count() === 12)
    // branch head resolves as a ref (the VERSION AS OF surface)
    val head = cat.resolveRef("nyc", "t", "audit")
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(head)).count() === 12)
    // an overwrite ON THE BRANCH replaces the branch state only
    cat.registerFilesToBranch("nyc", "t", "audit", Seq(land(cat, base, "b3", 2)),
      operation = "overwrite")
    assert(cat.readBranch(spark, "nyc", "t", "audit").count() === 2)
    assert(cat.readTable(spark, "nyc", "t").count() === 3)
  }

  test("fast-forward grafts the branch; refuses after divergence") {
    val (cat, base) = setup()
    cat.createBranch("nyc", "t", "land")
    cat.registerFilesToBranch("nyc", "t", "land", Seq(land(cat, base, "l1", 4)))
    cat.fastForward("nyc", "t", "land")
    assert(cat.readTable(spark, "nyc", "t").count() === 7) // 3 + 4
    assert(cat.loadTable("nyc", "t").branchMap.isEmpty)
    // audit references into the grafted history still resolve
    val ids = cat.snapshots("nyc", "t").map(_.id)
    assert(ids === ids.sorted)
    // divergence: main advances after the fork → refuse
    cat.createBranch("nyc", "t", "late")
    cat.registerFilesToBranch("nyc", "t", "late", Seq(land(cat, base, "l2", 1)))
    cat.registerFiles("nyc", "t", Seq(land(cat, base, "m1", 2))) // main moves
    intercept[IllegalArgumentException] { cat.fastForward("nyc", "t", "late") }
  }

  test("dropBranch deletes warehouse-owned orphans; guards hold") {
    val (cat, base) = setup()
    cat.createBranch("nyc", "t", "tmp")
    val d = land(cat, base, "t1", 6)
    cat.registerFilesToBranch("nyc", "t", "tmp", Seq(d))
    val file = cat.loadTable("nyc", "t").branchOf("tmp")
      .snapshots.head.addedFiles.head.path
    cat.dropBranch("nyc", "t", "tmp")
    assert(!Files.exists(Paths.get(file)), "branch-only file must be cleaned")
    assert(cat.readTable(spark, "nyc", "t").count() === 3)
    // guards: duplicate names, tag/branch clash, numeric / 'main' names
    cat.createBranch("nyc", "t", "b")
    intercept[IllegalArgumentException] { cat.createBranch("nyc", "t", "b") }
    intercept[IllegalArgumentException] { cat.createTag("nyc", "t", "b", 1L) }
    cat.createTag("nyc", "t", "v1", 1L)
    intercept[IllegalArgumentException] { cat.createBranch("nyc", "t", "v1") }
    intercept[IllegalArgumentException] { cat.createBranch("nyc", "t", "main") }
    intercept[IllegalArgumentException] { cat.createBranch("nyc", "t", "42") }
    // expiration refuses while a branch forks from the doomed prefix
    cat.registerFiles("nyc", "t", Seq(land(cat, base, "m2", 1)))
    graft.etl.Maintenance.optimize(spark, cat, "nyc", "t")
    cat.dropTag("nyc", "t", "v1")
    intercept[IllegalArgumentException] {
      cat.expireSnapshots("nyc", "t", keepLast = 1)
    }
    cat.dropBranch("nyc", "t", "b")
    assert(cat.expireSnapshots("nyc", "t", keepLast = 1).expiredSnapshots > 0)
  }

  test("branch forked from the empty table reads empty even after main advances") {
    val base = scratchDir("branch0")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("nyc", "t0", df.schema)
    cat.createBranch("nyc", "t0", "dev") // fork = 0: the empty table
    val d = base.resolve("d")
    df.coalesce(1).write.parquet(d.toString)
    cat.registerFiles("nyc", "t0", Seq(d)) // main advances past the fork
    val br = cat.readBranch(spark, "nyc", "t0", "dev")
    // isolation: the branch's state is the empty fork, NOT main's new rows
    assert(br.count() === 0)
    assert(br.schema.fieldNames.toSeq === Seq("id", "v"))
    // a branch commit then reads back without the fork rows
    cat.registerFilesToBranch("nyc", "t0", "dev", Seq(d))
    assert(cat.readBranch(spark, "nyc", "t0", "dev").count() === 1)
    assert(cat.readTable(spark, "nyc", "t0").count() === 1)
  }

  test("branchOf error names the table, not the branch, as the table") {
    val (cat, _) = setup()
    val e = intercept[IllegalArgumentException] {
      cat.readBranch(spark, "nyc", "t", "ghost")
    }
    assert(e.getMessage.contains("nyc.t has no branch 'ghost'"), e.getMessage)
  }

  test("expireSnapshots keeps files still referenced by a live branch") {
    val (cat, base) = setup() // main snap 1: 3 rows (files outside warehouse)
    val shared = land(cat, base, "shared", 4) // warehouse-owned
    cat.registerFiles("nyc", "t", Seq(shared)) // main snap 2: + shared
    cat.registerFiles("nyc", "t", Seq(land(cat, base, "ow", 6)),
      operation = "overwrite") // main snap 3: shared leaves main's state
    cat.createBranch("nyc", "t", "keep") // forks at snap 3 (retained)
    cat.registerFilesToBranch("nyc", "t", "keep", Seq(shared))
    val sharedPaths = cat.loadTable("nyc", "t").branchOf("keep")
      .snapshots.head.addedFiles.map(_.path)
    cat.expireSnapshots("nyc", "t", keepLast = 1)
    // shared sat in the expired main prefix, but the live branch still
    // references it — expire must not physically delete it
    assert(sharedPaths.forall(p => Files.exists(Paths.get(p))),
      "branch-referenced file was deleted by expire")
    assert(cat.readBranch(spark, "nyc", "t", "keep").count() === 10) // 6 + 4
  }

  test("meta_branch declared query: all invariants hold") {
    val rows = graft.queries.Meta.queries("meta_branch")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("main_isolated_during_landing",
      "branch_view", "fast_forwarded", "history_linear_monotonic",
      "diverged_ff_refused").sorted) // query emits phase-sorted
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("branch snapshots appear in the refs metadata table") {
    val (cat, _) = setup()
    cat.createBranch("nyc", "t", "audit")
    val cname = "gbr" + System.nanoTime()
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    val refs = spark.sql(s"SELECT * FROM $cname.nyc.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("audit", "BRANCH", 1L), ("main", "BRANCH", 1L)))
  }
}
