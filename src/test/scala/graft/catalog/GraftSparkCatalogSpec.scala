package graft.catalog

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The DSv2 catalog plugin: SQL resolution, time travel, DDL, and the
  * merge-on-read safety refusal. */
class GraftSparkCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def setup(): (String, GraftCatalog) = {
    val base = scratchDir("sparkcat")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
      .coalesce(1).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    val cname = "gc" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    (cname, cat)
  }

  test("SQL resolves tables and VERSION AS OF through the plugin") {
    val (c, cat) = setup()
    assert(spark.sql(s"SELECT sum(score) FROM $c.nyc.t").as[Double].head() === 60.0)
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 6)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3)
    assert(spark.sql(s"SHOW TABLES IN $c.nyc").count() === 1)
    assert(spark.sql(s"SHOW NAMESPACES IN $c").count() >= 1)
  }

  test("CREATE and DROP TABLE work; ALTER evolves the schema") {
    val (c, cat) = setup()
    spark.sql(s"CREATE TABLE $c.nyc.fresh (k BIGINT, v STRING) USING parquet")
    assert(cat.tableExists("nyc", "fresh"))
    assert(spark.sql(s"SELECT * FROM $c.nyc.fresh").count() === 0)
    // schema evolution via SQL (full coverage in SchemaEvolutionSpec)
    spark.sql(s"ALTER TABLE $c.nyc.fresh ADD COLUMN extra INT")
    assert(spark.sql(s"SELECT * FROM $c.nyc.fresh").schema.fieldNames.toSeq ===
      Seq("k", "v", "extra"))
    // non-evolution changes (e.g. table properties) are still refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.nyc.fresh SET TBLPROPERTIES ('a'='b')")
    }
    spark.sql(s"DROP TABLE $c.nyc.fresh")
    assert(!cat.tableExists("nyc", "fresh"))
  }

  test("TIMESTAMP AS OF resolves the snapshot current at that instant") {
    val (c, cat) = setup()
    Thread.sleep(20) // ensure distinct commit wall-clocks
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    val snaps = cat.snapshots("nyc", "t")
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    // at snapshot 1's commit instant: 3 rows; at snapshot 2's: 6
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t TIMESTAMP AS OF '${iso(snaps.head.timestampMs)}'")
      .as[Long].head() === 3)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t TIMESTAMP AS OF '${iso(snaps.last.timestampMs)}'")
      .as[Long].head() === 6)
    // before the first commit: nothing existed — error, like Iceberg
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $c.nyc.t TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
  }

  test("tags: named refs resolve in VERSION AS OF and block expiration") {
    val (c, cat) = setup()
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    cat.createTag("nyc", "t", "v1-import", 1L)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 'v1-import'")
      .as[Long].head() === 3)
    // numeric refs stay snapshot ids; unknown tags error; numeric tag names refused
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 2")
      .as[Long].head() === 6)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $c.nyc.t VERSION AS OF 'nope'").collect()
    }
    intercept[IllegalArgumentException] { cat.createTag("nyc", "t", "7", 1L) }
    // a tagged snapshot cannot be expired; after dropTag it can
    intercept[IllegalArgumentException] {
      cat.expireSnapshots("nyc", "t", keepLast = 1)
    }
    cat.dropTag("nyc", "t", "v1-import")
    graft.etl.Maintenance.optimize(spark, cat, "nyc", "t")
    assert(cat.expireSnapshots("nyc", "t", keepLast = 1).expiredSnapshots === 2)
  }

  test("SQL metadata tables: snapshots, files, history resolve as cat.ns.t.<kind>") {
    val (c, cat) = setup()
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    val snaps = spark.sql(s"SELECT * FROM $c.nyc.t.snapshots ORDER BY snapshot_id")
    assert(snaps.schema.fieldNames.toSeq === Seq("snapshot_id", "committed_at",
      "operation", "added_data_files", "added_rows", "schema_version",
      "is_staged"))
    assert(snaps.select("operation").as[String].collect().toSeq ===
      Seq("append", "append"))
    val files = spark.sql(s"SELECT * FROM $c.nyc.t.files")
    assert(files.count() === 2)
    assert(spark.sql(s"SELECT sum(row_count) FROM $c.nyc.t.files")
      .as[Long].head() === 6)
    // history marks live ancestors; an overwrite orphans earlier snapshots
    spark.sql(s"INSERT OVERWRITE $c.nyc.t VALUES (9, 'z', 90.0)")
    val hist = spark.sql(
      s"SELECT is_current_ancestor FROM $c.nyc.t.history ORDER BY snapshot_id")
      .as[Boolean].collect().toSeq
    assert(hist === Seq(false, false, true))
    // a metadata table never shadows a real table; unknown kinds still fail
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $c.nyc.t.manifesto").collect()
    }
  }

  test("metadata-only COUNT(*): answered from footer counts, no file scan") {
    val (c, cat) = setup()
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    val q = spark.sql(s"SELECT count(*) FROM $c.nyc.t")
    // Spark plans the pushed count as a driver-side LocalTableScan over the
    // pre-counted row — NO parquet scan node anywhere in the plan
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("LocalTableScan [count_0") &&
      !planStr.toLowerCase.contains("parquet"),
      s"expected metadata count scan in plan:\n$planStr")
    assert(q.as[Long].head() === 6L)
    // multiple count(*) columns in one aggregate
    assert(spark.sql(s"SELECT count(*), count(*) FROM $c.nyc.t")
      .collect().head.toSeq === Seq(6L, 6L))
    // a FILTER disables it (pruning keeps a superset) — and stays correct
    val filtered = spark.sql(s"SELECT count(*) FROM $c.nyc.t WHERE id > 1")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("metadata-only count(*)"))
    assert(filtered.as[Long].head() === 4L)
    // COUNT(col) is metadata-served too since round 11 (value/null
    // counts in the manifest); grouped aggregates take the normal path
    assert(spark.sql(s"SELECT count(id) FROM $c.nyc.t").as[Long].head() === 6L)
    assert(spark.sql(s"SELECT name, count(*) FROM $c.nyc.t GROUP BY name")
      .count() === 3L)
    // time travel counts the as-of state
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3L)
  }

  test("metadata-only COUNT(col)/null counts; DISTINCT and legacy manifests decline") {
    val (c, cat) = setup()
    // a table whose string column carries real nulls across TWO files
    val d1 = Seq((1L, Option("a")), (2L, Option.empty[String])).toDF("id", "name")
    val d2 = Seq((3L, Option("c")), (4L, Option.empty[String]),
      (5L, Option("e"))).toDF("id", "name")
    cat.createTable("nyc", "nc", d1.schema)
    for ((df, i) <- Seq(d1, d2).zipWithIndex) {
      val dir = Paths.get(cat.warehouse, "nyc", "nc", "data", s"f$i")
      df.coalesce(1).write.parquet(dir.toString)
      cat.registerFiles("nyc", "nc", Seq(dir))
    }
    // the manifest carries Iceberg-style value/null counts per file
    val files = cat.files("nyc", "nc")
    assert(files.forall(f => f.valueCounts.isDefined && f.nullCounts.isDefined))
    assert(files.map(_.nullCounts.get("name")).sum === 2L)
    // COUNT(*) + COUNT(col) + the null-count difference, all from
    // metadata: one LocalTableScan, no parquet node anywhere
    val q = spark.sql(
      s"SELECT count(*) AS total, count(name) AS named FROM $c.nyc.nc")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan [count_0") &&
      !plan.toLowerCase.contains("parquet"),
      s"expected metadata-only count plan:\n$plan")
    val r = q.collect().head
    assert(r.getLong(0) === 5L && r.getLong(1) === 3L)
    assert(r.getLong(0) - r.getLong(1) === 2L) // the null count
    // DISTINCT declines — manifests cannot answer cardinality
    val dq = spark.sql(s"SELECT count(DISTINCT name) FROM $c.nyc.nc")
    assert(dq.queryExecution.executedPlan.toString.toLowerCase.contains("parquet"))
    assert(dq.as[Long].head() === 3L)
    // a legacy manifest entry (no counts recorded) declines the push but
    // stays correct through the stock scan
    val raw = Paths.get(cat.warehouse, "nyc", "nc", "data", "legacy")
    Seq((6L, Option("f"))).toDF("id", "name")
      .coalesce(1).write.parquet(raw.toString)
    val part = graft.catalog.Fs.list(raw)
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    cat.append("nyc", "nc", Seq(DataFileMeta(part.toString,
      Files.size(part), 1L)))
    val lq = spark.sql(s"SELECT count(name) FROM $c.nyc.nc")
    assert(lq.queryExecution.executedPlan.toString.toLowerCase.contains("parquet"))
    assert(lq.as[Long].head() === 4L)
    // COUNT(*) still pushes — row counts never depended on column stats
    val cq = spark.sql(s"SELECT count(*) FROM $c.nyc.nc")
    assert(cq.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(cq.as[Long].head() === 6L)
  }

  test("metadata-only MIN/MAX for 32-bit-exact columns; long/string decline") {
    val (c, cat) = setup()
    val df = Seq((5, java.sql.Date.valueOf("2024-03-01"), 10L, "a"),
      (2, java.sql.Date.valueOf("2023-01-15"), 20L, "b"),
      (9, java.sql.Date.valueOf("2024-12-31"), 30L, "c"))
      .toDF("i", "d", "l", "s")
    cat.createTable("nyc", "mm", df.schema)
    val dir = Paths.get(cat.warehouse, "nyc", "mm", "data", "f1")
    df.coalesce(1).write.parquet(dir.toString)
    cat.registerFiles("nyc", "mm", Seq(dir))
    // int + date min/max (and a count alongside) come from metadata only
    val q = spark.sql(s"SELECT min(i), max(i), min(d), max(d), count(*) FROM $c.nyc.mm")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.toLowerCase.contains("parquet"),
      s"expected metadata-only aggregate plan:\n$plan")
    val r = q.collect().head
    assert(r.getInt(0) === 2 && r.getInt(1) === 9)
    assert(r.getDate(2) === java.sql.Date.valueOf("2023-01-15"))
    assert(r.getDate(3) === java.sql.Date.valueOf("2024-12-31"))
    assert(r.getLong(4) === 3L)
    // LONG (doubles round above 2^53) and STRING (truncated bounds) decline
    for (expr <- Seq("min(l)", "min(s)")) {
      val p = spark.sql(s"SELECT $expr FROM $c.nyc.mm")
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("parquet"), s"$expr must scan:\n$p")
    }
    assert(spark.sql(s"SELECT min(l) FROM $c.nyc.mm").collect().head.getLong(0) === 10L)
  }

  test("SQL metadata tables: partitions and refs") {
    val (c, cat) = setup()
    cat.registerFiles("nyc", "t", cat.files("nyc", "t").map(f => Paths.get(f.path)))
    cat.createTag("nyc", "t", "after-import", 1L)
    // refs: every tag + the current head as `main`
    val refs = spark.sql(s"SELECT * FROM $c.nyc.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("after-import", "TAG", 1L), ("main", "BRANCH", 2L)))
    // partitions: this table is unpartitioned — one null-partition rollup
    val parts = spark.sql(
      s"SELECT partition, file_count, record_count FROM $c.nyc.t.partitions")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(parts === Seq((null, 2L, 6L)))
    // a partitioned table rolls up one row per tuple, spec id included
    import spark.implicits._
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-02-05"))
      .toDF("id", "d").select($"id", $"d".cast("date").as("d"))
    cat.createTable("nyc", "pp", df.schema, Seq(("month", "d")))
    cat.writePartitioned(spark, "nyc", "pp", df)
    val pp = spark.sql(
      s"""SELECT partition, spec_id, record_count FROM $c.nyc.pp.partitions
         |ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(pp === Seq(("d_month=2024-01", 1, 2L), ("d_month=2024-02", 1, 1L)))
  }

  test("CREATE TABLE AS SELECT creates and populates in one statement") {
    val (c, cat) = setup()
    spark.sql(s"""CREATE TABLE $c.nyc.ctas USING parquet AS
                 |SELECT id, upper(name) AS uname FROM $c.nyc.t WHERE id <= 2""".stripMargin)
    assert(cat.tableExists("nyc", "ctas"))
    assert(spark.sql(s"SELECT uname FROM $c.nyc.ctas ORDER BY id")
      .as[String].collect().toSeq === Seq("A", "B"))
    // CTAS = create + one append snapshot, time-travelable like any write
    assert(cat.snapshots("nyc", "ctas").map(_.operation) === Seq("append"))
    // REPLACE-shaped re-run must fail cleanly (table exists), not corrupt
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.nyc.ctas USING parquet AS SELECT 1 AS x")
    }
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.ctas").as[Long].head() === 2)
  }

  test("INSERT INTO appends a snapshot; INSERT OVERWRITE replaces state") {
    val (c, cat) = setup()
    spark.sql(s"INSERT INTO $c.nyc.t VALUES (4, 'd', 40.0), (5, 'e', 50.0)")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 5)
    assert(cat.snapshots("nyc", "t").map(_.operation) === Seq("append", "append"))
    spark.sql(s"INSERT OVERWRITE $c.nyc.t VALUES (9, 'z', 90.0)")
    assert(spark.sql(s"SELECT id FROM $c.nyc.t").as[Long].collect().toSeq === Seq(9L))
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    // time travel still reaches both pre-DML states
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 2")
      .as[Long].head() === 5)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3)
  }

  test("CREATE then INSERT into an empty table works end-to-end in SQL") {
    val (c, cat) = setup()
    spark.sql(s"CREATE TABLE $c.nyc.sqlborn (k BIGINT, v STRING) USING parquet")
    spark.sql(s"INSERT INTO $c.nyc.sqlborn VALUES (1, 'one'), (2, 'two')")
    assert(spark.sql(s"SELECT v FROM $c.nyc.sqlborn ORDER BY k")
      .as[String].collect().toSeq === Seq("one", "two"))
    assert(cat.files("nyc", "sqlborn").map(_.rowCount).sum === 2)
  }

  test("DELETE FROM commits a copy-on-write overwrite snapshot") {
    val (c, cat) = setup()
    spark.sql(s"DELETE FROM $c.nyc.t WHERE score >= 20.0 AND name <> 'c'")
    assert(spark.sql(s"SELECT id FROM $c.nyc.t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3)
  }

  test("SQL DELETE keeps rows where the predicate evaluates NULL (3VL)") {
    val base = scratchDir("sparkcat_null")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    Seq((1L, Some(10.0)), (2L, None), (3L, Some(30.0)))
      .toDF("id", "score")
      .coalesce(1).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    val cname = "gcn" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    spark.sql(s"DELETE FROM $cname.nyc.t WHERE score > 15.0")
    // id=2 has score NULL ⇒ predicate NULL ⇒ must SURVIVE the delete
    assert(spark.sql(s"SELECT id FROM $cname.nyc.t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
  }

  test("SQL UPDATE rewrites matching rows and commits one overwrite snapshot") {
    val (c, cat) = setup()
    spark.sql(s"UPDATE $c.nyc.t SET score = score + 100.0, name = 'up' " +
      s"WHERE id >= 2")
    assert(spark.sql(s"SELECT id, name, score FROM $c.nyc.t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 10.0), (2L, "up", 120.0), (3L, "up", 130.0)))
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    // time travel still reaches the pre-UPDATE state
    assert(spark.sql(s"SELECT sum(score) FROM $c.nyc.t VERSION AS OF 1")
      .as[Double].head() === 60.0)
  }

  /** A 20,000-row table in 2 files with disjoint key ranges: file stats
    * let a pushed filter skip a whole file. */
  private def twoFileTable(): String = {
    val (c, _) = setup()
    spark.sql(s"CREATE TABLE $c.nyc.two (k BIGINT, v STRING) USING parquet")
    for (lo <- Seq(0, 10000))
      spark.sql(s"INSERT INTO $c.nyc.two SELECT id, 'x' FROM range($lo, ${lo + 10000}, 1, 1)")
    s"$c.nyc.two"
  }

  test("SQL UPDATE rewrites every file, not just those whose stats match") {
    val t = twoFileTable()
    spark.sql(s"UPDATE $t SET v = 'u' WHERE k BETWEEN 10 AND 15")
    assert(spark.sql(s"SELECT v, count(*) FROM $t GROUP BY v ORDER BY v")
      .as[(String, Long)].collect().toSeq === Seq(("u", 6L), ("x", 19994L)))
  }

  test("group-based SQL DELETE rewrites every file, not just those whose stats match") {
    val t = twoFileTable()
    // length(v) has no source-filter form, so this DELETE takes the
    // row-level rewrite instead of deleteWhere
    spark.sql(s"DELETE FROM $t WHERE k BETWEEN 10 AND 15 AND length(v) = 1")
    assert(spark.sql(s"SELECT count(*) FROM $t").as[Long].head() === 19994L)
  }

  test("SQL UPDATE right after MERGE INTO keeps the MERGE's rows") {
    val t = twoFileTable()
    Seq((5L, "m"), (15000L, "m"), (20000L, "m")).toDF("k", "v")
      .createOrReplaceTempView("merge_then_update")
    spark.sql(s"MERGE INTO $t t USING merge_then_update s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    spark.sql(s"UPDATE $t SET v = 'u' WHERE k BETWEEN 10 AND 15")
    assert(spark.sql(s"SELECT v, count(*) FROM $t GROUP BY v ORDER BY v")
      .as[(String, Long)].collect().toSeq ===
      Seq(("m", 3L), ("u", 6L), ("x", 19992L)))
    assert(spark.sql(s"SELECT k FROM $t WHERE v = 'm' ORDER BY k")
      .as[Long].collect().toSeq === Seq(5L, 15000L, 20000L))
    spark.catalog.dropTempView("merge_then_update")
  }

  test("SQL MERGE INTO upserts: matched rows updated, unmatched inserted") {
    val (c, cat) = setup()
    Seq((2L, "b2", 222.0), (9L, "new", 99.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $c.nyc.t t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT id, name, score FROM $c.nyc.t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 10.0), (2L, "b2", 222.0), (3L, "c", 30.0), (9L, "new", 99.0)))
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3)
    spark.catalog.dropTempView("merge_src")
  }

  test("SQL MERGE with DELETE clause and conditioned actions") {
    val (c, _) = setup()
    Seq((1L, "kill", 0.0), (3L, "bump", 1.0), (7L, "add", 70.0))
      .toDF("id", "name", "score").createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO $c.nyc.t t USING merge_src2 s ON t.id = s.id
         |WHEN MATCHED AND s.name = 'kill' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET score = t.score + s.score
         |WHEN NOT MATCHED AND s.score > 50.0 THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT id, score FROM $c.nyc.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((2L, 20.0), (3L, 31.0), (7L, 70.0)))
    spark.catalog.dropTempView("merge_src2")
  }

  test("meta_sql_merge declared query: every DML invariant holds") {
    val rows = graft.queries.Meta.queries("meta_sql_merge")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length === 6)
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  private def setupMor(): (String, GraftCatalog) = {
    val base = scratchDir("sparkcatmor")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
      .coalesce(1).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    val cname = "gm" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$cname", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    spark.conf.set(s"spark.sql.catalog.$cname.rowlevel.mode", "merge-on-read")
    spark.conf.set(s"spark.sql.catalog.$cname.rowlevel.identity", "id")
    (cname, cat)
  }

  test("merge-on-read MERGE writes only changed rows as one merge snapshot") {
    val (c, cat) = setupMor()
    Seq((2L, "b2", 222.0), (9L, "new", 99.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("mor_src")
    spark.sql(
      s"""MERGE INTO $c.nyc.t t USING mor_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val snap = cat.snapshots("nyc", "t").last
    assert(snap.operation === "merge")
    // O(changed rows): 1 update + 1 insert landed, 1 row-id tuple deleted
    assert(snap.addedFiles.map(_.rowCount).sum === 2)
    assert(snap.deletes.map(_.rowCount).sum === 1)
    // the DataFrame read path folds the debt to the upserted state
    assert(cat.readTable(spark, "nyc", "t").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 10.0), (2L, "b2", 222.0), (3L, "c", 30.0), (9L, "new", 99.0)))
    // the SQL read path refuses until materialized
    val e = intercept[Exception] { spark.sql(s"SELECT * FROM $c.nyc.t").collect() }
    assert(e.getMessage.contains("materialize"))
    graft.etl.Merge.materialize(spark, cat, "nyc", "t")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 4)
    spark.catalog.dropTempView("mor_src")
  }

  test("merge-on-read UPDATE and DELETE commit O(changed) delta snapshots") {
    val (c, cat) = setupMor()
    spark.sql(s"UPDATE $c.nyc.t SET score = score + 1.0 WHERE id = 2")
    val up = cat.snapshots("nyc", "t").last
    assert(up.operation === "merge")
    assert(up.addedFiles.map(_.rowCount).sum === 1) // only the updated row
    assert(up.deletes.map(_.rowCount).sum === 1)
    graft.etl.Merge.materialize(spark, cat, "nyc", "t")
    spark.sql(s"DELETE FROM $c.nyc.t WHERE score >= 21.0")
    val del = cat.snapshots("nyc", "t").last
    assert(del.operation === "delete") // delete file only, no data file
    assert(del.addedFiles.isEmpty)
    assert(del.deletes.map(_.rowCount).sum === 2) // ids 2 (21.0) and 3 (30.0)
    assert(cat.readTable(spark, "nyc", "t").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq === Seq((1L, "a", 10.0)))
  }

  test("merge-on-read INSERT-only MERGE commits a plain append") {
    val (c, cat) = setupMor()
    Seq((7L, "x", 70.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("mor_src3")
    spark.sql(
      s"""MERGE INTO $c.nyc.t t USING mor_src3 s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val snap = cat.snapshots("nyc", "t").last
    assert(snap.operation === "append")
    assert(snap.addedFiles.map(_.rowCount).sum === 1)
    // no debt: the SQL read path serves immediately
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 4)
    spark.catalog.dropTempView("mor_src3")
  }

  test("TRUNCATE TABLE commits an empty overwrite; time travel survives") {
    val (c, cat) = setup()
    spark.sql(s"TRUNCATE TABLE $c.nyc.t")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 0)
    assert(cat.snapshots("nyc", "t").last.operation === "overwrite")
    assert(cat.snapshots("nyc", "t").last.addedFiles.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t VERSION AS OF 1")
      .as[Long].head() === 3)
    // the table serves writes again after truncation
    spark.sql(s"INSERT INTO $c.nyc.t VALUES (8, 'h', 80.0)")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 1)
  }

  test("meta_sql_merge_mor declared query: every MoR DML invariant holds") {
    val rows = graft.queries.Meta.queries("meta_sql_merge_mor")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length === 7)
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("merge-on-read delete debt is refused until materialized") {
    val (c, cat) = setup()
    graft.etl.Merge.deleteWhereMor(spark, cat, "nyc", "t",
      col("id") === 2L, Seq("id"))
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $c.nyc.t").collect()
    }
    assert(e.getMessage.contains("materialize"))
    graft.etl.Merge.materialize(spark, cat, "nyc", "t")
    assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 2)
  }
}
