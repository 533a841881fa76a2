package graft.catalog

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.SparkSpec

/** Iceberg-style schema evolution on the native metadata layer: metadata-
  * only ALTER commits, id-based column resolution over files written under
  * earlier schema versions, and the SQL-serving drift refusal
  * (reference parity: the served Iceberg catalog accepts `ALTER TABLE`,
  * `/root/reference/conf/spark-defaults.conf:1-5`). */
class SchemaEvolutionSpec extends SparkSpec {

  private def freshCat(tag: String): GraftCatalog = {
    val base = scratchDir(s"evo_$tag")
    new GraftCatalog(base.resolve("wh").toString)
  }

  private def land(cat: GraftCatalog, df: DataFrame, dir: String) = {
    val p = Paths.get(cat.warehouse).getParent.resolve(dir)
    df.coalesce(1).write.parquet(p.toString)
    p
  }

  test("add column null-fills files written before the commit") {
    import spark.implicits._
    val cat = freshCat("add")
    val df1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    cat.addColumn("nyc", "t", "extra", "INT")
    val out = cat.readTable(spark, "nyc", "t").orderBy("id").collect()
    assert(out.map(_.isNullAt(2)).toSeq == Seq(true, true))
    // new writes carry the column
    val df2 = Seq((3, "c", 30)).toDF("id", "v", "extra")
    cat.registerFiles("nyc", "t", Seq(land(cat, df2, "b2")))
    val all = cat.readTable(spark, "nyc", "t").orderBy("id").collect()
    assert(all.length == 3 && all(2).getInt(2) == 30)
  }

  test("rename keeps old files' data via field-id resolution") {
    import spark.implicits._
    val cat = freshCat("rename")
    val df1 = Seq((1, "alpha")).toDF("id", "old_name")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    cat.renameColumn("nyc", "t", "old_name", "label")
    val out = cat.readTable(spark, "nyc", "t")
    assert(out.schema.fieldNames.toSeq == Seq("id", "label"))
    assert(out.select("label").as[String].head() == "alpha")
  }

  test("widen up-casts old files; narrowing is refused") {
    import spark.implicits._
    val cat = freshCat("widen")
    val df1 = Seq((1, 10)).toDF("id", "qty")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    cat.widenColumn("nyc", "t", "qty", "BIGINT")
    val out = cat.readTable(spark, "nyc", "t")
    assert(out.schema("qty").dataType == LongType)
    assert(out.select("qty").as[Long].head() == 10L)
    intercept[IllegalArgumentException] {
      cat.widenColumn("nyc", "t", "id", "SMALLINT")
    }
  }

  test("dropped field id never resurfaces under a re-added name") {
    import spark.implicits._
    val cat = freshCat("readd")
    val df1 = Seq((1, "secret")).toDF("id", "label")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    cat.dropColumn("nyc", "t", "label")
    assert(cat.readTable(spark, "nyc", "t").schema.fieldNames.toSeq == Seq("id"))
    cat.addColumn("nyc", "t", "label", "STRING")
    // old physical 'label' data must stay invisible: new field id
    assert(cat.readTable(spark, "nyc", "t").select("label").head().isNullAt(0))
  }

  test("evolution survives time travel, incremental reads and expiration rules") {
    import spark.implicits._
    val cat = freshCat("travel")
    val df1 = Seq((1, 10)).toDF("id", "qty")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1"))) // snap 1 @ v1
    cat.widenColumn("nyc", "t", "qty", "BIGINT")             // v2
    val df2 = Seq((2, 20L)).toDF("id", "qty")
    cat.registerFiles("nyc", "t", Seq(land(cat, df2, "b2"))) // snap 2 @ v2
    // reads at any snapshot project to the CURRENT schema
    val asOf1 = cat.readTable(spark, "nyc", "t", asOf = Some(1L))
    assert(asOf1.schema("qty").dataType == LongType)
    assert(asOf1.select("qty").as[Long].head() == 10L)
    val inc = cat.readIncremental(spark, "nyc", "t", 0L, 2L)
    assert(inc.select("qty").as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    // expiring across a schema-version boundary needs a checkpoint whose
    // files span versions -> refused until materialized
    val df3 = Seq((3, 30L)).toDF("id", "qty")
    cat.registerFiles("nyc", "t", Seq(land(cat, df3, "b3"))) // snap 3 @ v2
    intercept[IllegalArgumentException] {
      cat.expireSnapshots("nyc", "t", keepLast = 1)
    }
    graft.etl.Maintenance.optimize(spark, cat, "nyc", "t")   // snap 4 overwrite
    val r = cat.expireSnapshots("nyc", "t", keepLast = 1)
    assert(r.expiredSnapshots == 3)
    assert(cat.readTable(spark, "nyc", "t").count() == 3)
  }

  test("merge-on-read delete keys follow renames; dropping a key column is refused") {
    import spark.implicits._
    val cat = freshCat("mor")
    val df1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    // equality-delete of k=1 recorded under the ORIGINAL column name
    val delDir = land(cat, Seq(Tuple1(1)).toDF("k"), "del1")
    cat.commitMergeOnRead("nyc", "t", Seq("k"), Seq(delDir))
    cat.renameColumn("nyc", "t", "k", "key")
    val out = cat.readTable(spark, "nyc", "t")
    assert(out.schema.fieldNames.toSeq == Seq("key", "v"))
    assert(out.select("key").as[Int].collect().toSeq == Seq(2))
    intercept[IllegalStateException] {
      cat.dropColumn("nyc", "t", "key")
      cat.readTable(spark, "nyc", "t").collect()
    }
  }

  test("SQL path: ALTER TABLE works; rename drift refused until materialize") {
    import spark.implicits._
    val cat = freshCat("sql")
    val df1 = Seq((1, "a")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    val salt = Paths.get(cat.warehouse).getParent.getFileName.toString
      .replaceAll("[^a-zA-Z0-9]", "")
    val cname = s"evosql_$salt"
    spark.conf.set(s"spark.sql.catalog.$cname",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    try {
      // add-only evolution serves directly (name-based null-fill is safe)
      spark.sql(s"ALTER TABLE $cname.nyc.t ADD COLUMNS (score DOUBLE)")
      assert(spark.sql(s"SELECT * FROM $cname.nyc.t").schema.fieldNames.toSeq ==
        Seq("id", "v", "score"))
      assert(spark.sql(s"SELECT count(*) FROM $cname.nyc.t WHERE score IS NULL")
        .as[Long].head() == 1L)
      // rename drifts the physical layout -> SQL read refused
      spark.sql(s"ALTER TABLE $cname.nyc.t RENAME COLUMN v TO label")
      val refused = scala.util.Try(
        spark.sql(s"SELECT * FROM $cname.nyc.t").collect()).isFailure
      assert(refused)
      graft.etl.Maintenance.optimize(spark, cat, "nyc", "t")
      assert(spark.sql(s"SELECT label FROM $cname.nyc.t").as[String].head() == "a")
      // DROP COLUMN via SQL; extra physical column in the file is ignored
      spark.sql(s"ALTER TABLE $cname.nyc.t DROP COLUMN score")
      assert(spark.sql(s"SELECT * FROM $cname.nyc.t").schema.fieldNames.toSeq ==
        Seq("id", "label"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cname")
      spark.conf.unset(s"spark.sql.catalog.$cname.warehouse")
    }
  }

  test("filters push down to the scan THROUGH the id-projection (plan pin)") {
    import spark.implicits._
    val cat = freshCat("push")
    val df1 = (1 to 1000).map(i => (i, s"v$i")).toDF("id", "old_name")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    cat.renameColumn("nyc", "t", "old_name", "label")
    cat.widenColumn("nyc", "t", "id", "BIGINT")
    // predicates on the RENAMED and WIDENED columns must reach the parquet
    // scan as pushed filters on the PHYSICAL column names — the evolution
    // projection is a pure Project, transparent to Catalyst pushdown, so
    // old files cost the same to filter as never-evolved ones
    val q = cat.readTable(spark, "nyc", "t")
      .filter($"label" === "v7").filter($"id" < 100L)
    val scanLine = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("EqualTo(old_name,v7)"), scanLine)
    assert(scanLine.contains("LessThan(id,100)"), scanLine)
    assert(q.count() == 1)
  }

  test("meta_schema_evolution declared query: every invariant holds") {
    val rows = graft.queries.Meta.queries("meta_schema_evolution")(spark, sfDir)
      .collect()
    assert(rows.length == 8)
    val failed = rows.filterNot(_.getBoolean(2)).map(_.getString(0))
    assert(failed.isEmpty, s"invariants failed: ${failed.mkString(", ")}")
  }

  test("legacy metadata without schemaVersions derives version 1 consistently") {
    import spark.implicits._
    val cat = freshCat("legacy")
    val df1 = Seq((1, "a")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(cat, df1, "b1")))
    // createTable persists NO schemaVersions (same shape as pre-evolution
    // metadata); version 1 is derived on demand with positional ids, and
    // the first evolution commit pins the derived history
    val meta = cat.loadTable("nyc", "t")
    assert(meta.versions.head.fields.map(f => (f.id, f.name)) ==
      List((1, "id"), (2, "v")))
    cat.renameColumn("nyc", "t", "v", "w")
    assert(cat.readTable(spark, "nyc", "t").select("w").as[String].head() == "a")
  }
}
