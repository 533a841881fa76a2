package graft.catalog

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Write-audit-publish staged snapshots and linearized rollback. */
class WapRollbackSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(tag: String): (GraftCatalog, Path) = {
    val base = scratchDir(tag)
    (new GraftCatalog(base.resolve("wh").toString), base)
  }

  private def land(base: Path, df: DataFrame, dir: String): Path = {
    val p = base.resolve(dir)
    df.coalesce(1).write.parquet(p.toString)
    p
  }

  test("stage -> audit -> publish: invisible until published; audit by id") {
    val (cat, base) = freshCat("wap")
    val df1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(base, df1, "b1"))) // snap 1
    val stagedId = cat.stageAppend("nyc", "t",
      Seq(land(base, Seq((3, "c")).toDF("id", "v"), "b2")))
    assert(stagedId === 2L)
    // current reads don't see the staged rows
    assert(cat.readTable(spark, "nyc", "t").count() === 2)
    assert(cat.loadTable("nyc", "t").currentSnapshotId === 1L)
    // the audit view: time travel to the staged id sees base + staged
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(stagedId)).count() === 3)
    // wall-clock travel never resolves to a staged snapshot
    Thread.sleep(5)
    assert(cat.snapshotAsOfTime("nyc", "t",
      System.currentTimeMillis()) === 1L)
    // interleaved commit between stage and publish is preserved
    cat.registerFiles("nyc", "t",
      Seq(land(base, Seq((4, "d")).toDF("id", "v"), "b3"))) // snap 3
    assert(cat.readTable(spark, "nyc", "t").count() === 3) // 1,2,4
    cat.publishSnapshot("nyc", "t", stagedId)
    assert(cat.readTable(spark, "nyc", "t").count() === 4)
    assert(cat.readTable(spark, "nyc", "t").select("v")
      .as[String].collect().sorted.toSeq === Seq("a", "b", "c", "d"))
    // publishing twice is refused
    intercept[IllegalArgumentException] {
      cat.publishSnapshot("nyc", "t", stagedId)
    }
  }

  test("discard removes a failed-audit snapshot and its warehouse orphans") {
    val (cat, base) = freshCat("wapd")
    val df1 = Seq((1, "a")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(base, df1, "b1")))
    // stage files INSIDE the warehouse so discard owns the cleanup
    val whDir = Paths.get(cat.warehouse, "nyc", "t", "data", "staged-1")
    Seq((9, "bad")).toDF("id", "v").coalesce(1).write.parquet(whDir.toString)
    val stagedId = cat.stageAppend("nyc", "t", Seq(whDir))
    val stagedFiles = cat.loadTable("nyc", "t").snapshots
      .find(_.id == stagedId).get.addedFiles.map(_.path)
    cat.discardStaged("nyc", "t", stagedId)
    assert(cat.loadTable("nyc", "t").snapshots.forall(_.id != stagedId))
    assert(cat.readTable(spark, "nyc", "t").count() === 1)
    assert(stagedFiles.forall(p => !Files.exists(Paths.get(p))),
      "warehouse-owned staged files must be cleaned up")
    // a fresh commit reuses nothing: ids stay unique past the discarded one
    cat.registerFiles("nyc", "t", Seq(land(base, Seq((2, "b")).toDF("id", "v"), "b2")))
    assert(cat.loadTable("nyc", "t").currentSnapshotId === 3L)
  }

  test("rollback restores an earlier state as a new overwrite snapshot") {
    val (cat, base) = freshCat("rollb")
    val df1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(base, df1, "b1")))            // 1
    cat.registerFiles("nyc", "t",
      Seq(land(base, Seq((3, "c")).toDF("id", "v"), "b2")))              // 2
    cat.registerFiles("nyc", "t",
      Seq(land(base, Seq((4, "d")).toDF("id", "v"), "b3")), "overwrite") // 3
    assert(cat.readTable(spark, "nyc", "t").count() === 1)
    val rolled = cat.rollbackTo("nyc", "t", 2L)
    assert(rolled.currentSnapshotId === 4L)
    assert(rolled.snapshots.last.operation === "overwrite")
    assert(cat.readTable(spark, "nyc", "t").select("v")
      .as[String].collect().sorted.toSeq === Seq("a", "b", "c"))
    // the rolled-over state is STILL time-travelable (history is linear
    // and intact), and rolling back to it again works
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(3L)).count() === 1)
    cat.rollbackTo("nyc", "t", 3L)
    assert(cat.readTable(spark, "nyc", "t").select("v").as[String].head() === "d")
    // unknown / staged targets refused
    intercept[IllegalArgumentException] { cat.rollbackTo("nyc", "t", 99L) }
    val st = cat.stageAppend("nyc", "t",
      Seq(land(base, Seq((5, "e")).toDF("id", "v"), "b4")))
    intercept[IllegalArgumentException] { cat.rollbackTo("nyc", "t", st) }
  }

  test("SQL audit view: VERSION AS OF a staged id; snapshots table flags it") {
    val (cat, base) = freshCat("wapsql")
    val df1 = Seq((1, "a")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(base, df1, "b1")))
    val stagedId = cat.stageAppend("nyc", "t",
      Seq(land(base, Seq((2, "b")).toDF("id", "v"), "b2")))
    val c = "gw" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$c", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", cat.warehouse)
    try {
      assert(spark.sql(s"SELECT count(*) FROM $c.nyc.t").as[Long].head() === 1)
      assert(spark.sql(
        s"SELECT count(*) FROM $c.nyc.t VERSION AS OF $stagedId")
        .as[Long].head() === 2)
      val flags = spark.sql(
        s"SELECT snapshot_id, is_staged FROM $c.nyc.t.snapshots ORDER BY 1")
        .as[(Long, Boolean)].collect().toSeq
      assert(flags === Seq((1L, false), (2L, true)))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$c")
      spark.conf.unset(s"spark.sql.catalog.$c.warehouse")
    }
  }

  test("meta_wap declared query: every invariant holds") {
    val rows = graft.queries.Meta.queries("meta_wap")(spark, sfDir).collect()
    assert(rows.length === 7)
    rows.foreach(r => assert(r.getBoolean(2), r.toString))
  }

  test("expiration refuses to drop an unfinished WAP cycle") {
    val (cat, base) = freshCat("wapexp")
    val df1 = Seq((1, "a")).toDF("id", "v")
    cat.createTable("nyc", "t", df1.schema)
    cat.registerFiles("nyc", "t", Seq(land(base, df1, "b1")))           // 1
    val st = cat.stageAppend("nyc", "t",
      Seq(land(base, Seq((2, "b")).toDF("id", "v"), "b2")))             // 2 staged
    cat.registerFiles("nyc", "t",
      Seq(land(base, Seq((3, "c")).toDF("id", "v"), "b3")), "overwrite") // 3
    intercept[IllegalArgumentException] {
      cat.expireSnapshots("nyc", "t", keepLast = 1)
    }
    cat.discardStaged("nyc", "t", st)
    assert(cat.expireSnapshots("nyc", "t", keepLast = 1).expiredSnapshots === 1)
  }
}
