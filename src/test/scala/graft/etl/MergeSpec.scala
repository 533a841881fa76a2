package graft.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.GraftCatalog
import org.apache.spark.sql.functions._

/** MERGE / DELETE as overwrite snapshots (SURVEY.md §7.5): atomicity of the
  * file-set swap, source-wins matching, and time travel across DML.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def setup() = {
    val base = scratchDir("merge_spec")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
      .coalesce(1).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    cat
  }

  test("mergeInto: matched rows take source values, unmatched source inserts") {
    val cat = setup()
    val source = Seq((2L, "b2", 22.0), (4L, "d", 40.0)).toDF("id", "name", "score")
    Merge.mergeInto(spark, cat, "nyc", "t", source, Seq("id"))
    val rows = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "b2", 22.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // time travel reaches the pre-merge state
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 3)
    assert(cat.snapshots("nyc", "t").map(_.operation) === Seq("append", "overwrite"))
  }

  test("deleteWhere removes exactly the matching rows in one snapshot") {
    val cat = setup()
    Merge.deleteWhere(spark, cat, "nyc", "t", col("score") >= 20.0)
    val rows = cat.readTable(spark, "nyc", "t")
      .select("id").as[Long].collect().toSeq
    assert(rows === Seq(1L))
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 3)
  }

  test("deleteWhere keeps rows where the predicate evaluates NULL (3VL)") {
    // SQL DELETE removes only predicate-TRUE rows; a naive filter(!cond)
    // would silently drop id=2 (score NULL ⇒ cond NULL ⇒ !cond NULL)
    val base = scratchDir("merge_null")
    val dataDir = base.resolve("in"); Files.createDirectories(dataDir)
    Seq((1L, Some(10.0)), (2L, None), (3L, Some(30.0)))
      .toDF("id", "score")
      .coalesce(1).write.parquet(dataDir.resolve("t").toString)
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.importFolders(spark, dataDir.toString)
    Merge.deleteWhere(spark, cat, "nyc", "t", col("score") > 15.0)
    assert(cat.readTable(spark, "nyc", "t").select("id").as[Long].collect().sorted
      === Seq(1L, 2L))
  }

  test("mergeIntoMor: upsert lands atomically with no data-file rewrite") {
    val cat = setup()
    val before = cat.files("nyc", "t").map(_.path).toSet
    val source = Seq((2L, "b2", 22.0), (4L, "d", 40.0)).toDF("id", "name", "score")
    Merge.mergeIntoMor(spark, cat, "nyc", "t", source, Seq("id"))
    val rows = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "b2", 22.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // original files untouched and still referenced; op recorded as "merge"
    assert(before.subsetOf(cat.files("nyc", "t").map(_.path).toSet))
    assert(cat.snapshots("nyc", "t").map(_.operation) === Seq("append", "merge"))
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 3)
  }

  test("deleteWhereMor: equality delete applies only to earlier files") {
    val cat = setup()
    Merge.deleteWhereMor(spark, cat, "nyc", "t", col("id") === 2L, Seq("id"))
    assert(cat.readTable(spark, "nyc", "t").select("id").as[Long].collect().sorted
      === Seq(1L, 3L))
    // re-insert id=2 AFTER the delete: the old delete must NOT hit it
    val dir = scratchDir("mor_add")
    Seq((2L, "b-new", 25.0)).toDF("id", "name", "score")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("f").toString)
    cat.registerFiles("nyc", "t", Seq(dir.resolve("f")))
    val rows = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "b-new", 25.0), (3L, "c", 30.0)))
  }

  test("materialize clears delete debt without changing the table") {
    val cat = setup()
    Merge.mergeIntoMor(spark, cat, "nyc", "t",
      Seq((3L, "c3", 33.0)).toDF("id", "name", "score"), Seq("id"))
    Merge.deleteWhereMor(spark, cat, "nyc", "t", col("id") === 1L, Seq("id"))
    val pre = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(cat.loadTable("nyc", "t").deleteFilesAsOf(None).size === 2)
    Merge.materialize(spark, cat, "nyc", "t")
    assert(cat.loadTable("nyc", "t").deleteFilesAsOf(None).isEmpty)
    val post = cat.readTable(spark, "nyc", "t")
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(post === pre)
    assert(post === Seq((2L, "b", 20.0), (3L, "c3", 33.0)))
  }

  test("overwrite resets the file set; later appends accumulate on top of it") {
    val cat = setup()
    Merge.deleteWhere(spark, cat, "nyc", "t", col("id") === 1L) // snapshot 2
    val f2 = cat.files("nyc", "t")
    // append snapshot-2's own files again as snapshot 3 ⇒ doubles post-DML state
    cat.registerFiles("nyc", "t", f2.map(f => Paths.get(f.path)))
    assert(cat.readTable(spark, "nyc", "t").count() === 4) // 2 rows × 2
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(2L)).count() === 2)
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 3)
  }

  test("position deletes hit the SAME commit's added files (<= sequence rule)") {
    val cat = setup()
    val base = scratchDir("pos_own")
    Seq((10L, "x", 1.0), (11L, "y", 2.0)).toDF("id", "name", "score")
      .coalesce(1).write.parquet(base.resolve("add").toString)
    // the (file_path, pos) tuple of id=10 INSIDE the about-to-be-added file
    spark.read.parquet(base.resolve("add").toString)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") === 10L).drop("id")
      .coalesce(1).write.parquet(base.resolve("del").toString)
    // one atomic commit: add the file AND delete one of its rows
    cat.commitPositionDeletes("nyc", "t", Seq(base.resolve("del")),
      addedFiles = Seq(base.resolve("add")))
    val ids = cat.readTable(spark, "nyc", "t").select("id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L, 11L)) // id=10 died in its own commit
    // pre-merge state is untouched by time travel
    assert(cat.readTable(spark, "nyc", "t", asOf = Some(1L)).count() === 3)
  }

  test("delta commits refuse a racing overwrite (no silent row resurrection)") {
    // the RTBF-relevant race: a position delete's (file_path, pos) tuples
    // derived at base B reference files a racing compaction/overwrite
    // replaced — blindly landing them would silently no-op and the
    // "deleted" rows survive. The commit carries its base and refuses.
    val cat = setup()
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    val base = cat.loadTable("nyc", "t").currentSnapshotId
    val tmp = scratchDir("race_pos")
    cat.readTableWithPositions(spark, "nyc", "t", asOf = Some(base))
      .filter(col("id") === 2L)
      .select(col(PosFileCol).as("file_path"), col(PosIdxCol).as("pos"))
      .coalesce(1).write.parquet(tmp.resolve("del").toString)
    // racing overwrite lands first (a compaction / CoW DML)
    Merge.materialize(spark, cat, "nyc", "t")
    intercept[graft.catalog.ConcurrentOverwriteException] {
      cat.commitPositionDeletes("nyc", "t", Seq(tmp.resolve("del")),
        baseSnapshotId = Some(base))
    }
    // nothing landed: table state is the materialized 3 rows, no debt
    assert(cat.readTable(spark, "nyc", "t").count() === 3)
    assert(cat.loadTable("nyc", "t").deleteFilesAsOf(None).isEmpty)

    // equality deletes carry the same guard (stale-value write-write
    // conflict under serializable isolation)
    val eqBase = cat.loadTable("nyc", "t").currentSnapshotId
    Seq(2L).toDF("id").coalesce(1).write.parquet(tmp.resolve("eq").toString)
    Merge.deleteWhere(spark, cat, "nyc", "t", col("id") === 999L) // racing CoW
    intercept[graft.catalog.ConcurrentOverwriteException] {
      cat.commitMergeOnRead("nyc", "t", Seq("id"), Seq(tmp.resolve("eq")),
        baseSnapshotId = Some(eqBase))
    }
  }

  test("delta commits fold cleanly over racing appends and racing deltas") {
    // compatible races must NOT refuse: a racing append's files are never
    // referenced by position tuples, and racing delta commits only add
    // debt — both commute with this delete.
    val cat = setup()
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    val base = cat.loadTable("nyc", "t").currentSnapshotId
    val tmp = scratchDir("race_ok")
    cat.readTableWithPositions(spark, "nyc", "t", asOf = Some(base))
      .filter(col("id") === 2L)
      .select(col(PosFileCol).as("file_path"), col(PosIdxCol).as("pos"))
      .coalesce(1).write.parquet(tmp.resolve("del").toString)
    // racing APPEND (new file, never referenced by the tuples)
    Seq((9L, "z", 90.0)).toDF("id", "name", "score")
      .coalesce(1).write.parquet(tmp.resolve("add").toString)
    cat.registerFiles("nyc", "t", Seq(tmp.resolve("add")))
    // racing DELTA (equality delete of an unrelated key)
    Merge.deleteWhereMor(spark, cat, "nyc", "t", col("id") === 3L, Seq("id"))
    // the stale-base position delete still lands — its tuples are valid
    cat.commitPositionDeletes("nyc", "t", Seq(tmp.resolve("del")),
      baseSnapshotId = Some(base))
    assert(cat.readTable(spark, "nyc", "t").select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 9L))
  }

  test("SQL MoR DML carries its derivation base (still commits cleanly)") {
    // the served surface: the DeltaWrite observes the snapshot at plan
    // time and threads it into commitMergeOnRead — the no-race path must
    // be unchanged (base == current at commit), and the snapshot shape
    // stays the O(changed rows) delta
    val cat = setup()
    val cname = "gmrace" + System.nanoTime()
    spark.conf.set(s"spark.sql.catalog.$cname",
      classOf[graft.catalog.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse", cat.warehouse)
    spark.conf.set(s"spark.sql.catalog.$cname.rowlevel.mode", "merge-on-read")
    spark.conf.set(s"spark.sql.catalog.$cname.rowlevel.identity", "id")
    spark.sql(s"DELETE FROM $cname.nyc.t WHERE id = 2")
    assert(cat.readTable(spark, "nyc", "t").select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L))
    assert(cat.snapshots("nyc", "t").last.operation === "delete")
  }

  test("meta_merge_pos declared query: all position-delete invariants hold") {
    val rows = graft.queries.Meta.queries("meta_merge_pos")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("initial", "one_twin_killed",
      "stacked_no_reemit", "no_rewrite", "materialized",
      "asof_snapshot_1").sorted) // query emits phase-sorted
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }
}
