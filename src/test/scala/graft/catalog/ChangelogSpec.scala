package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row-level CDC changelog (SURVEY L76): per-snapshot-kind emission and
  * the replay law — applying the changelog to empty state reproduces the
  * live table, multiset-exactly. The declared query (meta_changelog)
  * pins the MoR kinds row-for-row against DuckDB; this spec covers the
  * overwrite diff and the composition law the oracle can't see. */
class ChangelogSpec extends SparkSpec {

  private def freshCat(): GraftCatalog = {
    val base = scratchDir("chg_spec")
    new GraftCatalog(base.resolve("wh").toString)
  }

  private def writeRows(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
    val dir = scratchDir("chg_rows")
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve("p").toString)
    dir.resolve("p")
  }

  test("overwrite emits the file-set diff as delete+insert pairs; untouched files emit nothing") {
    import spark.implicits._
    val cat = freshCat()
    cat.createNamespace("c")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    cat.createTable("c", "t", a.schema)
    cat.registerFiles("c", "t", Seq(writeRows(a)))           // s1: +2
    cat.registerFiles("c", "t", Seq(writeRows(b)))           // s2: +1
    // copy-on-write delete of id=1 rewrites ONLY the file holding it
    graft.etl.Merge.deleteWhere(spark, cat, "c", "t", col("id") === 1L)
    val last = cat.snapshots("c", "t").map(_.id).max
    val chg = cat.readChangelog(spark, "c", "t", 2L, last)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    // the rewrite emits all pre-image rows as deletes and the surviving
    // post-image rows as inserts (CoW changelog semantics)
    assert(chg.count(_._3 == "delete") >= 1 && chg.exists(c =>
      c._1 == 1L && c._3 == "delete"), s"missing the deleted row: ${chg.toSeq}")
    assert(!chg.exists(c => c._1 == 1L && c._3 == "insert"),
      "a copy-on-write-deleted row resurfaced as an insert")
  }

  test("replay law holds across an overwrite-vs-append race (base-folded overwrite)") {
    import spark.implicits._
    // a compaction derives its rewrite at snapshot B, an append races in,
    // the overwrite lands base-folded (GraftCatalog.commitSnapshot's
    // validation). The CDC fold must STILL replay to the live table —
    // the folded overwrite's file-set diff sees the raced-in file on
    // both sides (pre-image delete set excludes it, insert set includes
    // it untouched), so no row double-counts or vanishes.
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    val base = cat.loadTable("c", "t").currentSnapshotId
    // the rewrite a compaction would produce from the state at `base`
    val compacted = writeRows(cat.readTable(spark, "c", "t")
      .filter(col("id") <= 8L))
    // the racing append lands first...
    val racedRows = Seq((100L, "raced")).toDF("id", "v")
    cat.registerFiles("c", "t", Seq(writeRows(racedRows)))
    // ...then the overwrite commits against its stale base and folds
    cat.registerFiles("c", "t", Seq(compacted), operation = "overwrite",
      baseSnapshotId = Some(base))
    val live = cat.readTable(spark, "c", "t")
    assert(live.filter(col("id") === 100L).count() === 1L,
      "the raced-in append's row is missing from the live state")
    assert(live.count() === 9L)
    val last = cat.snapshots("c", "t").map(_.id).max
    val net = cat.readChangelog(spark, "c", "t", 0L, last)
      .groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n"))
      .filter(col("n") =!= 0L)
    val liveCounts = live.groupBy("id", "v").agg(count(lit(1)).as("n"))
    assert(net.exceptAll(liveCounts).isEmpty &&
      liveCounts.exceptAll(net).isEmpty,
      "changelog does not replay to the live table across the folded race")
  }

  test("replay law: inserts minus deletes over the full history == the live table, multiset-exactly") {
    import spark.implicits._
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = (1L to 12L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    graft.etl.Merge.deleteWherePos(spark, cat, "c", "t", col("id") % 4 === 0)
    graft.etl.Merge.deleteWhereMor(spark, cat, "c", "t", col("id") === 1L,
      Seq("id"))
    graft.etl.Merge.mergeIntoMor(spark, cat, "c", "t",
      Seq((2L, "v2-new"), (99L, "v99")).toDF("id", "v"), Seq("id"))
    graft.etl.Merge.deleteWhere(spark, cat, "c", "t", col("id") === 3L)
    val last = cat.snapshots("c", "t").map(_.id).max
    val chg = cat.readChangelog(spark, "c", "t", 0L, last)
    // multiset replay: +1 per insert, -1 per delete, per full row value
    val net = chg.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n"))
      .filter(col("n") =!= 0L)
    val live = cat.readTable(spark, "c", "t")
      .groupBy("id", "v").agg(count(lit(1)).as("n"))
    assert(net.exceptAll(live).isEmpty && live.exceptAll(net).isEmpty,
      "changelog does not replay to the live table")
    // ordinals are dense and snapshot-ordered
    val ords = chg.select("_change_ordinal").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ords.head == 1L &&
      ords.toSeq == (ords.head to ords.last).toSeq)
  }

  test("one-commit position upsert: tuples into prior files emit deletes, same-snapshot adds emit inserts") {
    import spark.implicits._
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    val base = cat.snapshots("c", "t").map(_.id).max
    // the documented legal shape: ONE commit that position-deletes the
    // old version of id=1 and adds its replacement file
    val doomed = cat.readTableWithPositions(spark, "c", "t")
      .filter(col("id") === 1L)
      .select(col(PosFileCol).as("file_path"), col(PosIdxCol).as("pos"))
    val delDir = scratchDir("chg_del")
    doomed.coalesce(1).write.mode("overwrite")
      .parquet(delDir.resolve("d").toString)
    cat.commitPositionDeletes("c", "t",
      Seq(delDir.resolve("d")), Seq(writeRows(Seq((1L, "a2")).toDF("id", "v"))))
    val last = cat.snapshots("c", "t").map(_.id).max
    val chg = cat.readChangelog(spark, "c", "t", base, last)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(chg === Set((1L, "a", "delete"), (1L, "a2", "insert")),
      s"position-upsert changelog wrong: $chg")
    // and the table itself agrees
    assert(cat.readTable(spark, "c", "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a2"), (2L, "b")))
  }

  test("overlapping position-delete tuples never re-emit an already-dead row") {
    import spark.implicits._
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    // capture RAW positions once — Merge.deleteWherePos never overlaps,
    // but commitPositionDeletes is a public surface: a caller may stack
    // a tuple that re-references an already-deleted (file, pos)
    val pos = cat.readTableWithPositions(spark, "c", "t")
      .select(col("id"), col(PosFileCol).as("file_path"),
        col(PosIdxCol).as("pos")).persist()
    def commitTuples(ids: Long*): Unit = {
      val d = scratchDir("chg_ovl")
      pos.filter(col("id").isInCollection(ids)).select("file_path", "pos")
        .coalesce(1).write.mode("overwrite").parquet(d.resolve("d").toString)
      cat.commitPositionDeletes("c", "t", Seq(d.resolve("d")))
      ()
    }
    commitTuples(1L)     // s2: kills id=1
    commitTuples(1L, 2L) // s3: overlaps the dead id=1, kills id=2
    pos.unpersist()
    val last = cat.snapshots("c", "t").map(_.id).max
    val chg = cat.readChangelog(spark, "c", "t", 0L, last)
    val dels = chg.filter(col("_change_type") === "delete")
      .select("id", "_change_ordinal").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // id=1 dies ONCE (at its first tombstone's ordinal) — the stacked
    // tuple must not re-emit it, or the multiset replay law breaks
    // while readTable (idempotent anti-join) stays correct
    assert(dels === Seq((1L, 2L), (2L, 3L)),
      s"stacked tuples re-emitted a dead row: $dels")
    val net = chg.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n")).filter(col("n") =!= 0L)
    val live = cat.readTable(spark, "c", "t")
      .groupBy("id", "v").agg(count(lit(1)).as("n"))
    assert(net.exceptAll(live).isEmpty && live.exceptAll(net).isEmpty,
      "replay law broken under overlapping position tuples")
  }

  test("staged WAP snapshots never leak into the changelog; published ones do") {
    import spark.implicits._
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    val stagedId = cat.stageAppend("c", "t",
      Seq(writeRows(Seq((2L, "b")).toDF("id", "v"))))
    val last = cat.snapshots("c", "t").map(_.id).max
    val preTypes = cat.readChangelog(spark, "c", "t", 0L, math.max(last, stagedId))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(preTypes === Set(1L), "an unpublished staged append leaked")
    cat.publishSnapshot("c", "t", stagedId)
    val post = cat.readChangelog(spark, "c", "t", 0L, stagedId)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(post === Set(1L, 2L))
  }

  test("a base snapshot folded away by expiration refuses instead of double-counting") {
    import spark.implicits._
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))                 // s1
    cat.registerFiles("c", "t", Seq(writeRows(Seq((2L, "b")).toDF("id", "v")))) // s2
    cat.registerFiles("c", "t", Seq(writeRows(Seq((3L, "c")).toDF("id", "v")))) // s3
    cat.expireSnapshots("c", "t", keepLast = 1)
    val last = cat.snapshots("c", "t").map(_.id).max
    // a consumer who had processed through the (now expired) snapshot 1
    // must be refused — the boundary checkpoint would replay rows 1-2
    // as fresh inserts
    val refused =
      try { cat.readChangelog(spark, "c", "t", 1L, last); false }
      catch { case _: IllegalArgumentException => true }
    assert(refused, "changelog over an expired base must refuse")
    // a FRESH consumer still gets a correct folded-from-empty replay
    val fresh = cat.readChangelog(spark, "c", "t", 0L, last)
    val net = fresh.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n")).filter(col("n") =!= 0L)
    val live = cat.readTable(spark, "c", "t")
      .groupBy("id", "v").agg(count(lit(1)).as("n"))
    assert(net.exceptAll(live).isEmpty && live.exceptAll(net).isEmpty)
  }

  test("streaming changelog: replay law holds across drains, exactly-once, expired view refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("chg_stream")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.createNamespace("c")
    val rows = (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    graft.etl.Merge.deleteWherePos(spark, cat, "c", "t", col("id") % 4 === 0)
    var mirror = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rows.schema)
    var served = 0L
    def drain(): Unit = {
      val q = cat.streamChangelog(spark, "c", "t")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bb = b.localCheckpoint()
          served += bb.count()
          val ords = bb.select("_change_ordinal").distinct()
            .collect().map(_.getLong(0)).sorted
          ords.foreach { o =>
            val sn = bb.filter(col("_change_ordinal") === o)
            mirror = mirror
              .unionByName(sn.filter(col("_change_type") === "insert")
                .drop("_change_type", "_change_ordinal"))
              .exceptAll(sn.filter(col("_change_type") === "delete")
                .drop("_change_type", "_change_ordinal"))
              .localCheckpoint()
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q.awaitTermination() finally q.stop()
    }
    drain()
    val afterWave1 = served
    def liveEq(): Boolean = {
      val live = cat.readTable(spark, "c", "t")
      mirror.exceptAll(live).isEmpty && live.exceptAll(mirror).isEmpty
    }
    assert(liveEq(), "streamed mirror diverged after wave 1")
    // DML while the consumer is down; the second drain over the SAME
    // checkpoint serves exactly the delta (exactly-once)
    graft.etl.Merge.mergeIntoMor(spark, cat, "c", "t",
      Seq((2L, "v2-new"), (99L, "v99")).toDF("id", "v"), Seq("id"))
    drain()
    assert(liveEq(), "streamed mirror diverged after wave 2")
    assert(served === afterWave1 + 3L, // upsert delete+insert + new insert
      s"re-served rows: wave2 delta was ${served - afterWave1}, want 3")
    // an idle drain re-serves nothing
    drain()
    assert(served === afterWave1 + 3L)
    // a view that pre-dates expiration must refuse, never double-count:
    // expire history under the materialized view, then demand a sync
    graft.etl.Merge.materialize(spark, cat, "c", "t") // expire needs no debt
    cat.expireSnapshots("c", "t", keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      cat.streamChangelog(spark, "c", "t")
    }
    assert(e.getMessage.contains("reset the view"))
  }

  test("expiration prunes the changelog view's storage; a caught-up drain is unaffected; stale view still refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("chg_retain")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    cat.createNamespace("c")
    val rows = (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))                  // s1
    graft.etl.Merge.deleteWherePos(spark, cat, "c", "t", col("id") % 4 === 0) // s2
    var mirror = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rows.schema)
    def drain(): Long = {
      var served = 0L
      val q = cat.streamChangelog(spark, "c", "t")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bb = b.localCheckpoint()
          served += bb.count()
          val ords = bb.select("_change_ordinal").distinct()
            .collect().map(_.getLong(0)).sorted
          ords.foreach { o =>
            val sn = bb.filter(col("_change_ordinal") === o)
            mirror = mirror
              .unionByName(sn.filter(col("_change_type") === "insert")
                .drop("_change_type", "_change_ordinal"))
              .exceptAll(sn.filter(col("_change_type") === "delete")
                .drop("_change_type", "_change_ordinal"))
              .localCheckpoint()
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q.awaitTermination() finally q.stop()
      served
    }
    drain()
    graft.etl.Merge.materialize(spark, cat, "c", "t")                  // s3
    drain() // consumer is CAUGHT UP through the retained head
    def liveEq(): Boolean = {
      val live = cat.readTable(spark, "c", "t")
      mirror.exceptAll(live).isEmpty && live.exceptAll(mirror).isEmpty
    }
    assert(liveEq())
    val viewDir = java.nio.file.Paths.get(cat.warehouse, "c", "t", "changelogview")
    def viewParquets(prefix: String): Long = {
      val s = Files.walk(viewDir)
      try s.iterator().asScala.count(p =>
        p.toString.contains(s"/$prefix") && p.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
    assert(viewParquets("sn1") > 0 && viewParquets("sn2") > 0)
    // observability BEFORE the prune: all materialized dirs live, none
    // pruned, bytes > 0
    val pre = cat.changelogViewStats("c", "t")
    assert(pre.materializedDirs === 3 && pre.prunedDirs === 0)
    assert(pre.liveBytes > 0L && pre.liveFiles > 0L)
    assert(pre.prunedThroughSnapshot === 0L && pre.maxSnapshot === 3L)
    cat.expireSnapshots("c", "t", keepLast = 1) // boundary = s2
    // the expired snapshots' view CONTENT is gone (storage pruned)...
    assert(viewParquets("sn1") === 0 && viewParquets("sn2") === 0,
      "expired view dirs kept their parquet content")
    // ...and the stats report the reclaim: 2 pruned dirs, boundary id 2,
    // fewer live bytes than before, the retained head still counted
    val post = cat.changelogViewStats("c", "t")
    assert(post.materializedDirs === 3 && post.prunedDirs === 2)
    assert(post.prunedThroughSnapshot === 2L && post.maxSnapshot === 3L)
    assert(post.liveBytes < pre.liveBytes && post.liveBytes > 0L)
    // ...their dir NAMES remain as materialization evidence...
    assert(Files.exists(viewDir.resolve("sn1")) &&
      Files.exists(viewDir.resolve("sn2")))
    // ...the retained snapshot's view rows survive...
    assert(viewParquets("sn3") > 0)
    // ...and the caught-up consumer's next drain serves nothing new and
    // stays live-equal
    assert(drain() === 0L, "a caught-up drain re-served rows after pruning")
    assert(liveEq(), "mirror diverged after view pruning")
    // new commits keep flowing to the same consumer
    graft.etl.Merge.mergeIntoMor(spark, cat, "c", "t",
      Seq((99L, "v99")).toDF("id", "v"), Seq("id"))
    assert(drain() > 0L)
    assert(liveEq())
    // a STALE view still refuses from-empty re-materialization AFTER
    // pruning — the evidence dirs (names) are what the refusal keys on,
    // so deleting only their content must not lose that protection:
    // materialize (never synced into the view) + expire everything else,
    // then demand a sync — the retained head would materialize from
    // empty over a populated (pruned) view
    graft.etl.Merge.materialize(spark, cat, "c", "t")
    cat.expireSnapshots("c", "t", keepLast = 1)
    val e = intercept[IllegalArgumentException] {
      cat.syncChangelogView(spark, "c", "t")
    }
    assert(e.getMessage.contains("reset the view"))
  }

  test("empty range yields an empty frame with the changelog schema") {
    import spark.implicits._
    val cat = freshCat()
    cat.createNamespace("c")
    val rows = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("c", "t", rows.schema)
    cat.registerFiles("c", "t", Seq(writeRows(rows)))
    val chg = cat.readChangelog(spark, "c", "t", 1L, 1L)
    assert(chg.count() === 0L)
    assert(chg.columns.toSeq === Seq("id", "v", "_change_type", "_change_ordinal"))
  }
}
