package graft.catalog

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.{SparkSpec, Tables}
import graft.operators.IvfPq
import org.apache.spark.sql.functions._

/** CROSS-PROCESS commit races — the one layer the same-JVM thread specs
  * (GraftCatalogSpec, VectorMaintenanceSpec) cannot reach: production
  * writers on one warehouse are separate Spark APPLICATIONS (a compaction
  * job racing a streaming maintainer), and the catalog doc's claim that
  * cross-JVM writers are "serialized by the catalog's optimistic version
  * claim" (Stamp.scala) rests on O_EXCL-create + atomic-rename semantics
  * that only a real second process exercises. Each test forks
  * [[CrossJvmWorker]] with plain `java` on the test classpath:
  *
  *  1. FOLD — a second process's appendCodes lands inside compactIndex's
  *     commit window: the base-carried overwrite folds the foreign
  *     append's files in, no row lost.
  *  2. STRICT — the same foreign append inside a model-changing
  *     buildIndex rebuild: loud ConcurrentOverwriteException, never
  *     old-model codes folded into the new quantizer; metadata stays
  *     parseable.
  *  3. STORM — 3 foreign processes × N plain commits racing in-test
  *     commits on one table: every commit lands exactly once, every
  *     metadata version parses, no torn/empty version file wins.
  *
  * Reference frame: ImportParquetFolders.java:102-117 commits through
  * Iceberg's HadoopCatalog optimistic retry, multi-process by contract.
  */
class CrossJvmRaceSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def freshWh(): String = {
    val base = scratchDir("xjvm")
    base.resolve("wh").toString
  }

  /** Fork CrossJvmWorker as a REAL second JVM on the test classpath.
    * Returns (exitCode, stdout). */
  private def fork(args: Seq[String], timeoutSec: Long = 240): (Int, String) = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(java, "-Xmx2g", "-XX:+IgnoreUnrecognizedVMOptions") ++
      addOpens ++ Seq("-cp", sys.props("java.class.path"),
        "graft.catalog.CrossJvmWorker") ++ args)
    val out = Files.createTempFile(
      graft.queries.Fixtures.root, "xjvm_out", ".txt")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(false)
      .redirectOutput(out.toFile)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
    val p = pb.start()
    assert(p.waitFor(timeoutSec, TimeUnit.SECONDS),
      s"forked worker ${args.head} did not finish in ${timeoutSec}s")
    (p.exitValue(), Files.readString(out))
  }

  test("a second process's append folds into compactIndex's overwrite — no row lost") {
    val wh = freshWh()
    val cat = new GraftCatalog(wh)
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val before = cat.readTable(spark, "vec", "emb_ivfpq_codes").count()
    var forked: (Int, String) = (-1, "")
    graft.etl.VectorMaintenance.compactIndex(spark, cat, "vec", "emb",
      interleave = { () =>
        forked = fork(Seq("append-codes", wh, "vec", "emb", "900000", "12"))
      })
    assert(forked._1 === 0, s"foreign appender failed: ${forked._2}")
    assert(forked._2.contains("OK"))
    // the foreign append's 12 rows survived the racing overwrite
    val ids = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id").as[Long].collect().toSet
    assert((900000L until 900012L).forall(ids),
      "cross-process appended rows were erased by the compaction commit")
    assert(ids.size === before.toInt + 12)
    // raw store kept pace (the re-rank sync guard's invariant)
    val rawIds = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .select("vec_id").as[Long].collect().toSet
    assert((900000L until 900012L).forall(rawIds))
    // and a search over the merged state still serves
    val probe = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .filter(col("vec_id") === 900005L)
      .select("embedding").head().getSeq[Float](0)
    val res = IvfPq.search(spark, cat, "vec", "emb",
      cat.readTable(spark, "vec", "emb_ivfpq_raw")
        .select(col("vec_id"), col("embedding")),
      900005L, probe, k = 3)
    assert(res.count() === 3)
  }

  test("a second process's append inside a STRICT rebuild refuses loudly; metadata intact") {
    val wh = freshWh()
    val cat = new GraftCatalog(wh)
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    var forked: (Int, String) = (-1, "")
    val e = intercept[ConcurrentOverwriteException] {
      IvfPq.buildIndex(spark, cat, "vec", "emb", emb, interleave = { () =>
        forked = fork(Seq("append-codes", wh, "vec", "emb", "910000", "8"))
      })
    }
    assert(e.getMessage.contains("conflicts"))
    // the foreign append itself committed fine (it raced and won)
    assert(forked._1 === 0, s"foreign appender failed: ${forked._2}")
    // no torn metadata anywhere: every table in the namespace reloads
    for (t <- cat.listTables("vec"))
      assert(cat.loadTable("vec", t).name === t)
    // the racing append's codes are in the table (the rebuild refused,
    // nothing of the winner was erased)
    val ids = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id").as[Long].collect().toSet
    assert((910000L until 910008L).forall(ids))
  }

  test("a process KILLED between the raw and codes commits heals on re-run — exactly once") {
    // the torn-append crash story, cross-process: worker 1 is halted
    // (Runtime.halt — no finally, no shutdown hooks) after its raw
    // commit landed and before its codes commit; worker 2 re-runs the
    // SAME content from a fresh JVM. The content-fingerprint replay tag
    // must make the re-run commit ONLY the missing codes half — a blind
    // re-commit would duplicate the raw rows and trip the re-rank sync
    // guard on every later search.
    val wh = freshWh()
    val cat = new GraftCatalog(wh)
    IvfPq.buildIndex(spark, cat, "vec", "emb", emb)
    val before = cat.readTable(spark, "vec", "emb_ivfpq_codes").count()
    val (rc1, _) = fork(Seq("append-codes-torn", wh, "vec", "emb", "920000", "9"))
    assert(rc1 === 137, "torn worker must die at the halt seam")
    // torn state on disk: raw half committed, codes half missing
    val rawIds1 = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .select("vec_id").as[Long].collect().toSet
    assert((920000L until 920009L).forall(rawIds1), "raw half must have landed")
    val codeIds1 = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id").as[Long].collect().toSet
    assert(!(920000L until 920009L).exists(codeIds1), "codes half must be missing")
    // the heal: same content, fresh process, same fingerprint tag
    val (rc2, out2) = fork(Seq("append-codes", wh, "vec", "emb", "920000", "9"))
    assert(rc2 === 0, s"healing re-run failed: $out2")
    // exactly once on BOTH halves
    val codes = cat.readTable(spark, "vec", "emb_ivfpq_codes")
      .select("vec_id").as[Long].collect()
    assert(codes.length === codes.distinct.length, "duplicate code rows after heal")
    assert((920000L until 920009L).forall(codes.toSet), "codes half not healed")
    assert(codes.length === before.toInt + 9)
    val raw = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .select("vec_id").as[Long].collect()
    assert(raw.length === raw.distinct.length, "raw half was double-committed")
    // and a search through the healed id serves without tripping the
    // sync guard
    val probe = cat.readTable(spark, "vec", "emb_ivfpq_raw")
      .filter(col("vec_id") === 920004L)
      .select("embedding").head().getSeq[Float](0)
    assert(IvfPq.search(spark, cat, "vec", "emb",
      cat.readTable(spark, "vec", "emb_ivfpq_raw")
        .select(col("vec_id"), col("embedding")),
      920004L, probe, k = 3).count() === 3)
  }

  test("two processes syncing one changelog view: write-once survives, replay law holds") {
    // the production CDC shape: two independent consumers (separate
    // Spark apps) each call syncChangelogView on the same table — the
    // atomic-rename publish must absorb the cross-PROCESS collision
    // (same snapshot, deterministic content) leaving exactly one copy
    // of every snapshot's rows, and the materialized view must satisfy
    // the replay law: inserts minus deletes == the live table.
    import org.apache.spark.sql.functions.col
    val wh = freshWh()
    val cat = new GraftCatalog(wh)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.createTable("c", "t", df.schema)
    val tmp = scratchDir("xjvm_cl")
    df.coalesce(1).write.parquet(tmp.resolve("r1").toString)
    cat.registerFiles("c", "t", Seq(tmp.resolve("r1")))            // s1
    graft.etl.Merge.deleteWherePos(spark, cat, "c", "t",
      col("id") === 2L)                                            // s2
    graft.etl.Merge.mergeIntoMor(spark, cat, "c", "t",
      Seq((3L, "c2"), (9L, "z")).toDF("id", "v"), Seq("id"))       // s3
    // two REAL processes race the sync; the in-test session joins in
    val t1 = new Thread(() => {
      val (rc, out) = fork(Seq("sync-changelog", wh, "c", "t"))
      assert(rc === 0, s"foreign syncer 1 failed: $out")
    })
    val t2 = new Thread(() => {
      val (rc, out) = fork(Seq("sync-changelog", wh, "c", "t"))
      assert(rc === 0, s"foreign syncer 2 failed: $out")
    })
    t1.start(); t2.start()
    cat.syncChangelogView(spark, "c", "t")
    t1.join(300000); t2.join(300000)
    assert(!t1.isAlive && !t2.isAlive, "a foreign syncer hung")
    // exactly one materialized dir per snapshot, none torn
    val stats = cat.changelogViewStats("c", "t")
    assert(stats.materializedDirs === 3 && stats.prunedDirs === 0)
    // replay law over the materialized view (the file stream's source
    // of truth): fold inserts minus deletes == live state
    val viewDir = Paths.get(wh, "c", "t", "changelogview")
    val all = spark.read.option("recursiveFileLookup", "true")
      .parquet(viewDir.toString)
    val ins = all.filter(col("_change_type") === "insert")
      .select("id", "v")
    val del = all.filter(col("_change_type") === "delete")
      .select("id", "v")
    val folded = ins.exceptAll(del)
    val live = cat.readTable(spark, "c", "t")
    assert(folded.exceptAll(live).isEmpty && live.exceptAll(folded).isEmpty,
      "cross-process view sync broke the changelog replay law")
  }

  test("commit storm: 3 foreign processes + in-test writer, no lost or torn commit") {
    val wh = freshWh()
    val cat = new GraftCatalog(wh)
    val df = Seq((1L, "a")).toDF("id", "v")
    cat.createTable("c", "t", df.schema)
    val fdir = scratchDir("xjvm_f")
    df.coalesce(1).write.mode("overwrite").parquet(fdir.toString)
    val file = Fs.regularFiles(fdir, Seq(".parquet")).head
    val perWorker = 20
    val workers = (1 to 3).map { _ =>
      new Thread(() => {
        val (rc, out) = fork(Seq("storm", wh, "c", "t",
          perWorker.toString, file.toString))
        assert(rc === 0, s"storm worker failed: $out")
      })
    }
    workers.foreach(_.start())
    // in-test writer races them on the same table (4 writers total)
    val meta = GraftCatalog.statOne(file.toAbsolutePath.toString)
    var done = 0
    while (done < perWorker) {
      try { cat.append("c", "t", Seq(meta)); done += 1 }
      catch { case _: CommitConflictException => () }
    }
    workers.foreach(_.join(300000))
    assert(workers.forall(!_.isAlive), "a storm worker hung")
    val loaded = cat.loadTable("c", "t")
    // exactly 4×20 commits landed — none lost, none doubled
    assert(loaded.snapshots.size === 4 * perWorker)
    assert(loaded.snapshots.map(_.id).distinct.size === 4 * perWorker)
    assert(loaded.snapshots.flatMap(_.addedFiles).size === 4 * perWorker)
    // every metadata version on disk is complete, parseable JSON
    val md = Paths.get(wh, "c", "t", "metadata")
    val versions = Fs.list(md).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(versions.size === 4 * perWorker + 1) // +1 = the create commit
    versions.foreach { v =>
      val txt = Files.readString(md.resolve(v))
      assert(txt.nonEmpty, s"torn empty metadata $v")
      val parsed = org.json4s.jackson.JsonMethods.parse(txt)
      assert((parsed \ "name") !== org.json4s.JNothing, s"unparseable $v")
    }
  }
}
