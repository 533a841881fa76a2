package graft.catalog

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Catalog semantics per the reference (FIXTURES.md §2): create → append →
  * snapshot → time-travel → drop; first-file-wins schema; .prq extension;
  * empty-folder skip; per-folder error isolation.
  */
class GraftCatalogSpec extends SparkSpec {

  private def idRange(cat: GraftCatalog, lo: Double, hi: Double) = {
    val meta = cat.loadTable("nyc", "t")
    cat.planFiles(meta, None,
      Seq(Partitioning.between(meta.schema, "id", lo, hi)))
  }
  private def nameBetween(lo: String, hi: String) =
    Seq(sources.And(sources.GreaterThanOrEqual("name", lo),
      sources.LessThanOrEqual("name", hi)))
  private def nameRange(cat: GraftCatalog, lo: String, hi: String) =
    cat.planFiles(cat.loadTable("nyc", "ts"), None, nameBetween(lo, hi))

  private def freshDirs() = {
    val base = scratchDir("cat_spec")
    val data = base.resolve("data"); Files.createDirectories(data)
    val wh = base.resolve("warehouse"); Files.createDirectories(wh)
    (data, wh)
  }

  private def writeParquet(path: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  import scala.jdk.CollectionConverters._

  private def singleFile(dir: String): java.nio.file.Path =
    Files.list(Paths.get(dir)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get

  test("create/load/exists/drop round-trip") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true)))
    cat.createTable("ns1", "t1", schema)
    assert(cat.tableExists("ns1", "t1"))
    val meta = cat.loadTable("ns1", "t1")
    assert(meta.schema === schema)
    assert(meta.snapshots.isEmpty)
    assert(cat.dropTable("ns1", "t1"))
    assert(!cat.tableExists("ns1", "t1"))
  }

  test("append snapshots accumulate and time travel prunes files") {
    import spark.implicits._
    val (data, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    val fileA = data.resolve("a.parquet").toString
    val fileB = data.resolve("b.parquet").toString
    writeParquet(fileA, Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    writeParquet(fileB, Seq((3L, "z")).toDF("id", "v"))
    val pa = singleFile(fileA); val pb = singleFile(fileB)

    cat.createTable("ns", "t", spark.read.parquet(fileA).schema)
    cat.append("ns", "t", Seq(DataFileMeta(pa.toString, Files.size(pa),
      cat.footerRowCount(pa))))
    cat.append("ns", "t", Seq(DataFileMeta(pb.toString, Files.size(pb),
      cat.footerRowCount(pb))))

    val snaps = cat.snapshots("ns", "t")
    assert(snaps.map(_.id) === Seq(1L, 2L))
    assert(snaps.head.addedFiles.head.rowCount === 2L)
    assert(cat.readTable(spark, "ns", "t", asOf = Some(1L)).count() === 2L)
    assert(cat.readTable(spark, "ns", "t").count() === 3L)
    assert(cat.files("ns", "t").map(_.rowCount).sum === 3L)
  }

  test("importFolders: folder→table, .prq accepted, empty skipped, errors isolated") {
    import spark.implicits._
    val (data, wh) = freshDirs()
    writeParquet(data.resolve("TableA").toString, Seq(1L, 2L, 3L).toDF("id"))
    // .prq extension (ImportParquetFolders.java:123-126)
    writeParquet(data.getParent.resolve("tmp_b").toString, Seq(4L).toDF("id"))
    val bDir = data.resolve("b"); Files.createDirectories(bDir)
    val src = Files.list(data.getParent.resolve("tmp_b")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(src, bDir.resolve("data.prq"))
    Files.createDirectories(data.resolve("empty_one")) // must be skipped
    // a "bad" folder: parquet-named file with garbage bytes (isolation)
    val bad = data.resolve("badt"); Files.createDirectories(bad)
    Files.write(bad.resolve("junk.parquet"), "not parquet".getBytes)

    val cat = new GraftCatalog(wh.toString)
    val out = cat.importFolders(spark, data.toString)
    val byTable = out.map(r => r.table -> r.rows).toMap
    assert(byTable.get("tablea").contains(3L)) // lower-cased name
    assert(byTable.get("b").contains(1L))
    assert(!byTable.contains("empty_one"))
    assert(!byTable.contains("badt")) // isolated, not thrown
    assert(cat.listTables("nyc").toSet === Set("tablea", "b"))
    assert(cat.namespaceExists("default"))
  }

  test("import handles TIMESTAMP(NANOS) parquet without any session conf") {
    // round-1 bug: spark.read-based schema inference threw
    // PARQUET_TYPE_ILLEGAL on events.parquet unless an earlier query had
    // leaked spark.sql.legacy.parquet.nanosAsLong into the shared session,
    // and per-folder isolation silently swallowed the failure — the table
    // just vanished. Footer-based inference must import it standalone.
    // synthesized NANOS fixture: the driver testdata no longer carries
    // NANOS (round 7 regenerated it as MICROS), so the regression is
    // pinned on a file this test writes itself
    assert(!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
    val (data, wh) = freshDirs()
    val edir = data.resolve("events")
    graft.TsUnitFixture.writeEvents(edir, "NANOS", rows = 1000)
    val cat = new GraftCatalog(wh.toString)
    val out = cat.importFolders(spark, data.toString)
    assert(out.map(_.table) === Seq("events"))
    val schema = cat.loadTable("nyc", "events").schema
    assert(schema("ts").dataType === LongType) // NANOS → BIGINT, like Iceberg
    assert(cat.readTable(spark, "nyc", "events").count() === 1000)
  }

  test("import reads a TIMESTAMP(MICROS) footer natively as TIMESTAMP_NTZ") {
    // the round-7 driver fixture's actual shape: µs NTZ must come through
    // Spark's own inference (no BIGINT fallback, no session conf)
    val (data, wh) = freshDirs()
    val edir = data.resolve("events")
    graft.TsUnitFixture.writeEvents(edir, "MICROS", rows = 100)
    val cat = new GraftCatalog(wh.toString)
    cat.importFolders(spark, data.toString)
    val schema = cat.loadTable("nyc", "events").schema
    assert(schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(cat.readTable(spark, "nyc", "events").count() === 100)
  }

  test("schema is fixed by the FIRST file; no merge") {
    import spark.implicits._
    val (data, wh) = freshDirs()
    val tdir = data.resolve("t1"); Files.createDirectories(tdir)
    writeParquet(data.getParent.resolve("tmp1").toString, Seq(1L).toDF("id"))
    writeParquet(data.getParent.resolve("tmp2").toString,
      Seq((2L, "extra")).toDF("id", "more"))
    val f1 = Files.list(data.getParent.resolve("tmp1")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    val f2 = Files.list(data.getParent.resolve("tmp2")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    // name files so the narrow one sorts first (first-file-wins)
    Files.copy(f1, tdir.resolve("0_first.parquet"))
    Files.copy(f2, tdir.resolve("1_second.parquet"))
    val cat = new GraftCatalog(wh.toString)
    cat.importFolders(spark, data.toString)
    val schema = cat.loadTable("nyc", "t1").schema
    assert(schema.fieldNames.toSeq === Seq("id")) // narrow first file wins
  }

  test("distributed stat pass: identical DataFileMeta; 1k-file import uses it") {
    val (data, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    // 1100 one-row files — crosses DistributedStatThreshold (256) so
    // importFolders takes the Spark-job stat path
    val tdir = data.resolve("bulk")
    import spark.implicits._
    // partitionBy: one directory (one file) per key — a deterministic
    // 1100-file tree (findParquet walks recursively)
    spark.range(1100).select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("id").as("bucket"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("v"),
          org.apache.spark.sql.functions.col("id")).as("name"))
      .write.partitionBy("bucket").parquet(tdir.toString)
    val files = cat.findParquet(tdir)
    assert(files.size >= 1000, s"fixture produced only ${files.size} files")
    // both stat paths produce byte-identical manifest entries, in order
    val sample = files.take(300)
    val pooled = cat.statFiles(sample)
    val dist = cat.statFilesDistributed(spark, sample)
    assert(dist === pooled)
    // end-to-end: the import (distributed path) records exact counts
    val summary = cat.importFolders(spark, data.toString)
    assert(summary.map(s => (s.table, s.files, s.rows)) ===
      Seq(("bulk", files.size.toLong, 1100L)))
    assert(cat.readTable(spark, "nyc", "bulk").count() === 1100L)
  }

  test("footer min/max stats enable file skipping; statless files are kept") {
    import spark.implicits._
    val (data, wh) = freshDirs()
    val tdir = data.resolve("t"); Files.createDirectories(tdir)
    Seq(1L, 5L, 10L).toDF("id").coalesce(1)
      .write.parquet(data.getParent.resolve("f1").toString)
    Seq(11L, 20L).toDF("id").coalesce(1)
      .write.parquet(data.getParent.resolve("f2").toString)
    Seq(21L, 30L).toDF("id").coalesce(1)
      .write.parquet(data.getParent.resolve("f3").toString)
    Seq("f1", "f2", "f3").foreach { n =>
      val f = Files.list(data.getParent.resolve(n)).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(f, tdir.resolve(s"$n.parquet"))
    }
    val cat = new GraftCatalog(wh.toString)
    cat.importFolders(spark, data.toString)

    val hit = idRange(cat, 12, 15)
    assert(hit.size === 1 && hit.head.path.endsWith("f2.parquet"))
    assert(cat.readTable(spark, "nyc", "t", filters =
      Seq(Partitioning.between(cat.loadTable("nyc", "t").schema, "id", 12, 15))).count() === 2) // file rows
    assert(idRange(cat, 0, 100).size === 3)
    assert(idRange(cat, 500, 600).isEmpty)
    // a file registered without stats is never skipped
    cat.append("nyc", "t", Seq(DataFileMeta(
      tdir.resolve("f1.parquet").toString, 1L, 3L)))
    assert(idRange(cat, 500, 600).size === 1)
  }

  test("truncated string footer bounds enable file skipping") {
    import spark.implicits._
    val (data, wh) = freshDirs()
    val tdir = data.resolve("ts"); Files.createDirectories(tdir)
    // one file of short names, one whose strings exceed the 16-char
    // truncation threshold — bounds must stay conservative after truncation
    Seq("apple", "banana", "cherry").toDF("name").coalesce(1)
      .write.parquet(data.getParent.resolve("s1").toString)
    Seq("zebra-" + "x" * 20, "zulu-" + "y" * 20).toDF("name").coalesce(1)
      .write.parquet(data.getParent.resolve("s2").toString)
    Seq("s1", "s2").foreach { n =>
      val f = Files.list(data.getParent.resolve(n)).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(f, tdir.resolve(s"$n.parquet"))
    }
    val cat = new GraftCatalog(wh.toString)
    cat.importFolders(spark, data.toString)
    // predicate on the low half prunes the zebra/zulu file
    val hit = nameRange(cat, "a", "m")
    assert(hit.size === 1 && hit.head.path.endsWith("s1.parquet"))
    // the truncated max is still a valid upper bound: a lower bound equal
    // to the 16-char prefix (true values extend past it) keeps the file
    assert(nameRange(cat, "zulu-" + "y" * 11, "zz").size === 1)
    assert(nameRange(cat, "a", "zzzz").size === 2)
    assert(cat.readTable(spark, "nyc", "ts", filters = nameBetween("a", "m"))
      .count() === 3)
    // bounds themselves are truncated to 16 chars
    val rg = cat.files("nyc", "ts").flatMap(_.strRanges).flatMap(_.get("name"))
    assert(rg.forall(r => r.min.length <= 16 && r.max.length <= 17))
    // a file registered without string stats is never skipped
    cat.append("nyc", "ts", Seq(DataFileMeta(
      tdir.resolve("s1.parquet").toString, 1L, 3L)))
    assert(nameRange(cat, "qq", "qr").size === 1)
  }

  test("string bound truncation laws hold on generated strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    // strings over an alphabet that includes Char.MaxValue so the
    // saturation branch is actually generated
    val g = Gen.listOf(Gen.oneOf('a', 'b', 'z', '0', Char.MaxValue, 'µ'))
      .map(_.mkString)
    val samples = (0 until 300).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))
    samples.foreach { s0 =>
      val mn = cat.truncateMin(s0)
      assert(mn.length <= 16)
      assert(mn <= s0, s"truncateMin must be a lower bound: '$mn' > '$s0'")
      cat.truncateMax(s0).foreach { mx =>
        assert(mx.length <= 16)
        assert(mx >= s0, s"truncateMax must be an upper bound: '$mx' < '$s0'")
      }
      // un-incrementable prefixes are the ONLY case with no upper bound
      if (cat.truncateMax(s0).isEmpty)
        assert(s0.take(16).forall(_ == Char.MaxValue) && s0.length > 16)
    }
  }

  test("string bound truncation: prefix min, incremented max, saturation") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    assert(cat.truncateMin("short") === "short")
    assert(cat.truncateMin("a" * 30) === "a" * 16)
    assert(cat.truncateMax("short") === Some("short"))
    // 16-char prefix with last char bumped: strictly above every "a…a" string
    assert(cat.truncateMax("a" * 30) === Some("a" * 15 + "b"))
    // un-incrementable prefix: no upper bound recordable
    assert(cat.truncateMax(Char.MaxValue.toString * 20) === None)
    // bump happens at the LAST incrementable char, tail dropped
    assert(cat.truncateMax("ab" + Char.MaxValue.toString * 20) === Some("ac"))
  }

  test("racing appends all land via optimistic-commit retry") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    cat.createTable("ns", "t", StructType(Seq(StructField("id", LongType))))
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        try cat.append("ns", "t", Seq(DataFileMeta(s"/f$i.parquet", i.toLong, i.toLong)))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(errs.isEmpty, s"appends failed: ${errs.toArray.mkString(", ")}")
    val snaps = cat.snapshots("ns", "t")
    assert(snaps.size === 6)
    assert(snaps.map(_.id) === (1L to 6L))
    // every thread's file is present exactly once — no lost update
    assert(cat.files("ns", "t").map(_.path).sorted ===
      (1 to 6).map(i => s"/f$i.parquet"))
  }

  test("overwrite with a base folds racing appends in; racing non-append conflicts loudly") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    cat.createTable("ns", "t", StructType(Seq(StructField("id", LongType))))
    cat.append("ns", "t", Seq(DataFileMeta("/a.parquet", 1L, 1L))) // snap 1
    // a compaction derives its rewrite HERE...
    val base = cat.loadTable("ns", "t").currentSnapshotId
    // ...then a streaming append races in before the overwrite commits
    cat.append("ns", "t", Seq(DataFileMeta("/b.parquet", 2L, 2L))) // snap 2
    cat.overwrite("ns", "t", Seq(DataFileMeta("/compact.parquet", 1L, 1L)),
      baseSnapshotId = Some(base))
    // NO ROW LOST: the racing append's file folds into the overwrite
    assert(cat.files("ns", "t").map(_.path).sorted ===
      Seq("/b.parquet", "/compact.parquet"),
      "the racing append's file was erased by the overwrite")
    // un-raced base → plain replacement, exactly the old semantics
    val base2 = cat.loadTable("ns", "t").currentSnapshotId
    cat.overwrite("ns", "t", Seq(DataFileMeta("/c.parquet", 3L, 3L)),
      baseSnapshotId = Some(base2))
    assert(cat.files("ns", "t").map(_.path) === Seq("/c.parquet"))
    // racing NON-append (a blind overwrite) → loud write-write conflict;
    // the winner's state stays intact
    val base3 = cat.loadTable("ns", "t").currentSnapshotId
    cat.overwrite("ns", "t", Seq(DataFileMeta("/d.parquet", 4L, 4L)))
    intercept[ConcurrentOverwriteException] {
      cat.overwrite("ns", "t", Seq(DataFileMeta("/stale.parquet", 5L, 5L)),
        baseSnapshotId = Some(base3))
    }
    assert(cat.files("ns", "t").map(_.path) === Seq("/d.parquet"))
    // a base that is no longer in the log (expired/never existed) → conflict
    intercept[ConcurrentOverwriteException] {
      cat.overwrite("ns", "t", Seq(DataFileMeta("/x.parquet", 6L, 6L)),
        baseSnapshotId = Some(999L))
    }
  }

  test("strict overwrite (foldAppends=false) refuses even racing appends — the model-changing rebuild contract") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    cat.createTable("ns", "t", StructType(Seq(StructField("id", LongType))))
    cat.append("ns", "t", Seq(DataFileMeta("/a.parquet", 1L, 1L)))
    val base = cat.loadTable("ns", "t").currentSnapshotId
    // a racing append encoded under the OLD model must not fold into a
    // rebuilt state — strict mode refuses it loudly
    cat.append("ns", "t", Seq(DataFileMeta("/old-model.parquet", 2L, 2L)))
    intercept[ConcurrentOverwriteException] {
      cat.overwrite("ns", "t", Seq(DataFileMeta("/rebuilt.parquet", 1L, 1L)),
        baseSnapshotId = Some(base), foldAppends = false)
    }
    // nothing was lost: both pre-race files remain live
    assert(cat.files("ns", "t").map(_.path).sorted ===
      Seq("/a.parquet", "/old-model.parquet"))
    // un-raced strict overwrite goes through (the common rebuild case)
    val base2 = cat.loadTable("ns", "t").currentSnapshotId
    cat.overwrite("ns", "t", Seq(DataFileMeta("/rebuilt.parquet", 1L, 1L)),
      baseSnapshotId = Some(base2), foldAppends = false)
    assert(cat.files("ns", "t").map(_.path) === Seq("/rebuilt.parquet"))
  }

  test("threaded: a compaction-shaped overwrite racing live appends loses no row") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    cat.createTable("ns", "t", StructType(Seq(StructField("id", LongType))))
    cat.append("ns", "t", Seq(DataFileMeta("/seed.parquet", 1L, 1L)))
    val base = cat.loadTable("ns", "t").currentSnapshotId
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val compactor = new Thread(() => {
      try { gate.await()
        cat.overwrite("ns", "t",
          Seq(DataFileMeta("/compact.parquet", 1L, 1L)),
          baseSnapshotId = Some(base))
        ()
      } catch { case t: Throwable => errs.add(t); () }
    })
    val appenders = (1 to 4).map { i =>
      new Thread(() => {
        try { gate.await()
          cat.append("ns", "t", Seq(DataFileMeta(s"/f$i.parquet", i.toLong, i.toLong)))
          ()
        } catch { case t: Throwable => errs.add(t); () }
      })
    }
    (compactor +: appenders).foreach(_.start())
    gate.countDown()
    (compactor +: appenders).foreach(_.join(30000))
    assert(errs.isEmpty, s"racing commits failed: ${errs.toArray.mkString(", ")}")
    // whichever interleaving won each claim: the compacted file replaced
    // ONLY the seed it derived from, and every appended file survives —
    // folded into the overwrite if it landed first, stacked on top if
    // it landed after
    assert(cat.files("ns", "t").map(_.path).sorted ===
      ("/compact.parquet" +: (1 to 4).map(i => s"/f$i.parquet")).sorted,
      "a racing append's file vanished from the live state")
  }

  test("completed racing commit is recovered from; dead empty claim self-heals") {
    val (_, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    cat.createTable("ns", "t", StructType(Seq(StructField("id", LongType))))
    val md = Paths.get(wh.toString, "ns", "t", "metadata")
    // a COMPLETE v2.json whose hint write hasn't landed yet = a finished
    // commit with a lagging pointer; readers probe forward and the next
    // commit stacks on top instead of losing the race
    Files.writeString(md.resolve("v2.json"),
      Files.readString(md.resolve("v1.json")))
    cat.append("ns", "t", Seq(DataFileMeta("/ok.parquet", 1L, 1L)))
    assert(Files.exists(md.resolve("v3.json")))
    // an EMPTY version file can only be DEBRIS (a pre-link-protocol
    // crash between claim and content, an external tool's torn copy) —
    // the link-based commit publishes claim AND content atomically, so
    // nothing live ever holds an empty slot. The old two-step protocol
    // wedged this table PERMANENTLY here (every contender conflicted on
    // the empty claim until retries exhausted); now the contender heals
    // the slot and commits into it.
    Files.createFile(md.resolve("v4.json"))
    cat.append("ns", "t", Seq(DataFileMeta("/ok2.parquet", 1L, 1L)))
    assert(Files.size(md.resolve("v4.json")) > 0,
      "the healed slot must hold the contender's committed version")
    assert(cat.loadTable("ns", "t").snapshots.size === 2)
    // crashed-writer tmp garbage (dot-prefixed) never blocks anything
    Files.writeString(md.resolve(".v9garbage.json.tmp"), "torn")
    cat.append("ns", "t", Seq(DataFileMeta("/ok3.parquet", 1L, 1L)))
    assert(cat.loadTable("ns", "t").snapshots.size === 3)
  }

  test("position deletes: per-file row targeting, stacking, materialize") {
    import spark.implicits._
    import graft.catalog.GraftCatalog.{PosFileCol, PosIdxCol}
    import org.apache.spark.sql.functions.col
    val (data, wh) = freshDirs()
    val cat = new GraftCatalog(wh.toString)
    // two files with IDENTICAL logical rows — only positions can tell them apart
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    writeParquet(data.resolve("fa").toString, rows)
    writeParquet(data.resolve("fb").toString, rows)
    val (fa, fb) = (singleFile(data.resolve("fa").toString),
                    singleFile(data.resolve("fb").toString))
    cat.createTable("ns", "pt", rows.schema)
    cat.registerFiles("ns", "pt", Seq(fa, fb))
    assert(cat.readTable(spark, "ns", "pt").count() === 6L)
    // positions are per-file ordinals: each file contributes 0,1,2
    val pos = cat.readTableWithPositions(spark, "ns", "pt")
    assert(pos.columns.contains(PosFileCol) && pos.columns.contains(PosIdxCol))
    assert(pos.groupBy(PosFileCol).count().collect().forall(_.getLong(1) == 3L))
    // kill id=2 in file A only — its bit-identical twin in B must survive.
    // Match the DIRECTORY segment "/fa/": a bare "fa" is two hex chars and
    // can appear inside the other part-file's random UUID (observed flake)
    graft.etl.Merge.deleteWherePos(spark, cat, "ns", "pt",
      col("id") === 2 && col(PosFileCol).contains("/fa/"))
    val after1 = cat.readTable(spark, "ns", "pt")
    assert(after1.count() === 5L)
    assert(after1.filter(col("id") === 2).count() === 1L)
    // the public read never leaks the helper columns
    assert(!after1.columns.contains(PosFileCol))
    // stacked delete of the surviving twin: exactly ONE position emitted
    graft.etl.Merge.deleteWherePos(spark, cat, "ns", "pt", col("id") === 2)
    val snap2 = cat.snapshots("ns", "pt").last
    assert(snap2.isPositionDelete && snap2.deletes.map(_.rowCount).sum === 1L)
    assert(cat.readTable(spark, "ns", "pt").count() === 4L)
    // no data file was rewritten (merge-on-read)
    assert(Set(fa, fb).map(_.toAbsolutePath.toString)
      .subsetOf(cat.files("ns", "pt").map(_.path).toSet))
    // mixing kinds: an equality delete over the position-debt state
    graft.etl.Merge.deleteWhereMor(spark, cat, "ns", "pt",
      col("id") === 3, Seq("id"))
    assert(cat.readTable(spark, "ns", "pt").count() === 2L) // both id=3 rows die
    // materialize clears all debt, results unchanged, travel intact
    graft.etl.Merge.materialize(spark, cat, "ns", "pt")
    assert(cat.loadTable("ns", "pt").deleteFilesAsOf(None).isEmpty)
    assert(cat.readTable(spark, "ns", "pt").count() === 2L)
    assert(cat.readTable(spark, "ns", "pt", asOf = Some(1L)).count() === 6L)
  }
}
