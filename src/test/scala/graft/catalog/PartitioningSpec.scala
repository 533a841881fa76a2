package graft.catalog

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Hidden partitioning: transform canonicalization (write side == prune
  * side), inclusive-projection pruning, and the partitioned write/read
  * round trip through both the programmatic and the SQL catalog paths. */
class PartitioningSpec extends SparkSpec {

  private def plan(cat: GraftCatalog, t: String, filters: Seq[sources.Filter]) =
    cat.planFiles(cat.loadTable("nyc", t), None, filters)
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("write-side Column and prune-side canonical produce identical values") {
    // the invariant everything else rests on: a partition value computed by
    // executors equals the value the planner projects a literal to
    val tsVals = Seq(ts("2024-01-15 10:30:00"), ts("2024-03-01 23:59:59"),
      ts("2023-12-31 00:00:00.123456"))
    val longVals = Seq(-17L, 0L, 3L, 1234567L)
    val strVals = Seq("alpha", "Δδ", "z", "abcdef")
    def check(transform: String, dt: DataType, vals: Seq[Any]): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(vals.map(org.apache.spark.sql.Row(_)), 1),
        StructType(Seq(StructField("v", dt, nullable = true))))
      val written = df.select(
        Partitioning.valueColumn(transform, "v", dt)).as[String].collect().toSeq
      val projected = vals.map(v => Partitioning.canonical(transform, dt, v))
      assert(written.map(Option(_)) === projected,
        s"$transform over ${dt.sql}: write=$written prune=$projected")
    }
    check("day", TimestampType, tsVals)
    check("month", TimestampType, tsVals)
    check("year", TimestampType, tsVals)
    check("hour", TimestampType, tsVals)
    check("identity", TimestampType, tsVals)
    check("bucket[7]", LongType, longVals)
    check("truncate[10]", LongType, longVals)
    check("identity", LongType, longVals)
    check("bucket[5]", StringType, strVals)
    check("truncate[3]", StringType, strVals)
    check("identity", StringType, strVals)
    val dateVals = Seq(java.sql.Date.valueOf("2024-01-15"),
      java.sql.Date.valueOf("2023-06-30"))
    check("day", DateType, dateVals)
    check("month", DateType, dateVals)
    check("year", DateType, dateVals)
    check("identity", DateType, dateVals)
  }

  test("inclusive projection keeps and prunes correctly per transform") {
    val fields = List(FieldMeta(1, "ts", "TIMESTAMP", true),
      FieldMeta(2, "id", "BIGINT", true), FieldMeta(3, "s", "STRING", true))
    val spec = List(PartitionField(1, "day", "ts_day"),
      PartitionField(2, "bucket[4]", "id_bucket"),
      PartitionField(3, "truncate[2]", "s_trunc"))
    def file(day: String, bucket: String, tr: String) = DataFileMeta(
      "f", 1, 1, partition = Some(Map(
        "ts_day" -> day, "id_bucket" -> bucket, "s_trunc" -> tr)))
    val jan15 = file("2024-01-15", "0", "ab")
    def keep(f: DataFileMeta, fl: sources.Filter): Boolean =
      Partitioning.keepByPartition(spec, fields, f, fl)

    // day: ranges project through the monotonic transform
    assert(keep(jan15, sources.GreaterThanOrEqual("ts", ts("2024-01-15 08:00:00"))))
    assert(keep(jan15, sources.GreaterThan("ts", ts("2024-01-15 23:00:00"))))
    assert(!keep(jan15, sources.GreaterThan("ts", ts("2024-01-16 00:00:00"))))
    assert(!keep(jan15, sources.LessThan("ts", ts("2024-01-14 09:00:00"))))
    assert(keep(jan15, sources.EqualTo("ts", ts("2024-01-15 12:00:00"))))
    assert(!keep(jan15, sources.EqualTo("ts", ts("2024-01-16 12:00:00"))))
    // bucket: equality prunes to the right bucket, ranges never prune
    val idForBucket0 = (1L to 100L).find(i =>
      Partitioning.canonical("bucket[4]", LongType, i).contains("0")).get
    val idForBucket2 = (1L to 100L).find(i =>
      Partitioning.canonical("bucket[4]", LongType, i).contains("2")).get
    assert(keep(jan15, sources.EqualTo("id", idForBucket0)))
    assert(!keep(jan15, sources.EqualTo("id", idForBucket2)))
    assert(keep(jan15, sources.GreaterThan("id", 50L)))
    // truncate[2] on strings: prefix semantics
    assert(keep(jan15, sources.EqualTo("s", "abXYZ")))
    assert(!keep(jan15, sources.EqualTo("s", "zz")))
    assert(keep(jan15, sources.StringStartsWith("s", "a")))
    assert(keep(jan15, sources.StringStartsWith("s", "abQ")))
    assert(!keep(jan15, sources.StringStartsWith("s", "xy")))
    // null partitions: comparisons prune, IsNull keeps
    val nullDay = file(Partitioning.NullValue, "0", "ab")
    assert(!keep(nullDay, sources.EqualTo("ts", ts("2024-01-15 12:00:00"))))
    assert(!keep(nullDay, sources.GreaterThan("ts", ts("2024-01-01 00:00:00"))))
    assert(keep(nullDay, sources.IsNull("ts")))
    assert(!keep(nullDay, sources.IsNotNull("ts")))
    assert(!keep(jan15, sources.IsNull("ts")))
    // And prunes if either side does; Or only if both do
    assert(!keep(jan15, sources.And(
      sources.IsNotNull("ts"), sources.EqualTo("ts", ts("2024-01-16 12:00:00")))))
    assert(keep(jan15, sources.Or(
      sources.EqualTo("ts", ts("2024-01-16 12:00:00")),
      sources.EqualTo("ts", ts("2024-01-15 12:00:00")))))
    // filters on non-partition columns or unknown shapes never prune
    assert(keep(jan15, sources.EqualTo("other", 1)))
    assert(keep(jan15.copy(partition = None),
      sources.EqualTo("ts", ts("2024-01-16 12:00:00"))))
  }

  test("partitioned write records tuples; planFiles projects predicates") {
    val base = scratchDir("partcat")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
    val df = days.zipWithIndex.flatMap { case (d, i) =>
      (0 until 25).map(j => (ts(s"$d 0${j % 9}:00:00"), (i * 25 + j).toLong, s"r$i-$j"))
    }.toDF("ts", "id", "payload")
    cat.createTable("nyc", "ev", df.schema,
      Seq(("day", "ts"), ("bucket[4]", "id")))
    cat.writePartitioned(spark, "nyc", "ev", df)
    val files = cat.loadTable("nyc", "ev").filesAsOf(None)
    assert(files.nonEmpty)
    assert(files.forall(_.partition.exists(t =>
      t.contains("ts_day") && t.contains("id_bucket"))))
    assert(files.map(_.partition.get("ts_day")).distinct.sorted === days)
    // day equality keeps only that day's buckets
    val oneDay = plan(cat, "ev",
      Seq(sources.EqualTo("ts", ts("2024-01-02 05:00:00"))))
    assert(oneDay.nonEmpty &&
      oneDay.forall(_.partition.get("ts_day") == "2024-01-02"))
    // a range over two days keeps exactly those two days: the inclusive
    // projection of `< 01-04 00:00` keeps the boundary day (rows inside
    // the 01-04 partition COULD fall below the cut), then the footer
    // min/max stats veto it — partition + stats compose in planFiles
    val twoDays = plan(cat, "ev", Seq(
      sources.GreaterThanOrEqual("ts", ts("2024-01-02 00:00:00")),
      sources.LessThan("ts", ts("2024-01-04 00:00:00"))))
    assert(twoDays.map(_.partition.get("ts_day")).distinct.sorted ===
      Seq("2024-01-02", "2024-01-03"))
    val meta = cat.loadTable("nyc", "ev")
    val jan04files = meta.filesAsOf(None)
      .filter(_.partition.get("ts_day") == "2024-01-04")
    assert(jan04files.forall(f => Partitioning.keepByPartition(meta.spec,
      meta.currentSchemaVersion.fields, f,
      sources.LessThan("ts", ts("2024-01-04 00:00:00")))),
      "inclusive projection must keep the boundary partition")
    assert(jan04files.forall(f => !Partitioning.keepByStats(meta.schema,
      sources.LessThan("ts", ts("2024-01-04 00:00:00")))(f)),
      "footer stats must veto the boundary partition's files")
    // bucket equality keeps one bucket per day
    val bucketOf7 = Partitioning.canonical("bucket[4]", LongType, 7L).get
    val onlyId7 = plan(cat, "ev", Seq(sources.EqualTo("id", 7L)))
    assert(onlyId7.nonEmpty &&
      onlyId7.forall(_.partition.get("id_bucket") == bucketOf7))
    // reading the pruned file list returns exactly the matching rows
    val full = cat.readTable(spark, "nyc", "ev")
    assert(full.count() === 100)
    assert(full.where($"ts" >= "2024-01-02" && $"ts" < "2024-01-03").count() === 25)
  }

  test("partition spec evolution: per-file spec pruning, guards") {
    val base = scratchDir("specevo")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val mk = (d: String, n: Int) => (0 until n).map(j =>
      (ts(s"$d 0${j % 9}:00:00"), j.toLong, s"r$j")).toDF("ts", "id", "payload")
    cat.createTable("nyc", "evo", mk("2024-01-01", 1).schema,
      Seq(("day", "ts")))
    cat.writePartitioned(spark, "nyc", "evo", mk("2024-01-01", 10))
    // evolve day(ts) → bucket[4](id): finer write clustering on a new axis
    cat.evolvePartitionSpec("nyc", "evo", Seq(("bucket[4]", "id")))
    cat.writePartitioned(spark, "nyc", "evo", mk("2024-02-01", 10))
    val meta = cat.loadTable("nyc", "evo")
    assert(meta.specs.map(_.specId) === List(1, 2))
    assert(meta.spec.head.transform === "bucket[4]")
    val files = meta.filesAsOf(None)
    val (s1, s2) = files.partition(_.specId.contains(1))
    assert(s1.nonEmpty && s2.nonEmpty)
    assert(s1.forall(_.partition.exists(_.contains("ts_day"))))
    assert(s2.forall(_.partition.exists(_.contains("id_bucket"))))
    // a ts predicate prunes era-1 files by day; era-2 files pass partition
    // pruning (their spec has no ts field) and are vetoed by footer stats
    val janOnly = plan(cat, "evo",
      Seq(sources.EqualTo("ts", ts("2024-01-01 03:00:00"))))
    assert(janOnly.nonEmpty && janOnly.forall(_.specId.contains(1)))
    // an id predicate prunes era-2 files by bucket; era-1 kept (no id field
    // in spec 1, id stats overlap) — per-file spec resolution at work
    val bucketOf3 = Partitioning.canonical("bucket[4]", LongType, 3L).get
    val id3 = plan(cat, "evo", Seq(sources.EqualTo("id", 3L)))
    assert(id3.filter(_.specId.contains(2))
      .forall(_.partition.get("id_bucket") == bucketOf3))
    assert(id3.count(_.specId.contains(2)) < s2.size)
    // the mixed-spec read serves every row exactly once
    assert(cat.readTable(spark, "nyc", "evo").count() === 20)
    // guards: dropping/widening sources of ANY spec version is refused
    intercept[IllegalArgumentException] {
      cat.dropColumn("nyc", "evo", "ts") // spec-1 source
    }
    intercept[IllegalArgumentException] {
      cat.widenColumn("nyc", "evo", "id", "decimal(20,0)") // bucket source
    }
    // unknown spec id on a file: conservative, never pruned by partition
    val orphan = files.head.copy(specId = Some(99))
    assert(meta.specForFile(orphan).isEmpty)
  }

  test("meta_spec_evolution declared query: all invariants hold") {
    val rows = graft.queries.Meta.queries("meta_spec_evolution")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSeq === Seq("specs_evolved", "files_tagged_by_spec",
      "one_predicate_prunes_both_eras", "month_grain_after_evolution",
      "mixed_spec_read_correct",
      "unpartitioned_era_conservative").sorted) // query emits phase-sorted
    assert(rows.forall(_._3), s"invariant failed: ${rows.mkString(", ")}")
  }

  test("SQL: PARTITIONED BY transforms, INSERT clusters, scans prune") {
    val base = scratchDir("partsql")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val c = "gp" + base.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")
    spark.conf.set(s"spark.sql.catalog.$c", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", cat.warehouse)
    try {
      spark.sql(s"""CREATE TABLE $c.nyc.ev (ts TIMESTAMP, id BIGINT, v STRING)
                   |USING parquet PARTITIONED BY (days(ts), bucket(4, id))""".stripMargin)
      assert(cat.loadTable("nyc", "ev").spec ===
        List(PartitionField(1, "day", "ts_day"), PartitionField(2, "bucket[4]", "id_bucket")))
      val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
      days.zipWithIndex.flatMap { case (d, i) =>
        (0 until 20).map(j => (ts(s"$d 0${j % 9}:30:00"), (i * 20 + j).toLong, s"v$j"))
      }.toDF("ts", "id", "v").createOrReplaceTempView("ev_src")
      spark.sql(s"INSERT INTO $c.nyc.ev SELECT * FROM ev_src")
      val files = cat.loadTable("nyc", "ev").filesAsOf(None)
      assert(files.forall(_.partition.isDefined))
      // a source-column predicate prunes files at plan time (hidden
      // partitioning: the query never names ts_day)
      val day2Q = spark.sql(
        s"SELECT count(*) FROM $c.nyc.ev " +
          "WHERE ts >= TIMESTAMP'2024-01-02 00:00:00' " +
          "AND ts < TIMESTAMP'2024-01-03 00:00:00'")
      assert(day2Q.collect().head.getLong(0) === 20)
      val kept = GraftPruningScanBuilder.filesScanned(day2Q)
      assert(kept < files.size, s"expected pruning, got $kept/${files.size}")
      assert(kept === files.count(_.partition.get("ts_day") == "2024-01-02"))
      // bucket pruning on a point lookup
      val id25Q = spark.sql(s"SELECT count(*) FROM $c.nyc.ev WHERE id = 25")
      assert(id25Q.collect().head.getLong(0) === 1)
      val k2 = GraftPruningScanBuilder.filesScanned(id25Q)
      assert(k2 < files.size, s"bucket pruning expected, got $k2/${files.size}")
      // partition pruning survives a SOURCE-column rename (stable ids).
      // The SQL read path refuses rename drift by design (materialize
      // first), so the rename-stability of pruning is asserted through
      // the catalog API; renaming BACK clears the drift (id->name mapping
      // matches the writing schema again) and SQL serves as before.
      spark.sql(s"ALTER TABLE $c.nyc.ev RENAME COLUMN ts TO event_ts")
      val renamedPrune = plan(cat, "ev",
        Seq(sources.LessThan("event_ts", ts("2024-01-02 00:00:00"))))
      assert(renamedPrune.nonEmpty && renamedPrune.size < files.size,
        s"pruning after rename expected, got ${renamedPrune.size}/${files.size}")
      spark.sql(s"ALTER TABLE $c.nyc.ev RENAME COLUMN event_ts TO ts")
      // DELETE keeps the survivors partition-clustered with tuples
      spark.sql(s"DELETE FROM $c.nyc.ev WHERE id = 25")
      val after = cat.loadTable("nyc", "ev")
      assert(after.filesAsOf(None).forall(_.partition.isDefined))
      assert(spark.sql(s"SELECT count(*) FROM $c.nyc.ev").as[Long].head() === 59)
      // DESCRIBE surfaces the spec back through partitioning()
      val desc = spark.sql(s"DESCRIBE TABLE $c.nyc.ev").collect().map(_.toString)
      assert(desc.exists(_.contains("Part 0")) || desc.exists(_.contains("days")),
        desc.mkString("\n"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$c")
      spark.conf.unset(s"spark.sql.catalog.$c.warehouse")
    }
  }

  test("meta_partitioned declared query: every invariant holds") {
    val rows = graft.queries.Meta.queries("meta_partitioned")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("tuples_recorded")), r.toString)
      assert(r.getBoolean(r.fieldIndex("range_prunes")), r.toString)
      assert(r.getBoolean(r.fieldIndex("bucket_prunes")), r.toString)
    }
  }

  test("optimize preserves partition tuples on a partitioned table") {
    val base = scratchDir("partopt")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val df = Seq("2024-01-01", "2024-02-01").zipWithIndex.flatMap { case (d, i) =>
      (0 until 10).map(j => (ts(s"$d 01:00:00"), (i * 10 + j).toLong))
    }.toDF("ts", "id")
    cat.createTable("nyc", "opt", df.schema, Seq(("month", "ts")))
    cat.writePartitioned(spark, "nyc", "opt", df)
    cat.writePartitioned(spark, "nyc", "opt", df) // second snapshot: 2 files/month
    graft.etl.Maintenance.optimize(spark, cat, "nyc", "opt")
    val after = cat.loadTable("nyc", "opt").filesAsOf(None)
    assert(after.forall(_.partition.exists(_.contains("ts_month"))),
      "materialization must re-record partition tuples")
    assert(plan(cat, "opt",
      Seq(sources.EqualTo("ts", ts("2024-02-01 01:00:00"))))
      .forall(_.partition.get("ts_month") == "2024-02"))
    assert(cat.readTable(spark, "nyc", "opt").count() === 40)
  }

  test("stats pruning: footer bounds veto files independently of the spec") {
    val base = scratchDir("statpr")
    val cat = new GraftCatalog(base.resolve("wh").toString)
    val df1 = (1L to 100L).map(i => (i, s"k$i")).toDF("id", "k")
    val df2 = (1000L to 1100L).map(i => (i, s"z$i")).toDF("id", "k")
    cat.createTable("nyc", "flat", df1.schema)
    val d1 = base.resolve("d1"); val d2 = base.resolve("d2")
    df1.coalesce(1).write.parquet(d1.toString)
    df2.coalesce(1).write.parquet(d2.toString)
    cat.registerFiles("nyc", "flat", Seq(d1))
    cat.registerFiles("nyc", "flat", Seq(d2))
    val all = cat.loadTable("nyc", "flat").filesAsOf(None)
    assert(all.size === 2)
    // numeric bounds
    assert(plan(cat, "flat",
      Seq(sources.GreaterThan("id", 500L))).size === 1)
    assert(plan(cat, "flat",
      Seq(sources.EqualTo("id", 50L))).size === 1)
    // string bounds (truncated, conservative)
    assert(plan(cat, "flat",
      Seq(sources.StringStartsWith("k", "z"))).size === 1)
    assert(plan(cat, "flat",
      Seq(sources.EqualTo("k", "k42"))).size === 1)
    // unknown column / shape: no pruning
    assert(plan(cat, "flat",
      Seq(sources.EqualTo("missing", 1))).size === 2)
  }
}
