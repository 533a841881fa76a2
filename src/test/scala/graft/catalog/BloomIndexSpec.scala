package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

import graft.SparkSpec

/** Manifest-level bloom point-lookup skipping (SURVEY L74): hashing
  * laws (no false negatives, bounded FPs, order-independence), the
  * sidecar build, conservative fallbacks, and pruning on the layout
  * range stats are blind to. */
class BloomIndexSpec extends SparkSpec {

  private def point(c: String, v: Any) = Seq(sources.EqualTo(c, v))

  test("canonicalKey: authority preserved, local scheme stripped, percent-encoding decoded, raw fallback") {
    // local file URIs in every spelling collapse to the plain path
    assert(BloomIndex.canonicalKey("file:/a/b.parquet") === "/a/b.parquet")
    assert(BloomIndex.canonicalKey("file:///a/b.parquet") === "/a/b.parquet")
    assert(BloomIndex.canonicalKey("/a/b.parquet") === "/a/b.parquet")
    // percent-encoding decodes (the build side sees input_file_name's
    // encoded URI, the manifest records the raw name)
    assert(BloomIndex.canonicalKey("file:/a/x%20y.parquet") === "/a/x y.parquet")
    // an AUTHORITY must survive: dropping it keys hdfs://nn1:8020/x and
    // hdfs://nn2:8020/x both as /x — cross-filesystem collisions, and a
    // manifest recording the full URI would never match its sidecar
    assert(BloomIndex.canonicalKey("hdfs://nn1:8020/wh/t/f.parquet") ===
      "hdfs://nn1:8020/wh/t/f.parquet")
    assert(BloomIndex.canonicalKey("hdfs://nn2:8020/wh/t/f%20g.parquet") ===
      "hdfs://nn2:8020/wh/t/f g.parquet")
    // both sides of the SAME authority-ful file agree
    assert(BloomIndex.canonicalKey("hdfs://nn:8020/a/x%20y") ===
      BloomIndex.canonicalKey("hdfs://nn:8020/a/x y"))
    // unparseable (literal space) passes through raw — matching the
    // manifest's own raw recording
    assert(BloomIndex.canonicalKey("/a/x y.parquet") === "/a/x y.parquet")
  }

  test("no false negatives, bounded false positives, order-independent bits") {
    val m = BloomIndex.bitsFor(1000) // 16384 bits for 1000 values
    val values = (0L until 1000L).map(_ * 977L + 13L)
    val a = new Array[Byte](m / 8)
    values.foreach(BloomIndex.set(a, _))
    // every inserted value MUST test present
    assert(values.forall(BloomIndex.mightContain(a, _)))
    // insertion order cannot change the bits (OR is commutative)
    val b = new Array[Byte](m / 8)
    values.reverse.foreach(BloomIndex.set(b, _))
    assert(java.util.Arrays.equals(a, b))
    // absent values are mostly absent (~1% FPP at 10 bits/value; allow 5%)
    val fp = (1L to 2000L).count(i => BloomIndex.mightContain(a, -i))
    assert(fp < 100, s"false-positive rate too high: $fp/2000")
  }

  private def scatteredTable(cat: GraftCatalog, ns: String, t: String,
                             withBlooms: Boolean): Unit = {
    import spark.implicits._
    // ids 0..799 scattered across 4 files by residue: every file's
    // [min, max] spans ~the whole domain
    val df = (0L until 800L).map(i => (i, s"v$i")).toDF("id", "payload")
    val base = scratchDir("bloom_spec")
    (0 until 4).foreach { r =>
      df.filter(pmod(col("id"), lit(4)) === r).coalesce(1)
        .write.parquet(base.resolve(s"r$r").toString)
    }
    cat.createTable(ns, t, df.schema)
    if (withBlooms)
      cat.registerFilesWithBlooms(spark, ns, t,
        (0 until 4).map(r => base.resolve(s"r$r")), Seq("id"))
    else
      cat.registerFiles(ns, t, (0 until 4).map(r => base.resolve(s"r$r")))
  }

  test("point lookup prunes to the id's file where range stats keep everything; read is exact") {
    val wh = scratchDir("bloom_wh")
    val cat = new GraftCatalog(wh.resolve("wh").toString)
    cat.createNamespace("b")
    scatteredTable(cat, "b", "t", withBlooms = true)
    val probe = 399L // interior id, residue 3
    val meta = cat.loadTable("b", "t")
    assert(cat.planFiles(meta, None,
      Seq(Partitioning.between(meta.schema, "id", probe.toDouble, probe.toDouble))).size === 4,
      "fixture broken: range stats were supposed to be blind here")
    val kept = cat.planFiles(meta, None, point("id", probe))
    assert(kept.size < 4, s"bloom kept ${kept.size}/4 files — no pruning")
    assert(kept.exists(_.path.contains("/r3/")),
      "the file actually holding the id must survive")
    val rows = cat.readTable(spark, "b", "t", filters = point("id", probe))
      .filter(col("id") === probe).collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("v399"))
    // an id that is in NO file: every bloom may reject it (exactness
    // comes from the row filter either way)
    val none = cat.readTable(spark, "b", "t", filters = point("id", 12345L))
      .filter(col("id") === 12345L).count()
    assert(none === 0L)
  }

  test("string blooms: build-side and lookup-side hashes agree, no false negatives, pruning engages") {
    import spark.implicits._
    // the canonical md5-60 must match Spark's expression bit-for-bit —
    // a drift here would be a silent false-negative factory
    val sparkHash = spark.sql(
      "SELECT cast(conv(substring(md5('doc-42'), 1, 15), 16, 10) as bigint)")
      .head().getLong(0)
    assert(sparkHash === BloomIndex.hash64("doc-42"))
    val wh = scratchDir("bloom_str")
    val cat = new GraftCatalog(wh.resolve("wh").toString)
    cat.createNamespace("b")
    val df = (0L until 400L).map(i => (i, s"uuid-$i")).toDF("id", "sid")
    val base = scratchDir("bloom_str_rows")
    (0 until 4).foreach { r =>
      df.filter(pmod(col("id"), lit(4)) === r).coalesce(1)
        .write.parquet(base.resolve(s"r$r").toString)
    }
    cat.createTable("b", "t", df.schema)
    cat.registerFilesWithBlooms(spark, "b", "t",
      (0 until 4).map(r => base.resolve(s"r$r")), Seq("sid"))
    // NO false negatives across ALL 400 values: read the sidecar bits
    // once, then test every present value against its holder file's
    // bloom directly (the end-to-end path is exercised below for one)
    val bits = spark.read.parquet(
        cat.loadTable("b", "t").filesAsOf(None).head.bloomPath.get)
      .filter(col("column") === "sid").select("file", "bits").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    (0L until 400L).foreach { i =>
      val holder = bits.keys.find(_.contains(s"/r${i % 4}/")).get
      assert(BloomIndex.mightContain(bits(holder),
          BloomIndex.hash64(s"uuid-$i")),
        s"false negative: uuid-$i absent from its holder's bloom")
    }
    val kept = cat.planFiles(cat.loadTable("b", "t"), None,
      point("sid", "uuid-37"))
    assert(kept.exists(_.path.contains("/r1/")), "the holder file was pruned")
    assert(kept.size < 4, s"string bloom kept ${kept.size}/4 — no pruning")
    val rows = cat.readTable(spark, "b", "t", filters = point("sid", "uuid-37"))
      .filter(col("sid") === "uuid-37").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(37L))
  }

  test("paths that URI-encode (spaces) still build matching sidecar keys — pruning engages") {
    // input_file_name() yields a percent-encoded URI; a scheme-only
    // strip would key the sidecar by ".../my%20dir/..." while kept()
    // probes the manifest's raw ".../my dir/..." — the blooms would
    // silently never prune for such files (ADVICE round 13)
    import spark.implicits._
    val wh = scratchDir("bloom_sp")
    val cat = new GraftCatalog(wh.resolve("wh").toString)
    cat.createNamespace("b")
    val df = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "payload")
    val base = scratchDir("bloom sp rows")
    assert(base.toString.contains(" "), "fixture must exercise a space")
    (0 until 4).foreach { r =>
      df.filter(pmod(col("id"), lit(4)) === r).coalesce(1)
        .write.parquet(base.resolve(s"part $r").toString)
    }
    cat.createTable("b", "t", df.schema)
    cat.registerFilesWithBlooms(spark, "b", "t",
      (0 until 4).map(r => base.resolve(s"part $r")), Seq("id"))
    val kept = cat.planFiles(cat.loadTable("b", "t"), None,
      point("id", 399L))
    assert(kept.size < 4, s"bloom kept ${kept.size}/4 files under an " +
      "encodable path — the sidecar keys never matched")
    assert(kept.exists(_.path.contains("/part 3/")),
      "the file actually holding the id must survive")
    assert(cat.readTable(spark, "b", "t", filters = point("id", 399L))
      .filter(col("id") === 399L).count() === 1L)
  }

  test("lookup honors the sidecar's persisted k and validates m against the bits") {
    import spark.implicits._
    // k flows through the probe loop: zero probes accept everything,
    // the compile-time default rejects against all-zero bits
    val zeros = new Array[Byte](128)
    assert(BloomIndex.mightContain(zeros, 42L, 0))
    assert(!BloomIndex.mightContain(zeros, 42L))
    // a sidecar built under a DIFFERENT k must be probed with ITS k —
    // kept() reading the row's k=0 keeps the file despite zero bits;
    // assuming HashCount=7 would wrongly skip a file holding real rows
    val dir = scratchDir("bloom_k")
    val sc = dir.resolve("sidecar").toString
    Seq(("/data/f1.parquet", "id", zeros.length * 8, 0, zeros))
      .toDF("file", "column", "m", "k", "bits").coalesce(1).write.parquet(sc)
    val f1 = DataFileMeta("/data/f1.parquet", 1L, 1L, bloomPath = Some(sc))
    assert(BloomIndex.keptAny(Seq(f1), Seq("id" -> Seq(42L))) === Seq(f1))
    // a geometry mismatch (declared m != carried bits) fails loudly
    // instead of probing the wrong positions
    val bad = dir.resolve("sidecar_bad").toString
    Seq(("/data/f2.parquet", "id", 4096, 7, zeros))
      .toDF("file", "column", "m", "k", "bits").coalesce(1).write.parquet(bad)
    val f2 = DataFileMeta("/data/f2.parquet", 1L, 1L, bloomPath = Some(bad))
    val e = intercept[IllegalArgumentException] {
      BloomIndex.keptAny(Seq(f2), Seq("id" -> Seq(42L)))
    }
    assert(e.getMessage.contains("declares m=4096"))
  }

  test("conservative fallbacks: bloom-less commits and un-bloomed columns stay kept") {
    val wh = scratchDir("bloom_wh2")
    val cat = new GraftCatalog(wh.resolve("wh").toString)
    cat.createNamespace("b")
    // commit 1 without blooms, commit 2 with — pruning applies per commit
    scatteredTable(cat, "b", "mixed", withBlooms = false)
    import spark.implicits._
    val extra = Seq((800L, "v800"), (801L, "v801")).toDF("id", "payload")
    val dir = scratchDir("bloom_extra")
    extra.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("x").toString)
    cat.registerFilesWithBlooms(spark, "b", "mixed",
      Seq(dir.resolve("x")), Seq("id"))
    // a probe only in the bloom-less half: all 4 legacy files kept
    // (conservative), the bloomed file pruned by its bloom
    val kept = cat.planFiles(cat.loadTable("b", "mixed"), None,
      point("id", 399L))
    assert(kept.count(_.bloomPath.isEmpty) === 4)
    assert(kept.count(_.bloomPath.nonEmpty) === 0,
      "the bloomed commit's file holds only 800/801 — must be pruned")
    // a column with no bloom rows falls back to keep-everything
    val keptPayload = BloomIndex.keptAny(
      cat.loadTable("b", "mixed").filesAsOf(None), Seq("payload" -> Seq(1L)))
    assert(keptPayload.size === 5)
    // reads stay exact across the mixed commits
    assert(cat.readTable(spark, "b", "mixed", filters = point("id", 800L))
      .filter(col("id") === 800L).count() === 1L)
  }
}
