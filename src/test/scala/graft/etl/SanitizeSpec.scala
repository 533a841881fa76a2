package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Sanitize rules (reference `sanitize_parquet.py:40-61`) — fixtures per
  * FIXTURES.md §2 plus ScalaCheck round-trips. */
class SanitizeSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (1L, BigDecimal(1234567890123456789L), BigDecimal(1704067200000000L), "a"),
    (2L, BigDecimal(42L), BigDecimal(1704067260500000L), "b"))
    .toDF("id", "counter", "timestamp", "label")
    .select(col("id"),
      col("counter").cast(DecimalType(20, 0)).as("counter"),
      col("timestamp").cast(DecimalType(20, 0)).as("timestamp"),
      col("label"))

  test("rule B2: decimal(20,0) epoch-µs column named `timestamp` → timestamp") {
    val out = Sanitize.sanitize(fixture)
    assert(out.schema("timestamp").dataType === TimestampType)
    val ts = out.orderBy("id").select("timestamp").as[java.sql.Timestamp].collect()
    assert(ts(0).toInstant.toString === "2024-01-01T00:00:00Z")
    assert(ts(1).toInstant.toString === "2024-01-01T00:01:00.500Z")
  }

  test("rule B1: unsigned-hint long → decimal(20,0); name rule NOT applied elsewhere") {
    val df = Seq((1L, 10L, 20L)).toDF("id", "counter", "other_ts")
    val out = Sanitize.sanitize(df, unsignedHints = Set("counter", "other_ts"))
    assert(out.schema("counter").dataType === DecimalType(20, 0))
    assert(out.schema("other_ts").dataType === DecimalType(20, 0)) // not timestamp
  }

  test("genuine UINT64 parquet: DECIMAL(20,0) read, values beyond Long.MaxValue") {
    val path = UnsignedFixture.ensureWritten()
    val df = spark.read.parquet(path)
    assert(df.schema("counter").dataType === DecimalType(20, 0))
    assert(df.schema("small_u").dataType === DecimalType(20, 0))
    assert(df.schema("timestamp").dataType === DecimalType(20, 0))
    // unsigned interpretation: stored Long.MinValue + 37i reads 2^63 + 37i
    val twoPow63 = new java.math.BigInteger("9223372036854775808")
    val c0 = df.filter(col("event_id") === 0).select("counter").head().getDecimal(0)
    assert(c0.toBigInteger === twoPow63)
    val c100 = df.filter(col("event_id") === 100).select("counter").head().getDecimal(0)
    assert(c100.toBigInteger === twoPow63.add(java.math.BigInteger.valueOf(3700)))
    // the declared query applies B2 to the unsigned `timestamp` column
    val q = graft.queries.Etl.queries("etl_sanitize_uint64")(spark, sfDir)
    assert(q.schema("sanitized_ts").dataType === TimestampNTZType)
    assert(q.count() === UnsignedFixture.Rows.toLong)
    val ts0 = q.filter(col("event_id") === 0).select("sanitized_ts")
      .as[java.time.LocalDateTime].head()
    assert(ts0.toString === "2024-01-01T00:00")
    // the string twin carries the beyond-int64 value verbatim
    assert(q.filter(col("event_id") === 0).select("counter_str")
      .as[String].head() === "9223372036854775808")
    // nulls in the optional unsigned column survive the pass
    assert(q.filter(col("small_u_str").isNull).count() ===
      (0 until UnsignedFixture.Rows).count(_ % 7 == 0).toLong)
  }

  test("rule B3: column order, untouched columns and types preserved") {
    val out = Sanitize.sanitize(fixture)
    assert(out.schema.fieldNames.toSeq === Seq("id", "counter", "timestamp", "label"))
    assert(out.schema("label").dataType === StringType)
    assert(out.schema("counter").dataType === DecimalType(20, 0))
  }

  test("rule B4: dry-run report lists exactly the changed columns") {
    val rep = Sanitize.report(fixture).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(rep === Map("timestamp" -> "timestamp"))
    val rep2 = Sanitize.report(
      Seq((1L, 2L)).toDF("id", "counter"), unsignedHints = Set("counter"))
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(rep2 === Map("counter" -> "decimal(20,0)"))
  }

  test("B5 sanitizeTree: mirror tree, only-if-changed, dry-run, overwrite guard") {
    import java.nio.file.Files
    val base = scratchDir("santree_spec")
    val in = base.resolve("in"); val out = base.resolve("out")
    Files.createDirectories(in.resolve("nested"))
    def writeOne(df: org.apache.spark.sql.DataFrame, dst: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = Files.createTempDirectory(base, "one")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dst)
    }
    writeOne(fixture, in.resolve("needs_cast.parquet"))
    writeOne(fixture, in.resolve("nested").resolve("deep.prq"))
    writeOne(Seq((1L, "x")).toDF("id", "v"), in.resolve("clean.parquet"))

    // dry run: reports changes, writes nothing
    val dry = Sanitize.sanitizeTree(spark, in.toString, out.toString, dryRun = true)
    assert(dry.size === 3 && dry.forall(!_.written))
    assert(dry.count(_.casts.nonEmpty) === 2)
    assert(!Files.exists(out))

    // real run: exactly the changed files appear in the mirror tree
    val wet = Sanitize.sanitizeTree(spark, in.toString, out.toString)
    assert(wet.count(_.written) === 2)
    assert(Files.isRegularFile(out.resolve("needs_cast.parquet")))
    assert(Files.isRegularFile(out.resolve("nested").resolve("deep.prq")))
    assert(!Files.exists(out.resolve("clean.parquet"))) // unchanged ⇒ skipped
    val sanitized = spark.read.parquet(out.resolve("needs_cast.parquet").toString)
    assert(sanitized.schema("timestamp").dataType === TimestampType)
    assert(sanitized.count() === 2)

    // existing destination refused without overwrite; allowed with it
    intercept[IllegalStateException] {
      Sanitize.sanitizeTree(spark, in.toString, out.toString)
    }
    assert(Sanitize.sanitizeTree(spark, in.toString, out.toString,
      overwrite = true).count(_.written) === 2)
  }

  test("property: epoch-µs round-trips through the timestamp cast") {
    // epoch micros within Spark's timestamp range (1970..2100), fixed seed
    val gen = Gen.choose(0L, 4102444800000000L)
    val samples = (0 until 50).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))
    val df = samples.map(BigDecimal(_)).toDF("timestamp")
      .select(col("timestamp").cast(DecimalType(20, 0)).as("timestamp"))
    val out = Sanitize.sanitize(df)
      .select(unix_micros(col("timestamp"))).as[Long].collect().toSeq
    assert(out.sorted === samples.sorted)
  }
}
