package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1-scale dataset generator — the round-10 verdict's
  * stretch item 8 asked for a TRUE sf1 gate "not replicas": every row
  * here is synthesized fresh from hash chains (xxhash64 of
  * (table-salt, id)), so value distributions are new draws over the
  * driver fixtures' exact schemas and value domains (TESTDATA.md;
  * domains read off the sf0.01 tables), never copies of sf0.1 rows.
  * Volumes are 10× sf0.1 — the TPC-H-ish sf1 point:
  *
  *   lineitem 6M (4 lines/order), orders 1.5M, customer 150k,
  *   part 200k, supplier 10k, events 1M, documents 50k,
  *   embeddings 20k, region 5, nation 25.
  *
  * Output parquet matches the fixtures' physical types (timestamps as
  * TIMESTAMP_MICROS — the post-round-7 events unit — and list<float>
  * embeddings). Generation is all codegen'd expressions over
  * spark.range: no driver-side loops, a few seconds for 6M rows at
  * local[32]. Usage: `tools/jrun.sh graft.Sf1Gen [outDir]`. */
object Sf1Gen {

  private def h(salt: Long, id: Column): Column = xxhash64(lit(salt), id)
  private def hmod(salt: Long, id: Column, m: Int): Column =
    pmod(h(salt, id), lit(m.toLong))
  /** Uniform double in [0.01, bound-0.01] with 2 decimal places (pmod's
    * modulus is bound×100-1, so the +1 shift tops out one cent below
    * `bound`) — never 0.00:
    * the fixtures' money columns are strictly positive (sf0.01 min
    * 0.01), and q_math_funcs takes ln(l_extendedprice), so a generated
    * zero would crash the DuckDB replay (ln(0)) where Spark yields null. */
  private def money(salt: Long, id: Column, bound: Int): Column =
    round((pmod(h(salt, id), lit(bound.toLong * 100 - 1)) + 1) / 100.0, 2)
  private def pick(salt: Long, id: Column, vs: Seq[String]): Column =
    element_at(typedLit(vs), hmod(salt, id, vs.size).cast("int") + 1)
  /** Timestamp at a hash offset of whole days past `base` (dates in the
    * fixtures are day-aligned timestamps). */
  private def day(salt: Long, id: Column, base: String, spanDays: Int): Column =
    to_timestamp(lit(base)) +
      make_dt_interval(hmod(salt, id, spanDays).cast("int"))

  private val dict = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "a", "the", "line",
    "sort", "window", "spark", "order", "data", "column", "join", "small",
    "customer", "query", "big", "group", "stream", "filter", "sum", "plan")

  def generate(spark: SparkSession, outDir: String, mult: Int = 10): Unit = {
    val nOrders = 150000L * mult
    val nCust = 15000L * mult
    val nPart = 20000L * mult
    val nSupp = 1000L * mult
    val nEvents = 100000L * mult
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    // the driver fixtures are BARE single parquet files ({name}.parquet),
    // which is also what tools/check.py's DuckDB views read — write one
    // part and move it into place (row groups keep the read parallel)
    def write(name: String, df0: DataFrame): Unit = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      // the fixtures carry tz-NAIVE int64 micros (isAdjustedToUTC=false);
      // Spark's TIMESTAMP writes adjusted micros, which DuckDB reads back
      // as TIMESTAMPTZ and the differential gate would hash differently —
      // cast every timestamp column to TIMESTAMP_NTZ (session tz is UTC,
      // so wall-clock values are unchanged) to match the fixture physics
      val df1 = df0.schema.fields.foldLeft(df0) { (d, f) =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        else d
      }
      // every fixture column is NULLABLE (pyarrow default); spark.range
      // derivations are not-null, and the difference leaks into catalog
      // DDL (meta_describe / meta_show_create read the footers) —
      // rebuild on the same rows with nullability relaxed (when(true, c)
      // gets constant-folded and .to() keeps a provably-non-null field
      // non-null, so the RDD round trip is the one reliable way to pin
      // the declared schema; generation stays distributed, and this is
      // a one-time fixture build, not a query path)
      val df = df1.sparkSession.createDataFrame(df1.rdd,
        org.apache.spark.sql.types.StructType(
          df1.schema.fields.map(_.copy(nullable = true))))
      val tmp = s"$outDir/_gen_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = graft.catalog.Fs.list(Paths.get(tmp))
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(outDir))
      Files.move(part, Paths.get(s"$outDir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.catalog.Fs.deleteRecursively(Paths.get(tmp))
    }

    write("region", spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), col("id").cast("int") + 1).as("r_name")))

    write("nation", spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id"), 9, "0")).as("c_name"),
      hmod(11, col("id"), 25).cast("int").as("c_nationkey"),
      (money(12, col("id"), 11000) - 1000.0).as("c_acctbal"),
      pick(13, col("id"), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))

    write("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id"), 9, "0")).as("s_name"),
      hmod(21, col("id"), 25).cast("int").as("s_nationkey"),
      (money(22, col("id"), 11000) - 1000.0).as("s_acctbal")))

    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(
        pick(31, col("id"), Seq("red", "blue", "green", "small", "large")),
        lit(" "),
        pick(32, col("id"), Seq("widget", "bolt", "ring", "gear", "plate")))
        .as("p_name"),
      concat(lit("Brand#"), hmod(33, col("id"), 25)).as("p_brand"),
      pick(34, col("id"), Seq("ECONOMY", "SMALL", "STANDARD", "LARGE",
        "PROMO")).as("p_type"),
      (hmod(35, col("id"), 50).cast("int") + 1).as("p_size"),
      money(36, col("id"), 2000).as("p_retailprice")))

    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      hmod(41, col("id"), nCust.toInt).as("o_custkey"),
      pick(42, col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
      money(43, col("id"), 300000).as("o_totalprice"),
      day(44, col("id"), "1995-01-01", 2404).as("o_orderdate"),
      pick(45, col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))

    // exactly 4 lines per order — keeps the key relationship exact while
    // the per-line values are all fresh hash draws
    write("lineitem", spark.range(nOrders * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      hmod(51, col("id"), nPart.toInt).as("l_partkey"),
      hmod(52, col("id"), nSupp.toInt).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (hmod(53, col("id"), 50).cast("int") + 1).cast("double").as("l_quantity"),
      money(54, col("id"), 100000).as("l_extendedprice"),
      round(hmod(55, col("id"), 11) / 100.0, 2).as("l_discount"),
      round(hmod(56, col("id"), 9) / 100.0, 2).as("l_tax"),
      pick(57, col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      pick(58, col("id"), Seq("F", "O")).as("l_linestatus"),
      day(59, col("id"), "1995-01-02", 2498).as("l_shipdate")))

    // ts is MONOTONIC in event_id (the fixtures have zero inversions —
    // the streaming demos' landing zones split by event_id parity and
    // their watermark invariants assume arrival order tracks event time;
    // random per-id timestamps made batch 1 race the watermark past most
    // of batch 2 at sf1): a fixed stride over the 30-day span plus a
    // sub-stride hash jitter
    val stride = 30.0 * 86400 / nEvents
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      (to_timestamp(lit("2024-01-01")) +
        make_dt_interval(lit(0), lit(0), lit(0),
          col("id") * stride +
            pmod(h(62, col("id")), lit(1000000L)) / 1e6 * stride)).as("ts"),
      hmod(63, col("id"), 20000).as("user_id"),
      pick(64, col("id"), Seq("click", "error", "purchase", "signup",
        "view")).as("event_type"),
      money(65, col("id"), 1000).as("value"),
      concat(lit("{\"k\": "), hmod(66, col("id"), 100), lit("}")).as("props")))

    // length uniform 20..89 tokens — the fixture's distribution (sf0.1
    // measures avg 54.1 tokens/doc; a first cut at 20..149 made the sf1
    // token volume 15.5× instead of 10×, inflating every text-family
    // bench ratio by 1.55×)
    val text0 = array_join(transform(
      sequence(lit(1), (hmod(71, col("id"), 70) + 20).cast("int")),
      i => element_at(typedLit(dict),
        pmod(xxhash64(lit(72), col("id"), i), lit(dict.size.toLong))
          .cast("int") + 1)), " ")
    // CROSS-DOC BOILERPLATE: ~1% of docs carry this fixed 26-token legal
    // footer, the template-duplication shape q_dedup_substring (L45)
    // exists to find. The sf0.1 driver fixture has such runs by chance;
    // a first sf1 draw had none (round-15 W4: the operator was 0-row at
    // sf1 only) — planting them deterministically keeps the operator
    // non-vacuous at every SF. Token volume impact: +26 tokens on 1/97
    // of docs ≈ +0.5%, below bench-ratio noise.
    val boiler = "this document is provided as is without warranty of " +
      "any kind express or implied including but not limited to " +
      "merchantability fitness and noninfringement of the content"
    val text = when(pmod(col("id"), lit(97L)) === 0L,
      concat(text0, lit(" " + boiler))).otherwise(text0)
    write("documents", spark.range(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(73, col("id"), Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), hmod(74, col("id"), 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    write("embeddings", spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit(81), col("id"), j), lit(2000001L)) -
          lit(1000000L)) / 1e6).cast("float")).as("embedding"),
      hmod(82, col("id"), 10).cast("int").as("label")))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      graft.queries.Fixtures.root.resolve("sf1").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the fixtures' physical timestamp type (timestamp[us])
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, out)
    println(s"""{"sf1_dir":"$out"}""")
    spark.stop()
  }
}
