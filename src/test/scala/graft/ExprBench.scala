package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorReference
import graft.operators.{IvfPq, ProductQuantizer}

/** Micro-benchmark of one native vector expression against its composable
  * form ([[graft.functions.VectorReference]]) in ONE session, over a
  * ×SCALE_MULT replication of the fixture embeddings. The specs pin both
  * forms to the same results, so this isolates evaluation cost; a
  * checksum `require` re-checks that they agree on the timed data.
  *
  *  - `pq_encode`: pack every embedding to its 64-bit codes word (the
  *    index-build scan; default ×100, median of 3).
  *  - `pq_score`: score a ×250 codes table against the probe and keep
  *    the shortlist (the probe-side scan; median of 5). The codes table
  *    is written once under `-Dgraft.tmp` (default `target`) and reused.
  *  - `probe_cells`: rank `SPARK_GRAFT_K_CELLS` (default 708, the ×1000
  *    tier's ⌈√N⌉) centroids per batch row and keep the probed prefix
  *    (batch augmentation; default ×10, median of 3).
  *
  * Run: [SPARK_GRAFT_SF_DIR=<fixture dir>] [SPARK_GRAFT_SCALE_MULT=N]
  *      [SPARK_GRAFT_CPUS=N] sbt "Test/runMain graft.ExprBench pq_score"
  * (the fixture dir defaults to the sf0.1 one, as for `graft.Bench`).
  * Prints one JSON line per path (`native`, `chain`) with the median
  * seconds; the native line carries the checksum, the chain line the
  * speedup. */
object ExprBench {

  /** What one expression's run measures: `run` evaluates a score column
    * over the scaled data and returns a checksum. */
  private case class Case(rows: Long, fields: String, native: Column,
                          chain: Column, run: Column => Long, reps: Int,
                          warmups: Int)

  def main(args: Array[String]): Unit = {
    val names = Seq("pq_encode", "pq_score", "probe_cells")
    val name = args.headOption.filter(names.contains).getOrElse(sys.error(
      s"usage: ExprBench <${names.mkString("|")}>"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    def mult(default: Int): Int =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", default.toString).toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val c = name match {
      case "pq_encode"   => pqEncode(spark, emb, mult(100))
      case "pq_score"    => pqScore(spark, emb, sfDir, mult(250))
      case "probe_cells" => probeCells(spark, emb, mult(10),
        sys.env.getOrElse("SPARK_GRAFT_K_CELLS", "708").toInt)
    }

    def median(score: Column): (Double, Long) = {
      var check = 0L
      val ts = (1 to c.reps).map { _ =>
        val t0 = System.nanoTime()
        check = c.run(score)
        (System.nanoTime() - t0) / 1e9
      }
      (ts.sorted.apply(c.reps / 2), check)
    }
    (1 to c.warmups).foreach { _ => c.run(c.native); c.run(c.chain) } // JIT + codegen cache
    val (tn, cn) = median(c.native)
    val (tc, cc) = median(c.chain)
    require(cn == cc, s"paths disagree: native checksum $cn vs chain $cc")
    val head = s""""bench":"$name","rows":${c.rows}${c.fields}"""
    println(f"""{$head,"path":"native","sec":$tn%.3f,"check":$cn}""")
    println(f"""{$head,"path":"chain","sec":$tc%.3f,"speedup":${tc / tn}%.2f}""")
    spark.stop()
  }

  /** Encode every embedding; checksum = Σ (word mod a prime), since a raw
    * sum of 2^63-scale code words overflows the ANSI Long sum. */
  private def pqEncode(spark: SparkSession, emb: DataFrame, mult: Int): Case = {
    val model = ProductQuantizer.train(
      ProductQuantizer.sampleRows(emb).map(_._2).toSeq)
    val scaled = emb.crossJoin(spark.range(0, mult).toDF("rep")).drop("rep")
      .cache()
    def run(codes: Column): Long = scaled
      .select((codes % lit(1000003L)).as("codes"))
      .agg(sum("codes")).head().getLong(0)
    Case(scaled.count(), "",
      ProductQuantizer.packedCodes(model, col("embedding")),
      VectorReference.pqEncode(model, col("embedding")), run, reps = 3,
      warmups = 1)
  }

  /** Score the committed-codes shape (replicating the CODES, not the
    * vectors, matches the index scan being measured) and keep the top
    * shortlist; checksum = Σ shortlist vec_ids. */
  private def pqScore(spark: SparkSession, emb: DataFrame, sfDir: String,
                      mult: Int): Case = {
    val sample = ProductQuantizer.sampleRows(emb)
    val model = ProductQuantizer.train(sample.map(_._2).toSeq)
    val probe = sample.head._2
    val dir = graft.queries.Fixtures.root.resolve(s"pqscore${mult}x_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_"))
    if (!Files.exists(dir)) {
      val span = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      emb.withColumn("codes", ProductQuantizer.packedCodes(model, col("embedding")))
        .select(col("vec_id"), col("codes"))
        .crossJoin(spark.range(0, mult).toDF("rep"))
        .withColumn("vec_id", col("vec_id") + col("rep") * lit(span))
        .drop("rep")
        .write.parquet(dir.toString)
    }
    val codes = spark.read.parquet(dir.toString)
    def run(score: Column): Long = codes
      .withColumn("approx", score)
      .orderBy(desc("approx"), asc("vec_id"))
      .limit(ProductQuantizer.shortlistK)
      .select("vec_id").collect().map(_.getLong(0)).sum
    Case(codes.count(), "",
      ProductQuantizer.approxCosine(model, probe, col("codes")),
      VectorReference.pqScore(model, probe, col("codes")), run, reps = 5,
      warmups = 5)
  }

  /** Rank k real, distinct vectors as centroids (cycled if the fixture is
    * smaller than k: centroid VALUES don't affect ranking cost, k does);
    * checksum = Σ probed cell ids. */
  private def probeCells(spark: SparkSession, emb: DataFrame, mult: Int,
                         kCells: Int): Case = {
    val vecs = emb.orderBy("vec_id").limit(kCells)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val cents: Seq[Seq[Float]] =
      Seq.tabulate(kCells)(i => vecs(i % vecs.length))
    val nProbe = IvfPq.probeCount(kCells)
    val batch = emb.crossJoin(spark.range(0, mult).toDF("rep")).drop("rep")
      .cache()
    def run(ranked: Column): Long = batch
      .select(explode(ranked).as("cell")).agg(sum("cell")).head().getLong(0)
    Case(batch.count(), s""","k":$kCells,"n_probe":$nProbe""",
      IvfPq.rankedCells(cents, col("embedding"), nProbe),
      VectorReference.probeCells(cents, col("embedding"), nProbe), run,
      reps = 3, warmups = 1)
  }
}
