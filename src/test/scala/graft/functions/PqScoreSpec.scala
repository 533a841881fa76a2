package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.ProductQuantizer
import org.apache.spark.sql.functions._

/** graft_pq_score: the native flat-LUT scoring loop must agree
  * bit-for-bit with the composable nested-element_at chain
  * ([[VectorReference.pqScore]]), across codegen and
  * interpreted evaluation — the PQ-family oracles ride on shortlist
  * ORDER, so even 1-ulp drift would be a correctness change, not a
  * perf change. */
class PqScoreSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def dotd(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum

  private def fixture = {
    val sample = ProductQuantizer.sampleRows(emb)
    val model = ProductQuantizer.train(sample.map(_._2).toSeq)
    (model, sample.head._2)
  }

  test("native scoring equals the nested-element_at chain bit-for-bit") {
    val (model, probe) = fixture
    val lut = model.cbooks.zipWithIndex.map { case (cb, m) =>
      cb.map(c => dotd(probe.slice(m * model.sub, (m + 1) * model.sub), c)) }
    val cn2 = model.cbooks.map(_.map(c => dotd(c, c)))
    val qnorm = math.sqrt(dotd(probe, probe))
    // the composable reference pins the exact arithmetic contract, not
    // an approximation band
    val chain = VectorReference.pqScore(model, probe, col("codes"))
    val rows = emb
      .withColumn("codes", ProductQuantizer.packedCodes(model, col("embedding")))
      .select(
        call_function("graft_pq_score", col("codes"),
          typedLit(lut), typedLit(cn2), lit(qnorm)).as("native"),
        chain.as("chain"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("approxCosine dispatches to the native expression on a session with extensions") {
    val (model, probe) = fixture
    val scored = ProductQuantizer.approxCosine(model, probe, col("codes"))
    assert(scored.toString.contains("graft_pq_score"))
  }

  test("codegen and interpreted evaluation agree") {
    val (model, probe) = fixture
    val df = emb.limit(64)
      .withColumn("codes", ProductQuantizer.packedCodes(model, col("embedding")))
      .select(col("vec_id"),
        ProductQuantizer.approxCosine(model, probe, col("codes"))
          .as("score"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try df.orderBy("vec_id").as[(Long, Double)].collect().toSeq
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val gen = df.orderBy("vec_id").as[(Long, Double)].collect().toSeq
    assert(interp === gen)
  }

  test("a null codes word yields null") {
    val (model, probe) = fixture
    val df = Seq((1L, Option.empty[Long]), (2L, Some(0L)))
      .toDF("vec_id", "codes")
    val rows = df.select(
        ProductQuantizer.approxCosine(model, probe, col("codes")))
      .collect()
    assert(rows(0).isNullAt(0))
    assert(!rows(1).isNullAt(0))
  }

  test("a NON-nullable codes child still codegens (FalseLiteral isNull arm)") {
    val (model, probe) = fixture
    // spark.range's id is non-nullable LongType — the child whose
    // genCode isNull is the literal `false`, not a variable
    val rows = spark.range(0, 32)
      .select(ProductQuantizer.approxCosine(model, probe, col("id"))
        .as("score"))
      .collect()
    assert(rows.length === 32)
    assert(rows.forall(!_.isNullAt(0)))
  }

  test("a lookup table of the wrong shape fails loudly, never scores garbage") {
    val bad = Seq(Seq(1.0, 2.0)) // 1 subspace × 2 centroids ≠ 16×16
    val ex = intercept[Exception] {
      Seq(1L).toDF("codes").select(
        call_function("graft_pq_score", col("codes"),
          typedLit(bad), typedLit(bad), lit(1.0))).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("packed-word layout")))
  }
}
