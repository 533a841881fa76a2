package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.ProductQuantizer
import org.apache.spark.sql.functions._

/** graft_pq_encode: the native encode loop must produce the EXACT
  * packed word the composable per-subspace argmin chain produces — the
  * committed index bytes and every PQ-family oracle ride on it. */
class PqEncodeSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def model = ProductQuantizer.train(
    ProductQuantizer.sampleRows(emb).map(_._2).toSeq)

  test("native encode equals the per-subspace argmin chain word-for-word") {
    val m = model
    // the composable reference pins the exact arithmetic contract
    val chain = VectorReference.pqEncode(m, col("embedding"))
    val rows = emb.select(
        call_function("graft_pq_encode", typedLit(m.cbooks), col("embedding"))
          .as("native"),
        chain.as("chain"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("packedCodes dispatches to the native expression on an extensions session") {
    assert(ProductQuantizer.packedCodes(model, col("embedding"))
      .toString.contains("graft_pq_encode"))
  }

  test("codegen and interpreted evaluation agree") {
    val m = model
    val df = emb.limit(64).select(col("vec_id"),
      ProductQuantizer.packedCodes(m, col("embedding")).as("codes"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try df.orderBy("vec_id").as[(Long, Long)].collect().toSeq
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val gen = df.orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(interp === gen)
  }

  test("a null embedding yields null; a null ELEMENT fails loudly") {
    val m = model
    val nulls = Seq((1L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    assert(nulls.select(ProductQuantizer.packedCodes(m, col("embedding")))
      .head().isNullAt(0))
    val nullElem = Seq(Tuple1(
        (Seq(Some(1.0f), None) ++ Seq.fill(62)(Some(0.1f))): Seq[Option[Float]]))
      .toDF("embedding")
      .select(ProductQuantizer.packedCodes(m, col("embedding")))
    val ex = intercept[Exception](nullElem.collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("null-element")))
  }

  test("a mismatched embedding width fails loudly, never truncates") {
    val m = model
    val bad = Seq(Tuple1(Seq.fill(32)(0.5f))).toDF("embedding")
      .select(ProductQuantizer.packedCodes(m, col("embedding")))
    val ex = intercept[Exception](bad.collect())
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(msgs.exists(_.contains("embedding dim")))
  }
}
