package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_dot: the codegen'd expression must agree bit-for-bit with the
  * composable zip_with/aggregate fold it replaces, across both the
  * whole-stage-codegen and interpreted paths.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(-0.5f, 0.25f, 0.0f), Array(2.0f, 8.0f, 1.0f)),
    (3L, Array(0.1f, 0.2f, 0.3f), Array(0.0f, 0.0f, 0.0f)))

  test("graft_dot equals the zip_with/aggregate fold bit-for-bit") {
    val df = vecs.toDF("id", "a", "b")
    val fold = VectorReference.dot(col("a"), col("b"))
    val rows = df.select(call_function("graft_dot", col("a"), col("b")).as("native"),
        fold.as("fold")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    assert(rows.map(_.getDouble(0)).toSeq === Seq(32.0, 1.0, 0.0))
  }

  test("codegen and interpreted evaluation agree") {
    val df = vecs.toDF("id", "a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try df.select(call_function("graft_dot", col("a"), col("b")))
      .as[Double].collect().toSeq
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val gen = df.select(call_function("graft_dot", col("a"), col("b")))
      .as[Double].collect().toSeq
    assert(interp === gen)
  }

  test("null array yields null") {
    val df = Seq((1L, Array(1.0f), Option.empty[Array[Float]]))
      .toDF("id", "a", "b")
    val r = df.select(call_function("graft_dot", col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("non-float arguments are rejected at analysis") {
    val df = Seq((1L, Array(1.0, 2.0))).toDF("id", "a")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_dot", col("a"), col("a"))).collect()
    }
  }
}
