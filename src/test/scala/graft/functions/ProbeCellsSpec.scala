package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.IvfPq
import org.apache.spark.sql.functions._

/** graft_probe_cells: the native per-row cell ranking must agree
  * EXACTLY — same cells, same order — with the composable
  * zip_with/array_sort/slice form ([[VectorReference.probeCells]]), and with
  * the driver-side probeCells protocol; the augmentation oracles ride
  * on which cells each batch row probes. */
class ProbeCellsSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def cents: Seq[Seq[Float]] = {
    import graft.operators.ProductQuantizer
    val sample = ProductQuantizer.sampleRows(emb).map(_._2).toSeq
    // 8 small cells trained the usual way: kmeans on the bounded sample
    IvfPq.trainCoarse(sample, 8)
  }

  test("native ranking equals the composable zip_with/array_sort form exactly") {
    val cs = cents
    val n = 3
    // the composable reference (guards elided: fixture embeddings are
    // non-null, nonzero)
    val e = col("embedding")
    val chain = VectorReference.probeCells(cs, e, n)
    val rows = emb.select(
        IvfPq.rankedCells(cs, e, n).as("native"),
        chain.as("chain"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("per-row ranking agrees with the driver-side probeCells protocol") {
    val cs = cents
    val n = 4
    val sample = emb.orderBy("vec_id").limit(16)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val fromCol = emb.orderBy("vec_id").limit(16)
      .select(col("vec_id"), IvfPq.rankedCells(cs, col("embedding"), n)
        .as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    sample.foreach { case (id, v) =>
      assert(fromCol(id) === IvfPq.probeCells(cs, v, n),
        s"vec_id $id ranks differently per-row vs driver-side")
    }
  }

  test("rankedCells dispatches to the native expression on an extensions session") {
    assert(IvfPq.rankedCells(cents, col("embedding"), 2)
      .toString.contains("graft_probe_cells"))
  }

  test("a probe count above k clamps to k") {
    val cs = cents
    val r = emb.limit(1)
      .select(IvfPq.rankedCells(cs, col("embedding"), 99).as("c"))
      .head().getSeq[Long](0)
    assert(r.size === cs.size)
    assert(r.sorted === (1L to cs.size.toLong))
  }

  test("null-element and zero-norm embeddings fail loudly") {
    val cs = cents
    def msgOf(df: org.apache.spark.sql.DataFrame): String = {
      val ex = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    }
    val nullElem = Seq(Tuple1(Seq(Some(1.0f), None, Some(2.0f), Some(0.5f),
        Some(1.0f), Some(2.0f), Some(0.5f), Some(1.0f)).padTo(64, Some(0.1f))))
      .toDF("embedding")
      .select(IvfPq.rankedCells(cs, col("embedding"), 2))
    assert(msgOf(nullElem).contains("null-element"))
    val zero = Seq(Tuple1(Seq.fill(64)(0.0f))).toDF("embedding")
      .select(IvfPq.rankedCells(cs, col("embedding"), 2))
    assert(msgOf(zero).contains("zero-norm"))
  }

  test("a NON-nullable embedding child still codegens (FalseLiteral isNull arm)") {
    val cs = cents
    val nonNull = spark.range(0, 4).select(
      array((0 until 64).map(i => (col("id") + lit(i + 1)).cast("float")): _*)
        .as("embedding"))
    val rows = nonNull
      .select(IvfPq.rankedCells(cs, col("embedding"), 2).as("c"))
      .collect()
    assert(rows.length === 4)
    assert(rows.forall(_.getSeq[Long](0).size === 2))
  }
}
