package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.ProductQuantizer

/** The composable Spark-SQL forms of the native vector expressions, each
  * written once: the specs pin every native expression against its form
  * here bit-for-bit, and `graft.ExprBench` times the two against each
  * other. Higher-order functions never enter whole-stage codegen, so
  * these forms evaluate their lambdas in the interpreter — the cost the
  * native expressions remove. */
object VectorReference {

  /** `graft_dot`: the zip_with/aggregate fold, accumulating left-to-right
    * in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** `graft_pq_encode`: per subspace, the argmin (lowest code on ties) of
    * the squared L2 to each of the K codebook centroids, packed into
    * nibble m of the code word. */
  def pqEncode(model: ProductQuantizer.Model, emb: Column): Column = {
    val cbLit = typedLit(model.cbooks)
    (0 until ProductQuantizer.M).map { m =>
      val sv = slice(emb, m * model.sub + 1, model.sub)
      val dists = transform(element_at(cbLit, m + 1), c =>
        aggregate(zip_with(sv, c,
            (x, y) => ((x.cast("double") - y.cast("double")) *
              (x.cast("double") - y.cast("double")))),
          lit(0.0), (acc, v) => acc + v))
      // array_position is 1-based and returns the FIRST (lowest) match
      shiftleft((array_position(dists, array_min(dists)) - 1).cast("long"),
        4 * m)
    }.reduce(_ + _)
  }

  /** `graft_pq_score`: the asymmetric cosine of a packed codes word
    * against `probe`, as nested `element_at` lookups into the probe's
    * per-(subspace, centroid) dot table and the centroid norm table. */
  def pqScore(model: ProductQuantizer.Model, probe: Seq[Float],
              codes: Column): Column = {
    def dotd(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val lut = model.cbooks.zipWithIndex.map { case (cb, m) =>
      cb.map(c => dotd(probe.slice(m * model.sub, (m + 1) * model.sub), c)) }
    val cn2 = model.cbooks.map(_.map(c => dotd(c, c)))
    val qnorm = math.sqrt(dotd(probe, probe))
    def codeSum(tbl: Column) = (0 until ProductQuantizer.M).map { m =>
      val code = shiftright(codes, 4 * m).bitwiseAND(lit(15L)).cast("int")
      element_at(element_at(tbl, m + 1), code + lit(1))
    }.reduce(_ + _)
    codeSum(typedLit(lut)) / (lit(qnorm) * sqrt(codeSum(typedLit(cn2))))
  }

  /** `graft_probe_cells`: the top-`n` 1-based cell ids by (cosine DESC,
    * cell ASC) — zip_with into sim structs, array_sort with a comparator
    * lambda, slice. The null-element and zero-norm guards are left out:
    * the reference runs only on non-null, nonzero embeddings. */
  def probeCells(cents: Seq[Seq[Float]], emb: Column, n: Int): Column = {
    def centNorm(c: Seq[Float]): Double =
      math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
    val simStructArr = zip_with(typedLit(cents),
      zip_with(typedLit(cents.map(centNorm)),
        sequence(lit(1L), lit(cents.size.toLong)),
        (nm, i) => struct(nm.as("n"), i.as("i"))),
      (c, ni) => struct(
        (VectorFunctions.graftDot(emb, c) /
          (sqrt(VectorFunctions.graftDot(emb, emb)) * ni("n"))).as("sim"),
        ni("i").as("cell")))
    transform(slice(array_sort(simStructArr, (l, r) =>
      when(l("sim") > r("sim"), -1).when(l("sim") < r("sim"), 1)
        .otherwise(when(l("cell") < r("cell"), -1)
          .when(l("cell") > r("cell"), 1).otherwise(0)).cast("int")),
      1, n), c => c("cell"))
  }
}
