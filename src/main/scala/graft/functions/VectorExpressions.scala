package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen'd dot product over `array<float>` (SURVEY.md §2.K K4).
  *
  * The composable alternative — `aggregate(zip_with(a, b, * ), 0.0, +)` —
  * allocates an intermediate array and evaluates two lambda closures per
  * element in the interpreter; this expression compiles to a tight
  * primitive loop inside whole-stage codegen, which is what an
  * all-pairs similarity scan needs at 100 TB. Accumulation is
  * left-to-right in double precision — bit-identical to the zip_with
  * form and to a SQL SUM over unnested elements, so oracle hashes are
  * unchanged.
  *
  * Null semantics are EXACTLY those of the composable fold: a null array,
  * mismatched lengths (zip_with null-pads the shorter side, so the fold
  * goes null), or any null element yields null. This bit-for-bit parity is
  * what lets [[graft.plans.DotProductRewrite]] substitute this expression
  * for the fold as a pure optimization.
  *
  * The native expressions in this file are the only implementation the
  * operators call. Their composable forms live in the test sources
  * (`graft.functions.VectorReference`), where the specs pin each native
  * form against its composable reference.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float> arguments, got ${l.sql} and ${r.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch / null element
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: Java forbids shadowing an enclosing local, and Spark's
      // generated methods routinely declare `i` — a literal `int i` here
      // failed janino compilation whenever this expression was inlined
      // into such a method
      val i = ctx.freshName("i")
      s"""
         |int ${ev.value}_n = $a.numElements();
         |if ($b.numElements() != ${ev.value}_n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double ${ev.value}_acc = 0.0;
         |  for (int $i = 0; $i < ${ev.value}_n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = ${ev.value}_acc;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Native nearest-centroid assignment over `array<float>` against a
  * CONSTANT k×dim centroid table (the IVF cell-assignment hot loop).
  *
  * The composable form — `transform(centsLit, c -> 1.0 - dot/(…))` +
  * `array_position(array_min)` — evaluates k×dim lambda closures per
  * ROW in the interpreter (higher-order functions never enter
  * whole-stage codegen), which at the √N-sized k = ⌈√N⌉ makes the
  * index ENCODE scan O(N·√N·dim) interpreted allocations — measured
  * minutes at sf1 (k=200, 40k rows). This expression caches the
  * centroid table (the left child must be foldable — it is always a
  * literal) as primitive arrays with their norms and assigns each row
  * in a tight double loop invoked from generated code.
  *
  * Arithmetic is BIT-IDENTICAL to the composable form: the query norm
  * and each dot accumulate left-to-right in double precision, the
  * distance is `1.0 - dt / (sqrt(qn) * cn)` with cn = the same
  * index-ordered `sqrt(Σc²)`, and strict `<` keeps the FIRST (lowest)
  * cell on exact ties — `array_position(array_min)` semantics. The
  * 1-based cell id matches the IVF family throughout. A zero-norm
  * embedding fails loudly. */
case class NearestCellF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(FloatType, _), _), ArrayType(FloatType, _))
          if left.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cell requires (foldable array<array<float>>, " +
          s"array<float>), got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = right.nullable
  override def prettyName: String = "graft_nearest_cell"

  @transient private lazy val centArrays: Array[Array[Float]] = {
    val ad = left.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toFloatArray())
  }
  @transient private lazy val centNorms: Array[Double] =
    centArrays.map { c =>
      var acc = 0.0; var p = 0
      while (p < c.length) { val x = c(p).toDouble; acc += x * x; p += 1 }
      math.sqrt(acc)
    }

  override def nullSafeEval(cs: Any, e: Any): Any =
    evalVec(e.asInstanceOf[ArrayData])

  def evalVec(v: ArrayData): Long = {
    val dim = v.numElements()
    var qn = 0.0
    var p = 0
    while (p < dim) {
      // a null ELEMENT has no cosine contribution — scoring it as
      // 0/garbage would silently assign a wrong cell (the row lands in
      // an arbitrary inverted list and the right probes never find it),
      // so fail the encode scan loudly, like the zero-norm guard below
      if (v.isNullAt(p)) throw new IllegalArgumentException(
        "null-element embedding cannot be cell-assigned (vec_id row " +
          "would be silently mis-indexed); drop or re-embed it first")
      val x = v.getFloat(p).toDouble; qn += x * x; p += 1
    }
    if (qn == 0.0) throw new IllegalArgumentException(
      "zero-norm embedding cannot be cell-assigned (vec_id row " +
        "would become unsearchable); drop or re-embed it first")
    val sq = math.sqrt(qn)
    // hoist the row's vector to a primitive array ONCE — the inner loop
    // reads it k times, and k×dim virtual ArrayData.getFloat calls
    // dominate the encode scan once the lambda tax is gone
    val vf = new Array[Float](dim)
    p = 0
    while (p < dim) { vf(p) = v.getFloat(p); p += 1 }
    var bestD = Double.MaxValue
    var best = 0
    var j = 0
    while (j < centArrays.length) {
      val c = centArrays(j)
      require(c.length == dim,
        s"embedding dim $dim != centroid dim ${c.length}")
      var dt = 0.0
      p = 0
      while (p < dim) { dt += vf(p).toDouble * c(p); p += 1 }
      val d = 1.0 - dt / (sq * centNorms(j))
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best + 1L
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCell", this,
      classOf[NearestCellF].getName)
    nullSafeCodeGen(ctx, ev, (_, e) => s"${ev.value} = $ref.evalVec($e);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCellF =
    copy(left = newLeft, right = newRight)
}

/** Native per-row probe-cell ranking over `array<float>` against a
  * CONSTANT k×dim centroid table: the top-`n` cell ids by (cosine DESC,
  * cell ASC) — the batch-retrieval hot loop ([[graft.operators.IvfPq
  * .augmentTop1]]'s per-row analog of the driver-side `probeCells`).
  *
  * The composable form — `zip_with` the centroid literal into sim
  * structs, `array_sort` with a comparator lambda, `slice` +
  * `transform` — evaluates k×dim lambda closures per ROW in the
  * interpreter (higher-order functions never enter whole-stage
  * codegen): at the √N-sized k this is the SAME interpreted tax
  * [[NearestCellF]] eliminated for the encode scan, paid here per
  * augmentation-batch row. This expression caches the centroid table
  * and its norms as primitive arrays and ranks each row in a tight
  * double loop plus one k-element index sort.
  *
  * Ordering is IDENTICAL to the composable comparator: sims accumulate
  * left-to-right in double precision, `Double.compare` descending (an
  * all-NaN row — only possible as a whole, since every cell shares the
  * row's embedding — degrades to cell-ascending order exactly like the
  * comparator's all-ties case), ties on the 1-based cell id ascending.
  * Null-element and zero-norm embeddings fail loudly like
  * [[NearestCellF]] — a batch row that silently probed arbitrary cells
  * would silently get wrong neighbors. */
case class ProbeCellsF(cents: Expression, emb: Expression, n: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(cents, emb, n)

  override def checkInputDataTypes(): TypeCheckResult =
    (cents.dataType, emb.dataType, n.dataType) match {
      case (ArrayType(ArrayType(FloatType, _), _), ArrayType(FloatType, _),
            IntegerType) if cents.foldable && n.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (c, e, i) => TypeCheckResult.TypeCheckFailure(
        "graft_probe_cells requires (foldable array<array<float>>, " +
          s"array<float>, foldable int), got ${c.sql}, ${e.sql}, ${i.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = emb.nullable
  override def prettyName: String = "graft_probe_cells"

  @transient private lazy val centArrays: Array[Array[Float]] = {
    val ad = cents.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(j => ad.getArray(j).toFloatArray())
  }
  @transient private lazy val centNorms: Array[Double] =
    centArrays.map { c =>
      var acc = 0.0; var p = 0
      while (p < c.length) { val x = c(p).toDouble; acc += x * x; p += 1 }
      math.sqrt(acc)
    }
  @transient private lazy val nProbe: Int = {
    val v = n.eval(null).asInstanceOf[Int]
    require(v > 0, s"graft_probe_cells needs a positive probe count, got $v")
    math.min(v, centArrays.length)
  }

  def evalVec(v: ArrayData): ArrayData = {
    val dim = v.numElements()
    var qn = 0.0
    var p = 0
    while (p < dim) {
      if (v.isNullAt(p)) throw new IllegalArgumentException(
        "null-element embedding cannot be cell-ranked (batch row would " +
          "silently probe arbitrary cells); drop or re-embed it first")
      val x = v.getFloat(p).toDouble; qn += x * x; p += 1
    }
    if (qn == 0.0) throw new IllegalArgumentException(
      "zero-norm embedding cannot be cell-ranked (batch row would " +
        "silently probe arbitrary cells); drop or re-embed it first")
    val sq = math.sqrt(qn)
    val k = centArrays.length
    // hoist the row's vector to a primitive array ONCE — the inner loop
    // below reads it k times, and k×dim virtual ArrayData.getFloat
    // calls are the dominant cost after the lambda tax is gone
    val vf = new Array[Float](dim)
    p = 0
    while (p < dim) { vf(p) = v.getFloat(p); p += 1 }
    val sims = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = centArrays(j)
      require(c.length == dim,
        s"embedding dim $dim != centroid dim ${c.length}")
      var dt = 0.0
      p = 0
      while (p < dim) { dt += vf(p).toDouble * c(p); p += 1 }
      sims(j) = dt / (sq * centNorms(j))
      j += 1
    }
    // STABLE primitive index sort on sim DESC — stability over the
    // idx-ascending start order gives the cell-ASC tie-break for free,
    // with zero boxing (a boxed-comparator sort measurably costs ~14M
    // Integer allocations per 20k-row batch at k=708). Double.compare's
    // -0.0 < 0.0 refinement is unreachable (a left fold from +0.0
    // cannot produce -0.0), so ordering matches the SQL comparator.
    val idx = Array.tabulate(k)(identity)
    val tmp = new Array[Int](k)
    def merge(lo: Int, mid: Int, hi: Int): Unit = {
      System.arraycopy(idx, lo, tmp, lo, hi - lo)
      var i = lo; var r = mid; var o = lo
      while (o < hi) {
        if (i < mid && (r >= hi ||
            java.lang.Double.compare(sims(tmp(i)), sims(tmp(r))) >= 0)) {
          idx(o) = tmp(i); i += 1
        } else { idx(o) = tmp(r); r += 1 }
        o += 1
      }
    }
    def msort(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      msort(lo, mid); msort(mid, hi); merge(lo, mid, hi)
    }
    msort(0, k)
    val out = new Array[Long](nProbe)
    j = 0
    while (j < nProbe) { out(j) = idx(j).toLong + 1L; j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = emb.eval(input)
    if (v == null) null else evalVec(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeCells", this, classOf[ProbeCellsF].getName)
    val e = emb.genCode(ctx)
    val ad = classOf[ArrayData].getName
    if (nullable) {
      ev.copy(code = code"""
        ${e.code}
        boolean ${ev.isNull} = ${e.isNull};
        $ad ${ev.value} = null;
        if (!${ev.isNull}) { ${ev.value} = $ref.evalVec(${e.value}); }""")
    } else {
      ev.copy(code = code"""
        ${e.code}
        $ad ${ev.value} = $ref.evalVec(${e.value});""",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ProbeCellsF =
    copy(cents = newChildren(0), emb = newChildren(1), n = newChildren(2))
}

/** Native PQ encoding of an `array<float>` embedding to the packed
  * 64-bit codes word against a CONSTANT M×K×sub codebook table — the
  * index-build hot loop ([[graft.operators.ProductQuantizer
  * .packedCodes]]).
  *
  * The composable form is statically unrolled over the M = 16 subspaces,
  * but each subspace's argmin evaluates K zip_with/aggregate lambda
  * closures in the interpreter (higher-order functions never enter
  * whole-stage codegen) — M×K×sub interpreted allocations per ROW, paid
  * by every encode scan (index build, rebuild, streaming maintenance).
  * This expression caches the codebooks as one flat primitive array and
  * packs each row in a tight double loop.
  *
  * Arithmetic is BIT-IDENTICAL to the chain: per subspace the squared
  * L2 accumulates left-to-right in double precision from 0.0 (the
  * aggregate fold), strict `<` keeps the FIRST (lowest) code on exact
  * ties (`array_position(array_min)` semantics), and the 4-bit codes
  * sum into disjoint nibbles exactly like the `reduce(_ + _)` of
  * shifted words. A null EMBEDDING yields null (the null-propagating
  * chain's behavior); a null ELEMENT fails loudly — the chain would
  * null-poison the distance folds and emit code 0 for that subspace
  * (`array_position` on an all-null array returns 0), silently packing
  * a wrong word; fixture embeddings carry no null elements, so no
  * result changes, and the loud path is the [[NearestCellF]] family
  * convention. */
case class PqEncodeF(cbooks: Expression, emb: Expression)
    extends BinaryExpression {

  override def left: Expression = cbooks
  override def right: Expression = emb

  override def checkInputDataTypes(): TypeCheckResult =
    (cbooks.dataType, emb.dataType) match {
      case (ArrayType(ArrayType(ArrayType(FloatType, _), _), _),
            ArrayType(FloatType, _)) if cbooks.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (c, e) => TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode requires (foldable array<array<array<float>>>, " +
          s"array<float>), got ${c.sql} and ${e.sql}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = emb.nullable
  override def prettyName: String = "graft_pq_encode"

  // flat layout: cb(m*K*sub + k*sub + p); M/K fixed by the packed-word
  // layout (16 subspaces × 16 centroids = 4-bit codes in one BIGINT)
  @transient private lazy val (cbFlat: Array[Float], sub: Int) = {
    val ms = cbooks.eval(null).asInstanceOf[ArrayData]
    require(ms.numElements() == 16,
      s"graft_pq_encode codebook has ${ms.numElements()} subspaces, " +
        "packed-word layout needs exactly 16")
    val m0 = ms.getArray(0)
    require(m0.numElements() == 16,
      s"graft_pq_encode codebook subspace 0 has ${m0.numElements()} " +
        "centroids, packed-word layout needs 16")
    val s = m0.getArray(0).numElements()
    val out = new Array[Float](16 * 16 * s)
    var m = 0
    while (m < 16) {
      val ks = ms.getArray(m)
      require(ks.numElements() == 16,
        s"graft_pq_encode codebook subspace $m has ${ks.numElements()} " +
          "centroids, packed-word layout needs 16")
      var k = 0
      while (k < 16) {
        val c = ks.getArray(k)
        require(c.numElements() == s,
          s"graft_pq_encode centroid ($m,$k) has ${c.numElements()} " +
            s"dims, expected $s")
        var p = 0
        while (p < s) {
          require(!c.isNullAt(p),
            s"graft_pq_encode codebook has a null component at ($m,$k,$p)")
          out((m * 16 + k) * s + p) = c.getFloat(p); p += 1
        }
        k += 1
      }
      m += 1
    }
    (out, s)
  }

  def evalVec(v: ArrayData): Long = {
    val dim = v.numElements()
    require(dim == 16 * sub,
      s"embedding dim $dim != codebook dim ${16 * sub}")
    val vf = new Array[Float](dim)
    var p = 0
    while (p < dim) {
      if (v.isNullAt(p)) throw new IllegalArgumentException(
        "null-element embedding cannot be PQ-encoded (vec_id row would " +
          "be silently mis-coded); drop or re-embed it first")
      vf(p) = v.getFloat(p); p += 1
    }
    var packed = 0L
    var m = 0
    while (m < 16) {
      var best = Double.MaxValue
      var code = 0
      var k = 0
      while (k < 16) {
        val base = (m * 16 + k) * sub
        var acc = 0.0
        p = 0
        while (p < sub) {
          val d = vf(m * sub + p).toDouble - cbFlat(base + p).toDouble
          acc += d * d; p += 1
        }
        if (acc < best) { best = acc; code = k }
        k += 1
      }
      packed += code.toLong << (4 * m)
      m += 1
    }
    packed
  }

  override def nullSafeEval(cs: Any, e: Any): Any =
    evalVec(e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncodeF].getName)
    nullSafeCodeGen(ctx, ev, (_, e) => s"${ev.value} = $ref.evalVec($e);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeF =
    copy(cbooks = newLeft, emb = newRight)
}

/** Native asymmetric-distance PQ scoring of a packed 64-bit codes word
  * against a probe's driver-built lookup tables (the IVF+PQ probe's
  * per-row hot loop — [[graft.operators.ProductQuantizer.approxCosine]]).
  *
  * The composable form evaluates 32 nested `element_at(element_at(…))`
  * lookups plus 32 shift/mask subexpressions per ROW — codegen'd, but as
  * a 100+-node expression tree whose every lookup pays generic
  * `ArrayData` bounds-checked access against the nested literal. This
  * expression caches both tables ONCE as flat primitive `double[256]`
  * arrays (the left children must be foldable — they are always probe
  * literals) and scores each row in one 16-iteration loop of two array
  * reads, invoked from generated code.
  *
  * Arithmetic is BIT-IDENTICAL to the composable chain: both sums
  * accumulate left-to-right over subspaces m = 0..15 in double
  * precision (the same fold order as the `reduce(_ + _)` term chain),
  * the score is `a / (qnorm * sqrt(b))` with the identical operation
  * tree, and the 4-bit code extraction `(codes >> 4m) & 15` matches
  * `shiftright`'s arithmetic shift exactly (the mask discards the sign
  * extension a code of 15 in the top subspace produces). A null codes
  * word yields null, like the null-propagating chain. Verified
  * term-for-term in PqScoreSpec; every PQ-family oracle hash is
  * unchanged. */
case class PqScoreF(codes: Expression, lut: Expression, cn2: Expression,
    qnorm: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(codes, lut, cn2, qnorm)

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDD(t: DataType): Boolean = t match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (codes.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_pq_score needs a BIGINT codes word, got ${codes.dataType.sql}")
    else if (!isDD(lut.dataType) || !lut.foldable ||
             !isDD(cn2.dataType) || !cn2.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_pq_score needs two foldable array<array<double>> lookup tables")
    else if (qnorm.dataType != DoubleType || !qnorm.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"graft_pq_score needs a foldable double norm, got ${qnorm.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = codes.nullable
  override def prettyName: String = "graft_pq_score"

  // the packed-word layout is FIXED by ProductQuantizer (M=16 subspaces
  // × K=16 centroids = 4-bit codes in one BIGINT); a table of any other
  // shape means the caller's model disagrees with the word layout —
  // fail at first evaluation, never score garbage
  private def flat(e: Expression, name: String): Array[Double] = {
    val ad = e.eval(null).asInstanceOf[ArrayData]
    require(ad.numElements() == 16,
      s"graft_pq_score $name table has ${ad.numElements()} subspaces, " +
        "packed-word layout needs exactly 16")
    val out = new Array[Double](256)
    var m = 0
    while (m < 16) {
      val row = ad.getArray(m)
      require(row.numElements() == 16,
        s"graft_pq_score $name table subspace $m has " +
          s"${row.numElements()} centroids, packed-word layout needs 16")
      var k = 0
      while (k < 16) {
        // getDouble on a null element reads garbage silently — a
        // SQL-authored table with a null slot must fail, not mis-score
        require(!row.isNullAt(k),
          s"graft_pq_score $name table has a null entry at ($m, $k)")
        out(m * 16 + k) = row.getDouble(k); k += 1
      }
      m += 1
    }
    out
  }
  @transient private lazy val lutFlat: Array[Double] = flat(lut, "dot")
  @transient private lazy val cn2Flat: Array[Double] = flat(cn2, "norm")
  @transient private lazy val qn: Double = {
    val v = qnorm.eval(null)
    // a null literal would unbox to 0.0 silently and score everything
    // NaN/Inf — refuse it loudly instead
    require(v != null, "graft_pq_score probe norm must not be null")
    v.asInstanceOf[Double]
  }

  def evalCode(code: Long): Double = {
    var a = 0.0
    var b = 0.0
    var m = 0
    while (m < 16) {
      val c = ((code >> (4 * m)) & 15L).toInt
      a += lutFlat(m * 16 + c)
      b += cn2Flat(m * 16 + c)
      m += 1
    }
    a / (qn * math.sqrt(b))
  }

  override def eval(input: InternalRow): Any = {
    val c = codes.eval(input)
    if (c == null) null else evalCode(c.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqScore", this, classOf[PqScoreF].getName)
    val c = codes.genCode(ctx)
    if (nullable) {
      ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) { ${ev.value} = $ref.evalCode(${c.value}); }""")
    } else {
      // a non-nullable codes child genCodes its isNull as the literal
      // `false` — declaring `boolean false = …` would fail janino, so
      // this arm never re-declares it
      ev.copy(code = code"""
        ${c.code}
        double ${ev.value} = $ref.evalCode(${c.value});""",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqScoreF =
    copy(codes = newChildren(0), lut = newChildren(1),
      cn2 = newChildren(2), qnorm = newChildren(3))
}

/** Session extension registering the native functions and graft's plan
  * rules ([[graft.plans.DotProductRewrite]],
  * [[graft.plans.SmallSortSinglePartition]]), the same injection point the
  * reference's engine uses for its Iceberg extensions
  * (`/root/reference/conf/spark-defaults.conf:1`). Enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductF(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest_cell"),
      new ExpressionInfo(classOf[NearestCellF].getName, "graft_nearest_cell"),
      (children: Seq[Expression]) => NearestCellF(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncodeF].getName, "graft_pq_encode"),
      (children: Seq[Expression]) => PqEncodeF(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_probe_cells"),
      new ExpressionInfo(classOf[ProbeCellsF].getName, "graft_probe_cells"),
      (children: Seq[Expression]) => ProbeCellsF(children(0), children(1),
        children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_score"),
      new ExpressionInfo(classOf[PqScoreF].getName, "graft_pq_score"),
      (children: Seq[Expression]) => PqScoreF(children(0), children(1),
        children(2), children(3))))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGramsGenerator].getName, "graft_ngrams"),
      (children: Seq[Expression]) => NGramsGenerator(children(0), children(1))))
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectQueryStagePrepRule(graft.plans.SmallSortSinglePartition(_))
  }
}

/** Column helpers for the native expressions shared by several operators.
  * Like every native function they resolve only in a session carrying
  * [[GraftExtensions]]; anywhere else analysis fails with Spark's own
  * `UNRESOLVED_ROUTINE` error naming the function. */
object VectorFunctions {
  /** `graft_dot(a, b)` over two `array<float>` columns ([[DotProductF]]). */
  def graftDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
