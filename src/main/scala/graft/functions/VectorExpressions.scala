package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native dot product over two `array<double>` columns.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), 0, _+_)` —
  * runs as interpreted higher-order functions: per-element lambda dispatch
  * and boxing make it ~100× slower than this tight primitive loop, which
  * dominates brute-force similarity (n² pairs × dim element products).
  * Accumulation is left-to-right in double precision, matching both the HOF
  * formulation and DuckDB's list_dot_product, so scores are engine-portable
  * bit-for-bit.
  *
  * Null elements are not supported (embedding vectors are dense); a null
  * array yields null via BinaryExpression's default null handling.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All banded sign-random-projection bucket keys of one vector in a single
  * pass: returns `array<long>` of length `numBands`, element b holding the
  * r-bit key (r = planes/numBands) whose bit j is set iff
  * round(dot(v, plane_{b·r+j}), 6) > 0 — the house round-before-any-float-
  * decision rule, computed with the same BigDecimal HALF_UP semantics as
  * Catalyst's round so the DuckDB oracle agrees.
  *
  * The composable alternative (explode the vector to dim rows, join the
  * plane matrix, groupBy-sum per plane, re-derive keys) shuffles dim× the
  * corpus row count to reassemble what is pure per-row arithmetic; this
  * expression keeps the whole signature stage map-side, and producing the
  * FINAL band keys (not intermediate dots) means no aliased-projection
  * re-evaluation (CollapseProject would inline a dots column into every
  * band-key use site). Dots accumulate in strict index order. Throws on a
  * vector whose length differs from the plane dimension — silently dropping
  * the tail would corrupt signatures. */
case class SrpBandKeys(child: Expression, planes: IndexedSeq[IndexedSeq[Double]],
                       numBands: Int)
    extends UnaryExpression with CodegenFallback {

  require(numBands > 0 && planes.length % numBands == 0,
    "numBands must divide the plane count")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  private val r = planes.length / numBands
  // Seq params keep case-class structural equality (plan identity — cache
  // dedup, ReuseExchange, sameResult — breaks on Array's reference equals);
  // the hot loop runs over this private primitive copy.
  private lazy val planesArr: Array[Array[Double]] = planes.map(_.toArray).toArray

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    val pl0 = planesArr
    val dim = if (pl0.isEmpty) 0 else pl0(0).length
    if (x.length != dim)
      throw new IllegalArgumentException(
        s"srpBands: vector length ${x.length} != dim=$dim")
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var key = 0L
      var j = 0
      while (j < r) {
        val pl = pl0(b * r + j)
        var s = 0.0
        var i = 0
        while (i < dim) { s += x(i) * pl(i); i += 1 }
        // NaN > 0 mirrors Spark's GreaterThan on double (NaN sorts greatest)
        if (java.lang.Double.compare(Round6(s), 0.0) > 0) key |= (1L << j)
        j += 1
      }
      out(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst's `round(x, 6)` on doubles (BigDecimal HALF_UP; NaN and ±Inf
  * pass through), and the arg-best over rounded scores that rounds only the
  * scores that can tie with the best. */
private[graft] object Round6 {

  def apply(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The index a scan over `scores(0 until n)` returns when it rounds every
    * score, starts from -Inf (`max`) or +Inf (arg-min) at index 0, and moves
    * only on a strictly better rounded score under
    * `java.lang.Double.compare` (NaN greatest: it wins an arg-max and loses
    * an arg-min).
    *
    * Rounding is monotone (`Double.toString` keeps order and HALF_UP
    * rounding does too), so the best rounded score is the rounding of the
    * best raw one, and the answer is the first index whose rounded score
    * equals it. Two scores that round alike lie within 1e-6 plus their
    * decimal conversion error (half an ulp each) of one another, so only
    * scores within 2e-6 + 2 ulp of the best raw score are rounded. Non-finite
    * scores round to themselves and no finite score rounds to one. */
  def argBest(scores: Array[Double], n: Int, max: Boolean): Int = {
    val sign = if (max) 1 else -1
    var b = 0
    var k = 1
    while (k < n) {
      if (sign * java.lang.Double.compare(scores(k), scores(b)) > 0) b = k
      k += 1
    }
    val best = scores(b)
    if (java.lang.Double.isNaN(best) || java.lang.Double.isInfinite(best))
      // a best equal to the start value never moved the scan
      if (best == (if (max) Double.NegativeInfinity else Double.PositiveInfinity)) 0
      else b
    else {
      val target = apply(best)
      val bound = best - sign * (2e-6 + 2 * math.ulp(best))
      k = 0
      while (!(sign * java.lang.Double.compare(scores(k), bound) >= 0 &&
               apply(scores(k)) == target)) k += 1
      k
    }
  }
}

/** Nearest-centroid assignment in one pass: returns the centroid_id (from
  * `ids`) whose cosine similarity to the vector is highest, similarities
  * rounded to 6 dp with Catalyst-identical HALF_UP semantics BEFORE the
  * argmax and ties resolved to the smallest centroid id (ids are scanned in
  * ascending order and only a strictly greater rounded similarity moves the
  * winner) — byte-for-byte the same cell membership as the crossJoin +
  * max(struct(sim, -cid)) formulation it replaces, without materialising
  * nlist× corpus rows or re-keying the corpus through a groupBy. NaN
  * similarities (zero-norm inputs) rank above any number, matching Spark's
  * ordering in the aggregate form. */
case class NearestCentroid(child: Expression, ids: IndexedSeq[Int],
                           centroids: IndexedSeq[IndexedSeq[Double]])
    extends UnaryExpression with CodegenFallback {

  require(ids.length == centroids.length && ids.nonEmpty,
    "ids and centroids must align and be non-empty")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  // Seq params for structural plan equality; primitive copies for the loop
  private lazy val idsArr: Array[Int] = ids.toArray
  private lazy val centroidsArr: Array[Array[Double]] = centroids.map(_.toArray).toArray
  private lazy val cnorms: Array[Double] = centroidsArr.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    var xs = 0.0
    var i = 0
    while (i < x.length) { xs += x(i) * x(i); i += 1 }
    val xn = math.sqrt(xs)
    val sims = new Array[Double](centroidsArr.length)
    var k = 0
    while (k < centroidsArr.length) {
      val c = centroidsArr(k)
      val n = math.min(x.length, c.length)
      var s = 0.0
      i = 0
      while (i < n) { s += x(i) * c(i); i += 1 }
      sims(k) = s / (xn * cnorms(k))
      k += 1
    }
    idsArr(Round6.argBest(sims, sims.length, max = true))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder in one pass: returns `array<int>` of length
  * m, element s holding the 1-based id of the codeword nearest the s-th
  * subvector by squared L2, each distance rounded to 6 dp with
  * Catalyst-identical HALF_UP semantics BEFORE the argmin and ties resolved
  * to the smaller code id — byte-for-byte the codes of the
  * m × ksub struct-argmin expression tree it replaces (PqOps.codeExpr's
  * array_min form), whose ~m·ksub·dsub-node tree dominated PQ query time
  * with analyzer/codegen cost rather than arithmetic. Distance composition
  * mirrors the tree exactly: (sv·sv + w·w) − 2·(sv·w), each dot a strict
  * left-to-right fold over the overlapping prefix (the [[DotProduct]]
  * contract), so a short vector's trailing subspaces degrade identically.
  * NaN distances lose to any number (Spark's double ordering in array_min),
  * and an all-NaN subspace keeps code 1 — the struct-min tie outcome. */
case class PqEncode(child: Expression, m: Int, dsub: Int,
                    words: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression with CodegenFallback {

  require(m > 0 && dsub > 0 && words.length == m && words.forall(_.nonEmpty),
    "words must hold a non-empty codebook per subspace")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  // Seq params for structural plan equality; primitive copies for the loop
  private lazy val wArr: Array[Array[Array[Double]]] =
    words.map(_.map(_.toArray).toArray).toArray
  private lazy val wNorm2: Array[Array[Double]] = wArr.map(_.map { w =>
    var s = 0.0; var i = 0
    while (i < w.length) { s += w(i) * w(i); i += 1 }
    s
  })
  private lazy val ksubMax: Int = wArr.map(_.length).max

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    val codes = new Array[Int](m)
    val dists = new Array[Double](ksubMax)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val len = math.max(0, math.min(dsub, x.length - off))
      var svv = 0.0
      var i = 0
      while (i < len) { val xi = x(off + i); svv += xi * xi; i += 1 }
      val ws = wArr(s)
      var k = 0
      while (k < ws.length) {
        val w = ws(k)
        val n = math.min(len, w.length)
        var ab = 0.0
        i = 0
        while (i < n) { ab += x(off + i) * w(i); i += 1 }
        dists(k) = svv + wNorm2(s)(k) - 2.0 * ab
        k += 1
      }
      codes(s) = Round6.argBest(dists, ws.length, max = false) + 1
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Upper-triangle Gram-matrix aggregate over CENTERED vectors: folds each
  * row's outer product x_c·x_cᵀ (x_c = x − μ, μ the caller's rounded means)
  * into a flat double buffer [count, s_00, s_01, …] of length
  * dims·(dims+1)/2 + 1 — the second-moment pass behind
  * [[graft.ext.SimilarityOps.covarianceMatrix]].
  *
  * The relational alternative — explode dims²/2 pair-structs per row and
  * groupBy (i, j) — pushes rows×dims²/2 structs through a hash aggregate
  * (12.5M at sf0.1, 64 dims); this aggregate keeps the fold in a primitive
  * loop over a reused buffer, map-side partial per partition, one
  * buffer-merge per partition at the final exchange. Same determinism
  * contract as the explode form: per-partition left-to-right accumulation
  * of O(σ²) centered products, merge order noise ~1e-15 relative, rounded
  * at 6 dp by the caller.
  *
  * Null vectors are skipped (the explode form dropped them too); a
  * dimension mismatch throws — silently folding a short vector would
  * corrupt the matrix. */
case class GramMatrixAgg(
    child: Expression, mu: IndexedSeq[Double],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Double]] {

  private val dims = mu.length
  private val tri = dims * (dims + 1) / 2

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](tri + 1)

  override def update(buf: Array[Double],
                      input: org.apache.spark.sql.catalyst.InternalRow): Array[Double] = {
    val a = child.eval(input)
    if (a != null) {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      if (x.length != dims)
        throw new IllegalArgumentException(
          s"gram_matrix: vector of length ${x.length}, expected $dims")
      val xc = new Array[Double](dims)
      var i = 0
      while (i < dims) { xc(i) = x(i) - mu(i); i += 1 }
      var p = 1
      i = 0
      while (i < dims) {
        val xi = xc(i)
        var j = i
        while (j < dims) { buf(p) += xi * xc(j); p += 1; j += 1 }
        i += 1
      }
      buf(0) += 1.0
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object VectorFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** dot(a, b) in double precision; inputs are cast to array<double> so
    * float corpora are promoted exactly once, not per multiplication. */
  def dot_d(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** All banded SRP bucket keys of `v` as array<long> (see [[SrpBandKeys]]). */
  def srp_band_keys(v: Column, planes: Seq[Seq[Double]], numBands: Int): Column =
    ColumnBridge.column(SrpBandKeys(
      ColumnBridge.expression(v.cast("array<double>")),
      planes.map(_.toIndexedSeq).toIndexedSeq, numBands))

  /** Nearest centroid id of `v` by rounded cosine (see [[NearestCentroid]]). */
  def nearest_centroid(v: Column, ids: Seq[Int],
                       centroids: Seq[Seq[Double]]): Column =
    ColumnBridge.column(NearestCentroid(
      ColumnBridge.expression(v.cast("array<double>")),
      ids.toIndexedSeq, centroids.map(_.toIndexedSeq).toIndexedSeq))

  /** PQ codes of `v` — `words(s)(k-1)` is codeword k of subspace s (see
    * [[PqEncode]]). */
  def pq_encode(v: Column, m: Int, dsub: Int,
                words: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncode(
      ColumnBridge.expression(v.cast("array<double>")),
      m, dsub, words.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))

  /** Centered upper-triangle Gram sums of `v` against the literal means —
    * aggregate column returning [count, s_00, s_01, …] (see
    * [[GramMatrixAgg]]). */
  def gram_matrix(v: Column, mu: Seq[Double]): Column =
    ColumnBridge.column(GramMatrixAgg(
      ColumnBridge.expression(v.cast("array<double>")), mu.toIndexedSeq)
      .toAggregateExpression())
}
