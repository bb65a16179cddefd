package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NearestCentroid, PqEncode, Round6}

/** `Round6.argBest` rounds only the scores near the best one; the
  * expressions built on it must return exactly what the loops that round
  * every score returned. Those loops are kept here as the references.
  * Deterministic seeded sampling, no Spark session. */
class RoundingPropertySpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261020)

  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def refArgBest(scores: Array[Double], max: Boolean): Int = {
    var bestK = 0
    var best = if (max) Double.NegativeInfinity else Double.PositiveInfinity
    for (k <- scores.indices) {
      val r = round6(scores(k))
      val c = java.lang.Double.compare(r, best)
      if (if (max) c > 0 else c < 0) { best = r; bestK = k }
    }
    bestK
  }

  private def refNearest(x: Array[Double], ids: IndexedSeq[Int],
                         centroids: IndexedSeq[IndexedSeq[Double]]): Int = {
    val xn = math.sqrt(x.map(v => v * v).sum)
    var bestId = ids(0)
    var best = Double.NegativeInfinity
    for (k <- centroids.indices) {
      val c = centroids(k)
      var s = 0.0
      for (i <- 0 until math.min(x.length, c.length)) s += x(i) * c(i)
      val cn = math.sqrt(c.foldLeft(0.0)((a, v) => a + v * v))
      val sim = round6(s / (xn * cn))
      if (java.lang.Double.compare(sim, best) > 0) { best = sim; bestId = ids(k) }
    }
    bestId
  }

  private def refPq(x: Array[Double], m: Int, dsub: Int,
                    words: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Seq[Int] =
    (0 until m).map { s =>
      val off = s * dsub
      val len = math.max(0, math.min(dsub, x.length - off))
      var svv = 0.0
      for (i <- 0 until len) svv += x(off + i) * x(off + i)
      var bestK = 1
      var best = Double.PositiveInfinity
      for (k <- words(s).indices) {
        val w = words(s)(k)
        var ab = 0.0
        for (i <- 0 until math.min(len, w.length)) ab += x(off + i) * w(i)
        val w2 = w.foldLeft(0.0)((a, v) => a + v * v)
        val d = round6(svv + w2 - 2.0 * ab)
        if (java.lang.Double.compare(d, best) < 0) { best = d; bestK = k + 1 }
      }
      bestK
    }

  private def lit(x: Array[Double]) =
    Literal(new GenericArrayData(x.map(Double.box)), ArrayType(DoubleType))

  private val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue)

  /** Scores clustered around a base so many of them tie, or sit one ulp
    * from a tie, at the 6th decimal; some special values mixed in. */
  private def scores(): Array[Double] = {
    val base = Seq(0.0, 0.5, -0.5, 1e-7, 123.456789, -98765.4321, 1e9, 4.2e15,
      1e-300)(rnd.nextInt(9))
    Array.fill(1 + rnd.nextInt(12)) {
      rnd.nextInt(10) match {
        case 0 => specials(rnd.nextInt(specials.length))
        case 1 => base + (rnd.nextInt(7) - 3) * 5e-7
        case 2 => math.nextUp(base + (rnd.nextInt(7) - 3) * 5e-7)
        case 3 => math.nextDown(base + (rnd.nextInt(7) - 3) * 5e-7)
        case 4 => base + (rnd.nextInt(41) - 20) * 1e-7
        case 5 => base + rnd.nextGaussian() * 1e-5
        case 6 => BigDecimal(base).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 5e-7
        case _ => base + rnd.nextGaussian() * 1e-6
      }
    }
  }

  test("argBest picks the index the round-every-score scan picks: ties at " +
    "the 6th decimal, one-ulp neighbours, NaN, ±0.0, ±Inf, large and tiny " +
    "magnitudes") {
    for (_ <- 1 to 20000) {
      val s = scores()
      for (max <- Seq(true, false))
        assert(Round6.argBest(s, s.length, max) === refArgBest(s, max),
          s"max=$max scores=${s.mkString("[", ", ", "]")}")
    }
    // the start value is never beaten: index 0 even where a later entry is NaN
    assert(Round6.argBest(Array(Double.PositiveInfinity, Double.NaN), 2, max = false) === 0)
    assert(Round6.argBest(Array(Double.NaN, Double.PositiveInfinity), 2, max = false) === 0)
    assert(Round6.argBest(Array(Double.NegativeInfinity, Double.NegativeInfinity), 2,
      max = true) === 0)
    assert(Round6.argBest(Array(1.0, Double.NaN, Double.NaN), 3, max = true) === 1)
    assert(Round6.argBest(Array(0.2000004, 0.2000001, 0.1999996), 3, max = true) === 0)
    assert(Round6.argBest(Array(0.1999996, 0.2000004), 2, max = false) === 0)
    assert(Round6.argBest(Array(-0.0, 0.0), 2, max = true) === 0)
  }

  test("NearestCentroid matches the round-every-similarity loop, zero and " +
    "NaN vectors included") {
    for (_ <- 1 to 3000) {
      val dim = 1 + rnd.nextInt(6)
      val nlist = 1 + rnd.nextInt(8)
      def vec(): IndexedSeq[Double] = IndexedSeq.fill(dim)(rnd.nextInt(5) match {
        case 0 => 0.0
        case 1 => (rnd.nextInt(5) - 2).toDouble
        case 2 => -0.0
        case _ => rnd.nextGaussian()
      })
      val base = vec()
      // scaled copies of one centroid have equal cosine up to rounding
      val centroids = IndexedSeq.fill(nlist)(
        if (rnd.nextBoolean()) base.map(_ * (1 + rnd.nextInt(3))) else vec())
      val ids = IndexedSeq.tabulate(nlist)(k => 10 + 3 * k)
      val x = rnd.nextInt(6) match {
        case 0 => Array.fill(dim)(0.0)
        case 1 => base.toArray
        case 2 => Array.fill(dim)(Double.NaN)
        case _ => vec().toArray
      }
      val got = NearestCentroid(lit(x), ids, centroids).eval()
      assert(got === refNearest(x, ids, centroids),
        s"x=${x.mkString(",")} c=$centroids")
    }
  }

  test("PqEncode matches the round-every-distance loop, all-NaN subspaces " +
    "and short vectors included") {
    for (_ <- 1 to 3000) {
      val m = 1 + rnd.nextInt(3)
      val dsub = 1 + rnd.nextInt(3)
      val ksub = 1 + rnd.nextInt(6)
      def word(): IndexedSeq[Double] =
        IndexedSeq.fill(dsub)((rnd.nextInt(9) - 4) * 0.25 + (rnd.nextInt(3) - 1) * 2.5e-7)
      val words = IndexedSeq.fill(m) {
        val w0 = word()
        IndexedSeq.fill(ksub)(if (rnd.nextInt(3) == 0) w0 else word())
      }
      val full = Array.fill(m * dsub)((rnd.nextInt(9) - 4) * 0.25 +
        (rnd.nextInt(5) - 2) * 2.5e-7)
      val x = rnd.nextInt(5) match {
        case 0 => full.take(rnd.nextInt(m * dsub + 1))
        case 1 => full.zipWithIndex.map { case (v, i) => if (i < dsub) Double.NaN else v }
        case 2 => Array.fill(m * dsub)(0.0)
        case _ => full
      }
      val got = PqEncode(lit(x), m, dsub, words).eval().asInstanceOf[ArrayData]
        .toIntArray().toSeq
      assert(got === refPq(x, m, dsub, words), s"x=${x.mkString(",")} w=$words")
    }
  }
}
