package graft

import org.apache.spark.sql.functions._

import graft.ext.{CorpusOps, RepetitionOps, SimilarityOps}
import graft.ext.SimilarityOps.ClusterSizing
import graft.operators.BloomPrune

/** Round-4 curation additions: chunk-level cross-document dedup, Gopher
  * repetition metrics, Bloom-pruned semi-join, domain rebalancing, token
  * histograms and SemDeDup. */
class RepetitionSpec extends SparkTestBase {

  import spark.implicits._

  // ---- explodeChunks / chunkDedup ----

  test("explodeChunks: non-overlapping chunks with trailing partial kept") {
    val df = Seq((1L, "a b c d e"), (2L, "x"), (3L, ""), (4L, null: String))
      .toDF("doc_id", "text")
    val got = RepetitionOps.explodeChunks(df, col("doc_id"), col("text"), c = 2)
      .as[(Long, Int, String)].collect().toSet
    assert(got === Set((1L, 0, "a b"), (1L, 1, "c d"), (1L, 2, "e"), (2L, 0, "x")))
  }

  test("chunkDedup: first global occurrence survives, documents reassemble in order") {
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5"),  // chunks: "t1 t2 t3", "t4 t5"
      (2L, "t1 t2 t3 zz"),     // loses its first chunk to doc 1
      (3L, "t1 t2 t3"))        // loses everything
      .toDF("doc_id", "text")
    val got = RepetitionOps.chunkDedup(df, col("doc_id"), col("text"), c = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 2L, 2L, "t1 t2 t3 t4 t5"),
      (2L, 2L, 1L, "zz"),
      (3L, 1L, 0L, "")))
  }

  test("chunkDedup: within one document a repeated chunk keeps only its first copy") {
    val df = Seq((7L, "p q r p q r p q")).toDF("doc_id", "text")
    // c=3 -> chunks "p q r" (idx0), "p q r" (idx1), "p q" (idx2)
    val got = RepetitionOps.chunkDedup(df, col("doc_id"), col("text"), c = 3)
      .as[(Long, Long, Long, String)].collect().head
    assert(got === ((7L, 3L, 2L, "p q r p q")))
  }

  // ---- substrDedup ----

  test("substrDedup: duplicated span at an arbitrary offset is removed, " +
    "first occurrence survives, merged span accounting is exact") {
    // doc 1 owns "d1 d2 d3" (k=3 shingle); doc 2 embeds it mid-document at
    // offset 2 -> one span [2,5) of 3 tokens removed from doc 2.
    val df = Seq(
      (1L, "d1 d2 d3 u1 u2"),
      (2L, "v1 v2 d1 d2 d3 v3 v4"))
      .toDF("doc_id", "text")
    val got = RepetitionOps.substrDedup(df, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 5L, 0L, 0L, "d1 d2 d3 u1 u2"),
      (2L, 7L, 1L, 3L, "v1 v2 v3 v4")))
  }

  test("substrDedup: overlapping duplicated shingles merge into one maximal span") {
    // doc 2 repeats doc 1's 4-token run: shingles at offsets 1 and 2 (k=3)
    // are both duplicated -> intervals [1,4) and [2,5) merge to [1,5).
    val df = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "z1 w1 w2 w3 w4 z2"))
      .toDF("doc_id", "text")
    val got = RepetitionOps.substrDedup(df, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 4L, 0L, 0L, "w1 w2 w3 w4"),
      (2L, 6L, 1L, 4L, "z1 z2")))
  }

  test("substrDedup: disjoint duplicated spans stay separate spans") {
    val df = Seq(
      (1L, "a1 a2 a3"),
      (2L, "b1 b2 b3"),
      (3L, "a1 a2 a3 x1 x2 x3 b1 b2 b3"))
      .toDF("doc_id", "text")
    val got = RepetitionOps.substrDedup(df, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 3L, 0L, 0L, "a1 a2 a3"),
      (2L, 3L, 0L, 0L, "b1 b2 b3"),
      (3L, 9L, 2L, 6L, "x1 x2 x3")))
  }

  test("substrDedup: within-document self-repeat clips positionally " +
    "(suffix-array-form semantics), shorter-than-k docs survive whole") {
    // "r r r r r": k=3 shingles at 0,1,2 are identical; 1 and 2 are
    // duplicated -> span [1,5) removes everything but token 0.
    val df = Seq(
      (1L, "r r r r r"),
      (2L, "s t"),            // shorter than k: no shingles, intact
      (3L, ""), (4L, null: String)) // tokenless: absent
      .toDF("doc_id", "text")
    val got = RepetitionOps.substrDedup(df, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 5L, 1L, 4L, "r"),
      (2L, 2L, 0L, 0L, "s t")))
  }

  test("longMatchDedup equals substrDedup row for row at the same width " +
    "(hashing the shuffle key is semantics-free), and sub-minLen repeats " +
    "pass untouched") {
    // a 6-token passage shared at different offsets + a 2-token repeat
    val df = Seq(
      (1L, "p1 p2 p3 p4 p5 p6 u1 u2 q1 q2"),
      (2L, "v1 v2 v3 p1 p2 p3 p4 p5 p6 v4 q1 q2"),
      (3L, "w1 w2 w3 w4"))
      .toDF("doc_id", "text")
    val viaHash = RepetitionOps.longMatchDedup(df, col("doc_id"),
        col("text"), minLen = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val viaString = RepetitionOps.substrDedup(df, col("doc_id"),
        col("text"), k = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(viaHash === viaString)
    // doc 2 loses exactly the 6-token passage (offset-shifted), never the
    // 2-token "q1 q2" repeat (below minLen); doc 1 (first) keeps all
    assert(viaHash.contains((1L, 10L, 0L, 0L, "p1 p2 p3 p4 p5 p6 u1 u2 q1 q2")))
    assert(viaHash.contains((2L, 12L, 1L, 6L, "v1 v2 v3 v4 q1 q2")))
    assert(viaHash.contains((3L, 4L, 0L, 0L, "w1 w2 w3 w4")))
  }

  test("substrDedup raises on doc_id magnitudes that would overflow the " +
    "winner encoding") {
    val df = Seq((8796093022208L, "a b c d")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      RepetitionOps.substrDedup(df, col("doc_id"), col("text"), k = 2).collect()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => Option(c.getMessage).getOrElse("")).getOrElse("")
    assert(msg(ex).contains("2^43"))
  }

  // ---- repetitionMetrics ----

  test("repetitionMetrics: exact fractions on a crafted repetitive document") {
    val df = Seq(
      (1L, "a b a b c"),
      // "x y z w v" repeated 3x: every 5-gram duplicated, top 2-gram cnt=3
      (2L, "x y z w v x y z w v x y z w v"),
      (3L, "q"))  // shorter than both n -> zeros
      .toDF("doc_id", "text")
    val got = RepetitionOps.repetitionMetrics(df, col("doc_id"), col("text"),
        topN = 2, dupN = 5)
      .as[(Long, Long, Double, Double)].collect().toSet
    // doc 1: tot=9; top 2-gram "a b" cnt=2, chars 3 -> 6/9; no dup 5-grams
    // doc 2: tot=29; top 2-gram cnt=3 × 3 chars -> 9/29; dup 5-gram chars =
    //        (3-1)*9 + 4*(2-1)*9 = 54 -> 54/29 (occurrence-count form may
    //        exceed 1 by design)
    assert(got === Set(
      (1L, 9L, math.rint(6.0 / 9 * 1e6) / 1e6, 0.0),
      (2L, 29L, math.rint(9.0 / 29 * 1e6) / 1e6, math.rint(54.0 / 29 * 1e6) / 1e6),
      (3L, 1L, 0.0, 0.0)))
  }

  // ---- BloomPrune ----

  test("prunedSemiJoin equals the plain left-semi join (no false negatives)") {
    val probe = spark.range(0, 1000).toDF("k")
      .withColumn("payload", col("k") * 2)
    val build = spark.range(0, 1000).toDF("b").where(col("b") % 7 === 0)
    val got = BloomPrune.prunedSemiJoin(probe, "k", build, "b",
      expectedItems = 1000, fpp = 0.03)
      .select("k").as[Long].collect().sorted
    val want = probe.join(build.withColumnRenamed("b", "k"), Seq("k"), "left_semi")
      .select("k").as[Long].collect().sorted
    assert(got.sameElements(want) && got.length === 143)
  }

  test("prunedSemiJoin drops null probe keys (semi-join semantics)") {
    val probe = Seq(Option(1L), Option(2L), None).toDF("k")
    val build = Seq(1L, 3L).toDF("b")
    val got = BloomPrune.prunedSemiJoin(probe, "k", build, "b", expectedItems = 10)
      .as[Option[Long]].collect().toSet
    assert(got === Set(Option(1L)))
  }

  // ---- domainRebalance / tokenHistogram ----

  test("domainRebalance caps each stratum deterministically; small strata intact") {
    val df = (1 to 30).map(i => (i.toLong, if (i <= 25) "big" else "small"))
      .toDF("doc_id", "source")
    val r1 = CorpusOps.domainRebalance(df, col("doc_id"), col("source"), cap = 10)
      .as[(Long, String)].collect().toSet
    val r2 = CorpusOps.domainRebalance(df, col("doc_id"), col("source"), cap = 10)
      .as[(Long, String)].collect().toSet
    assert(r1 === r2)
    assert(r1.count(_._2 == "big") === 10 && r1.count(_._2 == "small") === 5)
    assert(r1.forall { case (id, s) => (s == "big") == (id <= 25) })
  }

  test("tokenHistogram bins by width with per-bin edges") {
    val df = Seq.fill(3)("a b c").map(Tuple1(_))
      .toDF("text")
      .union(Seq(Tuple1(((1 to 12).map(i => s"t$i")).mkString(" "))).toDF("text"))
    val got = CorpusOps.tokenHistogram(df, col("text"), binWidth = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 3L, 3L, 3L), (1L, 1L, 12L, 12L)))
  }

  // ---- SemDeDup ----

  /** Pairwise-dissimilar base vectors: identical copies are the only pairs
    * above any high tau, so the survivor set is clustering-invariant. */
  private def semBase = Seq(
    1L -> Seq(1.0, 0.0, 0.0, 0.0),
    2L -> Seq(0.0, 1.0, 0.0, 0.0),
    3L -> Seq(0.0, 0.0, 1.0, 0.0),
    4L -> Seq(0.0, 0.0, 0.0, 1.0),
    5L -> Seq(0.7, -0.7, 0.0, 0.0),
    6L -> Seq(0.0, 0.0, 0.7, -0.7))

  test("semDedup keeps the smallest id of each identical family, all singletons") {
    val corpus = (semBase ++ Seq(
        10L -> semBase(0)._2, // copy of 1
        11L -> semBase(1)._2) // copy of 2
      ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semDedup(corpus, "vec_id", "embedding",
        ClusterSizing.Nlist(3), kmeansIters = 2, tau = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("semDedupAuto sizes nlist as ceil(n/target) and matches the " +
    "explicit form") {
    val corpus = (semBase ++ Seq(10L -> semBase(0)._2, 11L -> semBase(1)._2))
      .toDF("vec_id", "embedding")
    // n = 8, target 3 -> nlist = 3: byte-identical to the explicit call
    val auto = SimilarityOps.semDedup(corpus, "vec_id", "embedding",
        ClusterSizing.TargetSize(3), kmeansIters = 2, tau = 0.9999)
      .as[(Long, Long)].collect().toSet
    val explicit = SimilarityOps.semDedup(corpus, "vec_id", "embedding",
        ClusterSizing.Nlist(3), kmeansIters = 2, tau = 0.9999)
      .as[(Long, Long)].collect().toSet
    assert(auto === explicit)
    // a target >= n degenerates to one cluster, still correct
    val one = SimilarityOps.semDedup(corpus, "vec_id", "embedding",
        ClusterSizing.TargetSize(100), kmeansIters = 0, tau = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    assert(one === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("semDedup leaves no persisted block behind, with either sizing") {
    val corpus = (semBase ++ Seq(10L -> semBase(0)._2, 11L -> semBase(1)._2))
      .toDF("vec_id", "embedding").cache()
    try {
      corpus.count()
      val sc = spark.sparkContext
      Seq(ClusterSizing.Nlist(3), ClusterSizing.TargetSize(3)).foreach { c =>
        val before = sc.getPersistentRDDs.size
        val got = SimilarityOps.semDedup(corpus, "vec_id", "embedding", c,
            kmeansIters = 2, tau = 0.9999)
          .select("vec_id").as[Long].collect().toSet
        assert(got === Set(1L, 2L, 3L, 4L, 5L, 6L))
        assert(sc.getPersistentRDDs.size === before,
          s"$c left ${sc.getPersistentRDDs.size - before} persisted RDD(s)")
      }
    } finally corpus.unpersist(blocking = true)
  }

  test("semDedup on an empty corpus: the target-size sizing raises naming " +
    "the operator") {
    val empty = semBase.toDF("vec_id", "embedding").where(lit(false))
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.semDedup(empty, "vec_id", "embedding",
        ClusterSizing.TargetSize(3), kmeansIters = 0, tau = 0.99)
    }
    assert(ex.getMessage.contains("semDedup: empty corpus"), ex.getMessage)
  }

  test("semDedup fails fast when a cluster exceeds maxCluster") {
    val corpus = semBase.toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      SimilarityOps.semDedup(corpus, "vec_id", "embedding",
        ClusterSizing.Nlist(1), kmeansIters = 0, tau = 0.99, maxCluster = 2).collect()
    }
    assert(ex.getMessage.contains("maxCluster") ||
      ex.getCause != null && ex.getCause.getMessage.contains("maxCluster"))
  }
}
