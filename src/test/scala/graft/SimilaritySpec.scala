package graft

import org.apache.spark.sql.functions._
import graft.ext.SimilarityOps
import graft.ext.SimilarityOps.LshSizing

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Seq(0.9f, 0.1f, 0.0f)),   // near 0
    (3L, Seq(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Seq(-1.0f, 0.0f, 0.0f)))  // opposite
    .toDF("vec_id", "embedding")

  test("dot/norm/cosine basics") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val d = df.select(SimilarityOps.dot($"a", $"b")).as[Double].head()
    assert(d == 11.0)
    val c = df.select(SimilarityOps.cosine($"a", $"a")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosineTopK ranks identical first, orthogonal/opposite last") {
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("q"))
    val got = SimilarityOps.cosineTopK(vecs.where($"vec_id" =!= 0),
      "vec_id", "embedding", q, 3).as[(Long, Double)].collect().toSeq
    assert(got.head == (1L, 1.0))
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
  }

  test("bruteForcePairs finds the identical pair at threshold 0.99") {
    val got = SimilarityOps.bruteForcePairs(vecs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got.contains((0L, 1L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedDecontaminate: max-cosine annotation against the eval suite, " +
    "null on an empty suite, loud past the eval-size guard, no shuffle " +
    "of the train side") {
    val ev = Seq(Tuple1(Seq(1.0f, 0.0f, 0.0f)), Tuple1(Seq(0.0f, 1.0f, 0.0f)))
      .toDF("embedding")
    val out = SimilarityOps.embedDecontaminate(vecs, "vec_id", "embedding",
      ev, "embedding")
    val sims = out.select("vec_id", "max_eval_sim")
      .as[(Long, Double)].collect().toMap
    assert(sims(0L) === 1.0)   // identical to eval vector
    assert(sims(1L) === 1.0)
    assert(sims(3L) === 1.0)   // identical to the second eval vector
    assert(sims(4L) === 0.0)   // opposite: max(-1, 0) = 0
    // empty eval suite → null annotation (vacuously clean)
    val none = SimilarityOps.embedDecontaminate(vecs, "vec_id", "embedding",
        ev.where(lit(false)), "embedding")
      .where(col("max_eval_sim").isNull).count()
    assert(none === 5L)
    // oversized eval suite raises instead of OOMing the broadcast
    val e = intercept[Exception] {
      SimilarityOps.embedDecontaminate(vecs, "vec_id", "embedding",
        ev, "embedding", maxEvalVectors = 1).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("maxEvalVectors") ||
        Option(e.getCause).exists(_.getMessage.contains("maxEvalVectors"))),
      s"unexpected error: $e")
    // plan: the train side is map-only — its scan reaches the one-row
    // broadcast with no Exchange hashpartitioning anywhere
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("annPairs recall: identical vectors share every SRP band") {
    val got = SimilarityOps.annPairs(vecs, "vec_id", "embedding",
        LshSizing.Fixed(numPlanes = 4, numBands = 2), dim = 3, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got.contains((0L, 1L)))
  }

  test("annPairsAuto: integer sizing picks the smallest b with 64*2^b >= n, " +
    "and the auto form is row-identical to annPairs at the derived planes") {
    // the sizing rule itself (the exact arithmetic the oracle mirrors)
    assert(SimilarityOps.autoBandBits(1, 64) == 1)
    assert(SimilarityOps.autoBandBits(128, 64) == 1)    // 64<<1 = 128 >= 128
    assert(SimilarityOps.autoBandBits(129, 64) == 2)
    assert(SimilarityOps.autoBandBits(2028, 64) == 5)   // the sf0.1 corpus
    assert(SimilarityOps.autoBandBits(20280, 64) == 9)  // the 10x corpus
    assert(SimilarityOps.autoBandBits(Long.MaxValue, 64) == 32) // capped
    // equality with the explicit form on a dim-3 corpus (n=5 -> b=1,
    // planes = numBands*1)
    val auto = SimilarityOps.annPairs(vecs, "vec_id", "embedding",
      LshSizing.CorpusSized(numBands = 4), dim = 3, threshold = 0.9)
      .orderBy("id_a", "id_b").collect().toSeq
    val explicit = SimilarityOps.annPairs(vecs, "vec_id", "embedding",
      LshSizing.Fixed(numPlanes = 4, numBands = 4), dim = 3, threshold = 0.9)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(auto == explicit)
    assert(auto.nonEmpty) // the identical pair (0,1) must be found
  }

  test("empty corpus: the counting LSH sizings raise naming the operator, " +
    "Fixed sizing returns an empty frame") {
    val empty = vecs.where(lit(false))
    val qs = vecs.where($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("q"))
    Seq(LshSizing.CorpusSized(numBands = 4),
        LshSizing.RecallTarget(theta = 0.9, targetRecall = 0.95)).foreach { sizing =>
      val pairs = intercept[IllegalArgumentException] {
        SimilarityOps.annPairs(empty, "vec_id", "embedding", sizing, dim = 3,
          threshold = 0.9)
      }
      assert(pairs.getMessage.contains("annPairs: empty corpus"), pairs.getMessage)
      val topk = intercept[IllegalArgumentException] {
        SimilarityOps.annTopKBatch(empty, "vec_id", "embedding", qs, k = 3,
          sizing, dim = 3)
      }
      assert(topk.getMessage.contains("annTopKBatch: empty corpus"),
        topk.getMessage)
    }
    val fixed = LshSizing.Fixed(numPlanes = 4, numBands = 2)
    assert(SimilarityOps.annPairs(empty, "vec_id", "embedding", fixed, dim = 3,
      threshold = 0.9).collect().isEmpty)
    assert(SimilarityOps.annTopKBatch(empty, "vec_id", "embedding", qs, k = 3,
      fixed, dim = 3).collect().isEmpty)
  }

  test("recallBands: fixed-point S-curve sizing matches the hand-computed " +
    "recurrence at both fixture scales, monotone in the target, and raises " +
    "when the target is unreachable") {
    val q9 = SimilarityOps.agreeMicro(0.9)
    assert(q9 == 856434L) // round((1 - acos(0.9)/pi) * 1e6), fraction .707
    // the exact integers the DuckDB oracle reproduces (verified there):
    // bits=5 -> pb=460754 -> 5 bands; bits=9 -> pb=247881 -> 11 bands
    assert(SimilarityOps.recallBands(5, q9, 0.95) == 5)
    assert(SimilarityOps.recallBands(9, q9, 0.95) == 11)
    // more bits per band -> lower per-band hit -> more bands needed
    assert(SimilarityOps.recallBands(9, q9, 0.99) >
      SimilarityOps.recallBands(9, q9, 0.95))
    assert(SimilarityOps.recallBands(12, q9, 0.95) >
      SimilarityOps.recallBands(9, q9, 0.95))
    // weak similarity + many bits: the band count explodes past maxBands
    // and the sizing REFUSES (an LSH costlier than brute force is a bug,
    // not a setting)
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.recallBands(20, SimilarityOps.agreeMicro(0.3), 0.95)
    }
    assert(ex.getMessage.contains("unreachable"), ex.getMessage)
  }

  test("annPairsAutoRecall: finds the identical pair, is row-identical to " +
    "annPairs at the derived geometry, and measured recall on the planted " +
    "sf0.001 corpus meets the target") {
    val n = vecs.count()
    val bits = SimilarityOps.autoBandBits(n, 64)
    val bands = SimilarityOps.recallBands(bits,
      SimilarityOps.agreeMicro(0.9), 0.95)
    val target = LshSizing.RecallTarget(theta = 0.9, targetRecall = 0.95)
    assert(target.resolve(vecs, "annPairs") ===
      LshSizing.Fixed(numPlanes = bands * bits, numBands = bands))
    val auto = SimilarityOps.annPairs(vecs, "vec_id", "embedding",
      target, dim = 3, threshold = 0.9)
      .orderBy("id_a", "id_b").collect().toSeq
    val explicit = SimilarityOps.annPairs(vecs, "vec_id", "embedding",
      LshSizing.Fixed(numPlanes = bands * bits, numBands = bands), dim = 3,
      threshold = 0.9)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(auto == explicit)
    assert(auto.nonEmpty) // the identical pair (0,1) must be found
    // measured pair-recall >= target on the planted embeddings fixture —
    // the regression floor behind the x_ann_lsh_recall_target query
    val emb = graft.queries.ExtQueries.plantedEmbeddings(spark,
      "/root/testdata/sf0.001")
    val t = SimilarityOps.bruteForcePairs(emb, "vec_id", "embedding", 0.9)
      .count()
    val f = SimilarityOps.annPairs(emb, "vec_id", "embedding", target,
      dim = 64, threshold = 0.9).count()
    assert(t > 0, "fixture must plant pairs above theta")
    assert(f.toDouble / t >= 0.95, s"recall ${f.toDouble / t} < 0.95 ($f/$t)")
  }

  test("annTopKBatchAutoRecall: row-identical to annTopKBatch at the " +
    "derived geometry; measured neighbor-recall on the planted sf0.001 " +
    "corpus meets the target") {
    val qs = vecs.where($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("q"))
    val n = vecs.count()
    val bits = SimilarityOps.autoBandBits(n, 64)
    val bands = SimilarityOps.recallBands(bits,
      SimilarityOps.agreeMicro(0.9), 0.95)
    val target = LshSizing.RecallTarget(theta = 0.9, targetRecall = 0.95)
    val auto = SimilarityOps.annTopKBatch(vecs, "vec_id",
      "embedding", qs, k = 3, target, dim = 3)
      .orderBy("qid", "vec_id").collect().toSeq
    val explicit = SimilarityOps.annTopKBatch(vecs, "vec_id", "embedding",
      qs, k = 3, LshSizing.Fixed(numPlanes = bands * bits, numBands = bands),
      dim = 3)
      .orderBy("qid", "vec_id").collect().toSeq
    assert(auto == explicit)
    assert(auto.nonEmpty) // the identical twin of vector 0 must surface
    // neighbor-recall floor behind the x_ann_topk_recall_target query:
    // every (query, neighbor >= theta) pair must surface in the top-25
    val emb = graft.queries.ExtQueries.plantedEmbeddings(spark,
      "/root/testdata/sf0.001")
    val queries = emb
      .where($"vec_id" % 50 === 0 && $"vec_id" < 10000)
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("q"))
    val qids = queries.select($"qid")
    val bf = SimilarityOps.bruteForcePairs(emb, "vec_id", "embedding", 0.9)
    val truePairs = bf.join(qids, bf("id_a") === qids("qid"))
        .select($"qid", $"id_b".as("nid"))
      .unionByName(bf.join(qids, bf("id_b") === qids("qid"))
        .select($"qid", $"id_a".as("nid")))
    val topk = SimilarityOps.annTopKBatch(emb, "vec_id",
      "embedding", queries, k = 25, target, dim = 64)
    val t = truePairs.count()
    val f = truePairs
      .join(topk.select($"qid", $"vec_id".as("nid")), Seq("qid", "nid"))
      .count()
    assert(t > 0, "fixture must plant query neighbors above theta")
    assert(f.toDouble / t >= 0.95, s"recall ${f.toDouble / t} < 0.95 ($f/$t)")
  }

  test("annTopKBatchAuto is row-identical to annTopKBatch at the derived " +
    "planes (corpus count drives the sizing)") {
    val qs = vecs.where($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("q"))
    val auto = SimilarityOps.annTopKBatch(vecs, "vec_id", "embedding",
      qs, k = 3, LshSizing.CorpusSized(numBands = 4), dim = 3)
      .orderBy("qid", "vec_id").collect().toSeq
    val explicit = SimilarityOps.annTopKBatch(vecs, "vec_id", "embedding",
      qs, k = 3, LshSizing.Fixed(numPlanes = 4, numBands = 4), dim = 3)
      .orderBy("qid", "vec_id").collect().toSeq
    assert(auto == explicit)
    assert(auto.nonEmpty)
  }

  test("annTopKBatch: banded probe finds near-duplicates per query; " +
    "agrees with brute force on the planted family") {
    // corpus: 3 tight clusters of 5 jittered copies each + noise axes;
    // queries drawn from two clusters must retrieve their own family
    val rnd = new scala.util.Random(42)
    val base = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0))
    val corpus = (for {
      (b, c) <- base.zipWithIndex
      j <- 0 until 5
    } yield (c * 100L + j, b.map(_ + (rnd.nextDouble() - 0.5) * 0.01)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" === 0L || $"vec_id" === 100L)
      .select($"vec_id".as("qid"), $"embedding".as("q"))
    val lsh = SimilarityOps.annTopKBatch(corpus, "vec_id", "embedding",
        queries, k = 4, LshSizing.Fixed(numPlanes = 16, numBands = 4), dim = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // every query's own cluster-mates (cos ≈ 1) are all retrieved
    assert(lsh(0L) === Set(1L, 2L, 3L, 4L), lsh(0L).toString)
    assert(lsh(100L) === Set(101L, 102L, 103L, 104L), lsh(100L).toString)
    // and that equals brute-force top-4 exactly here
    val brute = SimilarityOps.cosineTopKBatch(corpus, "vec_id", "embedding",
        queries, k = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(lsh === brute)
  }

  test("srpBands: NaN components produce a signature, never a crash " +
    "(Catalyst round-NaN passthrough, NaN > 0 ordering)") {
    val bad = Seq((1L, Seq(Double.NaN, 1.0, 2.0)), (2L, Seq(1.0, 1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.srpBands(bad, "vec_id", "embedding",
      numPlanes = 4, numBands = 2, dim = 3).collect()
    assert(got.length === 4) // 2 rows × 2 bands, no exception
  }

  test("srpBands: a NULL vector fails loudly instead of silently dropping") {
    val bad = Seq((1L, Some(Seq(1.0, 2.0, 3.0))), (2L, None))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.srpBands(bad, "vec_id", "embedding",
        numPlanes = 4, numBands = 2, dim = 3).collect()
    }
    assert(e.getMessage.contains("null vector") ||
      Option(e.getCause).exists(_.getMessage.contains("null vector")))
  }

  test("srpBands: dim mismatch fails loudly instead of truncating") {
    val bad = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.srpBands(bad, "vec_id", "embedding",
        numPlanes = 4, numBands = 2, dim = 3).collect()
    }
    assert(e.getMessage.contains("!= dim") ||
      Option(e.getCause).exists(_.getMessage.contains("!= dim")))
  }

  test("native expressions are structurally equal across separate builds " +
    "(plan identity: cache dedup / reuse depend on it)") {
    import graft.functions.{NearestCentroid, SrpBandKeys}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val c = ColumnBridge.expression($"v".cast("array<double>"))
    val planes = IndexedSeq(IndexedSeq(1.0, 2.0), IndexedSeq(3.0, 4.0))
    assert(SrpBandKeys(c, planes.map(_.toIndexedSeq), 2) ===
      SrpBandKeys(c, IndexedSeq(IndexedSeq(1.0, 2.0), IndexedSeq(3.0, 4.0)), 2))
    assert(NearestCentroid(c, IndexedSeq(1), IndexedSeq(IndexedSeq(1.0))) ===
      NearestCentroid(c, IndexedSeq(1), IndexedSeq(IndexedSeq(1.0))))
  }

  test("ivfTopKFiltered: top-k comes from the PRE-filtered candidate set " +
    "(never a wrong-label row), and with nprobe = nlist equals the " +
    "brute-force top-k over the filtered corpus") {
    val labeled = vecs.withColumn("label",
      (col("vec_id") % 2 === 0).cast("int"))
    val corpus = labeled.where($"vec_id" =!= 0)
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("q"))
    val got = SimilarityOps.ivfTopK(corpus, "vec_id", "embedding",
        q, k = 3, nlist = 2, nprobe = 2, predicate = Some(col("label") === 1))
      .as[(Long, Double)].collect().toSeq
    // label=1 ⇔ even vec_id: 2 and 4 qualify; 1 and 3 must never appear
    assert(got.map(_._1).toSet === Set(2L, 4L))
    assert(!got.exists(r => r._1 == 1L || r._1 == 3L))
    // nprobe = nlist → no cell pruning → identical to brute force on the
    // filtered corpus (pre-filter semantics, not post-filter-of-unfiltered)
    val brute = SimilarityOps.cosineTopK(corpus.where(col("label") === 1),
        "vec_id", "embedding", q, 3)
      .as[(Long, Double)].collect().toSeq
    assert(got === brute)
  }

  test("IVF top-k finds the identical vector with nprobe < nlist") {
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("q"))
    val got = SimilarityOps.ivfTopK(vecs.where($"vec_id" =!= 0),
      "vec_id", "embedding", q, k = 2, nlist = 3, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty && got.head._1 == 1L && got.head._2 == 1.0)
  }

  // clustered fixture: 3 tight clusters around orthogonal axes, 8 members
  // each — what IVF's coarse quantizer is built for
  private def clustered = {
    val rnd = new scala.util.Random(7)
    (for {
      c <- 0 until 3
      m <- 0 until 8
    } yield {
      val base = Array.fill(8)(0.0f)
      base(c) = 1.0f
      val v = base.zipWithIndex.map { case (x, i) =>
        x + (rnd.nextFloat() - 0.5f) * 0.1f }
      (c * 100L + m, v.toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("ivfRefine (Lloyd) recovers cluster centroids: recall 1.0 on clustered data") {
    val corpus = clustered
    val q = corpus.where($"vec_id" === 0).select($"embedding".as("q"))
    val rest = corpus.where($"vec_id" =!= 0)
    val brute = SimilarityOps.cosineTopK(rest, "vec_id", "embedding", q, 7)
      .select("vec_id").as[Long].collect().toSet
    val ivf = SimilarityOps.ivfTopK(rest, "vec_id", "embedding", q,
        k = 7, nlist = 3, nprobe = 1, kmeansIters = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall: ivf=$ivf brute=$brute")
  }

  test("batch IVF: each query's neighbours match, self-matches excluded") {
    val corpus = clustered
    val queries = corpus.where($"vec_id".isin(0L, 100L, 200L))
      .select($"vec_id".as("qid"), $"embedding".as("q"))
    val got = SimilarityOps.ivfTopKBatch(corpus, "vec_id", "embedding",
        queries, k = 5, nlist = 3, nprobe = 1, kmeansIters = 3)
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == Set(0L, 100L, 200L))
    assert(got.groupBy(_._1).forall(_._2.length == 5))
    assert(!got.exists(r => r._1 == r._2)) // no self-matches
    // with converged centroids and nprobe=1, every neighbour of a cluster-0
    // query comes from cluster 0
    assert(got.filter(_._1 == 0L).forall(_._2 < 100L))
  }

  test("driver recall query: planted near-dups give IVF recall >= 0.9 at sf0.001") {
    val row = graft.queries.ExtQueries.xAnnRecall(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].head()
    assert(row._1 == 20L)
    assert(row._3 >= 0.9, s"recall ${row._3}")
  }

  test("planted corpus makes the LSH pair query non-vacuous at sf0.001") {
    val n = graft.queries.ExtQueries.xAnnLsh(spark, "/root/testdata/sf0.001").count()
    assert(n > 0)
  }

  test("standardize: hand-computed z-scores; constant dimension maps to 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dim 0: values 1,3 → μ=2, σ_pop=1; dim 1 constant 5 → σ=0 → z=0
    val df = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.SimilarityOps.standardize(df, "vec_id", "embedding")
      .select("vec_id", "embedding").as[(Long, Seq[Double])]
      .collect().toMap
    assert(got(1L) === Seq(-1.0, 0.0))
    assert(got(2L) === Seq(1.0, 0.0))
    // per-dim mean 0, population variance 1 after standardization
    val z = graft.ext.SimilarityOps.standardize(df, "vec_id", "embedding")
      .select(org.apache.spark.sql.functions.posexplode(col("embedding"))
        .as(Seq("d", "z")))
      .groupBy("d")
      .agg(org.apache.spark.sql.functions.avg("z").as("mu"),
        org.apache.spark.sql.functions.stddev_pop("z").as("sd"))
      .as[(Int, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(math.abs(z(0)._1) < 1e-9 && math.abs(z(0)._2 - 1.0) < 1e-9)
    assert(math.abs(z(1)._1) < 1e-9 && z(1)._2 === 0.0)
  }

  test("randomProject: manual dot against the plane matrix; map-only plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dim = 8
    val vec = Array.tabulate(dim)(i => (i + 1).toFloat)
    val df = Seq((1L, vec.toSeq)).toDF("vec_id", "embedding")
    val out = graft.ext.SimilarityOps.randomProject(df, "vec_id", "embedding",
      nComponents = 4, dim = dim)
    val got = out.select("proj").as[Seq[Double]].collect().head
    for (p <- 0 until 4) {
      val want = (0 until dim).map(d =>
        vec(d).toDouble * graft.ext.SimilarityOps.planeComponent(p, d)).sum *
        math.sqrt(3.0 / 4)
      assert(math.abs(got(p) - want) < 1e-6, s"component $p")
    }
    // pure map: no exchange of any kind
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection shuffled:\n$plan")
  }

  test("randomProject: JL distance preservation holds in aggregate") {
    import spark.implicits._
    // 20 random 64-dim vectors: mean squared-distance ratio ≈ 1
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(20)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val proj = graft.ext.SimilarityOps.randomProject(df, "vec_id", "embedding",
        nComponents = 16, dim = 64)
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- vecs.indices; j <- (i + 1) until vecs.size
    } yield d2(proj(i.toLong), proj(j.toLong)) /
      d2(vecs(i)._2.map(_.toDouble), vecs(j)._2.map(_.toDouble))
    val mean = ratios.sum / ratios.size
    // per-pair the JL estimate is noisy at 16 components; the MEAN over
    // 190 pairs concentrates on 1 (the √(3/k) scale absorbs the 1/3
    // variance of the uniform[-1,1) plane entries)
    assert(mean > 0.6 && mean < 1.5, s"mean ratio $mean")
  }

  test("standardize: the normalization pass adds no corpus shuffle " +
    "(stats ride one broadcast)") {
    val df = spark.read.parquet(sf() + "/embeddings.parquet")
    val plan = graft.ext.SimilarityOps.standardize(df, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    // the only exchanges belong to the dims-bounded stats aggregate (its
    // posexplode partial-agg + the one-row pack), never a corpus repartition
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"unexpected corpus shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), "stats not broadcast")
  }
}
