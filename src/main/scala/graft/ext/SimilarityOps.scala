package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * All arithmetic is done in double precision after an explicit element cast
  * (float math is not associative and not portable across engines), and all
  * scores are rounded before any ordering decision so top-k membership is
  * deterministic and engine-portable.
  *
  * Scale path: brute force is one broadcast of the query vector(s) and a
  * single codegen'd pass — fine for one query over any corpus size. For
  * many-query / corpus×corpus workloads use the LSH variant: sign-random-
  * projection signatures bucket the corpus so only same-bucket vectors are
  * compared (the classic sim-hash ANN trick), turning O(n·m) into a bucket
  * join with near-uniform shuffle keys.
  */
object SimilarityOps {

  import graft.functions.VectorFunctions.dot_d

  /** Sum(a_i * b_i) in double precision, left-to-right fold (native
    * expression — see [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column = dot_d(a, b)

  def norm(a: Column): Column = sqrt(dot_d(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one query vector (given as a one-row
    * DataFrame with column `q`). Norms are precomputed per side — never per
    * pair — and scores rounded to 6 dp BEFORE ranking; ties broken by id so
    * the result set is unique. */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 query: DataFrame, k: Int): DataFrame =
    corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nrm"))
      .crossJoin(broadcast(query.select(col("q"), norm(col("q")).as("__nrm_q"))))
      .select(col(idCol),
        round(dot(col(vecCol), col("q")) / (col("__nrm") * col("__nrm_q")), 6)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5-derived uniform in [-1, 1). Portable: no RNG state, any engine with
    * md5 reproduces the same planes. Computed ONCE on the driver — the
    * matrix is numPlanes×dim model constants, so evaluating md5 per corpus
    * row (2M+ digests at even modest scale) would be pure waste; the
    * literal matrix broadcasts with the task binary and signatures index
    * into it. The DuckDB oracle derives the identical values from the same
    * md5 formula. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane$p:$d".getBytes("UTF-8"))
    val hex8 = digest.take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex8, 16).toDouble / math.pow(2, 32) * 2.0 - 1.0
  }

  private def planeMatrix(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until dim).map(d => planeComponent(p, d)))

  /** Banded sign-random-projection signatures: `numPlanes` sign bits split
    * into `numBands` bands of r = numPlanes/numBands bits each, emitted as
    * (id, band, bkey). Two vectors are LSH candidates when ANY band key
    * matches (OR-amplification): for near-duplicates with per-plane flip
    * probability p this lifts recall from (1-p)^numPlanes — the single-
    * bucket form, which measurably drops ~30% of 0.99-cosine pairs at
    * 16 planes — to 1-(1-(1-p)^r)^numBands ≈ 1.
    *
    * The signature stage is fully MAP-SIDE: the native [[graft.functions
    * .SrpBandKeys]] expression computes every band key in one pass over the
    * vector (plane matrix shipped as expression constants), then one
    * posexplode emits the numBands rows. The earlier formulation exploded
    * each vector to dim rows and re-aggregated per-plane dots — dim× the
    * shuffled rows and a whole extra shuffle, for arithmetic that never
    * needed to leave the row. Dim mismatches throw inside the expression
    * (silently dropping a tail would corrupt signatures), and a NULL vector
    * fails loudly below — posexplode of the expression's null result would
    * otherwise silently DROP the document from candidate generation, which
    * is a recall hole, not an error signal. */
  def srpBands(df: DataFrame, idCol: String, vecCol: String,
               numPlanes: Int, numBands: Int, dim: Int): DataFrame = {
    require(numPlanes % numBands == 0, "numBands must divide numPlanes")
    val keys = graft.functions.VectorFunctions.srp_band_keys(
      col(vecCol), planeMatrix(numPlanes, dim), numBands)
    val guarded = when(col(vecCol).isNotNull, keys)
      .otherwise(raise_error(concat(
        lit("srpBands: null vector for id "), col(idCol).cast("string"))))
    df.select(col(idCol), posexplode(guarded).as(Seq("band", "bkey")))
      .select(col(idCol), col("band").cast("long").as("band"), col("bkey"))
  }

  /** Banded ANN near-dup pairs: candidates share any SRP band key; exact
    * cosine is computed only for candidates. Pairs are generated inside
    * collected buckets (same pattern as [[DedupOps.lshCandidates]]) — one
    * shuffle on (band, bkey), no self-join recomputing the signature DAG,
    * bucket lists tiny by construction. `threshold` filters verified pairs;
    * `sizing` picks the band geometry ([[LshSizing]]). */
  def annPairs(df: DataFrame, idCol: String, vecCol: String,
               sizing: LshSizing, dim: Int, threshold: Double,
               maxBucket: Int = 100000): DataFrame = {
    val cand = annCandidates(df, idCol, vecCol, sizing.resolve(df, "annPairs"),
      dim, maxBucket)
    val withVec = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nrm"))
    cand
      .join(withVec.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
        col("__nrm").as("nrm_a")), "id_a")
      .join(withVec.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
        col("__nrm").as("nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** The candidate stage of [[annPairs]] — (id_a, id_b) distinct pairs
    * sharing any band key, BEFORE exact-cosine verification. Exposed so
    * recall/volume measurement queries can count the candidates an LSH
    * sizing actually paid for without re-deriving the bucket pipeline. */
  private[graft] def annCandidates(df: DataFrame, idCol: String,
      vecCol: String, sizing: LshSizing, dim: Int,
      maxBucket: Int = 100000): DataFrame = {
    val g = sizing.resolve(df, "annCandidates")
    val bands = srpBands(df, idCol, vecCol, g.numPlanes, g.numBands, dim)
    // Bucket population is n / 2^(numPlanes/numBands) per band ON AVERAGE:
    // with too few planes for the corpus size, buckets grow O(n) and the
    // in-row pair expansion is O(n²) — an executor OOM, not an LSH. Fail
    // fast with sizing guidance instead: planes-per-band should be around
    // log2(n / desired_bucket_size).
    // the guard lives INSIDE the consumed column (a dropped side-column
    // would be pruned away, assertion and all)
    val buckets = bands.groupBy("band", "bkey")
      .agg(array_sort(collect_list(col(idCol))).as("__ids"))
      .where(size(col("__ids")) > 1)
      .select(col("band"), col("bkey"),
        when(size(col("__ids")) <= maxBucket, col("__ids"))
          .otherwise(raise_error(concat(
            lit(s"LSH bucket exceeds maxBucket=$maxBucket — raise numPlanes " +
              "(planes per band ≈ log2(n/bucket)); bucket size = "),
            size(col("__ids")).cast("string")))).as("ids"))
    val pairsExpr = flatten(transform(sequence(lit(1), size(col("ids")) - 1),
      j => transform(sequence(lit(0), j - 1),
        i => struct(col("ids")(i).as("id_a"), col("ids")(j).as("id_b")))))
    buckets.select(explode(pairsExpr).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** How an LSH index sizes its band geometry (planes, bands).
    *
    *   - [[LshSizing.Fixed]]: the geometry as given. A fixed plane count
    *     has a fixed bucket-key space (2^bits per band), so bucket
    *     population grows O(n) and the in-bucket pair expansion O(n²) once
    *     the corpus outgrows it — measured: the fixed 16-plane x_ann_lsh
    *     entry runs 1.1 s on 2k vectors and 352 s on 20k (318x for 10x
    *     data).
    *   - [[LshSizing.CorpusSized]]: bits/band SIZED TO THE CORPUS — the
    *     smallest b >= 1 with targetBucket * 2^b >= n ([[autoBandBits]]),
    *     i.e. expected bucket population n / 2^b <= targetBucket, so the
    *     same call stays linear as the corpus grows (9 bits/band on the
    *     20k corpus). For the query forms the CORPUS count drives the
    *     sizing: buckets are corpus-side, and the query-set size only
    *     multiplies the probe fan-out linearly.
    *   - [[LshSizing.RecallTarget]]: bits/band as CorpusSized, and the band
    *     COUNT the smallest r with S-curve recall 1−(1−q^bits)^r >=
    *     targetRecall for pairs at cosine >= theta ([[agreeMicro]] +
    *     [[recallBands]]; q evaluated AT theta is the minimum over the
    *     reported range, so the guarantee holds for every emitted pair or
    *     neighbor). Candidate volume scales linearly in r — the price of the
    *     target. Unreachable targets raise with the arithmetic in the
    *     message.
    *
    * Sizing is INTEGER-exact (no float knife-edge anywhere an engine could
    * disagree), so the DuckDB oracles derive the identical geometry from
    * their own count(*) and one oracle text tracks every scale — the
    * x_semdedup_auto lesson (its first oracle hardcoded the sf0.01 sizing
    * and broke at sf0.1).
    *
    * [[resolve]] runs at most one driver-side count() (the pageRank
    * node-count class), and an empty corpus raises naming the operator. No
    * persist bracket around the count: the ANN forms are fully lazy — the
    * returned frame executes after they return — so a persist/count/
    * unpersist bracket would pay a full-corpus cache write that nothing
    * ever reads back. Callers that want the source scanned once across
    * sizing + LSH own the persist (the selfJoin caller-owned-cache
    * convention), and callers that need the geometry twice resolve once
    * and pass the resulting [[LshSizing.Fixed]]. */
  sealed trait LshSizing {
    def resolve(corpus: DataFrame, op: String): LshSizing.Fixed
  }

  object LshSizing {
    final case class Fixed(numPlanes: Int, numBands: Int) extends LshSizing {
      def bits: Int = numPlanes / numBands
      def resolve(corpus: DataFrame, op: String): Fixed = this
    }

    final case class CorpusSized(numBands: Int, targetBucket: Int = 64)
        extends LshSizing {
      require(numBands > 0, "numBands must be positive")
      require(targetBucket > 0, "targetBucket must be positive")
      def resolve(corpus: DataFrame, op: String): Fixed =
        Fixed(numBands * autoBandBits(count(corpus, op), targetBucket), numBands)
    }

    final case class RecallTarget(theta: Double, targetRecall: Double,
                                  targetBucket: Int = 64) extends LshSizing {
      require(theta > -1 && theta < 1, "theta must be in (-1, 1)")
      require(targetBucket > 0, "targetBucket must be positive")
      def resolve(corpus: DataFrame, op: String): Fixed = {
        val bits = autoBandBits(count(corpus, op), targetBucket)
        val bands = recallBands(bits, agreeMicro(theta), targetRecall)
        Fixed(bands * bits, bands)
      }
    }

    private def count(corpus: DataFrame, op: String): Long = {
      val n = corpus.count()
      require(n > 0, s"$op: empty corpus")
      n
    }
  }

  /** Smallest b in [1, 32] with targetBucket * 2^b >= n (pure integer
    * shift-and-compare; package-visible for the sizing spec). */
  private[graft] def autoBandBits(n: Long, targetBucket: Int): Int = {
    var b = 1
    while (b < 32 && (targetBucket.toLong << b) < n) b += 1
    b
  }

  /** Per-plane SRP agreement probability at cosine `theta`, in 6-dp
    * fixed-point micro-units: round((1 − acos(theta)/π)·1e6). The ONLY
    * float step in the recall sizing — everything downstream is exact
    * integer arithmetic, so the oracle reproduces the sizing bit-for-bit
    * as long as its acos agrees to 6 dp (cross-engine acos divergence is
    * ≤ 1 ulp, so this can only matter when the true value sits within
    * ~1e-10 of a .5e-6 rounding boundary — at theta = 0.9 the fraction
    * is .707, nowhere near it). */
  private[graft] def agreeMicro(theta: Double): Long =
    math.round((1.0 - math.acos(theta) / math.Pi) * 1e6)

  /** Smallest band count r in [1, maxBands] with expected recall
    * 1 − (1 − q^bits)^r >= targetRecall for pairs at per-plane agreement
    * q (micro-units), evaluated ENTIRELY in 6-dp fixed-point integers:
    * q^bits and (1−q^bits)^r are built by iterated
    * (x·y + 500000) / 1000000 multiply-rounds, never Math.pow — IEEE
    * multiplication is deterministic but pow is only within-1-ulp, and a
    * 1-ulp disagreement at the comparison boundary would make the two
    * engines size DIFFERENT geometries (the x_semdedup_auto float-knife-
    * edge lesson). The DuckDB oracle replays the identical integer
    * recurrence in a recursive CTE. Raises when the target is
    * unreachable within maxBands — at low theta the required band count
    * grows like ln(1−target)/q^bits and the "LSH" would cost more than
    * brute force; refusing loudly beats silently shipping it. */
  private[graft] def recallBands(bits: Int, qMicro: Long,
      targetRecall: Double, maxBands: Int = 64): Int = {
    require(bits >= 1 && qMicro > 0 && qMicro < 1000000L,
      "recallBands: need bits >= 1 and 0 < qMicro < 1e6")
    require(targetRecall > 0 && targetRecall < 1,
      "recallBands: targetRecall must be in (0, 1)")
    val M = 1000000L
    var pb = M
    (1 to bits).foreach(_ => pb = (pb * qMicro + M / 2) / M)
    val missBand = M - pb
    val missTarget = M - math.round(targetRecall * 1e6)
    var r = 1
    var miss = missBand
    while (miss > missTarget && r < maxBands) {
      miss = (miss * missBand + M / 2) / M
      r += 1
    }
    require(miss <= missTarget,
      s"recallBands: recall $targetRecall unreachable within $maxBands " +
        s"bands at $bits bits/band (per-band hit ${pb / 1e6}) — at this " +
        "theta the banded LSH would cost more than brute force; lower " +
        "targetBucket (fewer bits/band), lower the target, or verify " +
        "exactly with bruteForcePairs")
    r
  }

  /** SRP-LSH top-k for a SET of query vectors (`queries`: qid, q) — the
    * banded-probe analogue of [[ivfTopKBatch]] and the query-workload form
    * of [[annPairs]]. Queries compute the SAME banded signatures as the
    * corpus (one map-side pass per side); a query's candidates are the
    * corpus vectors sharing ANY band key — ONE shuffle join on (band, bkey),
    * never a corpus scan per query — and exact cosine is computed for
    * candidates only, then one per-query ranking window. Self-matches
    * (qid = corpus id) are excluded.
    *
    * Scale contract: per-query candidate count ≈ numBands × bucket size,
    * bucket size ≈ n / 2^(numPlanes/numBands) — the same sizing guidance as
    * [[annPairs]] (planes-per-band ≈ log2(n/desired_bucket), or let
    * [[LshSizing.CorpusSized]] derive it). Unlike IVF
    * there is no centroid table to maintain; the trade is that recall is
    * governed by the band/plane geometry, not nprobe — vectors merely
    * similar (not near-duplicate) to the query may share no bucket, so
    * measure recall against [[cosineTopKBatch]] on a planted sample. With
    * [[LshSizing.RecallTarget]] the guarantee is per NEIGHBOR AT COSINE >=
    * theta: each such neighbor of a query enters the candidate set with
    * probability >= targetRecall; choose k >= the neighbor count you care
    * about or the top-k truncation, not the LSH, bounds what you see. */
  def annTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int, sizing: LshSizing,
                   dim: Int): DataFrame = {
    val cand = annTopKBatchCandidates(corpus, idCol, vecCol, queries,
      sizing.resolve(corpus, "annTopKBatch"), dim)
    val qn = queries.select(col("qid"), col("q"), norm(col("q")).as("__qnrm"))
    val cn = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nrm"))
    val scored = cand.join(cn, idCol).join(qn, "qid")
      .select(col("qid"), col(idCol),
        round(dot(col(vecCol), col("q")) / (col("__nrm") * col("__qnrm")), 6)
          .as("cos_sim"))
    topPerQuery(scored, idCol, "cos_sim", k)
  }

  /** The candidate set behind [[annTopKBatch]] — (qid, id) pairs sharing
    * any band key, self-matches excluded. Public so a recall row can
    * report the candidate volume PAID for a sizing next to the recall it
    * bought. */
  def annTopKBatchCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                             queries: DataFrame, sizing: LshSizing,
                             dim: Int): DataFrame = {
    val g = sizing.resolve(corpus, "annTopKBatchCandidates")
    val cb = srpBands(corpus, idCol, vecCol, g.numPlanes, g.numBands, dim)
    val qb = srpBands(queries, "qid", "q", g.numPlanes, g.numBands, dim)
    qb.join(cb, Seq("band", "bkey"))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol)).distinct()
  }

  /** Per-query top-k of `scored` (qid, idCol, scoreCol): highest score
    * first (lowest when `ascending`), ties to the smaller id, one ranking
    * window partitioned by qid. */
  private[ext] def topPerQuery(scored: DataFrame, idCol: String,
                               scoreCol: String, k: Int,
                               ascending: Boolean = false): DataFrame = {
    val score = if (ascending) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy(col("qid")).orderBy(score, col(idCol))
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .select(col("qid"), col(idCol), col(scoreCol))
  }

  /** Brute-force per-query top-k for a batch of queries — the ground truth
    * [[annTopKBatch]]/[[ivfTopKBatch]] approximate. O(n·nq): the query side
    * is broadcast, so use only for validation samples or small batches. */
  def cosineTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                      queries: DataFrame, k: Int): DataFrame = {
    val qn = queries.select(col("qid"), col("q"), norm(col("q")).as("__qnrm"))
    val cn = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nrm"))
    val scored = cn.crossJoin(broadcast(qn))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        round(dot(col(vecCol), col("q")) / (col("__nrm") * col("__qnrm")), 6)
          .as("cos_sim"))
    topPerQuery(scored, idCol, "cos_sim", k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nlist` cells by
    * nearest centroid, then answer queries by brute-forcing only the
    * `nprobe` cells nearest the query — the classic coarse-quantizer
    * trade-off. Centroids are a deterministic md5-ordered sample of the
    * corpus (portable, no RNG/k-means iterations; a k-means refinement
    * drops in without changing the query path). At scale the assignment is
    * one broadcast pass and cells are a partitioning key — queries touch
    * nprobe/nlist of the data. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // The sample is nlist rows by construction and every consumer broadcasts
    // it, so number the centroids on the driver: a row_number() over a
    // global Window here would shuffle to a single partition (the WindowExec
    // warning) for a table that is about to be collected anyway.
    val sample = df.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(nlist)
      .orderBy(col(idCol))
      .select(col(vecCol))
      .as[Seq[Double]].collect()
    sample.zipWithIndex
      .map { case (v, i) => (i + 1, v) }
      .toSeq.toDF("centroid_id", "centroid")
  }

  /** Assign each vector to its nearest centroid (cosine). Similarities are
    * rounded to 6 dp BEFORE the argmax (ties to the smallest centroid id) so
    * cell membership is engine-portable. The argmax runs INSIDE the native
    * [[graft.functions.NearestCentroid]] expression (centroid matrix as
    * expression constants — it is nlist×dim doubles and already localized),
    * so assignment is a pure map: no nlist× row materialisation, no
    * re-keying groupBy, no shuffle at all. `centroids` must be a local
    * centroid table ([[ivfCentroids]]/[[localize]] output). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val s = centroids.sparkSession
    import s.implicits._
    val ctr = centroids
      .select(col("centroid_id").cast("int"), col("centroid").cast("array<double>"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val nearest = graft.functions.VectorFunctions.nearest_centroid(
      col(vecCol), ctr.map(_._1).toSeq, ctr.map(_._2).toSeq)
    df.select(col(idCol), col(vecCol), nearest.as("centroid_id"))
  }

  /** Materialise the (tiny, nlist-row) centroid table as a LOCAL DataFrame.
    * The centroid side of IVF is broadcast into every assignment pass; left
    * lazy, each Lloyd round would re-run the whole upstream lineage (corpus
    * scan + previous rounds) once per downstream branch. Collecting
    * nlist×dim doubles to the driver and re-creating them as literals is
    * the standard k-means-on-Spark move (MLlib does the same) and keeps
    * every round's plan shallow. */
  private[ext] def localize(centroids: DataFrame): DataFrame = {
    val s = centroids.sparkSession
    import s.implicits._
    centroids.select(col("centroid_id").cast("int"),
        col("centroid").cast("array<double>"))
      .as[(Int, Seq[Double])].collect().toSeq
      .toDF("centroid_id", "centroid")
  }

  /** Lloyd refinement of the coarse centroids: `iters` rounds of assign-to-
    * nearest + per-dimension mean, each mean rounded to 6 dp so the refined
    * centroids are engine-portable. Cells that lose all members keep their
    * previous centroid. Each round is one broadcast assignment pass plus one
    * aggregation — no window, no all-pairs work — and ends by localizing
    * the new centroids (see [[localize]]). */
  def ivfRefine(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, iters: Int): DataFrame =
    (1 to iters).foldLeft(localize(centroids)) { (ctr, _) =>
      val asg = ivfAssign(df, idCol, vecCol, ctr)
      val upd = asg.select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("i", "x")))
        .groupBy(col("centroid_id"), col("i"))
        .agg(round(avg(col("x").cast("double")), 6).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("__cnew"))
      localize(ctr.join(upd, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("__cnew"), col("centroid")).as("centroid")))
    }

  /** Coarse-centroid training prologue shared by every IVF query form and
    * [[semDedup]]: md5-sample nlist seeds, optionally Lloyd-refine. */
  private[ext] def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                                  nlist: Int, kmeansIters: Int): DataFrame = {
    val centroids0 = ivfCentroids(corpus, idCol, vecCol, nlist) // already local
    if (kmeansIters > 0) ivfRefine(corpus, idCol, vecCol, centroids0, kmeansIters)
    else centroids0
  }

  /** The single-query probe-cell selection shared by [[ivfTopK]] and
    * [[ivfPqTopK]]: top-nprobe cells by rounded cosine, ties to the
    * smaller centroid id. `query` is one row with column `q`. */
  private[ext] def probeCellsOf(query: DataFrame, centroids: DataFrame,
                                nprobe: Int): DataFrame =
    query.crossJoin(broadcast(centroids))
      .select(col("centroid_id"),
        round(dot(col("q"), col("centroid")) /
          (norm(col("q")) * norm(col("centroid"))), 6).as("__sim"))
      .orderBy(col("__sim").desc, col("centroid_id"))
      .limit(nprobe)
      .select("centroid_id")

  /** IVF top-k for one query vector (one-row DataFrame with column `q`).
    * `kmeansIters` > 0 refines the sampled centroids with that many Lloyd
    * rounds before assignment.
    *
    * `predicate` makes it FILTERED ANN: top-k under a serve-time metadata
    * predicate — the one-index-many-filters reality of a production vector
    * store. The coarse quantizer trains on the FULL corpus (the index is
    * shared; retraining per predicate would be a different index per
    * filter), and the predicate restricts candidates BEFORE the top-k —
    * PRE-filtering, so k results survive a selective predicate instead of
    * being post-filtered away from an unfiltered top-k. The filter lands on
    * the corpus scan (predicate pushdown — assignment is per-row, so
    * excluded rows are never assigned or scored), probed-cell pruning
    * applies on top, and the top-k stays TakeOrderedAndProject. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, nlist: Int, nprobe: Int,
              kmeansIters: Int = 0,
              predicate: Option[Column] = None): DataFrame = {
    val centroids = trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val served = predicate.fold(corpus)(corpus.where)
    val assigned = ivfAssign(served, idCol, vecCol, centroids)
    cosineTopK(
      assigned.join(broadcast(probeCellsOf(query, centroids, nprobe)), "centroid_id"),
      idCol, vecCol, query, k)
  }

  /** IVF top-k for a SET of query vectors (`queries`: qid, q) — the
    * many-query workload the coarse quantizer exists for. Per-query probe
    * selection is a window over queries×nlist rows ([[perQueryProbes]];
    * tiny: the centroid side is nlist), then each query joins ONLY its
    * probed cells' vectors on the centroid id — per-query work is
    * nprobe/nlist of the corpus, and the whole batch shares one assignment
    * pass and one k-means refinement. Self-matches (a query that is itself
    * a corpus row) are excluded. */
  def ivfTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, k: Int, nlist: Int, nprobe: Int,
                   kmeansIters: Int = 0): DataFrame = {
    val centroids = trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val qn = queries.select(col("qid"), col("q"), norm(col("q")).as("__qnrm"))
    val cand = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col("centroid_id"), col(idCol), col(vecCol),
        norm(col(vecCol)).as("__nrm"))
      .join(perQueryProbes(queries, centroids, nprobe), "centroid_id")
      .join(qn, "qid")
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        round(dot(col(vecCol), col("q")) / (col("__nrm") * col("__qnrm")), 6)
          .as("cos_sim"))
    topPerQuery(cand, idCol, "cos_sim", k)
  }

  /** Embedding-space decontamination: annotate every train row with its
    * max cosine similarity (6-dp rounded, the house portable compare) to
    * ANY eval-suite vector — the embedding analogue of the n-gram
    * [[CorpusOps]] contamination check, catching paraphrased eval leakage
    * that shingle overlap misses.
    *
    * Plan shape — NO join at all: the eval suite is collect_list'd into a
    * ONE-ROW frame and broadcast, and the scan computes a per-row
    * `array_max` over higher-order-function cosines — map-only,
    * expansion-free, embarrassingly parallel. O(|train|·|eval|·dim)
    * compute, but zero shuffle and zero candidate blowup, which is the
    * right trade precisely because eval suites are small by construction.
    * The `maxEvalVectors` raise_error guard (unprunable — it rides the
    * projected column) keeps an accidentally-unbounded "eval" side from
    * turning the broadcast row into an executor OOM; a genuinely large
    * reference corpus belongs in [[semDedup]]'s clustered path instead.
    *
    * An EMPTY eval suite yields null `max_eval_sim` (array_max of an empty
    * transform) — callers treating null as "not contaminated" get the
    * vacuous-truth semantics for free. */
  def embedDecontaminate(train: DataFrame, idCol: String, vecCol: String,
                         evalVecs: DataFrame, evalVecCol: String,
                         maxEvalVectors: Int = 100000): DataFrame = {
    val evalAgg = evalVecs.agg(collect_list(col(evalVecCol)).as("__evs"))
      .select(when(size(col("__evs")) <= maxEvalVectors, col("__evs"))
        .otherwise(raise_error(concat(
          lit(s"embedDecontaminate: eval suite exceeds maxEvalVectors=" +
            s"$maxEvalVectors vectors — the one-row broadcast would OOM; " +
            "use semDedup's clustered path for corpus-scale references; " +
            "size = "), size(col("__evs")).cast("string")))).as("__evs"))
    train.crossJoin(broadcast(evalAgg))
      .withColumn("max_eval_sim", array_max(transform(col("__evs"),
        ev => round(cosine(col(vecCol), ev), 6))))
      .drop("__evs")
  }

  /** Per-dimension z-score standardization of an embedding column — the
    * feature-normalization pass before any distance-based op whose scale
    * sensitivity matters (k-means cells, PQ subspaces, range thresholds).
    * Output: (idCol, vecCol) with each element replaced by
    * round((x - μ_d) / σ_d, 6) (population σ; a constant dimension maps
    * to 0 rather than NaN). Assumes a fixed dimensionality, the embedding-
    * table invariant everywhere in this file.
    *
    * Scale shape: the stats pass posexplodes but PARTIAL-AGGREGATES
    * map-side, so the exchange carries ≤ dims rows per input partition;
    * the dims-bounded stat rows are packed into one (μ[], σ[]) row —
    * order restored by sorting on the dimension index, not by assuming
    * collect order — and broadcast, making the normalization itself a
    * pure map over the corpus (zero corpus shuffles). */
  def standardize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val stats = df.select(posexplode(v).as(Seq("__d", "__x")))
      .groupBy("__d").agg(avg("__x").as("__mu"), stddev_pop("__x").as("__sd"))
    val packed = stats
      .agg(array_sort(collect_list(struct(col("__d"), col("__mu"))))
          .as("__ms"),
        array_sort(collect_list(struct(col("__d"), col("__sd")))).as("__ss"))
      .select(transform(col("__ms"), s => s.getField("__mu")).as("__mus"),
        transform(col("__ss"), s => s.getField("__sd")).as("__sds"))
    df.crossJoin(broadcast(packed))
      .withColumn(vecCol, transform(v, (x, i) =>
        when(col("__sds")(i) > 0,
          round((x - col("__mus")(i)) / col("__sds")(i), 6))
          .otherwise(lit(0.0))))
      .drop("__mus", "__sds")
  }

  /** Johnson-Lindenstrauss random projection: embed `dim`-dimensional
    * vectors into `nComponents` dimensions via the same md5-derived
    * deterministic plane matrix as [[srpBands]] (uniform [-1, 1)
    * components), scaled by √(3/nComponents) so expected squared
    * distances are preserved (uniform[-1,1) entries have variance 1/3 —
    * the scale absorbs it) — the dimensionality-reduction pass before
    * ANN/k-means when the raw embedding width is the cost driver. Output:
    * (idCol, proj array<double>), each component rounded to 6 dp.
    *
    * Scale shape: the projection matrix is nComponents×dim literal model
    * constants shipped with the task binary ([[planeComponent]]'s
    * rationale — no per-row md5, no join), and every component is one
    * native left-to-right [[graft.functions.DotProduct]] fold, so the
    * whole pass is a codegen'd map with zero shuffles. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    nComponents: Int, dim: Int): DataFrame = {
    require(nComponents > 0 && dim > 0, "nComponents and dim must be positive")
    val v = col(vecCol).cast("array<double>")
    val scale = math.sqrt(3.0 / nComponents)
    val comps = (0 until nComponents).map { p =>
      round(dot_d(v, typedLit((0 until dim).map(d => planeComponent(p, d))))
        * scale, 6)
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Upper-triangle population covariance matrix of an embedding column:
    * (i, j, cov) for i ≤ j with cov = E[(x_i−μ̂_i)(x_j−μ̂_j)], μ̂ the
    * per-dimension mean ROUNDED to 6 dp, cov rounded to 6 dp — the
    * second-moment pass behind whitening, PCA, and OPQ-style rotation
    * before product quantization.
    *
    * Two-pass CENTERED form, deliberately: the one-pass
    * `Σxy/n − (Σx/n)(Σy/n)` subtracts two O(μ²) quantities to recover an
    * O(σ²) result — catastrophic cancellation amplifies the engine's
    * summation-order noise into the 6th decimal, so Spark's partition-order
    * sums and a sequential oracle sum disagree at rounding boundaries.
    * Centering first makes every summand O(σ²): the sum is well-conditioned
    * and the 6-dp round is engine-portable. The means are rounded BEFORE
    * centering (house round-before-any-float-decision rule) so both engines
    * centre on bit-identical constants.
    *
    * Scale shape: pass 1 is a dims-bounded partial-aggregated mean (the
    * collect is a parameter of the embedding space, not the corpus — the
    * [[standardize]] / k-means-centroid collect class); pass 2 is ONE
    * native [[graft.functions.GramMatrixAgg]] aggregate — each partition
    * folds its rows' centered outer products into a dims²/2 double buffer
    * in a primitive loop, and the final exchange merges one buffer per
    * partition. The earlier relational form exploded dims²/2 pair-structs
    * per row through a hash aggregate (12.5M rows at sf0.1) for arithmetic
    * that never needed to leave the row; the (i, j) presentation is an
    * explode of the SINGLE result row. */
  def covarianceMatrix(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.gram_matrix
    val v = col(vecCol).cast("array<double>")
    val means = df.select(posexplode(v).as(Seq("__d", "__x")))
      .groupBy("__d").agg(round(avg("__x"), 6).as("__mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dims = if (means.isEmpty) 0 else means.keys.max + 1
    if (dims == 0) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(Int, Int, Double)].toDF("i", "j", "cov")
    }
    val mu = (0 until dims).map(d => means.getOrElse(d, 0.0))
    val tri = dims * (dims + 1) / 2
    val idxI = typedLit((0 until dims).flatMap(i => (i until dims).map(_ => i)))
    val idxJ = typedLit((0 until dims).flatMap(i => i until dims))
    val withIdx = transform(slice(col("__g"), 2, tri), (s, p) =>
      struct(element_at(idxI, p + 1).as("i"), element_at(idxJ, p + 1).as("j"),
        s.as("s")))
    val r = round(col("e.s") / col("__n"), 6)
    df.agg(gram_matrix(v, mu).as("__g"))
      .select(element_at(col("__g"), 1).as("__n"), explode(withIdx).as("e"))
      .where(col("__n") > 0)
      // normalise IEEE negative zero: round() of a tiny negative yields
      // -0.0, which hash-differs from the other engine's +0.0
      .select(col("e.i").as("i"), col("e.j").as("j"),
        when(r === lit(0.0), lit(0.0)).otherwise(r).as("cov"))
  }

  /** Top-k PCA projection: principal axes from the covariance matrix by
    * a cyclic Jacobi eigen solve ([[pcaSolve]]), then a map-side projection
    * of every (mean-centred) vector onto them. Output: (idCol, proj array<double>,
    * k components, each rounded to 6 dp). Component sign is fixed by
    * making each axis's largest-|loading| coordinate positive, so results
    * are deterministic across runs and partitionings.
    *
    * Scale shape: the covariance matrix ([[covarianceMatrix]]'s one
    * shuffle) is dims²-BOUNDED — a parameter of the embedding space, not
    * of the corpus — so collecting it to the driver for the O(dims²·iters)
    * eigen solve is the same parameter-bounded collect as the k-means
    * centroid and PQ codebook sites; axes ship back as literal constants
    * and the projection is a codegen'd zero-shuffle map. Spec-locked
    * rather than oracle-checked: eigenvector order/sign under near-equal
    * eigenvalues is not portable SQL. */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 iters: Int = 50): DataFrame = {
    val (axes, _, mu) = pcaSolve(df, idCol, vecCol, k, iters)
    val v = col(vecCol).cast("array<double>")
    val comps = axes.map { ax =>
      round(dot_d(transform(v, (x, i) => x - element_at(typedLit(mu.toSeq), i + 1)),
        typedLit(ax.toSeq)), 6)
    }
    df.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** The driver-side eigen solve behind [[pcaProject]] / [[pcaInvariants]]:
    * cyclic Jacobi rotations over the dims²-bounded covariance matrix.
    * Jacobi (not power iteration) deliberately: embedding spectra are
    * often FLAT — near-equal eigenvalues make power iteration's per-step
    * contraction ratio λ₂/λ₁ ≈ 1, so residuals stall around 1e-4 and
    * deflated estimates can even swap order; Jacobi converges
    * quadratically on the whole spectrum regardless of gaps, so the
    * invariants ([[pcaInvariants]]) hold to machine precision. `iters`
    * bounds the SWEEPS (a sweep rotates every off-diagonal pair once;
    * quadratic convergence lands in < 10 sweeps at dims = 64).
    *
    * Fully deterministic: the input matrix is the ROUNDED covariance
    * ([[covarianceMatrix]]'s 6-dp discipline) and the solve is sequential
    * driver arithmetic — identical across runs and partitionings. Returns
    * (axes sorted by eigenvalue desc with the largest-|loading|-positive
    * sign pivot, covariance matrix, per-dim means rounded to 6 dp — the
    * same centring constants the matrix itself used). */
  private[graft] def pcaSolve(df: DataFrame, idCol: String, vecCol: String,
                              k: Int, iters: Int
                             ): (Seq[Array[Double]], Array[Array[Double]], Array[Double]) = {
    require(k > 0, "k must be positive")
    val cov = covarianceMatrix(df, idCol, vecCol)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    require(cov.nonEmpty,
      "pcaProject: no vectors (empty input or all-null embedding column)")
    val dims = cov.keys.map(_._2).max + 1
    require(k <= dims, s"k=$k exceeds dims=$dims")
    val m = Array.tabulate(dims, dims)((a, b) =>
      cov.getOrElse((math.min(a, b), math.max(a, b)), 0.0))
    // cyclic Jacobi on a working copy; eigenvectors accumulate in vm columns
    val a = m.map(_.clone)
    val vm = Array.tabulate(dims, dims)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      for (p <- 0 until dims; q <- p + 1 until dims) s += a(p)(q) * a(p)(q)
      s
    }
    var sweep = 0
    while (sweep < iters && offNorm > 1e-22) {
      for (p <- 0 until dims - 1; q <- p + 1 until dims
           if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) match {
          case 0.0 => 1.0
          case sg  => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var i = 0
        while (i < dims) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
          i += 1
        }
        i = 0
        while (i < dims) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
          val vip = vm(i)(p); val viq = vm(i)(q)
          vm(i)(p) = c * vip - s * viq
          vm(i)(q) = s * vip + c * viq
          i += 1
        }
      }
      sweep += 1
    }
    // eigenpairs sorted by eigenvalue desc; ties broken by column index so
    // the order is total and deterministic
    val cols = (0 until dims).sortBy(j => (-a(j)(j), j)).take(k)
    val axes = cols.map { j =>
      val x = Array.tabulate(dims)(i => vm(i)(j))
      // deterministic sign: largest-|loading| coordinate positive
      val piv = x.indices.maxBy(i => math.abs(x(i)))
      if (x(piv) < 0) x.map(-_) else x
    }
    // centring constants: the SAME rounded means covarianceMatrix used, so
    // projection variance matches the matrix's eigenvalues exactly
    val means = {
      val v = col(vecCol).cast("array<double>")
      df.select(posexplode(v).as(Seq("__d", "__x")))
        .groupBy("__d").agg(round(avg("__x"), 6).as("__mu"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }
    (axes, m, Array.tabulate(dims)(d => means.getOrElse(d, 0.0)))
  }

  /** Closed-form PCA invariants — the driver-checkable companion to
    * [[pcaProject]] (whose raw eigenvectors are NOT portable SQL: order and
    * sign under near-equal eigenvalues differ across solvers). Every row's
    * expected value is a CONSTANT, so a cross-engine oracle needs no eigen
    * solver of its own; combined with the oracle-checked
    * [[covarianceMatrix]] this closes the verification chain: the matrix is
    * right (x_embed_cov), and the axes are orthonormal eigenvectors of that
    * matrix with sorted eigenvalues whose projections behave (this query).
    *
    * Rows (check, p, q, val), rounded to 4 dp:
    *   - ortho:        axis_p · axis_q              → 1.0 iff p = q else 0.0
    *   - eig_resid:    ‖M·a_p − λ_p·a_p‖            → 0.0   (λ_p = a_pᵀMa_p)
    *   - lambda_order: 1.0 iff λ_p ≥ λ_{p+1}        → 1.0
    *   - proj_mean:    avg over corpus of proj_p    → 0.0   (centred)
    *   - proj_var_err: |var(proj_p) − λ_p|          → 0.0
    *
    * The first three are pure driver arithmetic on the parameter-bounded
    * solve; the last two aggregate the actual corpus projections (one
    * partial-aggregated shuffle over k-wide rows) — they tie the
    * distributed projection pass, not just the driver solve, to the
    * invariants. */
  def pcaInvariants(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    iters: Int = 50): DataFrame = {
    val (axes, m, mu) = pcaSolve(df, idCol, vecCol, k, iters)
    val dims = mu.length
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(dims)(a => (0 until dims).map(b => m(a)(b) * x(b)).sum)
    def dotA(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map(t => t._1 * t._2).sum
    val lambdas = axes.map(ax => dotA(ax, matVec(ax)))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ortho = for { p <- 0 until k; q <- p until k }
      yield ("ortho", p, q, r4(dotA(axes(p), axes(q))))
    val resid = (0 until k).map { p =>
      val r = matVec(axes(p)).zip(axes(p))
        .map { case (y, x) => val d = y - lambdas(p) * x; d * d }.sum
      ("eig_resid", p, p, r4(math.sqrt(r)))
    }
    val order = (0 until k - 1).map(p =>
      ("lambda_order", p, p + 1, if (lambdas(p) >= lambdas(p + 1) - 1e-9) 1.0 else 0.0))
    // corpus-side: per-component mean and variance of the projections
    val v = col(vecCol).cast("array<double>")
    val comps = axes.map { ax =>
      dot_d(transform(v, (x, i) => x - element_at(typedLit(mu.toSeq), i + 1)),
        typedLit(ax.toSeq))
    }
    val projStats = df.select(posexplode(array(comps: _*)).as(Seq("p", "y")))
      .groupBy("p")
      .agg(avg("y").as("m"), avg(col("y") * col("y")).as("e2"))
      .collect().map(r => r.getInt(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    val projMean = (0 until k).map(p => ("proj_mean", p, p, r4(projStats(p)._1)))
    val projVar = (0 until k).map { p =>
      val (mn, e2) = projStats(p)
      ("proj_var_err", p, p, r4(math.abs(e2 - mn * mn - lambdas(p))))
    }
    val spark = df.sparkSession
    import spark.implicits._
    (ortho ++ resid ++ order ++ projMean ++ projVar)
      .toDF("check", "p", "q", "val")
  }

  /** The DISTRIBUTED check surface of [[pcaProject]] — the oracle-checkable
    * form of the projection itself. The raw (id, proj) rows are not
    * portable SQL (the oracle has no eigen solver), but the projection's
    * per-component aggregates have CONSTANT expected values, so declaring
    * the projection THROUGH them closes the verification chain without one:
    * for each component p over the EXACT 6-dp-rounded values [[pcaProject]]
    * emits —
    *   - n_rows:  count of projected vectors  → corpus row count
    *   - mean_y:  avg(y), 4 dp                → 0.0 (centred projection)
    *   - var_err: |var(y) − λ_p|, 4 dp        → 0.0 (variance = eigenvalue)
    * One map-side projection + ONE partial-aggregated shuffle over k-wide
    * rows; λ comes from the same parameter-bounded driver solve as the
    * axes. The 6-dp rounding of y perturbs mean/var by ≤ 1e-5, absorbed by
    * the 4-dp check rounding. [[pcaInvariants]] carries the driver-side
    * ortho/residual/order companions; PcaSpec locks the raw row semantics. */
  def pcaProjectionCheck(df: DataFrame, idCol: String, vecCol: String, k: Int,
                         iters: Int = 50): DataFrame = {
    val (axes, m, mu) = pcaSolve(df, idCol, vecCol, k, iters)
    val dims = mu.length
    val lambdas = axes.map { ax =>
      val mx = Array.tabulate(dims)(a => (0 until dims).map(b => m(a)(b) * ax(b)).sum)
      ax.zip(mx).map(t => t._1 * t._2).sum
    }
    val v = col(vecCol).cast("array<double>")
    val comps = axes.map { ax =>
      round(dot_d(transform(v, (x, i) => x - element_at(typedLit(mu.toSeq), i + 1)),
        typedLit(ax.toSeq)), 6)
    }
    def r4(c: Column): Column = {
      val r = round(c, 4)
      when(r === lit(0.0), lit(0.0)).otherwise(r) // IEEE -0.0 normalisation
    }
    df.select(posexplode(array(comps: _*)).as(Seq("comp", "y")))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_rows"), avg("y").as("__m"),
        avg(col("y") * col("y")).as("__e2"))
      .select(col("comp"), col("n_rows"), r4(col("__m")).as("mean_y"),
        r4(abs(col("__e2") - col("__m") * col("__m") -
          element_at(typedLit(lambdas.toSeq), col("comp") + 1))).as("var_err"))
  }

  /** Brute-force near-duplicate pairs by cosine ≥ threshold (the exact
    * baseline the LSH variant approximates). O(n²/2) — use only to validate
    * LSH recall at small n, or within pre-partitioned shards at scale. */
  def bruteForcePairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      norm(col(vecCol)).as("nrm_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      norm(col(vecCol)).as("nrm_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** IVF-PQ (the composition both halves exist for): coarse cosine cells
    * prune the corpus to nprobe/nlist, and the survivors are scored by PQ
    * asymmetric distance on their stored codes — no raw-vector arithmetic
    * in the query path. This is the flat-code variant (codes quantize the
    * raw vectors; classical IVF-PQ quantizes the residual v − centroid,
    * which needs a per-cell distance table — the structure here is
    * identical and the variant keeps the codebook query-independent).
    *
    * `query` is one query vector as a one-row DataFrame with column `q`
    * (the [[ivfTopK]] contract — a multi-row frame would corrupt the
    * collected ADC distance table).
    *
    * Scale shape: cell assignment + code computation is ONE map pass over
    * the corpus (both are native/literal expressions); the query's probed
    * cells arrive as a broadcast semi-filter BELOW the code projection, so
    * the m×ksub quantization arithmetic runs only on surviving rows; ADC
    * scoring is m lookups per row; top-k is a TakeOrderedAndProject. At
    * 100 TB the query path is a scan of the (cell, codes) table with a
    * broadcast filter — and with the table bucketed by cell id, a scan of
    * nprobe/nlist of it. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, k: Int, nlist: Int, nprobe: Int,
                kmeansIters: Int, m: Int, ksub: Int, pqIters: Int): DataFrame = {
    val ctr = trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val cb = PqOps.train(corpus, idCol, vecCol, m, ksub, pqIters)
    // probe filter FIRST, codes after: codes are row-local, so computing
    // them below the join would quantize (nlist - nprobe)/nlist of the
    // corpus only to discard it
    val survivors = ivfAssign(corpus, idCol, vecCol, ctr)
      .join(broadcast(probeCellsOf(query, ctr, nprobe)), "centroid_id")
    PqOps.adcTopKEncoded(PqOps.withCodes(survivors, vecCol, cb),
      idCol, query, k, cb)
  }

  /** vec − centroid[cell] per assigned row: one broadcast join on the
    * (nlist-row) centroid table + a zip_with — pure map, and the cell id is
    * computed in the same pass ([[ivfAssign]] is itself a map). */
  private[ext] def withResiduals(asg: DataFrame, vecCol: String,
                                 centroids: DataFrame): DataFrame =
    asg.join(broadcast(centroids), "centroid_id")
      .withColumn("__res", zip_with(col(vecCol).cast("array<double>"),
        col("centroid").cast("array<double>"), (a, b) => a - b))
      .drop("centroid")

  /** The residual IVFADC training chain shared by [[ivfPqResTopK]],
    * [[ivfPqResTopKBatch]] and [[IvfPqIndex.build]]: coarse centroids,
    * assignment + residual (one map pass), then the PQ codebook trained on
    * the residuals. Returns (centroids, residual frame carrying
    * `centroid_id` and `__res`, codebook). */
  private[ext] def trainResidualPq(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, kmeansIters: Int, m: Int, ksub: Int,
      pqIters: Int): (DataFrame, DataFrame, PqOps.Codebook) = {
    val ctr = trainCentroids(corpus, idCol, vecCol, nlist, kmeansIters)
    val res = withResiduals(ivfAssign(corpus, idCol, vecCol, ctr), vecCol, ctr)
    (ctr, res, PqOps.train(res, idCol, "__res", m, ksub, pqIters))
  }

  /** Residual IVF-PQ — true IVFADC (Jégou et al. 2011 §III): codes quantize
    * the RESIDUAL v − centroid[cell] instead of the raw vector, so the
    * codebook's resolution covers the within-cell spread (residual
    * magnitudes are a cell radius, not the embedding-space diameter); the
    * query side scores each probed cell against the table of its own
    * query residual ([[PqOps.adcTopKEncodedPerCell]]). Same plan skeleton
    * as [[ivfPqTopK]]: assignment + residual are one map pass, the probe
    * filter sits BELOW the code computation, ADC is table lookups +
    * TakeOrderedAndProject — 0 data shuffles. */
  def ivfPqResTopK(corpus: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, k: Int, nlist: Int, nprobe: Int,
                   kmeansIters: Int, m: Int, ksub: Int, pqIters: Int): DataFrame = {
    val (ctr, res, cb) = trainResidualPq(corpus, idCol, vecCol, nlist,
      kmeansIters, m, ksub, pqIters)
    val probe = probeCellsOf(query, ctr, nprobe)
    // probe filter FIRST, codes after (the ivfPqTopK discipline)
    val survivors = res.join(broadcast(probe), "centroid_id")
    PqOps.adcTopKEncodedPerCell(
      PqOps.withCodes(survivors, "__res", cb), idCol, query,
      ctr.join(probe, "centroid_id"), k, cb)
  }

  /** Residual IVF-PQ for a SET of query vectors (`queries`: qid, q) — the
    * batch form sharing [[ivfTopKBatch]]'s probe machinery. One assignment +
    * residual + codebook pass serves every query; per-query probed cells
    * come from the same queries×nlist ranking window; survivors (the UNION
    * of probed cells) are code-encoded ONCE and only then fanned out to the
    * queries probing their cell. Scoring is the shared relational spine
    * [[adcScoreResBatch]] (per-(query, cell) distance-table arrays broadcast
    * onto the candidates, map-side [[PqOps.adcScore]], one per-query top-k
    * window). */
  def ivfPqResTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: DataFrame, k: Int, nlist: Int, nprobe: Int,
                        kmeansIters: Int, m: Int, ksub: Int,
                        pqIters: Int): DataFrame = {
    val (ctr, res, cb) = trainResidualPq(corpus, idCol, vecCol, nlist,
      kmeansIters, m, ksub, pqIters)
    val probes = perQueryProbes(queries, ctr, nprobe)
    val cells = probes.select("centroid_id").distinct()
    val enc = PqOps.withCodes(res.join(broadcast(cells), "centroid_id"),
      "__res", cb)
    adcScoreResBatch(enc, idCol, queries, probes, ctr, k, cb)
  }

  /** Per-query probed cells (qid, centroid_id) — top-nprobe centroids by
    * rounded cosine per query, ties to the smaller centroid id. The window
    * ranks queries × nlist rows (tiny: the centroid side is nlist). Shared
    * by [[ivfTopKBatch]], the in-memory IVF-PQ batch form and the
    * stored-index serve path. */
  private[ext] def perQueryProbes(queries: DataFrame, centroids: DataFrame,
                                  nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("centroid_id"))
    queries.crossJoin(broadcast(centroids
        .withColumn("__cnrm", norm(col("centroid")))))
      .select(col("qid"), col("centroid_id"),
        round(dot(col("q"), col("centroid")) / (norm(col("q")) * col("__cnrm")), 6)
          .as("__sim"))
      .withColumn("__rn", row_number().over(probeW)).where(col("__rn") <= nprobe)
      .select(col("qid"), col("centroid_id"))
  }

  /** Relational batch ADC over residual codes — the scoring spine shared by
    * [[ivfPqResTopKBatch]] (in-memory) and [[IvfPqIndex.topKBatch]]
    * (stored): per-(query, cell) query-residual distance tables as a
    * parameter-bounded frame (nq × nprobe rows of m×ksub-slot arrays,
    * [[PqOps.adcTables]]), broadcast onto the candidate codes on
    * (qid, centroid_id); scoring is the [[PqOps.adcScore]] pure map (no
    * code explode, no per-candidate aggregation exchange); one per-query
    * top-k window. Nothing is collected to the driver, so the query set
    * itself can be large (for a query set too big to broadcast its tables,
    * drop the hints and let the joins shuffle on their keys). Self-matches
    * (qid = corpus id) are excluded, the [[ivfTopKBatch]] contract. */
  private[ext] def adcScoreResBatch(enc: DataFrame, idCol: String,
                                    queries: DataFrame, probes: DataFrame,
                                    centroids: DataFrame, k: Int,
                                    cb: PqOps.Codebook): DataFrame = {
    val qres = queries.join(probes, "qid").join(broadcast(centroids), "centroid_id")
      .select(col("qid"), col("centroid_id"),
        zip_with(col("q").cast("array<double>"),
          col("centroid").cast("array<double>"), (a, b) => a - b).as("__qr"))
    val keys = Seq("qid", "centroid_id")
    val scored = enc.join(broadcast(probes), "centroid_id")
      .where(col(idCol) =!= col("qid"))
      .join(broadcast(PqOps.adcTables(qres, keys, col("__qr"), cb)), keys)
      .select(col("qid"), col(idCol),
        PqOps.adcScore(cb.m, cb.ksub).as("adc_dist"))
    topPerQuery(scored, idCol, "adc_dist", k, ascending = true)
  }

  /** How [[semDedup]] picks nlist: `Nlist(n)` as given, or
    * `TargetSize(s)` = ceil(corpus count / s). */
  sealed trait ClusterSizing

  object ClusterSizing {
    final case class Nlist(nlist: Int) extends ClusterSizing
    final case class TargetSize(targetClusterSize: Int) extends ClusterSizing {
      require(targetClusterSize > 0, "targetClusterSize must be positive")
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means cluster the
    * embedding space, then within each cluster drop every vector that has a
    * smaller-id near-duplicate (cosine ≥ `tau`, rounded to 6 dp like every
    * portable similarity here). The cluster structure turns the O(n²)
    * near-dup sweep into Σ cluster², and the keep-smallest-id rule makes
    * the survivor set deterministic.
    *
    * `clusters` sizes nlist ([[ClusterSizing]]): as given, or from the
    * corpus as ceil(n / targetClusterSize), so the expected cluster is
    * targetClusterSize regardless of corpus growth — the knob users
    * actually reason about (pair work scales as n · targetClusterSize).
    * The target form costs one count() action up front and persists the
    * input around the count + centroid-sampling + refine passes (unless
    * the caller already did), then unpersists once training is done — the
    * final assignment pass re-scans the source once, so nothing stays
    * pinned after the call. An empty corpus raises there.
    *
    * Output: (idCol, centroid_id) of the SURVIVORS.
    *
    * Scale shape: assignment is a pure map (native [[graft.functions
    * .NearestCentroid]], broadcast centroids), so the assigned frame is
    * recomputed per use rather than cached; the pairwise stage is one
    * shuffle join on centroid_id. Cluster sizes are guarded like LSH
    * buckets: a cluster above `maxCluster` means nlist is too small for the
    * corpus (cluster ≈ n/nlist on average) and the in-cluster self-join
    * would be quadratic — fail fast with sizing guidance instead of OOMing
    * an executor. Sizing the AVERAGE correctly cannot bound the largest
    * cell, so the guard stays as the backstop for skewed clusterings. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               clusters: ClusterSizing, kmeansIters: Int, tau: Double,
               maxCluster: Int = 100000): DataFrame = {
    val ctr = clusters match {
      case ClusterSizing.Nlist(nlist) =>
        trainCentroids(df, idCol, vecCol, nlist, kmeansIters)
      case ClusterSizing.TargetSize(size) =>
        val alreadyCached =
          df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        if (!alreadyCached) df.persist()
        try {
          val n = df.count()
          require(n > 0, "semDedup: empty corpus")
          val nlist = math.max(1L, (n + size - 1) / size)
          require(nlist <= Int.MaxValue, "nlist overflow")
          // training is eager (centroid sampling, k-means refine), so every
          // training scan hits the cache before it is released
          trainCentroids(df, idCol, vecCol, nlist.toInt, kmeansIters)
        } finally {
          if (!alreadyCached) df.unpersist(blocking = false)
        }
    }
    // assignment feeds both sides of the pair join and the final anti-join
    val asg = ivfAssign(df, idCol, vecCol, ctr)
    val sizes = asg.groupBy("centroid_id").agg(count(lit(1)).as("__csz"))
    // the guard lives inside a consumed column (see annPairs): id_a flows
    // into the pair predicate, so the assertion cannot be pruned away
    val a = asg.join(sizes, "centroid_id")
      .select(col("centroid_id"),
        when(col("__csz") <= maxCluster, col(idCol))
          .otherwise(raise_error(concat(
            lit(s"SemDeDup cluster exceeds maxCluster=$maxCluster — raise " +
              "nlist (cluster ≈ n/nlist); cluster size = "),
            col("__csz").cast("string")))).as("id_a"),
        col(vecCol).as("__va"), norm(col(vecCol)).as("__na"))
    val b = asg.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), norm(col(vecCol)).as("__nb"))
    val dups = a.join(b, "centroid_id")
      .where(col("id_b") < col("id_a"))
      .where(round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6)
        >= tau)
      .select(col("id_a").as(idCol))
      .distinct()
    asg.join(dups, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id").cast("long").as("centroid_id"))
  }
}
