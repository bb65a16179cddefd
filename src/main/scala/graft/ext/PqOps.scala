package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search"): split each vector into `m` subvectors,
  * k-means each subspace into `ksub` codewords, and represent every vector
  * by its `m` nearest-codeword ids (log2(ksub)·m bits instead of 8·d·4 —
  * the memory side of IVF-PQ, complementing [[SimilarityOps.ivfTopK]]'s
  * cell-pruning side). Queries score against codes with an asymmetric
  * distance table (ADC): per subspace, the exact distance from the query
  * subvector to each codeword; a vector's approximate distance is the sum
  * of its codes' table entries.
  *
  * Portability discipline (shared with the IVF/SRP stack): every distance
  * is round(|a|² + |b|² − 2a·b, 6) via the house [[graft.functions
  * .DotProduct]] (bit-compatible with DuckDB's list_dot_product), argmins
  * break ties toward the smaller code id via a lexicographic struct min,
  * and Lloyd means are rounded to 6 dp — so codebooks, codes, and ADC
  * scores are engine-identical.
  *
  * Scale shape: training touches the corpus once per Lloyd round (one map
  * assignment + one partial-aggregated shuffle on (sub, code, dim)); the
  * codebook is m×ksub rows and lives as expression constants. Encoding and
  * ADC scoring are PURE MAP passes — no shuffle, no join — and top-k is a
  * TakeOrderedAndProject. At 100 TB the whole query path is a scan.
  * Encoding runs in the native [[graft.functions.PqEncode]] expression
  * (all m argmins in one pass, codebook as expression constants) — the
  * earlier m×ksub struct-argmin expression tree produced bit-identical
  * codes but paid seconds of analyzer/codegen time per query at m·ksub·dsub
  * tree nodes; the expression keeps the proven rounding/tie discipline
  * (PqSpec + the oracle hash-compares lock the equivalence).
  */
object PqOps {

  import SimilarityOps.dot

  /** round(squared L2, 6) from three portable dot products. */
  private[graft] def sqDist(a: Column, b: Column): Column =
    round(dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b), 6)

  /** A trained codebook: (sub, code, codeword) with code 1..ksub per
    * subspace, codeword length d/m. */
  final case class Codebook(m: Int, dsub: Int, ksub: Int,
                            words: Map[(Int, Int), Seq[Double]])

  /** The m×ksub codewords of `cb` as a local (sub, code, w) frame. */
  private[ext] def codebookFrame(spark: SparkSession, cb: Codebook): DataFrame = {
    import spark.implicits._
    cb.words.toSeq.map { case ((s, c), w) => (s, c, w) }.toDF("sub", "code", "w")
  }

  /** All m nearest-codeword ids (1-based) in one native pass — smallest
    * rounded squared distance, ties to the smaller code. */
  private def codesOf(vec: Column, cb: Codebook): Column =
    graft.functions.VectorFunctions.pq_encode(vec, cb.m, cb.dsub,
      (0 until cb.m).map(s => (1 to cb.ksub).map(k => cb.words((s, k)))))

  /** Train per-subspace codebooks: the first `ksub` corpus rows in md5-of-id
    * order seed every subspace (sliced), then `iters` Lloyd rounds of
    * assign + rounded per-dimension mean. Cells that lose all members keep
    * their previous codeword. Each round is one map pass + one aggregation;
    * the codebook itself is m×ksub×dsub doubles on the driver. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            m: Int, ksub: Int, iters: Int): Codebook = {
    val s0 = df.sparkSession
    import s0.implicits._
    val sample = df.select(col(idCol), col(vecCol).cast("array<double>"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(ksub)
      .orderBy(col(idCol))
      .select(col(vecCol))
      .as[Seq[Double]].collect()
    require(sample.length == ksub, s"corpus has fewer than ksub=$ksub rows")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val init = Codebook(m, dsub, ksub,
      (for (s <- 0 until m; k <- 1 to ksub)
        yield (s, k) -> sample(k - 1).slice(s * dsub, (s + 1) * dsub)).toMap)
    (1 to iters).foldLeft(init) { (cb, _) =>
      val vec = col(vecCol).cast("array<double>")
      // codes computed ONCE per row (single generator reference — the
      // CollapseProject duplication trap doesn't apply), subvectors sliced
      // post-explode by the emitted subspace index
      val means = df
        .select(vec.as("__v"), posexplode(codesOf(vec, cb)).as(Seq("__s", "code")))
        .select(col("__s").cast("int").as("sub"), col("code"),
          posexplode(slice(col("__v"), col("__s") * dsub + 1, lit(dsub)))
            .as(Seq("i", "x")))
        .groupBy("sub", "code", "i")
        .agg(round(avg(col("x").cast("double")), 6).as("mv"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("mv")))),
          t => t.getField("mv")).as("w"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (s, k, w) => (s, k) -> w }.toMap
      cb.copy(words = cb.words.map { case (sk, w) => sk -> means.getOrElse(sk, w) })
    }
  }

  /** (idCol, codes array<int>) — the compressed representation. Pure map. */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame =
    withCodes(df, vecCol, cb).select(col(idCol), col("codes"))

  /** Append the `codes` column to an arbitrary frame (pure map) — the form
    * composition sites need when the row must keep other columns (e.g. the
    * IVF cell id in [[SimilarityOps.ivfPqTopK]]). */
  def withCodes(df: DataFrame, vecCol: String, cb: Codebook): DataFrame =
    df.withColumn("codes", codesOf(col(vecCol).cast("array<double>"), cb))

  /** Collapse a relational distance table (keys..., sub, code, __d2) to ONE
    * array per key with slot sub·ksub + code (1-based) — the layout
    * [[adcScore]] indexes. The tables stay a parameter-bounded FRAME
    * end-to-end (one tiny aggregation; nothing is collected to the driver),
    * which is what retired the literal when-chain folds: a literal table is
    * nprobe × m × ksub expression nodes and its analyzer/codegen cost grows
    * with nprobe, while this is one Literal-free broadcast row per key.
    * (sub, code) is unique per key, so the array_sort order is total and
    * the layout deterministic. */
  private[ext] def dtabArray(dtab: DataFrame, keys: Seq[String]): DataFrame =
    dtab.groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("__d2")))),
        t => t.getField("__d2")).as("__darr"))

  /** The ADC distance tables, one `__darr` row per key of `side`: for every
    * (keys…, sub, code), round(|q|² + |w|² − 2q·w, 6) between `qv` (a
    * query-side vector column of `side`) sliced to subspace `sub` and that
    * codeword — computed IN Spark, so rounding is the engine's own — then
    * collapsed by [[dtabArray]]. One crossJoin against the broadcast
    * codebook computes every key's whole m×ksub table; `side` is
    * parameter-bounded (one query, its probed cells, or queries × probes). */
  private[ext] def adcTables(side: DataFrame, keys: Seq[String], qv: Column,
                             cb: Codebook): DataFrame = {
    val sv = slice(qv, col("sub") * cb.dsub + 1, lit(cb.dsub))
    dtabArray(side.crossJoin(broadcast(codebookFrame(side.sparkSession, cb)))
      .select(keys.map(col) ++ Seq(col("sub"), col("code"),
        sqDist(sv, col("w")).as("__d2")): _*), keys)
  }

  /** ADC score of a codes row against its joined `__darr` table: a left fold
    * of the m per-subspace lookups in subspace order (0.0 + d₀ + d₁ + … —
    * bit-identical to the retired literal fold's d₀ + d₁ + …, since
    * 0.0 + x = x for the non-negative distances involved), rounded 6 dp. */
  private[ext] def adcScore(m: Int, ksub: Int): Column =
    round(aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(col("__darr"), s * ksub + element_at(col("codes"), s + 1))), 6)

  /** ADC top-k over a PRE-ENCODED corpus ((idCol, codes) from [[encode]]):
    * build the m×ksub distance table IN Spark (so rounding is the engine's
    * own) as the nq = 1 case of the relational batch structure — the table
    * rides a one-row broadcast onto the codes scan and scoring is a pure
    * map ([[adcScore]]), no distance arithmetic, no re-quantization, no
    * driver-side table collect. This is the form that makes PQ PQ: the
    * corpus the query path scans is the compressed codes table
    * (log2(ksub)·m bits per vector), and every query costs m lookups per
    * row plus one TakeOrderedAndProject. The only shuffle anywhere is the
    * m×ksub-row table build aggregate — never the codes scan.
    * Output: (vec_id, adc_dist). */
  def adcTopKEncoded(encoded: DataFrame, idCol: String,
                     query: DataFrame, k: Int, cb: Codebook): DataFrame =
    encoded.crossJoin(broadcast(
        adcTables(query, Nil, col("q").cast("array<double>"), cb)))
      .select(col(idCol).as("vec_id"), adcScore(cb.m, cb.ksub).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
      .limit(k)

  /** Per-cell ADC over RESIDUAL codes — the query side of classical IVFADC
    * (Jégou et al. 2011 §III): a row in probed cell c scores against the
    * distance table of the query's OWN residual in that cell (q − centroid_c),
    * so the code budget is spent on the within-cell offset rather than the
    * absolute position — where the composition's accuracy comes from.
    *
    * `encoded` must carry (idCol, centroid_id, codes); `probedCentroids` is
    * the (centroid_id, centroid) table of the PROBED cells only (nprobe
    * rows). The per-cell m×ksub tables are computed IN Spark (engine-own
    * rounding, the [[adcTopKEncoded]] discipline) and stay a
    * nprobe-row broadcast frame joined onto the codes scan on the cell id —
    * the nq = 1 case of the relational batch structure; scoring is the
    * [[adcScore]] map and top-k a TakeOrderedAndProject. The codes scan
    * itself never shuffles; the one exchange is the parameter-bounded
    * table-build aggregate. */
  def adcTopKEncodedPerCell(encoded: DataFrame, idCol: String, query: DataFrame,
                            probedCentroids: DataFrame, k: Int,
                            cb: Codebook): DataFrame = {
    val cells = query.crossJoin(probedCentroids)
      .withColumn("centroid_id", col("centroid_id").cast("int"))
    val qres = zip_with(col("q").cast("array<double>"),
      col("centroid").cast("array<double>"), (a, b) => a - b)
    encoded.join(broadcast(adcTables(cells, Seq("centroid_id"), qres, cb)),
        "centroid_id")
      .select(col(idCol).as("vec_id"), adcScore(cb.m, cb.ksub).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
      .limit(k)
  }

  /** Code-signature dedup — the cheap coarse near-dup pass SemDeDup-style
    * pipelines run BEFORE any exact cosine work: vectors sharing an
    * identical PQ code signature are near-duplicates at the codebook's
    * resolution (exactly the collapse x_pq_recall documents on the planted
    * clone family), so keeping the smallest id per signature removes whole
    * duplicate families for the cost of ONE partial-aggregated shuffle on
    * an m-int key — no pair join, no distance arithmetic, no cluster-size
    * risk. The signature is emitted as a comma-joined string (`code_sig`)
    * so the result surface is scalar/sortable. Survivor set:
    * (idCol, code_sig), smallest id per signature. */
  def codeDedup(encoded: DataFrame, idCol: String): DataFrame =
    encoded.select(col(idCol),
        array_join(transform(col("codes"), _.cast("string")), ",").as("code_sig"))
      .groupBy("code_sig").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("code_sig"))

  /** Convenience raw-vector form: encodes on the fly, then scores the
    * codes ([[adcTopKEncoded]]). Use the encoded form when the codes table
    * is materialised — re-encoding per query pays the full m×ksub
    * quantization arithmetic per row, which is training-grade work. */
  def adcTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, cb: Codebook): DataFrame =
    adcTopKEncoded(encode(corpus, idCol, vecCol, cb), idCol, query, k, cb)
}
