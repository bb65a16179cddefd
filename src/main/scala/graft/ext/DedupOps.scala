package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale notes (the whole point of these algorithms):
  *  - Exact dedup is one hash-groupBy — a single shuffle on the content hash.
  *  - MinHash+LSH avoids the O(n²) pair explosion: signatures are one
  *    explode+groupBy per document (shuffle keyed by doc), banding groups
  *    docs into tiny buckets, and only same-bucket docs are joined. At 100 TB
  *    the bucket join shuffles by (band, key) with near-uniform load; skew
  *    (a giant bucket of boilerplate docs) is bounded because band keys
  *    include all rows of the band signature.
  *  - All hashing is md5-based and engine-portable (deterministic, no JVM
  *    hashCode), so results reproduce bit-for-bit anywhere.
  */
object DedupOps {

  /** Exact dedup: canonical content hash, keep the smallest key per group.
    * One shuffle; at scale add a `.repartition(hash)` only if AQE's skew
    * handling is off. */
  def exact(df: DataFrame, key: Column, text: Column): DataFrame = {
    val hashed = df.select(key.as("doc_id"), md5(text).as("content_hash"))
    hashed.groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** MinHash signature, wide form: ONE groupBy(doc_id) computing all
    * `numHashes` min-hashes as columns mh_0..mh_{n-1}. (The long-form
    * alternative — explode a seed dimension then groupBy (doc, seed) —
    * multiplies the shuffled rows by numHashes and costs a second shuffle;
    * the wide aggregate is partial-aggregated map-side and shuffles each doc
    * exactly once.) */
  def minhashSignature(shingleDf: DataFrame, numHashes: Int): DataFrame = {
    // Kirsch–Mitzenmacher double hashing: ONE md5 per shingle, the i-th
    // hash is (h1 + i*h2) mod 2^32 from two 32-bit halves of the digest —
    // 12× less hashing than md5-per-seed at identical LSH quality, and
    // still engine-portable (pure integer arithmetic on the hex digits).
    val h = md5(col("shingle"))
    val h1 = conv(substring(h, 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(h, 9, 8), 16, 10).cast("long")
    val mins = (0 until numHashes).map(i =>
      min((col("__h1") + lit(i.toLong) * col("__h2")) % lit(4294967296L))
        .as(s"mh_$i"))
    shingleDf.withColumn("__h1", h1).withColumn("__h2", h2)
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding over the wide signature: band b's bucket key is the md5 of
    * its rows' concatenation — computed map-side with zero extra shuffles,
    * then exploded to (doc_id, band, bkey). */
  def lshBands(sig: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", (0 until rowsPerBand)
          .map(r => col(s"mh_${rowsPerBand * b + r}").cast("string")): _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate pairs from LSH buckets (doc_a < doc_b, distinct). Buckets are
    * collected per (band, bkey) — one shuffle — and pairs generated from the
    * sorted member array in-place, avoiding a bands×bands self-join that
    * would recompute the whole upstream DAG twice. Bucket membership lists
    * are tiny by construction (that is the point of banding), so the nested
    * pair expansion is O(bucket²) with bucket ≈ a handful. */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val buckets = bands.groupBy("band", "bkey")
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) > 1)
    val pairsExpr = flatten(transform(sequence(lit(1), size(col("ids")) - 1),
      j => transform(sequence(lit(0), j - 1),
        i => struct(col("ids")(i).as("doc_a"), col("ids")(j).as("doc_b")))))
    buckets.select(explode(pairsExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** Duplicate-cluster resolution: assign every document the smallest
    * doc_id reachable through the (candidate or verified) pair graph — its
    * connected component, i.e. the canonical keep-id of its dup cluster.
    * This is the step after LSH: pairs say "these two match", clusters say
    * "keep exactly one of these k".
    *
    * Min-label propagation: per round, every node takes the min label among
    * itself and its neighbours — one join + one aggregation per round over
    * a symmetrised edge list persisted once; rounds needed = component
    * diameter, and dup clusters from banding are near-cliques, so 2-3
    * rounds converge. The loop stops when an (actioned) changed-count hits
    * zero — driver-side control flow only, never driver-side data. No
    * quadratic work at any point, which is what makes this the 100-TB form
    * (a transitive-closure join would explode; the oracle uses exactly that
    * closure, in SQL, at oracle scale). */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 10,
                  strict: Boolean = true): DataFrame = {
    // localCheckpoint, not persist: the candidate-pair lineage (LSH
    // banding over the whole corpus) is expensive plan state, and a
    // persist would ship it inside every propagation-round task's binary
    // (the task-binary finding in the GraphOps doc — ~100 ms CPU per
    // cache-scanning task); the checkpoint stores the same rows behind a
    // flat LogicalRDD scan
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // the propagation universe must cover every node the PAIRS mention, not
    // just `docs`: an edge through a doc absent from `docs` still connects
    // its endpoints, and a universe smaller than the message set would let
    // the convergence check miss freshly-introduced nodes (declaring
    // converged while labels are still moving). Output is filtered back to
    // `docs` at the end.
    val universe = docs.select(col("doc_id"))
      .unionByName(edges.select(col("src").as("doc_id")))
      .distinct()
    // Per-round lineage TRUNCATION, not just caching: a persist() keeps the
    // optimizer plan nested (each round's union + convergence join embed the
    // previous round's InMemoryRelation TWICE, and AQE regenerates the plan
    // description per query stage — plan-string work grows ~2^rounds and
    // shows up as driver CPU burn long before memory dies). localCheckpoint
    // rewrites the round's result as a LogicalRDD, so every round plans
    // against a flat scan — constant plan size however many rounds run. On a
    // cluster, swap for reliable checkpoint() (a checkpoint dir) if
    // executor loss mid-propagation must be survivable; the blocks here are
    // one (id, label) row per node.
    var labels = universe.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val msgs = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val next = labels.unionByName(msgs)
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("cluster_id", "__old"), "doc_id")
        .where(col("cluster_id") =!= col("__old")).limit(1).count()
      // previous round's checkpoint blocks are dropped by the ContextCleaner
      // once this reference goes out of scope (Dataset.unpersist only talks
      // to the CacheManager, which never saw a checkpointed RDD)
      labels = next
      converged = changed == 0
      iter += 1
    }
    // partially-propagated labels are WRONG labels; by default refuse to
    // return them (a pathological path component deeper than maxIters).
    // strict=false is for callers that explicitly want the bounded
    // approximation and know labels may be non-minimal.
    if (strict && !converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within maxIters=$maxIters " +
          "(a component's diameter exceeds the bound); raise maxIters or " +
          "pass strict=false to accept partially-propagated labels")
    labels.join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  /** Incremental cross-snapshot dedup: flag each NEW document that
    * duplicates the existing REGISTRY corpus — exactly (same content hash)
    * or nearly (MinHash-LSH candidate with shingle-Jaccard >= theta) —
    * without ever re-pairing the registry against itself. This is the
    * steady-state shape of a crawl pipeline: each increment is deduped
    * against everything already kept, and the registry side pays only a
    * signature pass plus the band equi-join (at 100 TB, precompute and
    * store the registry's bands + shingle sets once per snapshot and feed
    * them in here instead of `registry` raw text — the operator's joins
    * only ever touch those two derived tables).
    *
    * Contract: key values must be globally unique across BOTH inputs (the
    * band join and the verification key on doc id). Within-batch dups are
    * deliberately NOT flagged — that is [[exact]]/[[lshCandidates]] run on
    * the batch alone; composing both passes is the caller's pipeline.
    *
    * Output: one row per new document —
    * (doc_id, exact_dup, near_dup, kept = !exact_dup && !near_dup).
    * A document too short to shingle can never be a near-dup but is still
    * exact-checked. */
  def dedupAgainstRegistry(newDocs: DataFrame, registry: DataFrame,
                           key: Column, text: Column,
                           numHashes: Int, numBands: Int, theta: Double,
                           k: Int = 3): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0, 1], got $theta")
    val n = newDocs.select(key.as("doc_id"), text.as("text"))
    val r = registry.select(key.as("doc_id"), text.as("text"))
    // exact tier: semi-join on the content hash against the DISTINCT
    // registry hashes — the distinct collapses the registry to one row per
    // content before the join shuffles it
    val regHashes = r.select(md5(col("text")).as("__h")).distinct()
    val exactIds = n.select(col("doc_id"), md5(col("text")).as("__h"))
      .join(regHashes, Seq("__h"), "left_semi")
      .select("doc_id")
    // near tier: per-side signatures, bands joined ACROSS sides only —
    // no side ever self-joins, so registry cost is linear in registry size
    // each side's shingles feed the band signature AND the Jaccard verify
    // union; persisting them was MEASURED this round (r19) and rejected:
    // the warm-cache min only matched the uncached wall (1.97 vs 1.98 s at
    // sf0.1) while cold reps were 2x worse and shuffle records ROSE
    // 15k → 20k (a join-strategy shift off the cached stats) — the
    // recompute keeps source statistics visible, the spanDedup trade
    // reversed
    val shN = TextOps.explodeShingles(n, col("doc_id"), col("text"), k)
    val shR = TextOps.explodeShingles(r, col("doc_id"), col("text"), k)
    def bandsOf(sh: DataFrame) =
      lshBands(minhashSignature(sh, numHashes), numHashes, numBands)
    val cand = bandsOf(shN)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(bandsOf(shR)
          .select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .select("doc_a", "doc_b").distinct()
    val nearIds = jaccard(cand, shN.unionByName(shR))
      .where(col("jaccard") >= theta)
      .select(col("doc_a").as("doc_id")).distinct()
    n.select("doc_id")
      .join(exactIds.withColumn("__e", lit(true)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("__n", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__e"), lit(false)).as("exact_dup"),
        coalesce(col("__n"), lit(false)).as("near_dup"),
        (col("__e").isNull && col("__n").isNull).as("kept"))
  }

  /** Exact n-gram Jaccard for candidate pairs: aggregate each doc's shingle
    * set ONCE (shingleDf rows are distinct per doc), join the two per-doc
    * arrays onto each pair, and count the intersection map-side with
    * `array_intersect`. Only candidate pairs pay the verification cost —
    * never all n² pairs — and unlike the exploded-row formulation (which
    * shuffles the FULL shingle table into both join branches and pays an
    * extra (doc_a, doc_b) re-key aggregation) each doc's set is shuffled
    * exactly once. Per-doc arrays are bounded by document length, so the
    * row width stays executor-safe at 100-TB corpus scale. */
  def jaccard(pairs: DataFrame, shingleDf: DataFrame): DataFrame = {
    val sets = shingleDf.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sh"), count(lit(1)).as("sz"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      // n_inter materialised in its own projection so the intersection is
      // computed once, not re-inlined per use site
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 4)
          .as("jaccard"))
  }

  /** 32-bit SimHash over the distinct token set. Bits come from md5 hex
    * digits (4 bits per digit, 8 digits), so the computation is portable to
    * any engine with md5 — no JVM-specific hashing. Per bit: sum(+1/-1) over
    * tokens, bit set iff the sum is positive. */
  def simhash(df: DataFrame, key: Column, text: Column): DataFrame = {
    val toks = TextOps.withTokens(df, Seq(key.as("doc_id")), text)
      .select(col("doc_id"), explode(array_distinct(col("__tk"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitCols = (0 until 32).map { j =>
      val digit = j / 4
      val p = 1 << (j % 4)
      val d = instr(lit("0123456789abcdef"),
        substring(col("h"), digit + 1, 1)) - 1
      // bit p of nibble d, written with %/>= only so any engine reproduces it
      val bitVal = when(d % (2 * p) >= p, lit(1)).otherwise(lit(0))
      sum(bitVal * 2 - 1).cast("long").as(s"s_$j")
    }
    val sums = toks.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 32).map { j =>
      when(col(s"s_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Row-local SimHash: the SAME 32-bit signature as [[simhash]] (identical
    * md5-nibble bits, identical ±1 vote rule over the distinct token set —
    * equality is locked by StreamDedupSpec) computed entirely within one
    * row, no explode, no groupBy — the native
    * [[graft.functions.SimHash32]] expression. This is the form pure-map
    * contexts need: streaming stages (where an aggregate would be a second
    * stateful operator) and encode-style projections. */
  def simhashCol(text: Column): Column =
    graft.functions.TextFunctions.simhash32(TextOps.tokens(text))

  /** Near-dup pairs by SimHash, pigeonhole-complete: the 32-bit signature is
    * split into `maxHamming + 1` equal bit-blocks, so any pair within Hamming
    * distance `maxHamming` has at least one block with zero differing bits
    * (d differences cannot touch all d+1 blocks) and is guaranteed to become
    * a candidate; candidates are then verified with an exact popcount.
    * Physically: one shuffle per block on (block key), bucket sizes bounded
    * by the key entropy — all map-side expressible, no all-pairs join. */
  def simhashPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    // pigeonhole needs AT LEAST maxHamming+1 blocks (extra blocks only add
    // candidates, never lose them) — round up to the next divisor of 32 so
    // every maxHamming in [0, 31] is servable, not just the divisor-aligned
    // ones
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val numBlocks = Seq(1, 2, 4, 8, 16, 32).find(_ >= maxHamming + 1).get
    val bitsPerBlock = 32 / numBlocks
    val blockKey = (b: Int) =>
      expr(s"(simhash div ${1L << (bitsPerBlock * b)}) % ${1L << bitsPerBlock}")
    val withBlocks = (0 until numBlocks).foldLeft(sig) { (d, b) =>
      d.withColumn(s"h$b", blockKey(b))
    }
    val pairsOn = (block: String) => {
      val a = withBlocks.select(col(block), col("doc_id").as("doc_a"),
        col("simhash").as("sim_a"))
      val b = withBlocks.select(col(block), col("doc_id").as("doc_b"),
        col("simhash").as("sim_b"))
      a.join(b, block).where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
    }
    (0 until numBlocks).map(b => pairsOn(s"h$b")).reduce(_ unionByName _)
      .distinct()
      .withColumn("hamming",
        expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
