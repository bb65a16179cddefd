package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-path fuzzy (edit-distance) join — the SURVEY §4 "rewrite
  * `levenshtein(a,b) <= k` joins" candidate realised as a library operator.
  *
  * The reference's fuzzy matching (Op-35, ServiceAlertAugmenter fuzzy layer
  * lookup) runs `levenshtein` against a broadcast layer — fine while one
  * side is tiny, a nested-loop disaster when both sides are large. The
  * classic equi-join rewrite is FastSS (Bocek, Hunt & Stiller 2007, "Fast
  * Similarity Search in Large Dictionaries"): two strings within edit
  * distance k share at least one common member of their ≤k-deletion
  * neighbourhoods, so exploding each side to its deletion variants turns the
  * candidate search into a plain equi-join on the variant string, followed
  * by an exact levenshtein verify (sharing a variant only bounds the
  * distance by 2k, so the verify is part of the semantics, not an
  * optimisation). Mirrors the LSH shape: explode → equi-join → distinct
  * pairs → exact filter.
  *
  * Why not length-banding (|len(a)−len(b)| ≤ k as the join key): real
  * entity corpora have near-constant lengths (every TPC-H customer name is
  * 18 chars), so the length key degenerates to ONE hot key — a disguised
  * cross join. Deletion variants are near-unique strings; the join keys
  * stay fine-grained no matter how uniform the lengths are.
  *
  * Scale shape: each side fans out to ≤ 1 + len + len²/2 variant rows
  * (k ≤ 2), one shuffle equi-join on the variant, one distinct on the pair,
  * the levenshtein verify on candidate pairs only. Degenerate positions on
  * empty/short strings can emit junk variants (Spark's `sequence` runs
  * DESCENDING when start > stop); they cost a few spurious candidates, never
  * correctness — the verify filter owns the semantics.
  */
object FuzzyJoin {

  /** All strings reachable from `s` by at most `k` character deletions
    * (including `s` itself), deduplicated. k ∈ {1, 2}. */
  private[operators] def delVariants(s: Column, k: Int): Column = {
    val d1 = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    k match {
      case 1 => array_distinct(concat(array(s), d1))
      case 2 =>
        val d2 = flatten(transform(sequence(lit(1), length(s)), i =>
          transform(sequence(i + 1, length(s)), j =>
            concat(s.substr(lit(1), i - 1),
              s.substr(i + 1, j - i - 1),
              s.substr(j + 1, length(s))))))
        array_distinct(concat(array(s), d1, d2))
    }
  }

  /** Pairs (l_id, r_id, dist) with levenshtein(leftStr, rightStr) ≤ maxDist,
    * computed WITHOUT a nested-loop join. NULL strings never match (SQL
    * join-key semantics: their variant arrays are null, so explode drops the
    * row). maxDist ∈ {1, 2} — the deletion-neighbourhood fan-out is
    * O(len^k); beyond 2 the variant explosion stops paying for itself and a
    * q-gram/PassJoin scheme is the next tier. The same bound motivates
    * `maxLen`: this operator is for SHORT entity strings (names, codes,
    * layer labels); a document-length string would fan out to millions of
    * variant rows, so it raises loudly instead (the LSH maxBucket
    * convention — the guard lives inside the consumed column so pruning
    * cannot drop it). */
  def deletionJoin(left: DataFrame, leftId: Column, leftStr: Column,
                   right: DataFrame, rightId: Column, rightStr: Column,
                   maxDist: Int, maxLen: Int = 64): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletionJoin implements maxDist in {1, 2}")
    require(maxLen > 0, "maxLen must be positive")
    // Guard inverted on purpose: a NULL string makes `length(s) > maxLen`
    // NULL (not true), so NULLs fall through to the pass branch, keep their
    // NULL variants, and explode drops the row — the documented "NULL never
    // matches" contract. The when(cond, pass).otherwise(raise) shape would
    // send NULLs to the raise branch and crash the job.
    def guarded(s: Column): Column =
      when(length(s) > maxLen, raise_error(concat(
        lit(s"deletionJoin: string exceeds maxLen=$maxLen — the " +
          s"O(len^$maxDist) variant fan-out stops paying; key on a " +
          "bounded field or use a q-gram scheme; length = "),
        length(s).cast("string")))).otherwise(s)
    val l = left.select(leftId.as("l_id"), guarded(leftStr).as("l_str"))
      .select(col("l_id"), col("l_str"),
        explode(delVariants(col("l_str"), maxDist)).as("__v"))
    val r = right.select(rightId.as("r_id"), guarded(rightStr).as("r_str"))
      .select(col("r_id"), col("r_str"),
        explode(delVariants(col("r_str"), maxDist)).as("__v"))
    l.join(r, "__v")
      .select(col("l_id"), col("l_str"), col("r_id"), col("r_str"))
      .distinct()
      .select(col("l_id"), col("r_id"),
        levenshtein(col("l_str"), col("r_str"), maxDist).as("dist"))
      .where(col("dist").between(0, maxDist))
  }

  /** Pairs (l_id, r_id, dist) with levenshtein ≤ maxDist for ANY maxDist —
    * the tier above [[deletionJoin]] (whose deletion-neighbourhood fan-out
    * is O(len^k), affordable only for k ≤ 2): positional q-gram signature
    * equi-join + exact levenshtein verify, the classic count-filtering
    * scheme (Gravano et al. 2001, "Approximate String Joins in a Database
    * (Almost) for Free"). The reference's street-name matching runs at
    * distance 5 (ServiceAlertAugmenter.py:163) — this is that tier.
    *
    *   - **gram tier**: a string of length n carries n−q+1 positional
    *     q-grams; k edits destroy at most k·q of them, so whenever the
    *     longer side of a true pair has n−q+1 > k·q, some gram survives in
    *     the other side within position shift ≤ k. Candidates come from an
    *     EQUI-join on (gram, position-band): bands are ⌈(k+1)⌉ wide, the
    *     probe side replicates each gram into its 3 adjacent bands, and a
    *     post-filter keeps |posL−posR| ≤ k and |lenL−lenR| ≤ k.
    *   - **short tier**: strings below the survival threshold q·(k+1) have
    *     no gram guarantee; pairs with BOTH sides short band on candidate
    *     LENGTH instead (each left row probes its 2k+1 compatible lengths)
    *     — bounded fan-out, and the short set is by definition the tail.
    *   - exact `levenshtein ≤ k` verifies every distinct candidate pair
    *     (the signatures only bound the distance; the verify IS the
    *     semantics).
    *
    * Quadratic-risk guard (the LSH maxBucket convention): a join key shared
    * by huge row sets on both sides is a disguised cross join — BOTH tiers
    * count BOTH sides' join-key groups ((gram, band) in the gram tier, the
    * probe side post band-explosion; candidate length in the short tier)
    * and a group past `maxBucket` raises loudly, inside a consumed column
    * so pruning can't drop it. The offending sets are empty in any legal
    * run, so each check is a broadcast left join, never a second shuffle of
    * the gram table. Highly repetitive corpora (shared prefixes,
    * low-entropy keys) should key on a more selective field. NULL strings
    * never match.
    *
    * Saturated-keyspace guard (`maxAvgFanout`): the per-bucket guard above
    * cannot fire on UNIFORM growth — the gram-tier key space is fixed at
    * |Σ|^q × bands (hex names at q=3: ~16k keys), so once the corpus
    * outgrows it every bucket grows together, candidates grow
    * O(n²/keyspace), and no single bucket ever crosses `maxBucket`. Unlike
    * LSH (whose CorpusSized sizing widens its key space with the corpus), q
    * CANNOT be widened here: the count-filter threshold len−q+1−k·q must
    * stay positive, so large k pins q small. The guard therefore
    * pre-estimates TOTAL candidate volume Σ_key |L_key|·|R_key| from the
    * same per-key size aggregates the bucket guard already builds, and
    * raises when it exceeds `maxAvgFanout` candidates per gram row —
    * measured on the entity-like fixture: 0.7 at 1×, 4.6 at 10×, 44 at
    * 100× corpus (the regime where wall went 29× for 10× data), so the
    * default 16 is silent with >3× headroom on legal runs and fires well
    * before a cluster melts. The raise routes to the LINEAR linkage
    * tiers, which this guard exists to hand off to — an auto-dispatch
    * would silently change RESULTS (sorted-neighborhood is a bounded-
    * recall heuristic, not a lev ≤ k join), so refusing loudly is the
    * correct form. The estimate costs no extra scan: both inputs are the
    * bucket-guard aggregates (exchange-reused), outer-joined
    * small-on-small and summed to one row that enters the gram join as a
    * poison union row whose join key IS the raise — evaluated first,
    * unprunable, and free when the bound holds (the branch is empty). */
  def qgramJoin(left: DataFrame, leftId: Column, leftStr: Column,
                right: DataFrame, rightId: Column, rightStr: Column,
                maxDist: Int, q: Int = 2,
                maxBucket: Int = 100000,
                maxAvgFanout: Int = 16): DataFrame = {
    require(maxDist >= 1, "qgramJoin needs maxDist >= 1")
    require(q >= 1, "qgramJoin needs q >= 1")
    require(maxBucket > 0, "maxBucket must be positive")
    require(maxAvgFanout > 0, "maxAvgFanout must be positive")
    val k = maxDist
    val thresh = q * (k + 1)
    val bw = k + 1
    val l = left.select(leftId.as("l_id"), leftStr.as("l_str"))
    val r = right.select(rightId.as("r_id"), rightStr.as("r_str"))

    def gramRows(df: DataFrame, str: String, posCol: String): DataFrame = {
      val s = col(str)
      val n = length(s) - (q - 1)
      // sequence(1, n) runs DESCENDING when n < 1 — generate on the clamped
      // bound, then filter to the valid positions (empty when n < 1)
      val gs = filter(
        transform(sequence(lit(1), greatest(n, lit(1))),
          i => struct(s.substr(i, lit(q)).as("g"), i.as("i"))),
        x => x.getField("i") <= n)
      df.select(col("*"), explode(gs).as("__gr"))
        .select(col("*"), col("__gr.g").as("__g"),
          col("__gr.i").as(posCol)).drop("__gr")
        .withColumn("__band", floor((col(posCol) - 1) / bw))
    }

    val rg = gramRows(r, "r_str", "__ri")
    val lg = gramRows(l, "l_str", "__li")
      .withColumn("__band", explode(array(col("__band") - 1, col("__band"),
        col("__band") + 1)))
    // the guards: (gram, band) group sizes past maxBucket on EITHER side —
    // a hot probe-side gram joined to near-bound indexed groups is the same
    // |L|×|R| candidate blowup as a hot indexed gram, so both sides are
    // counted (left post band-explosion, the fan-out that actually joins).
    // The offending set is EMPTY in any legal run, so it rides a broadcast
    // left join (the old form shuffled every gram row a second time just to
    // carry its group size into the check); the raise still lives inside
    // the consumed join key, so pruning cannot drop it and no candidate can
    // be produced from an oversized group.
    def guardGrams(g: DataFrame, sizes: DataFrame, side: String): DataFrame =
      g.join(broadcast(sizes.where(col("__gsz") > maxBucket)),
          Seq("__g", "__band"), "left")
        .withColumn("__g",
          when(col("__gsz").isNull, col("__g")).otherwise(raise_error(
            concat(lit(s"qgramJoin: $side-side (gram, band) group exceeds " +
              s"maxBucket=$maxBucket — a disguised cross join; key on a more " +
              "selective field or raise maxBucket; group size = "),
              col("__gsz").cast("string")))))
        .drop("__gsz")
    val rSizes = rg.groupBy("__g", "__band").agg(count(lit(1)).as("__gsz"))
    val lSizes = lg.groupBy("__g", "__band").agg(count(lit(1)).as("__gsz"))
    val rGuarded = guardGrams(rg, rSizes, "indexed")
    val lGuarded0 = guardGrams(lg, lSizes, "probe")
    // saturated-keyspace estimate (scaladoc): Σ_key lc·rc over the SAME
    // size aggregates the bucket guards consume (identical subplans →
    // exchange reuse). All three scalars (candidate volume + both gram
    // totals) come out of ONE aggregate over a full-outer key join —
    // never a crossJoin of single-row frames, which plans as the
    // BroadcastNestedLoopJoin the operator's plan lock forbids.
    val volOffender = lSizes.select(col("__g"), col("__band"),
        col("__gsz").as("__lc"))
      .join(rSizes.select(col("__g"), col("__band"), col("__gsz").as("__rc")),
        Seq("__g", "__band"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__lc"), lit(0L)) *
          coalesce(col("__rc"), lit(0L))), lit(0L)).as("__cand"),
        coalesce(sum(coalesce(col("__lc"), lit(0L))), lit(0L)).as("__lt"),
        coalesce(sum(coalesce(col("__rc"), lit(0L))), lit(0L)).as("__rt"))
      .where(col("__cand") >
        lit(maxAvgFanout.toLong) * (col("__lt") + col("__rt")))
    // The 0-or-1-row offender is injected as a POISON UNION ROW, not a
    // join: its `__g` carries the raise (inside a when() on a real column
    // so ConstantFolding cannot detonate it at planning time), every
    // other field is a non-null literal (the inner join's inferred
    // isnotnull filters must never drop the row before `__g` evaluates),
    // and the row enters the gram join as one more probe row — the first
    // thing execution does with it is evaluate the join key, which
    // raises. Empty offender → empty union branch → zero cost.
    val poisonMsg = concat(lit("qgramJoin: estimated candidate volume "),
      col("__cand").cast("string"), lit(" over "),
      (col("__lt") + col("__rt")).cast("string"),
      lit(s" gram rows exceeds maxAvgFanout=$maxAvgFanout — the " +
        "(gram, band) key space is saturated (uniform growth, " +
        "O(n^2/keyspace) candidates; q cannot widen under this " +
        "maxDist). Use a linear tier instead: " +
        "FuzzyJoin.deletionJoin (FastSS, exact for maxDist <= 2), " +
        "Blocking.sortedNeighborhood (bounded-recall heuristic, " +
        "any distance), or key on a more selective field."))
    // Non-null is required for every column that feeds a NULL-INTOLERANT
    // predicate between the union and the raise — InferFiltersFromConstraints
    // derives isnotnull not only from the join keys (__band) but from the
    // post-join filters (abs(__li−__ri) ≤ k → isnotnull(__li);
    // abs(length(l_str)−length(r_str)) ≤ k → isnotnull(l_str)) and pushes
    // those below the union, where a null would drop the poison row before
    // __g ever evaluates (verified: nulling __li/l_str makes GuardSpec's
    // volume fixture pass silently). Only l_id is constraint-free, and
    // l_id is exactly the column with an ARBITRARY user type — a typed
    // NULL there keeps the guard working for id schemas with no INT cast
    // (date, struct, array), where the old lit(0).cast failed analysis
    // on legal joins. l_str is string by the operator's contract
    // (length/substr are applied to it), so lit("") always casts.
    val poison = volOffender.select(lGuarded0.schema.fields.toSeq.map { f =>
      if (f.name == "__g")
        when(col("__cand").isNotNull, raise_error(poisonMsg))
          .cast("string").as("__g")
      else if (f.name == "l_id") lit(null).cast(f.dataType).as(f.name)
      else if (f.name == "l_str") lit("").cast(f.dataType).as(f.name)
      else lit(0).cast(f.dataType).as(f.name)
    }: _*)
    val lGuarded = lGuarded0.unionByName(poison)
    // count filter (Gravano et al.): a true pair at distance ≤ k shares at
    // least max(lenL,lenR) − q + 1 − k·q positional grams (each edit
    // destroys ≤ q of the longer side's grams), so candidate pairs below
    // that count are verified-free rejections — on diverse corpora this
    // kills nearly every accidental single-gram collision before the
    // levenshtein pass. Row counts can only OVERcount matched positions
    // (a gram repeated within the window adds rows), so the bound stays a
    // sound lower bound — no false negatives.
    //
    // The verify is a CASE on the aggregated count, not a separate filter:
    // a plain `levenshtein ≤ k` predicate references only the grouping
    // keys, so predicate pushdown would sink it BELOW this aggregate and
    // verify every raw gram collision (millions) instead of the count-
    // filter survivors (thousands) — the CASE's dependence on `__shared`
    // pins it above the aggregate, and its lazy branches evaluate the
    // levenshtein only for groups that pass the count bound.
    val minShared = greatest(
      greatest(length(col("l_str")), length(col("r_str")))
        - (q - 1) - k * q, lit(1))
    // shuffle_hash, not the planner's choice: both gram tables come out of
    // a Generate, whose output SIZE ESTIMATE is its input's — the planner
    // reads the exploded probe side as table-sized and would happily
    // BROADCAST a billion-gram table at scale (a driver OOM, not a plan).
    // The equi-join keys are fine-grained, so a shuffled hash join is the
    // shape that survives any corpus size.
    val gramVerified = lGuarded.join(rGuarded.hint("shuffle_hash"), Seq("__g", "__band"))
      .where(abs(col("__li") - col("__ri")) <= k)
      .where(abs(length(col("l_str")) - length(col("r_str"))) <= k)
      .groupBy(col("l_id"), col("l_str"), col("r_id"), col("r_str"))
      .agg(count(lit(1)).as("__shared"))
      .select(col("l_id"), col("r_id"),
        when(col("__shared") >= minShared,
          levenshtein(col("l_str"), col("r_str"), k))
          .otherwise(lit(-1)).as("dist"))
      .where(col("dist").between(0, k))

    // short tier: both sides under the survival threshold, banded on
    // length; the verify rides the join condition (the tier is the tail).
    // The join key has at most q·(k+1)−1 distinct values, so a corpus
    // DOMINATED by short strings makes every length key hot — a disguised
    // cross join concentrated on a handful of reducers. Unlike its
    // siblings this used to degrade silently; now both sides' per-length
    // groups are counted against maxBucket with the same broadcast-
    // offenders + raise-inside-the-consumed-key idiom as the gram tier
    // (the intended workloads keep the short set a tail, so the offending
    // sets are empty and the guard costs two tiny broadcasts).
    val ls = l.where(length(col("l_str")) < thresh)
      .withColumn("__len", explode(transform(
        sequence(lit(-k), lit(k)), d => length(col("l_str")) + d)))
    val rs = r.where(length(col("r_str")) < thresh)
      .withColumn("__len", length(col("r_str")))
    def guardShort(g: DataFrame, side: String): DataFrame =
      g.join(broadcast(g.groupBy("__len").agg(count(lit(1)).as("__ssz"))
          .where(col("__ssz") > maxBucket)), Seq("__len"), "left")
        .withColumn("__len",
          when(col("__ssz").isNull, col("__len")).otherwise(raise_error(
            concat(lit(s"qgramJoin: $side-side short-tier length group " +
              s"exceeds maxBucket=$maxBucket — a disguised cross join on a " +
              "short-string corpus; key on a more selective field or raise " +
              "maxBucket; group size = "), col("__ssz").cast("string")))))
        .drop("__ssz")
    val shortVerified = guardShort(ls, "probe")
      .join(guardShort(rs, "indexed").hint("shuffle_hash"), Seq("__len"))
      .select(col("l_id"), col("r_id"),
        levenshtein(col("l_str"), col("r_str"), k).as("dist"))
      .where(col("dist").between(0, k))

    // a pair with both sides short can surface in BOTH tiers (same dist);
    // distinct over the final triple dedups the overlap
    gramVerified.unionByName(shortVerified).distinct()
  }

  /** LEFT top-1 fuzzy match — the Op-35 / geocode-cascade step as a
    * dispatchable operator: every left row picks the right row with the
    * smallest (levenshtein ≤ maxDist, right string) pair; unmatched left
    * rows survive null-extended. Output: all left columns ++ all right
    * columns (names must not collide).
    *
    * `broadcastRight` is a PLAN knob, never a semantics knob, and it
    * DEFAULTS from the data:
    * `None` sizes the right side's optimized-plan estimate against the
    * session's `autoBroadcastJoinThreshold` — the same gate the planner
    * applies to ordinary joins — so a naive call on a large layer gets the
    * distributed FastSS/q-gram form automatically instead of an
    * over-threshold broadcast nested-loop (|left| × |right| levenshtein
    * calls, and a driver OOM before that). `Some(true)` forces the classic
    * broadcast nested-loop `levenshtein ≤ k` join — right for a GIS
    * layer's few hundred names; `Some(false)` routes candidate generation
    * through
    * [[deletionJoin]]'s FastSS equi-join — the form that survives a LARGE
    * right side, where a broadcast nested-loop is |left| × |right|
    * levenshtein calls (and past the broadcast threshold, not even
    * plannable). At `maxDist ≥ 3` the non-broadcast form dispatches to
    * [[qgramJoin]] (the deletion fan-out stops paying) — the reference's
    * distance-5 street matching in its scale form. Both forms are
    * output-identical (spec-locked) for ALL
    * inputs, including strings past `maxLen`: where [[deletionJoin]] raises
    * on an over-long string (its variant fan-out contract), this operator
    * instead scores the long TAIL — every string longer than
    * `maxLen - maxDist`, i.e. every possible partner of an over-long
    * string under the levenshtein length bound — through a banded
    * equi-join on candidate lengths (each tail row fans out to the
    * 2·maxDist+1 partner lengths; exact levenshtein verifies). Long
    * strings are contract outliers, so the tail is tiny and the
    * per-length keys stay cheap; a corpus that is MOSTLY over-long
    * strings of one length would make that key hot, and belongs on the
    * q-gram tier instead.
    *
    * Contract: `leftIdCol` unique per left row (it keys the per-row argmin)
    * and `rightStrCol` unique per right row (it keys the join-back; a
    * duplicated right string would be ambiguous under the (dist, string)
    * tie-break in either form). */
  def topOneLeft(left: DataFrame, leftIdCol: String, leftStrCol: String,
                 right: DataFrame, rightStrCol: String, maxDist: Int,
                 broadcastRight: Option[Boolean] = None,
                 maxLen: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lcols = left.columns.toSeq
    val rcols = right.columns.toSeq
    require(!rcols.exists(lcols.contains),
      s"topOneLeft: colliding columns ${rcols.filter(lcols.contains)}; rename first")
    val out = (lcols ++ rcols).map(col)
    val useBroadcast = broadcastRight.getOrElse {
      // size-gated dispatch: the planner's own broadcast gate, applied to
      // the right side's estimate. Threshold ≤ 0 (broadcasts disabled)
      // always takes the distributed form.
      val threshold = org.apache.spark.sql.graftbridge.ConfBridge
        .autoBroadcastThreshold(right.sparkSession)
      threshold > 0 &&
        right.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    }
    if (useBroadcast) {
      // threshold form: banded O(k·n) DP per pair instead of O(n²), and
      // -1 (past the band) can never satisfy the between
      val lev = levenshtein(col(leftStrCol), col(rightStrCol), maxDist)
      val w = Window.partitionBy(col(leftIdCol)).orderBy(lev, col(rightStrCol))
      left.join(broadcast(right), lev.between(0, maxDist), "left")
        .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(out: _*)
    } else if (maxDist > 2) {
      // distances past the deletion tier route through the q-gram tier —
      // the reference's distance-5 street matching runs here
      val cand = qgramJoin(left, col(leftIdCol), col(leftStrCol),
        right, col(rightStrCol), col(rightStrCol), maxDist)
      val w = Window.partitionBy(col("l_id")).orderBy(col("dist"), col("r_id"))
      val best = cand.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("l_id"), col("r_id"))
      left.join(best, col(leftIdCol) === col("l_id"), "left")
        .join(right, col("r_id") === col(rightStrCol), "left")
        .select(out: _*)
    } else {
      // main mass: FastSS over the strings inside the deletionJoin contract
      val main = deletionJoin(
        left.where(length(col(leftStrCol)) <= maxLen),
        col(leftIdCol), col(leftStrCol),
        right.where(length(col(rightStrCol)) <= maxLen),
        col(rightStrCol), col(rightStrCol), maxDist, maxLen)
      // long tail: pairs with an over-long member. levenshtein ≥ length
      // difference, so every partner of a >maxLen string is itself longer
      // than maxLen − maxDist; band those rows on candidate length (an
      // equi-join — each left tail row probes the 2·maxDist+1 lengths a
      // partner could have) and verify exactly. The both-≤maxLen pairs the
      // main mass already found are excluded to keep the union duplicate-
      // free. NULL strings: length(NULL) is NULL, both filters drop them —
      // the "NULL never matches" contract again.
      val tailL = left
        .where(length(col(leftStrCol)) > maxLen - maxDist)
        .select(col(leftIdCol).as("l_id"), col(leftStrCol).as("l_str"),
          explode(sequence(length(col(leftStrCol)) - maxDist,
            length(col(leftStrCol)) + maxDist)).as("__len"))
      val tailR = right
        .where(length(col(rightStrCol)) > maxLen - maxDist)
        .select(col(rightStrCol).as("r_id"), col(rightStrCol).as("r_str"))
      val tail = tailL
        .join(tailR, col("__len") === length(col("r_str")) &&
          (length(col("l_str")) > maxLen || length(col("r_str")) > maxLen))
        .select(col("l_id"), col("r_id"),
          levenshtein(col("l_str"), col("r_str"), maxDist).as("dist"))
        .where(col("dist").between(0, maxDist))
      val cand = main.unionByName(tail)
      val w = Window.partitionBy(col("l_id")).orderBy(col("dist"), col("r_id"))
      val best = cand.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("l_id"), col("r_id"))
      left.join(best, col(leftIdCol) === col("l_id"), "left")
        .join(right, col("r_id") === col(rightStrCol), "left")
        .select(out: _*)
    }
  }
}
