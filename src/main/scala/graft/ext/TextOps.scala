package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators for large-scale training-data curation:
  * normalisation, tokenisation, shingling, language-ID, quality scoring,
  * token counting and document fingerprinting.
  *
  * Everything here is pure Catalyst expressions (codegen'd, no UDFs), so the
  * same column definitions run unchanged on a 1000-executor cluster: the only
  * shuffles are the explicit groupBys, and every scalar op stays inside
  * whole-stage codegen next to the parquet scan.
  */
object TextOps {

  /** Lowercase, strip non-alphanumerics, split on whitespace, drop empties.
    * The canonical token stream every downstream op shares.
    *
    * Deliberately lambda-free: higher-order filter() runs interpreted
    * per-element (~ms/row); collapsing separators with one regex and
    * splitting on a single space keeps the whole thing inside codegen.
    * The empty-document guard is array_remove (split of "" yields [""]),
    * NOT a CASE WHEN re-testing the normalised string — the CASE form
    * evaluates the regex chain twice per call, and the chain is the
    * engine's single hottest expression. */
  def tokens(text: Column): Column =
    array_remove(
      split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " "), "")

  /** Unicode tokenizer — the MULTILINGUAL corpus path. [[tokens]] deletes
    * every character outside [a-z0-9], so all non-Latin text dies before
    * any downstream operator sees it; this form keeps it: NFC-normalize
    * first (precomposed U+00E9 and decomposed e+U+0301 unify BEFORE any
    * hash/dedup/count), lowercase, then split on anything outside the
    * Unicode letter/number property classes. `\p{L}\p{N}` are
    * RE2-compatible, so the DuckDB oracle runs the IDENTICAL class regex;
    * the case step is the locale-independent Unicode simple mapping in
    * both engines for everything that flows here (Cyrillic/CJK/Latin
    * accents — no Turkish-dotted-I-style locale forms are produced by
    * either side's default path).
    *
    * Same codegen discipline as [[tokens]] (single regex pass, lambda-
    * free); NFC is the native [[graft.functions.NfcNormalize]] whose
    * already-normalized fast path makes the extra pass a cheap scan on
    * real corpora. */
  def tokensUnicode(text: Column): Column =
    array_remove(
      split(trim(regexp_replace(lower(
        graft.functions.TextFunctions.nfcNormalize(text)),
        "[^\\p{L}\\p{N}]+", " ")), " "), "")

  /** `cols` plus the token array as `name`, with the tokenizer evaluated
    * EXACTLY once per row: a one-element-explode barrier keeps the chain
    * out of optimizer-substituted filters — PushDownPredicates inlines
    * aliases into filter conditions with no cost guard, and the generator
    * guards inferred for a downstream explode (isnotnull, size > 0) would
    * otherwise re-derive the chain 2-3× per scanned row. Use for any frame
    * whose token column feeds an explode or a filtered derivation
    * (PlanSpec's tokenize-once rule). `tokenizer` selects the token
    * stream ([[tokens]] — the ASCII fixture contract — by default;
    * [[tokensUnicode]] for multilingual corpora). */
  def withTokens(df: DataFrame, cols: Seq[Column], text: Column,
                 name: String = "__tk",
                 tokenizer: Column => Column = tokens): DataFrame =
    df.select((cols :+ explode(array(tokenizer(text))).as(name)): _*)

  /** Word k-shingles ("n-grams of tokens") as space-joined strings, built by
    * direct element indexing over a pre-materialised token array (a slice()
    * over an inlined tokens expression re-tokenises the text once per
    * position — O(n²) per row). Documents shorter than k yield []. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => toks(i + (o - 1))): _*)))
      .otherwise(array().cast("array<string>"))

  /** (doc key, shingle) pairs, distinct per document. The token array is
    * materialised in its own projection so Catalyst does not inline (and
    * thus re-evaluate) the tokeniser at every shingle position. */
  def explodeShingles(df: DataFrame, key: Column, text: Column, k: Int,
                      tokenizer: Column => Column = tokens): DataFrame =
    withTokens(df, Seq(key.as("doc_id")), text, "__toks", tokenizer)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("__toks"), k))).as("shingle"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003): hash every
    * k-shingle, slide a window of `w` consecutive hashes, and keep each
    * window's rightmost-minimal hash. Guarantees that any shared token run
    * of length ≥ w + k - 1 yields at least one shared fingerprint — the
    * standard document-fingerprint scheme for plagiarism/near-dup detection,
    * here as one explode + one window + one aggregation (the "rolling" part
    * of the classic rolling hash is an O(1)-update trick for sequential
    * CPUs; in a columnar engine every shingle hashes independently).
    *
    * Portability: the window minimum is taken over an INTEGER encoding
    * `hash * 2^17 + (2^17-1 - pos)` — smallest hash wins, ties to the
    * rightmost position — so engines agree bit-for-bit without float or
    * struct ordering. Positions must stay below 2^17 (131k tokens/doc). */
  /** The selected winnowing hashes as (doc_id, fph) rows — the join-able
    * form (two documents near-duplicate when their selected sets overlap
    * heavily; the guarantee tests use this directly). */
  def winnowSelected(df: DataFrame, key: Column, text: Column,
                     k: Int, w: Int): DataFrame = {
    val M = 1L << 17
    val sh = withTokens(df, Seq(key.as("doc_id")), text, "__toks")
      .select(col("doc_id"), posexplode(shingles(col("__toks"), k)).as(Seq("pos", "sh")))
    val h = conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long")
    // the position term must stay below M or the encoding borrows from the
    // hash bits (fingerprints silently decode to hash-1 — and the oracle,
    // sharing the formula, would AGREE with the corruption); guard inside
    // the consumed column so pruning can't drop it
    val enc = when(col("pos") < M, h * M + (lit(M - 1) - col("pos")))
      .otherwise(raise_error(concat(
        lit(s"winnow: shingle position exceeds ${M - 1} (doc too long for " +
          "the 17-bit position encoding); split the document or widen M: pos="),
        col("pos").cast("string"))))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    sh.select(col("doc_id"), col("pos"), enc.as("__enc"))
      .withColumn("__n", count(lit(1)).over(frame))   // complete windows only
      .withColumn("__min", min(col("__enc")).over(frame))
      .where(col("__n") === w)
      .select(col("doc_id"), expr(s"__min div $M").as("fph"))
      .distinct()
  }

  def winnow(df: DataFrame, key: Column, text: Column,
             k: Int, w: Int): DataFrame =
    winnowSelected(df, key, text, k, w).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_fp"),
      md5(concat_ws(",", array_sort(collect_list(col("fph"))))).as("fp_digest"))

  /** Whitespace token count plus a BPE-ish subword estimate
    * (ceil(len/4) pieces per token — the usual ~4-chars-per-token rule). */
  /** Fixed-size token chunking with overlap — the context-window splitter
    * every RAG / training-data pipeline needs: document tokens cut into
    * windows of `size` tokens starting every `stride` tokens
    * (`stride < size` ⇒ consecutive chunks overlap by `size - stride`).
    * Chunk starts are 0, stride, 2·stride, … up to the last start that
    * still adds NEW tokens (so the final chunk may be short but is never
    * redundant); a document shorter than `size` yields exactly one chunk;
    * a token-less document yields none.
    *
    * Purely map-side: one `transform` over the token array then one
    * explode — no shuffle at any size, which is what makes chunking free
    * at 100 TB (it pipelines into whatever aggregation or embedding stage
    * follows). Emits (doc_id, chunk_id, chunk text, n_tokens). */
  def chunkTokens(df: DataFrame, key: Column, text: Column,
                  size: Int, stride: Int): DataFrame = {
    require(size > 0, "size must be positive")
    require(stride > 0 && stride <= size,
      s"stride must be in [1, size], got $stride")
    // tokenize ONCE into a named column: the chunk transform references
    // the array four times (count, filter, slice, tail-length), and each
    // inline tokens(text) would re-run the regex chain per reference —
    // codegen does NOT common-subexpression-eliminate inside generators
    // (measured 7× on skipgramPairs)
    val toks = col("__tk")
    val n = org.apache.spark.sql.functions.size(toks)
    val nChunks = when(n <= 0, lit(0)).otherwise(
      lit(1) + ceil(greatest(n - size, lit(0)).cast("double") / stride)
        .cast("int"))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => struct(
        i.as("chunk_id"),
        concat_ws(" ", slice(toks, i * stride + 1, lit(size))).as("chunk"),
        least(n - i * stride, lit(size)).as("n_tokens")))
    // withTokens (explode-barrier), NOT a bare tokens(text) projection: the
    // n > 0 filter below would otherwise be alias-substituted into a
    // scan-side Filter by PushDownPredicates (no cost guard), re-running
    // the tokenizer chain a second time per scanned row
    withTokens(df, Seq(key.as("doc_id")), text)
      .where(n > 0)
      .select(col("doc_id"), explode(chunks).as("__c"))
      .select(col("doc_id"), col("__c.chunk_id").as("chunk_id"),
        col("__c.chunk").as("chunk"),
        col("__c.n_tokens").cast("long").as("n_tokens"))
  }

  /** Content-defined chunking (the FastCDC/rsync idea lifted to token
    * streams): a chunk boundary falls AFTER token i when the md5 of the
    * k-token shingle ending at i hits `0 mod divisor` — boundaries are
    * decided by CONTENT, not position, so inserting or deleting a token
    * shifts only the chunk containing the edit and its immediate
    * neighbour; every later chunk keeps its exact text and digest (the
    * property fixed-stride [[chunkTokens]] fundamentally lacks: one
    * leading insertion re-digests the whole document). That makes
    * chunk-level dedup robust to boilerplate prefixes, added headers, and
    * small edits — the shift-resistant complement to x_chunk_dedup.
    * `maxLen` force-splits pathological gap runs (expected chunk length is
    * `divisor` tokens, tail geometric), so chunk size is bounded on ANY
    * input. Output: (doc_id, chunk_id, start_tok, n_tokens, chunk_md5).
    *
    * All decisions are integer (md5 window mod divisor) — the oracle
    * replays boundaries exactly; the sequential start-selection fold runs
    * IN-ROW over the token positions (tokenize-once barrier, zero
    * shuffles, map-only at any corpus size). */
  def cdcChunks(df: DataFrame, key: Column, text: Column, k: Int,
                divisor: Int, maxLen: Int,
                tokenizer: Column => Column = tokens): DataFrame =
    cdcChunksKeys(df, Seq("doc_id" -> key), text, k, divisor, maxLen,
      tokenizer)

  /** [[cdcChunks]] with several key columns carried through as TOP-LEVEL
    * attributes instead of one `doc_id`. Identical boundaries and digests;
    * the point of the shape is metadata survival — a bare attribute
    * selected by name keeps its column metadata (notably the event-time
    * watermark tag), while the struct(id, ts) round-trip the streaming
    * caller would otherwise use strips it (Alias over GetStructField
    * drops metadata), which breaks chaining a watermarked dedup after a
    * stateful operator. Output: (keys…, chunk_id, start_tok, n_tokens,
    * chunk_md5). */
  def cdcChunksKeys(df: DataFrame, keys: Seq[(String, Column)], text: Column,
                    k: Int, divisor: Int, maxLen: Int,
                    tokenizer: Column => Column = tokens): DataFrame =
    cdcStructRows(df, keys, text, k, divisor, maxLen, tokenizer)
      .select(keys.map(kv => col(kv._1)) ++ Seq(col("chunk_id"),
        col("__c.s").as("start_tok"),
        col("__c.len").cast("long").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("__tk2"), col("__c.s"), col("__c.len"))))
          .as("chunk_md5")): _*)

  /** The chunk TEXT form of [[cdcChunks]] — (doc_id, chunk_idx, chunk),
    * the input shape [[RepetitionOps]]'s dedup machinery consumes; same
    * boundaries (shared derivation), chunk = space-joined token slice, so
    * md5(chunk) equals [[cdcChunks]]'s chunk_md5 row for row. */
  def cdcChunkRows(df: DataFrame, key: Column, text: Column, k: Int,
                   divisor: Int, maxLen: Int,
                   tokenizer: Column => Column = tokens): DataFrame =
    cdcStructRows(df, Seq("doc_id" -> key), text, k, divisor, maxLen,
        tokenizer)
      .select(col("doc_id"), col("chunk_id").as("chunk_idx"),
        concat_ws(" ",
          slice(col("__tk2"), col("__c.s"), col("__c.len"))).as("chunk"))

  /** Shared CDC derivation: (keys…, chunk_id, __c = (s, len), __tk2). */
  private def cdcStructRows(df: DataFrame, keys: Seq[(String, Column)],
                            text: Column, k: Int,
                            divisor: Int, maxLen: Int,
                            tokenizer: Column => Column = tokens): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(divisor >= 2, "divisor must be >= 2")
    require(maxLen >= 2, "maxLen must be >= 2 (1 degenerates to one-token chunks)")
    val toks = col("__tk")
    val n = org.apache.spark.sql.functions.size(toks)
    // gate(i) for 1-based position i: md5 of the k-shingle ENDING at i
    // hits 0 mod divisor (positions < k never gate — no window yet)
    def gate(i: Column): Column =
      i >= k && conv(substring(md5(concat_ws(" ",
        slice(toks, i - (k - 1), lit(k)))), 1, 8), 16, 10)
        .cast("long") % divisor === 0
    // sequential start selection: a new chunk starts after a gate hit or a
    // forced maxLen split, never past the last token
    val starts = aggregate(
      sequence(lit(1), greatest(n - 1, lit(1))),
      array(lit(1)),
      (st, i) => when(n >= 2 && (gate(i) || i - element_at(st, -1) + 1 >= maxLen),
        concat(st, array(i + 1))).otherwise(st))
    val keep = keys.map(kv => col(kv._1))
    withTokens(df, keys.map(kv => kv._2.as(kv._1)), text,
        tokenizer = tokenizer)
      .where(n > 0)
      .select(keep ++ Seq(toks, starts.as("__starts")): _*)
      .select(keep ++ Seq(
        posexplode(zip_with(col("__starts"),
          concat(slice(col("__starts"), lit(2),
            greatest(org.apache.spark.sql.functions.size(col("__starts")) - 1,
              lit(0))), array(n + 1)),
          (s, e) => struct(s.as("s"), (e - s).as("len"))))
          .as(Seq("chunk_id", "__c")),
        toks.as("__tk2")): _*)
  }

  /** Skip-gram training pairs (word2vec data prep): for every token, emit
    * (center, context, dist) for each context token within `window`
    * positions FORWARD; symmetric pairs come from the caller reading both
    * orientations (each unordered co-occurrence appears exactly once, so
    * the table is half the naive size and a swap reproduces the rest).
    * Pairs are built IN-ROW (nested transform over the token array — the
    * [[graft.ext.SimilarityOps.covarianceMatrix]] shape) and exploded:
    * zero joins, zero shuffles; the output is a map-side stream ready to
    * feed negative-sampling batches. */
  def skipgramPairs(df: DataFrame, key: Column, text: Column,
                    window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // tokenize ONCE into a named column — the nested transform references
    // the array twice, and an inline tokens(text) would expand (and absent
    // codegen subexpression elimination, evaluate) the regex chain twice
    val toks = col("__tk")
    val pairs = flatten(transform(toks, (w, i) =>
      transform(slice(toks, i + 2, lit(window)), (c, j) =>
        struct(w.as("center"), c.as("context"), (j + 1).as("dist")))))
    df.select(key.as("doc_id"), tokens(text).as("__tk"))
      .select(col("doc_id"), explode(pairs).as("__p"))
      .select(col("doc_id"), col("__p.center").as("center"),
        col("__p.context").as("context"), col("__p.dist").as("dist"))
  }

  /** GloVe-style windowed co-occurrence counts: X_ab = Σ 1/dist over all
    * co-occurrences of the unordered pair {a, b} within `window` positions
    * (the distance-weighted count GloVe factorises). Pairs are canonically
    * ordered (a ≤ b) so each unordered pair is ONE row. In-row pair
    * construction + one partial-aggregated shuffle on (a, b) — the
    * vocabulary²-bounded aggregate, never a positional self-join of the
    * exploded corpus (that's the oracle's job). Weight rounded to 6 dp
    * (sums of positive 1/d terms — no cancellation). */
  def coOccurrence(df: DataFrame, text: Column, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val toks = col("__tk") // tokenize once ([[skipgramPairs]] rationale)
    val pairs = flatten(transform(toks, (w, i) =>
      transform(slice(toks, i + 2, lit(window)), (c, j) =>
        struct(least(w, c).as("a"), greatest(w, c).as("b"),
          (lit(1.0) / (j + 1).cast("double")).as("w")))))
    df.select(tokens(text).as("__tk"))
      .select(explode(pairs).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("n_cooc"), round(sum(col("__p.w")), 6).as("x_ab"))
  }

  /** Deterministic word2vec negative sampling: `k` negatives per skip-gram
    * pair, drawn from the unigram^0.75 distribution (Mikolov's smoothing)
    * by md5-uniform inversion — slot s reads 32-bit window s mod 4 of
    * digest md5(center:context:dist:⌊s/4⌋), and u = window/2³² · Z lands
    * in a token's cumulative-weight interval [lo, hi). Output:
    * (doc_id, center, context, dist, slot, negative) — float-free, so the
    * cross-engine hash compare is exact.
    *
    * Engine-portability: the 0.75 power is computed as sqrt(sqrt(c³)) —
    * IEEE sqrt is correctly rounded in every engine while pow() is not —
    * then QUANTIZED to an integer weight round(w·2¹⁶) (the
    * [[CorpusOps.weightedBernoulli]] integer-exact convention): integer
    * addition is associative, so the cumulative boundaries are
    * bit-identical in Spark and the oracle NO MATTER how the sum is
    * associated or partitioned. The 2¹⁶ scale keeps 4-decimal fidelity to
    * the smooth distribution while bounding the total: even a 10¹²-token
    * corpus concentrated on one type gives Σw·2¹⁶ ≈ 10¹⁴ ≪ 2⁶³.
    *
    * Scale shape: the interval lookup is NOT a nested-loop range join —
    * each vocab interval explodes to the integer buckets it covers
    * (≤ V + nBuckets rows total) and each probe computes its bucket
    * map-side, so the lookup is a plain equi-join on the bucket id with
    * the range filter above it (the as-of family's bucketized-rewrite
    * pattern). The cumulative sum over the vocabulary runs through
    * [[ScanOps.cumSum]] — the two-level scan (per-prefix-bucket windows +
    * broadcast offsets; order-monotone 2-char-prefix buckets), so there is
    * NO single-partition WindowExec at ANY vocabulary size (PlanSpec-
    * locked); integer weights make the two-level association identical to
    * the sequential scan the oracle replays. */
  def negativeSamples(df: DataFrame, key: Column, text: Column,
                      window: Int, k: Int, nBuckets: Int = 256): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(k >= 1, "k must be >= 1")
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val vocab = withTokens(df, Seq.empty, text)
      .select(explode(col("__tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val w = round(sqrt(sqrt((col("__c") * col("__c") * col("__c"))
      .cast("double"))) * lit(65536.0), 0).cast("long")
    // lexicographically monotone bucket: the token's 2-char prefix over
    // the tokenizer's [a-z0-9] alphabet (alphabet string is in ascending
    // char order, so instr position order == character order; a missing
    // 2nd char maps to 1 — instr(alpha, '') is 1 in Spark — TIED with a
    // literal '0' second char, which keeps the bucket non-decreasing in
    // token order because "a" < "a0" ≤ every other "a?" token; nothing
    // may assume idx 0 marks "no 2nd char").
    val alpha = "0123456789abcdefghijklmnopqrstuvwxyz"
    def idx(i: Int) = instr(lit(alpha), substring(col("negative"), i, 1))
    val cum = ScanOps.cumSum(
        vocab.select(col("tok").as("negative"), w.as("__w")),
        order = col("negative"), descending = false,
        bucket = idx(1) * 37 + idx(2), nBuckets = 37 * 37,
        values = Seq("__w" -> "__hi"))
      .select(col("negative"), (col("__hi") - col("__w")).cast("double")
        .as("__lo"), col("__hi").cast("double").as("__hi"))
    val z = cum.agg(max("__hi").as("__z"))
    def width = col("__z") / lit(nBuckets.toDouble)
    val cumB = cum.crossJoin(broadcast(z))
      .select(col("negative"), col("__lo"), col("__hi"),
        explode(sequence(floor(col("__lo") / width).cast("long"),
          floor(col("__hi") / width).cast("long"))).as("__b"))
    // one md5 serves FOUR slots: the digest is 32 hex chars = four
    // independent 32-bit windows, so slot s reads window s%4 of digest
    // batch s/4 — a 4× cut in the dominant per-probe hashing cost. The
    // digests are NAMED columns (md5 referenced once per batch;
    // CollapseProject's non-cheap multi-reference guard keeps them from
    // being re-inlined into the slot structs).
    val nBatches = (k + 3) / 4
    val mdCols = (0 until nBatches).map(b =>
      md5(concat_ws(":", col("center"), col("context"), col("dist"),
        lit(b))).as(s"__h$b"))
    val slotStructs = (0 until k).map { s =>
      struct(lit(s).as("slot"),
        conv(substring(col(s"__h${s / 4}"), 1 + 8 * (s % 4), 8), 16, 10)
          .cast("double").as("hv"))
    }
    val probes = skipgramPairs(df, key, text, window)
      .select(col("*") +: mdCols: _*)
      .select(col("doc_id"), col("center"), col("context"), col("dist"),
        explode(array(slotStructs: _*)).as("__s"))
      .crossJoin(broadcast(z))
      .select(col("doc_id"), col("center"), col("context"), col("dist"),
        col("__s.slot").as("slot"),
        (col("__s.hv") / lit(4294967296.0) * col("__z")).as("__u"),
        col("__z"))
      .withColumn("__b", floor(col("__u") / width).cast("long"))
    probes.join(cumB, Seq("__b"))
      .where(col("__u") >= col("__lo") && col("__u") < col("__hi"))
      .select(col("doc_id"), col("center"), col("context"), col("dist"),
        col("slot"), col("negative"))
  }

  /** The fixture subword piece vocabulary for [[bpeEncodeTokens]] /
    * [[subwordCounts]]: every [a-z0-9] single character (so segmentation
    * of the [[tokens]] stream is total without the fallback) plus a
    * frequency-ordered set of English character merges — the flattened
    * form of a small merge table. Plain data: swap in a real tokenizer's
    * piece list (32k entries) without touching code; the per-row cost is
    * vocabulary-size-independent (hash probes). Shared verbatim with the
    * DuckDB oracle's VALUES vocabulary, which re-implements the greedy
    * longest-match rule independently as a recursive CTE. */
  val defaultBpeVocab: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) ++ Seq(
      "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
      "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
      "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
      "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch",
      "ll", "be", "ma", "si", "om", "ur",
      "the", "ing", "and", "ion", "ent", "for", "tio", "ere", "ter",
      "est", "ers", "ati", "hat", "ate", "all", "eth", "hes", "ver",
      "his", "con",
      "tion", "atio", "ment", "ther", "ight")

  /** Subword segmentation of the whole token stream — the corpus form of
    * [[graft.functions.BpeEncode]]: (doc_id, tp, pp, piece) with tp the
    * token position and pp the piece position within the token.
    * Map-side only (tokenize-once barrier, two generates, the native
    * greedy-match expression per token) — no shuffle at any corpus size;
    * the vocabulary rides the plan as a constant. */
  def bpeEncodeTokens(df: DataFrame, key: Column, text: Column,
                      vocab: Seq[String] = defaultBpeVocab): DataFrame =
    withTokens(df, Seq(key.as("doc_id")), text)
      .select(col("doc_id"), posexplode(col("__tk")).as(Seq("tp", "tok")))
      .select(col("doc_id"), col("tp"),
        posexplode(graft.functions.TextFunctions.bpeEncode(col("tok"), vocab))
          .as(Seq("pp", "piece")))

  /** BPE merge-table LEARNING (Sennrich et al. 2016, word-frequency form):
    * iteratively merge the most frequent adjacent symbol pair, `nMerges`
    * rounds, starting from single characters. Ties break to the
    * lexicographically smallest (left, right) so the table is
    * deterministic on any engine/partitioning. Output:
    * (rank, left, right, merged, pair_count) — the merge table whose
    * flattened piece set feeds [[graft.functions.BpeEncode]] /
    * [[subwordCounts]] (learn → encode → count → pack, all in-engine).
    *
    * Scale shape — the corpus collapses ONCE: pass 1 aggregates the corpus
    * to WORD TYPES with frequencies (one partial-aggregated shuffle; the
    * word-type table is vocabulary-bounded, not corpus-bounded), and every
    * round after that runs on that bounded frame — adjacent pairs are
    * built IN-ROW (zip_with of the symbol array with its own tail, the
    * [[skipgramPairs]] shape), one partial-aggregated count per round, a
    * 1-ROW collect for the argmax (the pageRank scalar class), and the
    * merge applied as an in-row left-to-right fold with the classic skip
    * semantics ("aaa" + (a,a) → [aa, a]). Per-round localCheckpoint
    * truncates lineage (the [[graft.ext.GraphOps]] discipline).
    *
    * Spec-locked (BpeSpec: independent in-JVM reference over hand + real
    * corpora), not oracle-declared: the per-round argmax-then-rewrite
    * recurrence has no portable SQL form — each round's rewrite pattern
    * is a data-dependent aggregate over the previous round's output
    * (applying a KNOWN table is expressible — x_bpe_merge_encode's
    * delimited-replace oracle — but the argmax chain is not; unrolling it
    * per word is a second engine, not an oracle). */
  def bpeLearnMerges(df: DataFrame, text: Column, nMerges: Int): DataFrame =
    bpeLearnMerges(df, text, nMerges, (_, _) => ())

  /** [[bpeLearnMerges]] with a per-round instrumentation hook
    * `(rank, nanos)` — the BpeScaleProbe evidence that per-round cost
    * stays FLAT to vocabulary scale (thousands of merges): each round is
    * one bounded-frame aggregate + a 1-row collect + an in-row rewrite,
    * and the eager localCheckpoint keeps round N's plan the same size as
    * round 1's. */
  def bpeLearnMerges(df: DataFrame, text: Column, nMerges: Int,
                     roundHook: (Int, Long) => Unit): DataFrame = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var words = withTokens(df, Seq.empty, text)
      .select(explode(col("__tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(filter(split(col("w"), ""), c => c =!= "").as("syms"), col("n"))
      .localCheckpoint(true)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val t0 = System.nanoTime()
      val nsyms = org.apache.spark.sql.functions.size(col("syms"))
      val top = words
        .where(nsyms >= 2)
        .select(col("n"), explode(zip_with(
          slice(col("syms"), lit(1), nsyms - 1),
          slice(col("syms"), lit(2), nsyms - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .select(col("a").cast("string"), col("b").cast("string"),
          col("cnt").cast("long"))
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = top.head
        merges += ((rank, a, b, a + b, cnt))
        words = words
          .select(mergePair(col("syms"), a, b).as("syms"), col("n"))
          .localCheckpoint(true)
        roundHook(rank, System.nanoTime() - t0)
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** One BPE merge applied to a symbol array, left-to-right with the
    * classic skip: a matched (a, b) consumes BOTH symbols, so "aaa" with
    * (a, a) yields [aa, a], never [aa, aa]. In-row fold (aggregate over
    * positions carrying (acc, skip)); single-symbol rows pass through
    * untouched (also dodges sequence(1, 0)'s descending surprise).
    *
    * `a`/`b` are COLUMNS so the fold also runs with the merge pair bound
    * to a lambda variable (the [[bpeApplyMerges]] rank loop) — `syms` may
    * likewise be a lambda variable, in which case its multiple references
    * here are variable reads, not expression re-derivations. */
  private def applyMerge(syms: Column, a: Column, b: Column): Column = {
    val folded = aggregate(
      sequence(lit(1), org.apache.spark.sql.functions.size(syms)),
      struct(array().cast("array<string>").as("acc"), lit(false).as("skip")),
      (st, i) => {
        val cur = element_at(syms, i)
        val nxt = element_at(syms, i + 1) // null past the end: === is false
        when(st.getField("skip"),
          struct(st.getField("acc").as("acc"), lit(false).as("skip")))
          .otherwise(when(cur === a && nxt === b,
            struct(concat(st.getField("acc"), array(concat(a, b))).as("acc"),
              lit(true).as("skip")))
            .otherwise(
              struct(concat(st.getField("acc"), array(cur)).as("acc"),
                lit(false).as("skip"))))
      },
      st => st.getField("acc"))
    when(org.apache.spark.sql.functions.size(syms) <= 1, syms).otherwise(folded)
  }

  private def mergePair(syms: Column, a: String, b: String): Column =
    applyMerge(syms, lit(a), lit(b))

  /** The fixture RANKED merge table for [[bpeApplyMerges]] — the
    * learned-table shape ([[bpeLearnMerges]]' output columns left/right in
    * rank order): every side is a single character or the product of an
    * EARLIER merge, as BPE learning guarantees. Deliberately contains
    * rank interactions where rank-order inference and greedy
    * longest-match DISAGREE: on "ting", (i,n)@3 then (in,g)@8 give
    * [t, ing], while greedy over the flattened piece set takes the
    * longest prefix "ti" first and strands [ti, n, g] — the BpeSpec
    * divergence case. */
  val defaultBpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "in" -> "g", "e" -> "n", "a" -> "t",
    "e" -> "s", "o" -> "r", "t" -> "i", "s" -> "t", "a" -> "r",
    "a" -> "l", "o" -> "u", "ti" -> "on", "e" -> "d", "i" -> "s",
    "i" -> "t", "c" -> "h", "an" -> "d", "er" -> "s")

  /** Rank-ordered BPE merge INFERENCE — the semantics a learned merge
    * table ([[bpeLearnMerges]]) actually carries: each token starts as
    * single characters and every merge rule is applied in RANK order,
    * one left-to-right skip pass per rank (Sennrich et al. 2016). This
    * disagrees with [[graft.functions.BpeEncode]]'s greedy longest-match
    * over the flattened piece set on real tables (merges (b,c)@1, (a,b)@2
    * segment "abc" as [a, bc] here but [ab, c] greedily), so the
    * learn → encode round-trip must come through THIS encoder to
    * round-trip under the table's own semantics. Output:
    * (doc_id, tp, pp, piece) — the [[bpeEncodeTokens]] shape.
    *
    * Scale shape: map-only at any corpus size (tokenize-once barrier, two
    * generates). The rank loop runs inside the native
    * [[graft.functions.BpeApplyMerges]] expression — one JVM skip pass
    * per rank over an interned symbol array (fully codegen'd; the merge
    * table is a constructor constant riding the plan, so a 1000-rank
    * learned table is 1000 passes per token, never 1000 plan nodes).
    * Per-row cost is O(ranks × token length): rank-order fidelity is
    * intrinsically per-rank (each rank must see the previous rank's
    * symbols), which is why production tokenizers pre-flatten to a piece
    * vocabulary and pay greedy inference instead — that path is
    * [[graft.functions.BpeEncode]]; this one is for running a LEARNED
    * table exactly as learned.
    *
    * Symbols must stay '|'-free (enforced): the DuckDB oracle — and
    * [[bpeMergeFold]], the pure-SQL form BpeSpec locks the native
    * expression against — replays each rank as one non-overlapping
    * replace over a BOTH-side delimited symbol string ("|t||i||n||g|"),
    * where '|a||b|' matches exactly adjacent whole symbols and
    * resume-after-match IS the left-to-right skip. */
  def bpeApplyMerges(df: DataFrame, key: Column, text: Column,
                     merges: Seq[(String, String)] = defaultBpeMerges): DataFrame = {
    require(merges.forall { case (a, b) =>
      !a.contains("|") && !b.contains("|")
    }, "bpeApplyMerges: merge sides must be '|'-free " +
      "(the oracle's delimited symbol encoding)")
    withTokens(df, Seq(key.as("doc_id")), text)
      .select(col("doc_id"), posexplode(col("__tk")).as(Seq("tp", "tok")))
      .select(col("doc_id"), col("tp"),
        posexplode(graft.functions.TextFunctions
          .bpeApplyMerges(col("tok"), merges)).as(Seq("pp", "piece")))
  }

  /** The pure-SQL-expression form of one word's rank-ordered merge
    * inference — the delimited-string fold the oracle mirrors (each rank
    * one string replace over "|t||i||n||g|"). Kept as the independent
    * in-plan reference BpeSpec compares the native expression
    * against; the declared query runs the native form. */
  private[graft] def bpeMergeFold(tok: Column,
                                  merges: Seq[(String, String)]): Column = {
    val table = array(merges.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    split(trim(aggregate(table, regexp_replace(tok, "(.)", "|$1|"),
      (acc, m) => replace(acc,
        concat(lit("|"), m.getField("a"), lit("||"),
          m.getField("b"), lit("|")),
        concat(lit("|"), m.getField("a"), m.getField("b"), lit("|")))),
      "|"), "\\|\\|")
  }

  /** TRUE subword counts per document — what sequence packing and token
    * budgeting should run on (the `ceil(len/4)` estimate in
    * [[tokenCounts]] is a proxy for exactly this): (doc_id, n_tokens,
    * n_subwords) with n_subwords = Σ pieces over the document's tokens.
    * Fully in-row (tokenize-once barrier, transform + aggregate over the
    * token array — the piece arrays are counted and discarded inside the
    * row, never materialised as rows), zero shuffles. */
  def subwordCounts(df: DataFrame, key: Column, text: Column,
                    vocab: Seq[String] = defaultBpeVocab,
                    tokenizer: Column => Column = tokens,
                    byteFallback: Boolean = false): DataFrame = {
    val toks = col("__tk")
    withTokens(df, Seq(key.as("doc_id")), text, tokenizer = tokenizer)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(toks).as("n_tokens"),
        aggregate(
          transform(toks,
            t => org.apache.spark.sql.functions.size(
              graft.functions.TextFunctions.bpeEncode(t, vocab,
                byteFallback))),
          lit(0L), (acc, x) => acc + x).as("n_subwords"))
  }

  def tokenCounts(df: DataFrame, key: Column, text: Column): DataFrame = {
    val toks = col("__toks")
    df.select(key.as("doc_id"), tokens(text).as("__toks"))
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))
          .as("n_subwords"))
  }

  /** Quality heuristics: char length, token count, mean token length,
    * punctuation ratio, stopword ratio — the standard cheap filters a
    * pre-training pipeline applies before anything expensive. */
  def qualityScore(df: DataFrame, key: Column, text: Column,
                   stopwords: Seq[String]): DataFrame = {
    val toks = col("__toks")
    val nChars = length(col("__text"))
    val punct = nChars - length(regexp_replace(col("__text"), "[^a-zA-Z0-9 ]", ""))
    val stopHits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    df.select(key.as("doc_id"), text.as("__text"), tokens(text).as("__toks"))
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        size(toks).as("n_tokens"),
        round((length(array_join(toks, "")).cast("long")) /
          greatest(size(toks), lit(1)).cast("double"), 4).as("mean_tok_len"),
        round(punct / greatest(nChars, lit(1)).cast("double"), 4).as("punct_ratio"),
        round(stopHits / greatest(size(toks), lit(1)).cast("double"), 4).as("stop_ratio"))
  }

  /** Tiny n-gram/stopword language-ID heuristic: score each candidate
    * language by stopword hits, pick the argmax (ties resolved by the fixed
    * candidate order). Profiles are plain data — extendable without code. */
  val defaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "es" -> Seq("el", "la", "de", "que", "los", "en", "un", "por"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "pt" -> Seq("o", "a", "os", "de", "em", "um", "para", "com"))

  def languageId(df: DataFrame, key: Column, text: Column,
                 profiles: Seq[(String, Seq[String])] = defaultProfiles,
                 tokenizer: Column => Column = tokens): DataFrame = {
    val toks = col("__toks")
    val scored = df.select(key.as("doc_id"), tokenizer(text).as("__toks")).select(
      (col("doc_id") +:
        profiles.map { case (lang, stops) =>
          size(filter(toks, t => t.isin(stops.map(lit): _*))).as(s"score_$lang")
        }): _*)
    // argmax with deterministic first-wins tie-break over the profile order:
    // the first candidate (in profile order) holding the max score wins.
    val maxScore = greatest(profiles.map(p => col(s"score_${p._1}")): _*)
    val pred = profiles.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"score_$lang") === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Document fingerprint: md5 over the sorted distinct token set — a cheap
    * canonical-form hash that survives token reordering and duplication. */
  def fingerprint(df: DataFrame, key: Column, text: Column): DataFrame =
    df.select(key.as("doc_id"), tokens(text).as("__toks"))
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(col("__toks"))), " "))
          .as("fingerprint"))

  // PII patterns kept deliberately simple and RE2-compatible (no lookaround,
  // no \b) so the same pattern strings run identically under Java regex
  // (Spark) and RE2-family engines — and in the DuckDB oracle.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{9,14}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII scrubbing: count then redact emails, international phone numbers
    * and IPv4 literals. Counts are taken on the ORIGINAL text; redaction is
    * applied email → phone → IP (the patterns are disjoint by construction:
    * a phone starts with '+', an IP has no '@'). Pure regexp expressions —
    * codegen'd, no shuffle, linear per row. */
  def scrubPii(df: DataFrame, key: Column, text: Column): DataFrame = {
    val t = col("__text")
    df.select(key.as("doc_id"), text.as("__text"))
      .select(col("doc_id"),
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("scrubbed"))
  }

  /** Luhn checksum validity of a digit string — the false-positive filter
    * behind card-number PII detection: a regex finds 13-19-digit runs, and
    * only checksum-valid candidates are treated as card numbers (a random
    * digit run passes Luhn ~10% of the time, so the check removes ~90% of
    * spurious redactions). Pure array expressions (split → reverse →
    * indexed transform → aggregate) — codegen-friendly, no UDF, no
    * shuffle. Non-digit input yields null (cast of a non-digit char). */
  def luhnValid(digits: Column): Column = {
    val rev = reverse(filter(split(digits, ""), c => c =!= ""))
    val vals = transform(rev, (c, i) => {
      val d = c.cast("int")
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(vals, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** Character-distribution Shannon entropy per document (nats):
    * H = ln(N) − Σ n_c·ln(n_c) / N over the document's character counts —
    * the cheap gibberish/repetition signal (uniform noise scores high,
    * 'aaaa…' scores 0; natural language sits in a known band, so both
    * tails are quality flags). Output: (doc_id, n_chars_counted, entropy),
    * entropy rounded to 6 dp; empty/null texts are absent.
    *
    * Scale shape: the char explode partial-aggregates map-side on
    * (doc, char), so the exchange carries each document's DISTINCT
    * characters (≤ alphabet size), not its length; the identity avoids
    * needing N inside the per-char term, keeping everything one
    * aggregation pass over the collapsed counts. */
  def charEntropy(df: DataFrame, key: Column, text: Column): DataFrame =
    df.where(text.isNotNull && length(text) > 0)
      .select(key.as("doc_id"),
        explode(filter(split(text, ""), c => c =!= "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("__n"))
      .groupBy("doc_id")
      .agg(sum("__n").as("n_chars_counted"),
        round(log(sum("__n")) -
          sum(col("__n") * log(col("__n"))) / sum("__n"), 6).as("entropy"))

  // html extraction regexes — (?is)-flagged and non-greedy, so they run
  // identically on Java regex (Spark) and RE2 (DuckDB); entity decode is
  // the 5 named entities every extractor handles, applied AFTER tag strip
  // so a literal "&lt;p&gt;" in text cannot fabricate a tag
  val ScriptRe = "(?is)<(script|style)\\b[^>]*>.*?</(script|style)>"
  val TagRe = "(?s)<[^>]*>"

  /** WET-style HTML → text extraction (the first stage of every web-corpus
    * pipeline): drop script/style blocks WITH their content, strip the
    * remaining tags to spaces, decode the five core entities, collapse
    * whitespace. A pure regexp-expression battery — codegen'd, map-only,
    * linear per row; malformed/unclosed markup degrades to text (never an
    * error), matching the tolerant behaviour extractors need on crawl
    * data. */
  def extractHtmlText(df: DataFrame, key: Column, html: Column): DataFrame =
    df.select(key.as("doc_id"), html.as("__html"))
      .select(col("doc_id"), htmlToText(col("__html")).as("extracted"))

  /** The extraction battery as a plain Column, for composing inside wider
    * projections ([[extractHtmlText]] is the frame form). */
  def htmlToText(html: Column): Column = {
    val stripped =
      regexp_replace(
        regexp_replace(
          regexp_replace(html, ScriptRe, " "),
          TagRe, " "),
        "&nbsp;", " ")
    val decoded =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(stripped, "&lt;", "<"),
              "&gt;", ">"),
            "&quot;", "\""),
          "&#39;", "'"),
        "&amp;", "&") // LAST, so "&amp;lt;" decodes to "&lt;" not "<"
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
