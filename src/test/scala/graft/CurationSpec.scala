package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ext.{CorpusOps, QualityRules, TextOps}
import graft.operators.AsOfJoin

/** As-of join + corpus-curation operators (quality rules, PII scrub,
  * boilerplate, stratified sampling). */
class CurationSpec extends SparkTestBase {

  import spark.implicits._

  // ---- AsOfJoin ----

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOf picks the latest build row at or before each probe ts, per key") {
    val build = Seq(
      (1L, ts("2024-01-01 00:00:00"), "v1"),
      (1L, ts("2024-01-01 02:00:00"), "v2"),
      (2L, ts("2024-01-01 01:00:00"), "w1"))
      .toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = Seq(
      (10L, 1L, ts("2024-01-01 01:00:00")), // between v1 and v2 -> v1
      (11L, 1L, ts("2024-01-01 02:00:00")), // exactly at v2 -> v2 (inclusive)
      (12L, 1L, ts("2024-01-01 03:00:00")), // after v2 -> v2
      (13L, 2L, ts("2024-01-01 00:30:00")), // before w1 -> null
      (14L, 2L, ts("2024-01-01 01:30:00"))) // after w1 -> w1
      .toDF("id", "k", "t")
    val got = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "v"))
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got === Map(10L -> Some("v1"), 11L -> Some("v2"),
      12L -> Some("v2"), 13L -> None, 14L -> Some("w1")))
  }

  test("nearest picks the closest build row in EITHER direction, " +
    "ties backward, null-extends keys with no builds, one exchange per side") {
    val build = Seq((1L, 100L, "b100"), (1L, 200L, "b200"), (2L, 50L, "c50"))
      .toDF("k", "tu", "v")
    val probe = Seq(
      (10L, 1L, 130L),                // 30 back vs 70 fwd -> b100
      (11L, 1L, 180L),                // 80 back vs 20 fwd -> b200
      (12L, 1L, 150L),                // tie 50/50 -> backward b100
      (13L, 1L, 200L),                // exact instant -> b200
      (14L, 1L, 10L),                 // before all -> forward b100
      (15L, 1L, 900L),                // after all -> backward b200
      (16L, 3L, 100L),                // no builds for key -> null
      (17L, Long.MinValue, 100L))     // orphan-ish distinct key, null
      .toDF("id", "k", "tu")
    val res = AsOfJoin.nearest(probe, build, "k", "tu", Seq("v"))
    val got = res.select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got === Map(10L -> Some("b100"), 11L -> Some("b200"),
      12L -> Some("b100"), 13L -> Some("b200"), 14L -> Some("b100"),
      15L -> Some("b200"), 16L -> None, 17L -> None))
    val p = res.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2, p)
  }

  test("asOf carries the matched build timestamp and never mixes keys") {
    val build = Seq((1L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("k", "t", "x").withColumn("v_t", col("t"))
    val probe = Seq((10L, 7L, ts("2024-06-01 00:00:00")))
      .toDF("id", "k", "t") // key 7 has no build rows at all
    val got = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "x")).collect()
    assert(got.length === 1 && got(0).isNullAt(3) && got(0).isNullAt(4))
  }

  test("asOf: null build keys/timestamps never match (SQL join-key semantics)") {
    val build = Seq(
      (Option.empty[Long], Option(ts("2024-01-01 00:00:00")), "leak"),
      (Option(1L), Option.empty[java.sql.Timestamp], "leak2"),
      (Option(1L), Option(ts("2024-01-01 00:00:00")), "ok"))
      .toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = Seq(
      (10L, Option.empty[Long], ts("2024-01-01 01:00:00")), // null key -> null-extend
      (11L, Option(1L), ts("2024-01-01 01:00:00")))         // real match
      .toDF("id", "k", "t")
    val got = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "v"))
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got === Map(10L -> None, 11L -> Some("ok")))
  }

  test("asOf: null-key/null-ts probe rows bypass the window (skew guard) " +
    "with identical left-join semantics") {
    val build = Seq((1L, ts("2024-01-01 00:00:00"), "v1"))
      .toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = Seq(
      (10L, Option(1L), Option(ts("2024-01-01 01:00:00"))), // real match
      (11L, Option.empty[Long], Option(ts("2024-01-01 01:00:00"))), // null key
      (12L, Option(1L), Option.empty[java.sql.Timestamp]),  // null ts
      (13L, Option.empty[Long], Option.empty[java.sql.Timestamp])) // both
      .toDF("id", "k", "t")
    val out = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "v"))
    val got = out.select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got === Map(10L -> Some("v1"), 11L -> None, 12L -> None, 13L -> None))
    // the orphan rows are routed around the as-of node: the plan is a Union
    // of the merge path and a join-free null-extend branch
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Union"), p)
    // value-column types survive the null-extend (struct cast, not string)
    assert(out.schema("v_t").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("asOf rejects colliding and missing value columns") {
    val b = Seq((1L, ts("2024-01-01 00:00:00"), "v")).toDF("k", "t", "v")
    val p = Seq((1L, ts("2024-01-01 00:00:00"), "v")).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(p, b, "k", "t", Seq("v")) // collides with probe's v
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(p.drop("v"), b, "k", "t", Seq("nope"))
    }
  }

  // ---- QualityRules ----

  test("gopherRules: integer-exact thresholds, keep splits correctly") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta etaa theta iota kappa " +
        "lambda muuu nuuu xiii omicron"), // 15 distinct 4-6 char tokens: keep
      (2L, "a b c d e f g h i j k l m n o"), // mean len 1.0 < 4.0: drop
      (3L, "the the the the the the the the the the the the the the the"), // dup frac 14/15: drop
      (4L, "tiny doc")) // 2 tokens < 15: drop
      .toDF("id", "txt")
    val got = QualityRules.gopherRules(df, col("id"), col("txt"),
        minTokens = 15, maxTokens = 1000,
        minMeanLenTenths = 40, maxMeanLenTenths = 60, maxDupPct = 55)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("gopherRules: a mean length landing exactly on the threshold keeps " +
    "deterministically (integer comparison, no float)") {
    // 15 tokens of exactly 4 chars: chars*10 == n*40 — the >= includes it
    val txt = (1 to 15).map(i => f"tk$i%02d").mkString(" ")
    val got = QualityRules.gopherRules(Seq((1L, txt)).toDF("id", "txt"),
        col("id"), col("txt"), minTokens = 15, maxTokens = 1000,
        minMeanLenTenths = 40, maxMeanLenTenths = 60, maxDupPct = 55)
      .select("keep").as[Boolean].head()
    assert(got)
  }

  test("topToken: argmax with ties to the lexicographically smallest token") {
    val df = Seq(
      (1L, "bb aa bb aa cc"), // aa and bb tie at 2 -> aa
      (2L, "zz zz yy")) // zz wins at 2
      .toDF("id", "txt")
    val got = QualityRules.topToken(df, col("id"), col("txt"))
      .select("doc_id", "top_tok", "top_cnt", "top_frac")
      .as[(Long, String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === (("aa", 2L, 0.4)))
    assert(got(2L) === (("zz", 2L, 0.6667)))
  }

  // ---- PII scrub ----

  test("scrubPii counts and redacts emails, phones and IPv4s") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@test.org or +27821234567 from 10.0.0.1 ok"),
      (2L, "no pii here at all"))
      .toDF("id", "txt")
    val got = TextOps.scrubPii(df, col("id"), col("txt"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 1L, 1L, 1L,
      "mail me at <EMAIL> or <PHONE> from <IP> ok")))
    assert(got(2L) === ((2L, 0L, 0L, 0L, "no pii here at all")))
  }

  // ---- boilerplate ----

  test("boilerplate flags shingles shared by >= minDocs documents") {
    // "one two three" appears in all 3 docs; each doc also has unique tail
    val df = Seq(
      (1L, "one two three apple banana cherry"),
      (2L, "one two three dog elephant fox"),
      (3L, "one two three red green blue"))
      .toDF("id", "txt")
    val got = CorpusOps.boilerplate(df, col("id"), col("txt"), k = 3, minDocs = 3)
      .select("doc_id", "n_shingles", "n_boiler")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // 6 tokens -> 4 shingles each; only the leading "one two three" is shared
    assert(got === Map(1L -> ((4L, 1L)), 2L -> ((4L, 1L)), 3L -> ((4L, 1L))))
  }

  test("boilerplate: docs shorter than k are absent; no common shingles -> 0") {
    val df = Seq((1L, "unique words entirely here"),
      (2L, "different content altogether now"), (3L, "ab")).toDF("id", "txt")
    val got = CorpusOps.boilerplate(df, col("id"), col("txt"), k = 3, minDocs = 2)
      .select("doc_id", "n_boiler").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 0L)) // doc 3 has < 3 tokens
  }

  // ---- contamination ----

  test("contamination flags docs sharing >= minShared shingles with eval") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 2 shingles with eval
      (2L, "alpha beta gamma nothing else"),  // shares 1 -> below threshold
      (3L, "totally different words here now"))
      .toDF("id", "txt")
    val eval_ = Seq((100L, "alpha beta gamma delta zeta")).toDF("id", "txt")
    val sh = (d: org.apache.spark.sql.DataFrame) =>
      TextOps.explodeShingles(d, col("id"), col("txt"), k = 3)
    val got = CorpusOps.contamination(sh(corpus), sh(eval_), minShared = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L))
  }

  // ---- sequence packing ----

  test("packSequences: bins respect running order; overflow bounded by one doc") {
    val docs = (1 to 200).map(i => (i.toLong, 10L + i % 23)).toDF("id", "nt")
    val packed = CorpusOps.packSequences(docs, col("id"), col("nt"),
      maxTokens = 64, numBuckets = 4).cache()
    // every doc appears exactly once
    assert(packed.count() === 200)
    // a doc's bin start-offset is within the bin => bin tokens exceed the
    // budget by strictly less than that doc's own tokens (next-fit bound)
    val binTotals = packed.groupBy("bucket", "bin")
      .agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
      .as[(Long, Long, Long, Long)].collect()
    binTotals.foreach { case (bk, bin, tot, mx) =>
      assert(tot < 64 + mx, s"bucket=$bk bin=$bin tot=$tot mx=$mx")
    }
    // deterministic across invocations
    val again = CorpusOps.packSequences(docs, col("id"), col("nt"), 64, 4)
    assert(packed.select("doc_id", "bucket", "bin")
      .except(again.select("doc_id", "bucket", "bin")).isEmpty)
    packed.unpersist()
  }

  test("packSequences: a doc larger than the budget gets its own bin slot") {
    val docs = Seq((1L, 500L), (2L, 10L), (3L, 10L)).toDF("id", "nt")
    val packed = CorpusOps.packSequences(docs, col("id"), col("nt"),
      maxTokens = 64, numBuckets = 1)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // all three docs assigned; the oversized doc occupies a bin span but
    // every doc still has exactly one (bucket, bin)
    assert(packed.keySet === Set(1L, 2L, 3L))
  }

  // ---- tf-idf ----

  test("tfidfTopTerms ranks rare discriminative terms above common ones") {
    val df = Seq(
      (1L, "common common common rare"),
      (2L, "common other words here"),
      (3L, "common more words again"))
      .toDF("id", "txt")
    val got = CorpusOps.tfidfTopTerms(df, col("id"), col("txt"), k = 1)
      .select("doc_id", "tok").as[(Long, String)].collect().toMap
    // "common" appears in every doc -> idf = ln(1) = 0; "rare" wins doc 1
    // even at tf 1 vs 3
    assert(got(1L) === "rare")
    assert(got(2L) != "common" && got(3L) != "common")
  }

  // ---- count-min sketch ----

  test("countMin estimates are upper bounds and exact without collisions") {
    import graft.ext.SketchOps
    val keys = (Seq.fill(50)("hot") ++ Seq.fill(7)("warm") ++ Seq("cold"))
      .toDF("k")
    val sketch = SketchOps.countMin(keys, "k", depth = 4, width = 1024)
    val est = SketchOps.estimate(keys.distinct(), "k", sketch, 4, 1024)
      .as[(String, Long)].collect().toMap
    // 3 keys in 1024 buckets × 4 rows: collision probability negligible,
    // and the estimate can never undercount
    assert(est === Map("hot" -> 50L, "warm" -> 7L, "cold" -> 1L))
    // absent key estimates 0 via the left join
    val absent = SketchOps.estimate(Seq("nope").toDF("k"), "k", sketch, 4, 1024)
      .as[(String, Long)].collect()
    assert(absent === Array(("nope", 0L)))
  }

  test("countMin: a NULL key fails loudly (its mass would otherwise vanish " +
    "into an unjoinable NULL bucket)") {
    import graft.ext.SketchOps
    val keys = Seq(Some("a"), None, Some("b")).toDF("k")
    val e = intercept[Exception] {
      SketchOps.countMin(keys, "k", depth = 2, width = 16).collect()
    }
    assert(e.getMessage.contains("null key") ||
      Option(e.getCause).exists(_.getMessage.contains("null key")))
  }

  test("distinctCount: exact matches a reference set count; HLL approx " +
    "lands within tolerance of exact") {
    import graft.ext.SketchOps
    // two strata with known cardinalities, plus repeated keys
    val rows = (1 to 4000).map(i => ("a", s"k${i % 700}")) ++
      (1 to 3000).map(i => ("b", s"k${i % 150}"))
    val df = rows.toDF("g", "k")
    val exact = SketchOps.distinctCount(df, col("g"), col("k"), exact = true)
      .select("stratum", "n", "n_distinct")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(exact("a") === (("a", 4000L, 700L)))
    assert(exact("b") === (("b", 3000L, 150L)))
    // HLL++ rsd 0.05: assert within 3·rsd of exact (engine-specific value,
    // tolerance contract — the groupStats convention)
    val approx = SketchOps.distinctCount(df, col("g"), col("k"), exact = false)
      .select("stratum", "n_distinct").as[(String, Long)].collect().toMap
    assert(math.abs(approx("a") - 700.0) / 700.0 < 0.15, s"a=${approx("a")}")
    assert(math.abs(approx("b") - 150.0) / 150.0 < 0.15, s"b=${approx("b")}")
  }

  test("countMin sketch size is bounded by depth*width regardless of input") {
    import graft.ext.SketchOps
    val keys = (1 to 5000).map(i => s"k$i").toDF("k")
    val n = SketchOps.countMin(keys, "k", depth = 2, width = 16).count()
    assert(n <= 32)
  }

  // ---- group stats ----

  test("groupStats exact percentiles interpolate; approx lands within 5%") {
    // values 1..101 in one stratum: p50 = 51 exactly, p90 = 91 exactly
    val df = (1 to 101).map(i => ("a", i.toLong)).toDF("g", "v")
    val ex = CorpusOps.groupStats(df, col("g"), col("v"), Seq(0.5, 0.9), exact = true)
      .select("n", "mean", "p50", "p90").as[(Long, Double, Double, Double)].head()
    assert(ex === ((101L, 51.0, 51.0, 91.0)))
    val ap = CorpusOps.groupStats(df, col("g"), col("v"), Seq(0.5, 0.9), exact = false)
      .select("p50", "p90").as[(Double, Double)].head()
    assert(math.abs(ap._1 - 51.0) / 51.0 < 0.05 && math.abs(ap._2 - 91.0) / 91.0 < 0.05,
      s"approx drifted: $ap")
  }

  test("groupStats interpolates between order statistics (p50 of 4 values)") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 10L)).toDF("g", "v")
    val p50 = CorpusOps.groupStats(df, col("g"), col("v"), Seq(0.5), exact = true)
      .select("p50").as[Double].head()
    assert(p50 === 2.5) // (n-1)*0.5 = 1.5 -> midpoint of 2 and 3
  }

  // ---- quantile bucketing ----

  test("quantileBuckets: thresholds split by value, ties share a bucket, " +
    "null stratum rows survive the null-safe join") {
    val df = Seq(
      (Option("a"), 1.0), (Option("a"), 2.0), (Option("a"), 2.0),
      (Option("a"), 3.0), (Option("a"), 10.0), (Option("a"), 20.0),
      (Option.empty[String], 5.0), (Option.empty[String], 6.0),
      (Option.empty[String], 7.0))
      .toDF("g", "v")
    val got = CorpusOps.quantileBuckets(df, col("g"), col("v"),
        numBuckets = 3, exact = true)
      .select("g", "v", "bucket").as[(Option[String], Double, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // "a": t1 = 2.0 (interpolated between the tied 2s), t2 = 5.333333 —
    // both 2.0 rows land together in bucket 1 (value function, unlike ntile)
    assert(got((Some("a"), 1.0)) === 1)
    assert(got((Some("a"), 2.0)) === 1)
    assert(got((Some("a"), 3.0)) === 2)
    assert(got((Some("a"), 10.0)) === 3)
    assert(got((Some("a"), 20.0)) === 3)
    // the NULL stratum is its own group, not dropped
    assert(got((None, 5.0)) === 1 && got((None, 6.0)) === 2 &&
      got((None, 7.0)) === 3)
    assert(got.size === 8) // the two (a, 2.0) rows collapse in the map
  }

  test("quantileBuckets(exact) tracks ntile within the tie/boundary slack; " +
    "approx_percentile tracks exact (the x_ccnet_buckets tolerance contract)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260818)
    // skewed strata — the shape whose ntile window dies at scale
    val rows = Seq("big" -> 900, "mid" -> 120, "small" -> 9).flatMap {
      case (s, n) => (0 until n).map(i => (s, rnd.nextDouble() * 100))
    }
    val df = rows.toDF("g", "v")
    def counts(d: org.apache.spark.sql.DataFrame): Map[(String, Int), Long] =
      d.groupBy("g", "bucket").count()
        .as[(String, Int, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val th = counts(CorpusOps.quantileBuckets(df, col("g"), col("v"),
      numBuckets = 3, exact = true))
    val nt = counts(df.withColumn("bucket", ntile(3).over(
      Window.partitionBy(col("g")).orderBy(col("v")))))
    // distinct continuous values: interpolated-threshold counts differ from
    // equal-count ntile by at most 1 per boundary (2 per bucket)
    nt.foreach { case (k, n) =>
      assert(math.abs(th.getOrElse(k, 0L) - n) <= 2, s"$k: th=${th.get(k)} nt=$n")
    }
    // the 100-TB path: t-digest thresholds vs exact — same contract as
    // groupStats/distinctCount, per-bucket counts within 5% of the stratum
    val ap = counts(CorpusOps.quantileBuckets(df, col("g"), col("v"),
      numBuckets = 3, exact = false))
    val strataN = rows.groupBy(_._1).view.mapValues(_.size).toMap
    th.foreach { case (k, n) =>
      assert(math.abs(ap.getOrElse(k, 0L) - n) <= math.max(2, strataN(k._1) / 20),
        s"$k: approx=${ap.get(k)} exact=$n")
    }
  }

  test("quantileBuckets(broadcastThresholds = false) matches the broadcast " +
    "form on a high-cardinality stratum and plans without a forced broadcast") {
    // domain-like strata: one group per row-ish cardinality — the shape
    // where a forced broadcast of the threshold table stops being bounded
    val rnd = new scala.util.Random(20260813)
    val df = (0 until 400).map(i => (s"host$i.example", rnd.nextDouble() * 10,
      i.toLong)).toDF("g", "v", "id")
    def result(bcast: Boolean) = CorpusOps.quantileBuckets(df, col("g"),
        col("v"), numBuckets = 2, exact = true, broadcastThresholds = bcast)
      .select("id", "bucket").as[(Long, Int)].collect().toMap
    assert(result(false) === result(true))
    // hint-free means size-based planning owns the strategy: no broadcast
    // hint in the analyzed plan (hints are folded into the Join node by the
    // optimizer, so the analyzed plan is where their presence is visible)
    def analyzed(bcast: Boolean) = CorpusOps.quantileBuckets(df, col("g"),
        col("v"), numBuckets = 2, exact = true, broadcastThresholds = bcast)
      .queryExecution.analyzed.toString
    assert(!analyzed(false).contains("ResolvedHint"))
    assert(analyzed(true).contains("ResolvedHint")) // positive control
  }

  // ---- stratified sample ----

  test("weightedSample: selection matches a JVM replication of the A-ES " +
    "key, excludes non-positive weights, is deterministic, and plans as " +
    "TakeOrdered (no global sort)") {
    val rows = (1L to 200L).map(i => (i, if (i % 7 == 0) 0L else i))
    val df = rows.toDF("id", "w")
    val out = CorpusOps.weightedSample(df, col("id"), col("w"), k = 20)
    val got = out.select("id").as[Long].collect().toSeq
    // replicate: u = first-8-hex(md5(id)) / 2^32, key = round6(-ln(u)/w)
    def esk(id: Long, w: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val u = java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) / 4294967296.0
      BigDecimal(-math.log(math.max(u, 1e-12)) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = rows.filter(_._2 > 0)
      .map { case (id, w) => (esk(id, w), id) }.sorted.take(20).map(_._2)
    assert(got.toSet === expect.toSet)
    assert(!got.exists(_ % 7 == 0), "zero-weight rows must never appear")
    val again = CorpusOps.weightedSample(df, col("id"), col("w"), k = 20)
      .select("id").as[Long].collect().toSeq
    assert(again.toSet === got.toSet)
    assert(out.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
    // NaN weights are outside the A-ES domain: Spark orders NaN above every
    // double, so a bare w > 0 would admit them — they must be excluded
    val nan = Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("nid", "nw")
    val sel = CorpusOps.weightedSample(nan, col("nid"), col("nw"), k = 3)
      .select("nid").as[Long].collect().toSet
    assert(sel === Set(1L, 3L), "NaN-weight row must never be sampled")
  }

  test("sourceQualityGate evicts a low-mean source only with enough " +
    "evidence, keeps null-source rows as a group, and the non-broadcast " +
    "form is output-identical") {
    val rows =
      (1 to 12).map(i => (i.toLong, Some("bad"), 0.01)) ++      // evidence + low → evicted
      (13 to 15).map(i => (i.toLong, Some("thin"), 0.01)) ++    // low but only 3 docs → kept
      (16 to 27).map(i => (i.toLong, Some("good"), 0.50)) ++    // evidence + high → kept
      (28 to 39).map(i => (i.toLong, None: Option[String], 0.01)) // null source, low → evicted
    val df = rows.toDF("doc_id", "source", "score")
    def run(bcast: Boolean) =
      CorpusOps.sourceQualityGate(df, col("source"), col("score"),
        minDocs = 10, minMean = 0.1, broadcastStats = bcast)
    val out = run(bcast = true)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept === ((13L to 15L) ++ (16L to 27L)).toSet)
    // retained rows carry their source's stats
    val thin = out.where(col("source") === "thin")
      .select("src_n", "src_mean").distinct().as[(Long, Double)].collect()
    assert(thin.toSeq === Seq((3L, 0.01)))
    val shuffled = run(bcast = false)
    assert(shuffled.select("doc_id").as[Long].collect().toSet === kept)
    // the default pins the stats side to a broadcast join
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // a source whose scores are ALL NULL has a null mean — no evidence of
    // low quality, so it must be KEPT even past the minDocs bar (the
    // three-valued-NOT trap: without the coalesce these 12 rows vanish)
    val nullScores = (1 to 12).map(i => (100L + i, "nullsrc"))
      .toDF("doc_id", "source")
      .withColumn("score", lit(null).cast("double"))
    val keptNull = CorpusOps.sourceQualityGate(nullScores, col("source"),
        col("score"), minDocs = 10, minMean = 0.1)
      .count()
    assert(keptNull === 12L)
  }

  test("stratifiedSample applies per-stratum rates deterministically") {
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "grp")
    val sampled = CorpusOps.stratifiedSample(df, col("id"), col("grp"),
      Map("s0" -> 0.9, "s1" -> 0.1), defaultRate = 0.5)
    val counts = sampled.groupBy("grp").count().as[(String, Long)].collect().toMap
    // 1000 per stratum; md5 uniforms give binomial(1000, rate) — 5 sigma
    assert(counts("s0") > 850 && counts("s0") < 950, s"s0=${counts("s0")}")
    assert(counts("s1") > 55 && counts("s1") < 145, s"s1=${counts("s1")}")
    // deterministic: the same call returns the identical id set
    val again = CorpusOps.stratifiedSample(df, col("id"), col("grp"),
      Map("s0" -> 0.9, "s1" -> 0.1), defaultRate = 0.5)
    assert(sampled.select("id").except(again.select("id")).isEmpty)
    assert(again.select("id").except(sampled.select("id")).isEmpty)
  }

  test("cluster-keyed split: every near-dup cluster lands whole in one " +
    "split; doc-keyed split would scatter it") {
    import graft.ext.{CorpusOps, DedupOps}
    import org.apache.spark.sql.functions.{col, countDistinct}
    // pairs wire 1-2-3 into one cluster and 10-11 into another; ids chosen
    // so a DOC-keyed md5 split separates 1/2/3 (verified below)
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val byCluster = CorpusOps.assignSplit(
      DedupOps.dupClusters(docs, pairs), col("cluster_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val coherence = byCluster.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n"))
      .select("n").as[Long].collect()
    assert(coherence.forall(_ == 1L))
    assert(byCluster.count() == 7)
    // the same fractions keyed by doc DO scatter cluster {1,2,3} — the
    // leakage this composition exists to prevent
    val byDoc = CorpusOps.assignSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .where(col("doc_id").isin(1L, 2L, 3L))
      .select("split").distinct().count()
    assert(byDoc > 1)
  }

  test("madOutliers: hand-computed median/MAD; giant doc flagged, not the mean-dragged rest") {
    import spark.implicits._
    // stratum a: 10,12,14,16,1000 -> med 14, devs 4,2,0,2,986 -> MAD 2
    //   outlier iff dev > 6: only the 1000
    val df = Seq((1L, "a", 10), (2L, "a", 12), (3L, "a", 14), (4L, "a", 16),
      (5L, "a", 1000), (6L, "b", 7)).toDF("doc_id", "src", "n")
    val got = CorpusOps.madOutliers(df, col("doc_id"), col("src"), col("n"))
      .as[(Long, String, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._4 === 14.0 && got(1L)._5 === 2.0)
    assert(got.filter(_._2._6).keySet === Set(5L))
    // singleton stratum: med = x, MAD 0, dev 0 -> not an outlier
    assert(got(6L)._6 === false)
  }

  test("madOutliers: even-count stratum interpolates; zero MAD flags any deviation") {
    import spark.implicits._
    // 1,2,3,4 -> med 2.5, devs 1.5,.5,.5,1.5 -> MAD 1.0 -> none beyond 3
    val even = Seq((1L, "a", 1), (2L, "a", 2), (3L, "a", 3), (4L, "a", 4))
      .toDF("doc_id", "src", "n")
    val g1 = CorpusOps.madOutliers(even, col("doc_id"), col("src"), col("n"))
      .as[(Long, String, Double, Double, Double, Boolean)].collect()
    assert(g1.forall(r => r._4 === 2.5 && r._5 === 1.0 && !r._6))
    // over half identical -> MAD 0 -> any deviation flags
    val deg = Seq((1L, "a", 5), (2L, "a", 5), (3L, "a", 5), (4L, "a", 9))
      .toDF("doc_id", "src", "n")
    val g2 = CorpusOps.madOutliers(deg, col("doc_id"), col("src"), col("n"))
      .as[(Long, String, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r._6).toMap
    assert(g2 === Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
  }

  test("madOutliers: approx path agrees with exact on a modest stratum") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, "s", i)).toDF("doc_id", "src", "n")
    val ex = CorpusOps.madOutliers(df, col("doc_id"), col("src"), col("n"))
      .select("doc_id", "is_outlier")
      .as[(Long, Boolean)].collect().toMap
    val ap = CorpusOps.madOutliers(df, col("doc_id"), col("src"), col("n"),
        exact = false)
      .select("doc_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(ex === ap)
  }

  // ---- KMV distinct sketch ----

  import graft.ext.SketchOps

  test("kmv: below k the sketch is exact; state is the sorted hash set") {
    val df = Seq.tabulate(30)(i => ("s", s"v${i % 10}")).toDF("g", "k")
    val st = SketchOps.kmvState(df, col("g"), col("k"), k = 256)
    val arr = st.select("kmv").as[Seq[Long]].head()
    assert(arr.length === 10 && arr === arr.sorted && arr.distinct === arr)
    val est = SketchOps.kmvEstimate(st, 256)
      .as[(String, Int, Long)].collect().head
    assert(est === (("s", 10, 10L)))
  }

  test("kmv: merge of split states equals the direct whole-corpus state") {
    val rows = Seq.tabulate(3000)(i => (s"g${i % 2}", s"item${i % 900}"))
    val df = rows.toDF("g", "k")
    val k = 64
    val direct = SketchOps.kmvState(df, col("g"), col("k"), k)
      .as[(String, Seq[Long])].collect().toMap
    val parts = (0 until 3).map(p =>
      SketchOps.kmvState(df.where(abs(hash(col("k"))) % 3 === p),
        col("g"), col("k"), k))
    val merged = SketchOps.kmvMerge(parts.reduce(_ unionByName _), k)
      .as[(String, Seq[Long])].collect().toMap
    assert(merged === direct, "KMV must be a monoid under merge")
  }

  test("kmv: estimate lands within the theoretical error band of exact") {
    val n = 5000
    val df = Seq.tabulate(4 * n)(i => ("s", s"tok${i % n}")).toDF("g", "k")
    val k = 256
    val est = SketchOps.kmvEstimate(SketchOps.kmvState(df, col("g"), col("k"), k), k)
      .select("n_distinct_est").as[Long].head()
    // rsd ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert(math.abs(est - n) < 4 * n / math.sqrt(k - 2.0),
      s"estimate $est vs exact $n")
  }
}
