package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** The as-of engine: AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec in
  * both directions, plus the probe-side pushdown rule and the naive-shape
  * rewrite. The references are the naive join + row_number formulations on
  * the stock planner — each asserts its own plan carries no AsOfJoin — so
  * agreement here is independent of the exec. */
class AsOfExecSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** The reference: left join on the key (both timestamps non-null; build
    * ts ≤ probe ts for backward), one row per probe `id` — the latest
    * build row backward, the smallest (|bts − pts|, bts) nearest. */
  private def naive(probe: DataFrame, build: DataFrame, id: String,
                    key: String, t: String, valueCols: Seq[String],
                    nearest: Boolean = false): DataFrame = {
    val b = build.select(col(key).as("__bk") +: col(t).as("__bt") +:
      valueCols.map(col): _*)
    val on = probe(key) === col("__bk") && probe(t).isNotNull &&
      col("__bt").isNotNull && (if (nearest) lit(true) else col("__bt") <= probe(t))
    val order =
      if (nearest) Seq(abs(col("__bt") - probe(t)).asc, col("__bt").asc)
      else Seq(col("__bt").desc)
    val out = probe.join(b, on, "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(probe(id)).orderBy(order: _*)))
      .where(col("__rn") === 1)
      .select(probe(id) +: valueCols.map(col): _*)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("AsOfJoin"), s"the reference must not use the exec:\n$p")
    out
  }

  /** The operator against the reference, one row per probe; returns the
    * operator's rows. */
  private def agrees(probe: DataFrame, build: DataFrame, valueCols: Seq[String],
                     nearest: Boolean): Set[Row] = {
    val op = if (nearest) AsOfJoin.nearest _ else AsOfJoin.asOf _
    val out = op(probe, build, "k", "t", valueCols)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin") && !p.contains("Window"), p)
    val got = out.select("id", valueCols: _*).collect()
    assert(got.length.toLong === probe.count()) // left semantics: one row per probe
    val want = naive(probe, build, "id", "k", "t", valueCols, nearest).collect()
    assert(got.toSet === want.toSet)
    got.toSet
  }

  test("asOfExec equals asOf on a randomized fixture (multi-version keys, " +
    "ties, null keys/ts, unmatched probes)") {
    val rnd = new scala.util.Random(20260820)
    val build = (1 to 400).map { i =>
      val k = if (i % 37 == 0) None else Some((rnd.nextInt(20) + 1).toLong)
      val t = if (i % 41 == 0) None
        else Some(ts(f"2024-01-${1 + rnd.nextInt(28)}%02d " +
          f"${rnd.nextInt(24)}%02d:00:00"))
      (k, t, s"v$i")
    }.distinct
    // the asOf contract: build unique per (key, ts) — dedup keeps one
    val buildDf = build.toDF("k", "t", "v")
      .groupBy("k", "t").agg(max("v").as("v")).withColumn("v_t", col("t"))
    val probe = (1 to 600).map { i =>
      val k = if (i % 31 == 0) None else Some((rnd.nextInt(25) + 1).toLong)
      val t = if (i % 43 == 0) None
        else Some(ts(f"2024-01-${1 + rnd.nextInt(28)}%02d " +
          f"${rnd.nextInt(24)}%02d:30:00"))
      (i.toLong, k, t)
    }
    val got = agrees(probe.toDF("id", "k", "t"), buildDf, Seq("v_t", "v"),
      nearest = false)
    assert(got.exists(!_.isNullAt(2)) && got.exists(_.isNullAt(2)),
      "fixture must exercise both matched and null-extended probes")
  }

  test("nearest equals the naive closest-row join on a randomized fixture " +
    "(gap ties go backward, null keys/ts, keys with no build rows)") {
    val rnd = new scala.util.Random(20261019)
    // even build spacing and integer probes make equal gaps common
    val build = (1 to 300).map { i =>
      val k = if (i % 29 == 0) None else Some((rnd.nextInt(15) + 1).toLong)
      val t = if (i % 31 == 0) None else Some(10L * rnd.nextInt(100))
      (k, t, s"v$i")
    }
    val buildDf = build.toDF("k", "t", "v")
      .groupBy("k", "t").agg(max("v").as("v")).withColumn("v_t", col("t"))
    val probe = (1 to 500).map { i =>
      val k = if (i % 23 == 0) None else Some((rnd.nextInt(18) + 1).toLong)
      val t = if (i % 37 == 0) None else Some(rnd.nextInt(1100).toLong - 50)
      (i.toLong, k, t)
    }
    val probeDf = probe.toDF("id", "k", "t")
    val got = agrees(probeDf, buildDf, Seq("v_t", "v"), nearest = true)
    assert(got.exists(!_.isNullAt(2)) && got.exists(_.isNullAt(2)),
      "fixture must exercise both matched and null-extended probes")
    // the int and double gap comparisons pick the same rows
    for (tpe <- Seq("int", "double")) {
      def typed(df: DataFrame) = df.withColumn("t", col("t").cast(tpe))
      assert(agrees(typed(probeDf), typed(buildDf), Seq("v_t", "v"),
        nearest = true) === got)
    }
    // the tie rule is exercised: some probe sits exactly between two builds
    val pairs = buildDf.where($"k".isNotNull && $"t".isNotNull)
      .as[(Long, Long, String, Long)].collect().groupBy(_._1)
      .map { case (k, rs) => k -> rs.map(_._2).sorted }
    assert(probe.exists { case (_, k, t) =>
      (for (kk <- k; tt <- t; bts <- pairs.get(kk)) yield
        bts.sliding(2).exists(w => w.length == 2 && w(0) + w(1) == 2 * tt))
        .getOrElse(false)
    }, "fixture must contain an equal-gap tie")
  }

  test("degenerate inputs, both directions: empty build, empty probe, " +
    "all-null probe keys, one hot key") {
    val rnd = new scala.util.Random(7)
    val build = (1 to 200).map { i =>
      val k = if (i % 10 == 0) 2L + i % 3 else 1L // 90% on the hot key 1
      (k, 5L * i + rnd.nextInt(3), s"v$i")
    }.toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = (1 to 300).map { i =>
      val k = if (i % 10 == 0) 2L + i % 4 else 1L
      (i.toLong, Option(k), Option(rnd.nextInt(1100).toLong))
    }.toDF("id", "k", "t")
    val vals = Seq("v_t", "v")
    for (nearest <- Seq(false, true)) {
      // v_t is a non-nullable long on the build side: it must still null-extend
      assert(agrees(probe, build.limit(0), vals, nearest)
        .forall(r => r.isNullAt(1) && r.isNullAt(2)))
      assert(agrees(probe.limit(0), build, vals, nearest).isEmpty)
      val nullKeys = probe.withColumn("k", lit(null).cast("long"))
      assert(agrees(nullKeys, build, vals, nearest).forall(_.isNullAt(2)))
      assert(agrees(probe, build, vals, nearest).count(!_.isNullAt(2)) > 250)
    }
  }

  test("the plan runs through AsOfJoinExec with the merge shape: one hash " +
    "exchange per side, no window, no join fallback") {
    val build = Seq((1L, ts("2024-01-01 00:00:00"), "v1"))
      .toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = Seq((10L, 1L, ts("2024-01-01 01:00:00"))).toDF("id", "k", "t")
    val out = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "v"))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p) // AsOfJoinExec prints with Exec stripped
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PushFilterThroughAsOf: a probe-column predicate lands BELOW the " +
    "as-of node (and reaches the scan), a value-column predicate stays above") {
    val dir = sf("sf0.001")
    val e = graft.queries.RefQueries.events(spark, dir)
    val build = e.where(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("v_value"))
      .withColumn("v_ts", col("ts"))
    val probe = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val joined = AsOfJoin.asOf(probe, build, "user_id", "ts",
      Seq("v_ts", "v_value"))
    val pushed = joined.where(col("event_id") < 100 && col("v_value") > 0.5)
    val opt = pushed.queryExecution.optimizedPlan
    // the probe-side conjunct sits under the as-of node...
    val asOfNode = opt.collectFirst { case a: graft.plans.AsOfJoinPlan => a }.get
    assert(asOfNode.left.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.toString.contains("event_id")
        case _ => false
      }, s"probe filter not pushed:\n$opt")
    // ...while the value-column conjunct cannot cross it
    val above = opt.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.child.isInstanceOf[graft.plans.AsOfJoinPlan] => f
    }
    assert(above.exists(_.condition.toString.contains("v_value")),
      s"value filter vanished or crossed the node:\n$opt")
    // results agree with filtering the naive reference
    val reference = naive(probe, build, "event_id", "user_id", "ts",
        Seq("v_ts", "v_value"))
      .where(col("event_id") < 100 && col("v_value") > 0.5)
      .select("event_id").as[Long].collect().toSet
    val got = pushed.select("event_id").as[Long].collect().toSet
    assert(got === reference)
  }

  test("RewriteNaiveAsOf: the naive left-join+window shape rewrites to the " +
    "exec when the partition key is provably distinct, matches the " +
    "declarative result, and does NOT fire without the distinctness proof") {
    val build = Seq(
        (1L, ts("2024-01-01 00:00:00"), "v1"),
        (1L, ts("2024-01-01 02:00:00"), "v2"),
        (2L, ts("2024-01-01 01:00:00"), "w1"))
      .toDF("k", "t", "v")
      .select(col("k").as("bk"), col("t").as("bt"), col("v"))
    val probeRaw = Seq(
        (10L, 1L, ts("2024-01-01 01:00:00")),
        (11L, 1L, ts("2024-01-01 02:00:00")),
        (12L, 2L, ts("2024-01-01 00:30:00"))) // unmatched → null-extend
      .toDF("id", "k", "t")
    def naive(probe: org.apache.spark.sql.DataFrame) =
      probe.join(build, probe("k") === build("bk") && col("bt") <= probe("t"),
          "left")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("bt").desc)))
        .where(col("rn") === 1)
        .select(col("id"), col("v"))
    // provable distinct key (Deduplicate → distinctKeys = {id}) → rewrites
    val proven = naive(probeRaw.dropDuplicates("id"))
    val p = proven.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"), p)
    assert(proven.as[(Long, Option[String])].collect().toMap ===
      Map(10L -> Some("v1"), 11L -> Some("v2"), 12L -> None))
    // no distinctness proof on the raw probe → the rule must NOT fire
    val unproven = naive(probeRaw)
    val p2 = unproven.queryExecution.executedPlan.toString
    assert(!p2.contains("AsOfJoin"), p2)
    assert(p2.contains("Window"), p2)
  }

  test("RewriteNaiveAsOf: the INNER naive shape rewrites with the matched-ts " +
    "filter, so unmatched probes drop exactly as the inner join drops them") {
    val build = Seq((1L, ts("2024-01-01 00:00:00"), "v1"))
      .toDF("bk", "bt", "v")
    val probe = Seq(
        (10L, 1L, ts("2024-01-01 01:00:00")),
        (11L, 2L, ts("2024-01-01 01:00:00")), // no build key → dropped
        (12L, 1L, ts("2023-12-31 23:00:00"))) // before v1 → dropped
      .toDF("id", "k", "t").dropDuplicates("id")
    val naive = probe.join(build,
        probe("k") === build("bk") && col("bt") <= probe("t"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("bt").desc)))
      .where(col("rn") === 1)
      .select(col("id"), col("v"))
    val p = naive.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin") && !p.contains("Window"), p)
    assert(naive.as[(Long, String)].collect().toMap === Map(10L -> "v1"))
  }

  test("asOfExec: ties at the probe instant are visible (inclusive <=) and " +
    "the latest of several versions wins") {
    val build = Seq(
      (1L, ts("2024-01-01 00:00:00"), "v1"),
      (1L, ts("2024-01-01 02:00:00"), "v2"),
      (2L, ts("2024-01-01 01:00:00"), "w1"))
      .toDF("k", "t", "v").withColumn("v_t", col("t"))
    val probe = Seq(
      (10L, 1L, ts("2024-01-01 01:00:00")),
      (11L, 1L, ts("2024-01-01 02:00:00")), // exactly at v2 → v2
      (12L, 1L, ts("2024-01-01 03:00:00")),
      (13L, 2L, ts("2024-01-01 00:30:00"))) // before w1 → null
      .toDF("id", "k", "t")
    val got = AsOfJoin.asOf(probe, build, "k", "t", Seq("v_t", "v"))
      .select("id", "v").as[(Long, Option[String])].collect().toMap
    assert(got === Map(10L -> Some("v1"), 11L -> Some("v2"),
      12L -> Some("v2"), 13L -> None))
  }
}
