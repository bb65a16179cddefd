package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Checksum, FixerColumns}
import graft.incremental.Incremental
import graft.io.Tables
import graft.operators.Dedup
import graft.serve.{Broadcaster, Emailer}

/** Reference-parity operators (SURVEY.md §2) expressed as queries over the
  * driver's synthetic tables, each with a DuckDB oracle in [[Oracles]].
  * Query names carry the §2 op number they exercise.
  */
object RefQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The query surface's table path helper: `<dir>/<name>.parquet`, read
    * through [[graft.io.Tables]] so building a query starts no schema job. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, s"$dir/$name.parquet")

  /** The events table's `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vector reader only accepts
    * as long, via nanosAsLong), TIMESTAMP_MICROS with isAdjustedToUTC=false
    * (read as TIMESTAMP_NTZ), or a plain UTC timestamp. Dispatch on the
    * scanned dtype so all three decode to the same TIMESTAMP(LTZ) instants —
    * Verify/Bench pin the session TZ to UTC, so the NTZ→LTZ cast preserves
    * the wall-clock values the DuckDB oracles read natively. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    // harmless when ts is already a timestamp; required for the NANOS layout
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val ts = raw.schema("ts").dataType match {
      case LongType         => timestamp_micros(expr("ts div 1000").cast("long"))
      case TimestampNTZType => col("ts").cast("timestamp")
      case _                => col("ts")
    }
    raw.withColumn("ts", ts)
  }

  // ---- headline analytics (bench workload; scans+aggs+joins at scale) ----

  /** Exact-cents money arithmetic for the float-sum aggregates — the
    * q_tpch8 pattern, completed across the family in r17 after the 10x
    * multi-executor sweep caught q_tpch9 flipping its last cent between
    * local[32] and local-cluster: a DOUBLE sum is order-dependent
    * (non-associative), and partial-agg combine order changes with
    * topology, partition count, AND task retries — so a money sum near a
    * half-cent boundary is nondeterministic at exactly the scale that
    * matters. Per-row conversion is a fixed sequence of IEEE ops
    * (identical on both engines); the BIGINT/HUGEINT sums are exact, so
    * combine order cannot matter; sums stay far under 2^53, so the final
    * double division is one deterministic rounding. */
  private def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long") // floor(x+.5): HALF_UP for the
  // non-negative money domain WITHOUT Round's per-row BigDecimal (the
  // round() form measured 2x wall on q_tpch1 — floor stays in native
  // codegen); same IEEE op sequence on both engines
  private def priceCents: Column = cents(col("l_extendedprice"))
  private def discCents: Column = cents(col("l_discount"))
  /** price x (1 - discount) in 1e-4 units, exact. */
  private def discVolume: Column =
    priceCents * cents(lit(1) - col("l_discount"))

  /** TPC-H Q1 shape: one scan, map-side partial agg, tiny shuffle.
    * Quantities are integral doubles (every partial sum an exact integer
    * < 2^53, order-independent already); prices go through the
    * exact-cents path above. */
  val tpch1: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    li.where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(priceCents) / 100.0, 2).as("sum_base_price"),
        round(sum(discVolume) / 10000.0, 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q3 shape: two joins (dimension sides broadcast), top-k. */
  val tpch3: Q = (s, dir) => {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .where(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(discVolume) / 10000.0, 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: the 5-way join — fact table joins orders on the
    * shuffle key, every dimension chain (supplier→nation→region, customer
    * gate) broadcasts; local-supplier predicate (c_nationkey = s_nationkey)
    * applied above the joins. */
  val tpch5: Q = (s, dir) => {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").where(col("r_name") === "ASIA")
    val su = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
    val c = t(s, dir, "customer")
    val li = t(s, dir, "lineitem")
    val asianSupp = su.join(broadcast(n.join(broadcast(r),
        col("n_regionkey") === col("r_regionkey"))),
      col("s_nationkey") === col("n_nationkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asianSupp), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(discVolume) / 10000.0, 2)
        .as("revenue"))
  }

  /** TPC-H Q6 shape: the pure pushdown showcase — one selective scan
    * collapsing to a single aggregate row, no joins, no wide columns. */
  val tpch6: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(priceCents * discCents) / 10000.0, 2)
        .as("revenue"), count(lit(1)).as("n_rows"))

  /** TPC-H Q9 shape (product-line profit): the SHUFFLE-HEAVY anchor — a
    * four-way join whose two big sides (lineitem ⋈ orders on the order
    * key, lineitem ⋈ part on the part key) are key-key joins of
    * corpus-scaled tables that no planner may broadcast at 100 TB, so the
    * engine's sort-merge path is what this query measures (PlanSpec locks
    * it: with size-based broadcasting disabled the whole join tree must
    * plan as SortMergeJoin with zero fallbacks). Only nation (25 rows,
    * scale-constant) carries an explicit broadcast hint; part/supplier/
    * orders are left to size-based planning — broadcast at test SF,
    * shuffled at scale, both correct. Adapted to the testdata schema:
    * there is no partsupp table, so profit drops the supplycost term
    * (the join graph and aggregation shape are the point). */
  val tpch9: Q = (s, dir) => {
    val p = t(s, dir, "part").where(col("p_name").contains("red"))
    val li = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val o = t(s, dir, "orders")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(discVolume) / 10000.0, 2)
        .as("profit"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    * SCALAR SUBQUERY anchor — l_quantity compared against 0.2 × the
    * per-part average, written as SQL so Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubqueries) must turn the per-probe subquery
    * into one per-part aggregate joined back on the part key; a naive
    * execution would re-aggregate lineitem once per probe row. PlanSpec
    * locks the decorrelated shape (equi-joins only, no nested-loop
    * re-execution). The quantity average is EXACT in both engines:
    * quantities are integral, so sum/count stays inside double's 2⁵³ and
    * the 0.2× threshold is the same IEEE value everywhere. */
  val tpch17: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch17_lineitem")
    t(s, dir, "part").createOrReplaceTempView("tpch17_part")
    s.sql("""
      SELECT round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 700.0, 2) AS avg_yearly,
             count(*) AS n_rows
      FROM tpch17_lineitem, tpch17_part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#17' AND p_size < 15
        AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                          FROM tpch17_lineitem l2
                          WHERE l2.l_partkey = p_partkey)""")
  }

  /** TPC-H Q21 shape ("waiting supplier"): the EXISTS / NOT-EXISTS
    * DECORRELATION anchor — both subqueries are correlated on the order
    * key with a NON-EQUI side condition (l2.l_suppkey <> l1.l_suppkey),
    * the double-correlated shape Catalyst must rewrite to one left-semi
    * and one left-anti join over lineitem (RewritePredicateSubquery);
    * a naive execution re-scans lineitem once per probe row. PlanSpec
    * locks the decorrelated plan: exactly one LeftSemi + one LeftAnti,
    * equi on the order key, zero BNLJ/cartesian fallbacks even with
    * broadcasting disabled. DuckDB plans the SAME verbatim text through
    * its own decorrelator, so the hash agreement is an end-to-end
    * cross-engine decorrelation check (the q_tpch17 pattern, extended
    * from scalar to existential subqueries). Adapted to the testdata
    * schema: no l_receiptdate/l_commitdate, so "late" is l_returnflag =
    * 'R' (the join graph, correlation shape, and aggregation are the
    * point). */
  val tpch21: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch21_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("tpch21_orders")
    t(s, dir, "supplier").createOrReplaceTempView("tpch21_supplier")
    s.sql("""
      SELECT s_name, count(*) AS numwait
      FROM tpch21_supplier, tpch21_lineitem l1, tpch21_orders
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM tpch21_lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM tpch21_lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""")
  }

  /** TPC-H Q4 shape — correlated EXISTS decorrelated into ONE semi-join
    * feeding a rollup (the "waiting orders by priority" report; public
    * spec: TPC-H v3 Q4). Adaptation, documented: the testdata lineitem
    * carries neither l_commitdate nor l_receiptdate, so the late-line
    * predicate is the shipment-lag proxy l_shipdate > o_orderdate + 60
    * days — same correlated non-equi shape (equi on the order key PLUS a
    * correlated comparison against an outer column), which is what makes
    * this an optimizer anchor: the decorrelation must carry the non-equi
    * conjunct into the semi-join condition, not re-scan per row. Verbatim
    * SQL on both engines. */
  val tpch4: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch4_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("tpch4_orders")
    s.sql("""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      FROM tpch4_orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        AND EXISTS (SELECT 1 FROM tpch4_lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  /** TPC-H Q22 shape — scalar-subquery threshold + correlated NOT EXISTS
    * into a rollup (the "global sales opportunity" report; public spec:
    * TPC-H v3 Q22). Adaptations, documented: cntrycode = c_custkey % 10
    * (the testdata customer has no c_phone to substring), the anti-join
    * is "no order since 2000-01-01" (every synthetic customer has SOME
    * order, so the verbatim no-orders-ever form is empty), and the
    * above-average-balance threshold is EXACT-INTEGER — balances compare
    * as cents × count > sum-of-cents, because a float avg() differs in
    * the last ulp between engines and would knife-edge the qualifying
    * set. Verbatim SQL on both engines. */
  val tpch22: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("tpch22_customer")
    t(s, dir, "orders").createOrReplaceTempView("tpch22_orders")
    s.sql("""
      SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
        round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS totacctbal
      FROM (
        SELECT c_custkey % 10 AS cntrycode,
               CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        FROM tpch22_customer c,
             (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
                     count(*) AS n
              FROM tpch22_customer WHERE c_acctbal > 0.0) t
        WHERE CAST(round(c_acctbal * 100) AS BIGINT) * t.n > t.s
          AND NOT EXISTS (SELECT 1 FROM tpch22_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'))
      GROUP BY cntrycode
      ORDER BY cntrycode""")
  }

  /** TPC-H Q13 shape — the LEFT OUTER JOIN anchor (customer order-count
    * distribution; public spec: TPC-H v3 Q13). The optimizer property: the
    * priority predicate lives in the join CONDITION, not the WHERE — so the
    * join must stay LeftOuter (a WHERE-side filter on the right table would
    * let Catalyst convert it to inner and silently lose zero-order
    * customers), while the right-side-only conjunct is still pushed into
    * the orders SCAN (legal for the preserved-row side's opposite table,
    * visible in PushedFilters). count(o_orderkey) — not count(*) — carries
    * the null-extension semantics: non-matched customers count 0. Two
    * aggregation levels (per-customer, then distribution). Adaptation,
    * documented: the testdata orders has no o_comment, so the excluded
    * class is o_orderpriority <> '1-URGENT'. Verbatim SQL on both engines. */
  val tpch13: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("tpch13_customer")
    t(s, dir, "orders").createOrReplaceTempView("tpch13_orders")
    s.sql("""
      SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM tpch13_customer LEFT OUTER JOIN tpch13_orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")
  }

  /** TPC-H Q19 shape — the DISJUNCTIVE-PREDICATE anchor (discounted
    * revenue; public spec: TPC-H v3 Q19). The join condition is an OR of
    * three conjunctions that each repeat the p_partkey = l_partkey equi
    * conjunct: BooleanSimplification must factor it out so the join plans
    * as an ordinary equi join (sort-merge at scale) carrying the
    * brand/size/quantity OR as a residual — a planner that fails to factor
    * gets a cartesian, the difference between O(n) and O(n²) at 100 TB.
    * The per-side disjunct implications (p_brand IN (...) on the part
    * scan) are what CNF pushdown buys; PlanSpec locks the equi-join shape.
    * Adaptation, documented: the testdata part has no p_container and
    * lineitem no l_shipmode/l_shipinstruct, so the bands are
    * brand × p_size × l_quantity. Verbatim SQL on both engines. */
  val tpch19: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch19_lineitem")
    t(s, dir, "part").createOrReplaceTempView("tpch19_part")
    s.sql("""
      SELECT round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM tpch19_lineitem, tpch19_part
      WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
             AND p_size BETWEEN 1 AND 5  AND l_quantity >= 1  AND l_quantity <= 11)
         OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
             AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
         OR (p_partkey = l_partkey AND p_brand = 'Brand#15'
             AND p_size BETWEEN 1 AND 15 AND l_quantity >= 20 AND l_quantity <= 30)""")
  }

  /** TPC-H Q15 shape — the MAX-OVER-AGGREGATE anchor (top supplier by
    * quarterly revenue; public spec: TPC-H v3 Q15, the `revenue` view
    * written as a CTE referenced twice: once joined to supplier, once
    * under the scalar max). The optimizer property: the uncorrelated max
    * is ONE scalar-subquery execution over the aggregated (per-supplier,
    * tiny) relation — never a re-aggregation of lineitem per probe row —
    * and the supplier join is an equi join against the same aggregate.
    * Revenue is EXACT-INTEGER (price-cents × discount-complement-cents,
    * both BIGINT) because the view's `total_revenue = max(total_revenue)`
    * equality is a knife edge: a float sum differs in the last ulp between
    * engines/summation orders and would flip the argmax set. Verbatim SQL
    * on both engines. */
  val tpch15: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch15_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("tpch15_supplier")
    s.sql("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS total_rev_e4
        FROM tpch15_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
             round(CAST(total_rev_e4 AS DOUBLE) / 10000, 2) AS total_revenue
      FROM tpch15_supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_rev_e4 = (SELECT max(total_rev_e4) FROM revenue)
      ORDER BY s_suppkey""")
  }

  /** TPC-H Q16 shape — the NULL-AWARE NOT-IN anchor (supplier counts by
    * part class, excluding flagged suppliers; public spec: TPC-H v3 Q16).
    * Two distinct mechanisms: (1) `NOT IN (subquery)` has three-valued
    * semantics — one NULL on either side empties/flips the result — so
    * Spark must plan a null-aware anti join (BroadcastHashJoin LeftAnti
    * with isNullAwareAntiJoin=true; the ONLY physical strategy that
    * implements NOT IN without a per-row re-scan, and it is
    * broadcast-only — at 100 TB the flagged-supplier side must be the
    * small one, which it structurally is); (2) count(DISTINCT l_suppkey)
    * plans the two-level distinct aggregate. Adaptations, documented:
    * lineitem stands in for partsupp (no partsupp table), and the flagged
    * set is s_acctbal < 0 (no s_comment to LIKE against). Verbatim SQL on
    * both engines. */
  val tpch16: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch16_lineitem")
    t(s, dir, "part").createOrReplaceTempView("tpch16_part")
    t(s, dir, "supplier").createOrReplaceTempView("tpch16_supplier")
    s.sql("""
      SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM tpch16_lineitem, tpch16_part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#5'
        AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM tpch16_supplier
                              WHERE s_acctbal < 0.0)
      GROUP BY p_brand, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_size""")
  }

  /** TPC-H Q2 shape — the CORRELATED `= min` anchor (minimum-cost
    * supplier; public spec: TPC-H v3 Q2). Q17 proved `<` against a
    * correlated aggregate; this is the EQUALITY form, which additionally
    * requires the decorrelated aggregate to join back WITHOUT losing
    * min-ties (every supplier at the minimum survives), over a 5-way join
    * with a region gate. The equality is portable because min() SELECTS a
    * stored double — no arithmetic, so both engines compare the identical
    * bit pattern parquet stored. Adaptations, documented: lineitem stands
    * in for partsupp and l_extendedprice for ps_supplycost (no partsupp
    * table); no LIMIT (a tie at the 100th rank would make the kept set
    * nondeterministic across engines); p_name replaces p_mfgr in the
    * projection. Verbatim SQL on both engines. */
  val tpch2: Q = (s, dir) => {
    t(s, dir, "part").createOrReplaceTempView("tpch2_part")
    t(s, dir, "supplier").createOrReplaceTempView("tpch2_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch2_lineitem")
    t(s, dir, "nation").createOrReplaceTempView("tpch2_nation")
    t(s, dir, "region").createOrReplaceTempView("tpch2_region")
    s.sql("""
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name
      FROM tpch2_part, tpch2_supplier, tpch2_lineitem, tpch2_nation, tpch2_region
      WHERE p_partkey = l_partkey
        AND s_suppkey = l_suppkey
        AND p_size = 15
        AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                               FROM tpch2_lineitem l2
                               WHERE l2.l_partkey = p_partkey)
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""")
  }

  /** TPC-H Q20 shape — the NESTED-SEMI-JOIN anchor (suppliers with excess
    * shipments of a part class; public spec: TPC-H v3 Q20). Three stacked
    * subqueries: an IN inside an IN, with a correlated scalar threshold at
    * the bottom — Catalyst must decorrelate inside-out into two left-semi
    * joins over a per-part aggregate join, never a per-row re-scan at any
    * level. The threshold average is exact cross-engine for the q_tpch17
    * reason: quantities are integral, sum/count stays inside double's
    * 2⁵³, and 0.5 × is the same IEEE value everywhere. Adaptation,
    * documented: lineitem stands in for partsupp, so "available quantity"
    * is the shipped l_quantity and the inner threshold compares each
    * shipment against half the part's average shipment. Verbatim SQL on
    * both engines. */
  val tpch20: Q = (s, dir) => {
    t(s, dir, "supplier").createOrReplaceTempView("tpch20_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch20_lineitem")
    t(s, dir, "part").createOrReplaceTempView("tpch20_part")
    s.sql("""
      SELECT s_suppkey, s_name, s_acctbal
      FROM tpch20_supplier
      WHERE s_suppkey IN (
        SELECT l1.l_suppkey FROM tpch20_lineitem l1
        WHERE l1.l_partkey IN (SELECT p_partkey FROM tpch20_part
                               WHERE p_name LIKE 'red%')
          AND l1.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l1.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l1.l_quantity > (SELECT 0.5 * avg(l2.l_quantity)
                               FROM tpch20_lineitem l2
                               WHERE l2.l_partkey = l1.l_partkey))
      ORDER BY s_suppkey""")
  }

  /** TPC-H Q7 shape — the CROSS-DIMENSION DISJUNCTION anchor (volume
    * shipped between two nations; public spec: TPC-H v3 Q7). Two copies of
    * the nation dimension join the supplier and customer sides, and the
    * qualifying condition is an OR over BOTH copies' names — unlike Q19's
    * single-join OR this disjunction cannot be factored into either scan,
    * so it must ride ABOVE both equi joins as a filter while the joins
    * themselves stay equi (no product fallback). Nations chosen from the
    * supplier coverage at the smallest test SF (10 suppliers at sf0.001 —
    * NATION_3/NATION_8 both exist there); 4-year window. Verbatim SQL on
    * both engines. */
  val tpch7: Q = (s, dir) => {
    t(s, dir, "supplier").createOrReplaceTempView("tpch7_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch7_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("tpch7_orders")
    t(s, dir, "customer").createOrReplaceTempView("tpch7_customer")
    t(s, dir, "nation").createOrReplaceTempView("tpch7_nation")
    s.sql("""
      SELECT supp_nation, cust_nation, l_year, round(CAST(sum(volume) AS DOUBLE) / 10000.0, 2) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT) AS volume
            FROM tpch7_supplier, tpch7_lineitem, tpch7_orders,
                 tpch7_customer, tpch7_nation n1, tpch7_nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
                OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
              AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")
  }

  /** TPC-H Q8 shape — the CONDITIONAL-AGGREGATE RATIO anchor (national
    * market share; public spec: TPC-H v3 Q8): the widest join in the
    * family (part, supplier, lineitem, orders, customer, nation ×2,
    * region — 8 relations) feeding sum(CASE)/sum per year. The volumes are
    * EXACT-INTEGER (price-cents × discount-complement-cents) so both
    * engines divide the identical integers — a float sum's last-ulp wobble
    * would knife-edge the 4-dp share. The sums stay < 2⁵³, so the
    * HUGEINT(DuckDB)/BIGINT(Spark)→DOUBLE casts agree exactly.
    * Adaptation, documented: market = customers of region AMERICA, product
    * class p_type = 'ECONOMY' (no p_type '%ANODIZED%' classes in the
    * testdata), share measured for supplier nation NATION_3. Verbatim SQL
    * on both engines. */
  val tpch8: Q = (s, dir) => {
    t(s, dir, "part").createOrReplaceTempView("tpch8_part")
    t(s, dir, "supplier").createOrReplaceTempView("tpch8_supplier")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch8_lineitem")
    t(s, dir, "orders").createOrReplaceTempView("tpch8_orders")
    t(s, dir, "customer").createOrReplaceTempView("tpch8_customer")
    t(s, dir, "nation").createOrReplaceTempView("tpch8_nation")
    t(s, dir, "region").createOrReplaceTempView("tpch8_region")
    s.sql("""
      SELECT o_year,
             round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN v ELSE 0 END) AS DOUBLE)
                   / CAST(sum(v) AS DOUBLE), 4) AS mkt_share
      FROM (SELECT year(o_orderdate) AS o_year,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT) AS v,
                   n2.n_name AS nation
            FROM tpch8_part, tpch8_supplier, tpch8_lineitem, tpch8_orders,
                 tpch8_customer, tpch8_nation n1, tpch8_nation n2, tpch8_region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year""")
  }

  /** TPC-H Q10 shape — the TOP-K-AFTER-JOIN-AGGREGATE anchor (returned-item
    * customers; public spec: TPC-H v3 Q10): join-aggregate per customer,
    * then ORDER BY revenue LIMIT 20 — Spark must plan TakeOrderedAndProject
    * (per-partition heaps merged on the driver), never a global sort, the
    * difference between O(n log k) and a full-shuffle sort at 100 TB.
    * Revenue is EXACT-INTEGER with c_custkey as the total-order tiebreak,
    * because a LIMIT at a float tie keeps an engine-dependent subset — the
    * q_tpch15 lesson applied to top-k. Verbatim SQL on both engines. */
  val tpch10: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("tpch10_customer")
    t(s, dir, "orders").createOrReplaceTempView("tpch10_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch10_lineitem")
    t(s, dir, "nation").createOrReplaceTempView("tpch10_nation")
    s.sql("""
      SELECT c_custkey, c_name,
             round(CAST(rev_e4 AS DOUBLE) / 10000, 2) AS revenue, n_name
      FROM (SELECT c_custkey, c_name, n_name,
                   sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS rev_e4
            FROM tpch10_customer, tpch10_orders, tpch10_lineitem, tpch10_nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, n_name) t
      ORDER BY rev_e4 DESC, c_custkey
      LIMIT 20""")
  }

  /** TPC-H Q11 shape — the HAVING-VS-GLOBAL-SCALAR anchor (important stock
    * value; public spec: TPC-H v3 Q11): per-part value aggregate filtered
    * against a threshold computed from the SAME aggregate's global total —
    * the one-row side must be computed once and joined, never re-aggregated
    * per group. The comparison is exact-integer cross-multiplication
    * (v × n > s, i.e. value > mean) because a float fraction of the total
    * would knife-edge the qualifying set. Adaptations, documented: lineitem
    * stands in for partsupp (value = price-cents × quantity), supplier
    * nation NATION_3 (exists at every test SF), and the threshold is the
    * per-part MEAN rather than a scale-factor-dependent fraction of the
    * total (the spec's 0.0001/SF constant has no meaning across our SF
    * range). Verbatim SQL on both engines. */
  val tpch11: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch11_lineitem")
    t(s, dir, "supplier").createOrReplaceTempView("tpch11_supplier")
    t(s, dir, "nation").createOrReplaceTempView("tpch11_nation")
    s.sql("""
      WITH val AS (
        SELECT l_partkey,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS v
        FROM tpch11_lineitem, tpch11_supplier, tpch11_nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
        GROUP BY l_partkey),
      tot AS (SELECT sum(v) AS s, count(*) AS n FROM val)
      SELECT l_partkey, round(CAST(v AS DOUBLE) / 100, 2) AS stock_value
      FROM val, tot
      WHERE v * tot.n > tot.s
      ORDER BY v DESC, l_partkey""")
  }

  /** TPC-H Q12 shape — the JOIN-RESIDUAL CONDITIONAL-COUNT anchor (late
    * shipments by priority class; public spec: TPC-H v3 Q12): an equi join
    * on the order key carrying a cross-side comparison
    * (l_shipdate > o_orderdate + 90 days) as a RESIDUAL — it references
    * both sides, so it can neither push into a scan nor become a join key —
    * feeding two CASE-conditional counts per group. Adaptations,
    * documented: no l_shipmode/l_commitdate/l_receiptdate in the testdata,
    * so groups are l_returnflag, "late" is the 90-day shipment lag, and the
    * priority classes split on o_orderpriority. Verbatim SQL on both
    * engines. */
  val tpch12: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("tpch12_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("tpch12_lineitem")
    s.sql("""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM tpch12_orders, tpch12_lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")
  }

  /** TPC-H Q14 shape — the SINGLE-ROW RATIO anchor (promotion revenue
    * share; public spec: TPC-H v3 Q14): one month of lineitem joined to
    * part, collapsing to one sum(CASE)/sum row. Exact-integer volumes (the
    * q_tpch8 reason); the testdata's p_type domain has a literal 'PROMO'
    * class, so the promo predicate needs no LIKE adaptation. Verbatim SQL
    * on both engines. */
  val tpch14: Q = (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("tpch14_lineitem")
    t(s, dir, "part").createOrReplaceTempView("tpch14_part")
    s.sql("""
      SELECT round(100.0
               * CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) AS DOUBLE)
               / CAST(sum(v) AS DOUBLE), 4) AS promo_revenue
      FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT) AS v,
                   l_partkey
            FROM tpch14_lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00') l, tpch14_part
      WHERE l_partkey = p_partkey""")
  }

  /** TPC-H Q18 shape: group-having on the fact table, then join back. */
  val tpch18: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 150)
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(col("sum_qty"), 2).as("sum_qty"))
  }

  // ---- §2.1 scans / semi-structured ----

  /** Op-2: semi-structured projection — JSON props flattened to columns. */
  val q02JsonFlatten: Q = (s, dir) =>
    events(s, dir).select(col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))

  /** Op-3/Op-4: pruned+pushed scan — only 2 columns read, predicate reaches
    * the parquet reader (verify with .explain: PushedFilters, ReadSchema). */
  val q03ScanPrune: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .where(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("2000-06-01 00:00:00")))
      .select(col("l_orderkey"), col("l_linenumber"))

  // ---- §2.2 incremental / cache ----

  /** Op-9: engine-portable row checksum (md5 over column-name-sorted values). */
  val q09Checksum: Q = (s, dir) =>
    Checksum.withChecksum(t(s, dir, "nation"), salt = "g")
      .select(col("n_nationkey"), col("InputChecksum"))

  private def ordersCk(s: SparkSession, dir: String, mutate: Boolean): DataFrame = {
    val o = t(s, dir, "orders")
    val status = if (mutate)
      when(col("o_orderkey") % 7 === 0, lit("X")).otherwise(col("o_orderstatus"))
    else col("o_orderstatus")
    o.select(col("o_orderkey"),
      md5(concat_ws("", status, col("o_orderpriority"))).as("ck"))
  }

  /** Op-11: cache diff — only rows whose checksum changed are reprocessed. */
  val q11CacheDiff: Q = (s, dir) =>
    Incremental.cacheDiff(
      ordersCk(s, dir, mutate = false), ordersCk(s, dir, mutate = true),
      Seq("o_orderkey", "ck")).select(col("o_orderkey"))

  /** Op-12: cache retain — cached rows whose input is unchanged. */
  val q12CacheRetain: Q = (s, dir) =>
    Incremental.cacheRetain(
      ordersCk(s, dir, mutate = false), ordersCk(s, dir, mutate = true),
      Seq("o_orderkey", "ck")).select(col("o_orderkey"))

  /** Op-13: deterministic bounded work per run. */
  val q13WorkLimit: Q = (s, dir) =>
    Incremental.workLimit(t(s, dir, "orders"),
      Seq(col("o_orderdate"), col("o_orderkey")), 20)
      .select(col("o_orderkey"), col("o_orderdate"))

  /** Op-14: merge fresh results with retained cache. */
  val q14CacheMerge: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val fresh = o.where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), lit("fresh").as("src"))
    val kept = o.where(col("o_orderkey") % 100 =!= 0 && col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("kept").as("src"))
    Incremental.merge(fresh, kept)
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
  }

  /** Op-15: deterministic backfill sampling of incomplete cached rows. */
  val q15Backfill: Q = (s, dir) =>
    Incremental.backfillSample(t(s, dir, "orders"),
      missing = col("o_orderstatus") === "F",
      orderCol = col("o_orderdate"), keyCol = col("o_orderkey"), want = 10)
      .select(col("o_orderkey"))

  // ---- §2.3 scalar canonicalisation (the Fixer) ----

  /** Op-16: regex-validated zero-pad of notification numbers. */
  val q16Zeropad: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val raw = when(col("o_orderkey") % 3 === 0,
        lpad(col("o_orderkey").cast("string"), 10, "0"))
      .when(col("o_orderkey") % 3 === 1, col("o_orderkey").cast("string"))
    o.select(col("o_orderkey").as("id"), raw.as("nn_raw"),
      FixerColumns.zeroPadNotification(raw).as("notification_number"))
  }

  /** Op-17: enum string → nullable boolean. */
  val q17EnumBool: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val raw = when(col("o_orderstatus") === "O", lit("Planned"))
      .when(col("o_orderstatus") === "F", lit("Unplanned"))
      .otherwise(lit("Unknown"))
    o.select(col("o_orderkey"), FixerColumns.plannedFlag(raw).cast("string").as("planned"))
  }

  /** Op-18: ISO parse round-trip + SAST wall-clock view. */
  val q18ParseIso: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val iso = date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
    o.select(col("o_orderkey"), iso.as("iso"),
      FixerColumns.parseIso(iso).as("parsed"),
      FixerColumns.sastWallClock(FixerColumns.parseIso(iso)).as("sast_wall"))
  }

  /** Op-19: expiry = day after the recorded date. */
  val q19Expiry: Q = (s, dir) =>
    t(s, dir, "orders").select(col("o_orderkey"),
      FixerColumns.expiryDate(col("o_orderdate")).as("expiry"))

  /** Op-20: duration between two timestamps, in whole seconds. */
  val q20Duration: Q = (s, dir) =>
    t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg((unix_timestamp(max(col("l_shipdate"))) -
        unix_timestamp(min(col("l_shipdate")))).as("duration_sec"))

  private def hhmm(h: Column, m: Column): Column =
    concat(lpad(h.cast("string"), 2, "0"), lit(":"), lpad(m.cast("string"), 2, "0"))

  /** Op-21: dirty time munging — substring-global "60"→"59" then
    * placeholder→"00:00", preserving the reference's Python replace quirks. */
  val q21DirtyTime: Q = (s, dir) => {
    val e = events(s, dir)
    val raw = when(col("event_id") % 13 === 0, lit("Select..."))
      .when(col("event_id") % 7 === 0,
        concat(lpad(hour(col("ts")).cast("string"), 2, "0"), lit(":60")))
      .otherwise(hhmm(hour(col("ts")), minute(col("ts"))))
    val cleaned = FixerColumns.cleanTimeString(raw)
    val parsed = FixerColumns.guardedTimeParse(cleaned)
    e.select(col("event_id"), raw.as("raw"), cleaned.as("cleaned"),
      (hour(parsed) * 60 + minute(parsed)).cast("long").as("minutes"))
  }

  /** Op-22: guarded parse — junk shapes and invalid clock values → NULL. */
  val q22GuardedParse: Q = (s, dir) => {
    val e = events(s, dir)
    val raw = when(col("event_id") % 5 === 0, lit(null).cast("string"))
      .when(col("event_id") % 5 === 1, lit("junk"))
      .when(col("event_id") % 5 === 2, lit("7:30"))
      .when(col("event_id") % 5 === 3, lit("25:99"))
      .otherwise(hhmm(hour(col("ts")), minute(col("ts"))))
    val parsed = FixerColumns.guardedTimeParse(raw)
    e.select(col("event_id"), raw.as("raw"),
      (hour(parsed) * 60 + minute(parsed)).cast("long").as("minutes"))
  }

  /** Op-23: combine a date's day with an HH:MM time-of-day string. */
  val q23Combine: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val tstr = hhmm(col("o_orderkey") % 24, col("o_custkey") % 60)
    o.select(col("o_orderkey"),
      FixerColumns.combineDateTime(col("o_orderdate"), tstr).as("start_ts"))
  }

  /** Op-24: overnight rollover — end ≤ start means next day. */
  val q24Rollover: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val startTs = FixerColumns.combineDateTime(col("o_orderdate"),
      hhmm(col("o_orderkey") % 24, col("o_custkey") % 60))
    val endTs = FixerColumns.combineDateTime(col("o_orderdate"),
      hhmm(col("o_custkey") % 24, col("o_orderkey") % 60))
    o.select(col("o_orderkey"), startTs.as("start_ts"),
      FixerColumns.rolloverEnd(startTs, endTs).as("end_fixed"))
  }

  /** Op-25: location kept only when not a prefix-overlap dup of description. */
  val q25PrefixCoalesce: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val locRaw = when(col("doc_id") % 4 === 0, substring(col("text"), 1, 30))
      .when(col("doc_id") % 4 === 1, lit("somewhere else"))
    val fallback = concat(lit("area-"), col("lang"))
    d.select(col("doc_id"),
      FixerColumns.locationCoalesce(locRaw, col("text"), fallback).as("location"))
  }

  /** Op-26: rename + canonical projection. */
  val q26RenameProject: Q = (s, dir) =>
    t(s, dir, "lineitem").where(col("l_linenumber") === 1)
      .select(col("l_orderkey").as("alert_id"),
        col("l_returnflag").as("status"),
        col("l_shipdate").as("publish_date"))

  /** Op-27: null-drop filter (dropna on a required column). */
  val q27NullDrop: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .withColumn("prio",
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
    o.na.drop(Seq("prio")).groupBy(col("prio")).agg(count(lit(1)).as("n"))
  }

  // ---- §2.4 joins ----

  /** Op-28: m:1 broadcast lookup join, cardinality-validated (reference
    * `validate="many_to_one"` — a duplicated lookup key fails fast instead
    * of silently fanning out fact rows). */
  val q28LookupJoin: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    graft.operators.LookupJoin.manyToOne(o, c, col("o_custkey"), col("c_custkey"))
      .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Op-29: keep-last dedup with explicit precedence (new overrides old). */
  val q29KeepLast: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val old = o.select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"))
    val fresh = o.where(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("id"), lit("X").as("status"))
    Dedup.keepLast(old, fresh, Seq("id"), col("id")).select(col("id"), col("status"))
  }

  /** Op-30: CDC anti-join — (key,state) pairs unseen in the prior snapshot. */
  val q30CdcAntijoin: Q = (s, dir) => {
    val e = events(s, dir)
    val cutoff = e.agg((min(col("ts")) + expr("INTERVAL 7 DAYS")).as("cutoff"))
    val withCut = e.crossJoin(broadcast(cutoff))
    val prev = withCut.where(col("ts") < col("cutoff"))
      .select(col("user_id"), col("event_type")).distinct()
    val cur = withCut.where(col("ts") >= col("cutoff"))
      .select(col("user_id"), col("event_type"))
    Dedup.changedSince(cur, prev, Seq("user_id", "event_type"))
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
  }

  /** Op-31: idempotent side-effect registry anti-join. */
  val q31SentRegistry: Q = (s, dir) => {
    val e = events(s, dir)
    val wkey = md5(concat_ws(":", col("user_id").cast("string"), col("event_type")))
    val registry = e.where(col("user_id") % 3 === 0)
      .select(md5(concat_ws(":", col("user_id").cast("string"), col("event_type"))).as("rkey"))
      .distinct()
    Dedup.notYetDone(e, registry, wkey, col("rkey"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
  }

  /** Op-32: broadcast map/dict lookup as a column expression. */
  val q32MapLookup: Q = (s, dir) => {
    val hashtags = typedlit(Map(
      "AFRICA" -> "#africa", "AMERICA" -> "#americas", "ASIA" -> "#asia",
      "EUROPE" -> "#europe", "MIDDLE EAST" -> "#mideast"))
    t(s, dir, "nation").join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"),
        try_element_at(hashtags, col("r_name")).as("hashtag"))
  }

  /** Op-35: fuzzy (Levenshtein ≤ 2) top-1 lookup match. */
  val q35FuzzyMatch: Q = (s, dir) => {
    import s.implicits._
    val cands = Seq("Brand#1", "Brand#23", "Brnd#32", "Brand#55x", "Nomatch#9")
      .toDF("cand")
    val brands = t(s, dir, "part").select(col("p_brand")).distinct()
    val scored = cands.crossJoin(brands)
      .withColumn("dist", levenshtein(col("cand"), col("p_brand")).cast("long"))
      .where(col("dist") <= 2)
    val w = Window.partitionBy(col("cand")).orderBy(col("dist"), col("p_brand"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("cand"), col("p_brand").as("best_brand"), col("dist"))
  }

  // ---- §2.5 aggregations ----

  /** Op-36: global min driving the "all" window cutoff. */
  val q36GlobalMin: Q = (s, dir) =>
    t(s, dir, "orders").agg(
      (min(col("o_orderdate")) - expr("INTERVAL 1 DAY")).as("cutoff"))

  /** Op-37: group-collect to a deterministic joined list. */
  val q37GroupCollect: Q = (s, dir) =>
    t(s, dir, "lineitem").where(col("l_orderkey") <= 2000)
      .groupBy(col("l_orderkey"))
      .agg(array_join(transform(array_sort(collect_list(col("l_partkey"))),
        x => x.cast("string")), ",").as("parts"))

  /** Op-39: any/all-null scans as one aggregate pass. */
  val q39NullScan: Q = (s, dir) => {
    val e = events(s, dir)
    val v = when(col("event_id") % 5 === 0, lit(null).cast("double"))
      .otherwise(col("value"))
    e.select(v.as("v")).agg(
      count(lit(1)).as("n_total"),
      count(when(col("v").isNull, 1)).as("n_null"))
      .select(col("n_total"), col("n_null"),
        (col("n_null") > 0).as("any_null"),
        (col("n_null") === col("n_total")).as("all_null"))
  }

  /** Op-40: distinct scan driving per-layer work. */
  val q40Uniques: Q = (s, dir) =>
    events(s, dir).select(col("event_type")).distinct()

  // ---- §2.6 sorts / limits / sampling ----

  /** Op-41/42: deterministic sort-desc + limit. */
  val q41SortDesc: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(100)

  /** Op-43: deterministic pseudo-random sample via md5 ordering (portable
    * replacement for the reference's impure DataFrame.sample). */
  val q43Sample: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .select(col("o_orderkey"))
      .limit(50)

  // ---- §2.7 serving layer ----

  private val nowLit = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")

  private def alertsView(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("id"),
      (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("expiry_date"),
      (col("o_orderkey") % 2 === 0).as("planned"),
      col("o_orderstatus").as("status"))

  /** Op-44/45/46: the "current + planned" serving query. */
  val q44ServeCurrent: Q = (s, dir) =>
    Broadcaster.serve(alertsView(s, dir), Broadcaster.Current, planned = true,
        cols = Seq("id", "status"), now = nowLit)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))

  /** Op-44/45: the "7-day window + unplanned" serving query. */
  val q45Serve7Days: Q = (s, dir) =>
    Broadcaster.serve(alertsView(s, dir), Broadcaster.Last7Days, planned = false,
      cols = Seq("id", "status"), now = nowLit)

  /** Op-46/47: versioned projection (v1.2 superset columns). */
  val q46Versioned: Q = (s, dir) => {
    val o = t(s, dir, "orders").where(col("o_orderkey") <= 5000)
    val tweet = concat(lit("Alert "), col("o_orderkey").cast("string"))
    val av = o.select(
      col("o_orderkey").as("id"),
      col("o_orderpriority").as("title"),
      tweet.as("tweet_text"),
      concat(tweet, lit(" #CapeTown")).as("toot_text"),
      when(col("o_orderkey") % 3 === 0, lit("Citywide")).otherwise(lit("Suburb")).as("area_type"),
      lit(null).cast("string").as("geospatial_footprint"),
      col("o_orderstatus").as("status"))
    av.select(Broadcaster.versionColumns(Seq("id", "title"), "v1.2").map(col): _*)
  }

  /** Op-47 + Ops 44-46 composed: the full 24-document Broadcaster fan-out,
    * summarised as one row per (window, planned, version) with its row and
    * column counts — proves the whole serving surface in one query.
    *
    * ONE aggregation pass: each alert is exploded into the windows it
    * belongs to (≤3 rows, map-side), counted by (window, planned) in a
    * single shuffle, and the 4 API versions — which only change the
    * projection, never the row set — are attached as a tiny broadcast
    * cross-join with their column counts derived from
    * [[Broadcaster.versionColumns]]. No per-combo jobs, no driver loop. */
  val q47BokFanout: Q = (s, dir) => {
    import s.implicits._
    val av = alertsView(s, dir)
    val in7Days = Broadcaster.windowPredicate(col("expiry_date"), Broadcaster.Last7Days, nowLit)
    val inCurrent = Broadcaster.windowPredicate(col("expiry_date"), Broadcaster.Current, nowLit)
    val windowsHit = array_compact(array(
      lit("all"),
      when(in7Days, lit("7days")),
      when(inCurrent, lit("current"))))
    val counts = av
      .select(col("planned"), explode(windowsHit).as("window"))
      .groupBy(col("window"), col("planned"))
      .agg(count(lit(1)).as("n_rows"))
    val versions = Seq("v0", "v1", "v1.1", "v1.2")
      .map(v => (v, Broadcaster.versionColumns(Seq("id", "title"), v).length.toLong))
      .toDF("version", "n_cols")
    counts.crossJoin(broadcast(versions))
      .select(col("window"), col("planned"), col("version"),
        col("n_rows"), col("n_cols"))
      .orderBy("window", "planned", "version")
  }

  /** Op-59: map-image filename logic (the pure-column part of the image
    * render stage): base64 of the identity triple, sha256 when too long. */
  val q59ImageFilename: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val key = concat_ws("_", col("o_orderstatus"), col("o_orderpriority"),
      col("o_orderkey").cast("string"))
    val b64 = base64(substring(key, 1, 48).cast("binary"))
    o.select(col("o_orderkey"),
      when(length(b64) > 22, sha2(key, 256)).otherwise(b64).as("image_filename"))
  }

  /** Op-48: the SQL-string predicate surface (pandas query-string parity). */
  val q48PredicateString: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter("(lower(text) rlike 'stream' or instr(text, 'spark') > 0) and lang <> 'fr'")
      .select(col("doc_id"), col("lang"))

  /** Op-49: array-membership filter (ward membership parity). */
  val q49ArrayFilter: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val toks = graft.ext.TextOps.tokens(col("text"))
    d.where(array_contains(toks, "spark") && col("lang") =!= "de")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
  }

  /** Op-50: dedicated service-area config filter — the literal-bound
    * Column predicate builder over a derived area column (Op-49's array
    * form is q49; this is the equality form the reference's ~120 configs
    * use most). */
  val q50ServiceArea: Q = (s, dir) => {
    val alerts = t(s, dir, "documents").select(col("doc_id"),
      when(col("lang") === "en", lit("Water"))
        .when(col("lang") === "es", lit("Energy"))
        .otherwise(lit("Roads")).as("service_area"))
    alerts.where(Emailer.serviceAreaPredicate("Water"))
  }

  /** Op-51: row→document rendering with null-field pruning. */
  val q51DocRender: Q = (s, dir) => {
    val d = t(s, dir, "documents")
    val toks = graft.ext.TextOps.tokens(col("text"))
    d.select(col("doc_id"), concat_ws(" | ",
      concat(lit("id="), col("doc_id").cast("string")),
      concat(lit("lang="), col("lang")),
      when(col("n_chars") > 100, lit("long")),
      concat(lit("head="), array_join(slice(toks, 1, 3), " "))).as("rendered"))
  }

  /** Op-51 full form + Op-7 naming: the reference's Jinja email — subject
    * line, null-pruned field table, area_type-conditional row drops, array
    * joining — as ONE codegen'd column expression, plus the blob filename
    * (`{config_hash}_{status}_{id}.html`). The physical blob write is
    * [[graft.io.BlobSink]] (spec-covered; a sink has no oracle). */
  val q51HtmlRender: Q = (s, dir) => {
    val o = t(s, dir, "orders").where(col("o_orderkey") <= 2000)
    val status = when(col("o_orderkey") % 3 === 0, lit("Open"))
      .when(col("o_orderkey") % 3 === 1, lit("Closed"))
      .otherwise(lit("In Progress"))
    val title = col("o_orderpriority")
    val area = concat(lit("Area-"), (col("o_custkey") % 10).cast("string"))
    val areaType = when(col("o_orderkey") % 4 === 0, lit("Suburb"))
      .when(col("o_orderkey") % 4 === 1, lit("Official Planning Suburb"))
      .when(col("o_orderkey") % 4 === 2, lit("Citywide"))
    val suburbs = when(col("o_orderkey") % 5 =!= 0, array(
      concat(lit("sub-"), (col("o_orderkey") % 7).cast("string")),
      concat(lit("sub-"), (col("o_custkey") % 7).cast("string"))))
    val wards = array(concat(lit("ward "), (col("o_orderkey") % 11).cast("string")))
    val post = when(col("o_orderkey") % 6 =!= 0,
      concat(lit("Alert "), col("o_orderkey").cast("string")))
    val cfgKey = Emailer.configKey(Emailer.EmailConfig("render-test", Seq("a@x")))
    o.select(col("o_orderkey"),
      Emailer.emailFilename(cfgKey, status, col("o_orderkey")).as("email_filename"),
      Emailer.renderHtml(status, title, area, areaType, suburbs, wards, post)
        .as("html"))
  }

  /** Op-52: config hashing — md5 / sha256 / base64 as column expressions.
    * base64 input kept < 57 bytes to stay clear of MIME line-wrapping
    * differences between engines. */
  val q52Hashing: Q = (s, dir) =>
    t(s, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        md5(col("text")).as("h_md5"),
        sha2(col("text"), 256).as("h_sha"),
        base64(substring(col("text"), 1, 48).cast("binary")).as("h_b64"))

  // ---- §2.8 enrichment (deterministic stub services; real plumbing) ----

  /** Op-53: LLM draft stage — mapPartitions over (id, title, description)
    * behind the Drafter interface, each row carried through with its
    * tweet_text appended. The stub drafter's
    * contract (≤280 chars, None on empty) is SQL-expressible, so this stage
    * gets a full oracle despite being a typed enrichment. */
  val q53LlmDraft: Q = (s, dir) => {
    val d = t(s, dir, "documents").where(col("text").isNotNull)
      .select(col("doc_id").as("id"), col("lang").as("title"),
        col("text").as("description"))
    graft.enrich.Enrichment.draftStage(d, graft.enrich.Enrichment.StubDrafter)
      .select(col("id"), col("tweet_text"))
  }

  /** Op-54: toot derivation — tweet + hashtag map + suffix, pure columns. */
  val q54Toot: Q = (s, dir) => {
    val hashtags = typedlit(Map(
      "en" -> "#water", "es" -> "#energia", "fr" -> "#eau",
      "de" -> "#wasser", "zh" -> "#shui"))
    val d = t(s, dir, "documents").where(col("text").isNotNull)
    val tweet = substring(concat(col("lang"), lit(": "), col("text")), 1, 280)
    d.select(col("doc_id").as("id"),
      graft.enrich.Enrichment.tootColumn(tweet,
        try_element_at(hashtags, col("lang"))).as("toot_text"))
  }

  // ---- EP-2 end-to-end (composed pipeline) ----

  /** The reference's full nightly pipeline as ONE composed query — raw
    * scrape shapes → the entire Fixer battery (Ops 16-27) → validated m:1
    * lookup join (Op-28) → keep-last upsert against tonight's scrape
    * (Op-29) → the serving filter + canonical projection (Ops 44-46).
    * Mirrors the stage DAG (reference
    * `src/dags/service-alerts-pipeline.py:17-45`), the fixer chain
    * (`ServiceAlertFixer.py:162-181`) and the serve step
    * (`ServiceAlertBroadcaster.py:78-95`). Each stage is verified in
    * isolation by its own q-query; this composition catches the class those
    * can't — column collisions, null propagation across stages, and
    * filter/rename interplay — against one composed DuckDB oracle. */
  val qEp2Pipeline: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    // raw scrape shapes (the same planted dirt as the per-op queries)
    val nnRaw = when(col("o_orderkey") % 3 === 0,
        lpad(col("o_orderkey").cast("string"), 10, "0"))
      .when(col("o_orderkey") % 3 === 1, col("o_orderkey").cast("string"))
    val plannedRaw = when(col("o_orderstatus") === "O", lit("Planned"))
      .when(col("o_orderstatus") === "F", lit("Unplanned"))
      .otherwise(lit("Unknown"))
    val iso = date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
    val startRaw = when(col("o_orderkey") % 13 === 0, lit("Select..."))
      .when(col("o_orderkey") % 7 === 0,
        concat(lpad((col("o_custkey") % 24).cast("string"), 2, "0"), lit(":60")))
      .otherwise(hhmm(col("o_custkey") % 24, col("o_orderkey") % 60))
    val endRaw = hhmm(col("o_orderkey") % 24, col("o_custkey") % 60)
    val locRaw = when(col("o_orderkey") % 4 === 0,
        substring(col("o_orderpriority"), 1, 8))
      .when(col("o_orderkey") % 4 === 1, lit("somewhere else"))

    // Ops 16-25: the fixer battery, one projection (all pure columns)
    val publishTs = FixerColumns.parseIso(iso)
    val startClean = FixerColumns.cleanTimeString(startRaw)
    val startTod = FixerColumns.guardedTimeParse(startClean)
    val startTs = FixerColumns.combineDateTime(col("o_orderdate"), startClean)
    val endTs = FixerColumns.combineDateTime(col("o_orderdate"), endRaw)
    val endFixed = FixerColumns.rolloverEnd(startTs, endTs)
    val fixed = o.select(
      col("o_orderkey").as("id"),                     // Op-26 rename+project
      col("o_custkey"),
      col("o_orderpriority").as("title"),
      col("o_orderstatus").as("status"),
      FixerColumns.zeroPadNotification(nnRaw).as("notification_number"), // 16
      FixerColumns.plannedFlag(plannedRaw).as("planned"),                // 17
      FixerColumns.expiryDate(publishTs).as("expiry_date"),           // 18+19
      (hour(startTod) * 60 + minute(startTod)).cast("long")
        .as("start_minutes"),                                         // 21+22
      startTs.as("start_ts"),                                            // 23
      endFixed.as("end_fixed"),                                          // 24
      FixerColumns.durationSeconds(endFixed, startTs),                   // 20
      FixerColumns.locationCoalesce(locRaw, col("o_orderpriority"),
        concat(lit("area-"), (col("o_custkey") % 10).cast("string")))
        .as("location"))                                                 // 25
      .na.drop(Seq("planned"))                                        // Op-27
    // Op-28: validated m:1 broadcast lookup
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val joined = graft.operators.LookupJoin
      .manyToOne(fixed, c, col("o_custkey"), col("c_custkey"))
      .drop("o_custkey", "c_custkey")
    // Op-29: keep-last upsert — tonight's re-scrape overrides the cache
    val freshScrape = joined.where(col("id") % 5 === 0)
      .withColumn("title", lit("UPDATED"))
    val merged = Dedup.keepLast(joined, freshScrape, Seq("id"), col("id"))
    // Ops 44-46: serve "current + planned", canonical projection
    Broadcaster.serve(merged, Broadcaster.Current, planned = true,
      cols = Seq("id", "title", "status", "notification_number",
        "start_minutes", "start_ts", "end_fixed", "duration_sec",
        "location", "c_name", "c_mktsegment"),
      now = java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
  }

  // ---- §2.9 change stream (batch-equivalent; streaming form in stream/) ----

  /** Op-61: first-seen detection — (user,type) pairs new after the cutoff. */
  val q61ChangeStream: Q = (s, dir) => {
    val e = events(s, dir)
    val cutoff = e.agg((min(col("ts")) + expr("INTERVAL 7 DAYS")).as("cutoff"))
    e.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_seen"))
      .join(broadcast(cutoff))
      .where(col("first_seen") >= col("cutoff"))
      .select(col("user_id"), col("event_type"), col("first_seen"))
  }
}
