package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.plans.{AsOfDirection, AsOfJoinPlan}

/** Distributed as-of join: each probe row picks up ONE build row of the same
  * key by time — [[asOf]] the latest with build ts ≤ probe ts (inclusive),
  * the "latest version at event time" lookup of feature stores and slowly-
  * changing dimensions; [[nearest]] the closest in either direction.
  *
  * Both plan through [[graft.plans.AsOfJoinPlan]] →
  * [[graft.plans.AsOfJoinStrategy]] → [[graft.plans.AsOfJoinExec]]: one
  * hash exchange per side on the key, a per-partition sort by (key, ts),
  * and one forward merge of the two sorted streams holding one build row
  * of state — O(|probe| + |build|) rows, where a naive
  * `probe JOIN build ON key AND b.ts <= p.ts` + argmax materialises
  * O(|probe| × versions-per-key) rows before pruning (the shape
  * [[graft.plans.RewriteNaiveAsOf]] rewrites onto the same node). The
  * strategy must be registered: [[graft.functions.GraftExtensions]] injects
  * it, and every session in this repo is built with it.
  *
  * Contract: build must be unique per (key, ts) — pre-aggregate versions if
  * not (equal-ts build rows would make "the" pick ambiguous; see
  * [[graft.operators.LookupJoin.manyToOne]] for the validating helper).
  * Probe rows with no pick null-extend (left as-of semantics), and a NULL
  * key or ts never matches (SQL join-key semantics).
  */
object AsOfJoin {

  /** @param valueCols build columns to carry onto each probe row (must not
    *                  collide with probe column names; rename first). */
  def asOf(probe: DataFrame, build: DataFrame, keyCol: String, tsCol: String,
           valueCols: Seq[String]): DataFrame =
    join("asOf", AsOfDirection.Backward, probe, build, keyCol, tsCol, valueCols)

  /** Nearest-in-time join: each probe row picks the build row minimising
    * |build ts − probe ts| per key, ties to the earlier (backward) side —
    * the sensor-alignment / closest-reading lookup that [[asOf]]'s
    * backward-only convention can't express. `tsCol` must be long,
    * timestamp, int, date or double: the pick compares gaps in its
    * physical value. Build must be unique per (key, ts), the [[asOf]]
    * contract. */
  def nearest(probe: DataFrame, build: DataFrame, keyCol: String,
              tsCol: String, valueCols: Seq[String]): DataFrame =
    join("nearest", AsOfDirection.Nearest, probe, build, keyCol, tsCol, valueCols)

  private def join(op: String, direction: AsOfDirection, probe: DataFrame,
                   build: DataFrame, keyCol: String, tsCol: String,
                   valueCols: Seq[String]): DataFrame = {
    val probeCols = probe.columns.toSeq
    require(valueCols.nonEmpty, s"$op: valueCols must be non-empty")
    require(valueCols.forall(build.columns.contains),
      s"$op: valueCols ${valueCols.filterNot(build.columns.contains)} absent from build side")
    require(valueCols.forall(c => !probeCols.contains(c)),
      s"$op: valueCols ${valueCols.filter(probeCols.contains)} collide with probe columns; rename first")
    // Null-key/null-ts rows never match. On the build side they are dropped;
    // on the probe side they survive and null-extend, as in a left join —
    // but routed AROUND the node: hashing every orphan row into the single
    // null partition just to null-extend it is a straggler task at scale.
    // The bypass is a map-side filter + union; semantics are identical.
    val keyed = col(keyCol).isNotNull && col(tsCol).isNotNull
    val orphans = probe.where(!keyed)
      .select(probeCols.map(col) ++
        valueCols.map(c => lit(null).cast(build.schema(c).dataType).as(c)): _*)
    // fresh build-side attributes via aliases, so a self-as-of (probe and
    // build sharing lineage) never produces duplicate expression ids
    val b = build.where(keyed).select(col(keyCol).as("__asof_k") +:
      col(tsCol).as("__asof_t") +:
      valueCols.map(c => col(c).as(s"__asof_v_$c")): _*)
    val pPlan = PlanBridge.analyzed(probe.where(keyed))
    val bPlan = PlanBridge.analyzed(b)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"$op: no column '$name'"))
    val node = AsOfJoinPlan(pPlan, bPlan,
      attr(pPlan, keyCol), attr(pPlan, tsCol),
      attr(bPlan, "__asof_k"), attr(bPlan, "__asof_t"),
      valueCols.map(c => attr(bPlan, s"__asof_v_$c")), direction)
    PlanBridge.ofRows(probe.sparkSession, node)
      .select(probeCols.map(col) ++
        valueCols.map(c => col(s"__asof_v_$c").as(c)): _*)
      .unionByName(orphans)
  }
}
