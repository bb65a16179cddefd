package graft.ext

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.JobLabel

/** Link-graph analytics over an edge list — the web-crawl curation
  * companion to the similarity/dedup operators: crawl frontiers, seed-list
  * weighting, and domain-authority features for quality scoring all start
  * from "rank the nodes of a 100-TB link graph". Everything is edge-list
  * shaped: never an adjacency matrix, never a collect of the node set.
  *
  * [[pageRank]] runs its rounds on co-partitioned RDDs (the GraphX
  * vertex/edge layout): the rank table and the adjacency share one hash
  * partitioner, so a round is a narrow join, one shuffle and one job.
  *
  * The other iterative operators run each round as a Catalyst plan and
  * truncate its lineage with an eager `localCheckpoint(true)` (swap for a
  * reliable checkpoint() on a cluster where executor loss mid-run must be
  * survivable), so plan size stays constant however many rounds run.
  * Frames read by every round are checkpointed too, not persisted: an
  * InMemoryRelation embeds the derivation lineage in the cached plan, and
  * every task of every round stage that scans the cache pays to
  * deserialize that plan inside its task binary — measured (sf0.1) at
  * ~100 ms CPU per task, ~3 CPU-seconds per 32-task round stage on a
  * 100-node graph; the checkpoint plans as a flat LogicalRDD scan.
  */
object GraphOps {

  /** Fixed-iteration PageRank (power method) over a directed multi-edge
    * list. Parallel edges act as weights: a node's rank is split across its
    * out-edges proportionally to edge multiplicity. Dangling nodes (no
    * out-edges) redistribute their mass uniformly, so total rank stays 1
    * at every iteration. Output: (node, pagerank) with rank rounded to
    * 6 dp; the node universe is src ∪ dst of the edge list, and `node`
    * has the endpoints' common type.
    *
    *   rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out(u) + D/N)
    *
    * where D = Σ rank over dangling nodes. A FIXED iteration count (no
    * convergence test) keeps the result deterministic and cross-engine
    * reproducible — the oracle unrolls the same `iters` rounds.
    *
    * Node ids must be integral, decimal, boolean, date, timestamp or
    * binary-collated string values: the rounds key by the JVM value, whose
    * equality is SQL equality only for those types (a binary id is an
    * array compared by reference, a float id splits 0.0 from -0.0), so any
    * other type is an IllegalArgumentException naming it.
    *
    * Scale notes: Catalyst runs only the prelude (projection, null
    * filter, endpoints cast to their common type). Every table after it
    * is an RDD hash-partitioned by `spark.sql.shuffle.partitions`:
    *   - build (job label `graft:pagerank r0`, one job, plus a job per
    *     exchange inside the caller's edge derivation, which AQE runs when
    *     the prelude becomes an RDD): the normalised
    *     adjacency src → [(dst, p)] takes one shuffle on `src`, collapsing
    *     multi-edges and summing out-weights map-side and per partition;
    *     the node table (node, has_out) takes one shuffle of the endpoints;
    *     the job collects the node count N (the single driver scalar) and
    *     the dangling count per partition;
    *   - round i (label `graft:pagerank r<i>`, one job): ranks ⋈ adjacency
    *     on the shared partitioner (no shuffle), contributions summed with
    *     a map-side combine on `dst` (the round's only shuffle), then a
    *     left join onto the previous rank table — which carries every node
    *     and its has_out flag, so it is the node table — with no shuffle.
    *     The new ranks are localCheckpointed, and the action that
    *     materialises them also returns each partition's dangling mass for
    *     the next round.
    * Release: the node table once round 1 is checkpointed, round i's
    * ranks once round i+1 is, the adjacency after the last round. Only
    * the final ranks stay held, until the returned frame is dropped (the
    * ContextCleaner then frees them). Hot-authority nodes (many in-edges)
    * are absorbed by the map-side sum on `dst`; `src` skew needs one node
    * with a pathological number of distinct out-neighbours. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    require(damping > 0 && damping < 1, "pageRank: damping must be in (0, 1)")
    val spark = edges.sparkSession
    val pairs = edges.select(src.as("src"), dst.as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // the type Catalyst coerces both endpoints to, as in array(src, dst)
    val nodeType = pairs.select(array(col("src"), col("dst"))).schema.head
      .dataType.asInstanceOf[ArrayType].elementType
    requireValueKeys(nodeType)
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val (adj, nodes, n, dangling) = JobLabel.within("pagerank", 0) {
      val adj = pairs
        .select(col("src").cast(nodeType), col("dst").cast(nodeType))
        .rdd.map(r => (r.get(0), r.get(1)))
        .aggregateByKey(mutable.HashMap.empty[Any, Long], part)(
          (w, d) => { w(d) = w.getOrElse(d, 0L) + 1L; w },
          (w, o) => {
            o.foreach { case (d, c) => w(d) = w.getOrElse(d, 0L) + c }; w
          })
        .mapValues { w =>
          val out = w.values.sum.toDouble
          w.iterator.map { case (d, c) => (d, c / out) }.toArray
        }
        .persist()
      val nodes = adj
        .flatMap { case (s, out) =>
          Iterator((s, true)) ++ out.iterator.map(o => (o._1, false))
        }
        .reduceByKey(part, _ || _)
        .persist()
      val counts = nodes.mapPartitions { it =>
        var all, dang = 0L
        it.foreach { case (_, hasOut) => all += 1; if (!hasOut) dang += 1 }
        Iterator((all, dang))
      }.collect()
      (adj, nodes, counts.map(_._1).sum.toDouble, counts.map(_._2).sum)
    }
    var ranks: RDD[(Any, (Double, Boolean))] =
      nodes.mapValues(h => (1.0 / n, h))
    var held: RDD[_] = nodes
    var dm = dangling / n // Σ rank over dangling nodes, round 0
    for (i <- 1 to iters) JobLabel.within("pagerank", i) {
      val dmPrev = dm
      val sums = ranks.join(adj, part)
        .flatMap { case (_, ((r, _), out)) =>
          out.iterator.map { case (d, p) => (d, r * p) }
        }
        .reduceByKey(part, _ + _)
      val next = ranks.leftOuterJoin(sums, part)
        .mapValues { case ((_, hasOut), c) =>
          ((1 - damping) / n + damping * (c.getOrElse(0.0) + dmPrev / n),
            hasOut)
        }
        .localCheckpoint()
      dm = next.mapPartitions { it =>
        Iterator(it.foldLeft(0.0) { case (s, (_, (r, hasOut))) =>
          if (hasOut) s else s + r
        })
      }.collect().sum
      held.unpersist(blocking = false) // next no longer depends on it
      held = next
      ranks = next
    }
    adj.unpersist(blocking = false)
    val schema = StructType(Seq(
      StructField("node", nodeType, nullable = false),
      StructField("rank", DoubleType, nullable = false)))
    spark.createDataFrame(ranks.map { case (v, (r, _)) => Row(v, r) }, schema)
      .select(col("node"), round(col("rank"), 6).as("pagerank"))
  }

  /** Rejects node types whose JVM values do not compare as SQL does (see
    * [[pageRank]]). */
  private def requireValueKeys(t: DataType): Unit = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType | _: DecimalType => ()
    case s: StringType if s.collationId == StringType.collationId => ()
    case other => throw new IllegalArgumentException(
      s"pageRank: node ids of type ${other.sql} are not supported; use an " +
        "integral, decimal, boolean, date, timestamp or binary-collated " +
        "string id")
  }

  /** Per-node triangle count over the undirected simple graph induced by
    * the edge list (direction, multiplicity, and self-loops dropped).
    * Output: (node, n_triangles) for nodes in at least one triangle.
    *
    * Scale shape — the degree-ordered node-iterator: every edge is
    * oriented from its lower (degree, id) endpoint to the higher, which
    * bounds any node's oriented out-degree at O(√m) on any graph, so the
    * wedge self-join on the source key cannot blow up on hub nodes (the
    * naive neighbor-pair form is quadratic in the hub degree — the same
    * failure coVisitation's maxItems guard exists for, here eliminated
    * structurally instead of guarded). Wedges close with one equi-join
    * against the oriented edge set; each triangle materialises exactly
    * once, at its minimum-(degree, id) corner. Three shuffles total
    * (degree, wedge join key, final count) plus the orientation join. */
  /** Synchronous label propagation (community detection): every node
    * adopts the most frequent label among its neighbours each round, ties
    * to the SMALLEST label, isolated/tied-empty nodes keep their current
    * label; labels start as the node ids. A FIXED round count with
    * synchronous updates keeps the result deterministic and
    * oracle-unrollable (asynchronous/randomized LPA is not) — the
    * trade-off is the possibility of label oscillation on bipartite
    * structures, which a fixed horizon simply truncates.
    *
    * Scale shape per round: one equi-join of the (symmetrized, persisted)
    * edge list with the label frame on the neighbour key, one partial-
    * aggregated count on (node, label), and an argmax via max(struct) —
    * no window; per-round localCheckpoint truncation (see [[GraphOps]]).
    * Output: (node, community). */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
                       iters: Int = 3): DataFrame = {
    require(iters >= 1, "labelPropagation: iters must be >= 1")
    val und = simpleUndirected(edges, src, dst)
    // localCheckpoint, not persist: sym is scanned by every round (the
    // task-binary finding in the [[GraphOps]] doc)
    val sym = symmetrized(und).localCheckpoint(true)
    var labels = sym.select("node").distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val votes = sym
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy("node", "label").agg(count(lit(1)).as("__n"))
      // argmax count, ties to the smallest label (ids are non-negative so
      // the -label struct-order trick is safe). `winners` is TOTAL over the
      // node universe — the universe is exactly sym's `node` side (isolated
      // nodes never enter it), sym is symmetric so every universe node has
      // >= 1 nbr row, and `labels` covers the universe by induction — so
      // the old per-round universe left-join + previous-labels coalesce
      // join were 1:1 no-ops (two joins per round, removed; the
      // keep-current-label clause in the contract only ever applied to
      // isolated nodes, which are outside the universe by construction).
      val winners = votes.groupBy("node")
        .agg(max(struct(col("__n"), (-col("label")).as("__neg"))).as("__w"))
        .select(col("node"), (-col("__w.__neg")).as("label"))
      labels = winners.localCheckpoint(true)
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Connected components over the undirected simple graph: synchronous
    * hash-min propagation — each round every node's component id becomes
    * the min of its own and its neighbours' — for a FIXED `rounds` horizon
    * so the result is deterministic and oracle-unrollable. Output:
    * (node, component) with component = the minimum node id within
    * `rounds` hops; exact components for any graph whose component
    * diameter ≤ rounds (the crawl-graph dedup prerequisite: URL-alias
    * clusters and mirror farms have tiny diameters, so a handful of
    * rounds closes them; raise `rounds` for genuinely deep structures, or
    * switch to a large-star/small-star doubling scheme — O(log d) rounds —
    * when diameters are unbounded; the fixed-horizon min-propagation is
    * the portable, unrollable form).
    *
    * Scale shape per round: one equi-join of the (symmetrized, persisted)
    * edge list with the component frame on the neighbour key and one
    * partial-aggregated min on the node — hub fan-in collapses map-side;
    * per-round localCheckpoint truncation (see [[GraphOps]]). */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
                          rounds: Int = 5): DataFrame = {
    require(rounds >= 1, "connectedComponents: rounds must be >= 1")
    val und = simpleUndirected(edges, src, dst)
    // localCheckpoint, not persist — the task-binary finding in the
    // [[GraphOps]] doc
    val sym = symmetrized(und).localCheckpoint(true)
    var comp = sym.select("node").distinct()
      .select(col("node"), col("node").as("component"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // min over {own component} ∪ {neighbours' components} in ONE
      // aggregate: the old shape joined the neighbour-min frame back to
      // comp (join + agg + join per round); unioning comp's own rows into
      // the aggregate computes the identical least(own, nbr-min) with the
      // join removed — one shuffle feeds both roles
      comp = sym
        .join(comp.select(col("node").as("nbr"), col("component")), "nbr")
        .select(col("node"), col("component"))
        .unionByName(comp)
        .groupBy("node").agg(min("component").as("component"))
        .localCheckpoint(true)
    }
    comp
  }

  /** EXACT connected components — the unbounded-diameter complement to the
    * fixed-horizon [[connectedComponents]]: alternates a neighbour-min step
    * with a POINTER-JUMPING step (c ← c(c), one self-join of the label
    * frame), which contracts label chains geometrically, so convergence is
    * O(log diameter) rounds instead of O(diameter) — a path graph of a
    * million nodes closes in ~20 rounds, not a million. Runs to fixpoint
    * (label sums are strictly decreasing until then, so the fixpoint test
    * is exact), `maxRounds` as the runaway guard. Output:
    * (node, component) with component = the component's minimum node id —
    * engine-independent, so the oracle can verify it by transitive closure
    * without replaying the rounds.
    *
    * Scale shape per round: neighbour-min (one nbr-key join + partial-agg
    * min), pointer jump (one label-key self-join), change count (one
    * node-key join over label-cardinality frames); per-round
    * localCheckpoint. The driver sees one count per round — a scalar, the
    * pageRank node-count class. */
  def connectedComponentsExact(edges: DataFrame, src: Column, dst: Column,
                               maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1, "connectedComponentsExact: maxRounds must be >= 1")
    val und = simpleUndirected(edges, src, dst)
    // localCheckpoint, not persist — the task-binary finding in the
    // [[GraphOps]] doc
    val sym = symmetrized(und).localCheckpoint(true)
    var comp = sym.select("node").distinct()
      .select(col("node"), col("node").as("component"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // one-aggregate neighbour-min (the [[connectedComponents]] union
      // fusion: min over own ∪ neighbours' components, join removed)
      val stepped = sym
        .join(comp.select(col("node").as("nbr"), col("component")), "nbr")
        .select(col("node"), col("component"))
        .unionByName(comp)
        .groupBy("node").agg(min("component").as("component"))
        .localCheckpoint(true)
      // pointer jump against the JUST-stepped mapping: c ← c(c)
      val jumped = stepped
        .join(stepped.select(col("node").as("component"),
          col("component").as("__cc")), Seq("component"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("__cc"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      changed = jumped.join(comp.withColumnRenamed("component", "__prev"), "node")
        .where(col("component") =!= col("__prev")).count()
      comp = jumped
      round += 1
    }
    comp
  }

  /** k-core peeling over the undirected simple graph: repeatedly drop
    * nodes whose CURRENT degree is below `k` (each drop can push
    * neighbours below the bar, hence the rounds), for a FIXED `rounds`
    * horizon so the result is deterministic and oracle-unrollable; on
    * graphs where peeling hasn't converged within the horizon the output
    * is the horizon's partial peel — identical in any engine. Output:
    * (node, deg) for surviving nodes with their within-core degree — the
    * dense-subgraph filter web-graph pipelines run before expensive
    * per-node work (spam cores, crawl frontier pruning).
    *
    * Scale shape per round: one degree aggregate (partial-aggregated) and
    * two semi-joins restricting the edge list to surviving nodes — all on
    * the node key, no window, no collect; per-round localCheckpoint as in
    * [[labelPropagation]]. */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
            rounds: Int = 5): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(rounds >= 1, "kCore: rounds must be >= 1")
    var e = simpleUndirected(edges, src, dst).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val deg = symmetrized(e).select("node")
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("node")
      e = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    symmetrized(e).select("node")
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Deterministic fixed-length random walks over the undirected simple
    * graph — the corpus generator for graph-embedding training (DeepWalk /
    * node2vec-style skip-gram input): `walksPerNode` walks start at every
    * node and take `steps` uniform-neighbour steps. "Random" is the house
    * md5 idiom, NOT an RNG: the step-t choice from node u on walk w is
    * neighbour rank md5(w:t:u) mod degree(u), so any engine reproduces the
    * identical walks (the oracle replays them in SQL) and a re-run after
    * failure regenerates the same corpus. Output:
    * (walk_id, step, node), step 0 = the start node.
    *
    * Scale shape — the TWO-PHASE pick: the adjacency is ranked once (one
    * window keyed by node; partition width is the degree) and persisted
    * alongside a one-row-per-node degree table (partial-aggregated, no
    * window); each step (a) joins the frontier to the degree table 1:1 to
    * compute `pick = md5 % deg`, then (b) equi-joins on BOTH keys
    * (node, rank = pick) — O(1) adjacency rows per walk per step. The
    * one-phase form (join the frontier to the FULL neighbour list, then
    * filter rank = pick) materialises deg(cur) rows per walk-step, which
    * on a power-law graph makes every walk sitting on a hub pay the hub's
    * full degree as join fan-out — a transient-volume and skew hazard at
    * 100x; the two-phase form is bit-identical (same pick function) with
    * no fan-out. PlanSpec locks the both-keys equi-join (no post-join rank
    * filter). No window per step, no collect, frontier localCheckpoint per
    * step (the [[GraphOps]] truncation discipline). */
  def randomWalks(edges: DataFrame, src: Column, dst: Column,
                  steps: Int, walksPerNode: Int = 1): DataFrame = {
    require(steps >= 1, "randomWalks: steps must be >= 1")
    require(walksPerNode >= 1, "randomWalks: walksPerNode must be >= 1")
    val und = simpleUndirected(edges, src, dst)
    val sym = symmetrized(und)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("nbr")
    // localCheckpoint, not persist (measured both ways, r19): the frames
    // are scanned every step, so the persist form ships the
    // window-over-edge-derivation lineage in each step task's binary (the
    // task-binary finding in the [[GraphOps]] doc) — isolated min-of-3 at
    // sf0.1: 3.05 s / 2.32 executor-CPU-s persisted vs 2.28 s / 1.44 s
    // checkpointed
    val adj = sym.select(col("node"), col("nbr"),
      (row_number().over(w) - 1).cast("long").as("__rk"))
      .localCheckpoint(true)
    val degrees = sym.groupBy("node")
      .agg(count(lit(1)).cast("long").as("__deg")).localCheckpoint(true)
    var frontier = degrees.select("node")
      .select(col("node"),
        explode(array((0 until walksPerNode).map(lit): _*)).as("__w"))
      .select(concat_ws("#", col("node"), col("__w")).as("walk_id"),
        col("node").as("cur"))
      .localCheckpoint(true)
    val acc = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("walk_id"), lit(0).as("step"), col("cur").as("node")))
    for (t <- 1 to steps) {
      // phase 1: 1:1 degree lookup, pick is a pure column on the frontier
      val picked = frontier
        .join(degrees.withColumnRenamed("node", "cur"), "cur")
        .select(col("walk_id"), col("cur"),
          (conv(substring(
              md5(concat_ws(":", col("walk_id"), lit(t), col("cur"))), 1, 8),
            16, 10).cast("long") % col("__deg")).as("__pick"))
      frontier = walkStepJoin(picked, adj).localCheckpoint(true)
      acc += frontier.select(col("walk_id"), lit(t).as("step"),
        col("cur").as("node"))
    }
    acc.reduce(_ unionByName _)
  }

  /** Phase 2 of the [[randomWalks]] two-phase pick: advance each walk by
    * equi-joining the picked frontier (walk_id, cur, __pick) with the
    * ranked adjacency (node, nbr, __rk) on BOTH keys — (cur = node AND
    * __pick = __rk) — so exactly one adjacency row matches per walk and a
    * hub's full neighbour list is never materialised into the join output.
    * Factored out (package-visible) because the per-step localCheckpoint
    * truncates lineage, hiding this join from the declared query's plan:
    * PlanSpec locks the both-keys equi-join shape on this function
    * directly. */
  private[graft] def walkStepJoin(picked: DataFrame, adj: DataFrame): DataFrame =
    picked
      .join(adj, col("cur") === col("node") && col("__pick") === col("__rk"))
      .select(col("walk_id"), col("nbr").as("cur"))

  /** Local clustering coefficient per node: cc(v) = 2·T(v) / (d(v)·(d(v)−1))
    * over the undirected simple graph, 0 for degree < 2. Output:
    * (node, deg, n_triangles, clustering_coef) for EVERY node of the graph
    * (zero-triangle nodes included — the coefficient is the point here,
    * and a 0 is signal). Composition of [[triangleCount]] with the degree
    * aggregate; one extra left join on the node key. */
  def clusteringCoefficient(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = simpleUndirected(edges, src, dst).persist()
    val deg = degreesOf(und)
    deg.join(triangleCore(und, deg), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering_coef"))
  }

  /** Both orientations of an undirected edge list in ONE pass: explode to
    * (node=a,nbr=b) and (node=b,nbr=a) from each row. Identical multiset
    * to the union-of-two-selects form, but the `und` subtree appears ONCE
    * in the plan — the union form evaluates the (window-derived, distinct)
    * edge derivation twice before any checkpoint truncates it. */
  private def symmetrized(und: DataFrame): DataFrame =
    und.select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr")),
        struct(col("b").as("node"), col("a").as("nbr")))).as("__e"))
      .select(col("__e.node").as("node"), col("__e.nbr").as("nbr"))

  private def simpleUndirected(edges: DataFrame, src: Column,
                               dst: Column): DataFrame =
    edges.select(src.as("__s"), dst.as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()

  private def degreesOf(und: DataFrame): DataFrame =
    symmetrized(und).select("node")
      .groupBy("node").agg(count(lit(1)).as("deg"))

  def triangleCount(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    val und = simpleUndirected(edges, src, dst).persist()
    triangleCore(und, degreesOf(und))
  }

  /** The wedge pipeline over a persisted undirected edge list and its
    * degree table. The oriented edge table feeds three join branches, so
    * it is persisted RUN-SCOPED (like `und` in the callers) — the
    * [[SimilarityOps.semDedup]]/[[LmOps.dsirWeightsSelfRaw]] convention
    * for forked plans: kept lazy (an eager checkpoint chain measured 4×
    * slower on overhead alone), released by the session's cache
    * management (Bench clears per entry; long-lived callers clear or
    * re-create the session). */
  private def triangleCore(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient a↔b from lower (deg, id) to higher; carry the head's degree
    // so wedge pairs can be ordered by the same key
    val orient = und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") || col("__da") === col("__db"),
          struct(col("a").as("u"), col("b").as("v"), col("__db").as("dv")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("v"), col("__da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      // persist (not checkpoint): one-shot three-branch consumer — the
      // randomWalks trade, measured; wedge/close stages are the cost, not
      // the cache-scan task binaries
      .persist()
    val wedges = orient.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
      .join(orient.select(col("u"), col("v").as("v2"), col("dv").as("d2")),
        Seq("u"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val tris = wedges.join(
      orient.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    tris
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
