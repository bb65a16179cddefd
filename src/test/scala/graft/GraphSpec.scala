package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.ext.GraphOps

/** PageRank over an edge list: hand-computed rounds, invariants, and a
  * randomized reference check against an in-memory dense power iteration
  * (an independent algorithm — the operator is relational-iterative). */
class GraphSpec extends SparkTestBase with TableDrivenPropertyChecks {

  import spark.implicits._

  /** Dense in-memory power method — same recurrence, different machinery. */
  private def naive(edges: Seq[(Long, Long)], iters: Int,
                    d: Double): Map[Long, Double] = {
    val w = edges.groupBy(identity).map { case (e, g) => e -> g.size.toDouble }
    val out = w.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(r).sum
      val contrib = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (((s, t), ww) <- w) contrib(t) += r(s) * ww / out(s)
      r = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + dm / n))).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int = 5,
                  d: Double = 0.85): Map[Long, Double] =
    GraphOps.pageRank(edges.toDF("s", "t"), col("s"), col("t"),
        iters = iters, damping = d)
      .as[(Long, Double)].collect().toMap

  test("pageRank: one hand-computed round (A→B, B dangling)") {
    // N=2, r0=(.5,.5); dangling mass .5 → rA = .15/2 + .85*(.5/2) = .2875,
    // rB = .15/2 + .85*(.5 + .5/2) = .7125
    val got = run(Seq((1L, 2L)), iters = 1)
    assert(math.abs(got(1L) - 0.2875) < 1e-9)
    assert(math.abs(got(2L) - 0.7125) < 1e-9)
  }

  test("pageRank: ranks sum to 1 and the star centre dominates") {
    val star = (2L to 9L).map(i => (i, 1L)) // all leaves point at 1
    val got = run(star)
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
    assert(got(1L) > got(2L) * 2, s"centre not dominant: $got")
    // leaves are symmetric → identical ranks
    assert((2L to 9L).map(got).distinct.size === 1)
  }

  test("pageRank: parallel edges act as weights") {
    // A splits 2/3 to B, 1/3 to C
    val got = run(Seq((1L, 2L), (1L, 2L), (1L, 3L)))
    assert(got(2L) > got(3L))
  }

  test("pageRank: matches the dense power iteration on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(30)
      val edges = Seq.fill(4 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val iters = 1 + rnd.nextInt(4)
      val got = run(edges, iters = iters)
      val want = naive(edges, iters, 0.85)
      assert(got.keySet === want.keySet, s"trial $trial node universe")
      for ((k, v) <- want)
        assert(math.abs(got(k) - v) < 2e-6,
          s"trial $trial node $k: got ${got(k)} want $v")
    }
  }

  test("pageRank: nodes with no out-edges keep total mass at 1") {
    // chain into a sink: 1→2→3, 3 dangling
    val got = run(Seq((1L, 2L), (2L, 3L)))
    assert(math.abs(got.values.sum - 1.0) < 1e-4)
    assert(got(3L) > got(2L) && got(2L) > got(1L))
  }

  test("pageRank: an empty edge list and all-null endpoints give an empty " +
    "frame with the (node, pagerank) schema") {
    val want = StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("pagerank", DoubleType, nullable = true)))
    val empty = GraphOps.pageRank(Seq.empty[(Long, Long)].toDF("s", "t"),
      col("s"), col("t"))
    assert(empty.schema === want)
    assert(empty.collect().isEmpty)
    val nulls = GraphOps.pageRank(
      Seq[(Option[Long], Option[Long])]((None, None), (Some(1L), None),
        (None, Some(2L))).toDF("s", "t"), col("s"), col("t"))
    assert(nulls.schema === want)
    assert(nulls.collect().isEmpty)
  }

  test("pageRank: a single self-loop keeps rank 1") {
    assert(run(Seq((7L, 7L))) === Map(7L -> 1.0))
  }

  test("pageRank: string node ids rank as their numeric twins do") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 2L))
    val got = GraphOps.pageRank(
        edges.map(e => (s"n${e._1}", s"n${e._2}")).toDF("s", "t"),
        col("s"), col("t"))
      .as[(String, Double)].collect().toMap
    assert(got === run(edges).map { case (k, v) => s"n$k" -> v })
  }

  test("pageRank: an Int source and a Long destination name one node per " +
    "value") {
    val df = GraphOps.pageRank(Seq((1, 2L), (2, 1L), (2, 3L)).toDF("s", "t"),
      col("s"), col("t"))
    assert(df.schema("node").dataType === LongType)
    val got = df.as[(Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(got.toMap === run(Seq((1L, 2L), (2L, 1L), (2L, 3L))))
  }

  test("pageRank: node ids whose JVM values do not compare as SQL does " +
    "(binary, float, double) are rejected by type") {
    val cases = Seq(
      Seq((Array[Byte](1), Array[Byte](1))).toDF("s", "t") -> "BINARY",
      Seq((0.0f, -0.0f)).toDF("s", "t") -> "FLOAT",
      Seq((0.0, -0.0), (Double.NaN, 1.0)).toDF("s", "t") -> "DOUBLE")
    for ((edges, typeName) <- cases) {
      val e = intercept[IllegalArgumentException](
        GraphOps.pageRank(edges, col("s"), col("t")))
      assert(e.getMessage.contains(typeName), e.getMessage)
    }
  }

  test("pageRank: one labelled job per round, at most iters + 4 jobs to " +
    "build and collect, and only the result's ranks stay held") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 3L)).toDF("s", "t")
    val sc = spark.sparkContext
    val firstId = sc.emptyRDD[Int].id // RDDs made below have larger ids
    // getPersistentRDDs holds its RDDs weakly, and a GC releases an RDD no
    // one references; pinning a strong copy at every job start leaves only
    // an explicit unpersist to release one
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val pin = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        pins.add(sc.getPersistentRDDs)
    }
    sc.addSparkListener(pin)
    val (df, labels) = try jobDescriptionsDuring(
      GraphOps.pageRank(edges, col("s"), col("t"), iters = 5))
    finally sc.removeSparkListener(pin)
    assert(labels.nonEmpty && labels.forall(l => l != null &&
      l.startsWith("graft:pagerank ")), labels)
    for (i <- 1 to 5)
      assert(labels.count(_ == s"graft:pagerank r$i") === 1, labels)
    val (rows, collectJobs) = jobsDuring(df.collect())
    assert(rows.length === 5)
    assert(labels.size + collectJobs <= 5 + 4,
      s"${labels.size} jobs to build, $collectJobs to collect")
    val held = sc.getPersistentRDDs.keys.count(_ > firstId)
    assert(held <= 1, s"$held RDDs held after the collect")
  }

  // ---- triangleCount ----

  private def tris(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.triangleCount(edges.toDF("s", "t"), col("s"), col("t"))
      .as[(Long, Long)].collect().toMap

  test("triangleCount: one triangle plus a pendant edge") {
    val got = tris(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // node 4 absent
  }

  test("triangleCount: direction, multiplicity, self-loops all collapse") {
    val got = tris(Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (1L, 3L),
      (2L, 2L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ---- kCore ----

  test("kCore: pendant chain peels away, the clique survives with " +
    "in-core degrees") {
    // K4 plus a tail 4-5-6: k=3 peels 5,6 first round, then... 4 keeps
    // degree 3 inside K4 after the tail drops
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val got = GraphOps.kCore((k4 :+ (4L -> 5L) :+ (5L -> 6L)).toDF("s", "t"),
        col("s"), col("t"), k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: cascading peel empties a tree entirely at k=2") {
    // a path graph has no 2-core: leaves peel, new leaves peel, ...
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = GraphOps.kCore(path.toDF("s", "t"), col("s"), col("t"), k = 2)
      .count()
    assert(got === 0L)
  }

  test("kCore: cycle IS its own 2-core") {
    val cycle = (1L to 5L).map(i => (i, i % 5 + 1))
    val got = GraphOps.kCore(cycle.toDF("s", "t"), col("s"), col("t"), k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 5L).map(_ -> 2L).toMap)
  }

  // ---- labelPropagation ----

  private def lpa(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] =
    GraphOps.labelPropagation(edges.toDF("s", "t"), col("s"), col("t"),
        iters = iters)
      .as[(Long, Long)].collect().toMap

  /** Synchronous in-memory reference: same vote/argmax/tie rules. */
  private def naiveLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet.toSeq.sorted
    var l = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      l = nodes.map { n =>
        val votes = adj(n).map(l).groupBy(identity).view.mapValues(_.size)
        val best = votes.toSeq.map { case (lab, c) => (-c, lab) }.min._2
        n -> best
      }.toMap
    }
    l
  }

  test("labelPropagation: two cliques joined by one bridge separate") {
    val cliqueA = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val cliqueB = for { a <- 11L to 14L; b <- (a + 1) to 14L } yield (a, b)
    val got = lpa(cliqueA ++ cliqueB :+ (4L -> 11L))
    // each clique converges to its own minimum label
    assert((1L to 4L).map(got).toSet === Set(1L))
    assert((11L to 14L).map(got).forall(c => c >= 11L || c == 1L))
    assert(got.values.toSet.size >= 2, s"cliques merged: $got")
  }

  test("labelPropagation: matches the synchronous reference on random graphs") {
    val rnd = new scala.util.Random(21)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(20)
      val edges = Seq.fill(2 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val iters = 1 + rnd.nextInt(3)
      assert(lpa(edges, iters) === naiveLpa(edges, iters), s"trial $trial")
    }
  }

  test("clusteringCoefficient: hand-computed triangle+pendant graph") {
    // triangle 1-2-3 plus pendant 3-4: cc(1)=cc(2)=1 (deg 2, 1 tri),
    // cc(3)=2·1/(3·2)=1/3, cc(4)=0 (deg 1)
    val got = GraphOps.clusteringCoefficient(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "t"),
        col("s"), col("t"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((2L, 1L, 1.0)))
    assert(got(2L) === ((2L, 1L, 1.0)))
    assert(got(3L) === ((3L, 1L, 0.333333)))
    assert(got(4L) === ((1L, 0L, 0.0))) // present, zero coefficient
  }

  test("triangleCount: K4 gives every node 3 triangles; matches brute force " +
    "on random graphs") {
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    assert(tris(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 3) {
      val n = 8 + rnd.nextInt(12)
      val edges = Seq.fill(3 * n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val want = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        k <- (j + 1) until nodes.size
        (a, b, c) = (nodes(i), nodes(j), nodes(k))
        if und((a, b)) && und((b, c)) && und((a, c))
      } { want(a) += 1; want(b) += 1; want(c) += 1 }
      assert(tris(edges) === want.toMap.filter(_._2 > 0), s"trial $trial")
    }
  }

  // ---- connected components ----

  private def comps(edges: Seq[(Long, Long)], rounds: Int = 5): Map[Long, Long] =
    GraphOps.connectedComponents(edges.toDF("s", "t"), col("s"), col("t"),
        rounds = rounds)
      .as[(Long, Long)].collect().toMap

  test("connectedComponents: two components get their min ids") {
    val got = comps(Seq((5L, 3L), (3L, 9L), (20L, 11L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 11L, 20L -> 11L))
  }

  test("connectedComponents: direction/multiplicity/self-loops collapse; " +
    "a chain within the horizon closes") {
    // 1-2-3-4-5 chain: min label 1 needs 4 hops to reach node 5
    val chain = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (5L, 5L), (2L, 3L))
    assert(comps(chain, rounds = 4).values.toSet === Set(1L))
  }

  test("connectedComponents: a horizon short of the diameter truncates " +
    "deterministically") {
    // hash-min after r rounds = min node id within r hops
    val chain = (1L until 8L).map(i => (i, i + 1)) // 1..8 path
    val got = comps(chain, rounds = 2)
    assert(got(8L) === 6L, "node 8 sees only 2 hops back")
    assert(got(3L) === 1L)
  }

  test("connectedComponents: matches a union-find reference on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(15)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // rounds = n is always ≥ diameter, so the fixed horizon is exact here
      assert(comps(edges, rounds = n) === want, s"trial $trial")
    }
  }

  // ---- exact connected components (pointer jumping) ----

  private def compsExact(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.connectedComponentsExact(edges.toDF("s", "t"), col("s"), col("t"))
      .as[(Long, Long)].collect().toMap

  test("connectedComponentsExact: a 60-node path closes in far fewer " +
    "rounds than its diameter") {
    // hash-min alone needs 59 rounds; pointer jumping must converge well
    // inside the default maxRounds = 40 — exactness here PROVES the jump
    val path = (1L until 60L).map(i => (i, i + 1))
    val got = compsExact(path)
    assert(got.values.toSet === Set(1L))
    assert(got.size === 60)
  }

  test("connectedComponentsExact: matches the fixed-horizon form and " +
    "union-find on random graphs", LongRun) {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(20)
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(compsExact(edges) === comps(edges, rounds = n), s"trial $trial")
    }
  }

  // ---- deterministic random walks ----

  /** In-JVM replay of the md5 neighbour choice. */
  private def refWalk(adj: Map[Long, Seq[Long]], start: Long, w: Int,
                      steps: Int): Seq[Long] = {
    def pick(walkId: String, t: Int, u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$walkId:$t:$u".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val nbrs = adj(u)
      nbrs((java.lang.Long.parseLong(hex, 16) % nbrs.size).toInt)
    }
    val id = s"$start#$w"
    (1 to steps).scanLeft(start)((cur, t) => pick(id, t, cur))
  }

  test("randomWalks: every step matches the in-JVM md5 replay") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    val got = GraphOps.randomWalks(edges.toDF("s", "t"), col("s"), col("t"),
        steps = 4, walksPerNode = 2)
      .as[(String, Int, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    assert(got.size === 10, "5 nodes x 2 walks")
    for (start <- 1L to 5L; w <- 0 to 1) {
      val id = s"$start#$w"
      assert(got(id) === refWalk(adj, start, w, 4), s"walk $id diverges")
      assert(got(id).length === 5, "steps 0..4 present")
    }
    // consecutive nodes are genuine neighbours
    got.values.foreach(path =>
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"$a -> $b is not an edge") })
  }
}
