package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.geo.{GeocodeStage, GeoFunctions, GridJoin, KeyedStubGeocoder, SpatialJoin}

/** Geospatial operators (SURVEY.md Ops 33-35, 38, 56-58) over footprints
  * synthesised deterministically from the driver tables (the testdata has no
  * geometry columns; geometry is derived from keys, so results are stable).
  *
  * World model: nations are 2×2 grid cells tiling [0,10]²; customers are
  * unit squares at positions derived from c_custkey. Because every edge lies
  * on the 0.1 coordinate grid, the queries ARE oracle-checkable in plain
  * SQL: intersection areas are closed-form box overlaps, and union areas
  * rasterise exactly onto 0.1×0.1 cells (an independent check of the
  * dissolve kernel, not a mirror of it). Exact geometry semantics (holes,
  * non-convex clips, collections) are additionally locked by GeoSpec.
  */
object GeoQueries {

  import RefQueries.Q

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** 25 nation grid cells: nation n → [2(n%5), 2(n%5)+2] × [2(n/5), 2(n/5)+2]. */
  private[graft] def nationCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
      GeoFunctions.stBox(
        (col("n_nationkey") % 5).cast("double") * 2.0,
        floor(col("n_nationkey") / 5).cast("double") * 2.0,
        (col("n_nationkey") % 5).cast("double") * 2.0 + 2.0,
        floor(col("n_nationkey") / 5).cast("double") * 2.0 + 2.0).as("cell_wkt"))

  /** Customer unit squares at ((7k mod 100)/10, (13k mod 100)/10). */
  private def customerSquares(s: SparkSession, dir: String, limit: Int): DataFrame = {
    val px = ((col("c_custkey") * 7) % 100).cast("double") / 10.0
    val py = ((col("c_custkey") * 13) % 100).cast("double") / 10.0
    t(s, dir, "customer").where(col("c_custkey") <= limit)
      .select(col("c_custkey"), col("c_name"),
        GeoFunctions.stBox(px, py, px + 1.0, py + 1.0).as("fp_wkt"))
  }

  /** Op-33 + Op-37: overlay join with a ~5% area-ratio filter, then group-
    * collect intersecting cell names per customer (the suburbs/wards
    * inference). minRatio is 0.045, NOT 0.05: intersection areas on this
    * 0.1-grid world are multiples of 0.01, and 0.05 is itself a reachable
    * product (0.1×0.5) — a threshold equal to a reachable value would make
    * the keep/drop decision depend on last-ulp float differences between
    * engines. 0.045 sits 0.005 from the nearest reachable area, so the
    * decision is robust on both sides of the oracle compare. */
  val g33Overlay: Q = (s, dir) =>
    SpatialJoin.overlayRatio(
        customerSquares(s, dir, 500), nationCells(s, dir),
        col("fp_wkt"), col("cell_wkt"), minRatio = 0.045)
      .groupBy(col("c_custkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("inferred_cells"))

  /** Op-34: spatial semi-join — customers whose footprint meets any "ward"
    * (even-keyed cells, mirroring the reference's WARD_YEAR filter). */
  val g34SemiJoin: Q = (s, dir) =>
    SpatialJoin.intersectsAny(
        customerSquares(s, dir, 500),
        nationCells(s, dir).where(col("n_nationkey") % 2 === 0),
        col("fp_wkt"), col("cell_wkt"))
      .select(col("c_custkey"))

  /** Op-38: geometry union aggregate per grid cell + area measure. */
  val g38UnionAgg: Q = (s, dir) =>
    customerSquares(s, dir, 500)
      .withColumn("cell", col("c_custkey") % 25)
      .groupBy(col("cell"))
      .agg(GeoFunctions.stUnionAggOn(col("fp_wkt")).as("union_wkt"),
        count(lit(1)).as("n_parts"))
      .select(col("cell"), col("n_parts"),
        round(GeoFunctions.stArea(col("union_wkt")), 4).as("union_area"))

  /** Grid-partitioned spatial join (SURVEY §4 stretch): customer squares ×
    * order boxes, BOTH sides too large to broadcast at scale — bucketed by
    * 2×2 grid cell, shuffled on the cell id, pair-deduped by the
    * first-common-cell trick inside [[graft.geo.GridJoin]]. Output is the
    * per-customer overlap count, which the box-SQL oracle reproduces with a
    * plain (gridless) overlap join — so the cell bucketing + dedup logic is
    * what's actually under test. */
  val g63GridJoin: Q = (s, dir) => {
    val px = ((col("c_custkey") * 7) % 100).cast("double") / 10.0
    val py = ((col("c_custkey") * 13) % 100).cast("double") / 10.0
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      px.as("ax0"), py.as("ay0"), (px + 1.0).as("ax1"), (py + 1.0).as("ay1"))
    val qx = ((col("o_orderkey") * 11) % 200).cast("double") / 20.0
    val qy = ((col("o_orderkey") * 17) % 200).cast("double") / 20.0
    val ord = t(s, dir, "orders").where(col("o_orderkey") <= 5000)
      .select(col("o_orderkey"),
        qx.as("bx0"), qy.as("by0"), (qx + 0.5).as("bx1"), (qy + 0.5).as("by1"))
    GridJoin.join(cust, ord, cellSize = 2.0)
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_overlaps"))
  }

  /** Polygon difference + erosion (the overlay modes the reference's
    * geopandas `overlay` tool offers beyond intersection,
    * ServiceAlertAugmenter.py:649-681): each customer square minus the
    * dissolved even-keyed "ward" checkerboard (A \ B with genuinely
    * multi-part, edge-sharing B), and the square eroded by a key-derived
    * negative buffer distance. Both are closed-form on the box world —
    * difference area = 1 − Σ cell overlaps (cells disjoint), erosion of a
    * w×h box by d = (w−2d)(h−2d) — so the SQL oracle is independent of the
    * sweep kernel. `diff_area` exercises the geometry TRACE (rings stitched,
    * then shoelace-measured); `diff_area_fast` the measure-only sweep; they
    * must agree with the closed form and each other. */
  val gDiffErode: Q = (s, dir) => {
    import graft.geo.Geometry
    val wards = Geometry.GMulti((0 until 25 by 2).map(n => Geometry.box(
      (n % 5) * 2.0, (n / 5) * 2.0,
      (n % 5) * 2.0 + 2.0, (n / 5) * 2.0 + 2.0)).toIndexedSeq)
    val wardWkt = Geometry.toWkt(wards)
    val d = ((col("c_custkey") % 3).cast("double") + 1.0) / 10.0
    customerSquares(s, dir, 500).select(col("c_custkey"),
      round(GeoFunctions.stArea(
        GeoFunctions.stDifference(col("fp_wkt"), lit(wardWkt))), 4).as("diff_area"),
      round(GeoFunctions.stDifferenceArea(col("fp_wkt"), lit(wardWkt)), 4)
        .as("diff_area_fast"),
      round(GeoFunctions.stArea(GeoFunctions.stBuffer(col("fp_wkt"), -d)), 4)
        .as("erode_area"))
  }

  /** Op-56/57/58 cascade: per alert (customer), resolve a footprint —
    * (1) exact "suburb" lookup by derived name, (2) fuzzy (levenshtein ≤ 2)
    * match against the layer names, (3) the external geocoder behind the
    * rate-limited [[graft.geo.GeocodeStage]] service boundary (reference
    * ServiceAlertAugmenter.py:179-197), (4) fallback: buffered point.
    * Each step only sees what the previous steps could not resolve.
    *
    * Output is a numeric digest (resolution kind + footprint area at 6 dp)
    * rather than raw WKT: the kind and area are closed-form per step, so the
    * whole cascade is oracle-checkable without re-implementing the WKT
    * formatter in SQL. Full WKT-producing behaviour is locked by GeoSpec. */
  /** The derived "location text" shared by g56 and EP-3: exact cell name for
    * 1/3 of alerts, corrupted (fuzzy) for 1/3, free text (geocoder) for 1/3. */
  private def locText(key: Column): Column =
    when(key % 3 === 0, concat(lit("NATION#"), (key % 25).cast("string")))
      .when(key % 3 === 1, concat(lit("NATIN#"), (key % 25).cast("string")))
      .otherwise(concat(lit("unknown place "), key.cast("string")))

  /** The Op-56/57/58 cascade body over (c_custkey, loc_text) rows: returns
    * (c_custkey, cell_wkt, resolution). Factored out of [[g56GeocodeCascade]]
    * so the EP-3 composed pipeline runs the identical stage. */
  private[queries] def cascadeResolve(cust: DataFrame, cells: DataFrame,
                             broadcastFuzzyLayer: Boolean = true,
                             geocodeMetrics: Option[graft.geo.GeocodeMetrics] = None): DataFrame = {
    val layer = cells.select(
      concat(lit("NATION#"), col("n_nationkey").cast("string")).as("layer_name"),
      col("cell_wkt"))
    // (1) exact name match
    val ex = cust.join(broadcast(layer), col("loc_text") === col("layer_name"), "left")
    val exactHit = ex.where(col("layer_name").isNotNull)
      .select(col("c_custkey"), col("cell_wkt"), lit("exact").as("resolution"))
    val rest1 = ex.where(col("layer_name").isNull).select("c_custkey", "loc_text")
    // (2) fuzzy match, best by (distance, name) — size-gated dispatch: the
    // 25-name layer here rides the broadcast nested-loop; a large layer
    // flips the knob and the same step runs as the FastSS deletion
    // equi-join (FuzzyJoin.topOneLeft; both forms output-identical).
    // NOT persisted: the fuzzy join feeds two branches (hits + the geocode
    // slice), so it recomputes once per action — a bounded narrow recompute.
    // A persist here would pin the lineage in the CacheManager for the
    // session's lifetime (and WARN on every re-invocation); at 100 TB a
    // recompute beats an unbounded cache. The stage that must NOT run
    // twice — the rate-limited external geocoder — is consumed exactly
    // once (see below).
    val f1 = graft.operators.FuzzyJoin.topOneLeft(rest1, "c_custkey",
      "loc_text", layer, "layer_name", maxDist = 2,
      broadcastRight = Some(broadcastFuzzyLayer))
    val fuzzyHit = f1.where(col("layer_name").isNotNull)
      .select(col("c_custkey"), col("cell_wkt"), lit("fuzzy").as("resolution"))
    val rest2 = f1.where(col("layer_name").isNull).select("c_custkey", "loc_text")
    // (3)+(4) rate-limited external geocoder (deterministic stub; the qps
    // bound is the service contract, set loose here so the query is
    // instant), with the fallback FUSED into the same projection: one
    // consumer, so each unresolved row reaches the service exactly once
    // per action — no persist needed to hold the service boundary, and the
    // plan stays lazy and lineage-recoverable (an executor loss replays;
    // a cached-only boundary would not)
    val px = ((col("c_custkey") * 7) % 100).cast("double") / 10.0
    val py = ((col("c_custkey") * 13) % 100).cast("double") / 10.0
    val geoResolved = GeocodeStage.geocode(rest2, "c_custkey", "loc_text",
        KeyedStubGeocoder, qps = 1e6, metrics = geocodeMetrics)
      .select(col("c_custkey"),
        when(col("gx").isNotNull,
          GeoFunctions.stBufferEnv(
            GeoFunctions.stPoint(col("gx"), col("gy")), lit(0.02)))
          .otherwise(GeoFunctions.stBufferEnv(
            GeoFunctions.stPoint(px, py), lit(0.01))).as("cell_wkt"),
        when(col("gx").isNotNull, lit("geocoded"))
          .otherwise(lit("fallback")).as("resolution"))
    // per-stage funnel as observed metrics (CollectMetrics — a map-side
    // count piggybacking the action, no extra job): how many rows each
    // cheap stage resolved vs how many leaked through to the rate-limited
    // service. At scale this funnel is the cascade's health signal — a
    // growing geocoded+fallback share against a fixed-QPS ceiling flags a
    // layer/name drift long before wall-clock does. Readable via a
    // QueryExecutionListener (GeocodeSpec) or the SQL UI.
    exactHit.unionByName(fuzzyHit).unionByName(geoResolved)
      .observe("graft.geo.cascade",
        count(when(col("resolution") === "exact", 1)).as("exact"),
        count(when(col("resolution") === "fuzzy", 1)).as("fuzzy"),
        count(when(col("resolution") === "geocoded", 1)).as("geocoded"),
        count(when(col("resolution") === "fallback", 1)).as("fallback"))
  }

  val g56GeocodeCascade: Q = (s, dir) => {
    val cust = t(s, dir, "customer").where(col("c_custkey") <= 500)
      .select(col("c_custkey"), locText(col("c_custkey")).as("loc_text"))
    cascadeResolve(cust, nationCells(s, dir))
      .select(col("c_custkey"), col("resolution"),
        round(GeoFunctions.stArea(col("cell_wkt")), 6).as("fp_area"))
  }

  /** EP-3: the Augmenter nightly chain (reference
    * ServiceAlertAugmenter.py:778-812) composed as ONE query — incremental
    * load (Op-9 checksum → Op-11 cache diff → Op-13 work limit), tweet
    * drafting through the mapPartitions service boundary (Op-53), toot
    * derivation (Op-54), the geocode cascade (Ops 56-58), area inference
    * via overlay + group-collect (Ops 33+37), map-image filename (Op-59),
    * and the cache merge (Ops 12+14). The per-op queries verify each stage
    * in isolation; this locks the STAGE BOUNDARIES — column contracts,
    * join-backs and the fresh/kept union — the way q_ep2_pipeline locks the
    * Fixer chain.
    *
    * World model: alerts are customers ≤ 500 (the geo world). A synthetic
    * re-scrape mutates the status field of every 7th alert, so its checksum
    * diverges from the cache and it becomes tonight's work; the newest 40
    * (publish order) are enriched; unchanged cache rows ride through the
    * merge with their cached tweet and NULL new columns (unionByName
    * allowMissingColumns — the reference's cache passthrough). */
  /** The Augmenter enrichment chain over a WORK-LIMITED alert set — Ops
    * 53→54→56-58→33+37→59, exactly the stage boundaries q_ep3_pipeline
    * locks, factored so the batch pipeline and the streaming composition
    * ([[graft.streaming.StreamingAugmenter]]) run the IDENTICAL stages.
    * `work` must carry (id, c_name, c_mktsegment) and be bounded (the
    * Op-13 contract: every stats-less join-back below rides a broadcast
    * justified by the work limit). Output: (id, tweet_text, toot_text,
    * resolution, fp_area, inferred_cells, image_filename). */
  def ep3EnrichStage(work: DataFrame, cells: DataFrame): DataFrame = {
    import graft.enrich.Enrichment
    // Op-53: drafting service boundary (mapPartitions, join-back on id);
    // the input is work-limited, so the stats-less typed output is
    // parameter-bounded and the join-back rides a broadcast
    val drafted = Enrichment.draftStage(
      work.select(col("id"), col("c_mktsegment").as("title"),
        col("c_name").as("description")),
      Enrichment.StubDrafter, broadcastJoinBack = true)
    // Op-54: toot = tweet + segment hashtag + #CapeTown
    val hashtags = typedlit(Map(
      "BUILDING" -> "#Building", "MACHINERY" -> "#Machinery",
      "HOUSEHOLD" -> "#Household"))
    val tooted = drafted.withColumn("toot_text",
      Enrichment.tootColumn(col("tweet_text"),
        try_element_at(hashtags, col("title"))))
    // Ops 56-58: the geocode cascade over the work set only
    val fp = cascadeResolve(
      tooted.select(col("id").as("c_custkey"), locText(col("id")).as("loc_text")),
      cells)
    // Ops 33+37: infer intersecting cells from the resolved footprint
    val inferred = SpatialJoin.overlayRatio(
        fp.select(col("c_custkey"), col("cell_wkt").as("fp_wkt")), cells,
        col("fp_wkt"), col("cell_wkt"), minRatio = 0.045)
      .groupBy(col("c_custkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
        .as("inferred_cells"))
    // Op-59: map-image filename from the resolution digest. Both join-backs
    // ride broadcasts: the cascade/overlay outputs are stats-less (typed
    // geocode stage in the lineage) but bounded by the work limit
    val fpCols = fp.select(col("c_custkey").as("id"), col("resolution"),
        round(GeoFunctions.stArea(col("cell_wkt")), 6).as("fp_area"))
      .join(broadcast(inferred.withColumnRenamed("c_custkey", "id")),
        Seq("id"), "left")
    val key = concat_ws("_", lit("map"), col("resolution"), col("id").cast("string"))
    val b64 = base64(substring(key, 1, 48).cast("binary"))
    tooted.select(col("id"), col("tweet_text"), col("toot_text"))
      .join(broadcast(fpCols), Seq("id"))
      .withColumn("image_filename",
        when(length(b64) > 22, sha2(key, 256)).otherwise(b64))
  }

  val qEp3Pipeline: Q = (s, dir) => {
    import graft.incremental.Incremental
    val cells = nationCells(s, dir)
    val base = t(s, dir, "customer").where(col("c_custkey") <= 500)
      .select(col("c_custkey").as("id"), col("c_name"), col("c_mktsegment"))
    // Op-9: engine-portable checksum over the scrape-sensitive fields; the
    // re-scrape mutates status for id%7==0 (the q11 ordersCk pattern)
    val curStatus = when(col("id") % 7 === 0, lit("X")).otherwise(col("c_mktsegment"))
    val cur = base.select(col("id"), col("c_name"), col("c_mktsegment"),
      md5(concat_ws("", curStatus, col("c_name"))).as("ck"),
      ((col("id") * 37) % 1000).as("publish_ord"))
    val cache = base.select(col("id"),
      md5(concat_ws("", col("c_mktsegment"), col("c_name"))).as("ck"),
      concat(lit("cached:"), col("id").cast("string")).as("tweet_text"))
    // Op-11 + Op-13: only changed rows, newest first, bounded work
    val work = Incremental.workLimit(
      Incremental.cacheDiff(cur, cache, Seq("id", "ck")),
      Seq(col("publish_ord").desc, col("id")), 40)
    // Ops 53-59: the enrichment chain (shared with the streaming form)
    val fresh = ep3EnrichStage(work, cells).withColumn("src", lit("fresh"))
    // Ops 12+14: unchanged cache rows ride through; fresh overrides
    val kept = Incremental.cacheRetain(cache, cur, Seq("id", "ck"))
      .select(col("id"), col("tweet_text"), lit("kept").as("src"))
    Incremental.merge(fresh, kept)
      .select(col("id"), col("src"), col("tweet_text"), col("toot_text"),
        col("resolution"), col("fp_area"), col("inferred_cells"),
        col("image_filename"))
  }
}
