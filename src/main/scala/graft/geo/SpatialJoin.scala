package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoExpressions._

/** Spatial overlay join (reference Op-33/34).
  *
  * The reference overlays alert footprints against GIS layer polygons and
  * keeps pairs where the intersection covers > 5% of either side
  * (`ServiceAlertAugmenter.py:649-681`). The layer side is always tiny
  * (suburbs/wards of one city), so the physical strategy is a broadcast
  * nested-loop join with the geometry predicate as the join filter — no
  * shuffle of the big side at any scale; the big side streams through
  * codegen with the broadcast layer in memory.
  *
  * Geometry travels through the join as the [[GeomCodec]] binary form:
  * each side's WKT is parsed ONCE per row in a projection BELOW the join
  * ([[graft.functions.StGeomFromWkt]]), and the per-pair predicate /
  * measures are native expressions over those bytes with a bbox-header
  * reject and a per-thread decode cache — the per-pair WKT re-parse the
  * UDF form paid is gone. Rows whose WKT fails to parse get a null
  * geometry, which the predicate treats as non-intersecting — exactly the
  * UDF tier's defensive-parse behavior.
  *
  * A grid-partitioned spatial join (bucketing both sides by cell id and
  * shuffling on it) is the 100-TB-scale upgrade path when BOTH sides are
  * large; tracked in SURVEY.md §4 as the stretch strategy.
  */
object SpatialJoin {

  /** Pairs (left row, layer row) where the footprints intersect AND the
    * intersection/area ratio of either side exceeds `minRatio`. Convex
    * layer cells take the O(n) clip path; non-convex ones the exact
    * arrangement sweep (Geometry.intersectionArea dispatches).
    *
    * The ratio test is part of the join condition, so `joinType` "left"
    * keeps every `big` row: one with no qualifying cell comes out once,
    * null-extended (the group-collect form of Op-37 needs no join back). */
  def overlayRatio(big: DataFrame, layer: DataFrame,
                   bigWkt: Column, layerWkt: Column,
                   minRatio: Double, joinType: String = "inner"): DataFrame = {
    val b = big.withColumn("__bgeo", stGeomFromWkt(bigWkt))
    val l = layer.withColumn("__lgeo", stGeomFromWkt(layerWkt))
    val inter = stIntersectionAreaBin(col("__bgeo"), col("__lgeo"))
    b.join(broadcast(l), stIntersectsBin(col("__bgeo"), col("__lgeo")) &&
        (inter / stAreaBin(col("__lgeo")) > minRatio ||
          inter / stAreaBin(col("__bgeo")) > minRatio), joinType)
      .drop("__bgeo", "__lgeo")
  }

  /** Op-34: semi-join form — left rows whose footprint intersects any layer
    * polygon. The probe geometry is parsed once per row below the semi-join
    * and dropped from the output projection (semi-join output is the left
    * side's columns; Catalyst prunes `__bgeo` out of the result). */
  def intersectsAny(big: DataFrame, layer: DataFrame,
                    bigWkt: Column, layerWkt: Column): DataFrame =
    big.withColumn("__bgeo", stGeomFromWkt(bigWkt))
      .join(broadcast(layer.withColumn("__lgeo", stGeomFromWkt(layerWkt))),
        stIntersectsBin(col("__bgeo"), col("__lgeo")), "left_semi")
      .drop("__bgeo")

  /** Difference overlay (geopandas `overlay(how="difference")` analogue):
    * each left footprint minus EVERY layer polygon it intersects — the
    * "outside the wards" complement of [[overlayRatio]].
    *
    * Shape: the broadcast intersects join finds each row's (tiny) matched
    * cell set, one groupBy on the row id collects it, and ONE scalar
    * [[Geometry.difference]] per row subtracts the whole set in a single
    * sweep (subtracting cells one at a time would re-trace the boundary per
    * cell). Rows intersecting nothing keep their ORIGINAL WKT verbatim —
    * no re-trace, byte-stable pass-through. Output: (id, diff_wkt,
    * diff_area). */
  def overlayDifference(big: DataFrame, layer: DataFrame, idCol: Column,
                        bigWkt: Column, layerWkt: Column): DataFrame =
    big.select(idCol.as("id"), bigWkt.as("__fp"),
        stGeomFromWkt(bigWkt).as("__fpgeo"))
      .join(broadcast(layer.select(layerWkt.as("__cell"),
          stGeomFromWkt(layerWkt).as("__cellgeo"))),
        stIntersectsBin(col("__fpgeo"), col("__cellgeo")), "left")
      .groupBy(col("id"), col("__fp"))
      .agg(sort_array(collect_list(col("__cell"))).as("__cells"))
      .select(col("id"),
        when(size(col("__cells")) === 0, col("__fp"))
          .otherwise(GeoFunctions.stDifferenceAll(col("__fp"), col("__cells")))
          .as("diff_wkt"))
      .withColumn("diff_area", GeoFunctions.stArea(col("diff_wkt")))
}
