package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geo.GeocodeMetrics

/** The geocode cascade and the EP-3 enrichment chain on hand-built inputs:
  * the service boundary is consumed exactly once per action, and the chain
  * keeps its column contract on degenerate work sets. */
class GeoQueriesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val cells = GeoQueries.nationCells(spark, sf())

  private def resolve(rows: Seq[(Long, String)], m: GeocodeMetrics) =
    GeoQueries.cascadeResolve(rows.toDF("c_custkey", "loc_text"), cells,
      geocodeMetrics = Some(m))

  test("cascadeResolve: the geocoder is called once per geocoded or " +
    "fallback row in one action, and never for rows an earlier step resolved") {
    val m = GeocodeMetrics(spark)
    val out = resolve(Seq(1L -> "NATION#3", 2L -> "NATIN#4",
        3L -> "unknown place 8", 4L -> "unknown place 9",
        5L -> "unknown place 12", 6L -> "NATION#24"), m)
      .select("c_custkey", "resolution").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "exact", 2L -> "fuzzy", 3L -> "geocoded",
      4L -> "fallback", 5L -> "geocoded", 6L -> "exact"))
    assert(m.calls.value === out.values.count(Set("geocoded", "fallback")))
    assert(m.hits.value === 2L)
  }

  test("cascadeResolve: an all-exact input never reaches the geocoder") {
    val m = GeocodeMetrics(spark)
    val out = resolve((0L until 25L).map(k => k -> s"NATION#$k"), m)
      .select("resolution").as[String].collect()
    assert(out.length === 25 && out.forall(_ == "exact"))
    assert(m.calls.value === 0L)
  }

  private val ep3Cols = Seq("id", "tweet_text", "toot_text", "resolution",
    "fp_area", "inferred_cells", "image_filename")

  test("ep3EnrichStage on degenerate work sets: empty gives an empty frame " +
    "with the 7 columns, one row gives one row") {
    val empty = GeoQueries.ep3EnrichStage(
      Seq.empty[(Long, String, String)].toDF("id", "c_name", "c_mktsegment"), cells)
    assert(empty.columns.toSeq === ep3Cols)
    assert(empty.collect().isEmpty)
    val one = GeoQueries.ep3EnrichStage(
      Seq((7L, "Customer#000000007", "BUILDING")).toDF("id", "c_name", "c_mktsegment"),
      cells).collect()
    assert(one.length === 1)
    assert(one.head.getAs[Long]("id") === 7L)
    assert(one.head.getAs[String]("tweet_text") === "BUILDING: Customer#000000007")
    assert(one.head.getAs[String]("resolution") === "fuzzy")
  }
}
