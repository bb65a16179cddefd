package graft.serve

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The serving/query layer: the reference's public API is 24 precomputed
  * queries = {all,7days,current} × {planned,unplanned} × {v0,v1,v1.1,v1.2},
  * each `SELECT <version cols> WHERE expiry_date > :cutoff AND planned = :p`
  * (`ServiceAlertBroadcaster.py:43-98`; SURVEY.md §2.7 Ops 44-47).
  *
  * `now` is injected — the reference's `Timestamp.now()` impurity
  * (ServiceAlertBroadcaster.py:79) becomes a parameter so results are
  * reproducible and testable.
  */
object Broadcaster {

  sealed trait TimeWindow
  case object All extends TimeWindow
  case object Last7Days extends TimeWindow
  case object Current extends TimeWindow

  /** Version column lists mirror ServiceAlertBroadcaster.py:43-49:
    * each version is a superset of the previous. */
  def versionColumns(base: Seq[String], version: String): Seq[String] = version match {
    case "v0"   => base
    case "v1"   => base ++ Seq("tweet_text", "toot_text")
    case "v1.1" => base ++ Seq("tweet_text", "toot_text", "area_type", "geospatial_footprint")
    case "v1.2" => base ++ Seq("tweet_text", "toot_text", "area_type", "geospatial_footprint", "status")
    case other  => sys.error(s"unknown API version $other")
  }

  /** Op-44: the three window kinds become one expiry predicate. "All" uses
    * min(expiry)-1day, i.e. everything — computed as a subaggregate, not a
    * collect (ServiceAlertBroadcaster.py:84). */
  def windowPredicate(expiry: Column, window: TimeWindow, now: Timestamp): Column =
    window match {
      case Current   => expiry > lit(now)
      case Last7Days => expiry > lit(now) - expr("INTERVAL 7 DAYS")
      case All       => lit(true)
    }

  /** Ops 44-46 composed: one serving query. */
  def serve(alerts: DataFrame, window: TimeWindow, planned: Boolean,
            cols: Seq[String], now: Timestamp,
            expiryCol: String = "expiry_date",
            plannedCol: String = "planned"): DataFrame =
    alerts
      .where(windowPredicate(col(expiryCol), window, now))
      .where(col(plannedCol) === lit(planned))
      .select(cols.map(col): _*)

  /** The full fan-out: the serving rows are collected ONCE, in one job,
    * and the 24 frames are filtered projections over that local relation.
    * Rendering one of them ([[graft.io.JsonDocumentSink]]) then runs on the
    * driver with no job and no generated code; over the distributed input
    * every document would be a job with its own generated classes.
    *
    * Driver memory: the rows collected here are rows the sinks collect
    * anyway — the two `All`-window `v1.2` documents between them hold
    * every row with every served column — plus the expiry and planned
    * columns the predicates read. Nothing is persisted (a persisted input
    * keeps every column in the block manager, which on a local master is
    * the driver heap too), so there is no cache entry for the caller to
    * release. */
  def fanOut(alerts: DataFrame, baseCols: Seq[String], now: Timestamp,
             windows: Seq[TimeWindow] = Seq(All, Last7Days, Current),
             planneds: Seq[Boolean] = Seq(true, false),
             versions: Seq[String] = Seq("v0", "v1", "v1.1", "v1.2"))
  : Map[(TimeWindow, Boolean, String), DataFrame] = {
    val needed = (versions.flatMap(versionColumns(baseCols, _)) ++
      Seq("expiry_date", "planned")).distinct
    val serving = alerts.select(needed.map(col): _*)
    val local = alerts.sparkSession.createDataFrame(
      java.util.Arrays.asList(serving.collect(): _*), serving.schema)
    val combos = for { w <- windows; p <- planneds; v <- versions } yield (w, p, v)
    combos.map { case (w, p, v) =>
      (w, p, v) -> serve(local, w, p, versionColumns(baseCols, v), now)
    }.toMap
  }
}
