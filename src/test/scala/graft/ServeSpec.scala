package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.JsonDocumentSink
import graft.serve.Broadcaster
import graft.serve.Broadcaster.{All, Current, Last7Days}

class ServeSpec extends SparkTestBase {
  import spark.implicits._

  private val now = Timestamp.valueOf("2024-06-15 00:00:00")

  private def alerts = Seq(
    (1L, "2024-06-20 00:00:00", true, "Open", "t1", "tw1", "to1", "Suburb", "POINT (0 0)"),
    (2L, "2024-06-10 00:00:00", true, "Closed", "t2", "tw2", "to2", "Citywide", null),
    (3L, "2024-06-14 00:00:00", false, "Open", "t3", null, null, null, null),
    (4L, "2023-01-01 00:00:00", false, "Closed", "t4", "tw4", "to4", "Suburb", null))
    .toDF("id", "expiry", "planned", "status", "title",
      "tweet_text", "toot_text", "area_type", "geospatial_footprint")
    .withColumn("expiry_date", to_timestamp($"expiry")).drop("expiry")

  test("Op-44 window predicates: current vs 7days vs all") {
    def ids(w: Broadcaster.TimeWindow, planned: Boolean) =
      Broadcaster.serve(alerts, w, planned, Seq("id"), now)
        .as[Long].collect().sorted.toSeq
    assert(ids(Current, planned = true) == Seq(1L))
    assert(ids(Last7Days, planned = true) == Seq(1L, 2L))
    assert(ids(All, planned = false) == Seq(3L, 4L))
  }

  test("Op-46 version columns are strict supersets") {
    val base = Seq("id", "title")
    val v0 = Broadcaster.versionColumns(base, "v0")
    val v1 = Broadcaster.versionColumns(base, "v1")
    val v11 = Broadcaster.versionColumns(base, "v1.1")
    val v12 = Broadcaster.versionColumns(base, "v1.2")
    assert(v0 == base)
    assert(v1.containsSlice(v0) && v11.containsSlice(v1) && v12.containsSlice(v11))
    assert(v12.contains("status") && v11.contains("geospatial_footprint"))
  }

  test("Op-44-46 fan-out produces all 24 documents") {
    val out = Broadcaster.fanOut(alerts, Seq("id", "title"), now)
    assert(out.size == 24)
    out.foreach { case ((_, _, v), df) =>
      assert(df.columns.toSeq == Broadcaster.versionColumns(Seq("id", "title"), v))
    }
  }

  /** A distributed serving frame (an RDD scan, so collecting it is one
    * job): null fields and a null expiry, sub-second timestamps, both
    * `planned` values, and rows in each of the three windows. */
  private def distributedAlerts = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("title", StringType),
      StructField("tweet_text", StringType), StructField("toot_text", StringType),
      StructField("area_type", StringType),
      StructField("geospatial_footprint", StringType),
      StructField("status", StringType), StructField("planned", BooleanType),
      StructField("expiry_date", TimestampType)))
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      Row(1L, "t1", "tw1", "to1", "Suburb", "POINT (0 0)", "Open", true,
        ts("2024-06-20 10:11:12.345")),
      Row(2L, "t2", null, "to2", "Citywide", null, "Closed", true,
        ts("2024-06-10 00:00:00")),
      Row(3L, null, "tw3", null, null, "POINT (1 1)", "Open", true,
        ts("2023-01-01 00:00:00")),
      Row(4L, "t4 \"quoted\"", "tw4", "to4", "Suburb", null, null, false,
        ts("2024-06-15 00:00:00.000001")),
      Row(5L, "t5", null, null, null, null, "Open", false,
        ts("2024-06-09 23:59:59.999")),
      Row(6L, "t6", "tw6", "to6", "Ward", "POINT (2 2)", "Closed", false,
        ts("2020-02-29 12:00:00")),
      Row(7L, "t7", "tw7", null, "Ward", null, "Open", false, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("Op-44-47 one-pass fan-out: the 24 documents render byte-identical " +
    "to per-document toJSON, in one job") {
    val alerts = distributedAlerts
    val base = Seq("id", "title")
    val expected = for {
      w <- Seq(All, Last7Days, Current); p <- Seq(true, false)
      v <- Seq("v0", "v1", "v1.1", "v1.2")
    } yield (w, p, v) -> Broadcaster.serve(alerts, w, p,
      Broadcaster.versionColumns(base, v), now)
      .toJSON.collect().mkString("[", ",", "]")
    val (docs, jobs) = jobsDuring {
      Broadcaster.fanOut(alerts, base, now).map { case (k, df) =>
        k -> JsonDocumentSink.renderDocument(df)
      }
    }
    assert(docs.size == 24)
    expected.foreach { case (k, doc) => assert(docs(k) == doc, k) }
    // every window and both planned values are fed
    assert(expected.count(_._2 != "[]") == 24)
    // the fan-out's one collect; the 24 renders fold into local relations
    assert(jobs == 1)
  }
}
