package graft.geo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StringType, StructField}

import graft.enrich.Enrichment

/** External geocoding service boundary (reference
  * ServiceAlertAugmenter.py:76-77,110-121,179-197: a Nominatim client behind
  * a ~0.5 QPS courtesy ceiling).
  *
  * Like Drafter/Locator, the service itself is a trait with a deterministic
  * stub — the engine's job is the *plumbing*: bounding the GLOBAL call rate
  * across a distributed job, and keeping the slice that reaches the service
  * as small as the cascade can make it.
  */
trait Geocoder extends Serializable {
  /** Free-text location → (x, y), or None when the service can't resolve. */
  def geocode(query: String): Option[(Double, Double)]
}

/** Deterministic stub used by tests and the driver query: resolves queries
  * whose trailing integer k is even to ((3k mod 100)/10, (11k mod 100)/10) —
  * pure arithmetic on the key, so a SQL oracle reproduces both the hit set
  * and the coordinates. */
object KeyedStubGeocoder extends Geocoder {
  private val TailInt = "(?s).*?(\\d+)\\s*$".r
  def geocode(query: String): Option[(Double, Double)] = query match {
    case TailInt(ks) =>
      val k = ks.toLong
      if (k % 2 == 0)
        Some(((k * 3 % 100).toDouble / 10.0, (k * 11 % 100).toDouble / 10.0))
      else None
    case _ => None
  }
}

/** Token bucket with an injectable clock (nanos) so the spacing math is unit
  * testable without sleeping. `acquire()` returns how long the caller must
  * wait before issuing its call. */
final class TokenBucket(qps: Double, clock: () => Long) extends Serializable {
  private val intervalNs = (1e9 / qps).toLong
  // seeded from the SAME clock as acquire() reads: nanoTime has an arbitrary
  // origin (and may be negative), so any sentinel like Long.MinValue would
  // underflow `nextFree - now` into a huge positive wait on the first call
  private var nextFree = clock()
  def acquire(): Long = synchronized {
    val now = clock()
    val wait = math.max(0L, nextFree - now)
    nextFree = math.max(now, nextFree) + intervalNs
    wait
  }
}

/** Observable counters for the rate-limited geocode stage, built on Spark
  * accumulators so a distributed run aggregates them for free. The cascade's
  * funnel (how many rows each earlier stage left for the expensive external
  * service, how many the service resolved, and how long the rate limiter
  * held the job) is THE operational signal at scale: on a 100 TB run, a
  * regression in the exact/fuzzy stages shows up here first — as a growing
  * `calls` count against a fixed-QPS ceiling — long before wall-clock does.
  *
  * Accumulator caveat (standard Spark): task retries can re-count; treat the
  * numbers as operational telemetry, not exactly-once accounting. */
final class GeocodeMetrics private (
    val calls: org.apache.spark.util.LongAccumulator,
    val hits: org.apache.spark.util.LongAccumulator,
    val waitNanos: org.apache.spark.util.LongAccumulator) extends Serializable {
  def misses: Long = calls.value - hits.value
}

object GeocodeMetrics {
  def apply(spark: org.apache.spark.sql.SparkSession): GeocodeMetrics = {
    val sc = spark.sparkContext
    new GeocodeMetrics(
      sc.longAccumulator("graft.geocode.calls"),
      sc.longAccumulator("graft.geocode.hits"),
      sc.longAccumulator("graft.geocode.waitNanos"))
  }
}

object GeocodeStage {

  private def defaultSleep(ns: Long): Unit =
    java.util.concurrent.locks.LockSupport.parkNanos(ns)

  /** Geocode the string column `queryCol` per row through `geocoder`,
    * bounding the global call rate at `qps`. Output: df's columns plus
    * `gx`, `gy`, one row per input row; coords are null where the service
    * can't resolve the query. A null query is never sent: its row carries
    * through with null coords, takes no token and counts in no metric —
    * so a cascade marks the rows an earlier step resolved by nulling their
    * query, and only the stragglers reach the service.
    *
    * Scale note: the stage runs on ONE partition on purpose.
    * An external geocoder is rate-bound (the reference's ceiling is below
    * 1 QPS), so distributing the calls buys nothing — what matters is that
    * the limit holds across the WHOLE job, which per-executor buckets can't
    * guarantee. One partition makes the token bucket globally authoritative;
    * the input must be bounded (a work-limited set), since every row of it
    * passes through that one task. */
  def geocode(df: DataFrame, queryCol: String,
              geocoder: Geocoder, qps: Double,
              sleeper: Long => Unit = defaultSleep,
              metrics: Option[GeocodeMetrics] = None): DataFrame = {
    require(df.schema(queryCol).dataType == StringType,
      s"geocode: $queryCol must be a string column")
    val q = df.schema.fieldIndex(queryCol)
    Enrichment.appendColumns(df.repartition(1),
        StructField("gx", DoubleType), StructField("gy", DoubleType)) { () =>
      val bucket = new TokenBucket(qps, () => System.nanoTime())
      r => if (r.isNullAt(q)) Seq(null, null) else {
        val waitNs = bucket.acquire()
        if (waitNs > 0) sleeper(waitNs)
        val res = geocoder.geocode(r.getString(q))
        metrics.foreach { m =>
          m.calls.add(1); m.waitNanos.add(waitNs)
          if (res.isDefined) m.hits.add(1)
        }
        res.fold(Seq[Any](null, null)) { case (x, y) => Seq(x, y) }
      }
    }
  }
}
