package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.queries.GeoQueries
import graft.streaming.StreamingAugmenter

/** One committed micro-batch that carried a snapshot. */
final case class Commit(endMs: Double, durations: Map[String, Double],
                        stateRows: Double, stateCommitS: Double, watermarkLagS: Double)

/** The open-loop streaming workload. Inputs (made before the JVM starts):
  * `base/` holds the alert world's tables, `snapshots/s<k>.parquet` the
  * seeded scrapes, `s00000` being the baseline. The first unit merges the
  * baseline, in which every alert is new, into empty checksum state and an
  * empty cache. Then a generator thread drops snapshot k into the watched
  * directory when it is due (every `periodMs`), whether or not the previous
  * one has been merged; the client thread starts a `StreamingAugmenter` run
  * whenever a dropped snapshot is not merged yet. One unit is one snapshot
  * (unit id k); its latency runs from its due time to the end of the
  * micro-batch that merged it into the cache `StageStore`. */
final class AlertsStream(ctx: Ctx, periodMs: Long) {
  import ctx._

  private val base = s"$data/base"
  private val watched = s"$work/watched"
  /** Alerts in the world: rows of the baseline scrape. */
  private var worldRows = 0L
  private var cells: DataFrame = _
  private val commits = mutable.ArrayBuffer.empty[Commit]
  private val enriched = new ConcurrentHashMap[Int, java.lang.Long]()
  private val dropped = new AtomicInteger(0)
  private val due = mutable.ArrayBuffer.empty[Double]
  private val lag = mutable.ArrayBuffer.empty[Double]

  private def snapshotFile(k: Int) = Paths.get(f"$data/snapshots/s$k%05d.parquet")
  val available: Int = new java.io.File(s"$data/snapshots").list().count(_.endsWith(".parquet"))

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val st = p.stateOperators.headOption
        val wm = Option(p.eventTime.get("watermark")).map(ts => java.time.Instant.parse(ts).toEpochMilli)
        val mx = Option(p.eventTime.get("max")).map(ts => java.time.Instant.parse(ts).toEpochMilli)
        val wmLag = (for (w <- wm; m <- mx) yield (m - w) / 1e3).getOrElse(0.0)
        commits.synchronized {
          commits += Commit(startMs + d.getOrElse("triggerExecution", 0.0) * 1e3, d,
            st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            st.map(_.commitTimeMs / 1e3).getOrElse(0.0), wmLag)
        }
      }
    }
  }

  def committed(): Int = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); commits.synchronized(commits.size) }
  def commitList: Seq[Commit] = commits.synchronized(commits.toList)
  def enrichedRows(unit: Int): Long = Option(enriched.get(unit)).map(_.longValue).getOrElse(0L)

  private def drop(k: Int): Unit = {
    val tmp = Paths.get(f"$watched/.s$k%05d.tmp")
    Files.copy(snapshotFile(k), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(f"$watched/s$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One `StreamingAugmenter` run over every snapshot dropped so far;
    * `limit` is its work limit (rows enriched per micro-batch). */
  private def drain(unit: Int, limit: Int): Unit = tracer.span("streaming.run", unit) {
    val q = StreamingAugmenter.run(spark, watched, s"$work/retry", s"$work/checkpoint",
      s"$work/cache", limit, work => tracer.call("queries.ep3EnrichStage", unit, eager = true) {
        if (tracer.on) enriched.merge(unit, work.count(), (a, b) => a + b)
        GeoQueries.ep3EnrichStage(work, cells)
      })
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Register the world's tables and the geo cells the enrich stage reads. */
  def register(): Unit = {
    Workload.registerTables(spark, base, Seq("customer", "nation"))
    cells = GeoQueries.nationCells(spark, base).persist()
    cells.count()
    worldRows = spark.read.parquet(snapshotFile(0).toString).count()
    Files.createDirectories(Paths.get(watched))
    spark.streams.addListener(listener)
  }

  /** The first unit: drop the baseline and merge it, enriching every alert. */
  def runFirst(): Unit = {
    val at = tracer.nowMs()
    drop(0)
    due.synchronized { due += at; lag += 0.0 }
    dropped.set(1)
    drain(0, limit = worldRows.toInt + 1)
  }

  /** Run the open loop: snapshots fall due for `seconds`, and the loop
    * ends when every snapshot that fell due has merged, so each run measures
    * the same number of snapshots. `due`/`lag` hold one entry per dropped
    * snapshot, in order. Returns the epoch ms at which snapshots stopped
    * falling due. */
  def runWindow(seconds: Double): Double = {
    val t0 = tracer.nowMs() + 20
    val end = t0 + seconds * 1e3
    val gen = new Thread(() => {
      var k = 1
      var dueK = t0
      while (dueK < end && k < available) {
        val wait = dueK - tracer.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val at = tracer.nowMs()
        drop(k)
        due.synchronized { due += dueK; lag += at - dueK }
        k += 1
        dropped.set(k)
        dueK = t0 + (k - 1) * periodMs
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    while (gen.isAlive || committed() < dropped.get) {
      val done = committed()
      if (dropped.get > done) drain(done, limit = 40)
      else Thread.sleep(2)
    }
    gen.join()
    end
  }

  def dueTimes: Seq[Double] = due.synchronized(due.toList)
  def lagTimes: Seq[Double] = due.synchronized(lag.toList)

  /** The cache store's latest version, for the oracle gate: one row per
    * alert of the world, with the text the drafting stage wrote for it. */
  def dump(out: String): (Seq[String], String) = {
    val name = "alerts_stream_cache"
    new graft.io.StageStore(spark, s"$work/cache").readLatest().select("id", "tweet_text")
      .write.parquet(s"$out/$name")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(Map(name ->
      "SELECT c_custkey AS id, c_mktsegment || ': ' || c_name AS tweet_text FROM customer")))
    (Seq(name), base)
  }
}
