package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Long-soak state-maintenance probe for the 3-stage crawl frontier
  * (url-dedup → TWS host budget → CDC chunk dedup, all RocksDB-backed).
  *
  * STREAMBENCH's frontier rows prove state BOUNDS at a point (~40
  * batches); a 100-TB streaming deployment's actual risk is CREEP — the
  * seen-set horizon technically bounded but RocksDB SST/changelog files
  * or per-batch wall growing slowly as maintenance (compaction, snapshot
  * upload, tombstone GC) falls behind. This drives thousands of
  * micro-batches at a steady low rate and samples the maintenance
  * surfaces over time:
  *   - state rows per operator class (urls / hosts / chunks),
  *   - rocksdbSstFileSize + rocksdbPinnedBlocksMemoryUsage,
  *   - wall per batch (average since the previous sample).
  *
  * Event time advances 30 min per batch, so the 1-hour watermark horizon
  * turns over every ~2 batches — thousands of horizon turnovers is
  * exactly the regime where lazy tombstone cleanup would accumulate.
  *
  * Output: one JSON line per sample (append-friendly for plotting) and a
  * SOAK-SUMMARY line with quartile-ratio verdicts: mean of the last
  * quarter of samples over the mean of the second quarter (both past
  * warm-up), per metric. Exit 1 when state rows creep (> 1.15x) — the
  * bounded-state claim itself — or when SST bytes or CPU-ms/batch more
  * than double (maintenance falling behind; generous because RocksDB
  * compaction is sawtooth-shaped, not monotone). Wall/batch is reported
  * with per-sample loadavg but is NOT a verdict axis: a multi-hour soak
  * on a shared machine WILL see foreign load, and the r18 negative
  * control proved wall-only creep with flat state/SST is machine load;
  * CPU-ms/batch is the load/steal-immune work axis (compaction debt
  * burns CPU, a descheduled JVM does not).
  *
  * Usage:
  *   SPARK_GRAFT_SOAK_BATCHES=2000 SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.FrontierSoak"
  */
object FrontierSoak {
  def main(args: Array[String]): Unit = {
    val batches = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "2000").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_SOAK_ROWS", "128").toInt
    val sampleEvery = sys.env.getOrElse("SPARK_GRAFT_SOAK_SAMPLE", "100").toInt
    val hosts = 97
    val spark = GraftSession(GraftSession.cpus("8"), logLevel = "ERROR", confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        graft.streaming.Frontier.RocksDbProvider,
      // SPARK_GRAFT_SOAK_CHANGELOG=true switches the RocksDB commit mode
      // to changelog checkpointing (per-batch changelog append; snapshot
      // maintenance async) — the mode whose failure class is changelog
      // files accumulating while snapshots lag. Default stays snapshot
      // mode: it is what every prior soak/STREAMBENCH row measured, and
      // a 32-batch probe measured changelog mode ~3x slower per batch at
      // this tiny per-store state (the async snapshot+replay machinery
      // dominates when a full snapshot is ~200 KB), so the long-horizon
      // run uses the mode that maximizes horizon turnovers per hour.
      "spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled" -> sys.env.getOrElse(
        "SPARK_GRAFT_SOAK_CHANGELOG", "false")))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val fin = MemoryStream[(Long, String, String, Timestamp)]
    val fr = graft.streaming.Frontier.crawlFrontier(
      fin.toDF().toDF("fetch_id", "url", "text", "ts"), "url", "text", "ts",
      watermark = "1 hour", windowSeconds = 1800, maxPerWindow = 40,
      k = 3, divisor = 4, maxLen = 8)
    val q = fr.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()

    case class Sample(batch: Int, urls: Long, hostsRows: Long, chunks: Long,
                      sstBytes: Long, pinnedBytes: Long, msPerBatch: Double,
                      cpuMsPerBatch: Double)
    val samples = Seq.newBuilder[Sample]
    var lastT = System.nanoTime()
    var lastCpu = BenchTelemetry.procCpuNanos()
    (0 until batches).foreach { b =>
      // the STREAMBENCH batch shape at low rate
      fin.addData(StreamingBench.frontierBatch(b, rows, hosts))
      q.processAllAvailable()
      if ((b + 1) % sampleEvery == 0) {
        val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
        val hostsRows = ops.filter(_.operatorName.contains("transformWithState"))
          .map(_.numRowsTotal).sum
        // The urls and chunks stages are BOTH dropDuplicatesWithinWatermark
        // (same operatorName), so they are distinguished by stateOperators
        // INDEX, which is plan-order and fixed for this fixed query shape —
        // not by sorting row counts, which silently swaps the labels
        // whenever chunk state dips below url state. stateOperators lists
        // operators sink-first for this plan (verified by a probe run:
        // index 0 = chunk dedup ~4200 rows, index 2 = url dedup 510 rows at
        // the deterministic schedule's steady state); the assert keeps a
        // future Spark reordering loud instead of mislabeled.
        val dedups = ops.zipWithIndex
          .filter(_._1.operatorName.contains("dedupe"))
        require(dedups.size == 2 && hostsRows >= 0,
          s"expected 2 dedupe ops + 1 TWS op, got " +
            ops.map(o => o.operatorName).mkString(", "))
        val chunkRows = dedups.head._1.numRowsTotal // lower index = sink-side
        val urlRows = dedups.last._1.numRowsTotal
        def metric(name: String): Long = ops.flatMap(o =>
          Option(o.customMetrics.get(name)).map(_.toLong)).sum
        val now = System.nanoTime()
        val nowCpu = BenchTelemetry.procCpuNanos()
        val ms = (now - lastT) / 1e6 / sampleEvery
        val cpuMs = if (lastCpu >= 0 && nowCpu >= lastCpu)
          (nowCpu - lastCpu) / 1e6 / sampleEvery else -1.0
        lastT = now
        lastCpu = nowCpu
        val s = Sample(b + 1, urlRows, hostsRows, chunkRows,
          metric("rocksdbSstFileSize"),
          metric("rocksdbPinnedBlocksMemoryUsage"), ms, cpuMs)
        samples += s
        println(s"""{"batch":${s.batch},"urls":${s.urls},""" +
          s""""hosts":${s.hostsRows},"chunks":${s.chunks},""" +
          s""""sst_bytes":${s.sstBytes},"pinned_bytes":${s.pinnedBytes},""" +
          s""""ms_per_batch":${BenchTelemetry.fmt(s.msPerBatch, 1)},""" +
          s""""cpu_ms_per_batch":${BenchTelemetry.fmt(s.cpuMsPerBatch, 1)},""" +
          s""""la":${BenchTelemetry.fmt(BenchTelemetry.la1(), 1)}}""")
      }
    }
    q.stop()

    // creep adjudication: mean(last quarter) / mean(second quarter) —
    // the first quarter is warm-up (horizon filling + JIT), the second
    // is the steady-state reference
    val all = samples.result()
    val n = all.size
    require(n >= 8, s"need >= 8 samples for quartile ratios, got $n " +
      "(raise SPARK_GRAFT_SOAK_BATCHES or lower SPARK_GRAFT_SOAK_SAMPLE)")
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size
    def ratio(f: Sample => Double): Double = {
      val q2 = all.slice(n / 4, n / 2).map(f)
      val q4 = all.slice(3 * n / 4, n).map(f)
      if (mean(q2) <= 0) -1.0 else mean(q4) / mean(q2)
    }
    val rUrls = ratio(_.urls.toDouble)
    val rChunks = ratio(_.chunks.toDouble)
    val rHosts = ratio(_.hostsRows.toDouble)
    val rSst = ratio(_.sstBytes.toDouble)
    val rMs = ratio(_.msPerBatch)
    val rCpu = ratio(_.cpuMsPerBatch)
    val stateCreep = Seq(rUrls, rChunks, rHosts).exists(_ > 1.15)
    // Maintenance creep is adjudicated on SST bytes and CPU-ms/batch —
    // both immune to foreign machine load. Wall/batch is reported but not
    // a verdict axis: the r18 negative control (a 400-batch run
    // overlapping a DuckDB oracle phase) showed wall q4/q2 = 5.07 on a
    // store whose state/SST ratios were 1.000 — wall-only creep with flat
    // CPU is the machine being busy, not maintenance falling behind. A
    // genuine compaction-debt spiral burns CPU (the work exists), so the
    // CPU axis catches it; wall-only creep gets a LOAD-SUSPECT flag.
    val maintCreep = rSst > 2.0 || (rCpu > 0 && rCpu > 2.0)
    val verdict =
      if (stateCreep) "STATE-CREEP"
      else if (maintCreep) "MAINTENANCE-CREEP"
      else "BOUNDED"
    val wallFlag = if (rMs > 2.0 && !maintCreep && !stateCreep)
      ""","wall_flag":"LOAD-SUSPECT"""" else ""
    import BenchTelemetry.fmt
    println(s"""{"metric":"SOAK-SUMMARY","batches":$batches,""" +
      s""""rows_per_batch":$rows,"samples":$n,""" +
      s""""q4_over_q2":{"urls":${fmt(rUrls, 3)},"chunks":${fmt(rChunks, 3)},""" +
      s""""hosts":${fmt(rHosts, 3)},"sst_bytes":${fmt(rSst, 3)},""" +
      s""""ms_per_batch":${fmt(rMs, 3)},""" +
      s""""cpu_ms_per_batch":${fmt(rCpu, 3)}}$wallFlag,"verdict":"$verdict"}""")
    spark.stop()
    if (verdict != "BOUNDED") sys.exit(1)
  }
}
