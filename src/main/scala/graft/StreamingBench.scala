package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming performance evidence for the two stateful paths that claim
  * scale-readiness: watermarked exact dedup (dropDuplicatesWithinWatermark)
  * and the watermarked stream-stream interval join.
  *
  * MemoryStream driver feeding fixed-size micro-batches into the noop sink;
  * the first `warm` batches pay codegen/state-store setup and are excluded,
  * rows/s is measured over the remaining batches. State-store size comes
  * from the query's own StreamingQueryProgress (stateOperators
  * .numRowsTotal) — with event time advancing 30 min per batch under a 1-2 h
  * watermark, a bounded number proves eviction works while data flows (the
  * semantics of that eviction are locked by StreamingSpec's re-emission
  * tests; this main is the throughput/state-size companion).
  *
  * Prints one JSON line; results are recorded in STREAMBENCH.md.
  */
object StreamingBench {

  /** The crawl-frontier feed, shared with FrontierSoak and
    * StreamDecomProbe: batch `b` of `rows` fetches over `hosts` hosts,
    * event time advancing 30 min per batch. 70% fresh pages; the leading
    * 30% are SYNDICATED copies of a later same-batch body under a
    * distinct url with a fresh 3-token header. The spelling variant
    * rotates with (k + b) % 4, so the urls are duplicates only after
    * canonicalization. */
  def frontierBatch(b: Int, rows: Int,
                    hosts: Int): Seq[(Long, String, String, Timestamp)] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val start = (b.toLong * 7 * rows) / 10
    val dup = (3 * rows) / 10
    def body(k: Long): String =
      (0 until 40).map(j => "w" + ((k * 131 + j * 7) % 99991)).mkString(" ")
    (0 until rows).map { i =>
      val k = start + i
      // syndicated copies live in a batch-namespaced /synd/ path: their
      // leading-30% k range overlaps the PREVIOUS batch's keys (start
      // advances by 0.7·rows), so a /d/$k spelling would canonicalize to
      // an already-seen url and die at stage 1 — measured in r14 as zero
      // stage-2 denials and an untouched stage-3 (frontier_state_urls =
      // 4×3500, the fresh-row count). The fresh namespace keeps all rows
      // flowing past the seen-set: ~rows/hosts fetches/host/window
      // against the budget, and the syndicated bodies genuinely reach
      // the chunk-dedup stage.
      val path = if (i < dup) s"synd/$b/$k" else s"d/$k"
      val u = ((k + b) % 4) match {
        case 0 => s"http://host${k % hosts}.example.com/$path?a=1&b=2"
        case 1 => s"HTTP://Host${k % hosts}.Example.COM:80/$path?b=2&a=1"
        case 2 => s"http://host${k % hosts}.example.com/$path?a=1&b=2&utm_source=x"
        case _ => s"http://host${k % hosts}.example.com/$path?a=1&b=2#frag"
      }
      val txt = if (i < dup) s"hdr$b fresh update " + body(k + dup)
        else body(k)
      (k, u, txt, new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
    }
  }

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal).sum

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus("8"),
      confs = Seq("spark.app.name" -> "graft-streaming-bench"))
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val batchRows = 50000
    val warm = 3
    val total = 15

    // ---- watermarked exact dedup ----
    // keys advance 70% per batch (30% are duplicates of the previous batch,
    // inside the watermark); event time advances 30 min/batch under a 1 h
    // watermark, so keys older than ~2 batches evict
    val in = MemoryStream[(String, Timestamp)]
    val dedup = in.toDF().toDF("content_hash", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
    val q1 = dedup.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()
    def dedupBatch(b: Int): Seq[(String, Timestamp)] = {
      val start = (b.toLong * 7 * batchRows) / 10
      (0 until batchRows).map { i =>
        ("k" + (start + i), new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }
    (0 until warm).foreach { b => in.addData(dedupBatch(b)); q1.processAllAvailable() }
    val t1 = System.nanoTime()
    (warm until total).foreach { b => in.addData(dedupBatch(b)); q1.processAllAvailable() }
    val dSec = (System.nanoTime() - t1) / 1e9
    val dRows = (total - warm).toLong * batchRows
    val dState = stateRows(q1)
    q1.stop()

    // ---- watermarked stream-stream interval join ----
    // both sides share the key sequence, so each left row matches ~1 right
    // row inside [lts - 1h, lts]; 2 h watermarks + 30 min/batch advance
    // bound both state stores
    val ls = MemoryStream[(Long, Timestamp)]
    val rs = MemoryStream[(Long, Timestamp, Double)]
    // the library operator (StreamJoin.attributeClicks) with the right side
    // as the "impression": lts ∈ [rts, rts + 1 h] ⟺ rts ∈ [lts - 1 h, lts],
    // so this measures the spec-locked operator, not a bench-local join
    val joined = graft.streaming.StreamJoin.attributeClicks(
      rs.toDF().toDF("rk", "rts", "v"), ls.toDF().toDF("k", "lts"),
      impKey = "rk", clickKey = "k", impTs = "rts", clickTs = "lts",
      watermark = "2 hours", maxDelaySeconds = 3600L)
    val q2 = joined.select("k", "lts", "v").writeStream
      .outputMode(OutputMode.Append()).format("noop").start()
    val half = batchRows / 2
    def sideBatch(b: Int): (Seq[(Long, Timestamp)], Seq[(Long, Timestamp, Double)]) = {
      val t0 = base + b * 30L * 60000
      val ks = (0 until half).map(i => (b.toLong * half + i) % 1000000L)
      (ks.map(k => (k, new Timestamp(t0 + (k % 1800) * 1000L))),
        ks.map(k => (k, new Timestamp(t0 + (k % 1800) * 1000L), k.toDouble)))
    }
    (0 until warm).foreach { b =>
      val (l, r) = sideBatch(b); ls.addData(l); rs.addData(r); q2.processAllAvailable()
    }
    val t2 = System.nanoTime()
    (warm until total).foreach { b =>
      val (l, r) = sideBatch(b); ls.addData(l); rs.addData(r); q2.processAllAvailable()
    }
    val jSec = (System.nanoTime() - t2) / 1e9
    val jRows = (total - warm).toLong * batchRows // input rows across both sides
    val jState = stateRows(q2)
    q2.stop()

    // ---- streaming near-dup dedup (simhashCol + watermarked drop) ----
    // short synthetic documents; 30% of each batch are punctuation variants
    // of the previous batch's docs (same token set -> same signature).
    // Throughput is dominated by the 32 interpreted filter() passes of
    // simhashCol — this number is exactly the honesty row for that cost.
    val nin = MemoryStream[(Long, String, Timestamp)]
    val ndd = graft.streaming.StreamDedup.nearDupDedup(
      nin.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "1 hour")
    val q3 = ndd.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()
    val nddRowsPerBatch = 5000 // simhashCol is ~20× heavier per row than a hash key
    def nddBatch(b: Int): Seq[(Long, String, Timestamp)] = {
      val start = (b.toLong * 7 * nddRowsPerBatch) / 10
      (0 until nddRowsPerBatch).map { i =>
        val k = start + i
        // "u<k>" keeps every key's token set (and thus signature) unique, so
        // state follows the q1 shape: the 30% key overlap between batches is
        // the duplicate load, everything else is a fresh signature
        val words = s"u$k" +: (0 until 11).map(w => s"w${(k * 17 + w * 31) % 5000}")
        (k, words.mkString(" "), new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }
    (0 until warm).foreach { b => nin.addData(nddBatch(b)); q3.processAllAvailable() }
    val t3 = System.nanoTime()
    (warm until total).foreach { b => nin.addData(nddBatch(b)); q3.processAllAvailable() }
    val nSec = (System.nanoTime() - t3) / 1e9
    val nRows = (total - warm).toLong * nddRowsPerBatch
    val nState = stateRows(q3)
    q3.stop()

    // ---- composed EP-3 (checksum state → work limit → enrich → cache) ----
    // the StreamingAugmenter job end-to-end: each "nightly" batch re-scrapes
    // the 500-alert world mutating one residue class (~1/7 of alerts), the
    // checksum state admits only those, the work limit caps enrichment at
    // 40, and the enriched rows upsert a StageStore version. The metric is
    // seconds per micro-batch — the nightly-run latency analogue (the
    // enrichment chain is mapPartitions-service + geometry bound, so
    // rows/s is not the honest unit at a 40-row work cap).
    import graft.streaming.StreamingAugmenter
    import graft.streaming.StreamingAugmenter.AlertSnapshot
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cells = graft.queries.GeoQueries.nationCells(spark, sfDir)
    val alerts = graft.io.Tables.read(spark, s"$sfDir/customer.parquet")
      .where(col("c_custkey") <= 500)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // TTL world: event time advances one day per nightly batch, every
    // alert expires 2 days after its latest scrape, and from batch 3 on
    // one fifth of the alerts stop being scraped — their state must evict
    // once the watermark passes their expiry, so the final state-rows
    // number is the ACTIVE-alert horizon, not every alert ever seen
    val day = 86400000L
    def snapBatch(b: Int): Seq[AlertSnapshot] = alerts.toSeq
      .filter { case (id, _, _) => b < 3 || id % 5 != 0 }
      .map { case (id, nm, seg) =>
        val status = if (id % 7 == b % 7) s"X$b" else seg
        AlertSnapshot(id, nm, seg, s"$status:$nm", (id * 37) % 1000,
          new Timestamp(base + b * day), new Timestamp(base + (b + 2) * day))
      }
    val tmp = java.nio.file.Files.createTempDirectory("ep3bench").toString
    val store = new graft.io.StageStore(spark, s"$tmp/cache")
    val es = MemoryStream[AlertSnapshot]
    val q4 = StreamingAugmenter.checksumDiff(
      StreamingAugmenter.snapshotMsgs(es.toDS()))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingAugmenter.AugMsg],
         batchId: Long) =>
          val df = batch.toDF()
            .drop("event_ts", "expiry_ts", "kind", "prev_ck").persist()
          try if (!df.isEmpty) {
            val work = graft.incremental.Incremental.workLimit(df,
              Seq(col("publish_ord").desc, col("id")), 40)
            StreamingAugmenter.mergeIntoCache(store,
              graft.queries.GeoQueries.ep3EnrichStage(work, cells), batchId + 1)
          } finally { df.unpersist(); () }
      }.start()
    val ep3Warm = 1
    val ep3Total = 6
    (0 until ep3Warm).foreach { b => es.addData(snapBatch(b)); q4.processAllAvailable() }
    val t4 = System.nanoTime()
    (ep3Warm until ep3Total).foreach { b => es.addData(snapBatch(b)); q4.processAllAvailable() }
    val eSec = (System.nanoTime() - t4) / 1e9
    val eState = stateRows(q4)
    q4.stop()

    // ---- streaming PSI drift monitor (complete-mode agg + per-trigger
    // scoring against a static reference) ----
    // state is the cumulative bin-count table (bin cardinality = 64), so
    // the metric pair is input rows/s through the update-mode agg and the
    // per-trigger PSI-frame latency folded into the same wall time
    val refCounts = spark.range(0, 64)
      .select(concat(lit("b"), col("id") % 64).as("bin"),
        (col("id") % 7 + 1).as("n_ref"))
    val din = MemoryStream[Long]
    var psiFrames = 0L
    val q5 = graft.streaming.DriftMonitor.psiQuery(
        din.toDF().select(concat(lit("b"), col("value") % 64).as("src")),
        col("src"), refCounts,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
      (psi, _) => psiFrames += psi.count()
    }.start()
    def driftBatch(b: Int): Seq[Long] =
      (0 until batchRows).map(i => (b.toLong * batchRows + i) * 131)
    (0 until warm).foreach { b => din.addData(driftBatch(b)); q5.processAllAvailable() }
    val t5 = System.nanoTime()
    (warm until total).foreach { b => din.addData(driftBatch(b)); q5.processAllAvailable() }
    val pSec = (System.nanoTime() - t5) / 1e9
    val pRows = (total - warm).toLong * batchRows
    val pState = stateRows(q5)
    q5.stop()

    // ---- crawl-frontier URL dedup (canonicalize + watermarked drop) ----
    // q1's state shape with the regex canonicalization pipeline in front:
    // the delta between url_rows_per_sec and dedup_rows_per_sec is the
    // in-stream cost of canonicalizeUrl itself. 30% of each batch are the
    // previous batch's pages re-seen; the spelling variant rotates by
    // BATCH as well as key ((k + b) % 4), so a re-seen page arrives under
    // a DIFFERENT spelling (case/port/tracking/fragment) than its first
    // sighting — the rows are duplicates only AFTER canonicalization,
    // which is the path this benchmark exists to measure.
    val uin = MemoryStream[(Long, String, Timestamp)]
    val ud = graft.streaming.StreamDedup.urlDedup(
      uin.toDF().toDF("fetch_id", "url", "ts"), "url", "ts", "1 hour")
    val q6 = ud.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()
    def urlBatch(b: Int): Seq[(Long, String, Timestamp)] = {
      val start = (b.toLong * 7 * batchRows) / 10
      (0 until batchRows).map { i =>
        val k = start + i
        val u = ((k + b) % 4) match {
          case 0 => s"http://host${k % 997}.example.com/p/$k?a=1&b=2"
          case 1 => s"HTTP://Host${k % 997}.Example.COM:80/p/$k?b=2&a=1"
          case 2 => s"http://host${k % 997}.example.com/p/$k?a=1&b=2&utm_source=x"
          case _ => s"http://host${k % 997}.example.com/p/$k?a=1&b=2#frag"
        }
        (k, u, new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }
    (0 until warm).foreach { b => uin.addData(urlBatch(b)); q6.processAllAvailable() }
    val t6 = System.nanoTime()
    (warm until total).foreach { b => uin.addData(urlBatch(b)); q6.processAllAvailable() }
    val uSec = (System.nanoTime() - t6) / 1e9
    val uRows = (total - warm).toLong * batchRows
    val uState = stateRows(q6)
    q6.stop()

    // ---- shift-resistant CDC-chunk dedup ----
    // document keys advance 70% per batch; the 30% re-seen documents
    // arrive as SHIFTED RE-CRAWLS (a batch-fresh header prepended, body
    // byte-identical), so the fixed-grid-defeating case IS the workload:
    // only the header's chunks are novel, every body chunk must hit the
    // seen-set despite the offset shift. Fewer docs per batch than the
    // row-level entries — each ~43-token doc explodes to ~6 chunk rows,
    // so chunk-level state and throughput are what's measured.
    val cdcRows = batchRows / 10
    val cin = MemoryStream[(Long, String, Timestamp)]
    val cd = graft.streaming.StreamDedup.cdcChunkDedup(
      cin.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts", "1 hour")
    val q7 = cd.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()
    def cdcBatch(b: Int): Seq[(Long, String, Timestamp)] = {
      val start = (b.toLong * 7 * cdcRows) / 10
      (0 until cdcRows).map { i =>
        val k = start + i
        val body = (0 until 40).map(j => "w" + ((k * 131 + j * 7) % 99991))
          .mkString(" ")
        // re-seen keys (the leading 30%) get a batch-fresh 3-token header
        val txt = if (b > 0 && i < (3 * cdcRows) / 10)
          s"hdr$b fresh update " + body else body
        (k, txt, new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }
    (0 until warm).foreach { b => cin.addData(cdcBatch(b)); q7.processAllAvailable() }
    val t7 = System.nanoTime()
    (warm until total).foreach { b => cin.addData(cdcBatch(b)); q7.processAllAvailable() }
    val cSec = (System.nanoTime() - t7) / 1e9
    val cRows = (total - warm).toLong * cdcRows
    val cState = stateRows(q7)
    q7.stop()

    // ---- per-host crawl-budget admission (custom state) ----
    // 50k fetches/batch over 997 hosts (~50/host); each batch is one
    // 30-min event-time window, budget 40/host/window -> ~20% denied.
    // State is TWO LONGS per live host (997 rows), not the fetch log —
    // the number that makes per-host politeness viable at crawl scale.
    val bin = MemoryStream[(Long, String, Timestamp)]
    val bd = graft.streaming.CrawlBudget.perHostAdmit(
      bin.toDF().toDF("fetch_id", "url", "ts"), "url", "ts",
      watermark = "1 hour", windowSeconds = 1800, maxPerWindow = 40)
    val q8 = bd.writeStream.outputMode(OutputMode.Append())
      .format("noop").start()
    def budgetBatch(b: Int): Seq[(Long, String, Timestamp)] = {
      val start = (b.toLong * 7 * batchRows) / 10
      (0 until batchRows).map { i =>
        val k = start + i
        (k, s"https://host${k % 997}.example.com/p/$k",
          new Timestamp(base + b * 30L * 60000 + (i % 1800) * 1000L))
      }
    }
    (0 until warm).foreach { b => bin.addData(budgetBatch(b)); q8.processAllAvailable() }
    val t8 = System.nanoTime()
    (warm until total).foreach { b => bin.addData(budgetBatch(b)); q8.processAllAvailable() }
    val bSec = (System.nanoTime() - t8) / 1e9
    val bRows = (total - warm).toLong * batchRows
    val bState = stateRows(q8)
    q8.stop()

    // ---- composed crawl frontier: urlDedup -> TWS budget -> CDC chunk
    // dedup, three stateful operators in ONE query (RocksDB state store —
    // the transformWithState requirement). Per batch: 70% fresh pages,
    // 30% SYNDICATED copies (same-batch body re-published under a
    // distinct url with a fresh 3-token header) — unique canonical urls
    // pass the seen-set, fetches/host/window above the budget deny at
    // stage 2, and stage 3 must suppress every body chunk of the
    // syndicated copies despite the header shift. The metric is input
    // docs/s through the WHOLE chain; state splits per stage prove each
    // operator holds its own shape (urls / live hosts / chunk hashes),
    // not the batch. Parameterized by rows/batch so the same harness
    // produces the 1x row and the 10x-state scale evidence
    // (SPARK_GRAFT_FRONTIER_10X=1); per-host budget and host count scale
    // WITH the rows so the denial mix stays comparable while total state
    // grows 10x. RocksDB footprint evidence = the store's own custom
    // metrics summed over the three stages: rocksdbSstFileSize (bytes on
    // disk) + rocksdbPinnedBlocksMemoryUsage (resident block memory) —
    // Spark 4.1 exposes no single total-memory metric.
    case class FrontierResult(docsPerSec: Double, rowsPerBatch: Int,
                              hosts: Long, urls: Long, chunks: Long,
                              sstBytes: Long, pinnedBytes: Long)
    def frontierRun(frRows: Int, hosts: Int, budget: Int): FrontierResult = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.Frontier.RocksDbProvider)
      val fin = MemoryStream[(Long, String, String, Timestamp)]
      val fr = graft.streaming.Frontier.crawlFrontier(
        fin.toDF().toDF("fetch_id", "url", "text", "ts"), "url", "text", "ts",
        watermark = "1 hour", windowSeconds = 1800, maxPerWindow = budget,
        k = 3, divisor = 4, maxLen = 8)
      val q9 = fr.writeStream.outputMode(OutputMode.Append())
        .format("noop").start()
      def feed(b: Int): Unit = {
        fin.addData(StreamingBench.frontierBatch(b, frRows, hosts)); q9.processAllAvailable()
      }
      (0 until warm).foreach(feed)
      val t9 = System.nanoTime()
      (warm until total).foreach(feed)
      val fSec = (System.nanoTime() - t9) / 1e9
      val fRows = (total - warm).toLong * frRows
      val fOps = Option(q9.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val fHosts = fOps.filter(_.operatorName.contains("transformWithState"))
        .map(_.numRowsTotal).sum
      // two dedupe operators: the url seen-set is the smaller (urls within
      // horizon), the chunk seen-set the larger (~6-8 chunks per doc)
      val fDedups = fOps.filter(_.operatorName.contains("dedupe"))
        .map(_.numRowsTotal).sorted
      def metric(name: String): Long = fOps.flatMap(o =>
        Option(o.customMetrics.get(name)).map(_.toLong)).sum
      val fSst = metric("rocksdbSstFileSize")
      val fPinned = metric("rocksdbPinnedBlocksMemoryUsage")
      q9.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      FrontierResult(fRows / fSec, frRows, fHosts,
        fDedups.headOption.getOrElse(0L), fDedups.lastOption.getOrElse(0L),
        fSst, fPinned)
    }
    // ---- TWS session windows (input-path close under steady traffic) ----
    // 5k live keys, ~10 events/key/batch clustered in the first 10 min of
    // each 30 min batch window (so the 20 min quiet tail EXCEEDS the
    // 10 min gap: one session per key per batch), 1 h watermark: every
    // batch appends to ~5k ListStates and closes each key's
    // two-batches-old session on the INPUT path — the steady-traffic
    // rhythm; the timer path only covers keys that go quiet. (The first
    // fixture spread events 200 s apart across the whole window — under
    // the gap, so every key was ONE endless session and nothing ever
    // closed; caught in review.) RocksDB store, the TWS requirement.
    val (sessRate, sessState, sessClosed) = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.Frontier.RocksDbProvider)
      val sin = MemoryStream[(String, Timestamp)]
      val q10 = graft.streaming.TwsSessions.sessions(
          sin.toDF().toDF("key", "ts").withWatermark("ts", "1 hour"),
          "key", "ts", gapSeconds = 600)
        .writeStream.outputMode(OutputMode.Append()).format("noop").start()
      def sessBatch(b: Int): Seq[(String, Timestamp)] =
        (0 until batchRows).map { i =>
          ("u" + (i % 5000),
            new Timestamp(base + b * 30L * 60000 + (i % 600) * 1000L))
        }
      (0 until warm).foreach { b => sin.addData(sessBatch(b)); q10.processAllAvailable() }
      val t10 = System.nanoTime()
      (warm until total).foreach { b => sin.addData(sessBatch(b)); q10.processAllAvailable() }
      val sSec = (System.nanoTime() - t10) / 1e9
      val sRows = (total - warm).toLong * batchRows
      val sState = stateRows(q10)
      // total sink rows = sessions CLOSED over the run (lastProgress alone
      // is a trailing no-data batch with 0 output) — the honesty row that
      // the close path actually runs under steady traffic
      val sClosed = q10.recentProgress.map(_.sink.numOutputRows)
        .filter(_ > 0).sum
      q10.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      (sRows / sSec, sState, sClosed)
    }

    // ---- Misra–Gries heavy hitters (MapState, capacity-bounded) ----
    // 97 keys × capacity 50 against ~5000 distinct items/key over the run
    // (an exact count would hold ~500k state rows); items are skewed so
    // the summaries keep real heavy hitters while the tail churns the
    // decrement path every batch
    val (hhRate, hhState) = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.Frontier.RocksDbProvider)
      val hin = MemoryStream[(String, String)]
      val q11 = graft.streaming.StreamHeavyHitters.heavyHitters(
          hin.toDF().toDF("key", "item"), "key", "item", capacity = 50)
        .writeStream.outputMode(OutputMode.Update()).format("noop").start()
      def hhBatch(b: Int): Seq[(String, String)] =
        (0 until batchRows).map { i =>
          // ~30% of traffic concentrates on 10 hot items; the rest is a
          // churning distinct tail (fresh ids every batch)
          val item = if (i % 3 == 0) "hot" + (i % 10)
            else "t" + (b.toLong * batchRows + i)
          ("h" + (i % 97), item)
        }
      (0 until warm).foreach { b => hin.addData(hhBatch(b)); q11.processAllAvailable() }
      val t11 = System.nanoTime()
      (warm until total).foreach { b => hin.addData(hhBatch(b)); q11.processAllAvailable() }
      val hSec = (System.nanoTime() - t11) / 1e9
      val hRows = (total - warm).toLong * batchRows
      val hState = stateRows(q11)
      q11.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      (hRows / hSec, hState)
    }

    val f1 = frontierRun(batchRows / 10, hosts = 97, budget = 40)
    val f10 = if (sys.env.get("SPARK_GRAFT_FRONTIER_10X").contains("1"))
      Some(frontierRun(batchRows, hosts = 970, budget = 40)) else None
    val f10Json = f10.map(f =>
      f""","frontier10x_docs_per_sec":${f.docsPerSec}%.0f,"frontier10x_doc_rows_per_batch":${f.rowsPerBatch},"frontier10x_state_hosts":${f.hosts},"frontier10x_state_urls":${f.urls},"frontier10x_state_chunks":${f.chunks},"frontier10x_rocksdb_sst_bytes":${f.sstBytes},"frontier10x_rocksdb_pinned_bytes":${f.pinnedBytes}""")
      .getOrElse("")

    println(f"""{"metric":"streaming","dedup_rows_per_sec":${dRows / dSec}%.0f,"dedup_state_rows":$dState,"join_rows_per_sec":${jRows / jSec}%.0f,"join_state_rows":$jState,"neardup_rows_per_sec":${nRows / nSec}%.0f,"neardup_state_rows":$nState,"neardup_batch_rows":$nddRowsPerBatch,"ep3_sec_per_batch":${eSec / (ep3Total - ep3Warm)}%.2f,"ep3_state_rows":$eState,"ep3_measured_batches":${ep3Total - ep3Warm},"drift_rows_per_sec":${pRows / pSec}%.0f,"drift_state_rows":$pState,"drift_psi_frames":$psiFrames,"url_rows_per_sec":${uRows / uSec}%.0f,"url_state_rows":$uState,"cdc_docs_per_sec":${cRows / cSec}%.0f,"cdc_doc_rows_per_batch":$cdcRows,"cdc_state_rows":$cState,"budget_rows_per_sec":${bRows / bSec}%.0f,"budget_state_rows":$bState,"sess_rows_per_sec":$sessRate%.0f,"sess_state_rows":$sessState,"sess_closed_total":$sessClosed,"hh_rows_per_sec":$hhRate%.0f,"hh_state_rows":$hhState,"frontier_docs_per_sec":${f1.docsPerSec}%.0f,"frontier_doc_rows_per_batch":${f1.rowsPerBatch},"frontier_state_hosts":${f1.hosts},"frontier_state_urls":${f1.urls},"frontier_state_chunks":${f1.chunks},"frontier_rocksdb_sst_bytes":${f1.sstBytes},"frontier_rocksdb_pinned_bytes":${f1.pinnedBytes}$f10Json,"batch_rows":$batchRows,"measured_batches":${total - warm}}""")
    spark.stop()
  }
}
