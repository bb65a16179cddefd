package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Tables

/** Graceful decommission DURING the 3-stage streaming frontier — the one
  * failure×streaming cross product the batch RetryProbe matrix does not
  * cover. A spot fleet loses executors mid-micro-batch with RocksDB
  * state on board; what must hold is exactly-once SINK output and
  * bit-equal state, not merely "the query survived".
  *
  * Protocol (requires SPARK_GRAFT_MASTER=local-cluster[...] — a
  * decommission is an executor-process event):
  *   1. CLEAN run: [[graft.streaming.Frontier.crawlFrontier]] over the
  *      STREAMBENCH batch shape, N batches, parquet sink (the file sink's
  *      manifest commit is the exactly-once contract under replay) +
  *      checkpoint; record sorted-row hash of the sink + per-operator
  *      state rows.
  *   2. CHAOS run: identical feed, fresh sink/checkpoint; from batch N/3
  *      a watcher thread SIGPWRs the BUSIEST executor (live-task census,
  *      same victim discipline as RetryProbe — a wall-clock kill lands in
  *      planning windows and proves nothing) with shuffle+RDD block
  *      migration on. The standalone worker replaces the executor; the
  *      rescheduled stateful tasks reload their stores from the
  *      checkpoint.
  *   3. Assert: chaos sink EQUALS the clean sink on the exactly-once
  *      axes — row count and the multiset of (chunk_md5, n_tokens) —
  *      plus state rows equal per operator class, and the decommission
  *      actually HAPPENED (decommission-reason ExecutorRemoved, polled —
  *      the victim only exits after its migration drains). Task/fetch
  *      failures are REPORTED not forbidden: a fetch racing the handover
  *      window is expected (spark.stage.ignoreDecommissionFetchFailure
  *      exists for exactly this).
  *
  * Why the multiset projection and not the full-row hash: the frontier's
  * dedup stages keep ONE representative among same-key duplicates
  * (`dropDuplicatesWithinWatermark` semantics — exactly the reference
  * crawl contract), and WHICH duplicate arrives at the state store first
  * is shuffle-read-order racy, so the representative's url/ts/chunk_id/
  * start_tok differ between ANY two runs, chaos or not (measured: a
  * clean-vs-clean pair diverges on 2225/28574 rows while agreeing
  * exactly on the (chunk_md5, n_tokens) multiset — the probe runs this
  * CONTROL every time and reports both axes). Exactly-once under
  * decommission means no chunk key is double-emitted or dropped; pinning
  * a specific representative would assert something even two healthy
  * runs don't share.
  *
  * Usage:
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     SPARK_GRAFT_MASTER="local-cluster[4,8,4096]" SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.StreamDecomProbe"
  */
object StreamDecomProbe {
  def main(args: Array[String]): Unit = {
    require(GraftSession.clusterMode,
      "StreamDecomProbe needs SPARK_GRAFT_MASTER=local-cluster[...] " +
        "(decommission is an executor-process event; local mode has none)")
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "36").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "96").toInt
    val hosts = 97
    val spark = GraftSession(GraftSession.cpus("8"), logLevel = "ERROR",
      confs = ("spark.sql.streaming.stateStore.providerClass" ->
        graft.streaming.Frontier.RocksDbProvider) +: Chaos.decommissionConfs)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val census = new Chaos.TaskCensus(spark.sparkContext)
    import census.{decomRemovals, fetchFailures, taskFailures}

    case class RunResult(fullHash: String, projHash: String, rows: Long,
                         urls: Long, hostsRows: Long, chunks: Long)
    def run(tag: String, chaos: Boolean): RunResult = {
      val out = s"${sys.props("java.io.tmpdir")}/sdecom_$tag"
      val ckpt = s"$out.ckpt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val fin = MemoryStream[(Long, String, String, Timestamp)]
      val fr = graft.streaming.Frontier.crawlFrontier(
        fin.toDF().toDF("fetch_id", "url", "text", "ts"), "url", "text", "ts",
        watermark = "1 hour", windowSeconds = 1800, maxPerWindow = 40,
        k = 3, divisor = 4, maxLen = 8)
      // parquet sink: the file-manifest commit is the exactly-once
      // contract this probe asserts under executor loss
      val q = fr.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      var inj: Option[Chaos.Injector] = None
      (0 until batches).foreach { b =>
        if (chaos && b == batches / 3)
          inj = Some(Chaos.signalBusiest(spark, census, "-PWR", "sdecom",
            timeoutS = 60))
        // the STREAMBENCH batch shape
        fin.addData(StreamingBench.frontierBatch(b, rows, hosts))
        q.processAllAvailable()
      }
      inj.foreach(_.cancel.set(true))
      if (inj.exists(_.fired.get)) {
        // the victim exits only after its migration drains — poll
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (decomRemovals.get < 1 && System.nanoTime() < deadline)
          Thread.sleep(250)
      }
      val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
      val hostsRows = ops.filter(_.operatorName.contains("transformWithState"))
        .map(_.numRowsTotal).sum
      // urls/chunks by stateOperators INDEX (plan-order, sink-first —
      // the FrontierSoak identity convention)
      val dedups = ops.zipWithIndex
        .filter(_._1.operatorName.contains("dedupe"))
      require(dedups.size == 2, s"expected 2 dedupe ops, got " +
        ops.map(_.operatorName).mkString(", "))
      val chunks = dedups.head._1.numRowsTotal
      val urls = dedups.last._1.numRowsTotal
      q.stop()
      val full = Tables.read(spark, out).collect().map(_.toString).sorted
      val proj = Tables.read(spark, out)
        .select(org.apache.spark.sql.functions.concat_ws("|",
          org.apache.spark.sql.functions.col("chunk_md5"),
          org.apache.spark.sql.functions.col("n_tokens")))
        .collect().map(_.getString(0)).sorted
      RunResult(Chaos.md5(full.toSeq), Chaos.md5(proj.toSeq), full.length.toLong,
        urls, hostsRows, chunks)
    }

    // clean twice: the control that calibrates which axes two HEALTHY
    // runs share (the exactly-once projection) vs which are
    // representative-racy (full rows) — without it a chaos mismatch on
    // full rows would read as a decommission bug
    val cleanA = run("cleanA", chaos = false)
    val cleanB = run("cleanB", chaos = false)
    census.reset()
    val chaos = run("chaos", chaos = true)
    def stateEq(a: RunResult, b: RunResult): Boolean =
      a.urls == b.urls && a.hostsRows == b.hostsRows && a.chunks == b.chunks
    val controlOk = cleanA.projHash == cleanB.projHash &&
      cleanA.rows == cleanB.rows && stateEq(cleanA, cleanB)
    val ok = controlOk && chaos.projHash == cleanA.projHash &&
      chaos.rows == cleanA.rows && stateEq(chaos, cleanA) &&
      decomRemovals.get >= 1
    println(s"[sdecom] batches=$batches rows_per_batch=$rows " +
      s"rows=(${cleanA.rows},${cleanB.rows},${chaos.rows}) " +
      s"proj_hash=(${cleanA.projHash},${cleanB.projHash},${chaos.projHash}) " +
      s"full_hash_clean_stable=${cleanA.fullHash == cleanB.fullHash} " +
      s"full_hash_chaos_eq_clean=${chaos.fullHash == cleanA.fullHash} " +
      s"state_cleanA=(${cleanA.urls},${cleanA.hostsRows},${cleanA.chunks}) " +
      s"state_chaos=(${chaos.urls},${chaos.hostsRows},${chaos.chunks}) " +
      s"decommissioned=${decomRemovals.get} " +
      s"task_failures=${taskFailures.get} " +
      s"fetch_failures=${fetchFailures.get} " +
      (if (ok) "OK"
       else if (!controlOk) "CONTROL-MISMATCH"
       else if (decomRemovals.get == 0) "NO-DECOM-RECORDED"
       else "MISMATCH"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
