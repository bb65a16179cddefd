package graft

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-chaos helpers shared by [[RetryProbe]] and
  * [[StreamDecomProbe]]: the task census listener, the thread that
  * signals the busiest executor, and the canonical row hash. */
object Chaos {

  /** MD5 of the given rows in order (callers sort: byte-equal strings,
    * not approximate compare — the flakehunt convention). */
  def md5(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Task and executor events of one application. `liveTasks` is keyed
    * by taskId (exact — a +1/-1 counter drifts when an executor loss
    * delivers task-end events out of pairing): the kill/decom victim must
    * be an executor that is actually RUNNING work, because killing an
    * idle one is absorbed invisibly by the scheduler and proves nothing. */
  final class TaskCensus(sc: SparkContext) extends SparkListener {
    val taskFailures, fetchFailures, taskStarts, speculativeLaunches,
        decomRemovals, migratedShuffleBlocks = new AtomicInteger
    val liveTasks = new ConcurrentHashMap[Long, String]()
    sc.addSparkListener(this)

    /** zero the per-run event counts (taskStarts keeps counting) */
    def reset(): Unit = Seq(taskFailures, fetchFailures, speculativeLaunches,
      decomRemovals, migratedShuffleBlocks).foreach(_.set(0))

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (te.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
      // FetchFailed is the LOST-OUTPUT class: a downstream task could
      // not read an upstream map output and forces an upstream stage
      // rerun — exactly what shuffle-block migration exists to prevent
      if (te.reason.isInstanceOf[org.apache.spark.FetchFailed])
        fetchFailures.incrementAndGet()
      if (te.taskInfo != null) liveTasks.remove(te.taskInfo.taskId)
    }
    override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
      taskStarts.incrementAndGet()
      liveTasks.put(ts.taskInfo.taskId, ts.taskInfo.executorId)
      if (ts.taskInfo.speculative) speculativeLaunches.incrementAndGet()
    }
    // decommission surfaces as an ExecutorRemoved whose loss reason is
    // ExecutorDecommission ("Executor decommission...") — there is no
    // dedicated listener event class in the public API
    override def onExecutorRemoved(er: SparkListenerExecutorRemoved): Unit =
      if (er.reason != null && er.reason.toLowerCase.contains("decommission"))
        decomRemovals.incrementAndGet()
    // migrated shuffle blocks re-register with the block manager master
    // under their shuffle_* ids on the RECEIVING executor — counted as
    // corroborating evidence that migration MOVED data, not just that
    // the executor left quietly
    override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
      if (bu.blockUpdatedInfo.blockId.name.startsWith("shuffle_"))
        migratedShuffleBlocks.incrementAndGet()
  }

  /** Graceful decommission with shuffle+RDD block migration: the victim
    * gets SIGPWR (the default spark.executor.decommission.signal), tells
    * the driver it is leaving, and MIGRATES its blocks to surviving peers
    * before exiting, so downstream stages fetch from the new homes
    * instead of recomputing. */
  val decommissionConfs: Seq[(String, String)] = Seq(
    "spark.decommission.enabled" -> "true",
    "spark.storage.decommission.enabled" -> "true",
    "spark.storage.decommission.shuffleBlocks.enabled" -> "true",
    "spark.storage.decommission.rddBlocks.enabled" -> "true",
    // give the migrator time: the default force-kill is immediate-ish;
    // the probes' queries finish in seconds, so a 120s grace means the
    // executor only exits when migration is DONE
    "spark.executor.decommission.forceKillTimeout" -> "120s",
    // the production setting for decommissioning fleets: a fetch that
    // races the handover window fails transiently and is retried
    // without counting toward stage-abort limits
    "spark.stage.ignoreDecommissionFetchFailure" -> "true")

  /** `fired` reports signal delivery; `cancel` aborts the busy-executor
    * poll (a stale poll from an earlier attempt could otherwise fire
    * during a later run). */
  final case class Injector(fired: AtomicBoolean, cancel: AtomicBoolean)

  /** Signal one executor of this application from a daemon thread, once
    * at least `minTaskStarts` tasks have started and some executor is
    * running tasks: the busiest one is the victim. Task-aware, not a
    * fixed delay: a wall-clock timer can land in the driver-side
    * planning window (Catalyst on the wide dedup plans runs 1-2 s with
    * zero live tasks), where killing an IDLE executor proves nothing. The
    * pgrep is scoped to THIS application's executors via the
    * applicationId on the backend's command line (--app-id app-...) — an
    * unscoped match could signal an executor of an unrelated Spark job on
    * the same machine. */
  def signalBusiest(spark: SparkSession, census: TaskCensus, signal: String,
                    tag: String, minTaskStarts: Int = 0,
                    timeoutS: Long = 30): Injector = {
    val appId = spark.sparkContext.applicationId
    val baseline = census.taskStarts.get
    val inj = Injector(new AtomicBoolean(false), new AtomicBoolean(false))
    val t = new Thread(() => {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + timeoutS * 1000L * 1000 * 1000
      def busiest(): Option[String] = census.liveTasks.values.asScala
        .filterNot(_ == "driver").groupBy(identity)
        .view.mapValues(_.size).toSeq.sortBy(-_._2).headOption.map(_._1)
      var victim: Option[String] = None
      while ({
        victim = if (census.taskStarts.get - baseline >= minTaskStarts)
          busiest() else None
        victim.isEmpty && !inj.cancel.get && System.nanoTime() < deadline
      }) Thread.sleep(10)
      if (inj.cancel.get) victim = None
      victim.foreach { execId =>
        // executor id -> pid via the --executor-id arg on the backend's
        // command line, scoped to this app
        val procs = scala.sys.process.Process(
          Seq("pgrep", "-af", s"CoarseGrainedExecutorBackend.*$appId")).!!
        procs.split("\n").find(_.contains(s"--executor-id $execId "))
          .map(_.trim.split("\\s+")(0)) match {
          case Some(pid) =>
            System.err.println(s"[$tag] sending $signal to executor " +
              s"id=$execId pid=$pid (app $appId, " +
              s"${census.liveTasks.values.asScala.count(_ == execId)} tasks running)")
            scala.sys.process.Process(Seq("kill", signal, pid)).!
            inj.fired.set(true)
          case None => System.err.println(
            s"[$tag] no pid found for executor $execId (app $appId)")
        }
      }
      if (victim.isEmpty && !inj.cancel.get) System.err.println(
        s"[$tag] no busy executor observed within ${timeoutS}s — nothing signalled")
    })
    t.setDaemon(true); t.start(); inj
  }
}
