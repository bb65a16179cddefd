package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}

/** Task-retry determinism probe: proves byte-identical query output when
  * tasks FAIL AND RECOMPUTE — the routine 100-TB events (speculative
  * execution, executor loss, fetch failure) that a single clean local[32]
  * run never exercises. flakehunt proves determinism across CPU counts;
  * this proves it across the retry path, which is a different claim: a
  * retried task re-runs its partition against possibly-reordered upstream
  * iterators, so any order-sensitive float reduction or seed-from-
  * partition-attempt leak shows up here and nowhere else.
  *
  * Two failure modes, both asserting (a) result hash identical to the
  * clean run and (b) >= 1 task failure actually RECORDED by the listener
  * (an injection that never fired proves nothing):
  *
  *   - default: fail-first-attempt — the query result is wrapped in a
  *     mapPartitions that throws on (attemptNumber == 0, even partition),
  *     so every run retries half its result-stage tasks. Needs task
  *     retries enabled in local mode: the session master is
  *     `local[cpus, 4]` (the ", 4" IS maxFailures — plain local[n] fails
  *     the job on first task failure).
  *   - SPARK_GRAFT_KILL_EXEC=1 (requires SPARK_GRAFT_MASTER=
  *     local-cluster[...]): a killer thread SIGKILLs one live executor
  *     JVM mid-query. Executor loss without an external shuffle service
  *     also loses its shuffle outputs, so this exercises UPSTREAM STAGE
  *     RERUN + fetch-failure recovery, not just result-stage recompute.
  *   - SPARK_GRAFT_SPECULATE=1: SPECULATIVE EXECUTION — the third
  *     routine 100-TB event, distinct from both above because the
  *     original and the clone run CONCURRENTLY and either may win. The
  *     chaos wrapper makes every 8th partition's FIRST attempt sleep
  *     past the speculation threshold (quantile 0.1, multiplier 1.0),
  *     so the scheduler launches a speculative copy (attempt 1, no
  *     sleep) that finishes first and WINS — the emitted rows come from
  *     a re-executed attempt. Asserts >= 1 task with
  *     taskInfo.speculative actually launched, not just configured.
  *
  *     IN-SANDBOX LIMITATION, adjudicated from the scheduler source:
  *     TaskSetManager.dequeueSpeculativeTask refuses any host that
  *     already runs an attempt of the task (`!hasAttemptOnHost`), and
  *     under local-cluster EVERY executor reports the same host
  *     (localhost) — so a speculative clone can never be SCHEDULED on a
  *     one-box topology, no matter the configs (verified empirically:
  *     8-task stage, one 8 s straggler, clone never launched). The mode
  *     therefore only produces evidence on a true multi-host cluster.
  *     The determinism property speculation needs in-sandbox is still
  *     covered, by equivalence: a speculative clone is exactly a second
  *     attempt of the same deterministic partition racing the original
  *     with one commit winner — and "re-attempt of the same partition
  *     produces identical bytes" is what the fail-first-attempt mode
  *     proves directly.
  *
  *   - SPARK_GRAFT_DECOM=1 (requires local-cluster): GRACEFUL
  *     decommission — the spot-instance/scale-down path. One executor
  *     gets SIGPWR (spark.executor.decommission.signal default) with
  *     spark.decommission.enabled + storage/shuffle block migration on:
  *     it reports ExecutorDecommissioning to the driver, migrates its
  *     shuffle+RDD blocks to surviving peers, and exits; downstream
  *     stages fetch from the migrated homes. Success = byte-identical
  *     output AND zero FetchFailed task-ends (lost-output recompute is
  *     the event migration exists to prevent — the complement of kill
  *     mode, which REQUIRES failures) AND lifecycle evidence: either a
  *     decommission-reason ExecutorRemoved or >= 1 migrated shuffle
  *     block registered (shuffle_* ids only reach the block-manager
  *     master via the migration path — normal shuffles are
  *     MapOutputTracker-only; the removal event itself only posts when
  *     the victim exits, which can lag past any sane poll). In-flight
  *     tasks ON the victim may be killed and retried, and a fetch that
  *     races the handover window may fail transiently (Spark ships
  *     spark.stage.ignoreDecommissionFetchFailure — set here — because
  *     that window is expected); both are reported, not forbidden. Use
  *     queries long enough to still be running when the signal lands —
  *     a sub-second query drains before any victim can be observed.
  *
  * Usage:
  *   sbt "runMain graft.RetryProbe x_weighted_sample x_strat_sample ..."
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *     SPARK_GRAFT_MASTER=local-cluster[4,8,4096] SPARK_GRAFT_KILL_EXEC=1 \
  *     sbt "runMain graft.RetryProbe x_setsim_join"
  *   ... SPARK_GRAFT_DECOM=1 sbt "runMain graft.RetryProbe x_dedup_minhash"
  * Exits non-zero on any hash mismatch or on zero recorded failures
  * (zero decommissions / nonzero failures in decom mode). */
object RetryProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = GraftSession.cpus("8")
    val killMode = sys.env.contains("SPARK_GRAFT_KILL_EXEC")
    val decomMode = sys.env.contains("SPARK_GRAFT_DECOM")
    require(!killMode || GraftSession.clusterMode,
      "SPARK_GRAFT_KILL_EXEC needs SPARK_GRAFT_MASTER=local-cluster[...] " +
        "(local-mode executors are the driver; killing them kills the probe)")
    require(!decomMode || GraftSession.clusterMode,
      "SPARK_GRAFT_DECOM needs SPARK_GRAFT_MASTER=local-cluster[...] " +
        "(decommission is an executor-process event; local mode has none)")
    require(!(killMode && decomMode),
      "SPARK_GRAFT_KILL_EXEC and SPARK_GRAFT_DECOM are exclusive modes")
    val speculate = sys.env.contains("SPARK_GRAFT_SPECULATE")
    require(!speculate || GraftSession.clusterMode,
      "SPARK_GRAFT_SPECULATE needs SPARK_GRAFT_MASTER=local-cluster[...] " +
        "— TaskSchedulerImpl hard-disables speculation in local mode " +
        "(!isLocal gate), so a local run would silently test nothing")
    // aggressive speculation so the probe's slow-partition bait reliably
    // draws a clone: speculate once 10% of tasks finish, threshold 1.0x
    // the median (production would never run this hot — the point is to
    // FORCE the event, then prove the output doesn't care who won)
    val specConfs = if (!speculate) Nil else Seq(
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "100ms",
      "spark.speculation.quantile" -> "0.1",
      "spark.speculation.multiplier" -> "1.0",
      // AQE coalesces the small result stages to 1-4 tasks — BELOW the
      // quantile machinery's reach (a 1-task stage has no median to
      // compare against). The absolute single-task threshold covers
      // exactly that: any task past 1 s in a fewer-tasks-than-slots
      // stage draws a clone. The bait sleeps 3 s.
      "spark.speculation.task.duration.threshold" -> "1s",
      // the 3.4+ efficiency gate only speculates tasks whose data rate
      // lags the average — a SLEEPING task processes no data, so the
      // gate must be off for the duration threshold to act alone
      "spark.speculation.efficiency.enabled" -> "false")
    // decommission mode: the GRACEFUL executor-departure path a 100-TB
    // spot-instance fleet lives on (Chaos.decommissionConfs). The success
    // criteria are the OPPOSITE of kill mode's: zero task failures (kill
    // mode REQUIRES >= 1).
    val decomConfs = if (!decomMode) Nil else Chaos.decommissionConfs
    // the ", 4" IS maxFailures: plain local[n] fails the job on the first
    // task failure
    val spark = GraftSession(cpus, localMaster = Some(s"local[$cpus, 4]"),
      logLevel = "ERROR", confs = specConfs ++ decomConfs)

    // Speculation is UNSCHEDULABLE on a one-host topology:
    // TaskSetManager.dequeueSpeculativeTask refuses any host that already
    // runs a live attempt of the task, and every local-cluster executor
    // reports the same host — so running the bait query would only ever
    // end in NO-SPECULATION-RECORDED after paying the full query. Detect
    // the topology up front (a tiny job forces executor registration) and
    // fail fast with the scheduler-source explanation instead.
    if (speculate) {
      spark.range(1000).count() // forces all executors to register
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      // distinct EXECUTOR hosts, driver excluded: statusTracker's
      // getExecutorInfos includes the driver's own entry, so a cluster
      // whose executors all share one host but whose driver runs
      // elsewhere read as hosts.size==2 and sailed past this check into
      // the full-query NO-SPECULATION path. Ask the executors
      // themselves — a tiny job reports (executorId, host) from inside
      // each task, and anything the driver ran is filtered by id.
      def execHosts(): Set[String] = {
        val ids: Array[String] = spark.range(0, 256, 1, 32).rdd
          .mapPartitions { _ =>
            val env = org.apache.spark.SparkEnv.get
            Iterator(env.executorId + "|" +
              java.net.InetAddress.getLocalHost.getHostAddress)
          }.collect()
        ids.filterNot(_.startsWith("driver|")).map(_.split('|')(1)).toSet
      }
      var hosts = execHosts()
      while (hosts.size < 2 && System.nanoTime() < deadline) {
        Thread.sleep(200); hosts = execHosts()
      }
      if (hosts.size <= 1) {
        System.err.println(
          s"[retry] SPECULATION-UNSCHEDULABLE: all " +
            s"executors report one host (${hosts.mkString}). " +
            "TaskSetManager.dequeueSpeculativeTask refuses hosts with a " +
            "live attempt of the task, so a speculative clone can never " +
            "be scheduled on a single-box topology — run this mode on a " +
            "real multi-host cluster. The determinism property it would " +
            "prove is covered in-sandbox by the fail-first-attempt mode " +
            "(a clone is a second attempt of the same deterministic " +
            "partition with one commit winner).")
        spark.stop()
        sys.exit(1)
      }
    }

    val census = new Chaos.TaskCensus(spark.sparkContext)
    import census.{decomRemovals, fetchFailures, migratedShuffleBlocks,
      speculativeLaunches, taskFailures}

    // canonical result hash: sorted stringified rows
    def hashOf(df: DataFrame): (String, Long) = {
      val rows = df.collect().map(_.toString).sorted.toSeq
      (Chaos.md5(rows), rows.length.toLong)
    }

    def withInjectedFailures(df: DataFrame): DataFrame =
      df.mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 2 == 0)
          throw new RuntimeException(
            "RetryProbe: injected first-attempt failure")
        it
      }(Encoders.row(df.schema))

    // speculation bait: first attempts of every 8th partition stall past
    // the threshold; the speculative clone (attempt >= 1) skips the sleep,
    // finishes first, and its output is what the query emits. The hash
    // repartition (DETERMINISTIC — by the first column, never round-robin,
    // which is the classic retry-nondeterminism hazard this probe exists
    // to catch) gives the chaos stage real parallelism: AQE coalesces
    // these small result stages to one task, and a 1-task TaskSet is
    // excluded from the median speculation path entirely.
    def withSlowFirstAttempts(df: DataFrame): DataFrame = {
      val parted = df.repartition(8,
        org.apache.spark.sql.functions.col(df.columns.head))
      parted.mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 8 == 0)
          Thread.sleep(3000)
        it
      }(Encoders.row(df.schema))
    }

    // kill-mode: SIGKILL one CoarseGrainedExecutorBackend child once the
    // chaos run has tasks RUNNING; the standalone master replaces it,
    // tasks and lost shuffle outputs reschedule/rerun on the survivors.
    // An idle victim is replaced invisibly and the probe would report
    // NO-RETRY-RECORDED on a healthy build. Each retried attempt cancels
    // the previous poll: a stale one could otherwise fire DURING a later
    // query's clean-hash run — hash still converges (that is the probe's
    // whole claim) but the unplanned loss injects nondeterministic
    // failure/event counts into that query's report.
    def killOneExecutor(minTaskStarts: Int, signal: String = "-9")
        : Chaos.Injector =
      Chaos.signalBusiest(spark, census, signal, "retry", minTaskStarts)

    var bad = 0
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val (cleanHash, cleanRows) = hashOf(fn(spark, sfDir))
      spark.catalog.clearCache() // a cache would mask the recompute path
      census.reset()
      val (chaosHash, chaosRows) =
        if (killMode) {
          // best-effort injection: on a fast machine the observed-busy
          // executor can drain its short tasks in the observe->signal
          // gap and die idle (absorbed invisibly). Repeat the chaos run
          // until the loss is actually RECORDED — the assertion below
          // still demands the event, this only retries the attempt.
          // Each retry CANCELS the previous attempt's killer thread
          // first: a stale 30 s poll could otherwise fire mid-way
          // through a later query's clean-hash run.
          var inj = killOneExecutor(8)
          var h = hashOf(fn(spark, sfDir))
          var tries = 1
          while (taskFailures.get == 0 && tries < 3) {
            System.err.println(s"[retry] kill attempt $tries absorbed " +
              "invisibly (victim drained before signal) — retrying")
            inj.cancel.set(true)
            spark.catalog.clearCache()
            inj = killOneExecutor(8)
            h = hashOf(fn(spark, sfDir))
            tries += 1
          }
          inj.cancel.set(true) // nothing outlives this query's runs
          h
        }
        else if (decomMode) {
          // same best-effort injection as kill mode: retry a chaos run
          // whose signal found no busy executor (fast warm stages can
          // drain between observation and delivery)
          var lastInj: Option[Chaos.Injector] = None
          def oneDecomRun(): (String, Long) = {
            val inj = killOneExecutor(8, signal = "-PWR")
            lastInj = Some(inj)
            val h = hashOf(fn(spark, sfDir))
            // the victim exits (and the driver posts ExecutorRemoved with
            // the decommission reason) only AFTER its migration drains —
            // usually moments after the query that raced it finishes, so
            // the event is polled for, not demanded instantly. No signal
            // delivered -> nothing to wait for (the retry loop re-runs).
            val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
            while (inj.fired.get && decomRemovals.get < 1 &&
              System.nanoTime() < deadline) Thread.sleep(250)
            h
          }
          var h = oneDecomRun()
          var tries = 1
          while (decomRemovals.get == 0 && migratedShuffleBlocks.get == 0 &&
            tries < 3) {
            System.err.println(s"[retry] decom attempt $tries never " +
              "delivered (no busy executor) — retrying")
            lastInj.foreach(_.cancel.set(true))
            spark.catalog.clearCache()
            h = oneDecomRun()
            tries += 1
          }
          lastInj.foreach(_.cancel.set(true))
          h
        }
        else if (speculate) hashOf(withSlowFirstAttempts(fn(spark, sfDir)))
        else hashOf(withInjectedFailures(fn(spark, sfDir)))
      spark.catalog.clearCache()
      // the event that must have HAPPENED, not just been configured.
      // For decommission the assertions are hash equality + lifecycle
      // evidence (removal event OR migrated blocks — the removal only
      // posts when the victim finally exits, which can outlast any sane
      // poll while the migration is already visible in block updates).
      // Task/fetch failures are REPORTED, not forbidden: in-flight tasks
      // on the victim legitimately retry (the default mode's claim), and
      // Spark itself ships spark.stage.ignoreDecommissionFetchFailure
      // because a transient fetch window during the handover is expected
      // behavior — what must hold is that recovery converges to
      // byte-identical output, which the hash asserts.
      val ok =
        if (decomMode)
          cleanHash == chaosHash &&
            (decomRemovals.get >= 1 || migratedShuffleBlocks.get >= 1)
        else {
          val events =
            if (speculate) speculativeLaunches.get else taskFailures.get
          cleanHash == chaosHash && events >= 1
        }
      if (!ok) bad += 1
      println(s"[retry] $name rows=$cleanRows clean=$cleanHash " +
        s"chaos=$chaosHash failures=${taskFailures.get} " +
        s"fetch_failures=${fetchFailures.get} " +
        s"speculative=${speculativeLaunches.get} " +
        s"decommissioned=${decomRemovals.get} " +
        s"migrated_shuffle_blocks=${migratedShuffleBlocks.get} " +
        (if (ok) "OK"
         else if (cleanHash != chaosHash) "HASH-MISMATCH"
         else if (decomMode) "NO-DECOM-RECORDED"
         else if (speculate) "NO-SPECULATION-RECORDED"
         else "NO-RETRY-RECORDED"))
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
