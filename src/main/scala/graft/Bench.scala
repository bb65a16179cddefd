package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, MapPartitionsExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import BenchTelemetry.{fmt, la1, measure}

/** The dev CLI for timing and plan evidence. Every query runs through the
  * noop sink, forcing full materialisation (a bare .count() would let
  * Catalyst prune the whole projection), against `SPARK_GRAFT_SF_DIR`
  * with `SPARK_GRAFT_CPUS` cores (default 32; `SPARK_GRAFT_MASTER`
  * applies, see [[GraftSession]]). Three modes:
  *
  *   - no arguments: the headline sweep over `SparkEntry.benchNames`
  *     ([[sweep]]), writing BENCH_LAST.json and one compact JSON line;
  *   - `run <q…>`: per-query timing plus stage counters ([[runQueries]]):
  *     one `[benchsub]` line per query, then its `[jobs]` rows (one per
  *     job label) and its `[stage]` rows;
  *   - `plans <q…>`: every captured execution's formatted plan to
  *     `plans/<tag>/` plus the `[planshape]` summary ([[plans]]).
  *
  * `@bench` in a query list expands to the bench set. `run` and the sweep
  * share one protocol ([[BenchTelemetry.measure]]): a warm-up, then
  * `SPARK_GRAFT_REPS` (default 3) measured reps quoting the min.
  *
  *   sbt "runMain graft.Bench run x_setsim_join x_phrase"
  *   SPARK_GRAFT_PLAN_TAG=r21 sbt "runMain graft.Bench plans x_concomp"
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus("32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val mode = args.headOption.getOrElse("")
    val names = args.toSeq.drop(1).flatMap {
      case "@bench" => SparkEntry.benchNames
      case n        => Seq(n)
    }
    require(mode.isEmpty || (Set("run", "plans")(mode) && names.nonEmpty),
      "usage: graft.Bench [run <q…|@bench> | plans <q…|@bench>]")
    val spark = GraftSession(cpus, logLevel = if (mode.isEmpty) "WARN" else "ERROR")
    mode match {
      case ""    => sweep(spark, sfDir, cpus, reps)
      case "run" => runQueries(spark, sfDir, reps, names)
      case _     => plans(spark, sfDir, names)
    }
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The sweep's last stdout line ([[summaryLine]]): totals only, so its
    * size does not grow with the entry count (a stdout tail capture
    * truncated the ~25 KB telemetry-bearing line and, later, the ~3.8 KB
    * per-entry `queries` map into `parsed: null`). The per-entry detail
    * lives in BENCH_LAST.json, which keeps every key and is rewritten
    * INCREMENTALLY after every entry so a killed run leaves a per-entry
    * trail instead of nothing.
    *
    * Load telemetry: the bench runs on a shared machine, and every round
    * since r14 has carried phantom spikes that had to be adjudicated by
    * hand with isolated re-runs. Three per-entry fields make the artifact
    * SELF-adjudicating, one per pollution signature (see BenchTelemetry's
    * scaladoc): `la`, `spread` and `cw`. Run-level steal/iowait percent
    * from /proc/stat corroborate machine-wide. Steal-immune per-entry axes
    * (the r18 verdict's binding gap): cpu_s = process-CPU seconds of the
    * quoted min rep, plus per-entry shuffle-write records and executor-CPU
    * seconds from stage metrics. benchdiff emits LOAD-SUSPECT from these
    * fields alone and adjudicates round-over-round on cpu_s FIRST.
    * `compiles` is the Janino compile count over the measured reps, 0 for
    * an entry whose generated code stays in the codegen cache. */
  private def sweep(spark: SparkSession, sfDir: String, cpus: String,
                    reps: Int): Unit = {
    val loadStart = la1()
    val jiffiesStart = BenchTelemetry.cpuJiffies()
    val runT0 = System.nanoTime()
    def elapsed(): String = fmt((System.nanoTime() - runT0) / 1e9, 1)
    val counters = new BenchTelemetry.EntryCounters(spark.sparkContext)
    val outPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
    val done = scala.collection.mutable.ArrayBuffer
      .empty[(String, BenchTelemetry.Measured)]
    def queriesJson: String = done.map { case (k, m) =>
      "\"" + k + "\":" + fmt(m.wall, 3)
    }.mkString("{", ",", "}")
    def writeSnapshot(partial: Boolean): Unit = {
      val tel = done.map { case (k, m) =>
        "\"" + k + "\":{\"la\":" + fmt(m.la, 1) + ",\"spread\":" + fmt(m.spread, 2) +
          ",\"cw\":" + fmt(m.cw, 2) + ",\"cpu_s\":" + fmt(m.cpuS, 3) +
          ",\"xcpu_s\":" + fmt(m.xcpuS, 3) + ",\"shuf_rec\":" +
          m.perRep(m.totals.shufRec) + ",\"cold_s\":" + fmt(m.cold, 3) +
          ",\"compiles\":" + m.compiles + "}"
      }.mkString("{", ",", "}")
      val (stealPct, iowaitPct) = BenchTelemetry.stealIowaitPct(
        jiffiesStart, BenchTelemetry.cpuJiffies())
      val line = summaryLine(done.toSeq, cpus, reps, sfDir,
        s""","queries":$queriesJson,"telemetry":$tel,""" +
          s""""load_start":${fmt(loadStart, 2)},"load_end":${fmt(la1(), 2)},""" +
          s""""steal_pct":${fmt(stealPct, 2)},""" +
          s""""iowait_pct":${fmt(iowaitPct, 2)},""" +
          s""""wall_s":${elapsed()},"partial":$partial""")
      try Files.writeString(outPath, line + "\n")
      catch { case _: Throwable => () } // read-only cwd must not fail the run
    }
    SparkEntry.benchNames.foreach { name =>
      val fn = SparkEntry.queries(name)
      val m = measure(spark, counters, name, reps)(noop(fn(spark, sfDir)))
      if (m.failed > 0)
        System.err.println(s"[bench] $name: ${m.failed}/$reps measured reps FAILED")
      done += ((name, m))
      writeSnapshot(partial = true)
      // timestamped per-entry trail: a killed run's stderr says exactly
      // which entry it died in and what each rep cost
      System.err.println(
        s"[bench] t=${elapsed()}s $name warm=" +
          m.warm.map(w => fmt(w.wall, 2)).getOrElse("FAIL") +
          s" reps=${m.reps.map(r => fmt(r.wall, 2)).mkString(",")} min=${fmt(m.wall, 2)}" +
          s" cold=${fmt(m.cold, 2)} blocks=${BenchTelemetry.storageBlocks(spark)}")
    }
    writeSnapshot(partial = false)
    println(summaryLine(done.toSeq, cpus, reps, sfDir))
  }

  /** The sweep's totals as one JSON object: `value` is the summed
    * min-of-reps wall (entries with no successful rep excluded), `failed`
    * the entries with at least one failed measured rep. `more` appends
    * further `,"key":value` members (the BENCH_LAST.json detail). */
  private[graft] def summaryLine(done: Seq[(String, BenchTelemetry.Measured)],
                                 cpus: String, reps: Int, sf: String,
                                 more: String = ""): String = {
    val total = done.map(_._2.wall).filter(_ >= 0).sum // skip -1 markers
    s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",""" +
      s""""entries":${done.size},"failed":${done.count(_._2.failed > 0)},""" +
      s""""cpus":$cpus,"reps":$reps,"sf":"$sf"$more}"""
  }

  /** `run`: one `[benchsub]` line per query with the min-of-reps wall,
    * every stage counter per measured rep, the result's row count and the
    * Janino compiles over the measured reps (`compiles=`, 0 when every
    * generated class hit the codegen cache), then one `[jobs]` row per job
    * description (a `graft:<op> r<i>` label, or `-`) with its jobs, stages
    * and executor CPU seconds per measured rep, then the `[stage]` rows of
    * the measured reps in completion order
    * (SPARK_GRAFT_REPS=1 gives one rep's stages). cw/cpu_s
    * (process-CPU/wall of the min rep) are only printed when the
    * executors live in THIS JVM; xcpu_s comes from the
    * executors' own task metrics, so xcw = xcpu_s/min plays cw's role
    * under local-cluster. A query that fails is reported with its error
    * (an OOM under a constrained heap is a finding), not thrown. */
  private def runQueries(spark: SparkSession, sfDir: String, reps: Int,
                         names: Seq[String]): Unit = {
    val counters = new BenchTelemetry.EntryCounters(spark.sparkContext)
    val mb = 1024.0 * 1024.0
    names.foreach { name =>
      val m = measure(spark, counters, name, reps)(
        noop(SparkEntry.queries(name)(spark, sfDir)))
      // result cardinality (did the WORK grow, or just the scan?), from
      // one unmeasured count after the reps
      val outRows = try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case _: Throwable => -1L }
      val t = m.totals
      def perRepMb(b: Long): String =
        if (m.reps.isEmpty) "-1" else fmt(m.perRep(b) / mb, 1)
      println(s"[benchsub] $name reps=${m.reps.map(r => fmt(r.wall, 2)).mkString(",")} " +
        s"min=${fmt(m.wall, 2)} cold=${fmt(m.cold, 2)} " +
        s"warm=${m.warm.map(w => fmt(w.wall, 2)).getOrElse("FAIL")} " +
        s"la=${fmt(m.la, 1)} spread=${fmt(m.spread, 2)}" +
        (if (GraftSession.clusterMode) ""
         else s" cw=${fmt(m.cw, 2)} cpu_s=${fmt(m.cpuS, 2)}") +
        s" xcpu_s=${fmt(m.xcpuS, 2)}" +
        s" xcw=${fmt(if (m.wall > 0) m.xcpuS / m.wall else -1.0, 2)}" +
        s" shuf_rec=${m.perRep(t.shufRec)} shuf_mb=${perRepMb(t.shufBytes)}" +
        s" in_mb=${perRepMb(t.inBytes)} out_rows=$outRows" +
        s" mem_spill_mb=${perRepMb(t.memSpill)} disk_spill_mb=${perRepMb(t.diskSpill)}" +
        s" peak_mem_mb=${fmt(t.peakMem / mb, 1)} gc_s=${fmt(t.gcMs / 1e3, 2)}" +
        s" run_s=${fmt(t.runMs / 1e3, 2)} stages=${m.stages.size}" +
        s" compiles=${m.compiles}" +
        m.error.map(e => s" failed=${m.failed} err=$e").getOrElse(""))
      m.labels.foreach { l =>
        println(s"[jobs] $name ${l.label} jobs=${m.perRep(l.jobs)} " +
          s"stages=${m.perRep(l.stages)} cpu=${fmt(m.perRep(l.cpuNs) / 1e9, 2)}")
      }
      m.stages.foreach { s =>
        println(f"[stage] $name stage=${s.id}%4d tasks=${s.tasks}%3d " +
          s"cpu=${fmt(s.cpuNs / 1e9, 2)} run=${fmt(s.runMs / 1e3, 2)} " +
          s"gc=${fmt(s.gcMs / 1e3, 2)} inRec=${s.inRec} shufR=${s.shufReadRec} " +
          s"shufW=${s.shufRec} spillMB=${fmt((s.memSpill + s.diskSpill) / mb, 1)} " +
          s"peakMB=${fmt(s.peakMem / mb, 1)} name=${s.name.take(90)}")
      }
    }
  }

  /** Every node of a physical plan, descending into AQE query stages. */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.flatMap {
      case q: QueryStageExec => q +: allNodes(q.plan)
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case n => Seq(n)
    }

  /** A formatted plan with the numbering that differs between runs of one
    * commit masked: expression ids (`#123`), exchange `plan_id`s, and the
    * whole-stage-codegen and AQE query-stage ids, which are numbered in the
    * order stages materialize. Operator ids (`(12)`) are kept: they number
    * the printed tree and are stable. */
  private[graft] def maskPlan(plan: String): String =
    plan.replaceAll("#\\d+", "#_")
      .replaceAll("plan_id=\\d+", "plan_id=_")
      .replaceAll("codegen id : \\d+", "codegen id : _")
      .replaceAll("(QueryStage\\n(?:Output .*\\n)?Arguments: )\\d+", "$1_")

  /** `plans`: EXECUTE each query through the noop sink and write every
    * execution it ran, formatted, to
    * `plans/<SPARK_GRAFT_PLAN_TAG>/<q>_<SPARK_GRAFT_PLAN_SUFFIX>.txt`
    * (defaults `dev` and `before`). A QueryExecutionListener captures
    * EVERY execution — for the iterative operators (labelPropagation,
    * connectedComponents, dupClusters, …) whose rounds execute eagerly at
    * query-construction time, the returned frame's own plan is a vacuous
    * checkpoint scan, so the capture (one plan per round, in execution
    * order) is the only honest plan evidence. The formatted plans carry
    * each scan's PushedFilters and ReadSchema, with run-specific numbering
    * masked ([[maskPlan]]), so two runs of one commit diff empty.
    *
    * The printed `[planshape]` line summarizes the FINAL adaptive plan of
    * the last execution (the noop write): join strategies, exchanges,
    * reuse, AQE reads, whole-stage-codegen stages, `MapPartitions` nodes
    * (`mapp`, one per typed service boundary) and file scans (`scans`), so
    * a lineage the plan replicates shows on this one line. AQE re-plans at
    * runtime, so only the executed plan tells the truth; the
    * pre-execution explain shows the initial guess. */
  private def plans(spark: SparkSession, sfDir: String,
                    names: Seq[String]): Unit = {
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "dev")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    // the execution listener shares the listener bus; the counters' drain
    // is the wait for it
    val counters = new BenchTelemetry.EntryCounters(spark.sparkContext)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { name =>
      captured.clear()
      val err =
        try { noop(SparkEntry.queries(name)(spark, sfDir)); "" }
        catch { case e: Throwable => s" err=${e.getClass.getSimpleName}" }
      counters.drain()
      val qes = { import scala.jdk.CollectionConverters._; captured.asScala.toSeq }
      val out = outDir.resolve(s"${name}_$suffix.txt")
      Files.writeString(out, qes.zipWithIndex.map { case (qe, i) =>
        s"==== execution ${i + 1} of ${qes.size} ====\n" +
          maskPlan(qe.explainString(ExplainMode.fromString("formatted")))
      }.mkString("\n"))
      val nodes = qes.lastOption.toSeq.flatMap(qe => allNodes(qe.executedPlan))
      def c(f: SparkPlan => Boolean) = nodes.count(f)
      val smj = nodes.collect { case j: SortMergeJoinExec => j }
      println(s"[planshape] $name" +
        s" bhj=${c(_.isInstanceOf[BroadcastHashJoinExec])}" +
        s" smj=${smj.size}(skew=${smj.count(_.isSkewJoin)})" +
        s" shj=${c(_.isInstanceOf[ShuffledHashJoinExec])}" +
        s" bnlj=${c(_.isInstanceOf[BroadcastNestedLoopJoinExec])}" +
        s" cart=${c(_.isInstanceOf[CartesianProductExec])}" +
        s" shuffle=${c(_.isInstanceOf[ShuffleExchangeExec])}" +
        s" bcast=${c(_.isInstanceOf[BroadcastExchangeExec])}" +
        s" reuse=${c(_.isInstanceOf[ReusedExchangeExec])}" +
        s" aqeRead=${c(_.isInstanceOf[AQEShuffleReadExec])}" +
        s" wsc=${c(_.isInstanceOf[WholeStageCodegenExec])}" +
        s" mapp=${c(_.isInstanceOf[MapPartitionsExec])}" +
        s" scans=${c(_.isInstanceOf[FileSourceScanExec])}" +
        s" executions=${qes.size} -> $out$err")
      spark.catalog.clearCache()
    }
  }
}
