package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.BenchTelemetry

/** The measured JVM of one benchmark run. `run.py` launches it with the
  * generated input directory and reads the JSON it writes to `--out`:
  *
  *   --mode run      set up, run the first unit, then whole rounds of units
  *                   for at least `--seconds` (closed loop), or the
  *                   open loop of alerts_stream; then dump the outputs for
  *                   the oracle gate
  *   --mode isolate  set up, then run only the units named `--only`
  *                   `--reps` times (the sequence-versus-isolation check)
  *
  * `--launch-ms` is the epoch time at which run.py started the JVM, so
  * `setup_s` covers JVM start, session and input registration. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-ms").toLong
    val workload = a("workload")
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val spark = session(a.getOrElse("cores", "4"), work)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1", spark.sparkContext)
    val layers = if (tracer.on) Some(LayerListener.register(spark)) else None
    val ctx = Ctx(spark, a("data"), work, tracer)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("session_s") = sessionS
    try {
      a("mode") match {
        case "isolate" =>
          val w = Workload(workload, ctx)
          w.register()
          val only = a("only")
          val u = (0 until w.roundSize).find(w.unitName(_) == only)
            .getOrElse(sys.error(s"no unit named $only in $workload"))
          out("unit") = only
          out("latencies_s") = (0 until a("reps").toInt).map { _ =>
            val t0 = tracer.nowMs(); w.runUnit(u); (tracer.nowMs() - t0) / 1e3
          }
        case "run" =>
          val seconds = a("seconds").toDouble
          if (workload == "alerts_stream") runOpen(ctx, a, seconds, launchMs, layers, out)
          else runClosed(Workload(workload, ctx), ctx, seconds, launchMs, layers, out)
      }
    } finally {
      Files.writeString(Paths.get(a("out")), Json.value(out))
      spark.stop()
    }
  }

  def session(cores: String, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Counters read at both ends of the warm window. */
  private final case class Probe(cpuNs: Long, jiffies: Option[(Long, Long, Long)],
                                 compiles: Long, compileS: Double,
                                 layers: Map[String, Double])

  private def probe(ctx: Ctx, layers: Option[LayerListener]): Probe = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    Probe(BenchTelemetry.procCpuNanos(), BenchTelemetry.cpuJiffies(),
      Codegen.compiles(), Codegen.compileS(), layers.map(_.snapshot()).getOrElse(Map.empty))
  }

  /** Per-warm-unit layer figures from the two probes, the spans, the layer
    * calls and the job intervals of the warm units. */
  private def layerTable(ctx: Ctx, p0: Probe, p1: Probe, layers: Option[LayerListener],
                         warm: Seq[Int], walls: Map[Int, (Double, Double)]): Map[String, Double] = {
    val n = math.max(1, warm.size).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("codegen.compiles") = (p1.compiles - p0.compiles) / n
    out("codegen.compile_s") = (p1.compileS - p0.compileS) / n
    if (ctx.tracer.on) {
      val keys = p1.layers.keySet ++ p0.layers.keySet
      keys.toSeq.sorted.foreach(k =>
        out(k) = (p1.layers.getOrElse(k, 0.0) - p0.layers.getOrElse(k, 0.0)) / n)
      val procCpuS = (p1.cpuNs - p0.cpuNs) / 1e9
      out("task.cpu_share") = out.getOrElse("task.cpu_s", 0.0) * n / math.max(1e-9, procCpuS)
      out("task.blocked_s") = out.getOrElse("task.run_s", 0.0) - out.getOrElse("task.cpu_s", 0.0)
      val warmSet = warm.toSet
      val spans = ctx.tracer.spans.filter(s => warmSet(s.unit))
      Tracer.selfTimes(spans).foreach { case (k, v) => out(s"${k}_s") = v / n }
      val calls = ctx.tracer.callRecords.filter(c => warmSet(c.unit))
      calls.groupBy(_.name).foreach { case (k, cs) => out(s"call.${k}_s") = cs.map(_.seconds).sum / n }
      out("driver.eager_s") = calls.filter(_.eager).map(_.seconds).sum / n
      out("driver.self_s") = warm.map { u =>
        val (s, e) = walls(u)
        (e - s - Intervals.covered(layers.get.jobIntervals(u), s, e)) / 1e3
      }.sum / n
      val geoAll = out.getOrElse("geo.resolved_rows", 0.0)
      if (geoAll > 0) out("geo.exact_ratio") = out("geo.exact_rows") / geoAll
    }
    out.toMap
  }

  private def env(p0: Probe, p1: Probe): Map[String, Any] = {
    val (steal, iowait) = BenchTelemetry.stealIowaitPct(p0.jiffies, p1.jiffies)
    Map("nproc" -> Runtime.getRuntime.availableProcessors(), "loadavg_1m" -> BenchTelemetry.la1(),
      "steal_pct" -> steal, "iowait_pct" -> iowait)
  }

  private def runClosed(w: Workload, ctx: Ctx, seconds: Double, launchMs: Long,
                        layers: Option[LayerListener],
                        out: mutable.LinkedHashMap[String, Any]): Unit = {
    val tr = ctx.tracer
    def timed(u: Int): (Boolean, Double, Double, Long) = {
      val c0 = BenchTelemetry.procCpuNanos()
      val t0 = tr.nowMs()
      val ok = try tr.span("unit", u)(w.runUnit(u)) catch {
        case e: Throwable => System.err.println(s"[perfbench] unit $u failed: $e"); false
      }
      val t1 = tr.nowMs()
      (ok, t0, t1, BenchTelemetry.procCpuNanos() - c0)
    }
    w.register()
    out("setup_s") = (System.currentTimeMillis() - launchMs) / 1e3
    val (ok0, f0, f1, _) = timed(0)
    out("first_unit") = Map("name" -> w.unitName(0), "s" -> (f1 - f0) / 1e3, "ok" -> ok0)
    val p0 = probe(ctx, layers)
    val start = tr.nowMs()
    val end = start + seconds * 1e3
    val units = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double, Long, Int)]
    var u = 1
    while (tr.nowMs() < end || (u - 1) % w.roundSize != 0) {
      val (ok, t0, t1, cpu) = timed(u)
      val blocks = if (tr.on) BenchTelemetry.storageBlocks(ctx.spark) else -1
      units += ((u, ok, t0, t1, cpu, blocks))
      u += 1
    }
    val windowS = (tr.nowMs() - start) / 1e3
    val p1 = probe(ctx, layers)
    out("rss_peak_mb") = vmHwmMb()
    out("window_s") = windowS
    out("process_cpu_s") = (p1.cpuNs - p0.cpuNs) / 1e9
    out("units") = units.map { case (i, ok, t0, t1, cpu, _) =>
      Seq(w.unitName(i), (t1 - t0) / 1e3, ok, cpu / 1e9) }
    val walls = units.map { case (i, _, t0, t1, _, _) => i -> (t0, t1) }.toMap
    val table = layerTable(ctx, p0, p1, layers, units.map(_._1).toSeq, walls)
    out("layers") = if (tr.on) table ++ Map("storage.blocks_end" ->
      units.map(_._6.toDouble).sum / math.max(1, units.size)) else table
    out("env") = env(p0, p1)
    if (tr.on) writeSpans(ctx, out)
    val (names, dir) = w.dump(s"${ctx.work}/verify")
    out("dumped") = names
    out("oracle_dir") = dir
  }

  private def runOpen(ctx: Ctx, a: Map[String, String], seconds: Double, launchMs: Long,
                      layers: Option[LayerListener],
                      out: mutable.LinkedHashMap[String, Any]): Unit = {
    val tr = ctx.tracer
    val s = new AlertsStream(ctx, a("period-ms").toLong)
    s.register()
    out("setup_s") = (System.currentTimeMillis() - launchMs) / 1e3
    s.runFirst()
    val p0 = probe(ctx, layers)
    val start = tr.nowMs()
    val dueEnd = s.runWindow(seconds)
    val windowS = (tr.nowMs() - start) / 1e3
    val done = s.committed()
    val p1 = probe(ctx, layers)
    out("rss_peak_mb") = vmHwmMb()
    out("window_s") = windowS
    out("process_cpu_s") = (p1.cpuNs - p0.cpuNs) / 1e9
    // snapshots dropped but not yet merged when `seconds` ran out
    out("backlog_end") = s.commitList.count(_.endMs > dueEnd)
    out("gen_lag_s") = s.lagTimes.max / 1e3
    out("period_s") = a("period-ms").toDouble / 1e3
    // commit k merged snapshot k: its latency runs from the snapshot's due time
    val lat = s.commitList.zip(s.dueTimes).map { case (c, d) => (c.endMs - d) / 1e3 }
    out("first_unit") = Map("name" -> "snapshot", "s" -> lat.headOption.getOrElse(-1.0),
      "ok" -> lat.nonEmpty)
    out("units") = lat.drop(1).map(l => Seq("snapshot", l, true, 0.0))
    // the StreamingAugmenter runs of the window, by the snapshot each started at
    val walls = tr.spans.filter(sp => sp.name == "streaming.run" && sp.unit > 0)
      .map(sp => sp.unit -> (sp.start, sp.end)).toMap
    val table = layerTable(ctx, p0, p1, layers, walls.keys.toSeq.sorted, walls) ++ {
      val cs = s.commitList.slice(1, done)
      val n = math.max(1, cs.size).toDouble
      def d(k: String) = cs.map(_.durations.getOrElse(k, 0.0)).sum / n
      Map("streaming.trigger_s" -> d("triggerExecution"), "streaming.plan_s" -> d("queryPlanning"),
        "streaming.add_batch_s" -> d("addBatch"), "streaming.wal_s" -> d("walCommit"),
        "streaming.state_rows" -> cs.map(_.stateRows).sum / n,
        "streaming.state_commit_s" -> cs.map(_.stateCommitS).sum / n,
        "streaming.watermark_lag_s" -> cs.map(_.watermarkLagS).sum / n)
    }
    out("layers") = if (tr.on) {
      val warm = math.max(1, done - 1).toDouble
      table ++ Map("incremental.enriched_rows" -> (1 until done).map(s.enrichedRows).sum / warm,
        "storage.blocks_end" -> BenchTelemetry.storageBlocks(ctx.spark).toDouble)
    } else table
    out("env") = env(p0, p1)
    if (tr.on) writeSpans(ctx, out)
    val (names, dir) = s.dump(s"${ctx.work}/verify")
    out("dumped") = names
    out("oracle_dir") = dir
  }

  private def writeSpans(ctx: Ctx, out: mutable.LinkedHashMap[String, Any]): Unit = {
    val p = s"${ctx.work}/spans.jsonl"
    val lines = ctx.tracer.spans.map(s => Json.value(Map("id" -> s.id, "parent" -> s.parent,
      "unit" -> s.unit, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))) ++
      ctx.tracer.callRecords.map(c => Json.value(Map("call" -> c.name, "unit" -> c.unit,
        "s" -> c.seconds, "eager" -> c.eager)))
    Files.writeString(Paths.get(p), lines.mkString("", "\n", "\n"))
    out("spans_file") = p
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }
}
