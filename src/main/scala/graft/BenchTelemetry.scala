package graft

import java.util.Locale

/** Shared measurement primitives: the one stage-metrics listener
  * ([[BenchTelemetry.EntryCounters]]), the one measurement loop
  * ([[BenchTelemetry.measure]]) used by every [[Bench]] mode, and the
  * load/steal telemetry that Bench, the streaming mains and perfbench
  * read.
  *
  * Three pollution signatures show up on the shared driver machine, and
  * each needs its own field because each is blind to the others:
  *   - foreign load (la): 1-min loadavg >> the bench's own thread count;
  *   - inconsistent reps (spread): deterministic work timed >1.5x apart;
  *   - CPU STEAL (cw): the hypervisor deschedules the whole VM, so wall
  *     grows while the process accrues no CPU — loadavg stays LOW (the
  *     runqueue is empty, the machine just isn't running) and reps agree
  *     (the steal is sustained), which is exactly the r17 x_rollup case
  *     (16x slow, la=1.3, spread=1.08) the first two fields missed.
  *     cw = process-CPU-time / wall of the quoted (min) rep: any Spark
  *     query through the noop sink keeps >= 1 core busy end-to-end, so a
  *     healthy local-mode rep has cw >= ~1; cw << 1 means the process
  *     spent most of the wall not scheduled at all.
  * Run-level /proc/stat steal+iowait deltas corroborate machine-wide.
  */
object BenchTelemetry {
  def la1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative CPU nanos of THIS JVM (all threads — in local[n] mode the
    * executor pool is in-process, so this covers the actual query work). */
  def procCpuNanos(): Long =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    } catch { case _: Throwable => -1L }

  /** Machine-wide (steal, iowait, total) jiffies from /proc/stat line 1:
    * cpu user nice system idle iowait irq softirq steal guest guest_nice.
    * Total sums only user..steal (first 8 fields): the kernel already
    * folds guest/guest_nice into user, so summing all fields would
    * double-count guest time and understate steal%/iowait% on hosts
    * running nested guests. */
  def cpuJiffies(): Option[(Long, Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.lift(7).getOrElse(0L), f.lift(4).getOrElse(0L), f.take(8).sum))
    } catch { case _: Throwable => None }

  /** steal%/iowait% of total machine jiffies between two cpuJiffies()
    * samples; (-1,-1) when /proc/stat is unreadable. */
  def stealIowaitPct(start: Option[(Long, Long, Long)],
                     end: Option[(Long, Long, Long)]): (Double, Double) =
    (start, end) match {
      case (Some((s0, w0, t0)), Some((s1, w1, t1))) if t1 > t0 =>
        (100.0 * (s1 - s0) / (t1 - t0), 100.0 * (w1 - w0) / (t1 - t0))
      case _ => (-1.0, -1.0)
    }

  /** Locale-pinned decimal formatting: the f-interpolator uses the JVM
    * default locale, which under a comma-decimal locale would emit
    * invalid JSON (1,234 instead of 1.234). */
  def fmt(v: Double, places: Int): String =
    String.format(Locale.ROOT, s"%.${places}f", Double.box(v))

  /** Drop EVERY cached block in the session: the catalog cache (persist()
    * frames, freed by clearCache) AND directly-persisted RDD blocks —
    * localCheckpoint() pins its partitions as storage blocks that
    * clearCache cannot see, so a long entry sequence accumulates them
    * until GC/ContextCleaner gets around to it (the r19 32-core-timeout
    * suspect). Safe at an entry boundary: every bench rep rebuilds its
    * frames from scratch, so no live computation references the dropped
    * blocks. Unpersist is non-blocking — the subsequent listener drain /
    * query start gives the cleanup time to land. */
  def freeCachedBlocks(spark: org.apache.spark.sql.SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
  }

  /** Number of RDDs currently holding storage blocks — the per-entry
    * trail for the block-accumulation failure mode: if this climbs
    * monotonically across entries, cleanup is not keeping up. */
  def storageBlocks(spark: org.apache.spark.sql.SparkSession): Int =
    try spark.sparkContext.getPersistentRDDs.size
    catch { case _: Throwable => -1 }

  /** One completed stage's task metrics, summed over its tasks. Also the
    * shape of [[EntryCounters.totals]], where `peakMem` is the max over
    * stages (peak execution memory does not add across stages). */
  final case class StageRow(
      id: Int = -1, name: String = "total", tasks: Int = 0,
      cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
      inBytes: Long = 0, inRec: Long = 0,
      shufReadRec: Long = 0, shufRec: Long = 0, shufBytes: Long = 0,
      memSpill: Long = 0, diskSpill: Long = 0, peakMem: Long = 0) {
    def +(o: StageRow): StageRow = StageRow(-1, "total", tasks + o.tasks,
      cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
      inBytes + o.inBytes, inRec + o.inRec,
      shufReadRec + o.shufReadRec, shufRec + o.shufRec,
      shufBytes + o.shufBytes, memSpill + o.memSpill,
      diskSpill + o.diskSpill, math.max(peakMem, o.peakMem))
  }

  /** The stage-metrics listener: one [[StageRow]] per completed stage.
    * Two of its axes survive both CPU steal and foreign load — the r18
    * verdict's binding gap was that the committed artifact had no way to
    * COMPARE rounds through a steal era (q_tpch1 committed 1.39 s vs
    * 0.79 s isolated, on unchanged code; wall is noise-bound in both
    * directions on this machine):
    *   - shuffle-write records: a property of the PLAN, bit-identical
    *     across machines and rounds for unchanged code+data;
    *   - executor CPU nanos (TaskMetrics.executorCpuTime): work
    *     actually burned, unchanged when the JVM is descheduled, and —
    *     unlike the driver-process cw — measured on the EXECUTOR side,
    *     so it stays meaningful under local-cluster where the driver's
    *     own CPU says nothing about the query.
    * The rest attribute cost: input/shuffle volume (a growth curve that
    * separates scan growth from candidate growth), memory/disk spill and
    * peak execution memory (does a heavy operator degrade to disk or
    * die when the heap shrinks), GC and run time, and the per-stage rows
    * themselves (CPU burn attributed to a stage, and via the stage name
    * to an operator, without a UI).
    *
    * The listener bus is async, so rows are read after [[drain]]: poll
    * until the count of delivered events (stage completions and SQL
    * execution ends) holds still for 3 consecutive 100 ms windows — a
    * single quiet window misreads a bus stall as "done" and cuts off the
    * last rep's counters — capped so a pathological stall cannot wedge
    * the caller. */
  final class EntryCounters(sc: org.apache.spark.SparkContext) {
    private val rows =
      new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    private val events = new java.util.concurrent.atomic.AtomicLong
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = ev.stageInfo
        val m = s.taskMetrics
        if (m != null) rows.add(StageRow(s.stageId,
          s.name.linesIterator.nextOption().getOrElse(""), s.numTasks,
          m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.diskBytesSpilled, m.peakExecutionMemory))
        events.incrementAndGet()
      }
      override def onOtherEvent(
          ev: org.apache.spark.scheduler.SparkListenerEvent): Unit = ev match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          events.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    def drain(capMs: Long = 5000): Unit = {
      val t0 = System.nanoTime()
      var snap = -1L; var same = 0
      while (same < 3 && (System.nanoTime() - t0) / 1e6 < capMs) {
        Thread.sleep(100)
        val cur = events.get
        if (cur == snap) same += 1 else { same = 0; snap = cur }
      }
    }
    def reset(): Unit = rows.clear()
    def stages: Seq[StageRow] = {
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq
    }
    def totals: StageRow = stages.foldLeft(StageRow())(_ + _)
    def close(): Unit = sc.removeSparkListener(listener)
  }

  /** One measured rep: wall seconds and this JVM's CPU seconds (-1 when
    * the OS bean is unavailable). */
  final case class Rep(wall: Double, cpuS: Double)

  /** Janino compiles so far in this JVM (Spark's static codegen counter:
    * driver and, on a local master, executor compiles; under local-cluster
    * the executors' own compiles are not counted). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One entry measured by [[measure]]. `reps` holds the successful
    * measured reps in run order; a failed rep is left out of it (a
    * transiently failing rep returns FAST, and under min-of-reps a
    * failed-but-timed rep would silently LOWER the headline min). -1 is
    * the explicit error marker when no rep succeeded — never a fabricated
    * elapsed time. `compiles` counts the Janino compiles over the measured
    * reps: the warm-up compiled every class the plan needs, so a nonzero
    * count means generated code missed Spark's codegen cache. */
  final case class Measured(warm: Option[Rep], reps: Seq[Rep], failed: Int,
                            la: Double, stages: Seq[StageRow],
                            error: Option[String], compiles: Long) {
    private val best = reps.minByOption(_.wall)
    /** min wall across the measured reps */
    def wall: Double = best.fold(-1.0)(_.wall)
    /** the MIN rep's CPU: the min is the quoted number, so its own rep
      * must be the one to self-convict */
    def cpuS: Double = best.fold(-1.0)(_.cpuS)
    def cw: Double = if (wall > 0 && cpuS >= 0) cpuS / wall else -1.0
    /** rep 1 runs right after the cached blocks are dropped */
    def cold: Double = reps.headOption.fold(-1.0)(_.wall)
    /** max/min across measured reps: reps of the same lazy plan are
      * deterministic work, so reps that disagree badly were timed on a
      * machine doing something else */
    def spread: Double =
      if (reps.size >= 2) reps.map(_.wall).max / wall else 1.0
    lazy val totals: StageRow = stages.foldLeft(StageRow())(_ + _)
    /** a stage counter per measured rep (the per-rep count is
      * deterministic — same plan, same data — so total/nOk attributes
      * exactly without per-rep drains); -1 when no rep succeeded */
    def perRep(v: Long): Long = if (reps.nonEmpty) v / reps.size else -1L
    def xcpuS: Double =
      if (reps.nonEmpty) totals.cpuNs / 1e9 / reps.size else -1.0
  }

  /** The bench protocol for one entry. One unmeasured warm-up (Janino
    * codegen + JIT — ~15 s for the widest aggregates, irrelevant at
    * cluster scale), then `reps` measured reps reporting the MIN: host
    * load only ever ADDS time, so min-of-reps is the load-robust
    * steady-state estimate.
    *
    * Between the warm-up and the measured reps the listener bus is
    * drained (warm-up events must not leak into the measured window) and
    * every cached block is dropped: the warm-up fills operator-internal
    * persist() caches (CacheManager dedupes by logical plan, so fresh
    * frames in later reps would scan the warm-up's InMemoryRelation), so
    * rep 1 is a true cold run (`cold`) and reps 2..n are warm. After the
    * reps the blocks are dropped again: several queries persist() or
    * localCheckpoint() intermediate frames whose results stay lazy, and
    * without this pinned blocks accumulate across entries and later
    * entries pay eviction pressure for earlier ones' caches (measured:
    * x_setsim_join 7.2 s late in the sequence vs 3.2 s in isolation). */
  def measure(spark: org.apache.spark.sql.SparkSession,
              counters: EntryCounters, name: String, reps: Int)(
      run: => Unit): Measured = {
    var error: Option[String] = None
    def once(): Option[Rep] = {
      val t0 = System.nanoTime()
      val c0 = procCpuNanos()
      try {
        run
        val wall = (System.nanoTime() - t0) / 1e9
        val c1 = procCpuNanos()
        Some(Rep(wall, if (c0 >= 0 && c1 >= c0) (c1 - c0) / 1e9 else -1.0))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name: $e")
          error = Some(e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString.take(160))
          None
      }
    }
    val warm = once()
    counters.drain(); counters.reset()
    freeCachedBlocks(spark)
    val la = la1() // sampled between entries: foreign load >> cpus
    val compiles0 = compiles()
    val times = (1 to reps).flatMap(_ => once())
    val compiled = compiles() - compiles0
    counters.drain()
    val stages = counters.stages
    freeCachedBlocks(spark)
    Measured(warm, times, reps - times.size, la, stages, error, compiled)
  }
}
