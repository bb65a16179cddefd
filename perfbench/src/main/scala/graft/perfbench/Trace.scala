package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `start`/`end` are epoch milliseconds with
  * sub-millisecond digits, `parent` is 0 for a unit's root span. */
final case class Span(id: Int, parent: Int, unit: Int, name: String,
                      start: Double, end: Double)

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. With tracing off a span is just its body.
  *
  * Each span also sets the SparkContext local properties `perfbench.unit`
  * and `perfbench.span`, so the jobs a layer call submits (from this thread,
  * or from threads it starts, which inherit local properties) can be
  * attributed to the unit by [[LayerListener]]. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val ids = new AtomicInteger
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, unit: Int)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val up = stack.get.headOption.getOrElse(0)
      val prevSpan = sc.getLocalProperty("perfbench.span")
      val prevUnit = sc.getLocalProperty("perfbench.unit")
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.unit", unit.toString)
      stack.set(id :: stack.get)
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        stack.set(stack.get.drop(1))
        sc.setLocalProperty("perfbench.span", prevSpan)
        sc.setLocalProperty("perfbench.unit", prevUnit)
        recorded.synchronized { recorded += Span(id, up, unit, name, t0, t1) }
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** A timed call into a layer's public function, kept as a (name, unit,
    * seconds, eager) record rather than a span: the enclosing span's self
    * time stays the time of the whole stage. `eager` marks calls that return
    * a lazy frame, so their time is driver-side work before the terminal
    * action. */
  def call[T](name: String, unit: Int, eager: Boolean)(body: => T): T =
    if (!on) body
    else {
      val t0 = nowMs()
      try body
      finally {
        val dt = (nowMs() - t0) / 1e3
        calls.synchronized { calls += Call(name, unit, dt, eager) }
      }
    }

  private val calls = mutable.ArrayBuffer.empty[Call]
  def callRecords: Seq[Call] = calls.synchronized(calls.toList)
}

final case class Call(name: String, unit: Int, seconds: Double, eager: Boolean)

object Tracer {

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start - Intervals.covered(kids, s.start, s.end)) / 1e3
      }.sum
    }
  }
}

object Intervals {

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Counters of Spark's own layers. Jobs carry the `perfbench.unit` local
  * property set by [[Tracer.span]]; stages and tasks are attributed through
  * their job. Everything is summed; the run reads a snapshot before and after
  * its warm window and reports the difference per warm unit. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  /** unit -> job (start, end) intervals, epoch ms */
  private val jobIv = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  def snapshot(): Map[String, Double] = synchronized(c.toMap)
  def jobIntervals(unit: Int): Seq[(Double, Double)] =
    synchronized(jobIv.get(unit).map(_.toList).getOrElse(Nil))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val unit = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.unit")))
      .map(_.toInt).getOrElse(Int.MinValue)
    jobStart(e.jobId) = (unit, e.time)
    add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (unit, t0) =>
      jobIv.getOrElseUpdate(unit, mutable.ArrayBuffer.empty) += ((t0.toDouble, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    add("scheduler.stages", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmitted.remove(e.stageInfo.stageId); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    add("scheduler.tasks", 1)
    stageSubmitted.get(e.stageId).foreach(t => add("scheduler.task_wait_s",
      math.max(0L, info.launchTime - t) / 1e3))
    if (info.attemptNumber > 0 || !info.successful) add("scheduler.task_retries", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.deser_s", m.executorDeserializeTime / 1e3)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L) / 1e3
      add("catalyst.analysis_s", ms("analysis"))
      add("catalyst.optimization_s", ms("optimization"))
      add("catalyst.planning_s", ms("planning"))
      add("catalyst.executions", 1)
      qe.observedMetrics.get("graft.geo.cascade").foreach { r =>
        val exact = r.getAs[Long]("exact")
        val all = Seq("exact", "fuzzy", "geocoded", "fallback").map(r.getAs[Long]).sum
        add("geo.exact_rows", exact.toDouble)
        add("geo.resolved_rows", all.toDouble)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
}

object LayerListener {
  def register(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Janino compiles and compile time, from Spark's static codegen counters. */
object Codegen {
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileS(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9
}
