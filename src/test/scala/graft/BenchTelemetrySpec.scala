package graft

import org.apache.spark.sql.functions.col

/** The one stage-metrics listener: counters read after the capped drain
  * must hold the whole run (a read before the bus delivers the last stage
  * would undercount the second run), and the per-stage rows must carry
  * the same numbers as the totals. */
class BenchTelemetrySpec extends SparkTestBase {

  test("EntryCounters: drained shuffle counters are complete, repeatable " +
    "and add up per stage") {
    // a slow listener registered first delays every stage event on the
    // shared bus queue, so a read that does not wait for the bus misses
    // stages
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Thread.sleep(150)
    }
    spark.sparkContext.addSparkListener(slow)
    val counters = new BenchTelemetry.EntryCounters(spark.sparkContext)
    try {
      def runOnce(): BenchTelemetry.StageRow = {
        spark.range(0, 20000, 1, 4).groupBy((col("id") % 10).as("k")).count()
          .write.format("noop").mode("overwrite").save()
        counters.drain()
        counters.totals
      }
      counters.drain(); counters.reset()
      val first = runOnce()
      val firstStages = counters.stages
      counters.drain(); counters.reset()
      val second = runOnce()
      val secondStages = counters.stages

      assert(first.shufRec > 0, first)
      assert(first.shufRec == second.shufRec, (first, second))
      assert(first.shufBytes > 0 && first.cpuNs > 0, first)
      Seq(first -> firstStages, second -> secondStages).foreach {
        case (t, rows) =>
          assert(rows.nonEmpty)
          assert(rows.map(_.shufRec).sum == t.shufRec)
          assert(rows.map(_.shufBytes).sum == t.shufBytes)
          assert(rows.map(_.cpuNs).sum == t.cpuNs)
          assert(rows.map(_.tasks).sum == t.tasks)
          assert(rows.map(_.peakMem).max == t.peakMem)
          assert(t.memSpill >= 0 && t.diskSpill >= 0 && t.peakMem >= 0, t)
      }
    } finally {
      counters.close()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("JobLabel.within labels the jobs of its block and restores the " +
    "previous description, also when the block throws") {
    import graft.core.JobLabel
    val sc = spark.sparkContext
    def description = Option(sc.getLocalProperty(JobLabel.DescriptionKey))
    sc.setJobDescription("outer")
    try {
      val (_, labels) = jobDescriptionsDuring(JobLabel.within("op", 2) {
        assert(description === Some("graft:op r2"))
        spark.range(10).count()
      })
      assert(labels.nonEmpty && labels.forall(_ == "graft:op r2"), labels)
      assert(description === Some("outer"))
      intercept[IllegalStateException](
        JobLabel.within("op", 3)(throw new IllegalStateException("boom")))
      assert(description === Some("outer"))
    } finally sc.setJobDescription(null)
    JobLabel.within("op", 4)(())
    assert(description === None)
  }

  test("EntryCounters.byLabel: jobs, stages and CPU grouped by job " +
    "description, in order of first job") {
    import graft.core.JobLabel
    val counters = new BenchTelemetry.EntryCounters(spark.sparkContext)
    try {
      counters.drain(); counters.reset()
      def shuffle(): Unit = spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 7).as("k")).count()
        .write.format("noop").mode("overwrite").save()
      JobLabel.within("a", 0)(shuffle())
      JobLabel.within("b", 1) { shuffle(); shuffle() }
      spark.sparkContext.parallelize(1 to 4, 2).count()
      counters.drain()
      val rows = counters.byLabel
      assert(rows.map(_.label) === Seq("graft:a r0", "graft:b r1", "-"), rows)
      val Seq(a, b, none) = rows
      assert(b.jobs === 2 * a.jobs && b.stages === 2 * a.stages, rows)
      assert(a.stages >= 1 && none.jobs === 1 && none.stages === 1, rows)
      assert(rows.map(_.stages).sum === counters.stages.size, rows)
      assert(rows.map(_.cpuNs).sum === counters.totals.cpuNs, rows)
    } finally counters.close()
  }

  test("Bench.summaryLine: the sweep's last stdout line is totals-only, at " +
    "most 1 KB and valid JSON for 178 entries") {
    import BenchTelemetry.{Measured, Rep}
    val done = (1 to 178).map { i =>
      val m = Measured(warm = None,
        reps = if (i % 50 == 0) Nil else Seq(Rep(0.5, 1.0), Rep(0.25, 0.5)),
        failed = if (i % 50 == 0) 2 else 0, la = 1.0, stages = Nil,
        error = None, compiles = 0L)
      (s"x_entry_with_a_long_query_name_$i", m)
    }
    val line = Bench.summaryLine(done, cpus = "32", reps = 2,
      sf = "testdata/sf0.1")
    assert(line.length <= 1024, s"${line.length} chars: $line")
    import scala.sys.process._
    val parse = Seq("python3", "-c", "import json, sys; d = json.loads(" +
      "sys.stdin.read()); print(d['metric'], d['value'], d['entries'], " +
      "d['failed'], d['cpus'], d['reps'], d['sf'])")
    val parsed = (parse #< new java.io.ByteArrayInputStream(
      line.getBytes("UTF-8"))).!!.trim
    // 175 entries quote their 0.25 s min rep; the 3 with no rep are skipped
    assert(parsed === "total 43.75 178 3 32 2 testdata/sf0.1", line)
  }

  test("Bench.maskPlan: two runs' formatted plans differ only in masked " +
    "ids, while operator ids and real plan differences survive") {
    def run(e: Int, plan: Int, cg: Int, stage: Int, join: String) =
      s"""AdaptiveSparkPlan (9)
         |+- == Final Plan ==
         |   ResultQueryStage (8)
         |   +- * Project (7)
         |      +- ShuffleQueryStage (5), Statistics(sizeInBytes=48.0 B, rowCount=3)
         |
         |(4) $join [codegen id : $cg]
         |Output [2]: [user_id#${e}L, v#${e + 1}]
         |
         |(5) Exchange
         |Input [2]: [user_id#${e}L, v#${e + 1}]
         |Arguments: hashpartitioning(user_id#${e}L, 4), ENSURE_REQUIREMENTS, [plan_id=$plan]
         |
         |(6) ShuffleQueryStage
         |Output [2]: [user_id#${e}L, v#${e + 1}]
         |Arguments: $stage
         |
         |(8) ResultQueryStage
         |Arguments: ${stage + 1}
         |""".stripMargin
    val a = Bench.maskPlan(run(12, 72, 10, 16, "SortMergeJoin"))
    assert(a === Bench.maskPlan(run(340, 147, 11, 17, "SortMergeJoin")))
    assert(a.contains("user_id#_L") && a.contains("[plan_id=_]") &&
      a.contains("[codegen id : _]") && a.contains("ResultQueryStage (8)"), a)
    assert(!a.contains("Arguments: 16") && !a.contains("Arguments: 17"), a)
    // the operator ids and the Exchange's arguments are not run-specific
    assert(a.contains("(6) ShuffleQueryStage") &&
      a.contains("hashpartitioning(user_id#_L, 4)"), a)
    assert(a !== Bench.maskPlan(run(12, 72, 10, 16, "BroadcastHashJoin")))
  }
}
