package graft.core

import org.apache.spark.sql.SparkSession

/** The one place graft names its Spark jobs: every job an operator starts
  * inside [[within]] carries the description `graft:<op> r<round>`, so a
  * listener, an event log or `graft.Bench run` can attribute it to the
  * operator and, for an iterative operator, to the round that ran it
  * (round 0 is the build before the first round). `tools/preflight.sh`
  * fails on a `setJobDescription(` or `setJobGroup(` anywhere else in
  * `src/main`. */
object JobLabel {
  /** The local property a job's description travels in. */
  val DescriptionKey = "spark.job.description"

  def label(op: String, round: Int): String = s"graft:$op r$round"

  /** Run `body` with the job description [[label]]`(op, round)` on this
    * thread, then restore the previous description (none included). The
    * description is a thread-local property that Spark copies into every
    * job `body` submits, AQE stage jobs included. */
  def within[T](op: String, round: Int)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setJobDescription(label(op, round))
    try body
    finally sc.setJobDescription(prev)
  }
}
