package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (suites run forked in one JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with the given SQL confs set, restoring prior values after —
    * the session is shared across suites, so leaks would poison later tests. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Run `body` and count the Spark jobs it starts. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (out, descriptions) = jobDescriptionsDuring(body)
    (out, descriptions.size)
  }

  /** Run `body` and return the job description (`spark.job.description`,
    * null when unset) of every Spark job it starts, in submission order.
    * The listener bus is asynchronous but delivers job starts in
    * submission order, so a marker job run after `body` bounds the list:
    * once the marker's start is delivered, every job `body` started has
    * been seen. */
  def jobDescriptionsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    // (is the marker, description); a queue cannot hold a null description
    val starts = new java.util.concurrent.LinkedBlockingQueue[(Boolean, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        val props = Option(ev.properties)
        starts.add((props.exists(_.getProperty(marker) != null),
          props.flatMap(p => Option(p.getProperty(graft.core.JobLabel.DescriptionKey)))))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      val jobs = Seq.newBuilder[String]
      var seen = false
      while (!seen) {
        val start = starts.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(start != null, "the marker job's start was never delivered")
        if (start._1) seen = true else jobs += start._2.orNull
      }
      (out, jobs.result())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
