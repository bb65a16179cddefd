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

  /** Run `body` and count the Spark jobs it starts. The listener bus is
    * asynchronous but delivers job starts in submission order, so a marker
    * job run after `body` bounds the count: once the marker's start is
    * delivered, every job `body` started has been seen. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft.test.marker"
    val starts = new java.util.concurrent.LinkedBlockingQueue[java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        starts.add(Option(ev.properties).exists(_.getProperty(marker) != null))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      var jobs = 0
      var seen = false
      while (!seen) {
        val isMarker = starts.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(isMarker != null, "the marker job's start was never delivered")
        if (isMarker.booleanValue) seen = true else jobs += 1
      }
      (out, jobs)
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
