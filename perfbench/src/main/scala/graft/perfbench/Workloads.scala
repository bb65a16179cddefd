package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{BlobSink, JsonDocumentSink, StageStore}
import graft.serve.{Broadcaster, Emailer}

/** What a workload needs from the run: the session, the generated input
  * directory, a private working directory and the tracer. */
final case class Ctx(spark: SparkSession, data: String, work: String, tracer: Tracer)

/** A closed-loop workload: one client thread runs unit after unit. */
trait Workload {
  /** Load the generated inputs and register them as views. */
  def register(): Unit
  /** The label of unit `u` (a query name or "cycle"). */
  def unitName(u: Int): String
  /** Units per round (the mix size): a measured window holds whole rounds
    * counted from the unit after the first, so every run measures the same
    * units. */
  def roundSize: Int
  /** Run unit `u`; false when its output fails the unit's own check. */
  def runUnit(u: Int): Boolean
  /** Query outputs in `graft.Verify`'s layout (`out/<query>/` parquet and
    * `out/oracle_sql.json`) for the oracle gate, with the input directory
    * the oracle must read them against. */
  def dump(out: String): (Seq[String], String)
}

object Workload {
  /** Register the tables a workload reads as temp views (the queries
    * themselves read the same files by path). */
  def registerTables(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))

  /** Write the oracle SQL of `names` next to their outputs under `out`. */
  def writeOracleSql(out: String, names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(out))
    val json = names.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
    names
  }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "curation" => new QueryMix(ctx, Curation, Seq("documents", "embeddings", "events"))
    case "alerts_pipeline" => new AlertsPipeline(ctx)
    case other => sys.error(s"unknown closed-loop workload $other")
  }

  /** One query of each `ext` family, each with the per-layer family its
    * span is named after. */
  val Curation: Seq[(String, String)] = Seq("x_dedup_minhash" -> "ext.dedup",
    "x_ivfpq_batch" -> "ext.similarity", "x_pagerank" -> "ext.graph")
}

/** One unit is one query of a fixed mix, run in mix order: the call into
  * `SparkEntry.queries` builds the frame, and writing the result as parquet
  * (in `graft.Verify`'s layout, so the oracle gate reads what was measured)
  * executes it. */
final class QueryMix(ctx: Ctx, mix: Seq[(String, String)], tables: Seq[String]) extends Workload {
  import ctx._

  def register(): Unit = Workload.registerTables(spark, data, tables)
  def unitName(u: Int): String = mix(u % mix.size)._1
  def roundSize: Int = mix.size

  def runUnit(u: Int): Boolean = {
    val (q, family) = mix(u % mix.size)
    tracer.span(family, u) {
      val df = tracer.call(s"queries.$q", u, eager = true)(SparkEntry.queries(q)(spark, data))
      df.write.mode("overwrite").parquet(s"$work/verify/$q")
    }
    true
  }

  def dump(out: String): (Seq[String], String) = (Workload.writeOracleSql(out, mix.map(_._1)), data)
}

/** One unit is one cycle of the reference's alerts DAG over one seeded
  * re-scrape (`cycle-<k>` under the input directory, used in turn):
  *   fetch     q55_shape_repair + q02_json_flatten -> StageStore
  *   fix       q_ep2_pipeline -> StageStore
  *   augment   q_ep3_pipeline -> StageStore
  *   broadcast the augmented store -> Broadcaster.fanOut -> 24 JSON documents
  *   email     q31_sent_registry -> StageStore; q51b_html_render ->
  *             Emailer.fanOut against the sent registry the previous cycle
  *             stored -> BlobSink; the emails' keys -> the sent registry
  *
  * An email's status is its order's priority, the field a re-scrape
  * changes. The first cycle's sent registry is the base scrape's, made with
  * the inputs (`base/email_sent.parquet`), so every cycle sends only the
  * emails whose status its scrape changed.
  */
final class AlertsPipeline(ctx: Ctx) extends Workload {
  import ctx._

  private val cycles: Seq[String] = {
    val names = new java.io.File(data).list().filter(_.startsWith("cycle-")).sorted
    require(names.nonEmpty, s"no cycle-* directories under $data")
    names.toSeq.map(n => s"$data/$n")
  }
  private def store(name: String) = new StageStore(spark, s"$work/stores/$name")
  private val now = Timestamp.valueOf("1999-01-01 00:00:00")

  def register(): Unit =
    Workload.registerTables(spark, s"$data/base", Seq("customer", "orders", "nation", "events"))
  def unitName(u: Int): String = "cycle"
  def roundSize: Int = 1
  private var lastCycle = -1

  private def stage[T](name: String, u: Int)(body: => T): T = tracer.span(s"stage.$name", u)(body)

  private def query(name: String, dir: String, u: Int): DataFrame =
    tracer.call(s"queries.$name", u, eager = true)(SparkEntry.queries(name)(spark, dir))

  private def persistTo(storeName: String, df: DataFrame, u: Int): Unit =
    tracer.call("io.StageStore.write", u, eager = false) {
      store(storeName).write(df, u + 1L); ()
    }

  def runUnit(u: Int): Boolean = {
    lastCycle = u % cycles.size
    val dir = cycles(lastCycle)
    stage("fetch", u) {
      persistTo("fetch_q55", query("q55_shape_repair", dir, u), u)
      persistTo("fetch_q02", query("q02_json_flatten", dir, u), u)
    }
    stage("fix", u)(persistTo("fix", query("q_ep2_pipeline", dir, u), u))
    stage("augment", u)(persistTo("augment", query("q_ep3_pipeline", dir, u), u))
    val docs = stage("broadcast", u) {
      val alerts = servingAlerts(store("augment").readLatest())
      val frames = tracer.call("serve.Broadcaster.fanOut", u, eager = true) {
        Broadcaster.fanOut(alerts, Seq("id", "title"), now)
      }
      val written = frames.toSeq.map { case ((w, p, v), df) =>
        tracer.call("io.JsonDocumentSink.write", u, eager = false) {
          JsonDocumentSink.write(df, s"$work/documents",
            JsonDocumentSink.documentName(v, "alerts", w.toString.toLowerCase, p))
        }
      }
      alerts.unpersist()
      written.distinct.size
    }
    val blobs = stage("email", u) {
      persistTo("email_registry", query("q31_sent_registry", dir, u), u)
      val rendered = emails(query("q51b_html_render", dir, u), dir)
      val registry = store("email_sent")
      val sent =
        if (registry.versions().isEmpty) spark.read.parquet(s"$data/base/email_sent.parquet")
        else registry.readLatest()
      val unsent = tracer.call("serve.Emailer.fanOut", u, eager = true) {
        Emailer.fanOut(rendered, Seq(EmailConfig), sent)(EmailConfig.name)
      }
      val n = tracer.call("io.BlobSink.write", u, eager = false) {
        BlobSink.write(unsent, s"$work/blobs", "email_filename", "html")
      }
      persistTo("email_sent", sentKeys(rendered), u)
      n
    }
    // a cycle changes 30 orders (gen.py), so at most 30 emails are due, or
    // all the cycles' changes when the scrapes wrap from the last to the first
    docs == 24 && blobs > 0 && blobs <= 30 * (cycles.size - 1)
  }

  /** The recipient config `q51b_html_render` names its blobs after. */
  private val EmailConfig = Emailer.EmailConfig("render-test", Seq("a@x"))

  /** The rendered emails as `Emailer` alerts: `id` is the order, `status`
    * its priority in the scrape under `dir`. */
  private def emails(render: DataFrame, dir: String): DataFrame =
    render.join(spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority").as("status")), "o_orderkey")
      .select(col("o_orderkey").as("id"), col("status"), col("email_filename"), col("html"))

  /** The sent-registry keys of `alerts`, in `Emailer.unsent`'s form. */
  private def sentKeys(alerts: DataFrame): DataFrame =
    alerts.select(concat_ws("_", Emailer.configKey(EmailConfig), col("status"),
      col("id").cast("string")).as("sent_key"))

  /** The augmented alerts in the serving schema the Broadcaster projects:
    * ids alternate planned/unplanned and expire across a two-week window
    * around the serving instant, so every one of the 24 documents is fed. */
  private def servingAlerts(augmented: DataFrame): DataFrame =
    augmented.select(col("id"), col("src").as("title"), col("tweet_text"),
      col("toot_text"), col("resolution").as("area_type"),
      col("inferred_cells").as("geospatial_footprint"),
      col("resolution").as("status"),
      (col("id") % 2 === 0).as("planned"),
      (lit(now) + make_interval(lit(0), lit(0), lit(0), (col("id") % 14 - 7).cast("int")))
        .as("expiry_date"))

  /** The stage outputs the last cycle committed are the oracle gate's
    * input: each store's latest version is linked into the Verify layout.
    * The email render, which only reaches the sink filtered, is written
    * once more in full. */
  def dump(out: String): (Seq[String], String) = {
    val dir = cycles(lastCycle)
    val stored = Seq("fetch_q55" -> "q55_shape_repair", "fetch_q02" -> "q02_json_flatten",
      "fix" -> "q_ep2_pipeline", "augment" -> "q_ep3_pipeline",
      "email_registry" -> "q31_sent_registry")
    Files.createDirectories(Paths.get(out))
    stored.foreach { case (st, q) =>
      val latest = store(st).versions().head
      Files.createSymbolicLink(Paths.get(s"$out/$q"), Paths.get(s"$work/stores/$st/v=$latest"))
    }
    SparkEntry.queries("q51b_html_render")(spark, dir).write.parquet(s"$out/q51b_html_render")
    (Workload.writeOracleSql(out, stored.map(_._2) :+ "q51b_html_render"), dir)
  }
}
