package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.{JsonDocumentSink, RestSource, StageStore}

class IoSpec extends SparkTestBase {
  import spark.implicits._

  test("Op-5 stage store: versions, retention, latest pointer") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new StageStore(spark, root, retain = 2)
    store.write(Seq(1L).toDF("v"), 100L)
    store.write(Seq(2L).toDF("v"), 200L)
    store.write(Seq(3L).toDF("v"), 300L)
    assert(store.versions() == Seq(300L, 200L))          // pruned to 2
    assert(store.readLatest().as[Long].head() == 3L)     // latest pointer
    assert(store.read(200L).as[Long].head() == 2L)
  }

  test("Op-5 atomic publish: data written once; partial versions invisible") {
    val root = Files.createTempDirectory("graft-store2").toString
    val store = new StageStore(spark, root, retain = 5)
    store.write(Seq(1L).toDF("v"), 100L)
    // exactly one copy of the data on disk: the version dir, no latest/ copy
    val entries = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(entries.count(_.startsWith("v=")) == 1)
    assert(!entries.contains("latest"))
    // a version dir without its commit marker (a writer that died mid-write)
    // must be invisible to readers
    val partial = Paths.get(root, "v=200")
    Files.createDirectories(partial)
    Files.write(partial.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(store.versions() == Seq(100L))
    assert(store.readLatest().as[Long].head() == 1L)
  }

  test("Op-6 JSON document sink: records orient + filename contract") {
    val root = Files.createTempDirectory("graft-json").toString
    val df = Seq((1L, "a"), (2L, null: String)).toDF("id", "title")
    val name = JsonDocumentSink.documentName("v1", "coct-service_alerts",
      "7days", planned = false)
    assert(name == "v1/coct-service_alerts-7days-unplanned.json")
    val path = JsonDocumentSink.write(df.orderBy("id"), root, name)
    val body = new String(Files.readAllBytes(Paths.get(path)))
    assert(body.startsWith("[") && body.endsWith("]"))
    assert(body.contains("\"id\":1") && body.contains("\"title\":\"a\""))
    assert(!body.contains("\"title\":null"))  // null fields pruned (toJSON drops)
  }

  test("Op-5 legacy stores (no markers) stay readable; markers win once present") {
    val root = Files.createTempDirectory("graft-store3").toString
    val store = new StageStore(spark, root, retain = 5)
    // simulate the pre-marker layout: a version dir, no marker
    Seq(7L).toDF("v").write.parquet(s"$root/v=100")
    assert(store.versions() == Seq(100L))
    assert(store.readLatest().as[Long].head() == 7L)
    // the next write backfills markers for legacy dirs BEFORE publishing
    // its own, so upgrade never strands old versions (they stay readable
    // and re-enter retention)
    store.write(Seq(8L).toDF("v"), 200L)
    assert(store.versions() == Seq(200L, 100L))
    assert(store.readLatest().as[Long].head() == 8L)
    assert(store.read(100L).as[Long].head() == 7L)
  }

  test("Op-7 blob sink: one object per row, overwrite-idempotent, no collect") {
    val root = Files.createTempDirectory("graft-blobs").toString
    val df = Seq(("a.html", "<p>A</p>"), ("b.html", "<p>B</p>"))
      .toDF("name", "body")
    assert(graft.io.BlobSink.write(df, root, "name", "body") == 2L)
    assert(new String(Files.readAllBytes(Paths.get(root, "a.html"))) == "<p>A</p>")
    // replay: same names overwrite, no duplicates
    assert(graft.io.BlobSink.write(df, root, "name", "body") == 2L)
    assert(Paths.get(root).toFile.listFiles().count(!_.getName.startsWith(".")) == 2)
  }

  test("Op-51 html render: area_type gates suburb/ward rows like the reference") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "Open", "Burst", "CBD", "Suburb", Seq("s1", "s2"), Seq("w1")),
      (2L, "Closed", "Burst", "CBD", "Official Planning Suburb", Seq("s1"), Seq("w1")),
      (3L, "Open", "Burst", "CBD", "Citywide", Seq("s1"), Seq("w1")))
      .toDF("id", "status", "title", "area", "area_type", "suburbs", "wards")
    val htmls = df.select(col("id"), graft.serve.Emailer.renderHtml(
        col("status"), col("title"), col("area"), col("area_type"),
        col("suburbs"), col("wards"), lit(null).cast("string")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(htmls(1L).contains("suburbs") && htmls(1L).contains("s1, s2")
      && htmls(1L).contains("wards"))
    assert(htmls(1L).contains("<h2>Service Alert - Burst in CBD</h2>"))
    assert(htmls(2L).contains("<h2>Updated Service Alert - Burst in CBD</h2>"))
    assert(!htmls(2L).contains("suburbs") && htmls(2L).contains("wards"))
    assert(!htmls(3L).contains("suburbs") && !htmls(3L).contains("wards"))
  }

  test("Op-51 html render escapes markup in data fields (Jinja-default parity)") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "Open", "Pressure < 2 bar & <script>x</script>", "CBD",
        "Suburb", Seq("s1"), Seq("w1")))
      .toDF("id", "status", "title", "area", "area_type", "suburbs", "wards")
    val html = df.select(graft.serve.Emailer.renderHtml(
        col("status"), col("title"), col("area"), col("area_type"),
        col("suburbs"), col("wards"), lit(null).cast("string")))
      .as[String].head()
    assert(html.contains("Pressure &lt; 2 bar &amp; &lt;script&gt;"))
    assert(!html.contains("<script>"))
  }

  private def pagesFixture = Map(
    None -> (Seq(
      Map[String, Any]("Id" -> 1L, "Title" -> "t1", "__metadata" -> Map("x" -> 1),
        "Nested" -> Map("a" -> "b"), "NullCol" -> null),
      Map[String, Any]("Id" -> 2L, "Title" -> "t2")), Some("p2")),
    Some("p2") -> (Seq(Map[String, Any]("Id" -> 3L)), None))

  private def restSchema = StructType(Seq(StructField("Id", LongType),
    StructField("Title", StringType)))

  test("Op-1/2 REST source: pagination + record flattening") {
    val pages = pagesFixture
    graft.io.RestSourceV2.register("iospec-flatten", new RestSource.PageFetcher {
      def fetch(token: Option[String]) = pages(token)
    })
    val got = spark.read.format(classOf[graft.io.RestSourceV2].getName)
      .schema(restSchema).option("fetcher", "iospec-flatten").load()
      .as[(Option[Long], Option[String])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((Some(1L), Some("t1")), (Some(2L), Some("t2")),
      (Some(3L), None)))
  }

  test("Op-1 DataSourceV2 REST source: executor-side paging, same contract") {
    val pages = pagesFixture
    graft.io.RestSourceV2.register("iospec", new RestSource.PageFetcher {
      def fetch(token: Option[String]) = pages(token)
    })
    val df = spark.read.format(classOf[graft.io.RestSourceV2].getName)
      .schema(restSchema).option("fetcher", "iospec").load()
    assert(df.rdd.getNumPartitions == 1) // cursor chain = one walker
    val got = df.as[(Option[Long], Option[String])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((Some(1L), Some("t1")), (Some(2L), Some("t2")),
      (Some(3L), None)))
    // column pruning reaches the V2 scan: projecting one column still works
    assert(df.select("Title").where($"Title".isNotNull).count() == 2)
  }

  // ---- Op-1 over a REAL socket: loopback HttpServer serving paged OData
  // JSON — exercises the HTTP/pagination/retry/error paths with zero
  // external network (the in-JVM fetcher stubs above prove the Spark
  // plumbing; these prove the transport).

  /** One-route loopback server; `handler(path) -> (status, body)`.
    * Returns (baseUrl, requestLog, stopFn). */
  private def loopbackServer(
      handler: String => (Int, String)): (String, scala.collection.mutable.Buffer[String], () => Unit) = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val log = scala.collection.mutable.Buffer.empty[String]
    val srv = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.toString
        log.synchronized { log += path }
        val (status, body) = handler(path)
        val bytes = body.getBytes("UTF-8")
        if (status == 429) ex.getResponseHeaders.set("Retry-After", "0")
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) { ex.getResponseBody.write(bytes) }
        ex.close()
      }
    })
    srv.start()
    (s"http://127.0.0.1:${srv.getAddress.getPort}", log,
      () => srv.stop(0))
  }

  private def odataPage(rows: Seq[String], next: Option[String]): String =
    s"""{"d":{"results":[${rows.mkString(",")}]${
      next.map(u => s""","__next":"$u"""").getOrElse("")}}}"""

  test("Op-1 HTTP fetcher: follows __next continuation links over a real " +
    "socket; nested/metadata fields dropped by the Op-2 flatten") {
    var base = ""
    val (b, log, stop) = loopbackServer { path =>
      path match {
        case "/list" => (200, odataPage(Seq(
          """{"Id":1,"Title":"t1","__metadata":{"x":1},"Nested":{"a":"b"}}""",
          """{"Id":2,"Title":"t2"}"""), Some(s"$base/list?page=2")))
        case "/list?page=2" =>
          (200, odataPage(Seq("""{"Id":3}"""), None))
        case p => (404, s"no route $p")
      }
    }
    base = b
    try {
      val got = spark.read.format(classOf[graft.io.RestSourceV2].getName)
        .schema(restSchema).option("url", s"$base/list").load()
        .as[(Option[Long], Option[String])].collect().toSeq.sortBy(_._1)
      assert(got == Seq((Some(1L), Some("t1")), (Some(2L), Some("t2")),
        (Some(3L), None)))
      assert(log.toSeq == Seq("/list", "/list?page=2")) // exactly one walk
    } finally stop()
  }

  test("Op-1 HTTP fetcher: 429 with Retry-After is retried (same URL), " +
    "succeeds, and gives up loudly past maxRetries") {
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val (base, log, stop) = loopbackServer { path =>
      val n = hits.merge(path, 1, (a, b) => a + b)
      path match {
        // first attempt throttled, second succeeds
        case "/list" if n == 1 => (429, "slow down")
        case "/list" => (200, odataPage(Seq("""{"Id":1,"Title":"t1"}"""), None))
        case "/always429" => (429, "slow down")
        case p => (404, s"no route $p")
      }
    }
    try {
      val fetcher = new graft.io.HttpPageFetcher(s"$base/list",
        maxRetries = 3, backoffMs = 0)
      val (rows, next) = fetcher.fetch(None)
      assert(rows == Seq(Map("Id" -> 1L, "Title" -> "t1")) && next.isEmpty)
      assert(log.count(_ == "/list") == 2) // the retry actually happened
      val ex = intercept[RuntimeException] {
        new graft.io.HttpPageFetcher(s"$base/always429",
          maxRetries = 2, backoffMs = 0).fetch(None)
      }
      assert(ex.getMessage.contains("HTTP 429") &&
        ex.getMessage.contains("after 2 retries"), ex.getMessage)
      assert(log.count(_ == "/always429") == 3) // initial + 2 retries
    } finally stop()
  }

  test("Op-1 HTTP fetcher: malformed JSON and a missing results array " +
    "raise with a body snippet; non-transient HTTP status raises at once") {
    val (base, log, stop) = loopbackServer {
      case "/garbage" => (200, "<html>not json</html>")
      case "/wrongshape" => (200, """{"items":[{"Id":1}]}""")
      case "/gone" => (404, "nope")
      case p => (404, s"no route $p")
    }
    try {
      val ex1 = intercept[RuntimeException] {
        new graft.io.HttpPageFetcher(s"$base/garbage").fetch(None)
      }
      assert(ex1.getMessage.contains("unparseable") &&
        ex1.getMessage.contains("<html>"), ex1.getMessage)
      val ex2 = intercept[RuntimeException] {
        new graft.io.HttpPageFetcher(s"$base/wrongshape").fetch(None)
      }
      assert(ex2.getMessage.contains("no d.results array"), ex2.getMessage)
      val ex3 = intercept[RuntimeException] {
        new graft.io.HttpPageFetcher(s"$base/gone").fetch(None)
      }
      assert(ex3.getMessage.contains("HTTP 404"), ex3.getMessage)
      assert(log.count(_ == "/gone") == 1) // 404 is NOT retried
    } finally stop()
  }

  /** Header-aware loopback: `handler(path, requestHeaders) -> (status,
    * body, responseHeaders)`. Logs (path, Authorization) per request. */
  private def loopbackServerHdr(
      handler: (String, com.sun.net.httpserver.Headers) => (Int, String, Map[String, String]))
      : (String, scala.collection.mutable.Buffer[(String, String)], () => Unit) = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val log = scala.collection.mutable.Buffer.empty[(String, String)]
    val srv = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.toString
        log.synchronized {
          log += path -> Option(ex.getRequestHeaders.getFirst("Authorization"))
            .getOrElse("")
        }
        val (status, body, hdrs) = handler(path, ex.getRequestHeaders)
        hdrs.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    srv.start()
    (s"http://127.0.0.1:${srv.getAddress.getPort}", log, () => srv.stop(0))
  }

  test("Op-1 HTTP fetcher: custom headers + basic auth are sent on EVERY " +
    "request, continuations included; missing credentials 401 loudly") {
    // the reference sends credentials + an OData Accept header on every
    // page request including continuations (ServiceAlertConnector.py:44-47,
    // 57) — a fetcher that authenticated only the first URL would die on
    // page 2 of any real sync
    val expectAuth = graft.io.HttpPageFetcher.basicAuth("svc", "s3cret")._2
    var base = ""
    val (b, log, stop) = loopbackServerHdr { (path, hdrs) =>
      if (Option(hdrs.getFirst("Authorization")) != Some(expectAuth))
        (401, "auth required", Map.empty)
      else if (Option(hdrs.getFirst("X-Api-Extra")) != Some("v1"))
        (400, "missing extra header", Map.empty)
      else path match {
        case "/sec" => (200, odataPage(Seq("""{"Id":1,"Title":"t1"}"""),
          Some(s"$base/sec?page=2")), Map.empty)
        case "/sec?page=2" =>
          (200, odataPage(Seq("""{"Id":2,"Title":"t2"}"""), None), Map.empty)
        case p => (404, s"no route $p", Map.empty)
      }
    }
    base = b
    try {
      val fetcher = new graft.io.HttpPageFetcher(s"$base/sec",
        headers = Map("Accept" -> "application/json", "X-Api-Extra" -> "v1",
          graft.io.HttpPageFetcher.basicAuth("svc", "s3cret")))
      val (p1, next1) = fetcher.fetch(None)
      val (p2, next2) = fetcher.fetch(next1)
      assert(p1.map(_("Id")) == Seq(1L) && p2.map(_("Id")) == Seq(2L)
        && next2.isEmpty)
      // both requests — head AND continuation — carried the credential
      assert(log.toSeq == Seq("/sec" -> expectAuth, "/sec?page=2" -> expectAuth))
      val ex = intercept[RuntimeException] {
        new graft.io.HttpPageFetcher(s"$base/sec").fetch(None)
      }
      assert(ex.getMessage.contains("HTTP 401"), ex.getMessage)
    } finally stop()
  }

  test("Op-1 HTTP fetcher: hostile Retry-After values are bounded — huge " +
    "waits cap at maxRetryAfterMs, garbage/negative fall back to backoffMs") {
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val ok = (p: String) => (200, odataPage(Seq("""{"Id":1}"""), None),
      Map.empty[String, String])
    val (base, _, stop) = loopbackServerHdr { (path, _) =>
      val n = hits.merge(path, 1, (a, b) => a + b)
      path match {
        // ~11.6 days if honored; also the value whose naive s.toLong*1000
        // overflow once skipped backoff entirely (the r18 advice finding)
        case "/huge" if n == 1 => (429, "", Map("Retry-After" -> "999999999"))
        case "/huge" => ok(path)
        case "/overflow" if n == 1 =>
          (429, "", Map("Retry-After" -> "99999999999999999999")) // > Long.Max
        case "/overflow" => ok(path)
        case "/negative" if n == 1 => (429, "", Map("Retry-After" -> "-7"))
        case "/negative" => ok(path)
        case p => (404, s"no route $p", Map.empty)
      }
    }
    try {
      val t0 = System.nanoTime()
      // cap 1000 ms: the huge header must wait ~1 s, not ~11 days
      val (r1, _) = new graft.io.HttpPageFetcher(s"$base/huge",
        backoffMs = 0, maxRetryAfterMs = 1000L).fetch(None)
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(r1.map(_("Id")) == Seq(1L))
      assert(elapsed >= 0.9 && elapsed < 30, s"elapsed $elapsed")
      // unparseable (overflows Long) and negative both take backoffMs=0:
      // instant retries, still succeed
      val (r2, _) = new graft.io.HttpPageFetcher(s"$base/overflow",
        backoffMs = 0).fetch(None)
      val (r3, _) = new graft.io.HttpPageFetcher(s"$base/negative",
        backoffMs = 0).fetch(None)
      assert(r2.map(_("Id")) == Seq(1L) && r3.map(_("Id")) == Seq(1L))
      assert(hits.get("/overflow") == 2 && hits.get("/negative") == 2)
    } finally stop()
  }

  test("Op-1 DataSourceV2 config-only path: option('url') + header.* + " +
    "basic auth build the transport executor-side, headers on every page") {
    val expectAuth = graft.io.HttpPageFetcher.basicAuth("svc", "pw")._2
    var base = ""
    val (b, log, stop) = loopbackServerHdr { (path, hdrs) =>
      if (Option(hdrs.getFirst("Authorization")) != Some(expectAuth) ||
          Option(hdrs.getFirst("x-api-key")) != Some("k1"))
        (401, "auth required", Map.empty)
      else path match {
        case "/v2" => (200, odataPage(
          Seq("""{"Id":1,"Title":"t1"}""", """{"Id":2,"Title":"t2"}"""),
          Some(s"$base/v2?page=2")), Map.empty)
        case "/v2?page=2" =>
          (200, odataPage(Seq("""{"Id":3}"""), None), Map.empty)
        case p => (404, s"no route $p", Map.empty)
      }
    }
    base = b
    try {
      val df = spark.read.format(classOf[graft.io.RestSourceV2].getName)
        .schema(restSchema)
        .option("url", s"$base/v2")
        .option("header.x-api-key", "k1")
        .option("basicUser", "svc").option("basicPass", "pw")
        .load()
      val got = df.as[(Option[Long], Option[String])].collect().toSeq.sortBy(_._1)
      assert(got == Seq((Some(1L), Some("t1")), (Some(2L), Some("t2")),
        (Some(3L), None)))
      assert(log.map(_._1).toSeq == Seq("/v2", "/v2?page=2") &&
        log.forall(_._2 == expectAuth))
    } finally stop()
  }

  test("Op-1 HTTP fetcher through the DataSourceV2 path: executor-side " +
    "paging over the real socket") {
    var base = ""
    val (b, _, stop) = loopbackServer { path =>
      path match {
        case "/list" => (200, odataPage(
          Seq("""{"Id":1,"Title":"t1"}""", """{"Id":2,"Title":"t2"}"""),
          Some(s"$base/list?page=2")))
        case "/list?page=2" => (200, odataPage(Seq("""{"Id":3}"""), None))
        case p => (404, s"no route $p")
      }
    }
    base = b
    try {
      graft.io.RestSourceV2.register("iospec_http",
        new graft.io.HttpPageFetcher(s"$base/list"))
      val df = spark.read.format(classOf[graft.io.RestSourceV2].getName)
        .schema(restSchema).option("fetcher", "iospec_http").load()
      val got = df.as[(Option[Long], Option[String])].collect().toSeq.sortBy(_._1)
      assert(got == Seq((Some(1L), Some("t1")), (Some(2L), Some("t2")),
        (Some(3L), None)))
    } finally stop()
  }
}
