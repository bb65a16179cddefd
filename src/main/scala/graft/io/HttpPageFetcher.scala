package graft.io

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

/** HTTP transport for the Op-1 paginated REST source — the real-socket
  * [[RestSource.PageFetcher]]: GET a list endpoint, parse the JSON page,
  * follow the continuation link the server embeds in each response.
  *
  * Reference: `ServiceAlertConnector.py:43-64` — the OData list shape
  * (`d.results` row array, `d.__next` absolute continuation URL), a
  * session that retries transient HTTP failures, and loud failure on an
  * unparseable page. The paths are parameters because only the transport
  * is generic; the defaults are the reference's.
  *
  * Behavior contract (each row spec-locked against a loopback
  * `com.sun.net.httpserver.HttpServer` in IoSpec — no external network):
  *   - token None → GET `firstUrl`; token Some(u) → GET u (the
  *     continuation link is a full URL, the OData convention).
  *   - 429/503 → honor `Retry-After` (seconds; default `backoffMs` when
  *     absent), retry the SAME url up to `maxRetries` times, then raise
  *     naming the last status. Other non-2xx raise immediately — a 404
  *     is a config error, not a transient.
  *   - Unparseable body or a missing results field raises with a body
  *     snippet: silently yielding zero rows would end pagination and
  *     truncate the ingest, the worst failure mode for a sync job.
  *
  * Numbers parse as Long/Double (`USE_LONG_FOR_INTS`) so the schema
  * projection of [[RestSourceV2]]'s reads gets JVM types matching
  * LongType/DoubleType columns; nested objects/arrays survive as Map/Seq for
  * [[RestSource.cleanRecord]] to drop (Op-2). Serializable by
  * construction (config strings only) so the DataSourceV2 path can fetch
  * executor-side. */
class HttpPageFetcher(
    firstUrl: String,
    resultsPath: Seq[String] = Seq("d", "results"),
    nextPath: Seq[String] = Seq("d", "__next"),
    maxRetries: Int = 3,
    backoffMs: Long = 1000L,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 30000,
    // Sent on EVERY request, continuations included — the reference
    // passes credentials + an OData Accept header on each page request
    // (ServiceAlertConnector.py:44-47, 57), so a fetcher that only
    // authenticated the first URL would 401 on page 2. Map keys are
    // header names; see [[HttpPageFetcher.basicAuth]] for the
    // Authorization convenience.
    headers: Map[String, String] = Map("Accept" -> "application/json"),
    // Server-controlled Retry-After is honored but BOUNDED: an
    // unbounded sleep hands a hostile/misconfigured endpoint the power
    // to stall the sync for days (Retry-After: 999999 ~ 11 days), the
    // exact opposite of this class's fail-loudly design goal.
    maxRetryAfterMs: Long = 60000L) extends RestSource.PageFetcher {

  override def fetch(token: Option[String])
      : (Seq[Map[String, Any]], Option[String]) = {
    val url = token.getOrElse(firstUrl)
    val body = getWithRetry(url)
    val root =
      try HttpPageFetcher.mapper.readValue(body, classOf[Object])
      catch {
        case e: Exception => throw new RuntimeException(
          s"RestSource: unparseable JSON page at $url " +
            s"(${e.getMessage}); body starts: ${body.take(200)}")
      }
    val page = HttpPageFetcher.toScala(root)
    val rows = dig(page, resultsPath) match {
      case Some(s: Seq[_]) => s.map {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other => throw new RuntimeException(
          s"RestSource: non-object row at $url: ${String.valueOf(other).take(100)}")
      }
      case other => throw new RuntimeException(
        s"RestSource: no ${resultsPath.mkString(".")} array at $url " +
          s"(got ${other.map(_.getClass.getSimpleName).getOrElse("nothing")}); " +
          s"body starts: ${body.take(200)}")
    }
    val next = dig(page, nextPath).collect { case s: String if s.nonEmpty => s }
    (rows, next)
  }

  private def dig(v: Any, path: Seq[String]): Option[Any] =
    path.foldLeft(Option(v)) {
      case (Some(m: Map[_, _]), k) =>
        m.asInstanceOf[Map[String, Any]].get(k)
      case _ => None
    }

  private def getWithRetry(url: String): String = {
    var attempt = 0
    while (true) {
      val conn = URI.create(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val code = conn.getResponseCode
      if (code / 100 == 2) {
        val is = conn.getInputStream
        try return new String(is.readAllBytes(), StandardCharsets.UTF_8)
        finally is.close()
      }
      Option(conn.getErrorStream).foreach(_.close())
      if ((code == 429 || code == 503) && attempt < maxRetries) {
        // Retry-After is seconds; cap BEFORE converting to millis so a
        // huge value can neither stall the fetch (bounded by
        // maxRetryAfterMs) nor overflow to a negative waitMs that would
        // silently skip backoff entirely. Unparseable or non-positive
        // values fall back to the fetcher's own backoff.
        val waitMs = Option(conn.getHeaderField("Retry-After"))
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
          .filter(_ > 0)
          .map(sec => math.min(sec, maxRetryAfterMs / 1000L) * 1000L)
          .getOrElse(backoffMs)
        attempt += 1
        if (waitMs > 0) Thread.sleep(waitMs)
      } else {
        throw new RuntimeException(
          s"RestSource: HTTP $code from $url" +
            (if (attempt > 0) s" after $attempt retries" else ""))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object HttpPageFetcher {
  // ints as Long so JSON numbers land in LongType columns without a cast
  private val mapper = new ObjectMapper()
    .configure(DeserializationFeature.USE_LONG_FOR_INTS, true)

  /** Basic-auth convenience: the `Authorization` header pair for
    * `headers`. (The reference authenticates with NTLM, a challenge-
    * response scheme a stateless per-request header cannot express;
    * Basic over TLS is the standard public equivalent for pre-shared
    * credentials, and any other scheme is just another header entry.) */
  def basicAuth(user: String, password: String): (String, String) =
    "Authorization" -> ("Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$user:$password".getBytes(StandardCharsets.UTF_8)))

  /** Build a fetcher from DataSourceV2 options (all keys lowercased by
    * CaseInsensitiveStringMap): `url` (required), `resultspath` /
    * `nextpath` (comma-separated), `maxretries`, `backoffms`,
    * `maxretryafterms`, `header.<name>` entries (sent on every request,
    * continuations included), and `basicuser`/`basicpass` (folded into
    * an Authorization header). Header NAMES arrive lowercased, which
    * HTTP treats as equivalent. */
  def fromOptions(opts: Map[String, String]): HttpPageFetcher = {
    val url = opts.getOrElse("url",
      throw new IllegalArgumentException("option 'url' required"))
    val custom = opts.collect {
      case (k, v) if k.startsWith("header.") => k.stripPrefix("header.") -> v
    }
    val auth = for (u <- opts.get("basicuser"); p <- opts.get("basicpass"))
      yield basicAuth(u, p)
    new HttpPageFetcher(
      firstUrl = url,
      resultsPath = opts.get("resultspath").map(_.split(',').toSeq)
        .getOrElse(Seq("d", "results")),
      nextPath = opts.get("nextpath").map(_.split(',').toSeq)
        .getOrElse(Seq("d", "__next")),
      maxRetries = opts.get("maxretries").map(_.toInt).getOrElse(3),
      backoffMs = opts.get("backoffms").map(_.toLong).getOrElse(1000L),
      headers = Map("Accept" -> "application/json") ++ custom ++ auth,
      maxRetryAfterMs =
        opts.get("maxretryafterms").map(_.toLong).getOrElse(60000L))
  }

  /** Jackson's java.util tree → immutable Scala Map/Seq (recursive). */
  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, x) => String.valueOf(k) -> toScala(x) }.toMap
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      l.asScala.map(toScala).toSeq
    case other => other
  }
}
