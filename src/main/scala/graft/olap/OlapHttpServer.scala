package graft.olap

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Thin HTTP front over OlapApi — REST parity with the reference's Apache
  * deployment (api-library-olap/README.md:3,14; the PHP endpoint scripts
  * are absent from the snapshot, so the routes mirror the spec + the
  * connector's consumption, Codice.gs:45-47,205-231):
  *
  *   GET /olap/fact_tables
  *   GET /olap/<fact>/dimensions
  *   GET /olap/<fact>/measures
  *   GET /olap/<fact>/aggregates
  *   GET /olap/<fact>/tags
  *   GET /olap/<fact>/aggregate?cut=..&drilldown=..&measure=..
  *         &aggregate=..&order=..&limit=..&output=json|table&tag=..
  *   GET /olap/<fact>/triage?content=..&output=..      (media census)
  *   GET /olap/<fact>/distinct?column=..&k=..          (KMV estimate)
  *   GET /olap/<fact>/overlap?other=..&column=..       (KMV Jaccard)
  *
  * JDK built-in HttpServer: zero dependencies. The query work itself runs
  * distributed in Spark; the HTTP layer only shuttles small aggregate JSON
  * (Renderer collects at the API boundary by design). Unknown
  * facts/routes -> 404, bad params -> 400, both with a JSON error body.
  *
  * Requests run on a fixed pool of `availableProcessors` daemon threads
  * (`olap-http-N`), so one slow aggregate does not queue the dashboard
  * requests behind it (without an executor the JDK runs every exchange
  * on its one dispatcher thread); [[stop]] shuts the pool down.
  *
  * Nagle is off: the JDK writes the response headers and the body as two
  * TCP segments, and with Nagle on the body waits for the client's
  * delayed ACK — about 40 ms on every answer, catalog answers built in
  * well under a millisecond included. The JDK reads
  * `sun.net.httpserver.nodelay` once per JVM, at its first HttpServer, so
  * the server sets it before it creates one (an operator's own `-D` value
  * wins). It is set here rather than in `build.sbt`'s `javaOptions`
  * because other launchers (spark-submit, benchmark harnesses, embedding
  * applications) never read those.
  *
  * Binds 127.0.0.1 by default; pass `bindHost` (e.g. "0.0.0.0" behind a
  * real front proxy) to widen it. `authToken` is the `.htaccess` twin of
  * the reference deployment (api-library-olap/README.md:3): when set,
  * every request must carry `Authorization: Bearer <token>` (or
  * `?token=` for clients that can't set headers) or it gets a 401 —
  * widening the bind WITHOUT a token is the caller's explicit choice.
  * Oversized drilldowns surface as 413 ([[Renderer.ResultTooLarge]]),
  * never as a driver OOM.
  */
final class OlapHttpServer(api: OlapApi, port: Int = 0,
    bindHost: Option[String] = None, authToken: Option[String] = None) {

  private val addr = bindHost match {
    case Some(h) => new InetSocketAddress(InetAddress.getByName(h), port)
    case None    => new InetSocketAddress(InetAddress.getLoopbackAddress, port)
  }
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(addr, 0)
  private val workers = Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors, OlapHttpServer.workerThreads())
  server.setExecutor(workers)
  server.createContext("/olap", (ex: HttpExchange) => handle(ex))

  /** Bound port (useful with port = 0: an ephemeral test port). */
  def boundPort: Int = server.getAddress.getPort

  def start(): OlapHttpServer = { server.start(); this }

  /** Close the socket, then let in-flight requests finish (bounded) and
    * end the worker threads. */
  def stop(): Unit = {
    server.stop(0)
    workers.shutdown()
    workers.awaitTermination(30, TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val segs = ex.getRequestURI.getPath.stripPrefix("/olap")
        .split("/").filter(_.nonEmpty).toSeq
      val params = queryParams(ex)
      // no non-local return here: it would throw through to the 500 arm
      // after the 401 was already written
      val authorized = authToken.forall { tok =>
        Option(ex.getRequestHeaders.getFirst("Authorization"))
          .contains(s"Bearer $tok") || params.get("token").contains(tok)
      }
      if (!authorized) respond(ex, 401, """{"error": "unauthorized"}""")
      else {
      val body = segs match {
        case Seq("fact_tables") => api.factTables
        case Seq(fact, "dimensions") => api.dimensions(fact)
        case Seq(fact, "measures") => api.measures(fact)
        case Seq(fact, "aggregates") => api.aggregates(fact)
        case Seq(fact, "tags") => api.tags(fact)
        case Seq(fact, "triage") =>
          api.triage(fact,
            contentCol = params.getOrElse("content", "content"),
            output = params.getOrElse("output", "json"))
        case Seq(fact, "distinct") =>
          api.distinctEstimate(fact,
            column = params.getOrElse("column",
              throw new IllegalArgumentException(
                "distinct requires ?column=<integer key column>")),
            k = params.get("k").map(_.toInt).getOrElse(1024))
        case Seq(fact, "overlap") =>
          api.overlapEstimate(fact,
            other = params.getOrElse("other",
              throw new IllegalArgumentException(
                "overlap requires ?other=<fact>")),
            column = params.getOrElse("column",
              throw new IllegalArgumentException(
                "overlap requires ?column=<integer key column>")),
            otherColumn = params.get("other_column"),
            k = params.get("k").map(_.toInt).getOrElse(1024))
        case Seq(fact, "aggregate") =>
          api.aggregate(fact,
            cut = params.get("cut"),
            drilldown = params.get("drilldown"),
            measure = params.get("measure"),
            aggregate = params.get("aggregate"),
            order = params.get("order"),
            limit = params.get("limit").map(_.toInt),
            output = params.getOrElse("output", "json"),
            tag = params.get("tag"))
        case _ => throw new NoSuchElementException(
          s"unknown route: ${ex.getRequestURI.getPath}")
      }
      respond(ex, 200, body)
      }
    } catch {
      case e: Renderer.ResultTooLarge => respond(ex, 413, errorJson(e))
      case e: NoSuchElementException => respond(ex, 404, errorJson(e))
      case e @ (_: IllegalArgumentException | _: IllegalStateException |
                _: NumberFormatException) => respond(ex, 400, errorJson(e))
      case e: Throwable => respond(ex, 500, errorJson(e))
    }

  private def errorJson(e: Throwable): String =
    s"""{"error": ${Renderer.jsonString(Option(e.getMessage).getOrElse(e.getClass.getName))}}"""

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Decode the query string: the cut/drilldown grammar uses `|` `:` `;`
    * `,` `@`, which arrive percent-encoded from well-behaved clients but
    * are also accepted raw (they are valid in URI query parts). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty).toSeq
      .flatMap(_.split("&").toSeq).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(dec(k) -> dec(v))
          case Array(k) if k.nonEmpty => Some(dec(k) -> "")
          case _ => None
        }
      }.toMap

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
}

object OlapHttpServer {
  def apply(api: OlapApi, port: Int = 0, bindHost: Option[String] = None,
      authToken: Option[String] = None): OlapHttpServer =
    new OlapHttpServer(api, port, bindHost, authToken)

  private def workerThreads(): ThreadFactory = {
    val n = new AtomicInteger(0)
    (r: Runnable) => {
      val t = new Thread(r, s"olap-http-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
