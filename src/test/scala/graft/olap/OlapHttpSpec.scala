package graft.olap

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{Duration, LocalDate}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.config.OlapConfig
import graft.snapshot.{FactStore, SnapshotJob, Warehouse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end REST front: a real socket on an ephemeral port, golden
  * responses identical to the library-call wire formats (the HTTP layer
  * must add nothing and lose nothing vs OlapApi). */
class OlapHttpSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    if (started) server.stop()
    super.afterAll()
  }

  @volatile private var started = false

  private val settingsJson =
    """{ "fact_tables": [ {
      |  "name": "http_users", "label": "utenti attivi", "cron": "daily",
      |  "fact_queries": [
      |    { "query_id": 1, "enable": 1, "info": "active users",
      |      "query": { "type": "sql", "value":
      |        "SELECT c_mktsegment AS segment, COUNT(*) AS value FROM http_customer GROUP BY c_mktsegment" } } ] } ] }"""
      .stripMargin

  private val factMetaJson =
    """{ "label": "utenti attivi",
      |  "dimensions": [ { "name": "segment", "label": "segmento" } ],
      |  "measures": [ { "name": "value", "label": "valore", "aggregate": "sum" } ] }"""
      .stripMargin

  private lazy val wh: Warehouse = {
    graft.Tables.load(spark, sf("sf0.001"), "customer")
      .createOrReplaceTempView("http_customer")
    val w = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("http_wh").toString)
    SnapshotJob.run(spark, OlapConfig.parseSettings(settingsJson), w,
      LocalDate.parse("2024-01-15"))
    w
  }

  private lazy val api: OlapApi =
    new OlapApi(spark, wh,
      Map("http_users" -> OlapConfig.parseFactMeta("http_users", factMetaJson)))

  private lazy val server: OlapHttpServer = {
    val s = OlapHttpServer(api).start()
    started = true
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("catalog routes match the library wire formats byte-for-byte") {
    assert(get("/olap/fact_tables") == (200, api.factTables))
    assert(get("/olap/http_users/dimensions") == (200, api.dimensions("http_users")))
    assert(get("/olap/http_users/measures") == (200, api.measures("http_users")))
    assert(get("/olap/http_users/aggregates") == (200, api.aggregates("http_users")))
  }

  test("aggregate route: params decode, output=table golden") {
    val (code, body) = get(
      "/olap/http_users/aggregate?drilldown=segment&output=table")
    assert(code == 200)
    assert(body == api.aggregate("http_users", drilldown = Some("segment"),
      output = "table"))
    assert(body.startsWith("""[["segment", "value"],"""))
    // percent-encoded cut grammar (: and |) decodes to the same result
    val (c2, b2) = get("/olap/http_users/aggregate?cut=segment%3ABUILDING" +
      "&drilldown=segment&output=table")
    assert(c2 == 200)
    assert(b2 == api.aggregate("http_users", cut = Some("segment:BUILDING"),
      drilldown = Some("segment"), output = "table"))
    // top-N through the wire: order+limit
    val (c3, b3) = get(
      "/olap/http_users/aggregate?drilldown=segment&order=value%3Adesc&limit=2&output=table")
    assert(c3 == 200 && b3.split("\n").length == 3) // header + 2 rows
  }

  test("empty cut -> empty_dataset through the wire") {
    val (code, body) = get(
      "/olap/http_users/aggregate?cut=segment%3ANOPE&drilldown=segment")
    assert(code == 200 && body == Renderer.emptyDataset)
  }

  test("errors: unknown route 404, unknown fact / bad limit 400") {
    assert(get("/olap/nope_route")._1 == 404)
    assert(get("/olap/no_such_fact/aggregate")._1 == 400)
    val (code, body) = get("/olap/http_users/aggregate?limit=abc")
    assert(code == 400 && body.contains("\"error\""))
  }

  test("triage + distinct routes: media census and KMV estimate " +
      "through the wire; wrong params are client errors") {
    // a media fact: real PNG/JPEG fixtures + junk, appended directly
    val media = spark.range(30).select(col("id").as("media_id"),
      when(col("id") % 3 === 0, graft.ext.GrayPngEncode(col("id"),
          lit(9L), lit(8L), lit(11L), lit(5L), lit(0L)))
        .when(col("id") % 3 === 1, graft.ext.BlockJpegEncode(col("id"),
          lit(2L), lit(2L)))
        .otherwise(lit("junk!".getBytes)).as("content"),
      lit(2024L).as("year"))
    wh.append("http_media", media)
    val mediaApi = new OlapApi(spark, wh, Map(
      "http_users" -> OlapConfig.parseFactMeta("http_users", factMetaJson),
      "http_media" -> OlapConfig.parseFactMeta("http_media",
        """{ "label": "media", "dimensions": [], "measures": [] }""")))
    val s2 = OlapHttpServer(mediaApi).start()
    try {
      def get2(pq: String): (Int, String) = {
        val resp = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${s2.boundPort}$pq")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val (tc, tb) = get2("/olap/http_media/triage?output=table")
      assert(tc == 200)
      // census golden: 10 png + 10 jpeg + 10 unknown
      assert(tb.contains("\"png\", 10") && tb.contains("\"jpeg\", 10") &&
        tb.contains("\"unknown\", 10"), tb)
      assert(get2("/olap/http_media/triage")._2 ==
        mediaApi.triage("http_media"))
      // KMV estimate: 30 distinct ids < k -> exact
      val (dc, db) = get2("/olap/http_media/distinct?column=media_id&k=64")
      assert(dc == 200 && db.contains("\"distinct_est\": 30"), db)
      // overlap of the fact with itself: X = sketch, y = |X| -> J = 1
      val (oc, ob) = get2(
        "/olap/http_media/overlap?other=http_media&column=media_id&k=64")
      assert(oc == 200 && ob.contains("\"jaccard_micro\": 1000000") &&
        ob.contains("\"union_est\": 30"), ob)
      assert(ob == mediaApi.overlapEstimate("http_media", "http_media",
        "media_id", None, 64))
      // client errors: missing column, non-integer column, non-binary
      // content, bad k, missing other
      assert(get2("/olap/http_media/distinct")._1 == 400)
      assert(get2("/olap/http_media/distinct?column=content")._1 == 400)
      assert(get2("/olap/http_media/triage?content=media_id")._1 == 400)
      assert(get2("/olap/http_media/distinct?column=media_id&k=2")._1 == 400)
      assert(get2("/olap/http_media/overlap?column=media_id")._1 == 400)
      assert(get2("/olap/nope/triage")._1 == 400)
    } finally s2.stop()
  }

  test("auth token: 401 without, 200 with header or query param") {
    val secured = OlapHttpServer(api, authToken = Some("s3cret")).start()
    try {
      def sget(pathAndQuery: String, auth: Option[String]): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${secured.boundPort}$pathAndQuery")).GET()
        auth.foreach(a => b.header("Authorization", a))
        val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      assert(sget("/olap/fact_tables", None) ==
        (401, """{"error": "unauthorized"}"""))
      assert(sget("/olap/fact_tables", Some("Bearer wrong"))._1 == 401)
      assert(sget("/olap/fact_tables", Some("Bearer s3cret")) ==
        (200, api.factTables))
      // query-param fallback for header-less clients
      assert(sget("/olap/fact_tables?token=s3cret", None)._1 == 200)
      // errors behind auth stay mapped (not 401-shadowed)
      assert(sget("/olap/nope", Some("Bearer s3cret"))._1 == 404)
    } finally secured.stop()
  }

  test("result-size guard: oversized drilldown is a 413, not a driver OOM") {
    val tinyApi = new OlapApi(spark, wh,
      Map("http_users" -> OlapConfig.parseFactMeta("http_users", factMetaJson)),
      maxResultRows = 2)
    val tiny = OlapHttpServer(tinyApi).start()
    try {
      def tget(q: String): (Int, String) = {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${tiny.boundPort}$q")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // 5 segments > 2-row bound: refused with the actionable message
      val (code, body) = tget("/olap/http_users/aggregate?drilldown=segment")
      assert(code == 413 && body.contains("limit"), s"$code $body")
      // an explicit limit UNDER the bound passes
      assert(tget("/olap/http_users/aggregate?drilldown=segment&limit=2")._1
        == 200)
      // table output guards identically
      assert(tget("/olap/http_users/aggregate?drilldown=segment&output=table")
        ._1 == 413)
    } finally tiny.stop()
  }

  private lazy val http11 =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def request(s: OlapHttpServer, pathAndQuery: String,
      timeoutS: Int = 60) =
    HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:${s.boundPort}$pathAndQuery"))
      .timeout(Duration.ofSeconds(timeoutS)).GET().build()

  private def workerThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("olap-http-") && t.isAlive).toSet

  test("keep-alive catalog answers come without the ~40 ms send stall") {
    // Nagle on the server socket holds the body back for the client's
    // delayed ACK: about 42 ms on every answer, however small
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val r = http11.send(request(server, "/olap/fact_tables"),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200 && r.body() == api.factTables)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, f"median $median%.1f ms of ${ms.map(m => f"$m%.1f")}")
  }

  test("nproc x 4 concurrent aggregates answer byte-equal to sequential " +
      "ones; stop() ends the worker threads") {
    val queries = Seq(
      "drilldown=segment&output=table",
      "drilldown=segment",
      "cut=segment%3ABUILDING&drilldown=segment",
      "drilldown=segment&order=value%3Adesc&limit=2&output=table",
      "measure=value")
    val before = workerThreads()
    val s = OlapHttpServer(api).start()
    try {
      def agg(q: String) = request(s, s"/olap/http_users/aggregate?$q")
      val sequential = queries.map { q =>
        val r = http11.send(agg(q), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, s"$q: ${r.body()}")
        q -> r.body()
      }.toMap
      val nproc = Runtime.getRuntime.availableProcessors
      val inFlight = (0 until nproc * 4).map { i =>
        val q = queries(i % queries.size)
        q -> http11.sendAsync(agg(q), HttpResponse.BodyHandlers.ofString())
      }
      inFlight.foreach { case (q, f) =>
        val r = f.get(120, TimeUnit.SECONDS)
        assert(r.statusCode() == 200 && r.body() == sequential(q), q)
      }
      assert((workerThreads() -- before).size == nproc)
    } finally s.stop()
    assert((workerThreads() -- before).isEmpty)
  }

  test("a slow request does not delay a fast one") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val blocking = new FactStore {
      def read(fact: String): Option[DataFrame] = {
        entered.countDown()
        release.await()
        wh.read("http_users")
      }
      def append(fact: String, batch: DataFrame): Unit =
        throw new UnsupportedOperationException("read-only stub")
    }
    val slowApi = new OlapApi(spark, blocking,
      Map("slow" -> OlapConfig.parseFactMeta("slow", factMetaJson)))
    val s = OlapHttpServer(slowApi).start()
    try {
      val slow = http11.sendAsync(
        request(s, "/olap/slow/aggregate?drilldown=segment&output=table"),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(60, TimeUnit.SECONDS))
      // a single-threaded server would hold this behind the blocked read
      // until the 10 s timeout
      val fast = http11.send(request(s, "/olap/fact_tables", timeoutS = 10),
        HttpResponse.BodyHandlers.ofString())
      assert(fast.statusCode() == 200 && fast.body() == slowApi.factTables)
      assert(!slow.isDone)
      release.countDown()
      val r = slow.get(120, TimeUnit.SECONDS)
      assert(r.statusCode() == 200 && r.body() == api.aggregate("http_users",
        drilldown = Some("segment"), output = "table"))
    } finally {
      release.countDown()
      s.stop()
    }
  }

  test("tags route + aggregate?tag=: time travel reachable through the API") {
    // runs last alphabetically-independent: pin, then mutate the fact
    val before = get("/olap/http_users/aggregate?drilldown=segment&output=table")._2
    wh.tag("http_users", "run-2024-01-15")
    assert(get("/olap/http_users/tags") == (200, """["run-2024-01-15"]"""))
    // a later snapshot changes the live aggregate...
    SnapshotJob.run(spark, OlapConfig.parseSettings(settingsJson), wh,
      LocalDate.parse("2024-01-16"))
    val live = get("/olap/http_users/aggregate?drilldown=segment&output=table")._2
    assert(live != before)
    // ...but the pinned read reproduces the pre-append result exactly
    val (tc, tagged) = get(
      "/olap/http_users/aggregate?drilldown=segment&output=table&tag=run-2024-01-15")
    assert(tc == 200 && tagged == before)
    // unknown tag fails as a client error, not a 500
    assert(get("/olap/http_users/aggregate?tag=nope")._1 == 400)
    assert(get("/olap/no_such_fact/tags")._1 == 400)
  }
}
