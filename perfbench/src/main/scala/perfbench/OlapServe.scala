package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.config.OlapConfig
import graft.model.FactMeta
import graft.olap.{AggregateService, OlapApi, OlapHttpServer, Renderer}
import graft.snapshot.{SnapshotJob, Warehouse}

import Main.{ms, timed}

/** `olap_serve`: dashboard requests through `OlapHttpServer` over facts
  * that `SnapshotJob` built at set-up. */
object OlapServe {

  final case class Req(id: String, kind: String, path: String, p: JsonNode) {
    def opt(k: String): Option[String] = Option(p.get(k)).map(_.asText())
    def fact: String = p.get("fact").asText()
    def endpoint: String = p.get("endpoint").asText()
  }

  /** One OlapApi call, in-process: the same routing the HTTP front does. */
  def callApi(api: OlapApi, r: Req): String = r.endpoint match {
    case "fact_tables" => api.factTables
    case "dimensions" => api.dimensions(r.fact)
    case "measures" => api.measures(r.fact)
    case "aggregate" => api.aggregate(r.fact, cut = r.opt("cut"),
      drilldown = r.opt("drilldown"), measure = r.opt("measure"),
      order = r.opt("order"), limit = r.opt("limit").map(_.toInt),
      output = r.opt("output").getOrElse("json"))
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def get(path: String): (Int, String) = {
      val rsp = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (rsp.statusCode(), rsp.body())
    }
  }

  def run(spark: SparkSession, spec: Main.Spec): Map[String, Any] = {
    val settings = OlapConfig.parseSettings(spec.str("settings"))
    val metaNode = spec.root.get("metas")
    val metas: Map[String, FactMeta] = settings.facts.map(f =>
      f.name -> OlapConfig.parseFactMeta(f.name, metaNode.get(f.name).asText())).toMap
    val reqs = spec.list("requests").map(n => Req(n.get("id").asText(),
      n.get("kind").asText(), n.get("path").asText(), n.get("params")))

    // ---- set-up: sources, warehouse build, server start, one pass of the
    // mix whose answers the timed requests must repeat
    val whRoot = s"${spec.work}/warehouse"
    val ((api, server, expected), setupMs) = timed {
      graft.Tables.register(spark, spec.data)
      val wh = new Warehouse(spark, whRoot)
      spec.pivots.foreach(p => SnapshotJob.run(spark, settings, wh, p))
      val api = new OlapApi(spark, wh, metas)
      val server = OlapHttpServer(api).start()
      val c = new Client(server.boundPort)
      (api, server, reqs.map(r => r.id -> c.get(r.path)).toMap)
    }
    // idempotency, untimed: re-running every loaded pivot must write no
    // fact and add no file (run.py checks the stored rows afterwards)
    val filesBefore = Main.dataFiles(whRoot)
    val rerunWrote = spec.pivots.flatMap { p =>
      try SnapshotJob.run(spark, settings, new Warehouse(spark, whRoot), p).map(f => s"$p wrote $f")
      catch { case e: Throwable => Seq(s"$p threw " + Load.describe(e)) }
    }
    val idempotency = Map("rerun_wrote" -> rerunWrote,
      "files_before" -> filesBefore._1, "files_after" -> Main.dataFiles(whRoot)._1)
    val port = server.boundPort
    val respDir = Paths.get(spec.work, "responses")
    Files.createDirectories(respDir)
    expected.foreach { case (id, (status, body)) =>
      Files.writeString(respDir.resolve(s"$id.json"),
        Json(Map("status" -> status, "body" -> body)))
    }

    def httpOps(c: Client): Seq[Op] = reqs.map { r =>
      Op(r.id, r.kind, () => {
        val (status, body) = c.get(r.path)
        if (status != 200) Some(s"HTTP $status")
        else if (body != expected(r.id)._2) Some("answer differs from the checked one")
        else None
      })
    }
    val clients = Array.tabulate(spec.clients)(_ => new Client(port))
    val oneS = spec.seconds * spec.oneShare
    val loadS = spec.seconds - oneS

    val base = Map[String, Any]("setup_ms" -> setupMs, "warehouse" -> whRoot,
      "fact_files" -> Main.dataFiles(whRoot)._1, "idempotency" -> idempotency)
    try {
      if (!spec.traced) {
        val (one, oneWall) = Load.closedLoop("one", 1, oneS, _ => httpOps(clients(0)))
        val (loaded, loadWall) = Load.closedLoop("loaded", spec.clients, loadS,
          c => httpOps(clients(c)))
        base ++ Map("samples" -> (one ++ loaded).map(_.toJson),
          "phase_s" -> Map("one" -> oneWall, "loaded" -> loadWall))
      } else base ++ traced(spark, spec, settings, api, reqs, expected, clients,
        httpOps, whRoot, oneS, loadS)
    } finally server.stop()
  }

  /** Layer split: HTTP at one client, the same requests in-process through
    * OlapApi (first without, then with the recorder), each layer's public
    * call timed on its own, then HTTP at `clients`. The set-up's backfill is
    * split too (see [[SnapshotBackfill.traced]]), so the snapshot and
    * warehouse-append layers are measured on this workload as well. */
  private def traced(spark: SparkSession, spec: Main.Spec,
      settings: SnapshotJob.Settings, olapApi: OlapApi, reqs: Seq[Req],
      expected: Map[String, (Int, String)], clients: Array[Client],
      httpOps: Client => Seq[Op], whRoot: String, oneS: Double,
      loadS: Double): Map[String, Any] = {
    val snapshot = SnapshotBackfill.traced(spark, spec, settings)
    // in-process rounds alternate without and with the recorder, which
    // gives the recorder's overhead on equally warm code
    def apiOps: Seq[Op] = reqs.map(r => Op(r.id, r.kind, () =>
      if (callApi(olapApi, r) != expected(r.id)._2) Some("answer differs from the checked one")
      else None))
    val trace = new Trace(spark)
    val api = (0 until 2).flatMap { _ =>
      val (off, _) = Load.closedLoop("api_untraced", 1, 0, _ => apiOps)
      trace.start()
      val (on, _) = Load.closedLoop("api", 1, 0, _ => apiOps)
      trace.stop()
      off ++ on
    }
    trace.start()
    val (http1, _) = Load.closedLoop("one", 1, oneS / 2, _ => httpOps(clients(0)))

    val wh = new Warehouse(spark, whRoot)
    val metas = spec.root.get("metas")
    val aggs = reqs.filter(_.endpoint == "aggregate")
    val split = aggs.map { r =>
      Load.record(r.id) {
        val meta = OlapConfig.parseFactMeta(r.fact, metas.get(r.fact).asText())
        val c0 = trace.snapshot()
        val t0 = System.nanoTime()
        val (df, readMs) = timed(wh.read(r.fact).get)
        val (result, compileMs) = timed {
          val req = AggregateService.Request.fromParams(r.opt("cut"),
            r.opt("drilldown"), r.opt("measure"), None, r.opt("order"),
            r.opt("limit").map(_.toInt))
          AggregateService.aggregate(df, meta, req)
        }
        val (_, planMs) = timed(result.queryExecution.executedPlan)
        val (body, renderMs) = timed(r.opt("output") match {
          case Some("table") => Renderer.toTable(result)
          case _ => Renderer.toJson(result,
            r.opt("measure").map(_.split('|').toSet)
              .getOrElse(meta.measures.map(_.name).toSet))
        })
        val totalMs = ms(t0)
        val d = trace.snapshot() - c0
        val rows = if (body == Renderer.emptyDataset) 0
          else body.count(_ == '\n') + (if (r.opt("output").contains("table")) 0 else 1)
        Map("read_ms" -> readMs, "compile_ms" -> compileMs, "plan_ms" -> planMs,
          "render_ms" -> renderMs, "total_ms" -> totalMs, "rows" -> rows) ++ d.toMap
      }
    }
    val (loaded, _) = Load.closedLoop("loaded", spec.clients, loadS,
      c => httpOps(clients(c)))
    trace.stop()
    Map("samples" -> (api ++ http1 ++ loaded).map(_.toJson),
      "split" -> split, "snapshot" -> snapshot)
  }
}
