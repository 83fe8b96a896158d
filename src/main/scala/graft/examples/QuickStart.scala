package graft.examples

import java.time.LocalDate

import graft.Session
import graft.config.OlapConfig
import graft.olap.OlapApi
import graft.snapshot.{SnapshotJob, Warehouse}

/** End-to-end usage example (also a smoke driver: `sbt "runMain
  * graft.examples.QuickStart"`): configure a fact from JSON, snapshot it,
  * query it through the OLAP API.
  */
object QuickStart {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-quickstart")

    // 1. register source tables (any catalog/JDBC table works the same)
    graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .createOrReplaceTempView("customer")

    // 2. snapshot config - the reference's olapSettings.json shape
    val settings = OlapConfig.parseSettings(
      """{ "fact_tables": [ { "name": "enabled_users", "cron": "daily",
        |  "fact_queries": [ { "query_id": 1, "enable": 1,
        |    "query": { "type": "sql", "value":
        |      "SELECT c_mktsegment AS segment, COUNT(*) AS value FROM customer WHERE @date >= '2024-01-01' GROUP BY 1" } } ] } ] }"""
        .stripMargin)

    // 3. run one snapshot (periodicity gate + time enrichment + append)
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("quickstart_wh").toString)
    SnapshotJob.run(spark, settings, wh, LocalDate.parse("2024-01-15"))

    // 4. query through the API - the reference's <factName>.json shape
    val api = new OlapApi(spark, wh, Map("enabled_users" ->
      OlapConfig.parseFactMeta("enabled_users",
        """{ "dimensions": [ {"name": "segment"},
          |  {"name": "date", "levels": [{"name": "year"}, {"name": "month"}],
          |   "hierarchies": [{"name": "ym", "order": ["year", "month"]}]} ],
          |  "measures": [ {"name": "value", "aggregate": "sum"} ],
          |  "aggregates": [ {"name": "average", "function": "avg"} ] }""".stripMargin)))

    println("FACTS=" + api.factTables)
    println("AGGS=" + api.aggregates("enabled_users"))
    println("TABLE=" + api.aggregate("enabled_users", cut = Some("date:2024"),
      drilldown = Some("segment"), output = "table"))
    // per-call override by catalog name + named-hierarchy drilldown
    println("AVG=" + api.aggregate("enabled_users", drilldown = Some("segment"),
      aggregate = Some("value:average"), output = "table"))
    println("HIER=" + api.aggregate("enabled_users", cut = Some("date@ym:2024"),
      drilldown = Some("date@ym:month"), output = "table"))
    println("EMPTY=" + api.aggregate("enabled_users", cut = Some("segment:ZZZ"),
      drilldown = Some("segment")))
    println("BADCUT=" + (try api.aggregate("enabled_users", cut = Some("date:1,2,3,4"))
      catch { case e: Exception => "rejected: " + e.getMessage }))

    // 5. the same API over HTTP (the reference's REST deployment shape)
    val server = graft.olap.OlapHttpServer(api).start()
    try {
      val url = java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/olap/enabled_users/aggregate" +
          "?drilldown=segment&output=table")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(url).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      println(s"HTTP ${resp.statusCode()} " + resp.body().linesIterator.next())
    } finally server.stop()

    // 6. retention: drop a year partition, then the whole fact (the CLI's
    // `-c delete -f enabled_users [--years ...]` drives the same calls)
    wh.dropPartitions("enabled_users", Seq(2023L)) // no-op: nothing from 2023
    println("AFTER_PARTITION_DROP=" +
      wh.read("enabled_users").map(_.count()).getOrElse(0L))
    wh.drop("enabled_users")
    println("AFTER_DROP=" + wh.read("enabled_users").isDefined)
    spark.stop()
  }
}
