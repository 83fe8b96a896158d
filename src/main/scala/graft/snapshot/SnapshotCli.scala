package graft.snapshot

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import graft.Session
import graft.config.OlapConfig

/** CLI entry point mirroring the reference's
  * `php OLAP.php -c add -d YYYY-MM-DD [-f fact]` (OLAP.php:376-421,
  * lifecycle SURVEY §3.1):
  *
  *   runMain graft.snapshot.SnapshotCli -c add -d 2024-01-15 \
  *     -s settings.json -w /path/to/warehouse [-f factName] [--compat]
  *   runMain graft.snapshot.SnapshotCli -c delete \
  *     -w /path/to/warehouse -f factName [--years 2022,2023]
  *
  * `-c delete` is ADVERTISED by the reference's usage text but ships no
  * code path (OLAP.php:385,393) — implemented here over Warehouse.drop /
  * dropPartitions, spec-first: `-f` is mandatory (no accidental
  * whole-warehouse wipes) and `--years` scopes the delete to year
  * partitions (directory deletes, zero rewrite). The date is validated
  * strictly as Y-m-d (OLAP.php:397-401). Source tables are expected in
  * the session catalog; register them first via spark-sql config or a
  * wrapper (tests use temp views).
  */
object SnapshotCli {

  final case class Args(command: String, date: Option[LocalDate],
      settings: Option[String], warehouse: String, fact: Option[String],
      compat: Boolean, years: Seq[Long])

  def parseArgs(argv: Seq[String]): Args = {
    val m = scala.collection.mutable.Map[String, String]()
    var compat = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--compat" => compat = true; i += 1
        case flag @ ("-c" | "-d" | "-f" | "-s" | "-w" | "--years") =>
          require(i + 1 < argv.length, s"missing value for $flag")
          m(flag) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unknown argument: $other")
      }
    }
    val cmd = m.getOrElse("-c", usageFail("missing -c"))
    if (cmd != "add" && cmd != "delete")
      usageFail(s"unsupported command: $cmd (want 'add' or 'delete')")
    val date = m.get("-d").map { ds =>
      try LocalDate.parse(ds, DateTimeFormatter.ISO_LOCAL_DATE)
      catch { case _: Exception => usageFail(s"invalid date (want YYYY-MM-DD): $ds") }
    }
    val years = m.get("--years").toSeq.flatMap(_.split(",").toSeq.map { y =>
      try y.trim.toLong
      catch { case _: Exception => usageFail(s"invalid --years value: $y") }
    })
    val args = Args(cmd, date, m.get("-s"),
      m.getOrElse("-w", usageFail("missing -w <warehouse dir>")),
      m.get("-f"), compat, years)
    if (cmd == "add") {
      if (args.date.isEmpty) usageFail("missing -d")
      if (args.settings.isEmpty) usageFail("missing -s <olapSettings.json>")
      if (years.nonEmpty) usageFail("--years applies to -c delete only")
    } else {
      if (args.fact.isEmpty) usageFail("-c delete requires -f <fact>")
    }
    args
  }

  private def usageFail(msg: String): Nothing =
    throw new IllegalArgumentException(
      s"""$msg
         |usage: SnapshotCli -c add -d YYYY-MM-DD -s settings.json -w warehouseDir [-f fact] [--compat]
         |       SnapshotCli -c delete -w warehouseDir -f fact [--years y1,y2]""".stripMargin)

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val spark = Session.builder("graft-snapshot")
      // spark-submit injects spark.master; default to local outside it
      .config("spark.master",
        sys.props.getOrElse("spark.master", sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .getOrCreate()
    val wh = new Warehouse(spark, args.warehouse)
    args.command match {
      case "add" =>
        val settings = OlapConfig.parseSettings(
          java.nio.file.Files.readString(java.nio.file.Paths.get(args.settings.get)))
        val written = SnapshotJob.run(spark, settings, wh, args.date.get,
          onlyFact = args.fact, compat = args.compat)
        println(s"[snapshot] ${args.date.get}: wrote ${written.size} fact(s): ${written.mkString(", ")}")
      case "delete" => println(delete(wh, args.fact.get, args.years))
    }
  }

  /** `-c delete`: drop the fact, or only `years` of it, under the fact's
    * writer lease, so it cannot interleave with a cron `-c add`. */
  def delete(wh: Warehouse, fact: String, years: Seq[Long]): String =
    wh.withWriterLease(fact, holder = "snapshot-delete") {
      if (years.isEmpty) {
        wh.drop(fact)
        s"[snapshot] dropped fact $fact"
      } else {
        wh.dropPartitions(fact, years)
        s"[snapshot] dropped fact $fact years ${years.mkString(", ")}"
      }
    }
}
