package graft.snapshot

import java.time.LocalDate

import graft.SparkTestBase

import org.apache.spark.sql.functions._

/** SnapshotCli argument contract, incl. the `-c delete` command the
  * reference ADVERTISES but never implemented (OLAP.php:385,393) — here
  * wired to Warehouse.drop / dropPartitions with `-f` mandatory. */
class CliSpec extends SparkTestBase {
  import spark.implicits._

  test("parseArgs: add requires -d and -s; delete requires -f") {
    val add = SnapshotCli.parseArgs(Seq("-c", "add", "-d", "2024-01-15",
      "-s", "s.json", "-w", "/wh"))
    assert(add.command == "add" && add.date.contains(LocalDate.parse("2024-01-15")))

    val del = SnapshotCli.parseArgs(Seq("-c", "delete", "-w", "/wh",
      "-f", "loans", "--years", "2022, 2023"))
    assert(del.command == "delete" && del.fact.contains("loans") &&
      del.years == Seq(2022L, 2023L))

    intercept[IllegalArgumentException] { // add without date
      SnapshotCli.parseArgs(Seq("-c", "add", "-s", "s.json", "-w", "/wh"))
    }
    intercept[IllegalArgumentException] { // delete without fact
      SnapshotCli.parseArgs(Seq("-c", "delete", "-w", "/wh"))
    }
    intercept[IllegalArgumentException] { // --years is delete-only
      SnapshotCli.parseArgs(Seq("-c", "add", "-d", "2024-01-15", "-s", "s.json",
        "-w", "/wh", "--years", "2023"))
    }
    intercept[IllegalArgumentException] { // unknown command
      SnapshotCli.parseArgs(Seq("-c", "truncate", "-w", "/wh", "-f", "x"))
    }
    intercept[IllegalArgumentException] { // bad year
      SnapshotCli.parseArgs(Seq("-c", "delete", "-w", "/wh", "-f", "x",
        "--years", "twenty"))
    }
    intercept[IllegalArgumentException] { // bad date shape (OLAP.php:397-401)
      SnapshotCli.parseArgs(Seq("-c", "add", "-d", "15/01/2024", "-s", "s.json",
        "-w", "/wh"))
    }
  }

  test("delete: --years drops only the named partitions; bare drops the fact") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("cli_del_wh").toString)
    wh.append("f", Seq((1L, 2022L), (2L, 2023L), (3L, 2024L))
      .toDF("k", "year"))

    wh.dropPartitions("f", Seq(2022L, 2023L))
    assert(wh.read("f").get.select("year").as[Long].collect().toSeq == Seq(2024L))

    wh.drop("f")
    assert(wh.read("f").isEmpty)
  }

  test("delete: refused while another holder has the fact's writer lease") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("cli_lease_wh").toString)
    wh.append("f", Seq((1L, 2022L), (2L, 2023L)).toDF("k", "year"))
    val token = wh.acquireWriterLease("f", holder = "cron-add")
    Seq(Nil, Seq(2022L)).foreach { years =>
      val e = intercept[IllegalStateException](SnapshotCli.delete(wh, "f", years))
      assert(e.getMessage.contains("cron-add"))
    }
    assert(wh.read("f").get.count() == 2)
    wh.releaseWriterLease("f", token)
    assert(SnapshotCli.delete(wh, "f", Seq(2022L)).contains("2022"))
    assert(wh.read("f").get.select("k").as[Long].collect().toSeq == Seq(2L))
  }
}
