package graft.snapshot

import graft.SparkTestBase

import org.apache.spark.sql.functions._

/** Targeted key erasure: partition-scoped rewrite, full-partition
  * deletion, untouched partitions byte-stable, null keys survive,
  * absent keys no-op. */
class PurgeSpec extends SparkTestBase {
  import spark.implicits._

  private def partFiles(wh: Warehouse, fact: String, year: Long): Seq[(String, Long)] = {
    val dir = new java.io.File(s"${wh.root}/$fact/year=$year")
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.lastModified())).sorted.toSeq
  }

  test("purgeKeys: partition-scoped rewrite, full-partition delete, no-op on absent keys") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("purge_wh").toString)
    wh.append("f", Seq(
      (1L, 10.0, 2020L), (2L, 20.0, 2020L),
      (3L, 30.0, 2021L),
      (1L, 40.0, 2022L)).toDF("k", "v", "year"))
    val untouched = partFiles(wh, "f", 2021L)
    assert(untouched.nonEmpty)

    wh.purgeKeys("f", "k", Seq(1L))
    val left = wh.read("f").get.select("k", "v", "year").as[(Long, Double, Long)]
      .collect().toSet
    assert(left == Set((2L, 20.0, 2020L), (3L, 30.0, 2021L)))
    // year=2022 held ONLY the erased subject -> partition deleted outright
    assert(!new java.io.File(s"${wh.root}/f/year=2022").exists())
    // year=2021 contained no matches -> bytes untouched (same files, mtimes)
    assert(partFiles(wh, "f", 2021L) == untouched)

    // absent key: complete no-op, no partition rewrites at all
    val before = Seq(2020L, 2021L).map(partFiles(wh, "f", _))
    wh.purgeKeys("f", "k", Seq(999L))
    assert(Seq(2020L, 2021L).map(partFiles(wh, "f", _)) == before)

    // DataFrame-of-keys path (the beyond-IN-list scale form)
    wh.purgeKeys("f", "k", Seq(3L).toDF("key"))
    assert(wh.read("f").get.select("k").as[Long].collect().toSeq == Seq(2L))
    val e = intercept[IllegalArgumentException] {
      wh.purgeKeys("f", "k", Seq((1L, 2L)).toDF("a", "b"))
    }
    assert(e.getMessage.contains("exactly one column"))
  }

  test("crash after a purge's commit, before its deletes, with a tag " +
      "pinning the erased files: vacuum deletes them and readTag fails loudly") {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    val dir = graft.TempDirs.scratchDir("purge_crash").toFile
    val wh = new Warehouse(spark, s"crash://$dir")
    wh.append("f", Seq(
      (1L, 10.0, 2020L), (2L, 20.0, 2020L),
      (3L, 30.0, 2021L),
      (1L, 40.0, 2022L)).toDF("k", "v", "year"))
    wh.tag("f", "v1")
    val pinned2020 = CrashFs.dataFiles(dir, "f").filter(_.startsWith("year=2020/"))
    CrashFs.armedDelete = Some(".parquet")
    try intercept[java.io.IOException](wh.purgeKeys("f", "k", Seq(1L)))
    finally CrashFs.armedDelete = None
    val purged = Set((2L, 20.0, 2020L), (3L, 30.0, 2021L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "year").as[(Long, Double, Long)].collect().toSet
    // committed: readers already see the purge
    assert(rows(wh.read("f").get) == purged)
    // the erased files are still on disk, and the tag still pins them
    assert(pinned2020.subsetOf(CrashFs.dataFiles(dir, "f")))
    wh.vacuum("f")
    val left = CrashFs.dataFiles(dir, "f")
    assert(pinned2020.intersect(left).isEmpty)
    assert(!left.exists(_.startsWith("year=2022/")))
    assert(!new java.io.File(dir, "f/year=2022").exists())
    val e = intercept[java.io.IOException] { wh.readTag("f", "v1") }
    assert(e.getMessage.contains("no longer exists"))
    assert(rows(wh.read("f").get) == purged)
  }

  test("purgeKeys: NULL keys never match a purge list and are kept") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("purge_wh_null").toString)
    wh.append("f", Seq(
      (Some(1L), 1.0, 2020L), (None, 2.0, 2020L), (Some(2L), 3.0, 2020L))
      .toDF("k", "v", "year"))
    wh.purgeKeys("f", "k", Seq(1L))
    assert(wh.read("f").get.select("v").as[Double].collect().toSet ==
      Set(2.0, 3.0))
  }
}
