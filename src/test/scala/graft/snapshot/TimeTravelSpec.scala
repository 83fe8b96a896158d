package graft.snapshot

import graft.SparkTestBase

import org.apache.spark.sql.functions._

/** Snapshot tags: a pinned version that survives appends and every
  * rewrite; expire + vacuum reclaims; purge erases pinned files too
  * (erasure outranks reproducibility); untagged facts keep plain-delete
  * behavior. */
class TimeTravelSpec extends SparkTestBase {
  import spark.implicits._

  private def freshWh() = new Warehouse(spark,
    java.nio.file.Files.createTempDirectory("tt_wh").toString)

  private def rows(wh: Warehouse, df: org.apache.spark.sql.DataFrame) =
    df.select("k", "v", "year").as[(Long, Double, Long)].collect().toSet

  /** Data files on disk vs. files of the live version. */
  private def onDisk(wh: Warehouse) = CrashFs.dataFiles(new java.io.File(wh.root), "f").size
  private def live(wh: Warehouse) =
    wh.filesForRange("f", "k", Long.MinValue, Long.MaxValue).size

  test("tag survives append + compact + optimize + merge; reads exact pinned rows") {
    val wh = freshWh()
    val v1 = Seq((1L, 1.0, 2020L), (2L, 2.0, 2020L), (3L, 3.0, 2021L))
    wh.append("f", v1.toDF("k", "v", "year"))
    wh.tag("f", "v1")
    assert(wh.tags("f") == Seq("v1"))

    wh.append("f", Seq((4L, 4.0, 2021L), (5L, 5.0, 2022L)).toDF("k", "v", "year"))
    wh.compact("f")                       // full rewrite #1
    wh.optimize("f", Seq("k"), targetFiles = 2) // full rewrite #2
    wh.merge("f", Seq((2L, 9.0, 2020L)).toDF("k", "v", "year"), Seq("k"),
      validateKeys = false)               // partition-scoped rewrite #3
    // live table reflects everything...
    assert(rows(wh, wh.read("f").get) ==
      Set((1L, 1.0, 2020L), (2L, 9.0, 2020L), (3L, 3.0, 2021L),
        (4L, 4.0, 2021L), (5L, 5.0, 2022L)))
    // ...while the tag still reads the EXACT pinned dataset
    assert(rows(wh, wh.readTag("f", "v1")) == v1.toSet)
    // schema through the tag matches the fact (year last, long)
    assert(wh.readTag("f", "v1").schema("year").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("expire + vacuum reclaims; readTag then fails precisely") {
    val wh = freshWh()
    wh.append("f", Seq((1L, 1.0, 2020L)).toDF("k", "v", "year"))
    wh.tag("f", "v1")
    wh.append("f", Seq((2L, 2.0, 2020L)).toDF("k", "v", "year"))
    wh.compact("f")
    assert(onDisk(wh) > live(wh)) // v1's files kept for the tag, not deleted
    // a second tag pinning the CURRENT files keeps them through vacuum
    wh.tag("f", "v2")
    wh.expireTag("f", "v1")
    wh.vacuum("f")
    assert(onDisk(wh) == live(wh)) // v1's files reclaimed
    val e = intercept[IllegalArgumentException] { wh.readTag("f", "v1") }
    assert(e.getMessage.contains("v1"))
    assert(rows(wh, wh.readTag("f", "v2")) ==
      Set((1L, 1.0, 2020L), (2L, 2.0, 2020L)))
  }

  test("expireTags: retention-age policy expires old pins and reclaims storage") {
    val wh = freshWh()
    wh.append("f", Seq((1L, 1.0, 2020L)).toDF("k", "v", "year"))
    wh.tag("f", "old-run")
    wh.append("f", Seq((2L, 2.0, 2020L)).toDF("k", "v", "year"))
    wh.compact("f") // old-run pins the files compact dropped
    wh.tag("f", "fresh-run")
    assert(onDisk(wh) > live(wh))
    // nothing is old enough at a 30-day horizon -> no-op
    assert(wh.expireTags("f", 30).isEmpty)
    assert(wh.tags("f") == Seq("fresh-run", "old-run"))
    // from 40 days in the future, both tags age out; maxAgeDays=30 expires
    // them and the reclaim follows (injectable clock, no sleeps)
    val future = System.currentTimeMillis() + 40L * 86400000L
    assert(wh.expireTags("f", 30, future) == Seq("fresh-run", "old-run"))
    assert(wh.tags("f").isEmpty)
    assert(onDisk(wh) == live(wh))
    // live fact untouched by retention
    assert(wh.read("f").get.count() == 2)
    // no tags dir / fresh fact: clean no-op
    assert(wh.expireTags("f", 30).isEmpty)
  }

  test("untagged facts keep plain-delete rewrites (no retired dir accumulates)") {
    val wh = freshWh()
    wh.append("f", Seq((1L, 1.0, 2020L)).toDF("k", "v", "year"))
    wh.append("f", Seq((2L, 2.0, 2020L)).toDF("k", "v", "year"))
    wh.compact("f")
    assert(onDisk(wh) == live(wh))
  }

  test("purge scrubs retired copies: erasure outranks reproducibility") {
    val wh = freshWh()
    wh.append("f", Seq((1L, 1.0, 2020L), (2L, 2.0, 2020L), (3L, 3.0, 2021L))
      .toDF("k", "v", "year"))
    wh.tag("f", "v1")
    wh.compact("f") // v1 pins the 2020+2021 files compact dropped
    wh.purgeKeys("f", "k", Seq(1L))
    // live table correct
    assert(rows(wh, wh.read("f").get) == Set((2L, 2.0, 2020L), (3L, 3.0, 2021L)))
    // the purged year's pinned files are gone -> the tag fails loudly
    val e = intercept[java.io.IOException] { wh.readTag("f", "v1").collect() }
    assert(e.getMessage.contains("purged") || e.getMessage.contains("no longer"))
  }
}
