package graft.snapshot

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class ZoneMapSpec extends SparkTestBase {
  import spark.implicits._

  /** Fact with 2 year partitions, range-clustered on k so per-file k
    * ranges are disjoint and the zone map can actually skip. */
  private def freshFact(): (Warehouse, String) = {
    val wh = new Warehouse(spark, TempDirs.scratchDir("graft_zm").toString)
    val df = spark.range(10000).select(col("id").as("k"),
      (col("id") % 100).as("v"),
      (lit(2020L) + col("id") % 2).as("year"))
    wh.append("f", df)
    wh.optimize("f", Seq("k"), targetFiles = 8)
    wh.collectStats("f", Seq("k", "v"))
    (wh, "f")
  }

  test("range read skips files and returns exactly the filtered rows") {
    val (wh, f) = freshFact()
    val all = wh.filesForRange(f, "k", Long.MinValue, Long.MaxValue)
    val few = wh.filesForRange(f, "k", 100L, 200L)
    assert(all.size >= 8, s"expected >=8 files, got ${all.size}")
    assert(few.size < all.size, s"no pruning: ${few.size} of ${all.size}")
    val got = wh.readRange(f, "k", 100L, 200L).get
      .select("k").as[Long].collect().sorted
    assert(got.toSeq == (100L to 200L))
  }

  test("interval disjoint from the fact prunes every file") {
    val (wh, f) = freshFact()
    assert(wh.filesForRange(f, "k", -500L, -1L).isEmpty)
    assert(wh.readRange(f, "k", -500L, -1L).get.count() == 0L)
  }

  test("stale stats stay exact: files appended after collectStats are read") {
    val (wh, f) = freshFact()
    wh.append("f", Seq((20000L, 0L, 2021L)).toDF("k", "v", "year"))
    val got = wh.readRange(f, "k", 19999L, 20001L).get
      .select("k").as[Long].collect()
    assert(got.toSeq == Seq(20000L))
  }

  test("manifest not covering the queried column prunes nothing, crashes nothing") {
    val (wh, f) = freshFact()
    // stats exist for k and v — query on year (uncovered): full listing
    val all = wh.filesForRange(f, "k", Long.MinValue, Long.MaxValue)
    assert(wh.filesForRange(f, "year", 2020L, 2020L).size == all.size)
    assert(wh.readRange(f, "year", 2021L, 2021L).get.count() == 5000L)
  }

  test("refreshStats after a rewrite keeps one manifest line per live file") {
    val wh = new Warehouse(spark, TempDirs.scratchDir("graft_zm_gc").toString)
    wh.append("f", spark.range(100).select(col("id").as("k"),
      (lit(2020L) + col("id") % 2).as("year")).repartition(3))
    wh.collectStats("f", Seq("k"))
    def check(after: String): Unit = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(wh.root, "f", "_stats.json")).asScala.filter(_.nonEmpty)
      val live = wh.filesForRange("f", "k", Long.MinValue, Long.MaxValue)
      assert(lines.size == live.size,
        s"after $after: ${lines.size} lines for ${live.size} live files")
    }
    wh.compact("f")
    wh.refreshStats("f", Seq("k"))
    check("compact")
    // a partition-scoped rewrite replaces only the 2020 files
    wh.merge("f", Seq((0L, 2020L)).toDF("k", "year"), Seq("k"))
    wh.refreshStats("f", Seq("k"))
    check("merge")
  }

  test("refreshStats covers appended files without rescanning old ones") {
    val (wh, f) = freshFact()
    val before = wh.filesForRange(f, "k", 50000L, 50100L)
    wh.append("f", (0 until 50).map(i => (50000L + i, 0L, 2022L))
      .toDF("k", "v", "year"))
    // appended files unknown to the manifest -> survive every interval
    val appended = wh.filesForRange(f, "k", -10L, -5L)
    assert(appended.nonEmpty)
    wh.refreshStats("f", Seq("k", "v"))
    // now the new files are range-mapped: disjoint intervals drop them
    assert(wh.filesForRange(f, "k", -10L, -5L).isEmpty)
    val hit = wh.filesForRange(f, "k", 50000L, 50100L)
    assert(hit.size == before.size + appended.size)
    assert(wh.readRange(f, "k", 50000L, 50100L).get.count() == 50L)
    // idempotent: nothing new -> manifest unchanged
    wh.refreshStats("f", Seq("k", "v"))
    assert(wh.readRange(f, "k", 100L, 200L).get.count() == 101L)
  }

  test("no manifest falls back to a plain filtered read") {
    val wh = new Warehouse(spark, TempDirs.scratchDir("graft_zm2").toString)
    wh.append("g", Seq((1L, 2020L), (9L, 2020L)).toDF("k", "year"))
    assert(wh.readRange("g", "k", 5L, 10L).get
      .select("k").as[Long].collect().toSeq == Seq(9L))
  }

  test("string column zone maps prune too") {
    val wh = new Warehouse(spark, TempDirs.scratchDir("graft_zm3").toString)
    val df = spark.range(2000).select(
      concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("name"),
      lit(2020L).as("year"))
    wh.append("h", df)
    wh.optimize("h", Seq("name"), targetFiles = 6)
    wh.collectStats("h", Seq("name"))
    val all = wh.filesForRange("h", "name", "u000000", "u999999")
    val few = wh.filesForRange("h", "name", "u000100", "u000200")
    assert(few.size < all.size)
    assert(wh.readRange("h", "name", "u000100", "u000200").get.count() == 101L)
  }

  test("z-order clusters both dimensions: zone maps prune on either column") {
    val wh = new Warehouse(spark, TempDirs.scratchDir("graft_zo").toString)
    // a and b independent: a 1-D sort on a leaves b's per-file ranges
    // spanning the whole domain; z-order keeps both selective
    val df = spark.range(20000).select(
      (col("id") % 141).as("a"),
      ((col("id") * 7919L) % 141).as("b"),
      lit(2024L).as("year"),
      col("id"))
    wh.append("z", df)
    wh.zOrderBy("z", "a", "b", targetFiles = 16)
    wh.collectStats("z", Seq("a", "b"))
    val all = wh.filesForRange("z", "a", Long.MinValue, Long.MaxValue)
    val fewA = wh.filesForRange("z", "a", 0L, 17L)
    val fewB = wh.filesForRange("z", "b", 0L, 17L)
    assert(all.size >= 8, s"expected a real multi-file layout, got ${all.size}")
    assert(fewA.size < all.size, s"no pruning on a: ${fewA.size}/${all.size}")
    assert(fewB.size < all.size, s"no pruning on b: ${fewB.size}/${all.size}")
    // and the pruned read is still exactly the filtered fact
    val got = wh.readRange("z", "b", 0L, 17L).get.count()
    val want = df.filter(col("b") <= 17L).count()
    assert(got == want)
  }
}
