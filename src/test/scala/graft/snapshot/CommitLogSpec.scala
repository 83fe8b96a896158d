package graft.snapshot

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.time.TimeScope.Cron

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The warehouse commit log: readers see whole commits only, a read lists
  * no data directory and starts no job, an idempotent snapshot re-run
  * commits nothing, and a directory an older build wrote is refused until
  * `vacuum` adopts it. */
class CommitLogSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String) = graft.TempDirs.scratchDir(name).toFile

  /** Every file under `dir` the way a directory walk sees it, skipping
    * names that start with `_` or `.` at any level. */
  private def visibleFiles(dir: java.io.File): Seq[String] =
    java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => dir.toPath.relativize(p).toString)
      .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))

  test("a reader counting during 30 four-file appends sees whole batches only") {
    spark.sparkContext.hadoopConfiguration.set("fs.slow.impl", classOf[SlowRenameFs].getName)
    val wh = new Warehouse(spark, s"slow://${tmp("iso_wh")}")
    def batch = spark.range(8).select(col("id").as("k"), lit(2024L).as("year"))
      .repartition(4)
    wh.append("f", batch)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (!done.get) {
        try counts.add(wh.read("f").get.count())
        catch { case e: Throwable => errors.add(e) }
      })
    reader.start()
    try (1 to 30).foreach(_ => wh.append("f", batch))
    finally { done.set(true); reader.join() }
    assert(errors.isEmpty, s"${errors.size} failed reads, first: ${errors.peek()}")
    val seen = counts.asScala.toSeq
    assert(seen.size > 30, s"only ${seen.size} reads overlapped the appends")
    val partial = seen.filter(_ % 8 != 0)
    assert(partial.isEmpty, s"${partial.size} reads saw part of a batch: " +
      partial.distinct.sorted.take(10).mkString(", "))
    assert(wh.read("f").get.count() == 31 * 8)
  }

  test("read of a 40+ file fact lists no data directory and starts no job") {
    spark.sparkContext.hadoopConfiguration.set("fs.count.impl", classOf[CountingFs].getName)
    val dir = tmp("count_wh")
    val wh = new Warehouse(spark, s"count://$dir")
    wh.append("f", spark.range(400).select(col("id").as("k"),
      (lit(2020L) + col("id") % 4).as("year")).repartition(12))
    val files = wh.filesForRange("f", "k", Long.MinValue, Long.MaxValue)
    assert(files.size >= 40, s"only ${files.size} files")

    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CountingFs.listed.clear()
      spark.sparkContext.setJobGroup("read-probe", "read")
      val df = wh.read("f").get
      // a job run after the read flushes the listener bus in order
      spark.sparkContext.setJobGroup("marker", "marker")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains("marker"))
      assert(!groups.contains("read-probe"), s"jobs: ${groups.asScala.mkString(", ")}")
      assert(df.count() == 400)
      val data = CountingFs.listed.asScala.filterNot(_.endsWith("/_log"))
      assert(data.isEmpty, s"listed data directories: ${data.mkString(", ")}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("appends leave only live parquet files in view; an idempotent re-run commits nothing") {
    Seq((1, "x"), (2, "y")).toDF("k", "v").createOrReplaceTempView("log_src")
    val root = tmp("log_wh")
    val wh = new Warehouse(spark, root.toString)
    val st = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig("f", Cron.Daily,
      Seq(SnapshotJob.FactQuery(1, enabled = true,
        SnapshotJob.SqlSource("SELECT k, v FROM log_src"))))))
    val days = (10 to 14).map(d => LocalDate.parse(f"2024-03-$d%02d"))
    days.foreach(d => assert(SnapshotJob.run(spark, st, wh, d) == Seq("f")))
    val fact = new java.io.File(root, "f")
    val visible = visibleFiles(fact)
    assert(visible.nonEmpty && visible.forall(_.endsWith(".parquet")), visible)
    assert(visible.size == wh.filesForRange("f", "k", Long.MinValue, Long.MaxValue).size)
    val log = new java.io.File(fact, "_log").list().toSet
    days.foreach(d => assert(SnapshotJob.run(spark, st, wh, d).isEmpty))
    assert(new java.io.File(fact, "_log").list().toSet == log)
    assert(visibleFiles(fact) == visible)
  }

  test("a directory an older build wrote is refused until vacuum adopts it") {
    val root = tmp("old_wh")
    val old = new java.io.File(root, "f")
    val rows = Seq((1L, "a", 2023L), (2L, "b", 2024L))
    rows.toDF("k", "s", "year").write.partitionBy("year").parquet(old.toString)
    val schema = rows.toDF("k", "s", "year").schema
    java.nio.file.Files.writeString(new java.io.File(old, "_schema.json").toPath,
      org.apache.spark.sql.types.StructType(schema.map(_.copy(nullable = true))).json)
    val wh = new Warehouse(spark, root.toString)
    val e = intercept[IllegalStateException](wh.read("f"))
    assert(e.getMessage.contains(old.toString) && e.getMessage.contains("vacuum"))
    intercept[IllegalStateException](
      wh.append("f", Seq((3L, "c", 2024L)).toDF("k", "s", "year")))
    wh.vacuum("f")
    assert(!new java.io.File(old, "_schema.json").exists())
    wh.append("f", Seq((3L, "c", 2024L)).toDF("k", "s", "year"))
    assert(wh.read("f").get.select("k", "s", "year").as[(Long, String, Long)]
      .collect().toSet == (rows :+ ((3L, "c", 2024L))).toSet)
  }
}

/** The local filesystem under the `slow:` scheme, with every rename slowed
  * down so that a job commit (which renames file by file) takes a while. */
class SlowRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("slow:///")
  override def getScheme: String = "slow"
  override def rename(src: Path, dst: Path): Boolean = {
    Thread.sleep(25)
    super.rename(src, dst)
  }
}

/** The local filesystem under the `count:` scheme, recording every
  * directory it lists. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("count:///")
  override def getScheme: String = "count"
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFs.listed.add(p.toUri.getPath.stripSuffix("/"))
    super.listStatus(p)
  }
}

object CountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
