package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[Session]] is the one session builder, and the optimizer exclusion it
  * carries reaches the plans of the exploding decode gates. */
class SessionSpec extends SparkTestBase {

  test("src/main and src/test build a SparkSession only in graft/Session.scala") {
    // assembled so that this file does not match itself
    val needle = "SparkSession." + "builder"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      assert(Files.isDirectory(Paths.get(root)), s"run from the repo root: no $root")
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    }.filter(f => Files.readString(f).contains(needle)).map(_.toString.replace('\\', '/'))
    assert(hits == Seq("src/main/scala/graft/Session.scala"))
  }

  test("x_web_extract decodes once per row: warc_records and warc_html_encode " +
      "appear once each in the optimized plan") {
    def counts(s: org.apache.spark.sql.SparkSession): (Int, Int) = {
      val plan = SparkEntry.queries("x_web_extract")(s, sf("sf0.001"))
        .queryExecution.optimizedPlan.toString
      ("warc_records".r.findAllIn(plan).length,
        "warc_html_encode".r.findAllIn(plan).length)
    }
    assert(counts(spark) == ((1, 1)))
    // control: without the exclusion InferFiltersFromGenerate duplicates
    // both kernels, so the counts above do see the rule
    val bare = spark.newSession()
    bare.conf.set("spark.sql.optimizer.excludedRules", "")
    val (records, encode) = counts(bare)
    assert(records > 1 && encode > 1, s"counts without the exclusion: ($records, $encode)")
  }
}
