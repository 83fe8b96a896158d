package graft.tools

import graft.Session

import org.apache.spark.sql.functions._

/** Dev tool: prove the [[graft.ext.KernelCodegen]] kernels actually
  * compile under janino and fuse into WholeStageCodegen spans.
  * `spark.sql.codegen.fallback=false` turns a silent interpreted
  * fallback into a hard failure, and CODEGEN_ONLY factory mode does the
  * same for one-off expression projections — a passing run means the
  * generated code is real, not that fallback hid a bug. */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.builder("graft-codegen-probe")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY"), Session.envCpus)
    import spark.implicits._

    val docs = Seq(
      (1L, "a b a b a b c d\nx\nx\ny z", Array(0.5, -0.25, 1.0, 0.0)),
      (2L, null.asInstanceOf[String], Array(1.0, 2.0, -3.0, 4.0)),
      (3L, "the quick brown fox jumps over the lazy dog " * 4,
        Array(0.0, 0.0, 0.0, 0.0)),
      (4L, "4111 1111 1111 1111 and text 99", Array(-1.0, 1.0, -1.0, 1.0)))
      .toDF("id", "text", "vec")
    // parquet round-trip so LocalRelation constant-folding can't hide
    // anything from the physical plan
    val dir = graft.TempDirs.scratchDir("graft_cgprobe").toString
    docs.write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)

    val probes: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "repetition+vote" -> graft.ext.Repetition
        .repetitionKeep(df, "text", "keep"),
      "gopherFilter" -> graft.ext.Repetition.gopherFilter(df, "id", "text"),
      "shingles" -> df.select(graft.ext.Shingles(col("text"), 2).as("g")),
      "winnow" -> df.select(
        graft.ext.WinnowFingerprints(col("text"), 2, 3).as("w")),
      "wordentropy" -> df.select(
        graft.ext.WordEntropyStats(col("text")).as("e")),
      "paddedngrams" -> df.select(
        graft.ext.PaddedNgrams(col("text"), 3, 2).as("g")),
      "unigramseg" -> df.select(graft.ext.UnigramSegment(col("text"),
        Seq(("a", -1000L), ("b", -2000L), ("ab", -1500L)), -9000000L)
        .as("p")),
      "minhash" -> df.select(graft.ext.MinHashSignature(
        split(coalesce(col("text"), lit("")), " "), 8).as("m")),
      "simhash" -> df.select(graft.ext.SimHash64(
        split(coalesce(col("text"), lit("")), " ")).as("s")),
      "signlsh" -> df.select(
        graft.ext.SignLshSignatures(col("vec"), 2, 8, 4).as("f")),
      "luhnmask" -> df.select(
        graft.ext.Pii.maskCards(col("text")).as("t")),
      "langid" -> df.select(graft.ext.LanguageId(col("text"),
        Map("en" -> Seq("the", "over"), "de" -> Seq("der", "und"))).as("l")),
      "cdcchunks" -> df.select(graft.ext.CdcChunks(
        coalesce(col("text"), lit("")).cast("binary"), 6).as("c")),
      "mersenne" -> df.select(
        graft.ext.MersenneLongHash(col("id")).as("h")),
      "bpeencode" -> df.select(graft.ext.BpeEncode(col("text"),
        Seq(("a", "b"), ("ab", "a"))).as("b")),
      "wordpiece" -> df.select(graft.ext.WordpieceEncode(col("text"),
        Seq("a", "b", "##b", "[UNK]"), "[UNK]").as("w")))

    var fusedAll = true
    probes.foreach { case (name, q) =>
      val rows = q.collect() // throws on any codegen failure
      val plan = q.queryExecution.executedPlan.toString
      val fused = plan.contains("WholeStageCodegen") || plan.contains("*(")
      if (!fused) { fusedAll = false; println(plan.linesIterator.take(8).mkString("\n")) }
      println(s"PROBE $name rows=${rows.length} wholeStageCodegen=$fused")
    }
    println(s"CODEGEN_PROBE ${if (fusedAll) "ALL_FUSED" else "SOME_UNFUSED"}")
    spark.stop()
  }
}
