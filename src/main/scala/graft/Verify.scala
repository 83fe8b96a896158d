package graft
import java.nio.file.{Files, Paths}

import graft.olap.Renderer.jsonString

/** Correctness dump: each SparkEntry.gates pipeline's result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/selfcheck.py). */
object Verify {
  val usage = "usage: Verify <sfDir> <outDir> [name,...]"

  /** `(sfDir, outDir, name filter)` from the arguments, or the message
    * (ending in [[usage]]) to print before exiting 2. The optional 3rd
    * argument is a comma-separated gate-name filter for the dev loop; a
    * correctness run dumps the full set. */
  def parseArgs(args: Seq[String], known: collection.Set[String])
      : Either[String, (String, String, Option[Set[String]])] = args match {
    case Seq(s, o) => Right((s, o, None))
    case Seq(s, o, q) =>
      val only = q.split(",").toSet
      unknownGates(only, known).map(m => s"$m\n$usage").toLeft((s, o, Some(only)))
    case _ => Left(usage)
  }

  /** The error naming every entry of `names` that is not a gate, listing
    * the known ones; None when all are gates. */
  def unknownGates(names: Iterable[String], known: collection.Set[String]): Option[String] = {
    val unknown = names.filterNot(known).toSeq.distinct.sorted
    if (unknown.isEmpty) None
    else Some(s"unknown gate(s) ${unknown.mkString(", ")}; known: " +
      known.toSeq.sorted.mkString(", "))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, onlyArg) =
      parseArgs(args.toSeq, SparkEntry.gates.keySet).fold(
        { msg => System.err.println(msg); sys.exit(2) }, identity)
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Failures must surface as RED rows, not missing rows: a query that
    // dies in analysis gets a 1-row error-marker result (schema/hash can
    // never match an oracle), so a class-wide breakage (e.g. the r07
    // testdata timestamp-type flip) shows as red in CORRECTNESS_rN.json
    // instead of silently shrinking the gate count.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.gates.filter { case (n, _) => onlyArg.forall(_(n)) }
    selected.foreach { case (name, gate) =>
      try gate.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        import spark.implicits._
        Seq(msg).toDF("__verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      spark.catalog.clearCache() // queries are independent pipelines
    }
    // string-to-string JSON objects (escaping every control char: a tab
    // in oracle SQL would otherwise make json.load fail)
    def obj(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(selected.view.mapValues(_.oracleSql)))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), obj(failures))
    // Truncation-proofing (mirrors Bench): a fixed-path summary in the repo
    // root records what actually ran — query count, failure map — so the
    // round's verify signal survives even if the driver's captured log tail
    // is cut. The per-query parquet dumps in outDir remain the real data.
    val summary =
      s"""{"nqueries":${selected.size},"nfailed":${failures.size},""" +
        s""""failed":${obj(failures)},""" +
        s""""sfDir":${jsonString(sfDir)},"outDir":${jsonString(outDir)}}"""
    try Files.writeString(
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_VERIFY_OUT", "verify_out.json")), summary)
    catch { case e: Throwable => System.err.println(s"[verify] could not write verify_out.json: $e") }
    println(summary)
    spark.stop()
  }
}
