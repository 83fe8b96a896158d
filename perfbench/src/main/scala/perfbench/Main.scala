package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark process: reads the spec `run.py` wrote (inputs, request mix,
  * gate list, run length), builds a Spark session the way `graft.Bench`
  * does, runs one workload and writes its raw samples to `<work>/raw.json`.
  * The metrics and the correctness checks are computed from that file by
  * `run.py`.
  *
  *   java -cp <classpath> perfbench.Main <spec.json>
  */
object Main {

  final class Spec(val root: JsonNode) {
    def str(k: String): String = root.get(k).asText()
    def int(k: String): Int = root.get(k).asInt()
    def dbl(k: String): Double = root.get(k).asDouble()
    def bool(k: String): Boolean = root.get(k).asBoolean()
    def list(k: String): Seq[JsonNode] =
      Option(root.get(k)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val work: String = str("work")
    val data: String = str("data")
    val clients: Int = int("clients")
    val seconds: Double = dbl("seconds")
    val traced: Boolean = bool("trace")
    /** Share of the run spent at one client; the rest runs `clients`. */
    val oneShare: Double = dbl("one_share")
    def pivots: Seq[LocalDate] = list("pivots").map(p => LocalDate.parse(p.asText()))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        graft.Tables.excludedOptimizerRules)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Data files under a warehouse root and their total bytes (checksum,
    * lock, schema and marker files excluded). */
  def dataFiles(root: String): (Long, Long) = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          !p.toString.contains("/_locks/")
      }.toSeq
      (fs.size.toLong, fs.map(p => Files.size(p)).sum)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val spec = new Spec(new ObjectMapper().readTree(
      Files.readString(Paths.get(args(0)))))
    val (spark, sessionMs) = timed(session(spec.clients, spec.work))
    val out = try spec.str("workload") match {
      case "olap_serve" => OlapServe.run(spark, spec)
      case "gate_mix" => GateMix.run(spark, spec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    Files.writeString(Paths.get(spec.work, "raw.json"),
      Json(out + ("session_ms" -> sessionMs)))
  }
}
