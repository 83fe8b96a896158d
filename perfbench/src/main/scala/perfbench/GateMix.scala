package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

import Main.{median, ms, timed}

/** `gate_mix`: a fixed, named set of gates run through the noop sink, the
  * way `graft.Bench` runs them, after a cold pass (timed as set-up) that
  * writes each gate's rows for the oracle check. */
object GateMix {

  final case class Gate(name: String, family: String, light: Boolean)

  def noop(spark: SparkSession, data: String, g: Gate): Unit = {
    SparkEntry.queries(g.name)(spark, data)
      .write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, spec: Main.Spec): Map[String, Any] = {
    val gates = spec.list("gates").map(n => Gate(n.get("name").asText(),
      n.get("family").asText(), n.get("light").asBoolean()))
    val outDir = s"${spec.work}/gates"

    // ---- set-up: the cold pass, which also writes every gate's rows
    val warmErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val (_, setupMs) = timed {
      gates.foreach { g =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(g.name)(spark, spec.data).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/${g.name}")
        catch { case e: Throwable => warmErrors(g.name) = Load.describe(e) }
        spark.catalog.clearCache()
        System.err.println(f"[perfbench] set-up pass ${g.name} ${ms(t0)}%.0f ms")
      }
    }
    Files.writeString(Paths.get(spec.work, "oracle_sql.json"),
      Json(gates.map(g => g.name -> Try(SparkEntry.oracleSql(g.name)).toOption).toMap))

    def op(g: Gate) = Op(g.name, if (g.light) "light" else "main",
      () => { noop(spark, spec.data, g); None })
    val oneS = spec.seconds * spec.oneShare
    val loadS = spec.seconds - oneS
    val base = Map[String, Any]("setup_ms" -> setupMs,
      "warm_errors" -> warmErrors.toMap)
    if (!spec.traced) {
      // two passes per round: the first run after the cold pass is often
      // still 20-80% slower, and each gate counts with its fastest
      val (one, oneWall) = Load.closedLoop("one", 1, oneS,
        _ => Seq.fill(2)(gates.map(op)).flatten)
      val (loaded, loadWall) = Load.closedLoop("loaded", spec.clients, loadS,
        _ => gates.filter(_.light).map(op))
      base ++ Map("samples" -> (one ++ loaded).map(_.toJson),
        "phase_s" -> Map("one" -> oneWall, "loaded" -> loadWall))
    } else base ++ traced(spark, spec, gates)
  }

  /** Layer split per gate: building the frame (eager inner jobs included),
    * Catalyst planning of the final query, and execution through the noop
    * sink; plus `Tables.load` on its own. */
  private def traced(spark: SparkSession, spec: Main.Spec,
      gates: Seq[Gate]): Map[String, Any] = {
    val off = gates.map(g => Load.timeOp("untraced", 0,
      Op(g.name, "main", () => { noop(spark, spec.data, g); None })).toJson)
    val trace = new Trace(spark).start()
    val loadMs = (1 to 3).flatMap(_ => Tables.all.map { t =>
      val t0 = System.nanoTime()
      Tables.load(spark, spec.data, t)
      ms(t0)
    })
    val split = gates.map { g =>
      val c0 = trace.snapshot()
      val rec = Load.record(g.name) {
        val t0 = System.nanoTime()
        val (df, buildMs) = timed(SparkEntry.queries(g.name)(spark, spec.data))
        val c1 = trace.snapshot()
        val (_, planMs) = timed(df.queryExecution.executedPlan)
        val c2 = trace.snapshot()
        val (_, execMs) = timed(df.write.mode("overwrite").format("noop").save())
        val totalMs = ms(t0)
        val c3 = trace.snapshot()
        Map("ms" -> totalMs, "build_ms" -> buildMs, "plan_ms" -> planMs,
          "exec_ms" -> execMs, "build_jobs" -> (c1 - c0).jobs,
          "exec_jobs" -> (c3 - c2).jobs) ++ (c3 - c0).toMap
      }
      spark.catalog.clearCache()
      rec + ("family" -> g.family)
    }
    trace.stop()
    Map("untraced" -> off, "split" -> split,
      "tables_load_ms" -> median(loadMs))
  }
}
