package perfbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.snapshot.{SnapshotJob, Warehouse}
import graft.time.TimeScope

import Main.{ms, timed}

/** The nightly cron and its backfill, split by layer for the traced
  * `olap_serve` run: `SnapshotJob.run` over consecutive pivots into a fresh
  * warehouse, then idempotent re-runs of every pivot, which must write
  * nothing. */
object SnapshotBackfill {

  /** First the backfill through `SnapshotJob.run` without the recorder (for
    * its overhead), then with the engine counters read around each call
    * and each re-run; then the same pivots into another fresh warehouse,
    * replayed step by step through the public calls `SnapshotJob.run` makes
    * (lease, read, idempotency probe, source query, append), each timed on
    * its own. */
  def traced(spark: SparkSession, spec: Main.Spec,
      settings: SnapshotJob.Settings): Map[String, Any] = {
    val pivots = spec.pivots
    // which facts each pivot must write, by the benchmark's own cron rule
    val fires: Map[String, Set[String]] = spec.list("fires").map { n =>
      n.get("pivot").asText() -> n.get("facts").elements().asScala.map(_.asText()).toSet
    }.toMap
    def checkWrote(kind: String, p: LocalDate, wrote: Seq[String]): Option[String] = {
      val want = if (kind == "rerun") Set.empty[String] else fires(p.toString)
      if (wrote.toSet == want) None
      else Some(s"$kind wrote ${wrote.sorted.mkString(",")}, cron rule says " +
        want.toSeq.sorted.mkString(","))
    }

    val offWh = new Warehouse(spark, s"${spec.work}/trace-off")
    val off = pivots.map { p =>
      Load.timeOp("untraced", 0, Op(s"pivot:$p", "main",
        () => checkWrote("pivot", p, SnapshotJob.run(spark, settings, offWh, p)))).toJson
    }
    val trace = new Trace(spark).start()
    val wh = new Warehouse(spark, s"${spec.work}/trace-run")
    def call(kind: String, p: LocalDate): Map[String, Any] = Load.record(s"$kind:$p") {
      val c0 = trace.snapshot()
      val (wrote, t) = timed(SnapshotJob.run(spark, settings, wh, p))
      val d = trace.snapshot() - c0
      checkWrote(kind, p, wrote).foreach(e => throw new IllegalStateException(e))
      Map("kind" -> kind, "ms" -> t) ++ d.toMap
    }
    val runs = pivots.map(call("pivot", _)) ++ pivots.map(call("rerun", _))

    val stepRoot = s"${spec.work}/trace-steps"
    val sw = new Warehouse(spark, stepRoot)
    val steps = pivots.map { p =>
      Load.record(s"pivot:$p") {
        var leaseMs, readMs, probeMs, sourceMs, appendMs = 0.0
        var probeBytes, filesWritten, bytesWritten = 0L
        val t0 = System.nanoTime()
        settings.facts.foreach { fact =>
          TimeScope.scopeFor(fact.cron, p).foreach { scope =>
            val (token, lt) = timed(sw.acquireWriterLease(fact.name, s"snapshot-$p"))
            leaseMs += lt
            fact.queries.filter(_.enabled).foreach { q =>
              val (existing, rt) = timed(sw.read(fact.name))
              readMs += rt
              val c0 = trace.snapshot()
              val (loaded, pt) = timed(existing.exists(
                SnapshotJob.alreadyLoaded(_, q.queryId, scope)))
              probeMs += pt
              probeBytes += (trace.snapshot() - c0).inputBytes
              if (!loaded) {
                val (batch, st) = timed {
                  val sql = q.source match {
                    case SnapshotJob.SqlSource(s) => s
                    case other => throw new IllegalArgumentException(s"not SQL: $other")
                  }
                  SnapshotJob.withTimeFields(
                    spark.sql(SnapshotJob.substitute(sql, p)), q.queryId, scope)
                }
                sourceMs += st
                val (f0, b0) = Main.dataFiles(stepRoot)
                val (_, at) = timed(sw.append(fact.name, batch))
                appendMs += at
                val (f1, b1) = Main.dataFiles(stepRoot)
                filesWritten += f1 - f0
                bytesWritten += b1 - b0
              }
            }
            val (_, rt) = timed(sw.releaseWriterLease(fact.name, token))
            leaseMs += rt
          }
        }
        Map("ms" -> ms(t0), "lease_ms" -> leaseMs, "read_ms" -> readMs,
          "probe_ms" -> probeMs, "probe_bytes" -> probeBytes,
          "source_ms" -> sourceMs, "append_ms" -> appendMs,
          "files_written" -> filesWritten, "bytes_written" -> bytesWritten)
      }
    }
    trace.stop()
    Map("untraced" -> off, "runs" -> runs, "steps" -> steps)
  }
}
