package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loaders for the driver testdata layout (`TESTDATA.md`): one parquet file
  * per table under an sf directory. */
object Tables {

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Optimizer rules every graft session excludes
    * (`spark.sql.optimizer.excludedRules`), with why:
    *
    *  - `InferFiltersFromGenerate` adds `size(g) > 0 AND isnotnull(g)`
    *    below each explode, where `g` is the generator input. For the
    *    content kernels this engine explodes (WARC/tar/zip walks,
    *    pixel matrices, sample tables, PDF text entries), the inferred
    *    predicate is then pushed through the binding projection by
    *    alias substitution, so every row pays the FULL decode twice —
    *    once in the inferred filter, once for the explode itself
    *    (measured: warc_records and the fixture encoder each appeared
    *    twice in x_web_extract's optimized plan; at 100 TB this
    *    doubles decode CPU on every exploding scan). The rule's upside
    *    (pruning empty-generator rows a stage early) cannot reach a
    *    parquet scan here anyway: the generator inputs are computed
    *    columns, never stored ones. Scale-independent semantics — the
    *    exclusion changes no results, only re-evaluation count.
    *
    * [[graft.Session]] applies this to every session it builds, and
    * every entry point, tool and test in this repo builds through it.
    * Only an outside consumer with its own SparkSession must pass it to
    * `spark.sql.optimizer.excludedRules` itself, or the exploding decode
    * APIs ([[graft.ext.Multimodal.warcHttpResponses]] and friends)
    * silently pay the duplicated decode (correct results, doubled CPU).
    * `SessionSpec` pins the effect on x_web_extract's plan. */
  val excludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Normalize an event-time `ts` column to session-timezone TIMESTAMP,
    * whatever physical type the testdata generation emitted. The driver has
    * shipped three layouts across rounds:
    *
    *   - `TIMESTAMP(NANOS)` — unreadable by the vectorized reader; surfaced
    *     as nanos-in-a-LongType via `spark.sql.legacy.parquet.nanosAsLong`
    *     (set in [[load]]) and rebuilt here with `timestamp_micros(div 1000)`;
    *   - `timestamp[us]` without `isAdjustedToUTC` — inferred as
    *     TIMESTAMP_NTZ (Spark ≥3.4 default); cast to TIMESTAMP. The session
    *     timezone is pinned to UTC by every entrypoint, so the cast is
    *     value-preserving and matches DuckDB's naive-timestamp semantics
    *     (`unix_millis` et al. then agree with the oracle);
    *   - plain TIMESTAMP — identity.
    *
    * Every event-time consumer (batch loads AND the file-stream reader) must
    * go through this one function so the contract survives the next testdata
    * regeneration. `cols` declares which columns carry event time (default:
    * the testdata's single `ts`) — a future table with a second event-time
    * column normalizes ALL of them by declaration, rather than resurrecting
    * the r07 class of breakage one hardcoded name at a time. Declared
    * columns absent from the frame are ignored (tables without event time
    * pass through untouched). */
  def normalizeTs(df: DataFrame, cols: Seq[String] = Seq("ts")): DataFrame =
    cols.foldLeft(df) { (d, name) =>
      d.schema.fields.find(_.name == name).map(_.dataType) match {
        case Some(LongType) =>
          d.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
        case Some(TimestampNTZType) =>
          d.withColumn(name, col(name).cast("timestamp"))
        case _ => d
      }
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Legacy-layout guard: TIMESTAMP(NANOS) events read as nanos-long
    // (no-op for the current micros testdata). Harmless to set always.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** Register every present table as a temp view (idempotent, cheap —
    * schema-only driver work; no data read). */
  def register(spark: SparkSession, sfDir: String): Unit =
    all.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
