package graft.snapshot

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental materialized aggregate over a warehouse fact — classic
  * insert-only incremental view maintenance: the agg table stores
  * per-(year, group) PARTIAL aggregates (decimal sum, count, min, max),
  * and each appended batch folds in as `combine(old, agg(delta))`.
  * Refresh cost is O(|delta|) + O(|touched groups|), never O(|fact|) —
  * at warehouse scale the fact is the 100 TB table and the delta is one
  * day's slice, so this is the difference between a dashboard that
  * refreshes in seconds and one that rescans the lake nightly.
  *
  * All combinable state is exact: sums ride as DECIMAL(28,2) (the
  * money-double discipline — parquet money values are exact 2-decimal
  * doubles), counts as LONG, min/max in the measure's own type. Derived
  * measures (avg, and the final double total) are computed ONLY at read
  * time from the exact state, so repeated merging never accumulates
  * float error and any engine replaying the same arithmetic agrees
  * bit-for-bit.
  *
  * The agg table is a regular warehouse fact: year-partitioned, one
  * commit per mutation. [[appendWithAgg]] merges it
  * partition-scoped (only the batch's years rewrite — see
  * [[Warehouse.merge]]).
  *
  * Crash contract: the fact append and the agg merge are two separate
  * mutations; a crash between them leaves the agg stale by exactly one
  * batch. Re-running the SAME batch would double-count the fact append
  * too, so the caller's idempotency guard (e.g. SnapshotJob's S10 probe)
  * covers both; [[rebuild]] is the unconditional repair — one full
  * recompute, after which incremental maintenance resumes.
  *
  * The reference materializes nothing (every OLAP call re-aggregates in
  * MySQL — OLAP.php:94-164); this is the §2.5 beyond-parity path that
  * makes those same aggregations O(delta) at lake scale.
  */
object MaterializedAgg {

  private val D18 = DecimalType(18, 2)
  private val D28 = DecimalType(28, 2)

  def aggTable(fact: String): String = fact + "__agg"

  /** Per-(year, group) partial aggregates of a batch: exact combinable
    * state (s, n, mn, mx), one map-side-combining aggregation. */
  private def partials(batch: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    batch.groupBy(("year" +: groupCols).map(col): _*)
      .agg(sum(col(valueCol).cast(D18)).cast(D28).as("s"),
        count(lit(1)).as("n"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Fold partial-state rows sharing (year, group) back into one row —
    * used to combine old state with a delta's partials. */
  private def combine(state: DataFrame, groupCols: Seq[String]): DataFrame =
    state.groupBy(("year" +: groupCols).map(col): _*)
      .agg(sum(col("s")).cast(D28).as("s"), sum(col("n")).as("n"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Append `batch` (must carry a `year` column) to `fact` AND fold its
    * partial aggregates into the agg table. Only the batch's year
    * partitions of the agg table rewrite.
    *
    * The two legs mutate DISJOINT tables (`fact` vs `fact__agg`) and
    * run OVERLAPPED: the raw append back-fills the executor slots the
    * fold's read+merge leaves idle instead of paying a serial stage
    * ladder. Crash windows gain the fold-landed/append-missing order
    * (previously only the reverse); the recovery story is unchanged
    * either way — replay the delta under the caller's batch-id guard
    * for exactly-once, or [[rebuild]] to resynchronize the pair from
    * the fact (which also repairs the pre-existing append-landed/
    * fold-missing window). */
  def appendWithAgg(wh: Warehouse, fact: String, batch: DataFrame,
      groupCols: Seq[String], valueCol: String): Unit = {
    val at = aggTable(fact)
    graft.streaming.Concurrent.overlap { () =>
      wh.append(fact, batch)
    } {
      val delta = partials(batch, groupCols, valueCol)
      wh.read(at) match {
        case None => wh.append(at, delta)
        case Some(old) =>
          // bounded collect: one value per touched partition (merge does
          // the same to scope its rewrite)
          val years = delta.select(col("year").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSeq
          val touched = old.filter(col("year").isin(years: _*))
          val merged = combine(touched.unionByName(delta), groupCols)
          wh.merge(at, merged, keys = "year" +: groupCols,
            validateKeys = false)
      }
    }
  }

  /** Unconditional repair / bootstrap: recompute the agg table from the
    * full fact. The only O(|fact|) operation here. */
  def rebuild(wh: Warehouse, fact: String, groupCols: Seq[String],
      valueCol: String): Unit = {
    val all = wh.read(fact).getOrElse(
      sys.error(s"rebuild: fact '$fact' does not exist"))
    wh.overwrite(aggTable(fact), partials(all, groupCols, valueCol))
  }

  /** The materialized view, rolled up across years: exact decimal/long
    * state folded once more, derived measures computed at the end —
    * (groupCols..., total, n, min_v, max_v, avg_v).
    *
    * INVARIANT NOTE (the overlapped [[appendWithAgg]] trade): because
    * the raw append and the agg fold run concurrently, a crash or an
    * append failure mid-call can leave the fold landed WITHOUT its
    * fact rows — readAgg may then transiently report rows absent from
    * the fact (the pre-overlap ordering guaranteed agg never led).
    * Callers needing the fact-leads invariant after a crash replay the
    * delta under a batch-id guard (see EventStream.runMviewIngest's
    * marker pair) or [[rebuild]]. */
  def readAgg(wh: Warehouse, fact: String,
      groupCols: Seq[String]): DataFrame = {
    val state = wh.read(aggTable(fact)).getOrElse(
      sys.error(s"readAgg: no agg table for '$fact' — appendWithAgg or rebuild first"))
    state.groupBy(groupCols.map(col): _*)
      .agg(sum(col("s")).as("sx"), sum(col("n")).as("n"),
        min(col("mn")).as("min_v"), max(col("mx")).as("max_v"))
      .select(groupCols.map(col) ++ Seq(
        col("sx").cast("double").as("total"), col("n"),
        col("min_v"), col("max_v"),
        (col("sx").cast("double") / col("n")).as("avg_v")): _*)
  }
}
