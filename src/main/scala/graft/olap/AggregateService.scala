package graft.olap

import graft.model.FactMeta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles an OLAP aggregate request (the `/aggregate` endpoint,
  * reference: api-library-olap/README.md:14-88 + SURVEY.md §3.2) into a
  * single declarative DataFrame pipeline:
  *
  *   fact.filter(cut).groupBy(levels).agg(measures).orderBy(levels)
  *
  * Everything is plain Catalyst — filters push to the parquet scan, the
  * grouping is partial/final hash aggregation, and deterministic ORDER BY on
  * the group keys stabilizes output for hashing/rendering (the reference API
  * defines no ordering; SURVEY.md §2.5 "Sorts").
  */
object AggregateService {

  /** A parsed aggregate request. `measures` empty = all declared measures
    * (reference default, api-library-olap/README.md:21-23). `aggregates`
    * overrides the per-measure default function by name — "la funzione di
    * aggregazione di default o quella specificata" (README /aggregate
    * section); the "*" key applies to every measure without its own entry. */
  final case class Request(
      cuts: Seq[Cut.DimCut] = Nil,
      drilldowns: Seq[Drilldown.Spec] = Nil,
      measures: Seq[String] = Nil,
      aggregates: Map[String, String] = Map.empty,
      order: Seq[(String, Boolean)] = Nil, // (column, descending?)
      limit: Option[Int] = None) {

    /** Requested override function name for measure `n`, if any. */
    def overrideFor(n: String): Option[String] =
      aggregates.get(n).orElse(aggregates.get("*"))
  }

  object Request {
    /** Build from raw URL-style parameter strings. `aggregate` grammar:
      * `measure:fn|measure2:fn2` per-measure, or a bare `fn` applied to
      * all requested measures. `order` grammar: `col:desc|col2:asc`
      * (bare `col` = ascending); with `limit`, the pair is the top-N
      * surface the reference lacks entirely (its API defines no ordering
      * — SURVEY §2.5 "Sorts") but every leaderboard-style BI pull needs. */
    def fromParams(cut: Option[String], drilldown: Option[String],
        measure: Option[String], aggregate: Option[String] = None,
        order: Option[String] = None, limit: Option[Int] = None): Request = Request(
      cuts = cut.map(Cut.parse).getOrElse(Nil),
      drilldowns = drilldown.map(Drilldown.parse).getOrElse(Nil),
      measures = measure.map(_.split('|').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      aggregates = aggregate.map(_.split('|').toSeq.filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':')
        if (i < 0) "*" -> e else e.substring(0, i) -> e.substring(i + 1)
      }.toMap).getOrElse(Map.empty),
      order = order.map(_.split('|').toSeq.filter(_.nonEmpty).map { e =>
        val i = e.indexOf(':')
        if (i < 0) e -> false
        else e.substring(0, i) -> (e.substring(i + 1).toLowerCase == "desc")
      }).getOrElse(Nil),
      limit = limit)
  }

  /** The request compiled against the fact: the cut rows, one aggregate per
    * requested measure (all if none is named) and the group columns. */
  private def compile(fact: DataFrame, meta: FactMeta, req: Request)
      : (DataFrame, Seq[Column], Seq[String]) = {
    val predicate = Cut.compile(req.cuts, meta, fact.schema)
    val cut = if (req.cuts.isEmpty) fact else fact.filter(predicate)
    val measureNames = if (req.measures.nonEmpty) req.measures else meta.measures.map(_.name)
    val measureCols = measureNames.map { n =>
      val m = meta.measure(n)
      m.aggregate(req.overrideFor(n).map(meta.aggregateFn).getOrElse(m.default),
        meta.physical)
    }
    val groupCols = Drilldown.resolve(req.drilldowns, req.cuts, meta)
      .flatMap(_.columns(meta)).distinct
    (cut, measureCols, groupCols)
  }

  def aggregate(fact: DataFrame, meta: FactMeta, req: Request): DataFrame = {
    val (cut, measureCols, groupCols) = compile(fact, meta, req)
    if (groupCols.isEmpty) cut.agg(measureCols.head, measureCols.tail: _*) // A1 global
    else {
      val agged = cut
        .groupBy(groupCols.map(col): _*)
        .agg(measureCols.head, measureCols.tail: _*)
      // requested order first (measures or levels), group keys appended as
      // tie-breakers so the output (and any top-N truncation) is total-
      // ordered and deterministic. order+limit compiles to Spark's
      // TakeOrderedAndProject — a per-partition top-N then a driver merge
      // of N·partitions rows, never a global sort.
      val orderCols = req.order.map { case (n, desc) =>
        if (desc) col(n).desc else col(n).asc
      } ++ groupCols.map(col)
      val sorted = agged.orderBy(orderCols: _*)
      req.limit.map(sorted.limit).getOrElse(sorted)
    }
  }

  /** Percent-of-parent (the classic BI "contribution" measure — share of
    * the parent subtotal, plus rank within the parent): runs a normal
    * [[aggregate]] drilldown, then derives each row's share of its
    * parent-level total with windows OVER THE AGGREGATED OUTPUT — a
    * groups-sized frame, so the windows cost nothing at any fact scale.
    * `parentLevels` names the drilldown columns that define the parent
    * (e.g. year, with month as the child); share is one division of the
    * already-exact aggregates. The reference's clients compute this by
    * issuing the parent drilldown separately and dividing client-side
    * (README.md:138-150 composition) — here it is one call, one scan. */
  def shareOfParent(fact: DataFrame, meta: FactMeta, req: Request,
      parentLevels: Seq[String], measureName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = aggregate(fact, meta, req)
    require(parentLevels.forall(base.columns.contains),
      s"parent levels ${parentLevels.mkString(",")} must be drilldown columns")
    require(base.columns.contains(measureName),
      s"measure $measureName absent from the drilldown output")
    val wp = Window.partitionBy(parentLevels.map(col): _*)
    val childKeys = base.columns.filterNot(parentLevels.contains)
      .filterNot(_ == measureName)
    val wr = Window.partitionBy(parentLevels.map(col): _*)
      .orderBy(col(measureName).desc +: childKeys.map(col): _*)
    // the parent total re-sums through DECIMAL: measure doubles are exact
    // 2-decimal values by the repo's money invariant, and a double window
    // sum would be partition-order-dependent — the one nondeterminism
    // this API must not have
    val dec = org.apache.spark.sql.types.DecimalType(38, 2)
    base
      .withColumn("parent_total",
        sum(col(measureName).cast(dec)).over(wp).cast("double"))
      .withColumn("share",
        col(measureName).cast("double") / col("parent_total"))
      .withColumn("rank_in_parent", row_number().over(wr).cast("long"))
  }

  /** Period-over-period change (MoM/YoY growth — the other measure BI
    * clients compose client-side from two drilldown calls): runs the
    * drilldown, then derives each row's previous-period value and
    * relative growth with one lag window over the GROUPS-sized output,
    * ordered by `orderLevels`. The window is global by construction (a
    * period sequence has one order) — over the aggregated frame, never
    * the fact, so the single partition holds groups rows at any fact
    * scale. Growth is NULL for the first period and any zero base. */
  def periodChange(fact: DataFrame, meta: FactMeta, req: Request,
      orderLevels: Seq[String], measureName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = aggregate(fact, meta, req)
    require(orderLevels.forall(base.columns.contains),
      s"order levels ${orderLevels.mkString(",")} must be drilldown columns")
    val w = Window.orderBy(orderLevels.map(col): _*)
    val prev = lag(col(measureName), 1).over(w)
    base
      .withColumn("prev", prev)
      .withColumn("growth",
        when(col("prev") =!= 0,
          (col(measureName).cast("double") - col("prev").cast("double")) /
            col("prev").cast("double")))
  }

  /** Rollup convenience (SURVEY §2.5 "Grouping sets"): the reference
    * composes rollups client-side from one drilldown call per level; this
    * computes all prefixes of the resolved level path in one pass
    * (`ROLLUP`), with `grouping_id` distinguishing subtotal rows. */
  def rollup(fact: DataFrame, meta: FactMeta, req: Request): DataFrame =
    groupingSets(fact, meta, req, cube = false)

  /** Cube convenience: every subset of the resolved levels in one pass —
    * the cross-tab shape Data Studio pivots request one drilldown call per
    * cell-combination for. Same single-scan rewrite as [[rollup]] (Spark's
    * `Expand` fans each input row out once per grouping set, partials
    * combine map-side), so the fact is read once however many subtotal
    * planes the client wants. */
  def cube(fact: DataFrame, meta: FactMeta, req: Request): DataFrame =
    groupingSets(fact, meta, req, cube = true)

  private def groupingSets(fact: DataFrame, meta: FactMeta, req: Request,
      cube: Boolean): DataFrame = {
    val (cut, measureCols, groupCols) = compile(fact, meta, req)
    require(groupCols.nonEmpty, "rollup/cube needs a drilldown")
    val aggCols = measureCols :+ grouping_id().as("grouping_id")
    val grouped =
      if (cube) cut.cube(groupCols.map(col): _*)
      else cut.rollup(groupCols.map(col): _*)
    grouped.agg(aggCols.head, aggCols.tail: _*)
      .orderBy(col("grouping_id") +: groupCols.map(col): _*)
  }
}
