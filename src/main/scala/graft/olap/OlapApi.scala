package graft.olap

import graft.model.FactMeta
import graft.snapshot.{FactStore, Warehouse}

import org.apache.spark.sql.SparkSession

/** The library entry point mirroring the reference's REST query API
  * (api-library-olap/README.md; lifecycle traced in SURVEY.md §3.2) as
  * plain method calls; a thin HTTP front can wrap this 1:1.
  *
  * Endpoints:
  *  - `/olap/fact_tables`          -> factTables
  *  - `/olap/<fact>/dimensions`    -> dimensions(fact)
  *  - `/olap/<fact>/measures`      -> measures(fact)
  *  - `/olap/<fact>/aggregate?cut=..&drilldown=..&measure=..&output=..`
  *                                 -> aggregate(...)
  *
  * Serves from any [[FactStore]]: the parquet [[Warehouse]] (default) or
  * the JDBC write-back sink — the reference's API reads FROM the OLAP
  * database (OLAP.php:83,338-343), so a migrating deployment can point
  * this API at that same database before the parquet warehouse takes
  * over. Snapshot-tag time travel is a parquet-warehouse capability; the
  * tag routes reject other stores with a client error. */
final class OlapApi(spark: SparkSession, warehouse: FactStore,
    metas: Map[String, FactMeta],
    maxResultRows: Int = Renderer.defaultMaxRows) {

  private def tagStore(fact: String): Warehouse = warehouse match {
    case w: Warehouse => w
    case other => throw new IllegalArgumentException(
      s"snapshot tags require the parquet warehouse store; fact '$fact' " +
        s"is served from ${other.getClass.getSimpleName}")
  }

  private def meta(fact: String): FactMeta =
    metas.getOrElse(fact, throw new IllegalArgumentException(
      s"unknown fact table: $fact"))

  private def jstr(s: String): String = Renderer.jsonString(s)

  /** Catalog endpoint: the fact tables this API serves, as {name, label}
    * objects — the connector reads both (Codice.gs:45-47). */
  def factTables: String =
    metas.toSeq.sortBy(_._1).map { case (n, m) =>
      s"""{"name": ${jstr(n)}, "label": ${jstr(m.labelOrName)}}"""
    }.mkString("[", ", ", "]")

  /** Catalog endpoint: dimension metadata of one fact — labels, info and
    * attributes at both dimension and level granularity, the shape the
    * connector's extractDimensions walks (Codice.gs:67-106). */
  def dimensions(fact: String): String =
    meta(fact).dimensions.map { d =>
      val levels = d.levels.map { l =>
        s"""{"name": ${jstr(l.name)}, "label": ${jstr(l.labelOrName)}, "attributes": ${
          l.attributes.map(jstr).mkString("[", ", ", "]")}}"""
      }.mkString("[", ", ", "]")
      val hiers = d.hierarchies.map { h =>
        s"""{"name": ${jstr(h.name)}, "order": ${
          h.order.map(jstr).mkString("[", ", ", "]")}}"""
      }.mkString("[", ", ", "]")
      val attrs = d.attributes.map(jstr).mkString("[", ", ", "]")
      s"""{"name": ${jstr(d.name)}, "label": ${jstr(d.labelOrName)}, "info": ${
        jstr(d.info)}, "attributes": $attrs, "levels": $levels, "hierarchies": $hiers}"""
    }.mkString("[", ",\n", "]")

  /** Catalog endpoint: measure metadata of one fact. */
  def measures(fact: String): String =
    meta(fact).measures.map { m =>
      s"""{"name": ${jstr(m.name)}, "label": ${jstr(m.labelOrName)}, "aggregate": ${
        jstr(m.default.name)}}"""
    }.mkString("[", ", ", "]")

  /** Catalog endpoint: the named aggregate functions a request may ask for
    * via `aggregate=` (reference "aggregates" section,
    * api-library-olap/README.md:138-150), plus the built-in names. */
  def aggregates(fact: String): String = {
    val catalog = meta(fact).aggregates.toSeq.map { case (n, fn) => n -> fn.name }
    val builtins = graft.model.AggregateFn.all
      .map(fn => fn.name -> fn.name)
      .filterNot { case (n, _) => catalog.exists(_._1 == n) }
    (catalog ++ builtins).sortBy(_._1).map { case (n, f) =>
      s"""{"name": ${jstr(n)}, "function": ${jstr(f)}}"""
    }.mkString("[", ", ", "]")
  }

  /** Catalog endpoint: snapshot tags pinned on the fact — the
    * reproducibility surface ([[graft.snapshot.Warehouse.tag]]) reachable
    * through the API; pass a listed name back as `tag=` on the aggregate
    * endpoint to query the fact as it was at pin time. */
  def tags(fact: String): String = {
    meta(fact) // unknown-fact contract identical to the other endpoints
    tagStore(fact).tags(fact).map(jstr).mkString("[", ", ", "]")
  }

  private def liveFact(fact: String) = {
    meta(fact)
    warehouse.read(fact).getOrElse(throw new IllegalStateException(
      s"fact table $fact has no snapshots yet"))
  }

  /** Ingest-dashboard endpoint: per-kind media census of a binary
    * column — `GET /olap/<fact>/triage?content=<col>` → rows of
    * (kind, n, total_bytes), the numbers an ingest team budgets
    * decode capacity with ([[graft.ext.Multimodal.mediaTriageSummary]]
    * — one magic-byte scan, bounded output: at most one row per
    * container kind). Read-only; same output switch as aggregate. */
  def triage(fact: String, contentCol: String = "content",
      output: String = "json"): String = {
    val df = liveFact(fact)
    require(df.columns.contains(contentCol),
      s"fact '$fact' has no column '$contentCol'")
    require(df.schema(contentCol).dataType ==
      org.apache.spark.sql.types.BinaryType,
      s"column '$contentCol' is not binary")
    val summary = graft.ext.Multimodal.mediaTriageSummary(
        df.select(org.apache.spark.sql.functions.lit(0L).as("media_id"),
          org.apache.spark.sql.functions.col(contentCol).as("content")))
      .orderBy("kind")
    output match {
      case "table" => Renderer.toTable(summary, maxResultRows)
      case _ => Renderer.toJson(summary, Set("n", "total_bytes"),
        maxResultRows)
    }
  }

  /** Sketch endpoint: KMV distinct-count estimate of an integer key
    * column — `GET /olap/<fact>/distinct?column=<col>&k=<k>` → one
    * row (n_minima, kth_hash, distinct_est). One linear scan, k·8
    * bytes of state ([[graft.ext.Kmv.distinctEstimate]]); under k
    * distinct values the estimate is exact. */
  def distinctEstimate(fact: String, column: String,
      k: Int = 1024): String = {
    val df = liveFact(fact)
    requireIntKey(fact, df, column)
    require(k >= 16 && k <= 65536, s"k=$k out of range [16, 65536]")
    Renderer.toJson(graft.ext.Kmv.distinctEstimate(df, column, k),
      Set("n_minima", "kth_hash", "distinct_est"), maxResultRows)
  }

  /** Sketch endpoint: Broder-resemblance overlap of TWO facts' key
    * columns — `GET /olap/<fact>/overlap?other=<fact2>&column=<col>
    * [&other_column=<col2>][&k=]` → one row (n_x, y, jaccard_micro,
    * union_kth, union_est): "how many keys does crawl B add over
    * crawl A" from 2k·8 bytes of sketch, no join
    * ([[graft.ext.Kmv.overlap]]). */
  def overlapEstimate(fact: String, other: String, column: String,
      otherColumn: Option[String] = None, k: Int = 1024): String = {
    val a = liveFact(fact)
    val b = liveFact(other)
    val colB = otherColumn.getOrElse(column)
    requireIntKey(fact, a, column)
    requireIntKey(other, b, colB)
    require(k >= 16 && k <= 65536, s"k=$k out of range [16, 65536]")
    // align the key column name so one sketch pipeline serves both
    Renderer.toJson(
      graft.ext.Kmv.overlap(
        a.select(org.apache.spark.sql.functions.col(column).as("__key")),
        b.select(org.apache.spark.sql.functions.col(colB).as("__key")),
        "__key", k),
      Set("n_x", "y", "jaccard_micro", "union_kth", "union_est"),
      maxResultRows)
  }

  private def requireIntKey(fact: String,
      df: org.apache.spark.sql.DataFrame, column: String): Unit = {
    require(df.columns.contains(column),
      s"fact '$fact' has no column '$column'")
    val dt = df.schema(column).dataType
    require(dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType,
      s"column '$column' is not an integer key (KMV hashes integer keys)")
  }

  /** The aggregate endpoint: compile cut/drilldown/measure/aggregate
    * params, run, render (`output` = "json" | "table"). `aggregate`
    * overrides per-measure aggregation functions by catalog name
    * (`measure:fn|...` or a bare `fn` for all measures); `order`
    * (`col:desc|col2:asc`) + `limit` expose top-N — beyond the reference,
    * which defines no ordering at all. `tag` queries the snapshot a
    * [[graft.snapshot.Warehouse.tag]] pinned instead of the live fact
    * (zero-copy time travel; an expired/scrubbed tag fails loudly). */
  def aggregate(fact: String, cut: Option[String] = None,
      drilldown: Option[String] = None, measure: Option[String] = None,
      aggregate: Option[String] = None, order: Option[String] = None,
      limit: Option[Int] = None, output: String = "json",
      tag: Option[String] = None): String = {
    val m = meta(fact)
    val df = tag match {
      case Some(t) => tagStore(fact).readTag(fact, t)
      case None => liveFact(fact)
    }
    val req = AggregateService.Request.fromParams(cut, drilldown, measure,
      aggregate, order, limit)
    val result = AggregateService.aggregate(df, m, req)
    output match {
      case "table" => Renderer.toTable(result, maxResultRows)
      case _ => Renderer.toJson(result,
        (if (req.measures.nonEmpty) req.measures else m.measures.map(_.name)).toSet,
        maxResultRows)
    }
  }
}
