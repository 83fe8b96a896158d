package graft

import graft.model._
import graft.olap.{AggregateService, Cut, Drilldown}
import graft.time.TimeScope

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query below is one row of the SURVEY.md §2.6 conformance
  * inventory; the qNN queries exercise the OLAP library (cut / drilldown /
  * aggregate compiler) and the xNN queries the scale-extension operators.
  *
  * Numeric discipline for oracle hash-parity: money doubles in the testdata
  * are exact 2-decimal values, so both engines sum them as DECIMAL(18,2)
  * (exact, order-independent) and cast the final aggregate to DOUBLE —
  * bit-identical results regardless of partition order.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private val D = DecimalType(18, 2)

  /** Exact money sum: SUM(CAST(c AS DECIMAL(18,2))) cast back to double. */
  private def moneySum(c: String): Column = sum(col(c).cast(D)).cast("double")

  /** Exact average rounded to 6 dp, computed as decimal-sum / count in
    * double — the same expression the oracle uses. */
  private def avg6(c: String): Column =
    round(sum(col(c).cast(D)).cast("double") / count(lit(1)), 6)

  private def countAll: Column = count(lit(1))

  private def li(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "orders")
  private def ev(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")

  /** Orders enriched with materialized date-dimension level columns — the
    * OPL fact-table shape (time levels are physical columns, SURVEY §1.3). */
  private def ordDated(s: SparkSession, dir: String): DataFrame =
    ord(s, dir)
      .withColumn("year", year(col("o_orderdate")).cast("long"))
      .withColumn("month", month(col("o_orderdate")).cast("long"))
      .withColumn("day", dayofmonth(col("o_orderdate")).cast("long"))

  private val dateDim = Dimension("date",
    Seq(Level("year", "year"), Level("month", "month"), Level("day", "day")),
    Seq(Hierarchy("ymd", Seq("year", "month", "day"))))

  /** date with a second, non-default hierarchy (year -> ISO week) for the
    * hierarchy-selection parameter (q27). */
  private val dateDimYw = Dimension("date",
    Seq(Level("year", "year"), Level("month", "month"), Level("day", "day"),
      Level("week", "week")),
    Seq(Hierarchy("ymd", Seq("year", "month", "day")),
      Hierarchy("yw", Seq("year", "week"))))

  private def liMeta(ms: Measure*) = FactMeta("lineitem",
    Seq(Dimension.flat("l_returnflag"), Dimension.flat("l_linestatus")), ms)

  private def ordMeta(ms: Measure*) = FactMeta("orders",
    Seq(Dimension.flat("o_custkey"), dateDim), ms)

  private def mExpr(name: String, e: Column) =
    Measure(name, name, AggregateFn.Sum, Some(e))

  private def olap(fact: DataFrame, meta: FactMeta, cut: String = null,
      drill: String = null): DataFrame =
    AggregateService.aggregate(fact, meta,
      AggregateService.Request.fromParams(Option(cut), Option(drill), None))

  // ---------------------------------------------------------------- contract

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The F9 star join + drilldown (SURVEY §2.6 Q19). */
  def entry(spark: SparkSession): DataFrame =
    queries("q19")(spark, "/root/testdata/sf0.001")

  /** One conformance gate: the Spark pipeline over a test-data directory
    * and the DuckDB SQL over the same parquet tables that must return the
    * same rows (compared with columns sorted by name). */
  final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String) {
    /** Runs the pipeline through the noop sink, then drops what it cached. */
    def force(spark: SparkSession, sfDir: String): Unit =
      try run(spark, sfDir).write.mode("overwrite").format("noop").save()
      finally spark.catalog.clearCache()
  }

  object Gate {
    /** The gates by name; a repeated name throws (a `Map` literal keeps the last). */
    def registry(gates: Gate*): Map[String, Gate] = gates.foldLeft(Map.empty[String, Gate]) {
      (m, g) => require(!m.contains(g.name), s"gate declared twice: ${g.name}"); m + (g.name -> g)
    }
  }

  /** One gate per implemented operator from SURVEY.md §2. Lazy, because
    * it reads oracle helpers that are strict vals declared below it. */
  lazy val gates: Map[String, Gate] = Gate.registry(
    // A1/A2 global aggregates
    Gate("q01", (s, d) => olap(li(s, d), liMeta(mExpr("value", moneySum("l_extendedprice")))),
      "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM lineitem"),
    Gate("q02", (s, d) => olap(li(s, d), liMeta(mExpr("value", avg6("l_quantity")))),
      "SELECT ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS value FROM lineitem"),
    Gate("q03", (s, d) => olap(li(s, d), liMeta(mExpr("value", countAll))),
      "SELECT COUNT(*) AS value FROM lineitem"),
    // A3 multi-measure
    Gate("q04", (s, d) => olap(li(s, d), liMeta(
      mExpr("revenue", moneySum("l_extendedprice")),
      mExpr("avg_disc", avg6("l_discount")),
      mExpr("ct", countAll))),
      "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
      "ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc, " +
      "COUNT(*) AS ct FROM lineitem"),
    // P1/P2 point slice & dice
    Gate("q05", (s, d) => olap(li(s, d), liMeta(mExpr("value", countAll)),
      cut = "l_returnflag:R"),
      "SELECT COUNT(*) AS value FROM lineitem WHERE l_returnflag = 'R'"),
    Gate("q06", (s, d) => olap(li(s, d), liMeta(mExpr("value", countAll)),
      cut = "l_returnflag:R|l_linestatus:F"),
      "SELECT COUNT(*) AS value FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'"),
    // P3/P4/P5 ranges & sets
    Gate("q07", (s, d) => olap(ord(s, d), ordMeta(mExpr("value", moneySum("o_totalprice"))),
      cut = "o_custkey:1-120"),
      "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders WHERE o_custkey BETWEEN 1 AND 120"),
    Gate("q08", (s, d) => olap(ord(s, d), ordMeta(mExpr("value", moneySum("o_totalprice"))),
      cut = "o_custkey:23-"),
      "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders WHERE o_custkey >= 23"),
    Gate("q09", (s, d) => olap(ord(s, d), ordMeta(mExpr("value", moneySum("o_totalprice"))),
      cut = "o_custkey:23;50"),
      "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders WHERE o_custkey IN (23, 50)"),
    // P6/P7 hierarchical point & range
    Gate("q10", (s, d) => olap(ordDated(s, d), ordMeta(mExpr("value", countAll)),
      cut = "date:1996,10"),
      "SELECT COUNT(*) AS value FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 AND EXTRACT(MONTH FROM o_orderdate) = 10"),
    Gate("q11", (s, d) => olap(ordDated(s, d), ordMeta(mExpr("value", countAll)),
      cut = "date:1996,10-1997,02"),
      "SELECT COUNT(*) AS value FROM orders WHERE " +
      "(EXTRACT(YEAR FROM o_orderdate) > 1996 OR (EXTRACT(YEAR FROM o_orderdate) = 1996 AND EXTRACT(MONTH FROM o_orderdate) >= 10)) AND " +
      "(EXTRACT(YEAR FROM o_orderdate) < 1997 OR (EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) <= 2))"),
    // A4-A9 drilldowns
    Gate("q12", (s, d) => olap(ordDated(s, d), ordMeta(mExpr("value", moneySum("o_totalprice"))),
      drill = "date"),
      "SELECT EXTRACT(YEAR FROM o_orderdate) AS year, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders GROUP BY 1 ORDER BY 1"),
    Gate("q13", (s, d) => olap(ordDated(s, d), ordMeta(mExpr("value", countAll)),
      cut = "date:1996", drill = "date:year|date:month"),
      "SELECT EXTRACT(YEAR FROM o_orderdate) AS year, EXTRACT(MONTH FROM o_orderdate) AS month, COUNT(*) AS value FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 GROUP BY 1,2 ORDER BY 1,2"),
    Gate("q14", (s, d) => olap(li(s, d), liMeta(
      mExpr("qty", moneySum("l_quantity")), mExpr("ct", countAll)),
      drill = "l_returnflag|l_linestatus"),
      "SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, " +
      "COUNT(*) AS ct FROM lineitem GROUP BY 1,2 ORDER BY 1,2"),
    // F2 CASE bucketing — the OPL fact-query SQL surface runs via spark.sql
    Gate("q15", (s, d) => { Tables.register(s, d); s.sql(
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'hi'
        |            WHEN o_totalprice >= 150000 THEN 'mid'
        |            WHEN o_totalprice >= 0 THEN 'lo' ELSE 'n/a' END AS bucket,
        |       COUNT(*) AS value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) },
      "SELECT CASE WHEN o_totalprice >= 300000 THEN 'hi' WHEN o_totalprice >= 150000 THEN 'mid' " +
      "WHEN o_totalprice >= 0 THEN 'lo' ELSE 'n/a' END AS bucket, COUNT(*) AS value FROM orders GROUP BY 1 ORDER BY 1"),
    // F5/F6 rolling 12-month window
    Gate("q16", (s, d) => { Tables.register(s, d); s.sql(
      """SELECT COUNT(*) AS value FROM orders
        |WHERE o_orderdate > TIMESTAMP '1998-08-01 00:00:00' - INTERVAL '12' MONTH"""
        .stripMargin) },
      "SELECT COUNT(*) AS value FROM orders WHERE o_orderdate > TIMESTAMP '1998-08-01 00:00:00' - INTERVAL '12' MONTH"),
    // §1.3 time-scope enrichment over event time
    Gate("q17", (s, d) => olap(
      ev(s, d)
        .withColumn("year", year(col("ts")).cast("long"))
        .withColumn("month", month(col("ts")).cast("long"))
        .withColumn("day", TimeScope.dayOfYearCol(col("ts"))),
      FactMeta("events", Seq(dateDim), Seq(mExpr("value", countAll))),
      drill = "date:day"),
      "SELECT EXTRACT(YEAR FROM ts) AS year, EXTRACT(MONTH FROM ts) AS month, DAYOFYEAR(ts) AS day, " +
      "COUNT(*) AS value FROM events GROUP BY 1,2,3 ORDER BY 1,2,3"),
    // S10 idempotency probe shape
    Gate("q18", (s, d) => ev(s, d)
      .filter(col("event_type") === "purchase" &&
        to_date(col("ts")) === to_date(lit("2024-01-15")))
      .agg(countAll.as("ct")),
      "SELECT COUNT(*) AS ct FROM events WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-15'"),
    // F9 star join + drilldown
    Gate("q19", (s, d) => {
      val l = li(s, d); val o = ord(s, d)
      val c = Tables.load(s, d, "customer"); val n = Tables.load(s, d, "nation")
      val r = Tables.load(s, d, "region")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), year(o("o_orderdate")).cast("long").as("year"))
        .agg(round(sum(l("l_extendedprice").cast(D) * (lit(1) - l("l_discount").cast(D))), 2)
          .cast("double").as("revenue"))
        .orderBy(col("r_name"), col("year"))
    },
      "SELECT r.r_name, EXTRACT(YEAR FROM o.o_orderdate) AS year, " +
      "CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue " +
      "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
      "JOIN customer c ON o.o_custkey = c.c_custkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1,2 ORDER BY 1,2"),
    // F9 left join + A10 attributes
    Gate("q20", (s, d) => {
      val c = Tables.load(s, d, "customer"); val o = ord(s, d)
      val n = Tables.load(s, d, "nation")
      c.join(o, o("o_custkey") === c("c_custkey"), "left")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"), c("c_mktsegment"))
        .agg(count(o("o_orderkey")).as("ct"))
        .orderBy(col("n_name"), col("c_mktsegment"))
    },
      "SELECT n.n_name, c.c_mktsegment, COUNT(o.o_orderkey) AS ct FROM customer c " +
      "LEFT JOIN orders o ON o.o_custkey = c.c_custkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1,2 ORDER BY 1,2"),
    // F8 probe
    Gate("q21", (s, d) => Tables.load(s, d, "region")
      .select(col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey")).limit(1),
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey LIMIT 1"),
    // S2/JSON extraction
    Gate("q22", (s, d) => ev(s, d).agg(
      countAll.as("ct"),
      sum(get_json_object(col("props"), "$.k").cast("long")).as("s")),
      "SELECT COUNT(*) AS ct, CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS s FROM events"),
    // S7 schema evolution: union-by-name with null fill
    Gate("q23", (s, d) => {
      val o = ord(s, d)
      val a = o.select(lit("a").as("src"), col("o_orderkey"))
      val b = o.select(lit("b").as("src"), col("o_orderkey"), col("o_totalprice").as("extra"))
      graft.snapshot.SchemaEvolution.unionEvolve(a, b)
        .groupBy(col("src"))
        .agg(countAll.as("ct"), count(col("extra")).as("ct_extra"))
        .orderBy(col("src"))
    },
      "SELECT src, COUNT(*) AS ct, COUNT(extra) AS ct_extra FROM (" +
      "SELECT 'a' AS src, o_orderkey, NULL AS extra FROM orders UNION ALL " +
      "SELECT 'b' AS src, o_orderkey, o_totalprice AS extra FROM orders) t GROUP BY 1 ORDER BY 1"),
    // S14 empty-cut convention (count over empty match)
    Gate("q24", (s, d) => olap(ord(s, d), ordMeta(mExpr("value", countAll)),
      cut = "o_custkey:0"),
      "SELECT COUNT(*) AS value FROM orders WHERE o_custkey = 0"),
    // §1.3 week label over event time
    Gate("q25", (s, d) => ev(s, d)
      .select(TimeScope.weekLabelCol(col("ts")).as("wk"))
      .agg(min(col("wk")).as("first_wk"), max(col("wk")).as("last_wk"),
        countDistinct(col("wk")).as("n")),
      "SELECT MIN(wk) AS first_wk, MAX(wk) AS last_wk, CAST(COUNT(DISTINCT wk) AS BIGINT) AS n FROM (" +
      "SELECT 'Y' || CAST(EXTRACT(ISOYEAR FROM ts) AS VARCHAR) || '-W' || " +
      "LPAD(CAST(EXTRACT(WEEK FROM ts) AS VARCHAR), 2, '0') AS wk FROM events) t"),
    // per-call aggregate override through the catalog: a sum-default
    // measure requested as "average" (README /aggregate, "o quella
    // specificata"). Long column => exact integer-valued double sum,
    // order-independent division on both engines.
    Gate("q26", (s, d) => AggregateService.aggregate(ord(s, d),
      FactMeta("orders", Seq(Dimension.flat("o_orderstatus")),
        Seq(Measure("value", "o_custkey", AggregateFn.Sum)),
        aggregates = Map("average" -> AggregateFn.Avg)),
      AggregateService.Request.fromParams(None, Some("o_orderstatus"), None,
        aggregate = Some("value:average"))),
      "SELECT o_orderstatus, AVG(o_custkey) AS value FROM orders GROUP BY 1 ORDER BY 1"),
    // named-hierarchy drilldown: date@yw walks year -> ISO week instead of
    // the default year -> month -> day (README ~112, hierarchy parameter)
    Gate("q27", (s, d) => olap(
      ordDated(s, d).withColumn("week", weekofyear(col("o_orderdate")).cast("long")),
      FactMeta("orders", Seq(dateDimYw), Seq(mExpr("value", countAll))),
      cut = "date:1996", drill = "date@yw:week"),
      "SELECT EXTRACT(WEEK FROM o_orderdate) AS week, COUNT(*) AS value FROM orders " +
      "WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 GROUP BY 1 ORDER BY 1"),
    // named-hierarchy CUT: the level walk follows yw (year, ISO week)
    Gate("q28", (s, d) => olap(
      ordDated(s, d).withColumn("week", weekofyear(col("o_orderdate")).cast("long")),
      FactMeta("orders", Seq(dateDimYw), Seq(mExpr("value", countAll))),
      cut = "date@yw:1996,40"),
      "SELECT COUNT(*) AS value FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996 " +
      "AND EXTRACT(WEEK FROM o_orderdate) = 40"),
    // exact linear-interpolation percentiles (DuckDB quantile_cont analog).
    // Quartile fractions are exact binary doubles and l_quantity holds
    // small integers, so the interpolated values are bit-identical across
    // engines regardless of the a+(b-a)g vs (1-g)a+gb formula form.
    Gate("q29", (s, d) => li(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.75)).as("p75"))
      .orderBy(col("l_returnflag")),
      "SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25, " +
      "quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.75) AS p75 " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"),
    // pivot / crosstab: status columns materialized from row values (the
    // GROUP BY + CASE rotation every BI layer over the reference performs)
    Gate("q30", (s, d) => li(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .cast("double"))
      .orderBy(col("l_returnflag")),
      "SELECT l_returnflag, " +
      "CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F, " +
      "CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // top-N through the API: order (measure desc, keys as tie-break) +
    // limit compile to TakeOrderedAndProject — per-partition top-N, no
    // global sort. The leaderboard pull the reference's no-ordering API
    // pushes onto its BI clients
    Gate("q31", (s, d) => AggregateService.aggregate(ord(s, d),
      FactMeta("orders", Seq(Dimension.flat("o_custkey")),
        Seq(Measure("value", "o_totalprice", AggregateFn.Sum,
          Some(moneySum("o_totalprice"))))),
      AggregateService.Request.fromParams(None, Some("o_custkey"), None,
        order = Some("value:desc"), limit = Some(10))),
      "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value " +
      "FROM orders GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10"),
    // median through the aggregate catalog (override on a sum-default
    // measure; exact interpolated percentile, the q29-proven parity)
    Gate("q32", (s, d) => AggregateService.aggregate(ord(s, d),
      FactMeta("orders", Seq(Dimension.flat("o_orderstatus")),
        Seq(Measure("value", "o_totalprice", AggregateFn.Sum))),
      AggregateService.Request.fromParams(None, Some("o_orderstatus"), None,
        aggregate = Some("median"))),
      "SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS value " +
      "FROM orders GROUP BY 1 ORDER BY 1"),

    // Column profiling: one aggregation pass over the fact — the batch
    // quality gate before a snapshot is trusted (null counts, exact
    // cardinalities, native-order min/max)
    Gate("x_profile", (s, d) => graft.ext.Profile.columns(ord(s, d),
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"))
      .orderBy(col("column")),
      "SELECT * FROM (" +
      "SELECT 'o_custkey' AS \"column\", COUNT(*) AS n_rows, " +
      "COUNT(*) - COUNT(o_custkey) AS n_nulls, COUNT(DISTINCT o_custkey) AS n_distinct, " +
      "CAST(MIN(o_custkey) AS VARCHAR) AS min_s, CAST(MAX(o_custkey) AS VARCHAR) AS max_s FROM orders " +
      "UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus), " +
      "COUNT(DISTINCT o_orderstatus), CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders " +
      "UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice), " +
      "COUNT(DISTINCT o_totalprice), CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR) FROM orders " +
      "UNION ALL SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate), " +
      "COUNT(DISTINCT o_orderdate), CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR) FROM orders " +
      ") t ORDER BY \"column\""),
    // sketch profile: the 100 TB cardinality pass — per-column portable-HLL
    // estimates in one scan, separately timed from x_profile's exact
    // expand so the bench isolates the two costs; string-stable columns
    // only (the md5-over-VARCHAR cross-engine contract)
    Gate("x_profile_sketch", (s, d) => graft.ext.Profile.columnsSketch(ord(s, d),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"), p = 8)
      .orderBy(col("column")),
      // per-column replay of the x_hll register contract: stack the four
      // stringified columns, then the same md5 bucket/rank fold per column
      "WITH k AS (" +
      "SELECT 'o_custkey' AS c, CAST(o_custkey AS VARCHAR) AS k FROM orders WHERE o_custkey IS NOT NULL " +
      "UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders WHERE o_orderdate IS NOT NULL " +
      "UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL " +
      "UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders WHERE o_orderstatus IS NOT NULL), " +
      "h AS (SELECT c, md5(k) AS x FROM k), " +
      "r AS (SELECT c, CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      "FROM h GROUP BY 1, 2), " +
      "s AS (SELECT c, COUNT(*) AS np, SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM r GROUP BY 1) " +
      "SELECT c AS \"column\", CAST(np AS BIGINT) AS n_present, " +
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM s ORDER BY 1"),
    // Portable HyperLogLog: 256 md5-derived registers, harmonic mean in
    // exact 2^-61 integer units — DuckDB replays the sketch bit for bit
    // (the cross-engine register-table contract is the point)
    Gate("x_hll", (s, d) =>
      graft.ext.Hll.approxDistinct(
        ord(s, d).select(col("o_orderkey")), "o_orderkey", p = 8),
      // same md5 bucketing, same minimal-bin rank, same exact unit sum;
      // HUGEINT keeps the absent-register fill exact past BIGINT range
      "WITH h AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS x FROM orders), " +
      "r AS (SELECT CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      "FROM h GROUP BY 1), " +
      "s AS (SELECT COUNT(*) AS np, SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM r) " +
      "SELECT CAST(256 AS BIGINT) AS m, CAST(np AS BIGINT) AS n_present, " +
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM s"),
    // Grouped HLL: distinct customers per priority as one sketch per
    // group — one (group, bucket) agg + one group fold, never a
    // per-key count-distinct shuffle
    Gate("x_hll_group", (s, d) =>
      graft.ext.Hll.approxDistinctByGroup(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_custkey")),
        "priority", "o_custkey", p = 8)
        .orderBy(col("priority")),
      // same per-group registers, same exact-unit fold
      "WITH h AS (SELECT o_orderpriority AS priority, " +
      "md5(CAST(o_custkey AS VARCHAR)) AS x FROM orders), " +
      "r AS (SELECT priority, CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      "FROM h GROUP BY 1, 2), " +
      "s AS (SELECT priority, COUNT(*) AS np, " +
      "SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM r GROUP BY 1) " +
      "SELECT priority, CAST(np AS BIGINT) AS n_present, " +
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM s ORDER BY priority"),
    // KMV distinct sketch: the k smallest Mersenne-Horner key hashes —
    // unlike HLL's union-only fold, the sketch is a uniform sample of
    // the distinct-hash space, so it supports intersections (below)
    Gate("x_sketch_kmv", (s, d) =>
      graft.ext.Kmv.sketch(Tables.load(s, d, "documents"), "doc_id", 64)
        .orderBy(col("rank")),
      // full sketch replay: the squaring key hash of every doc id,
      // distinct, k smallest — identical ranked minima or the gate fails
      kmvSketchOracle),
    // one-row distinct estimate from the sketch tail, in truncated
    // integer arithmetic both engines share bit-for-bit
    Gate("x_sketch_distinct", (s, d) =>
      graft.ext.Kmv.distinctEstimate(
        Tables.load(s, d, "documents"), "doc_id", 64),
      // the (k-1)·(M // h_k) truncated-integer estimator, bit-identical
      "WITH hs AS (SELECT DISTINCT " +
      kmvHashSql("doc_id") + " AS h FROM documents), " +
      "t AS (SELECT h FROM hs ORDER BY h LIMIT 64), " +
      "a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_minima, " +
      "MAX(h) AS kth_hash FROM t) " +
      "SELECT n_minima, kth_hash, CAST(CASE WHEN n_minima < 64 " +
      "THEN n_minima ELSE (2305843009213693951 // NULLIF(kth_hash, 0)) * 63 " +
      "END AS BIGINT) AS distinct_est FROM a"),
    // Streaming KMV: per-batch minima fold into k-row warehouse state
    // by MIN-UNION — lossless AND idempotent (min ignores replays,
    // unlike the CMS SUM fold), so the folded sketch must equal the
    // one-shot whole-corpus sketch (same oracle as x_sketch_kmv)
    Gate("x_stream_kmv", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_skmv").toString)
      graft.streaming.EventStream.runKmvIngest(s, d, wh, "kmv_sketch")
        .orderBy(col("rank"))
    },
      // the streaming MIN-UNION fold is lossless and idempotent, so the
      // folded sketch must equal the one-shot sketch: same oracle
      kmvSketchOracle),
    // Broder resemblance between two id spaces (crawl A vs crawl B =
    // half shared + a fifth novel): Jaccard/intersection/union
    // estimates from 2k 8-byte hashes, never a corpus join
    Gate("x_sketch_overlap", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val a = docs.select(col("doc_id"))
      val b = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id")))
      graft.ext.Kmv.overlap(a, b, "doc_id", 64)
    },
      // Broder resemblance replay: both sketches, the combined k-minima,
      // and the three estimates — exact integers end to end
      "WITH ga AS (SELECT doc_id AS x FROM documents), " +
      "gb AS (SELECT doc_id AS x FROM documents WHERE doc_id % 2 = 0 " +
      "UNION ALL SELECT doc_id + 10000000 FROM documents WHERE doc_id % 5 = 0), " +
      "ta AS (SELECT DISTINCT " + kmvHashSql("x") + " AS h FROM ga " +
      "ORDER BY h LIMIT 64), " +
      "tb AS (SELECT DISTINCT " + kmvHashSql("x") + " AS h FROM gb " +
      "ORDER BY h LIMIT 64), " +
      "ux AS (SELECT DISTINCT h FROM (SELECT h FROM ta " +
      "UNION ALL SELECT h FROM tb) ORDER BY h LIMIT 64), " +
      "yy AS (SELECT CAST(COUNT(*) AS BIGINT) AS y FROM ux " +
      "JOIN ta USING (h) JOIN tb USING (h)), " +
      "xa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_x, " +
      "MAX(h) AS union_kth FROM ux) " +
      "SELECT n_x, y, CAST(y * 1000000 // n_x AS BIGINT) AS jaccard_micro, " +
      "union_kth, CAST(CASE WHEN n_x < 64 THEN n_x " +
      "ELSE (2305843009213693951 // NULLIF(union_kth, 0)) * 63 END AS BIGINT) " +
      "AS union_est FROM xa CROSS JOIN yy"),
    // Count-Min frequency sketch over customer keys, point-estimated for
    // 20 probes against the exact counts: integer counters, md5-chunk
    // cells — nothing to round, the replay is exact; est >= exact always
    Gate("x_cms", (s, d) => {
      val o = ord(s, d)
      val sk = graft.ext.CountMin.sketch(
        o.select(col("o_custkey")), "o_custkey", width = 1024, depth = 4)
      val probes = o.filter(col("o_custkey") <= 20)
        .select(col("o_custkey").as("key")).distinct()
      val exact = o.filter(col("o_custkey") <= 20)
        .groupBy(col("o_custkey").as("key")).agg(countAll.as("exact"))
      graft.ext.CountMin.estimate(sk, probes, "key", width = 1024, depth = 4)
        .join(exact, "key")
        .select(col("key"), col("exact"), col("est"))
        .orderBy(col("key"))
    },
      "WITH pos AS (SELECT o_custkey AS key, i, " +
      "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1 + 8*CAST(i AS INT), 8) AS BIGINT) % 1024 AS p " +
      "FROM orders, range(0, 4) r(i)), " +
      "cells AS (SELECT i, p, COUNT(*) AS cnt FROM pos GROUP BY 1, 2), " +
      "probes AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_custkey <= 20), " +
      "ppos AS (SELECT key, i, " +
      "CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1 + 8*CAST(i AS INT), 8) AS BIGINT) % 1024 AS p " +
      "FROM probes, range(0, 4) r(i)), " +
      "est AS (SELECT key, MIN(COALESCE(c.cnt, 0)) AS est FROM ppos " +
      "LEFT JOIN cells c ON ppos.i = c.i AND ppos.p = c.p GROUP BY key), " +
      "ex AS (SELECT o_custkey AS key, COUNT(*) AS exact FROM orders " +
      "WHERE o_custkey <= 20 GROUP BY 1) " +
      "SELECT e.key, x.exact, CAST(e.est AS BIGINT) AS est " +
      "FROM est e JOIN ex x USING (key) ORDER BY key"),
    // Exact heavy hitters with the sketch-pruned shuffle: even users'
    // events collapse onto 3 planted hot keys (~17% of the corpus each)
    // while every real user stays under 100 events at any SF — the CMS
    // estimate drops light rows map-side, the exact recount and the
    // plain GROUP BY ... HAVING oracle agree to the row
    Gate("x_heavy", (s, d) => {
      val keyed = ev(s, d).selectExpr(
        "CASE WHEN user_id % 2 = 0 THEN -(1 + (user_id DIV 2) % 3) " +
          "ELSE user_id END AS k")
      graft.ext.CountMin.heavyHitters(keyed, "k", minCount = 120L)
        .orderBy(col("k"))
    },
      // same md5-chunk cells, same integer counters, min over depth rows
      // the sketch is a pruning detail — the OUTPUT is exact, so the
      // oracle is the plain GROUP BY ... HAVING
      "SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
      "(SELECT CASE WHEN user_id % 2 = 0 THEN -(1 + (user_id // 2) % 3) " +
      "ELSE user_id END AS k FROM events) t " +
      "GROUP BY 1 HAVING COUNT(*) >= 120 ORDER BY 1"),
    // Time-series resample with gap fill: hourly grid INCLUDING empty
    // buckets (a plain GROUP BY drops them; rate math downstream breaks)
    Gate("x_resample", (s, d) => graft.ext.TimeSeries.resample(
      ev(s, d), "ts", "hour", "1 hour",
      Seq(countAll.as("n"),
        sum(col("value").cast(D)).cast("double").as("v")))
      .orderBy(col("bucket")),
      "WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, " +
      "date_trunc('hour', MAX(ts)) AS hi FROM events), " +
      "spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM b), " +
      "a AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1) " +
      "SELECT spine.bucket, COALESCE(a.n, 0) AS n, COALESCE(a.v, 0) AS v " +
      "FROM spine LEFT JOIN a USING (bucket) ORDER BY 1"),
    // Snapshot diff (CDC between two versions of a table): full-outer on
    // the business key, exact null-safe struct compare, change classes
    // summarized with a key checksum
    // Order-independent table fingerprint: exact decimal sum of portable
    // 60-bit row hashes — the 2-row equality witness for a cross-engine
    // copy (doubles ride as DECIMAL: double->string formatting is the
    // one non-portable rendering)
    Gate("x_tablehash", (s, d) => graft.ext.TableHash.fingerprint(ord(s, d),
      Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast(D), col("o_orderdate").cast("date"),
        col("o_orderpriority"))),
      // same chr(31)-joined render (chr(30) = NULL), same 60-bit md5 hash,
      // same exact integer sum — HUGEINT on this side, DECIMAL(38) on Spark's
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
      "CAST(SUM(CAST('0x' || substr(md5(concat_ws(chr(31), " +
      "COALESCE(CAST(o_orderkey AS VARCHAR), chr(30)), " +
      "COALESCE(CAST(o_custkey AS VARCHAR), chr(30)), " +
      "COALESCE(CAST(o_orderstatus AS VARCHAR), chr(30)), " +
      "COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), chr(30)), " +
      "COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(30)), " +
      "COALESCE(CAST(o_orderpriority AS VARCHAR), chr(30)))), 1, 15) AS BIGINT)) " +
      "AS VARCHAR) AS fingerprint FROM orders"),
    Gate("x_diff", (s, d) => {
      val o = ord(s, d)
      val before = o.filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_totalprice"))
      val after = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")
          && col("o_orderkey") % 31 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.ext.Diff.rows(before, after, Seq("o_orderkey"))
        .groupBy(col("change"))
        .agg(countAll.as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("change"))
    },
      "WITH before AS (SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'), " +
      "after AS (SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 " +
      "THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice FROM orders " +
      "WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND o_orderkey % 31 != 0), " +
      "d AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS k, " +
      "CASE WHEN b.o_orderkey IS NULL THEN 'added' " +
      "WHEN a.o_orderkey IS NULL THEN 'removed' " +
      "WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'changed' END AS change " +
      "FROM before b FULL OUTER JOIN after a ON b.o_orderkey = a.o_orderkey) " +
      "SELECT change, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum " +
      "FROM d WHERE change IS NOT NULL GROUP BY 1 ORDER BY 1"),

    // Window functions over the fact source (running revenue per customer)
    Gate("x_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d).filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"),
          sum(col("o_totalprice").cast(D)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      "SELECT o_custkey, o_orderkey, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running " +
      "FROM orders WHERE o_custkey <= 50 ORDER BY o_custkey, rn"),
    // Ranking-function breadth over the same frame: dense_rank, ntile,
    // percent_rank, cume_dist, lag/lead defaults — the rational-formula
    // functions divide identical integers, so doubles match bit-for-bit
    Gate("x_window2", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d).filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).cast("long").as("dr"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          lag(col("o_orderkey"), 1, -1L).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      // NTILE and the rational ranking functions follow the same standard
      // formulas in both engines; lag/lead defaults exercised
      "SELECT o_custkey, o_orderkey, " +
      "CAST(DENSE_RANK() OVER w AS BIGINT) AS dr, " +
      "CAST(NTILE(4) OVER w AS BIGINT) AS quartile, " +
      "PERCENT_RANK() OVER w AS pr, CUME_DIST() OVER w AS cd, " +
      "COALESCE(lag(o_orderkey, 1) OVER w, -1) AS prev_key, " +
      "COALESCE(lead(o_orderkey, 1) OVER w, -1) AS next_key " +
      "FROM orders WHERE o_custkey <= 50 " +
      "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
      "ORDER BY o_custkey, o_orderkey"),
    // Trailing 7-day per-user features at event time (RANGE frame over
    // epoch micros — exact integer bounds on both engines)
    Gate("x_rolling", (s, d) =>
      graft.ext.TimeSeries.rollingByTime(
        ev(s, d).select(col("user_id"), col("event_id"), col("value"),
          col("ts")),
        "user_id", "ts", "value", windowSeconds = 7L * 86400)
        .select(col("user_id"), col("event_id"), col("n_win"), col("sum_win"))
        .orderBy(col("user_id"), col("event_id")),
      // same integer RANGE frame over epoch micros
      "SELECT user_id, event_id, " +
      "CAST(COUNT(*) OVER w AS BIGINT) AS n_win, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_win " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
      "RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) " +
      "ORDER BY user_id, event_id"),
    // Trailing EWMA per user (decay 1/2, 16 events deep): dyadic decay +
    // integer term arithmetic -> bit-identical on any engine replaying
    // the same lags; one window serves all 17
    Gate("x_ewma", (s, d) =>
      graft.ext.TimeSeries.ewmaTrailing(
        ev(s, d).select(col("user_id"), col("event_id"), col("ts"),
          col("value")),
        "user_id", Seq(col("ts"), col("event_id")), "value")
        .select(col("user_id"), col("event_id"), col("ewma"))
        .orderBy(col("user_id"), col("event_id")),
      // same dyadic EWMA: quantize once (floor to 2^-20 units), scale each
      // lag by the exact integer 2^(16-i), divide by 2^36 at the end
      "WITH q AS (SELECT user_id, event_id, ts, " +
      "CAST(FLOOR(value * 1048576.0::DOUBLE) AS BIGINT) AS u FROM events), " +
      "t AS (SELECT user_id, event_id, " +
      (0 to 16).map(i => s"COALESCE(lag(u, $i) OVER w, 0) * ${1L << (16 - i)}")
        .mkString(" + ") +
      " AS units FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT user_id, event_id, CAST(units AS DOUBLE) / 68719476736.0::DOUBLE AS ewma " +
      "FROM t ORDER BY user_id, event_id"),
    // Set operations: UNION / INTERSECT / EXCEPT
    Gate("x_setops", (s, d) => {
      val hi = ord(s, d).filter(col("o_totalprice") >= 300000).select(col("o_custkey"))
      val urgent = ord(s, d).filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val u = hi.union(urgent).distinct().agg(count(lit(1)).as("n_union"))
      val i = hi.intersect(urgent).agg(count(lit(1)).as("n_intersect"))
      val e = hi.except(urgent).agg(count(lit(1)).as("n_except"))
      u.crossJoin(i).crossJoin(e)
    },
      "SELECT (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice >= 300000 " +
      "UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a) AS n_union, " +
      "(SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice >= 300000 " +
      "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') b) AS n_intersect, " +
      "(SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice >= 300000 " +
      "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') c) AS n_except"),

    // ---------------- snapshot + streaming end-to-end ----------------

    // Full snapshot lifecycle: SQL fact query -> periodicity gate -> time
    // injection -> idempotent year-partitioned append -> read back (§3.1).
    Gate("x_snapshot", (s, d) => {
      import graft.snapshot._
      import graft.time.TimeScope.Cron
      Tables.register(s, d)
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_wh").toString)
      val settings = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig(
        "enabled_users", Cron.Daily, Seq(SnapshotJob.FactQuery(1, enabled = true,
          SnapshotJob.SqlSource(
            """SELECT c_mktsegment AS segment,
              |  CASE WHEN c_acctbal >= 5000 THEN 'hi'
              |       WHEN c_acctbal >= 0 THEN 'mid' ELSE 'neg' END AS bucket,
              |  COUNT(*) AS value FROM customer
              |  GROUP BY c_mktsegment, bucket""".stripMargin))))))
      SnapshotJob.run(s, settings, wh, java.time.LocalDate.parse("2024-01-15"))
      // re-run must be a no-op (S10 idempotency)
      SnapshotJob.run(s, settings, wh, java.time.LocalDate.parse("2024-01-15"))
      wh.read("enabled_users").get
        .select(col("queryId"), col("year").cast("long").as("year"), col("month"),
          col("week"), col("day"), col("segment"), col("bucket"), col("value"))
        .orderBy(col("segment"), col("bucket"))
    },
      "SELECT CAST(1 AS BIGINT) AS queryId, CAST(2024 AS BIGINT) AS year, " +
      "CAST(1 AS BIGINT) AS month, 'Y2024-W03' AS week, CAST(15 AS BIGINT) AS day, " +
      "c_mktsegment AS segment, CASE WHEN c_acctbal >= 5000 THEN 'hi' " +
      "WHEN c_acctbal >= 0 THEN 'mid' ELSE 'neg' END AS bucket, COUNT(*) AS value " +
      "FROM customer GROUP BY 6, 7 ORDER BY 6, 7"),
    // Monthly periodicity: gate fires on the last day of the month, week
    // and day scope fields nulled (§1.3 nullification + S10 on NULL scope)
    Gate("x_snapshot_monthly", (s, d) => {
      import graft.snapshot._
      import graft.time.TimeScope.Cron
      Tables.register(s, d)
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_whm").toString)
      val settings = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig(
        "orders_monthly", Cron.Monthly, Seq(SnapshotJob.FactQuery(7, enabled = true,
          SnapshotJob.SqlSource(
            "SELECT o_orderstatus AS status, COUNT(*) AS value FROM orders GROUP BY 1"))))))
      // mid-month run must not fire; month-end must; re-run must dedup
      SnapshotJob.run(s, settings, wh, java.time.LocalDate.parse("2024-01-15"))
      SnapshotJob.run(s, settings, wh, java.time.LocalDate.parse("2024-01-31"))
      SnapshotJob.run(s, settings, wh, java.time.LocalDate.parse("2024-01-31"))
      wh.read("orders_monthly").get
        .select(col("queryId"), col("year"), col("month"), col("week"),
          col("day"), col("status"), col("value"))
        .orderBy(col("status"))
    },
      "SELECT CAST(7 AS BIGINT) AS queryId, CAST(2024 AS BIGINT) AS year, " +
      "CAST(1 AS BIGINT) AS month, CAST(NULL AS VARCHAR) AS week, CAST(NULL AS BIGINT) AS day, " +
      "o_orderstatus AS status, COUNT(*) AS value FROM orders GROUP BY 6 ORDER BY 6"),
    // JDBC write-back sink: the reference's sink IS MySQL (OLAP.php:153-164
    // create-if-absent, 306-312 bulk insert) — the same snapshot lifecycle
    // lands in a live RDBMS (embedded Derby here) behind the same S10
    // idempotency probe, then reads back through the JDBC source
    Gate("x_jdbc_sink", (s, d) => {
      import graft.snapshot._
      import graft.time.TimeScope.Cron
      Tables.register(s, d)
      val url = s"jdbc:derby:${TempDirs.scratchDir("graft_jdbcwh")}/db;create=true"
      val jw = new JdbcWarehouse(s, url)
      val settings = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig(
        "orders_writeback", Cron.Monthly, Seq(SnapshotJob.FactQuery(9, enabled = true,
          SnapshotJob.SqlSource(
            "SELECT o_orderstatus AS status, COUNT(*) AS n_orders, " +
              "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
              "FROM orders GROUP BY 1"))))))
      SnapshotJob.run(s, settings, jw, java.time.LocalDate.parse("2024-03-31"))
      // re-run must be a no-op (S10 against the remote database)
      SnapshotJob.run(s, settings, jw, java.time.LocalDate.parse("2024-03-31"))
      jw.read("orders_writeback").get
        .select(col("queryId"), col("year"), col("month"), col("week"),
          col("day"), col("status"), col("n_orders"), col("total"))
        .orderBy(col("status"))
    },
      // the RDBMS round-trip is lossless: BIGINT/DOUBLE/VARCHAR land and read
      // back bit-identically, so the oracle is the source aggregation itself
      "SELECT CAST(9 AS BIGINT) AS queryId, CAST(2024 AS BIGINT) AS year, " +
      "CAST(3 AS BIGINT) AS month, CAST(NULL AS VARCHAR) AS week, CAST(NULL AS BIGINT) AS day, " +
      "o_orderstatus AS status, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders GROUP BY 6 ORDER BY 6"),
    // JDBC sink S7 type widening: a second batch whose shared column
    // arrives wider (BIGINT counts, then DECIMAL money) retypes the remote
    // column through the same lattice as the parquet path — in place via
    // MODIFY on MySQL, staged copy-rewrite on dialects without retyping
    // DDL (Derby here). Earlier rows must read back retyped, not lost
    // (OLAP.php:186-192 CHANGE COLUMN semantics)
    Gate("x_jdbc_widen", (s, d) => {
      import graft.snapshot._
      Tables.register(s, d)
      val url = s"jdbc:derby:${TempDirs.scratchDir("graft_jdbcwd")}/db;create=true"
      val jw = new JdbcWarehouse(s, url)
      jw.append("orders_widen", s.sql(
        "SELECT o_orderstatus AS status, COUNT(*) AS metric FROM orders " +
          "WHERE year(o_orderdate) <= 1995 GROUP BY o_orderstatus"))
      jw.append("orders_widen", s.sql(
        "SELECT o_orderstatus AS status, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS metric " +
          "FROM orders WHERE year(o_orderdate) >= 1996 GROUP BY o_orderstatus"))
      jw.read("orders_widen").get
        .select(col("status"), col("metric").cast("double").as("metric"))
        .orderBy(col("status"), col("metric"))
    },
      // widening round-trip is value-preserving: earlier BIGINT rows read
      // back as exact decimals, later DECIMAL rows land untouched
      "SELECT status, CAST(metric AS DOUBLE) AS metric FROM (" +
      "SELECT o_orderstatus AS status, CAST(COUNT(*) AS DECIMAL(22,2)) AS metric " +
      "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) <= 1995 GROUP BY 1 " +
      "UNION ALL " +
      "SELECT o_orderstatus AS status, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(22,2)) AS metric " +
      "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1996 GROUP BY 1" +
      ") ORDER BY status, metric"),
    // SCD2 dimension maintenance: a deterministic observation stream
    // (per (custkey%50, orderdate) the priority of the smallest order)
    // folded in three date-ordered batches; the version chains must
    // equal one-shot processing of the full stream
    Gate("x_scd2", (s, d) => {
      import graft.snapshot.Scd2
      val obs = ord(s, d)
        .groupBy((col("o_custkey") % 50).as("k"),
          col("o_orderdate").as("ts"))
        .agg(min_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
      val batches = Seq(
        obs.filter(year(col("ts")) <= 1994),
        obs.filter(year(col("ts")).between(1995, 1996)),
        obs.filter(year(col("ts")) >= 1997))
      val dim = batches.tail.foldLeft(
        Scd2.init(batches.head, Seq("k"), Seq("prio"), "ts")) { (cur, b) =>
        Scd2.merge(cur, b, Seq("k"), Seq("prio"), "ts")
      }
      dim.orderBy(col("k"), col("valid_from"))
    },
      // one-shot window replay of the whole observation stream: the
      // incremental folds must land on exactly these version chains
      "WITH obs AS (SELECT o_custkey % 50 AS k, o_orderdate AS ts, " +
      "MIN_BY(o_orderpriority, o_orderkey) AS prio FROM orders GROUP BY 1, 2), " +
      "ch AS (SELECT k, ts, prio, LAG(prio) OVER (PARTITION BY k ORDER BY ts) AS prev FROM obs), " +
      "v AS (SELECT k, prio, ts AS valid_from, " +
      "LEAD(ts) OVER (PARTITION BY k ORDER BY ts) AS valid_to " +
      "FROM ch WHERE prev IS NULL OR prev != prio) " +
      "SELECT k, prio, valid_from, valid_to FROM v ORDER BY k, valid_from"),
    // THE SCD2 use case, composed from two existing operators: every
    // probed order joins the dimension version in force AT ITS OWN
    // date (AsofJoin over the version chain — last valid_from <= ts,
    // which equals interval containment on a contiguous chain)
    Gate("x_scd2_asof", (s, d) => {
      import graft.snapshot.Scd2
      val obs = ord(s, d)
        .groupBy((col("o_custkey") % 50).as("k"),
          col("o_orderdate").as("ts"))
        .agg(min_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
      val batches = Seq(
        obs.filter(year(col("ts")) <= 1994),
        obs.filter(year(col("ts")).between(1995, 1996)),
        obs.filter(year(col("ts")) >= 1997))
      val dim = batches.tail.foldLeft(
        Scd2.init(batches.head, Seq("k"), Seq("prio"), "ts")) { (cur, b) =>
        Scd2.merge(cur, b, Seq("k"), Seq("prio"), "ts")
      }
      val probes = ord(s, d).filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("okey"),
          (col("o_custkey") % 50).as("k"), col("o_orderdate").as("ts2"))
      graft.ext.AsofJoin.leftAsof(probes,
          dim.select(col("k"), col("valid_from"), col("prio")),
          Seq("k"), "ts2", "valid_from", Seq("prio"))
        .select(col("okey"), col("k"), col("prio"))
        .orderBy(col("okey"))
    },
      // containment against the contiguous version chain == as-of on
      // valid_from; probes never precede their key's first version (the
      // versions derive from the same orders' dates)
      "WITH obs AS (SELECT o_custkey % 50 AS k, o_orderdate AS ts, " +
      "MIN_BY(o_orderpriority, o_orderkey) AS prio FROM orders GROUP BY 1, 2), " +
      "ch AS (SELECT k, ts, prio, LAG(prio) OVER (PARTITION BY k ORDER BY ts) AS prev FROM obs), " +
      "v AS (SELECT k, prio, ts AS valid_from, " +
      "LEAD(ts) OVER (PARTITION BY k ORDER BY ts) AS valid_to " +
      "FROM ch WHERE prev IS NULL OR prev != prio), " +
      "p AS (SELECT o_orderkey AS okey, o_custkey % 50 AS k, o_orderdate AS ts " +
      "FROM orders WHERE o_orderkey % 7 = 0) " +
      "SELECT p.okey, p.k, v.prio FROM p JOIN v ON p.k = v.k " +
      "AND v.valid_from <= p.ts AND (v.valid_to IS NULL OR p.ts < v.valid_to) " +
      "ORDER BY p.okey"),
    // Incremental materialized aggregate: three delta batches (orders
    // split by key mod 3 — every batch touches every year partition)
    // fold into per-(year, priority) partial state; the final read rolls
    // the exact state up and must equal a from-scratch aggregation over
    // everything appended
    Gate("x_mview", (s, d) => {
      import graft.snapshot._
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_mv").toString)
      val orders = ord(s, d).select(
        year(col("o_orderdate")).cast("long").as("year"),
        col("o_orderpriority").as("priority"),
        col("o_totalprice").as("value"),
        col("o_orderkey"))
      (0L to 2L).foreach { r =>
        MaterializedAgg.appendWithAgg(wh, "sales",
          orders.filter(pmod(col("o_orderkey"), lit(3)) === r)
            .drop("o_orderkey"),
          Seq("priority"), "value")
      }
      MaterializedAgg.readAgg(wh, "sales", Seq("priority"))
        .orderBy(col("priority"))
    },
      // incremental folds must equal the from-scratch aggregation: exact
      // decimal sums cast DOUBLE once, avg derived from the same operands
      "SELECT o_orderpriority AS priority, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "COUNT(*) AS n, MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v " +
      "FROM orders GROUP BY 1 ORDER BY 1"),
    // Partition-scoped upsert: base load -> correction batch (re-priced
    // urgent 1995 orders) + late-arriving 1996 partition, merged by key;
    // only the touched year partitions are rewritten. Oracle replays the
    // same corrections with a CASE over the source table.
    // Zone-map pruned range read: optimize range-clusters on l_orderkey,
    // collectStats writes the per-file min/max manifest, readRange skips
    // every file whose range misses the interval — and the surviving rows
    // must equal the plain filtered scan the oracle runs
    Gate("x_zonemap", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_zonemap").toString)
      val liYear = li(s, d).withColumn("year",
        year(col("l_shipdate")).cast("long"))
        .select(col("l_orderkey"), col("l_quantity"), col("year"))
      wh.append("fact_li", liYear)
      wh.optimize("fact_li", Seq("l_orderkey"), targetFiles = 8)
      wh.collectStats("fact_li", Seq("l_orderkey"))
      wh.readRange("fact_li", "l_orderkey", 1000L, 2000L).get
        .agg(countAll.as("n"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("qty"),
          countDistinct(col("l_orderkey")).as("n_keys"))
    },
      "SELECT COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, " +
      "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys " +
      "FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000"),

    // Z-order layout: after clustering on the interleaved (custkey,
    // totalprice) ranks, zone maps prune on EITHER column; the pruned
    // 2-D range read must equal the plain filtered scan
    Gate("x_zorder", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_zorder").toString)
      val o = ord(s, d).withColumn("year", year(col("o_orderdate")).cast("long"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("year"))
      wh.append("fact_o", o)
      wh.zOrderBy("fact_o", "o_custkey", "o_totalprice", targetFiles = 8)
      wh.collectStats("fact_o", Seq("o_custkey", "o_totalprice"))
      wh.readRange("fact_o", "o_custkey", 100L, 300L).get
        .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 150000.0)
        .agg(countAll.as("n"), moneySum("o_totalprice").as("total"),
          countDistinct(col("o_orderkey")).as("n_keys"))
    },
      // the pruned read is transparent: same rows as the plain range scan
      // pruning is exact-by-construction: the oracle is the plain scan
      "SELECT COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "COUNT(DISTINCT o_orderkey) AS n_keys FROM orders " +
      "WHERE o_custkey BETWEEN 100 AND 300 " +
      "AND o_totalprice >= 50000.0 AND o_totalprice <= 150000.0"),

    // Bloom-manifest equality skipping (the point-lookup complement of
    // the zone map): per-file bloom filters prove which files CANNOT
    // contain a key, the row predicate re-applies after the skip — so
    // each pruned read equals the plain filtered scan the oracle runs.
    // Probes cover the original layout (33), the refreshed late slice
    // (77, held back then appended + refreshBloom), and an absent key.
    Gate("x_bloom_skip", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_bloom").toString)
      val o = ord(s, d).withColumn("year", year(col("o_orderdate")).cast("long"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("year"))
      wh.append("fact_o", o.filter(col("o_orderkey") % 10 =!= 7L))
      wh.optimize("fact_o", Seq("o_orderkey"), targetFiles = 8)
      wh.collectBloom("fact_o", "o_orderkey")
      wh.append("fact_o", o.filter(col("o_orderkey") % 10 === 7L))
      wh.refreshBloom("fact_o", "o_orderkey")
      Seq(33L, 77L, 999999999L).map { p =>
        wh.readEquals("fact_o", "o_orderkey", p).get
          .agg(count(col("o_orderkey")).as("n"),
            coalesce(moneySum("o_totalprice"), lit(0.0)).as("total"))
          .withColumn("probe", lit(p))
      }.reduce(_ unionByName _)
        .select(col("probe"), col("n"), col("total")).orderBy(col("probe"))
    },
      // bloom skipping is exact by construction: each probe row must
      // equal the plain filtered scan (absent key -> 0-count row)
      "SELECT CAST(p.probe AS BIGINT) AS probe, " +
      "COUNT(o.o_orderkey) AS n, " +
      "CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total " +
      "FROM (VALUES (33), (77), (999999999)) AS p(probe) " +
      "LEFT JOIN orders o ON o.o_orderkey = p.probe " +
      "GROUP BY 1 ORDER BY 1"),

    // IN-list bloom probe (the multi-tenant batch lookup): one manifest
    // read, files surviving ANY value scan once, row predicate re-applied
    Gate("x_bloom_in", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_bloomin").toString)
      val o = ord(s, d).withColumn("year", year(col("o_orderdate")).cast("long"))
        .select(col("o_orderkey"), col("o_totalprice"), col("year"))
      wh.append("fact_o", o)
      wh.optimize("fact_o", Seq("o_orderkey"), targetFiles = 8)
      wh.collectBloom("fact_o", "o_orderkey")
      wh.readIn("fact_o", "o_orderkey", Seq(15L, 33L, 77L, 999999999L)).get
        .agg(countAll.as("n"), moneySum("o_totalprice").as("total"),
          countDistinct(col("o_orderkey")).as("n_keys"))
    },
      "SELECT COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys " +
      "FROM orders WHERE o_orderkey IN (15, 33, 77, 999999999)"),

    Gate("x_merge", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_merge_wh").toString)
      val o = ord(s, d).withColumn("year", year(col("o_orderdate")).cast("long"))
      wh.append("fact_orders", o.filter(col("year") === 1995L)
        .select(col("o_orderkey"), col("o_totalprice"), col("year")))
      val fix = o.filter(col("year") === 1995L && col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          col("year"))
      val late = o.filter(col("year") === 1996L)
        .select(col("o_orderkey"), col("o_totalprice"), col("year"))
      wh.merge("fact_orders", fix.unionByName(late), Seq("o_orderkey"))
      wh.read("fact_orders").get
        .groupBy(col("year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy(col("year"))
    },
      "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year, COUNT(*) AS n, " +
      "CAST(SUM(CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1995 AND o_orderpriority = '1-URGENT' " +
      "THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996) GROUP BY 1 ORDER BY 1"),
    // Structured Streaming: watermarked tumbling-window agg over events
    Gate("x_stream_hourly", (s, d) =>
      graft.streaming.EventStream.runHourly(s, d)
        .orderBy(col("hour"), col("event_type")),
      "SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type, " +
      "COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // Streaming -> warehouse: foreachBatch lands each epoch as a
    // year-partitioned fact; the result is read back THROUGH the warehouse
    // (stored schema, partition pruning), oracle = the same batch SQL
    Gate("x_stream_sink", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_stream_wh").toString)
      graft.streaming.EventStream.streamIntoWarehouse(s, d, wh, "events_hourly")
        .select(col("hour"), col("event_type"), col("n"), col("v"),
          col("year"))
        .orderBy(col("hour"), col("event_type"))
    },
      "SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, event_type, " +
      "COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v, " +
      "CAST(EXTRACT(YEAR FROM time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS year " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // Continuous ingestion + incremental view maintenance: three file-
    // stream deltas fold O(batch) partials into the warehouse agg state;
    // the served aggregate must equal the from-scratch event aggregation
    Gate("x_stream_mview", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_smv").toString)
      graft.streaming.EventStream.runMviewIngest(s, d, wh, "events_facts")
        .orderBy(col("event_type"))
    },
      // the stream-folded view == one batch group-by over all events
      "SELECT event_type, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "COUNT(*) AS n, MIN(value) AS min_v, MAX(value) AS max_v, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v " +
      "FROM events GROUP BY 1 ORDER BY 1"),
    // Streaming distinct-user sketch: per-batch HLL register deltas fold
    // into warehouse state by per-bucket MAX — the folded table must be
    // bit-identical to a one-shot sketch of the whole corpus (DuckDB
    // replays that sketch)
    Gate("x_stream_hll", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_shll").toString)
      graft.streaming.EventStream.runHllIngest(s, d, wh, "user_sketch")
        .orderBy(col("year"), col("month"))
    },
      // whole-corpus sketch replay grouped by (year, month) — the fold
      // must land exactly here or the MAX-merge is broken
      "WITH h AS (SELECT CAST(EXTRACT(YEAR FROM ts) AS BIGINT) AS year, " +
      "CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS month, " +
      "md5(CAST(user_id AS VARCHAR)) AS x FROM events), " +
      "r AS (SELECT year, month, CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      "FROM h GROUP BY 1, 2, 3), " +
      "s AS (SELECT year, month, COUNT(*) AS np, " +
      "SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM r GROUP BY 1, 2) " +
      "SELECT year, month, CAST(np AS BIGINT) AS n_present, " +
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) * 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM s ORDER BY year, month"),
    // Streaming frequency sketch: per-batch Count-Min cell deltas fold
    // into warehouse state by per-cell SUM; estimates from the folded
    // sketch must match a one-shot whole-corpus sketch replay
    Gate("x_stream_cms", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_scms").toString)
      val sk = graft.streaming.EventStream.runCmsIngest(s, d, wh, "type_sketch")
      val ev0 = ev(s, d)
      val probes = ev0.select(col("event_type").as("key")).distinct()
      val exact = ev0.groupBy(col("event_type").as("key"))
        .agg(countAll.as("exact"))
      graft.ext.CountMin.estimate(sk, probes, "key")
        .join(exact, "key")
        .select(col("key"), col("exact"), col("est"))
        .orderBy(col("key"))
    },
      // whole-corpus CMS replay — the SUM-fold must land exactly here
      "WITH pos AS (SELECT event_type AS key, i, " +
      "CAST('0x' || substr(md5(event_type), 1 + 8*CAST(i AS INT), 8) AS BIGINT) % 1024 AS p " +
      "FROM events, range(0, 4) r(i)), " +
      "cells AS (SELECT i, p, COUNT(*) AS cnt FROM pos GROUP BY 1, 2), " +
      "probes AS (SELECT DISTINCT event_type AS key FROM events), " +
      "ppos AS (SELECT key, i, " +
      "CAST('0x' || substr(md5(key), 1 + 8*CAST(i AS INT), 8) AS BIGINT) % 1024 AS p " +
      "FROM probes, range(0, 4) r(i)), " +
      "est AS (SELECT key, MIN(COALESCE(c.cnt, 0)) AS est FROM ppos " +
      "LEFT JOIN cells c ON ppos.i = c.i AND ppos.p = c.p GROUP BY key), " +
      "ex AS (SELECT event_type AS key, COUNT(*) AS exact FROM events GROUP BY 1) " +
      "SELECT e.key, x.exact, CAST(e.est AS BIGINT) AS est " +
      "FROM est e JOIN ex x USING (key) ORDER BY key"),
    // Streaming exact dedup: watermark-bounded state (the exactly-once
    // ingestion guard); deduped rows re-aggregated batch-side so the
    // result is order-independent for the oracle
    Gate("x_stream_dedup", (s, d) =>
      graft.streaming.EventStream.runDedup(s, d, Seq("user_id", "event_type"),
          name = "stream_dedup_out")
        .groupBy(col("event_type")).agg(countAll.as("n"))
        .orderBy(col("event_type")),
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n " +
      "FROM (SELECT DISTINCT user_id, event_type FROM events) t " +
      "GROUP BY 1 ORDER BY 1"),
    // Stream-static enrichment (the streaming star join): events joined
    // to the broadcast customer dimension per micro-batch (no state),
    // then the watermarked hourly aggregation keyed by the enriched
    // attribute — oracle is the equivalent batch join+agg
    Gate("x_stream_enrich", (s, d) => {
      val dim = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.streaming.EventStream.runEnriched(s, d, dim,
          eventKey = "user_id", dimKey = "c_custkey",
          groupCol = "c_mktsegment", name = "stream_enrich_out")
        .orderBy(col("hour"), col("c_mktsegment"))
    },
      "SELECT time_bucket(INTERVAL '1 hour', ts) AS hour, " +
      "c_mktsegment, COUNT(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v " +
      "FROM events JOIN customer ON user_id = c_custkey " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    // Stream-stream interval join (purchase/view attribution): both sides
    // watermarked, state bounded by the time-range condition; result
    // re-aggregated batch-side so the oracle compare is order-independent
    Gate("x_stream_join", (s, d) =>
      graft.streaming.EventStream.runPurchaseViewJoin(s, d,
          name = "stream_join_out")
        .agg(countAll.as("n_pairs"),
          countDistinct(col("user_id"), col("p_ts")).as("n_purchases"),
          sum(col("p_value").cast(D)).cast("double").as("total")),
      // batch replay of the attribution join: view in [purchase-30min,
      // purchase] per user; epoch_us keeps sub-ms timestamps distinct
      "SELECT COUNT(*) AS n_pairs, " +
      "CAST(COUNT(DISTINCT p.user_id || ':' || CAST(epoch_us(p.ts) AS VARCHAR)) AS BIGINT) AS n_purchases, " +
      "CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
      "JOIN (SELECT * FROM events WHERE event_type = 'view') v " +
      "ON v.user_id = p.user_id AND v.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts"),
    // Sessionization (batch formulation; cross-checks the streaming state
    // machine): per-user event-time sessions with a 30-minute gap
    Gate("x_sessions", (s, d) =>
      graft.streaming.EventStream.sessionizeBatch(ev(s, d), gapMinutes = 30)
        .select(col("user_id"), col("start"), col("end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy(col("user_id"), col("start")),
      "WITH l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), " +
      "f AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR date_diff('millisecond', prev, ts) > 1800000 THEN 1 ELSE 0 END AS ns FROM l), " +
      "s AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
      "SELECT user_id, MIN(ts) AS start, MAX(ts) AS \"end\", CAST(COUNT(*) AS BIGINT) AS n_events " +
      "FROM s GROUP BY user_id, sid ORDER BY user_id, start"),
    // Grouping-sets rollup: all prefixes of the date path in one pass
    Gate("x_rollup", (s, d) => {
      import graft.olap.AggregateService
      AggregateService.rollup(ordDated(s, d),
        ordMeta(mExpr("value", moneySum("o_totalprice"))),
        AggregateService.Request.fromParams(None, Some("date:month"), None))
    },
      "SELECT EXTRACT(YEAR FROM o_orderdate) AS year, EXTRACT(MONTH FROM o_orderdate) AS month, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value, " +
      "CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate), EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS grouping_id " +
      "FROM orders GROUP BY ROLLUP(1, 2) ORDER BY grouping_id, year, month"),
    // Grouping-sets cube: every (year, month) subtotal plane in the same
    // single Expand-rewritten scan — the cross-tab shape pivot clients
    // otherwise compose from 4 separate drilldown calls
    Gate("x_cube", (s, d) => {
      import graft.olap.AggregateService
      AggregateService.cube(ordDated(s, d),
        ordMeta(mExpr("value", moneySum("o_totalprice"))),
        AggregateService.Request.fromParams(None, Some("date:month"), None))
    },
      "SELECT EXTRACT(YEAR FROM o_orderdate) AS year, EXTRACT(MONTH FROM o_orderdate) AS month, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value, " +
      "CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate), EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS grouping_id " +
      "FROM orders GROUP BY CUBE(1, 2) ORDER BY grouping_id, year, month"),
    // Distributed pipe source: executor-side shard processes (S2 at scale)
    Gate("x_pipe", (s, d) => {
      val script = TempDirs.scratchFile("graft_pipe", ".sh")
      java.nio.file.Files.writeString(script,
        "#!/bin/sh\nread idx\n" +
          "echo \"{\\\"shard\\\": $idx, \\\"n\\\": $((idx * 10 + 1))}\"\n")
      script.toFile.setExecutable(true)
      graft.snapshot.SnapshotJob.runPipe(s, script.toString,
        java.time.LocalDate.parse("2024-01-15"), shards = 4)
        .agg(count(lit(1)).as("shards"), sum(col("n")).as("total"))
    },
      "SELECT CAST(4 AS BIGINT) AS shards, CAST(64 AS BIGINT) AS total"),

    // Deterministic train/val/test split (pure function of the key ->
    // stable across runs/partitionings; the bucket hash here is the
    // identity so DuckDB can replicate the assignment exactly)
    Gate("x_split", (s, d) => graft.ext.Sampling.assignSplit(
      Tables.load(s, d, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), buckets = 10,
      hashOf = c => c.cast("long"))
      .groupBy(col("split")).agg(countAll.as("n"))
      .orderBy(col("split")),
      "SELECT CASE WHEN doc_id % 10 < 8 THEN 'train' " +
      "WHEN doc_id % 10 < 9 THEN 'val' ELSE 'test' END AS split, COUNT(*) AS n " +
      "FROM documents GROUP BY 1 ORDER BY 1"),

    // Leakage-free split: near-dup clusters (exact Jaccard pairs ->
    // components, uncapped for the exhaustive oracle) key the hash, so
    // a train doc's near-copy can never land in validation. Portable
    // multiplicative hash -> the oracle replays every assignment
    Gate("x_leak_split", (s, d) =>
      graft.ext.Sampling.leakFreeSplit(Tables.load(s, d, "documents"),
        "doc_id", "text", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        threshold = 0.5, maxDf = None, buckets = 10,
        hashOf = c => pmod(c.cast("long") * 2654435761L, lit(4294967296L)))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")),
      // the x_dedup_clusters transitive closure keys the hash: every doc
      // hashes on its cluster root (itself when unpaired)
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') " +
      "for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "len(list_distinct(a.s || b.s)) >= 0.5), " +
      "e AS (SELECT i a, j b FROM pr UNION SELECT j, i FROM pr), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a " +
      "WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a), " +
      "k AS (SELECT d.doc_id, COALESCE(comp.root, d.doc_id) AS gkey " +
      "FROM documents d LEFT JOIN comp ON d.doc_id = comp.node), " +
      "bk AS (SELECT doc_id, ((gkey * 2654435761) % 4294967296) % 10 AS b FROM k) " +
      "SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' " +
      "ELSE 'test' END AS split FROM bk ORDER BY doc_id"),

    // Exact-count balanced draw: 20 docs per language by deterministic
    // md5 order — WindowGroupLimit prunes each stratum to 20 rows
    // map-side, so a skewed giant stratum never lands behind one task
    Gate("x_quota", (s, d) => graft.ext.Sampling.quotaSample(
      Tables.load(s, d, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", quota = 20)
      .orderBy(col("lang"), col("rank")),
      // same md5 draw replayed: ROW_NUMBER over (md5(id), id) per lang
      "SELECT doc_id, lang, rank FROM (" +
      "SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang " +
      "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank " +
      "FROM documents) t WHERE rank <= 20 ORDER BY lang, rank"),

    // Ordered funnel over events: view -> click -> purchase, each step
    // strictly after the user's previous step time; per-step user counts
    Gate("x_funnel", (s, d) =>
      graft.ext.EventAnalytics.funnelCounts(ev(s, d),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy(col("step")),
      // strict sequential conversion: each step's min ts after the
      // user's previous step time
      "WITH s0 AS (SELECT user_id, MIN(ts) AS t0 FROM events " +
      "WHERE event_type = 'view' GROUP BY 1), " +
      "s1 AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e JOIN s0 USING (user_id) " +
      "WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY 1), " +
      "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
      "WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1) " +
      "SELECT * FROM (" +
      "SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name, (SELECT COUNT(*) FROM s0) AS users " +
      "UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1) " +
      "UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)) t ORDER BY step"),
    // Cohort retention triangle: users cohorted by DAY of first event
    // (the 30-day corpus gives a ~400-cell triangle); distinct actives
    // per (cohort, day) cell
    Gate("x_cohort", (s, d) =>
      graft.ext.EventAnalytics.retention(ev(s, d), "user_id", "ts",
        c => date_trunc("day", c).cast("date"))
        .orderBy(col("cohort"), col("period")),
      // cohort by day of first event; distinct actives per cell
      "WITH f AS (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort " +
      "FROM events GROUP BY 1), " +
      "a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS period FROM events) " +
      "SELECT f.cohort, a.period, COUNT(*) AS users FROM a JOIN f USING (user_id) " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    // Market-basket co-occurrence: event-type pairs sharing a user —
    // distinct (basket, item) first, then a basket-partitioned self-join
    // (ReusedExchange) and one map-side-combining pair count
    Gate("x_cooccur", (s, d) =>
      graft.ext.EventAnalytics.cooccurrence(
        ev(s, d).select(col("user_id"), col("event_type")),
        "user_id", "event_type", minSupport = 2)
        .orderBy(col("item_a"), col("item_b")),
      "WITH i AS (SELECT DISTINCT user_id, event_type FROM events) " +
      "SELECT a.event_type AS item_a, b.event_type AS item_b, COUNT(*) AS n_baskets " +
      "FROM i a JOIN i b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
      "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2"),
    // Chi-square independence of returnflag x linestatus: exact-integer
    // contingency math (d = N*O - Cx*Cy in LONG), floor-quantized cell
    // contributions, IEEE-sqrt Cramer's V — one (x,y) agg is the only
    // corpus pass, marginals are window sums over the tiny cell table
    Gate("x_assoc", (s, d) =>
      graft.ext.Stats.chiSquare(
        li(s, d).select(col("l_returnflag"), col("l_linestatus")),
        "l_returnflag", "l_linestatus"),
      // same O^2 identity (chi2 = sum N*O^2/(Cx*Cy) - N over OBSERVED
      // cells — empty cells' E absorbed exactly), same floor-quantized
      // terms, same 0-clamp, same IEEE sqrt for Cramer's V
      "WITH cells AS (SELECT l_returnflag x, l_linestatus y, " +
      "CAST(COUNT(*) AS BIGINT) obs FROM lineitem GROUP BY 1, 2), " +
      "t AS (SELECT obs, x, y, " +
      "CAST(SUM(obs) OVER (PARTITION BY x) AS BIGINT) cx, " +
      "CAST(SUM(obs) OVER (PARTITION BY y) AS BIGINT) cy, " +
      "CAST(SUM(obs) OVER () AS BIGINT) n FROM cells), " +
      "u AS (SELECT n, x, y, " +
      "CAST(FLOOR(CAST(n AS DOUBLE) * CAST(obs AS DOUBLE) * CAST(obs AS DOUBLE) " +
      "/ (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) * 1e9) AS BIGINT) units FROM t) " +
      "SELECT GREATEST(CAST(SUM(units) AS DOUBLE) / 1e9 - CAST(MAX(n) AS DOUBLE), 0.0) AS chi2, " +
      "(COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS dof, " +
      "MAX(n) AS n, " +
      "sqrt(GREATEST(CAST(SUM(units) AS DOUBLE) / 1e9 - CAST(MAX(n) AS DOUBLE), 0.0) / (CAST(MAX(n) AS DOUBLE) * " +
      "CAST(LEAST(COUNT(DISTINCT x) - 1, COUNT(DISTINCT y) - 1) AS DOUBLE))) AS cramers_v " +
      "FROM u"),
    // Herfindahl concentration of each event type's traffic over users —
    // the log-free entropy substitute (1/hhi = effective user count);
    // two-level agg, all rationals of exact LONG counts
    Gate("x_concentration", (s, d) =>
      graft.ext.Stats.concentration(
        ev(s, d).select(col("event_type"), col("user_id")),
        "event_type", "user_id")
        .orderBy(col("event_type")),
      // same two-level agg; hhi and top_share are single IEEE divisions
      // of exact BIGINT counts
      "WITH c AS (SELECT event_type, user_id, " +
      "CAST(COUNT(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
      "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) n_units, " +
      "CAST(SUM(c) AS BIGINT) total, CAST(SUM(c * c) AS BIGINT) ss, " +
      "CAST(MAX(c) AS BIGINT) cmax FROM c GROUP BY 1) " +
      "SELECT event_type, n_units, total, " +
      "CAST(ss AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS hhi, " +
      "CAST(cmax AS DOUBLE) / CAST(total AS DOUBLE) AS top_share " +
      "FROM g ORDER BY event_type"),
    // Seasonal volume anomaly: each day banded against its ISO-weekday
    // mean +- 2 sigma with the EXACT integer comparison
    // (n*c - s)^2 > 4*(n*ss - s^2) — no float boundary jitter
    Gate("x_anomaly", (s, d) =>
      graft.ext.Stats.seasonalAnomaly(ev(s, d), "ts")
        .orderBy(col("day")),
      // same exact-integer 2-sigma band: (n*c - s)^2 > 4*(n*ss - s^2)
      "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
      "CAST(COUNT(*) AS BIGINT) cnt FROM events GROUP BY 1), " +
      "d2 AS (SELECT day, CAST(isodow(day) AS BIGINT) dow, cnt FROM daily), " +
      "t AS (SELECT day, dow, cnt, CAST(COUNT(*) OVER w AS BIGINT) nd, " +
      "CAST(SUM(cnt) OVER w AS BIGINT) s, CAST(SUM(cnt * cnt) OVER w AS BIGINT) ss " +
      "FROM d2 WINDOW w AS (PARTITION BY dow)) " +
      "SELECT day, dow, cnt, " +
      "(nd * cnt - s) * (nd * cnt - s) > 4 * (nd * ss - s * s) AS is_anomaly " +
      "FROM t ORDER BY day"),
    // Two-proportion z-test on an md5-assigned user split (conversion =
    // >= 14 purchases, a median split — every user purchases at least
    // once, so the raw ever-purchased flag would saturate at p=1): one
    // user-keyed agg + a 4-counter fold; the z is rationals of exact
    // counts plus one IEEE sqrt, NULL on degenerate designs
    Gate("x_abtest", (s, d) =>
      graft.ext.Stats.abTest(ev(s, d), "user_id", "event_type",
        "purchase", minCount = 14L),
      // same md5 parity split, same >=14 median-split conversion, same
      // pooled-variance z (rationals of exact counts + one IEEE sqrt;
      // pooled rate inlined = identical value), same NULL degenerate guard
      "WITH pu AS (SELECT user_id, " +
      "CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted, " +
      "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS variant " +
      "FROM events GROUP BY 1), " +
      "c AS (SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) users_a, " +
      "CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) conv_a, " +
      "CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) users_b, " +
      "CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) conv_b FROM pu) " +
      "SELECT users_a, conv_a, users_b, conv_b, " +
      "CASE WHEN users_a > 0 AND users_b > 0 AND conv_a + conv_b > 0 AND conv_a + conv_b < users_a + users_b THEN " +
      "(CAST(conv_a AS DOUBLE) / CAST(users_a AS DOUBLE) - CAST(conv_b AS DOUBLE) / CAST(users_b AS DOUBLE)) / " +
      "sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(users_a + users_b AS DOUBLE)) * " +
      "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(users_a + users_b AS DOUBLE)) * " +
      "(1.0 / CAST(users_a AS DOUBLE) + 1.0 / CAST(users_b AS DOUBLE))) " +
      "ELSE NULL END AS z FROM c"),
    // Interval union per user: events become [ts, ts + (1..120 min)]
    // spans (duration from floor(value) — deterministic), overlaps
    // coalesce into islands via one user-keyed shuffle; covered ms is
    // exact integer union length, double-counting impossible
    Gate("x_coverage", (s, d) => graft.ext.Intervals.coverage(
      ev(s, d).select(col("user_id"),
        unix_millis(col("ts")).as("s0"),
        (unix_millis(col("ts")) +
          (pmod(floor(col("value")).cast("long"), lit(120L)) + 1L) *
            60000L).as("e0")),
      "user_id", "s0", "e0")
      .orderBy(col("user_id")),
      // same integer-millis islands: running max(end), gap flag, running
      // sum island id, two-level aggregation
      "WITH sp AS (SELECT user_id, epoch_ms(ts) AS s0, " +
      "epoch_ms(ts) + (CAST(FLOOR(value) AS BIGINT) % 120 + 1) * 60000 AS e0 FROM events), " +
      "m AS (SELECT user_id, s0, e0, MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0 " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM sp), " +
      "f AS (SELECT user_id, s0, e0, CASE WHEN pm IS NULL OR s0 > pm THEN 1 ELSE 0 END AS nw FROM m), " +
      "i AS (SELECT user_id, s0, e0, SUM(nw) OVER (PARTITION BY user_id ORDER BY s0, e0 " +
      "ROWS UNBOUNDED PRECEDING) AS island FROM f), " +
      "g AS (SELECT user_id, island, MIN(s0) i_s, MAX(e0) i_e, COUNT(*) ns FROM i GROUP BY 1, 2) " +
      "SELECT user_id, CAST(COUNT(*) AS BIGINT) n_islands, " +
      "CAST(SUM(i_e - i_s) AS BIGINT) covered, CAST(SUM(ns) AS BIGINT) n_spans " +
      "FROM g GROUP BY 1 ORDER BY 1"),
    // Golden-record survivorship over a 3-version partial-update feed:
    // each field independently takes its latest NON-NULL version (a
    // later partial update must not erase earlier fields); one key
    // shuffle serves all last-non-null windows + the collapse
    Gate("x_golden", (s, d) => {
      val c = Tables.load(s, d, "customer").select(col("c_custkey"),
        col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val v1 = c.select(col("c_custkey"), lit(1L).as("v"),
        when(pmod(col("c_custkey"), lit(3L)) === 0,
          lit(null).cast("string")).otherwise(col("c_name")).as("name"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").as("balance"))
      val v2 = c.filter(pmod(col("c_custkey"), lit(5L)) === 0)
        .select(col("c_custkey"), lit(2L).as("v"),
          lit(null).cast("string").as("name"),
          lit("REASSIGNED").as("segment"),
          lit(null).cast("double").as("balance"))
      val v3 = c.filter(pmod(col("c_custkey"), lit(7L)) === 0)
        .select(col("c_custkey"), lit(3L).as("v"),
          concat(lit("P3-"), col("c_custkey").cast("string")).as("name"),
          lit(null).cast("string").as("segment"),
          (col("c_acctbal") + lit(100.0)).as("balance"))
      graft.ext.Golden.survivorship(
        v1.unionByName(v2).unionByName(v3), "c_custkey", "v",
        Seq("name", "segment", "balance"))
        .orderBy(col("c_custkey"))
    },
      // same 3-version feed, same per-field last-non-null windows
      "WITH feed AS (" +
      "SELECT c_custkey, 1 AS v, CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END AS name, " +
      "c_mktsegment AS segment, c_acctbal AS balance FROM customer " +
      "UNION ALL SELECT c_custkey, 2, NULL, 'REASSIGNED', NULL FROM customer WHERE c_custkey % 5 = 0 " +
      "UNION ALL SELECT c_custkey, 3, 'P3-' || c_custkey, NULL, c_acctbal + 100.0 FROM customer WHERE c_custkey % 7 = 0), " +
      "f AS (SELECT c_custkey, " +
      "LAST_VALUE(name IGNORE NULLS) OVER w AS name, " +
      "LAST_VALUE(segment IGNORE NULLS) OVER w AS segment, " +
      "LAST_VALUE(balance IGNORE NULLS) OVER w AS balance " +
      "FROM feed WINDOW w AS (PARTITION BY c_custkey ORDER BY v " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) " +
      "SELECT c_custkey, MAX(name) AS name, MAX(segment) AS segment, " +
      "MAX(balance) AS balance FROM f GROUP BY 1 ORDER BY 1"),
    // Hashing-trick profile: categorical features -> 16 signed md5
    // buckets (engine-portable draw, zero-mean collisions); per-row
    // map-only codegen, the aggregate is `buckets` rows regardless of
    // corpus size
    Gate("x_feature_hash", (s, d) => graft.ext.FeatureHash.hashedProfile(
      Tables.load(s, d, "customer"),
      Seq("c_mktsegment", "c_nationkey"), buckets = 16)
      .orderBy(col("bucket")),
      // same md5 bucket/sign draw via DuckDB's hex-literal cast
      "WITH tok AS (" +
      "SELECT 'c_mktsegment=' || c_mktsegment AS t FROM customer WHERE c_mktsegment IS NOT NULL " +
      "UNION ALL SELECT 'c_nationkey=' || CAST(c_nationkey AS VARCHAR) FROM customer WHERE c_nationkey IS NOT NULL), " +
      "h AS (SELECT CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16 AS bucket, " +
      "CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 * 2 - 1 AS sign FROM tok) " +
      "SELECT bucket, CAST(SUM(sign) AS BIGINT) AS weight, " +
      "CAST(COUNT(*) AS BIGINT) AS n_tokens FROM h GROUP BY 1 ORDER BY 1"),
    // BM25 ranked retrieval from the materialized postings index:
    // saturating tf, length normalization toward the corpus mean,
    // log-free idf = n/df — same term-pruned postings scan and
    // TakeOrderedAndProject top-k as x_index_search
    Gate("x_bm25", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val (n, tl) = graft.ext.TextAnalysis.docLenStats(docs, "text")
      val postings = graft.ext.TextAnalysis.buildIndex(docs, "doc_id", "text")
      graft.ext.TextAnalysis.searchBm25(postings, "doc_id",
        Seq("spark", "window", "hash"), k = 15, nDocs = n, totalTokens = tl)
        .orderBy(col("score").desc, col("doc_id"))
    },
      // same saturation arithmetic; (1.2 + 1.0) spelled as the SUM so both
      // engines compute the identical double (a 2.2 literal could round
      // differently from the Scala-side k1 + 1.0)
      "WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS len, " +
      "unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, len, term, COUNT(*) AS cnt FROM tok " +
      "WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2, 3), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
      "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tl FROM documents), " +
      "sc AS (SELECT tf.doc_id, " +
      "SUM(CAST(FLOOR(CAST(st.n AS DOUBLE) / dfreq.df * " +
      "(CAST(tf.cnt AS DOUBLE) * (1.2 + 1.0)) / " +
      "(CAST(tf.cnt AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(tf.len AS DOUBLE) / (CAST(st.tl AS DOUBLE) / st.n)))) " +
      "* 1e9) AS BIGINT)) AS su, COUNT(*) AS n_terms " +
      "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN st GROUP BY 1) " +
      "SELECT doc_id, CAST(su AS DOUBLE) / 1e9 AS score, n_terms FROM sc " +
      "ORDER BY su DESC, doc_id LIMIT 15"),
    // Data-quality expectations over a deterministically dirtied orders
    // batch: planted nulls, rejected statuses, out-of-range prices,
    // duplicated keys, dangling custkeys — one scan for all scalar
    // rules, one key-agg for uniqueness, one anti-join for the reference
    Gate("x_expect", (s, d) => {
      import graft.ext.Expect._
      val base = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
      val dirty = base
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(400)) === 1)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit(-1L).as("o_custkey"), lit("X").as("o_orderstatus"),
            lit(-5.0).as("o_totalprice"),
            lit(null).cast("string").as("o_orderpriority")))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(400)) === 2))
      graft.ext.Expect.report(dirty, Seq(
        NotNull("o_orderpriority"),
        Accepted("o_orderstatus", Seq("F", "O", "P")),
        InRange("o_totalprice", 0.0, 1e6),
        Unique(Seq("o_orderkey")),
        Ref("o_custkey", Tables.load(s, d, "customer"), "c_custkey")))
    },
      // 3 unrolled power iterations; identical arithmetic shape
      // ((1-0.85)/n + 0.85*(int_unit_sum::DOUBLE/1e12 + 0)); floor-to-
      // integer-units, never ROUND (shortest-repr vs binary rounding
      // diverges across engines); the planted graph has no dangling
      // nodes, so the engine's dangling term is exactly +0.0 and the
      // replay omits it
      // same planted dirt, same conditional-sum / key-agg / anti-join counts
      "WITH dirty AS (" +
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders " +
      "UNION ALL SELECT o_orderkey + 10000000, -1, 'X', -5.0, NULL FROM orders WHERE o_orderkey % 400 = 1 " +
      "UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 400 = 2) " +
      "SELECT * FROM (" +
      "SELECT CAST(0 AS BIGINT) AS ord, 'not_null:o_orderpriority' AS rule, " +
      "CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM dirty " +
      "UNION ALL SELECT 1, 'accepted:o_orderstatus', " +
      "CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) FROM dirty " +
      "UNION ALL SELECT 2, 'in_range:o_totalprice', " +
      "CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 1000000) THEN 1 ELSE 0 END) AS BIGINT) FROM dirty " +
      "UNION ALL SELECT 3, 'unique:o_orderkey', " +
      "(SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM " +
      "(SELECT COUNT(*) AS n FROM dirty GROUP BY o_orderkey HAVING COUNT(*) > 1) t) " +
      "UNION ALL SELECT 4, 'ref:o_custkey', " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM dirty WHERE o_custkey IS NOT NULL " +
      "AND o_custkey NOT IN (SELECT c_custkey FROM customer))" +
      ") t ORDER BY ord"),
    // Embedding-validity screen: the VECTOR leg of the validation pass
    // (null / truncated / NaN+Inf / all-zero / norm-out-of-band vectors
    // planted at vec_id+900000; checks are independent — the zero
    // vector counts for zero_vec AND norm_out). One conditional-sum scan
    Gate("x_vector_checks", (s, d) => {
      val emb = Tables.load(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val bad = emb.filter(col("vec_id") < 6)
        .select((col("vec_id") + 900000L).as("vec_id"),
          when(col("vec_id") === 0, lit(null).cast("array<double>"))
            .when(col("vec_id") === 1, slice(col("v"), 1, 3))
            .when(col("vec_id") === 2,
              concat(array(lit(Double.NaN)), slice(col("v"), 2, 63)))
            .when(col("vec_id") === 3,
              concat(array(lit(Double.PositiveInfinity)),
                slice(col("v"), 2, 63)))
            .when(col("vec_id") === 4, transform(col("v"), _ => lit(0.0)))
            .otherwise(transform(col("v"), x => x * lit(10000.0)))
            .as("v"))
      graft.ext.Expect.vectorReport(emb.unionByName(bad), "v",
        dim = 64, normLo = 0.1, normHi = 100.0).orderBy(col("ord"))
    },
      // vector screen: planted defects replayed with list algebra; norm
      // via the shared sqrt(list_sum(x*x)) shape; NaN/Inf via isnan/isinf
      "WITH pts AS (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "bad AS (SELECT vec_id + 900000 AS vec_id, CASE " +
      "WHEN vec_id = 0 THEN NULL " +
      "WHEN vec_id = 1 THEN v[1:3] " +
      "WHEN vec_id = 2 THEN ['NaN'::DOUBLE] || v[2:64] " +
      "WHEN vec_id = 3 THEN ['Infinity'::DOUBLE] || v[2:64] " +
      "WHEN vec_id = 4 THEN list_transform(v, x -> 0.0::DOUBLE) " +
      "ELSE list_transform(v, x -> x * 10000.0::DOUBLE) END AS v " +
      "FROM pts WHERE vec_id < 6), " +
      "dirty AS (SELECT * FROM pts UNION ALL SELECT * FROM bad), " +
      "fl AS (SELECT (v IS NULL) AS null_vec, " +
      "(v IS NOT NULL AND len(v) <> 64) AS wrong_dim, " +
      "(v IS NOT NULL AND len(list_filter(v, x -> isnan(x) OR isinf(x))) > 0) AS non_finite, " +
      "(v IS NOT NULL AND len(v) > 0 AND " +
      "len(list_filter(v, x -> x <> 0.0::DOUBLE)) = 0) AS zero_vec, " +
      "(v IS NOT NULL AND len(v) = 64 AND " +
      "len(list_filter(v, x -> isnan(x) OR isinf(x))) = 0 AND " +
      "(sqrt(list_sum(list_transform(v, x -> x*x))) < 0.1::DOUBLE OR " +
      "sqrt(list_sum(list_transform(v, x -> x*x))) > 100.0::DOUBLE)) AS norm_out " +
      "FROM dirty), " +
      "agg AS (SELECT " +
      "CAST(SUM(CASE WHEN null_vec THEN 1 ELSE 0 END) AS BIGINT) AS a0, " +
      "CAST(SUM(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT) AS a1, " +
      "CAST(SUM(CASE WHEN non_finite THEN 1 ELSE 0 END) AS BIGINT) AS a2, " +
      "CAST(SUM(CASE WHEN zero_vec THEN 1 ELSE 0 END) AS BIGINT) AS a3, " +
      "CAST(SUM(CASE WHEN norm_out THEN 1 ELSE 0 END) AS BIGINT) AS a4 FROM fl) " +
      "SELECT * FROM (" +
      "SELECT CAST(0 AS BIGINT) AS ord, 'vector:null_vec' AS rule, a0 AS violations FROM agg " +
      "UNION ALL SELECT 1, 'vector:wrong_dim', a1 FROM agg " +
      "UNION ALL SELECT 2, 'vector:non_finite', a2 FROM agg " +
      "UNION ALL SELECT 3, 'vector:zero_vec', a3 FROM agg " +
      "UNION ALL SELECT 4, 'vector:norm_out', a4 FROM agg) t ORDER BY ord"),
    // Training-mixture draw: 2:1:0.5 weighting over three sources,
    // quotas floor(w*24) = 12/6/3 (power-of-two weights -> exact IEEE),
    // same md5 order as x_quota
    Gate("x_mixture", (s, d) =>
      graft.ext.Sampling.mixtureSample(
        Tables.load(s, d, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125), total = 24)
        .orderBy(col("source"), col("rank")),
      // same md5 order, weight-allocated quotas
      "WITH r AS (SELECT doc_id, source, " +
      "ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank " +
      "FROM documents WHERE source IN ('src0', 'src1', 'src2')) " +
      "SELECT doc_id, source, CAST(rank AS BIGINT) AS rank FROM r " +
      "WHERE rank <= CAST(FLOOR(CASE source WHEN 'src0' THEN 0.5 " +
      "WHEN 'src1' THEN 0.25 ELSE 0.125 END * 24) AS BIGINT) " +
      "ORDER BY source, rank"),
    // Token-budget mixture: quotas spend TOKENS, not documents — each
    // stratum draws md5-ordered docs until its floor(weight*total)
    // token budget is spent (crossing doc included); tok_start binds
    // the draw position, not just membership
    Gate("x_mixture_tokens", (s, d) =>
      graft.ext.Sampling.mixtureSampleTokens(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("n_tokens",
            graft.ext.TextAnalysis.tokenCount(col("text"))),
        "doc_id", "source", "n_tokens",
        Seq("src0" -> 0.5, "src2" -> 0.25, "src4" -> 0.125),
        totalTokens = 2048)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tok_start"))
        .orderBy(col("doc_id")),
      // per-stratum token prefix sum in md5 order; a doc is drawn iff its
      // first token lands inside the stratum's budget (one global window
      // per stratum HERE replays the operator's bucketed prefix exactly —
      // the bucket is carved from the hash's leading hex chars)
      "WITH t AS (SELECT doc_id, source, " +
      "len(string_split(text, ' ')) AS w, " +
      "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents " +
      "WHERE source IN ('src0', 'src2', 'src4')), " +
      "c AS (SELECT doc_id, source, w, SUM(w) OVER " +
      "(PARTITION BY source ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) " +
      "- w AS g FROM t) " +
      "SELECT doc_id, source, CAST(w AS BIGINT) AS n_tokens, " +
      "CAST(g AS BIGINT) AS tok_start FROM c " +
      "WHERE g < CAST(FLOOR(CASE source WHEN 'src0' THEN 0.5 " +
      "WHEN 'src2' THEN 0.25 ELSE 0.125 END * 2048) AS BIGINT) " +
      "ORDER BY doc_id"),
    // Degree-oriented triangle counting on the planted multigraph
    // (self-loops and duplicate/reverse edges must not inflate counts)
    Gate("x_triangles", (s, d) =>
      graft.ext.Triangles.perNode(graft.ext.Fixtures.plantedEdges(s))
        .orderBy(col("node")),
      // same canonicalization + degree orientation + wedge/closure joins
      "WITH e AS (" + graft.ext.Fixtures.plantedEdgesSql() + "), " +
      "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src != dst), " +
      "deg AS (SELECT node, COUNT(*) AS dg FROM " +
      "(SELECT a AS node FROM und UNION ALL SELECT b FROM und) t GROUP BY 1), " +
      "o AS (SELECT CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.a ELSE und.b END AS u, " +
      "CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.b ELSE und.a END AS v " +
      "FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b), " +
      "w AS (SELECT e1.u AS u, e1.v AS x, e2.v AS y FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v != e2.v), " +
      "tri AS (SELECT w.u, w.x, w.y FROM w WHERE EXISTS " +
      "(SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)) " +
      "SELECT node, COUNT(*) AS triangles FROM " +
      "(SELECT u AS node FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri) t " +
      "GROUP BY 1 ORDER BY 1"),
    // Newman modularity terms per community — the "is this clustering
    // any good" yardstick for the labelprop family: exact long counts
    // (canonical undirected edges, degrees, internal edges) and a
    // fixed-shape double derivation replayed verbatim by the oracle
    Gate("x_modularity", (s, d) => {
      val nodes = s.range(400)
        .select(col("id").as("node"), (col("id") % 6).as("comm"))
      graft.ext.Modularity.score(graft.ext.Fixtures.plantedEdges(s),
        "src", "dst", nodes, "node", "comm")
        .orderBy(col("comm"))
    },
      // modularity: identical canonical-edge/degree/internal long counts,
      // then the same L/m - (d/2m)^2 double shape (2.0 widens exactly)
      "WITH e0 AS (" + graft.ext.Fixtures.plantedEdgesSql() + "), " +
      "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0 WHERE src != dst), " +
      "mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und), " +
      "nodes AS (SELECT id AS node, id % 6 AS comm FROM range(0, 400) t(id)), " +
      "deg AS (SELECT node, COUNT(*) AS dg FROM " +
      "(SELECT a AS node FROM und UNION ALL SELECT b FROM und) dd GROUP BY 1), " +
      "dc AS (SELECT n.comm AS comm, COUNT(*) AS n_nodes, " +
      "CAST(COALESCE(SUM(d.dg), 0) AS BIGINT) AS deg_sum " +
      "FROM nodes n LEFT JOIN deg d ON d.node = n.node GROUP BY 1), " +
      "ic AS (SELECT na.comm AS comm, COUNT(*) AS internal " +
      "FROM und u JOIN nodes na ON na.node = u.a JOIN nodes nb ON nb.node = u.b " +
      "WHERE na.comm = nb.comm GROUP BY 1) " +
      "SELECT dc.comm AS comm, dc.n_nodes AS n_nodes, dc.deg_sum AS deg_sum, " +
      "CAST(COALESCE(ic.internal, 0) AS BIGINT) AS internal_edges, " +
      "CAST(COALESCE(ic.internal, 0) AS DOUBLE) / mm.m - " +
      "(CAST(dc.deg_sum AS DOUBLE) / (2.0 * mm.m)) * " +
      "(CAST(dc.deg_sum AS DOUBLE) / (2.0 * mm.m)) AS q " +
      "FROM dc LEFT JOIN ic ON ic.comm = dc.comm CROSS JOIN mm ORDER BY 1"),
    // Session path mining: top-20 within-session event-type trigrams
    // (same 30-min gap sessions as x_sessions; event_id breaks ts ties)
    Gate("x_paths", (s, d) =>
      graft.ext.EventAnalytics.sessionPaths(ev(s, d), "user_id",
        "event_type", "ts", "event_id", gapMinutes = 30, k = 20),
      // same session windows, same tie-broken LEADs
      "WITH l AS (SELECT user_id, ts, event_id, event_type, " +
      "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
      "f AS (SELECT user_id, ts, event_id, event_type, " +
      "CASE WHEN prev IS NULL OR date_diff('millisecond', prev, ts) > 1800000 THEN 1 ELSE 0 END AS ns FROM l), " +
      "s AS (SELECT user_id, ts, event_id, event_type, " +
      "SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
      "t AS (SELECT event_type || '>' || LEAD(event_type, 1) OVER w || '>' || LEAD(event_type, 2) OVER w AS path, " +
      "LEAD(event_type, 2) OVER w AS third FROM s " +
      "WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)) " +
      "SELECT path, COUNT(*) AS n FROM t WHERE third IS NOT NULL " +
      "GROUP BY 1 ORDER BY n DESC, path LIMIT 20"),
    // Range join: events mapped back into their own sessions' [start, end]
    // intervals via bucketed equi-join (every event must land in exactly
    // one session — a cross-validation of sessionize AND the range join)
    Gate("x_range_join", (s, d) => {
      val events = ev(s, d)
      val sessions = graft.streaming.EventStream
        .sessionizeBatch(events, gapMinutes = 30)
        .select(col("user_id"), col("start"), col("end"))
      graft.ext.RangeJoin.pointInInterval(
        events.select(col("user_id"), col("ts")), sessions,
        Seq("user_id"), "ts", "start", "end")
        .agg(countAll.as("n"),
          countDistinct(col("user_id"), unix_millis(col("start")))
            .as("n_sessions"))
    },
      "WITH l AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events), " +
      "f AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR date_diff('millisecond', prev, ts) > 1800000 THEN 1 ELSE 0 END AS ns FROM l), " +
      "s0 AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f), " +
      "sess AS (SELECT user_id, MIN(ts) AS st, MAX(ts) AS en FROM s0 GROUP BY user_id, sid) " +
      "SELECT COUNT(*) AS n, CAST(COUNT(DISTINCT e.user_id || ':' || CAST(epoch_ms(sess.st) AS VARCHAR)) AS BIGINT) AS n_sessions " +
      "FROM events e JOIN sess ON e.user_id = sess.user_id AND e.ts BETWEEN sess.st AND sess.en"),

    // As-of join: every event joined to the most recent per-day order
    // total of its user at event time (snapshot semantics; DuckDB's
    // native ASOF JOIN is the oracle)
    Gate("x_asof", (s, d) => {
      val daily = ord(s, d).groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(sum(col("o_totalprice").cast(D)).as("v"))
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").as("snap_ts"), col("v"))
      graft.ext.AsofJoin.leftAsof(ev(s, d), daily, Seq("user_id"),
        leftTime = "ts", rightTime = "snap_ts", valueCols = Seq("v"))
        .agg(countAll.as("n_events"), count(col("v")).as("n_matched"),
          sum(col("v")).cast("double").as("total"))
    },
      "WITH d AS (SELECT o_custkey k, CAST(o_orderdate AS TIMESTAMP) t, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) v FROM orders GROUP BY 1, 2) " +
      "SELECT COUNT(*) AS n_events, COUNT(v) AS n_matched, CAST(SUM(v) AS DOUBLE) AS total " +
      "FROM events ASOF LEFT JOIN d ON events.user_id = d.k AND events.ts >= d.t"),

    // Skew mitigation: salted two-phase aggregation must be value-identical
    // to the plain GROUP BY (decimal partials are exact, so the salt split
    // cannot perturb the sum) — the hot-key safety valve, semantics-gated
    Gate("x_skew_agg", (s, d) => graft.ext.Skew.saltedAgg(
      ev(s, d).select(col("event_type"), col("value").cast(D).as("v")),
      "event_type", "v", salts = 16, partial = sum, fin = sum)
      .select(col("event_type"), col("v").cast("double").as("value"))
      .orderBy(col("event_type")),
      "SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value " +
      "FROM events GROUP BY 1 ORDER BY 1"),

    // Skew-join salting: the large side salted uniformly, the small side
    // replicated per salt, equi-join on (key, salt) — each hot key spreads
    // over `salts` reducers. Semantics-gated: the salted join must be
    // value-identical to the plain join (the salt cannot add or drop rows)
    Gate("x_skew_join", (s, d) => {
      val o = ord(s, d).select(col("o_custkey"), col("o_totalprice"))
      val c = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.ext.Skew.saltedJoin(o, c, "o_custkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(countAll.as("n"), moneySum("o_totalprice").as("total"))
        .orderBy(col("c_mktsegment"))
    },
      "SELECT c_mktsegment, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY 1 ORDER BY 1"),

    // Co-located join over bucketed tables: both sides written bucketed
    // (and sorted) on the join key, so the join itself plans with ZERO
    // exchange — the write-time shuffle is paid once, every subsequent
    // join on the key is free (BucketingSpec asserts the plan shape;
    // this gate proves value parity with the plain join)
    Gate("x_bucket_join", (s, d) => {
      val dir = TempDirs.scratchDir("graft_bucket")
      // table names derived from the (unique) scratch dir: concurrent gate
      // runs in one session can't race on a fixed catalog name
      val tag = dir.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
      val (tOrders, tCustomer) = (s"gb_orders_$tag", s"gb_customer_$tag")
      try {
        val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = Tables.load(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        graft.ext.Bucketing.writeBucketed(o, tOrders, s"$dir/orders",
          Seq("o_custkey"), buckets = 8, sortCols = Seq("o_custkey"))
        graft.ext.Bucketing.writeBucketed(c, tCustomer, s"$dir/customer",
          Seq("c_custkey"), buckets = 8, sortCols = Seq("c_custkey"))
        val bo = graft.ext.Bucketing.read(s, tOrders)
        val bc = graft.ext.Bucketing.read(s, tCustomer)
        // materialize before the finally drops the catalog entries: the
        // returned frame must not depend on the temp tables it cleaned up
        bo.join(bc, bo("o_custkey") === bc("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(countAll.as("n"), moneySum("o_totalprice").as("total"))
          .orderBy(col("c_mktsegment"))
          .localCheckpoint(true)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tOrders")
        s.sql(s"DROP TABLE IF EXISTS $tCustomer")
      }
    },
      "SELECT c_mktsegment, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY 1 ORDER BY 1"),
    // Bloom-pruned shuffle join: the probe (lineitem) is cut down by a
    // 64 KiB md5-derived bit filter over the build keys BEFORE any
    // exchange — covers the build-too-big-to-broadcast gap; false
    // positives wash out in the exact join, so values match the plain
    // join row for row
    Gate("x_bloom_join", (s, d) => {
      val build = Tables.load(s, d, "part").filter(col("p_size") < 10)
        .select(col("p_partkey"), col("p_brand"))
      graft.ext.BloomJoin.join(
        li(s, d).select(col("l_partkey"), col("l_extendedprice")),
        "l_partkey", build, "p_partkey", bits = 1 << 19, k = 4)
        .groupBy(col("p_brand"))
        .agg(countAll.as("n"), moneySum("l_extendedprice").as("revenue"))
        .orderBy(col("p_brand"))
    },
      // the bloom prefilter has no false negatives and the exact join
      // removes false positives -> the oracle is simply the plain join
      "SELECT p_brand, COUNT(*) AS n, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "WHERE p_size < 10 GROUP BY 1 ORDER BY 1"),

    // ---------------- dedup family ----------------

    Gate("x_dedup_exact", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.ext.Dedup.exact(docs, "doc_id", "text")
        .agg(count(lit(1)).as("n_unique"), sum(col("n_copies")).as("total"))
    },
      "SELECT CAST(COUNT(DISTINCT regexp_replace(lower(text), '\\s+', ' ', 'g')) AS BIGINT) AS n_unique, " +
      "CAST(COUNT(*) AS BIGINT) AS total FROM documents"),
    // Cross-corpus overlap (even vs odd doc_id halves as two "dumps"):
    // exact distinct-trigram set sizes, intersection, union, Jaccard and
    // containment(B in A) — the dump-worth-ingesting statistic; one
    // xxhash64-keyed shuffle, semantic oracle on the shingle sets
    Gate("x_corpus_overlap", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.ext.Dedup.corpusOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", n = 3)
    },
      // semantic oracle: plain distinct-trigram set algebra per corpus
      // half — the engine's xxhash64 keys never appear
      "WITH tok AS (SELECT doc_id, " +
      "string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, [array_to_string(w[i:i+2], ' ') " +
      "for i in range(1, len(w)-1)] s FROM tok), " +
      "ga AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 2 = 0), " +
      "gb AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 2 = 1), " +
      "m AS (SELECT ga.g IS NOT NULL AS ia, gb.g IS NOT NULL AS ib " +
      "FROM ga FULL OUTER JOIN gb ON ga.g = gb.g) " +
      "SELECT CAST(SUM(CAST(ia AS BIGINT)) AS BIGINT) AS n_a, " +
      "CAST(SUM(CAST(ib AS BIGINT)) AS BIGINT) AS n_b, " +
      "CAST(SUM(CAST(ia AND ib AS BIGINT)) AS BIGINT) AS n_inter, " +
      "CAST(COUNT(*) AS BIGINT) AS n_union, " +
      "CAST(SUM(CAST(ia AND ib AS BIGINT)) AS DOUBLE) / " +
      "CAST(COUNT(*) AS DOUBLE) AS jaccard, " +
      "CAST(SUM(CAST(ia AND ib AS BIGINT)) AS DOUBLE) / " +
      "CAST(SUM(CAST(ib AS BIGINT)) AS DOUBLE) AS containment_b_in_a " +
      "FROM m"),
    // Unigram (SentencePiece) tokenizer: seed over substring candidates
    // + 2 hard-EM rounds, everything in micro-integer log10 scores —
    // the full train replays as a Viterbi-DP CTE ladder in DuckDB
    Gate("x_unigram_train", (s, d) =>
      graft.ext.Unigram.train(Tables.load(s, d, "documents"), "text",
        maxPieceLen = 4, maxVocab = 60, rounds = 2)
        .orderBy(col("score_micro").desc, col("piece")),
      uniChainSql(2).stripSuffix(", ") +
      " SELECT piece, weight, s AS score_micro FROM v2 " +
      "ORDER BY score_micro DESC, piece"),
    // ... and the encode path over the trained vocab: distinct words
    // segment once, documents re-join per-word stats (the BPE
    // distinct-type discipline) — per doc words/pieces/micro logprob
    Gate("x_unigram_encode", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val v = graft.ext.Unigram.train(docs, "text",
        maxPieceLen = 4, maxVocab = 60, rounds = 2)
      graft.ext.Unigram.encodeDocs(docs, "doc_id", "text", v)
        .orderBy(col("doc_id"))
    },
      uniChainSql(2) + uniDpSql(2) +
      "ws AS (SELECT u.word, CAST(COUNT(*) AS BIGINT) AS np, " +
      "CAST(SUM(v.s) AS BIGINT) AS lp FROM " +
      "(SELECT word, unnest(path) AS piece FROM seg_2) u " +
      "JOIN v2 v ON u.piece = v.piece GROUP BY u.word), " +
      "docw AS (SELECT doc_id, word FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) > 0) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(ws.np) AS BIGINT) AS n_pieces, " +
      "CAST(SUM(ws.lp) AS BIGINT) AS logprob_micro " +
      "FROM docw JOIN ws USING (word) GROUP BY doc_id ORDER BY doc_id"),
    // ... and the incremental form: the even half reduces once to a
    // persisted distinct-hash index, the odd "dump" joins against it —
    // containment without rescanning corpus A
    Gate("x_overlap_incr", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val idx = graft.ext.Dedup.shingleIndex(
        docs.filter(col("doc_id") % 2 === 0), "text", n = 3)
      graft.ext.Dedup.containmentAgainst(idx,
        docs.filter(col("doc_id") % 2 === 1), "text", n = 3)
    },
      "WITH tok AS (SELECT doc_id, " +
      "string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, [array_to_string(w[i:i+2], ' ') " +
      "for i in range(1, len(w)-1)] s FROM tok), " +
      "ga AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 2 = 0), " +
      "gb AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 2 = 1), " +
      "m AS (SELECT ga.g IS NOT NULL AS ia " +
      "FROM gb LEFT JOIN ga ON gb.g = ga.g) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_b, " +
      "CAST(SUM(CAST(ia AS BIGINT)) AS BIGINT) AS n_inter, " +
      "CAST(SUM(CAST(ia AS BIGINT)) AS DOUBLE) / " +
      "CAST(COUNT(*) AS DOUBLE) AS containment FROM m"),
    // Exact SUBSTRING dedup via disjoint 8-word tiles (the distributed
    // ExactSubstr formulation): corpus-duplicated tiles are counted and
    // stripped from clean_text; the sub-tile tail always survives
    Gate("x_substr_dedup", (s, d) =>
      graft.ext.Dedup.tileDuplication(Tables.load(s, d, "documents"),
        "doc_id", "text", tileWords = 8)
        .orderBy(col("doc_id")),
      // tile the corpus into disjoint 8-word windows, count each tile's
      // corpus occurrences, strip duplicated tiles; the sub-tile tail past
      // the last full window is re-appended verbatim
      "WITH w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "t0 AS (SELECT doc_id, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w), " +
      "t AS (SELECT doc_id, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t0), " +
      "c AS (SELECT tile, COUNT(*) AS cnt FROM t GROUP BY 1), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_tiles, " +
      "SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS dup_tiles, " +
      "STRING_AGG(CASE WHEN c.cnt = 1 THEN t.tile END, ' ' ORDER BY t.i) AS kept " +
      "FROM t JOIN c USING (tile) GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_tiles, 0) AS BIGINT) AS n_tiles, " +
      "CAST(COALESCE(k.dup_tiles, 0) AS BIGINT) AS dup_tiles, " +
      "ROUND(COALESCE(k.dup_tiles / (1.0 * k.n_tiles), 0.0), 6) AS dup_ratio, " +
      "trim(concat(COALESCE(k.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean_text " +
      "FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id"),
    // Sentence-aware chunking: the corpus re-plants as sentences of
    // 3..6 words (20 on 31-multiples — the oversized-sentence branch),
    // then whole sentences greedy-pack under a 12-word budget
    Gate("x_chunk_sent", (s, d) => {
      // words bound to a column BEFORE the sentence lambda reads them
      // (the tilesOf discipline): an un-bound split() inside the lambda
      // re-splits the text once per sentence
      val ws = col("__ws")
      val slen = when(col("doc_id") % 31 === 0, lit(20))
        .otherwise((col("doc_id") % 4 + 3).cast("int"))
      val nS = floor((size(ws) + slen - 1).cast("double") / slen).cast("int")
      val sents = transform(sequence(lit(1), nS), i =>
        array_join(slice(ws, ((i - 1) * slen + 1).cast("int"), slen), " "))
      val planted = Tables.load(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__ws"))
        .select(col("doc_id"),
          concat(array_join(sents, ". "), lit(".")).as("text"))
      graft.ext.TextAnalysis.chunkBySentences(planted, "doc_id", "text",
        maxWords = 12)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // the same sentence planting, the same extraction regex, then the
      // greedy fold replays as a recursive CTE advancing one sentence per
      // step (chunk resets when the budget would overflow)
      "WITH RECURSIVE w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "pl AS (SELECT doc_id, CASE WHEN doc_id % 31 = 0 THEN 20 " +
      "ELSE CAST(doc_id % 4 + 3 AS INT) END AS slen, ws FROM w), " +
      "snt AS (SELECT doc_id, array_to_string([array_to_string(" +
      "ws[((i-1)*slen+1):((i-1)*slen+slen)], ' ') " +
      "for i in range(1, CAST((len(ws) + slen - 1) // slen AS BIGINT) + 1)], " +
      "'. ') || '.' AS text FROM pl), " +
      "sx0 AS (SELECT doc_id, u.i AS i0, trim(u.s) AS sent FROM " +
      "(SELECT doc_id, unnest([{'i': i, 's': l[i]} " +
      "for i in range(1, len(l)+1)]) AS u FROM " +
      "(SELECT doc_id, regexp_extract_all(text, " +
      "'[^.!?]+(?:[.!?]+|$)') AS l FROM snt) t0) t1 " +
      "WHERE len(trim(u.s)) > 0), " +
      "sx AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id " +
      "ORDER BY i0) AS BIGINT) AS rn, sent, " +
      "CAST(len(regexp_split_to_array(sent, '\\s+')) AS BIGINT) AS sw " +
      "FROM sx0), " +
      "rec AS (SELECT doc_id, rn, CAST(0 AS BIGINT) AS ci, sw AS cw " +
      "FROM sx WHERE rn = 1 " +
      "UNION ALL SELECT s.doc_id, s.rn, " +
      "CASE WHEN r.cw + s.sw > 12 THEN r.ci + 1 ELSE r.ci END, " +
      "CASE WHEN r.cw + s.sw > 12 THEN s.sw ELSE r.cw + s.sw END " +
      "FROM rec r JOIN sx s ON s.doc_id = r.doc_id AND s.rn = r.rn + 1) " +
      "SELECT x.doc_id, r.ci AS chunk_idx, " +
      "STRING_AGG(x.sent, ' ' ORDER BY x.rn) AS chunk, " +
      "CAST(SUM(x.sw) AS BIGINT) AS n_chunk_words " +
      "FROM sx x JOIN rec r ON x.doc_id = r.doc_id AND x.rn = r.rn " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    // Span-level decontamination: the benchmark is each 17th doc's own
    // words 4..19, so those docs' second tile (words 9..16, wholly
    // inside the quoted span) must strip while tile 0 and the tail
    // survive — excise the span, keep the document
    Gate("x_decontam_span", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val ws = split(trim(col("text")), "\\s+")
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(array_join(slice(ws, 4, 16), " ").as("btext"))
      graft.ext.Dedup.decontaminateSpans(docs, "doc_id", "text",
        bench, "btext", tileWords = 8)
        .orderBy(col("doc_id"))
    },
      // the same disjoint-tile fold, but the verdict set is the DISTINCT
      // overlapping 8-word windows of the planted benchmark slices (each
      // 17th doc's words 4..19) — semantic text equality, no hashes
      "WITH w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "b AS (SELECT array_to_string(ws[4:19], ' ') AS btext FROM w " +
      "WHERE doc_id % 17 = 0), " +
      "bw0 AS (SELECT regexp_split_to_array(trim(btext), '\\s+') AS bws " +
      "FROM b), " +
      "bw AS (SELECT DISTINCT unnest([array_to_string(bws[(i+1):(i+8)], ' ') " +
      "for i in range(0, len(bws) - 8 + 1)]) AS win FROM bw0 " +
      "WHERE len(bws) >= 8), " +
      "t0 AS (SELECT doc_id, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w), " +
      "t AS (SELECT doc_id, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t0), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_tiles, " +
      "SUM(CASE WHEN bw.win IS NOT NULL THEN 1 ELSE 0 END) AS hit_tiles, " +
      "STRING_AGG(CASE WHEN bw.win IS NULL THEN t.tile END, ' ' ORDER BY t.i) AS kept " +
      "FROM t LEFT JOIN bw ON t.tile = bw.win GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_tiles, 0) AS BIGINT) AS n_tiles, " +
      "CAST(COALESCE(k.hit_tiles, 0) AS BIGINT) AS hit_tiles, " +
      "ROUND(COALESCE(k.hit_tiles / (1.0 * k.n_tiles), 0.0), 6) AS hit_ratio, " +
      "trim(concat(COALESCE(k.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean_text " +
      "FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id"),
    // C4/RefinedWeb LINE screen: the corpus has no newlines, so the
    // gate plants a 3-line layout per doc — a 5-way shared header, the
    // doc's own first 61 chars (unique, survives), a 97-way shared
    // footer — and strips every line seen in >1 distinct document,
    // so both verdicts are exercised in every document
    Gate("x_line_dedup", (s, d) => {
      val planted = Tables.load(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("shared-"), (col("doc_id") % 5).cast("string")),
          substring(col("text"), 1, 61),
          concat(lit("tail-"), (col("doc_id") % 97).cast("string")))
          .as("text"))
      graft.ext.Dedup.lineDedup(planted, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // line-level screen over the planted 3-line layout: a line in >1
      // distinct document is boilerplate and strips from every document
      "WITH d AS (SELECT doc_id, " +
      "'shared-' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || " +
      "substr(text, 1, 61) || chr(10) || " +
      "'tail-' || CAST(doc_id % 97 AS VARCHAR) AS text FROM documents), " +
      "l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d), " +
      "l AS (SELECT doc_id, unnest(ls) AS line, " +
      "unnest([i for i in range(1, len(ls)+1)]) AS pos FROM l0), " +
      "c AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY 1), " +
      "k AS (SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, " +
      "CAST(SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_lines, " +
      "STRING_AGG(CASE WHEN c.nd <= 1 THEN l.line END, chr(10) ORDER BY l.pos) AS kept " +
      "FROM l JOIN c USING (line) GROUP BY 1) " +
      "SELECT doc_id, n_lines, dup_lines, " +
      "ROUND(dup_lines / (1.0 * n_lines), 6) AS dup_ratio, " +
      "COALESCE(kept, '') AS clean_text FROM k ORDER BY doc_id"),
    // incremental line screen: index the even half, screen the odd half
    // against (index ∪ batch) with corpus text never re-read — equal to
    // batch mode over the full corpus restricted to the batch (the
    // oracle replays exactly that)
    Gate("x_line_dedup_incr", (s, d) => {
      val planted = Tables.load(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("shared-"), (col("doc_id") % 5).cast("string")),
          substring(col("text"), 1, 61),
          concat(lit("tail-"), (col("doc_id") % 97).cast("string")))
          .as("text"))
      val idx = graft.ext.Dedup.lineIndex(
        planted.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.ext.Dedup.lineDedupIncremental(
        planted.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
        .orderBy(col("doc_id"))
    },
      // incremental == batch over the full corpus restricted to the
      // odd-id batch (distinct-doc counts are additive across the
      // disjoint halves)
      "WITH d AS (SELECT doc_id, " +
      "'shared-' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || " +
      "substr(text, 1, 61) || chr(10) || " +
      "'tail-' || CAST(doc_id % 97 AS VARCHAR) AS text FROM documents), " +
      "l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d), " +
      "l AS (SELECT doc_id, unnest(ls) AS line, " +
      "unnest([i for i in range(1, len(ls)+1)]) AS pos FROM l0), " +
      "c AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY 1), " +
      "k AS (SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, " +
      "CAST(SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_lines, " +
      "STRING_AGG(CASE WHEN c.nd <= 1 THEN l.line END, chr(10) ORDER BY l.pos) AS kept " +
      "FROM l JOIN c USING (line) WHERE l.doc_id % 2 = 1 GROUP BY 1) " +
      "SELECT doc_id, n_lines, dup_lines, " +
      "ROUND(dup_lines / (1.0 * n_lines), 6) AS dup_ratio, " +
      "COALESCE(kept, '') AS clean_text FROM k ORDER BY doc_id"),
    // the stride-1 overlapping-window DETECTOR: full recall of every
    // verbatim run >= 8 words at any alignment (the tiler's documented
    // miss case); stripping stays with the disjoint tiler
    Gate("x_substr_win", (s, d) =>
      graft.ext.Dedup.windowDuplication(Tables.load(s, d, "documents"),
        "doc_id", "text", windowWords = 8, stride = 1)
        .orderBy(col("doc_id")),
      // overlapping 8-word windows at stride 1: same count-join shape as
      // the tiler, one window per word position
      "WITH w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "t0 AS (SELECT doc_id, ws, unnest(range(CASE WHEN len(ws) >= 8 " +
      "THEN CAST(len(ws) - 7 AS BIGINT) ELSE 0 END)) AS i FROM w), " +
      "t AS (SELECT doc_id, array_to_string(ws[(i+1):(i+8)], ' ') AS win FROM t0), " +
      "c AS (SELECT win, COUNT(*) AS cnt FROM t GROUP BY 1), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_windows, " +
      "SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS dup_windows " +
      "FROM t JOIN c USING (win) GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_windows, 0) AS BIGINT) AS n_windows, " +
      "CAST(COALESCE(k.dup_windows, 0) AS BIGINT) AS dup_windows, " +
      "ROUND(COALESCE(k.dup_windows / (1.0 * k.n_windows), 0.0), 6) AS dup_ratio " +
      "FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id"),
    // incremental substring dedup: even ids are the already-indexed
    // corpus (tile counts only — text never re-read), odd ids the batch;
    // the result must equal the batch-mode stats restricted to the batch
    // (the oracle computes exactly that restriction)
    Gate("x_substr_incr", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val idx = graft.ext.Dedup.tileIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.ext.Dedup.tileDuplicationIncremental(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
        .orderBy(col("doc_id"))
    },
      // batch-mode tile stats over the FULL corpus, restricted to odd
      // (batch) ids: (index ∪ batch) counts == all-docs counts
      "WITH w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "t0 AS (SELECT doc_id, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w), " +
      "t AS (SELECT doc_id, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t0), " +
      "c AS (SELECT tile, COUNT(*) AS cnt FROM t GROUP BY 1), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_tiles, " +
      "SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS dup_tiles, " +
      "STRING_AGG(CASE WHEN c.cnt = 1 THEN t.tile END, ' ' ORDER BY t.i) AS kept " +
      "FROM t JOIN c USING (tile) WHERE t.doc_id % 2 = 1 GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_tiles, 0) AS BIGINT) AS n_tiles, " +
      "CAST(COALESCE(k.dup_tiles, 0) AS BIGINT) AS dup_tiles, " +
      "ROUND(COALESCE(k.dup_tiles / (1.0 * k.n_tiles), 0.0), 6) AS dup_ratio, " +
      "trim(concat(COALESCE(k.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean_text " +
      "FROM w LEFT JOIN k USING (doc_id) WHERE w.doc_id % 2 = 1 ORDER BY doc_id"),
    // The whitespace-free-script (CJK) path: spaces stripped from the
    // corpus play the role of an unsegmented script, then
    // Tokenize.charGramsAsWords re-spaces it into 2-char chunks and the
    // UNCHANGED word-based tiler dedups 8-chunk (16-char) tiles — the
    // documented pre-map contract that keeps one tokenizer fix for the
    // whole text family instead of a fork per operator
    Gate("x_substr_dedup_cjk", (s, d) => {
      val cjk = translate(col("text"), " ", "")
      val spaced = graft.ext.Tokenize.charGramsAsWords(cjk, n = 2)
      graft.ext.Dedup.tileDuplication(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), spaced.as("text")),
        "doc_id", "text", tileWords = 8)
        .orderBy(col("doc_id"))
    },
      // same tile chain over the space-stripped, 2-char-rechunked corpus
      // (the charGramsAsWords pre-map replayed as a list comprehension)
      "WITH base AS (SELECT doc_id, " +
      "replace(text, ' ', '') AS s FROM documents), " +
      "sp AS (SELECT doc_id, CASE WHEN length(s) > 0 THEN " +
      "array_to_string([substr(s, i*2+1, 2) for i in " +
      "range(0, CAST((length(s)+1)//2 AS BIGINT))], ' ') ELSE '' END AS text " +
      "FROM base), " +
      "w AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM sp), " +
      "t0 AS (SELECT doc_id, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w), " +
      "t AS (SELECT doc_id, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t0), " +
      "c AS (SELECT tile, COUNT(*) AS cnt FROM t GROUP BY 1), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_tiles, " +
      "SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS dup_tiles, " +
      "STRING_AGG(CASE WHEN c.cnt = 1 THEN t.tile END, ' ' ORDER BY t.i) AS kept " +
      "FROM t JOIN c USING (tile) GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_tiles, 0) AS BIGINT) AS n_tiles, " +
      "CAST(COALESCE(k.dup_tiles, 0) AS BIGINT) AS dup_tiles, " +
      "ROUND(COALESCE(k.dup_tiles / (1.0 * k.n_tiles), 0.0), 6) AS dup_ratio, " +
      "trim(concat(COALESCE(k.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean_text " +
      "FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id"),
    // The same pre-map through the GOPHER repetition screens: the
    // unchanged word-based gopherFilter votes on char-chunk grams —
    // an unspaced script no longer collapses to word_count=1 where
    // every repetition fraction reads 0
    Gate("x_gopher_cjk", (s, d) => {
      val cjk = translate(col("text"), " ", "")
      val spaced = graft.ext.Tokenize.charGramsAsWords(cjk, n = 2)
      graft.ext.Repetition.gopherFilter(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), spaced.as("text")),
        "doc_id", "text")
        .select(col("doc_id"), col("chars"),
          col("top_2gram_char_frac"), col("dup_5gram_char_frac"),
          col("keep").cast("long").as("keep"))
        .orderBy(col("doc_id"))
    },
      // the Gopher repetition vote over the SAME re-spaced stream: the
      // raw-text gram core with rel = the cjk CTE; single-line text keeps
      // the line screens vacuous on both engines
      "WITH " + cjkCteSql.stripSuffix(", ") +
      gopherKeepRawSql(rel = "cjk") +
      " SELECT gw.doc_id, gw.chars, " +
      "ROUND(LEAST(1.0, COALESCE(gtp.t2m, 0) / (1.0 * gw.chars)), 6) " +
      "AS top_2gram_char_frac, " +
      "ROUND(LEAST(1.0, COALESCE(gdp.d5, 0) / (1.0 * gw.chars)), 6) " +
      "AS dup_5gram_char_frac, " +
      "CAST(CASE WHEN gk.keep THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM gw LEFT JOIN gtp USING (doc_id) LEFT JOIN gdp USING (doc_id) " +
      "JOIN gk USING (doc_id) ORDER BY gw.doc_id"),
    // ... and through the LM scorer: train + score both consume the
    // re-spaced stream — the standard char-n-gram LM, zero forked code
    Gate("x_lm_cjk", (s, d) => {
      val cjk = translate(col("text"), " ", "")
      val spaced = graft.ext.Tokenize.charGramsAsWords(cjk, n = 2)
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), spaced.as("text"))
      val m = graft.ext.NgramLm.train(docs.filter(col("lang") === "en"), "text")
      graft.ext.NgramLm.score(m, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // char-chunk trigram LM: train AND score read the re-spaced stream
      lmScoreOracleCore(rel = "cjk", trainRel = "cjk",
      lead = "WITH " + cjkCteSql) +
      " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored, " +
      "CAST(SUM(lp) AS BIGINT) AS logprob_micro, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1 ORDER BY doc_id"),
    // Continuous substring scrubbing: three deterministic batches
    // (doc_id % 3, in order) flow through the persisted tile index —
    // each doc is judged against batches <= its own (a tile's first
    // sighting stays clean, later sightings strip). Prefix near-copies
    // planted at +100000 land one batch AFTER their original (100000 ≡ 1
    // mod 3), exercising the cross-batch direction both ways
    Gate("x_stream_substr", (s, d) => {
      val base = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val plants = base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zz"), col("doc_id").cast("string"))
            .as("text"))
      val docs = base.unionByName(plants)
        .withColumn("year", lit(2020L) + col("doc_id") % 3)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ts_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ts_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.TileScrub.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), "doc_id", "text",
          wh, "scrubbed", idxDir, b)
      }
      wh.read("scrubbed").get
        .select(col("doc_id"), col("n_tiles"), col("dup_tiles"),
          col("clean_text"))
        .orderBy(col("doc_id"))
    },
      // streaming-order tile counts: a doc's tile is judged against the
      // cumulative occurrence count through its OWN batch (window over
      // per-batch counts in batch order) — the first-sighting-stays-clean
      // semantics the driver-chained ingest produces
      "WITH corpus AS (SELECT doc_id, text FROM documents " +
      "UNION ALL SELECT doc_id + 100000, text || ' zz' || doc_id " +
      "FROM documents WHERE doc_id % 17 = 0), " +
      "w AS (SELECT doc_id, doc_id % 3 AS b, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM corpus), " +
      "t0 AS (SELECT doc_id, b, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w), " +
      "t AS (SELECT doc_id, b, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t0), " +
      "cb AS (SELECT tile, b, COUNT(*) AS cnt FROM t GROUP BY 1, 2), " +
      "cum AS (SELECT tile, b, SUM(cnt) OVER (PARTITION BY tile " +
      "ORDER BY b ROWS UNBOUNDED PRECEDING) AS ccnt FROM cb), " +
      "k AS (SELECT t.doc_id, COUNT(*) AS n_tiles, " +
      "SUM(CASE WHEN cum.ccnt > 1 THEN 1 ELSE 0 END) AS dup_tiles, " +
      "STRING_AGG(CASE WHEN cum.ccnt = 1 THEN t.tile END, ' ' ORDER BY t.i) AS kept " +
      "FROM t JOIN cum ON t.tile = cum.tile AND t.b = cum.b GROUP BY 1) " +
      "SELECT w.doc_id, CAST(COALESCE(k.n_tiles, 0) AS BIGINT) AS n_tiles, " +
      "CAST(COALESCE(k.dup_tiles, 0) AS BIGINT) AS dup_tiles, " +
      "trim(concat(COALESCE(k.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean_text " +
      "FROM w LEFT JOIN k USING (doc_id) ORDER BY doc_id"),
    // streaming LINE screen over the planted 3-line layout, 3 driver-
    // chained batches (doc_id % 3): a line's first sighting publishes
    // clean; once its cumulative distinct-doc count through a batch
    // exceeds 1, later documents strip it — the oracle replays the
    // per-batch cumulative counts with a window sum
    Gate("x_stream_line", (s, d) => {
      val docs = Tables.load(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(lit("shared-"), (col("doc_id") % 5).cast("string")),
          substring(col("text"), 1, 61),
          concat(lit("tail-"), (col("doc_id") % 97).cast("string")))
          .as("text"),
        (lit(2020L) + col("doc_id") % 3).as("year"))
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ls_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ls_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.LineScrub.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), "doc_id", "text",
          wh, "screened", idxDir, b)
      }
      wh.read("screened").get
        .select(col("doc_id"), col("n_lines"), col("dup_lines"),
          col("dup_ratio"), col("clean_text"))
        .orderBy(col("doc_id"))
    },
      // streaming-order line counts: a doc's line is judged against the
      // cumulative distinct-doc count through its OWN batch (window sum
      // over per-batch counts in batch order)
      "WITH d AS (SELECT doc_id, doc_id % 3 AS batch, " +
      "'shared-' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || " +
      "substr(text, 1, 61) || chr(10) || " +
      "'tail-' || CAST(doc_id % 97 AS VARCHAR) AS text FROM documents), " +
      "l0 AS (SELECT doc_id, batch, string_split(text, chr(10)) AS ls FROM d), " +
      "l AS (SELECT doc_id, batch, unnest(ls) AS line, " +
      "unnest([i for i in range(1, len(ls)+1)]) AS pos FROM l0), " +
      "cb AS (SELECT line, batch, COUNT(DISTINCT doc_id) AS nd " +
      "FROM l GROUP BY 1, 2), " +
      "cum AS (SELECT line, batch, " +
      "SUM(nd) OVER (PARTITION BY line ORDER BY batch) AS ndc FROM cb), " +
      "k AS (SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines, " +
      "CAST(SUM(CASE WHEN cum.ndc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_lines, " +
      "STRING_AGG(CASE WHEN cum.ndc <= 1 THEN l.line END, chr(10) ORDER BY l.pos) AS kept " +
      "FROM l JOIN cum ON l.line = cum.line AND l.batch = cum.batch " +
      "GROUP BY 1) " +
      "SELECT doc_id, n_lines, dup_lines, " +
      "ROUND(dup_lines / (1.0 * n_lines), 6) AS dup_ratio, " +
      "COALESCE(kept, '') AS clean_text FROM k ORDER BY doc_id"),
    // Streaming crawl-ingest URL dedup: 3 driver-chained batches, urls
    // collide across batches (canon key = source x path mod 40, tracker
    // vs fragment noise per parity) — a doc lands iff its canonical's
    // FIRST sighting is (its batch, its id); unparseable always lands
    Gate("x_stream_urls", (s, d) => {
      val id = col("doc_id")
      val docs = Tables.load(s, d, "documents").select(id,
        when(id % 13 === 0, lit("not a url")).otherwise(concat(
          lit("https://"), col("source"), lit(".example.org/p/"),
          (id % 40).cast("string"),
          when(id % 2 === 0, lit("?utm_source=x")).otherwise(lit("#f"))))
          .as("url"),
        (lit(2020L) + id % 3).as("year"))
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ui_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ui_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.UrlIngest.ingestBatch(
          docs.filter(id % 3 === b), "doc_id", "url",
          wh, "novel_urls", idxDir, b)
      }
      wh.read("novel_urls").get
        .select(col("doc_id"), col("canon_url"))
        .orderBy(col("doc_id"))
    },
      // first-sighting semantics: a doc lands iff its canonical's
      // lexicographic-min (batch, id) is its own; the canonical string
      // itself replays trivially (trackers and fragments both vanish)
      "WITH u AS (SELECT doc_id, doc_id % 3 AS batch, " +
      "CASE WHEN doc_id % 13 = 0 THEN NULL " +
      "ELSE 'https://' || source || '.example.org/p/' || " +
      "CAST(doc_id % 40 AS VARCHAR) END AS canon FROM documents), " +
      "k AS (SELECT canon, min(batch * 10000000 + doc_id) AS mk " +
      "FROM u WHERE canon IS NOT NULL GROUP BY 1) " +
      "SELECT u.doc_id, u.canon AS canon_url " +
      "FROM u LEFT JOIN k ON u.canon = k.canon " +
      "WHERE u.canon IS NULL OR u.batch * 10000000 + u.doc_id = k.mk " +
      "ORDER BY u.doc_id"),
    // Gopher repetition screens (Rae 2021 App. A1): documents re-flowed
    // into 3-word lines so the line metrics see real duplicates; tokens
    // spanning a line break keep the \n byte in BOTH engines (the
    // contract is the plain space tokenizer). keep = every metric under
    // its published threshold, voted on the 6-dp-rounded values
    Gate("x_gopher", (s, d) => {
      val ws = split(col("text"), " ")
      val reflowed = Tables.load(s, d, "documents").select(col("doc_id"),
        array_join(transform(
          sequence(lit(1L), ceil(size(ws) / lit(3.0))),
          i => array_join(slice(ws, (i - lit(1L)) * lit(3L) + lit(1L),
            lit(3)), " ")), "\n").as("text"))
      graft.ext.Repetition.gopherFilter(reflowed, "doc_id", "text")
        .withColumn("keep", col("keep").cast("long"))
        .orderBy(col("doc_id"))
    },
      // Gopher repetition metrics over the 3-word-line reflow; one gram
      // relation covers all nine n at once, top gram by (count DESC, gram
      // ASC), keep voted on the rounded fractions
      gopherOracleSql),
    // Stupid-backoff trigram LM (Brants 2007) trained on the lang='en'
    // slice, scoring EVERY document — the CCNet-style quality signal.
    // Per-token log10 scores quantize to exact micro-units, so the whole
    // estimator replays on any engine
    Gate("x_lm_score", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val m = graft.ext.NgramLm.train(docs.filter(col("lang") === "en"), "text")
      graft.ext.NgramLm.score(m, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // stupid-backoff replay: the three count tables, the backoff CASE
      // ladder in the same double op order, floor micro-quantization
      lmScoreOracleCore +
      " SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scored, " +
      "CAST(SUM(lp) AS BIGINT) AS logprob_micro, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1 ORDER BY doc_id"),
    // CCNet head/middle/tail: per-language terciles of the LM score
    // (ties to the smaller doc_id) — the curation split that feeds
    // different mixing weights per quality band
    Gate("x_ppl_buckets", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val m = graft.ext.NgramLm.train(docs.filter(col("lang") === "en"), "text")
      val scored = graft.ext.NgramLm.score(m, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      graft.ext.NgramLm.buckets(scored, "doc_id", "lang", "lm_score")
        .select(col("doc_id"), col("lang"), col("tile"), col("bucket"))
        .orderBy(col("doc_id"))
    },
      // per-language terciles over the same scores; NTILE over the total
      // order (score DESC, doc_id) is engine-independent
      lmScoreOracleCore +
      ", sc2 AS (SELECT doc_id, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1), " +
      "tl AS (SELECT d.doc_id, d.lang, CAST(NTILE(3) OVER (PARTITION BY d.lang " +
      "ORDER BY sc2.lm_score DESC, d.doc_id) AS BIGINT) AS tile " +
      "FROM sc2 JOIN documents d USING (doc_id)) " +
      "SELECT doc_id, lang, tile, CASE WHEN tile = 1 THEN 'head' " +
      "WHEN tile = 2 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM tl ORDER BY doc_id"),
    // Continuous quality screening: three document micro-batches flow
    // through the FROZEN persisted LM + the Gopher vote into a warehouse
    // fact; the curated corpus must equal the batch formulation (which
    // the oracle replays). Years synthesized (2020 + doc_id % 3) so the
    // fact exercises the partitioned append
    Gate("x_stream_quality", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val m = graft.ext.NgramLm.train(docs.filter(col("lang") === "en"), "text")
      val modelDir = TempDirs.scratchDir("graft_qg_model").toString
      graft.streaming.QualityGate.saveModel(m, modelDir)
      val srcDir = TempDirs.scratchDir("graft_qg_src").toString
      docs.select(col("doc_id"), col("text"),
          (lit(2020L) + col("doc_id") % 3).as("year"))
        .repartition(3).write.mode("overwrite").parquet(srcDir)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_qg_wh").toString)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.QualityGate.run(stream, "doc_id", "text",
        modelDir, wh, "curated",
        TempDirs.scratchDir("graft_qg_ck").toString, minScore = -1.3)
      q.processAllAvailable(); q.stop()
      wh.read("curated").get
        .select(col("doc_id"), col("year"), col("lm_score"))
        .orderBy(col("doc_id"))
    },
      // the batch formulation of the stream: LM scores from the shared
      // core, the Gopher vote on the RAW text (single line -> the line
      // screens pass trivially), both filters applied
      lmScoreOracleCore + gopherKeepRawSql +
      ", sc2 AS (SELECT doc_id, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1) " +
      "SELECT d.doc_id, CAST(2020 + d.doc_id % 3 AS BIGINT) AS year, " +
      "sc2.lm_score FROM sc2 JOIN gk USING (doc_id) " +
      "JOIN documents d USING (doc_id) " +
      "WHERE sc2.lm_score >= -1.3::DOUBLE AND gk.keep ORDER BY doc_id"),
    // The full curation funnel in one composition: exact dedup ->
    // Gopher vote -> LM threshold, with per-stage counts AND id
    // checksums so the oracle verifies WHICH documents survived each
    // stage, not just how many
    Gate("x_curate", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val m = graft.ext.NgramLm.train(docs.filter(col("lang") === "en"), "text")
      graft.ext.Curation.curate(docs, "doc_id", "text", m, minScore = -1.3)
        .funnel.orderBy(col("stage_idx"))
    },
      // the funnel composes the shared cores: min-id exact dedup, the raw
      // Gopher vote, the LM scores — four stage rows with id checksums
      lmScoreOracleCore + gopherKeepRawSql +
      ", sc2 AS (SELECT doc_id, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1), " +
      "dd AS (SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY 1), " +
      "s3 AS (SELECT dd.doc_id FROM dd JOIN gk USING (doc_id) WHERE gk.keep), " +
      "s4 AS (SELECT s3.doc_id FROM s3 JOIN sc2 USING (doc_id) " +
      "WHERE sc2.lm_score >= -1.3::DOUBLE) " +
      "SELECT 'input' AS stage, CAST(1 AS BIGINT) AS stage_idx, " +
      "CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS id_sum FROM documents " +
      "UNION ALL SELECT 'exact_dedup', 2, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM dd " +
      "UNION ALL SELECT 'gopher', 3, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s3 " +
      "UNION ALL SELECT 'lm_quality', 4, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s4 " +
      "ORDER BY stage_idx"),
    // The COMPLETE pretraining chain: URL filter -> Gopher lexical ->
    // repetition -> LM -> exact dedup -> substring dedup -> decontam ->
    // mixture -> pack -> shard, 11 funnel rows with id checksums (the
    // export stages checksum the ASSIGNMENT: sum of id*(seq_id+1) /
    // id*(shard+1)). Plants: exact copies at +1e6 (every 23rd doc) die
    // at exact dedup; prefix near-copies at +2e6 (every 31st doc, one
    // appended word) share all full tiles with their original, so BOTH
    // lose them at substring dedup and drop under the 10-word re-screen
    Gate("x_funnel_full", (s, d) => {
      import s.implicits._
      val base = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"), col("lang"))
      val plants1 = base.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("source"), col("lang"))
      val plants2 = base.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz"), col("doc_id").cast("string"))
            .as("text"),
          col("source"), col("lang"))
      val corpus = base.unionByName(plants1).unionByName(plants2)
        .withColumn("url", when(col("doc_id") % 13 === 0, lit("not a url"))
          .otherwise(concat(lit("https://"),
            when(col("doc_id") % 7 === 0, lit("sub.")).otherwise(lit("")),
            col("source"), lit(".example.org/p/"),
            col("doc_id").cast("string"))))
      val bl = Seq("src1.example.org", "src3.example.org").toDF("domain")
      val m = graft.ext.NgramLm.train(base.filter(col("lang") === "en"), "text")
      val bench = base.filter(col("doc_id") % 29 === 0)
      graft.ext.Curation.curateFull(corpus, "doc_id", "text", "url", "source",
        bl, m, minScore = -1.3, bench, "text", benchN = 3,
        mixtureWeights = Seq("src0" -> 0.5, "src2" -> 0.25, "src4" -> 0.125),
        mixtureTotal = 24, packBudget = 512, packBuckets = 16,
        numShards = 8,
        hashOf = c => pmod(c.cast("long") * 2654435761L, lit(4294967296L)),
        lexMinWords = 10L, minCleanWords = 10L)
        .funnel.orderBy(col("stage_idx"))
    },
      // the COMPLETE chain: spiked corpus (exact + prefix-near plants),
      // url/lex/rep/LM verdicts computed per-doc then intersected in stage
      // order, exact dedup and the tile chain over the SURVIVORS, decontam
      // vs the %29 benchmark, then mixture/pack/shard with assignment-
      // binding checksums — every block reuses a proven gate core
      lmScoreOracleCore(rel = "corpus",
      lead = "WITH corpus AS (" +
      "SELECT doc_id, text, source, lang FROM documents " +
      "UNION ALL SELECT doc_id + 1000000, text, source, lang " +
      "FROM documents WHERE doc_id % 23 = 0 " +
      "UNION ALL SELECT doc_id + 2000000, text || ' zz' || doc_id, " +
      "source, lang FROM documents WHERE doc_id % 31 = 0), ") +
      gopherKeepRawSql(rel = "corpus") + (
      // parenthesized so the compiler folds the literals into one constant:
      // unfolded, this ~110-term chain has overflowed scalac's stack
      // lexical verdicts (minWords = 10, same metrics as x_gopher_lex)
      ", lexm AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS wc, " +
      "ROUND(CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') " +
      "AS DOUBLE) / len(ws), 6) AS mwl, " +
      "ROUND((length(text) - length(replace(text, '#', '')) + " +
      "(length(text) - length(replace(text, '...', ''))) / 3) " +
      "/ len(ws), 6) AS swr, " +
      "ROUND(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) " +
      "AS DOUBLE) / len(ws), 6) AS awf, " +
      "CAST(len(list_intersect(list_distinct(list_transform(ws, " +
      "w -> lower(w))), ['the', 'a', 'an', 'of', 'and', 'to', 'in'])) " +
      "AS BIGINT) AS sh " +
      "FROM (SELECT doc_id, text, string_split(text, ' ') AS ws " +
      "FROM corpus) t), " +
      "lexk AS (SELECT doc_id, (wc >= 10 AND wc <= 100000 " +
      "AND mwl >= 3.0 AND mwl <= 10.0 AND swr <= 0.1 AND awf >= 0.8 " +
      "AND sh >= 2) AS keep FROM lexm), " +
      // url block verdicts (same synthetic construction as x_url_filter)
      "u AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN 'not a url' " +
      "ELSE 'https://' || CASE WHEN doc_id % 7 = 0 THEN 'sub.' ELSE '' END " +
      "|| source || '.example.org/p/' || doc_id END AS url FROM corpus), " +
      "bl AS (SELECT * FROM (VALUES ('src1.example.org'), " +
      "('src3.example.org')) t(domain)), " +
      "hh AS (SELECT doc_id, CASE WHEN regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1) = '' " +
      "THEN NULL ELSE lower(regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) END " +
      "AS host FROM u), " +
      "sx AS (SELECT doc_id, unnest([array_to_string(" +
      "list_slice(string_split(host, '.'), i, len(string_split(host, '.'))), " +
      "'.') for i in range(1, len(string_split(host, '.')) + 1)]) AS sfx " +
      "FROM hh WHERE host IS NOT NULL), " +
      "uhit AS (SELECT DISTINCT sx.doc_id FROM sx JOIN bl ON sx.sfx = bl.domain), " +
      // per-doc lm_score
      "sc2 AS (SELECT doc_id, " +
      "CAST(CAST(SUM(lp) AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) AS lm_score " +
      "FROM lps GROUP BY 1), " +
      // the chain: each stage intersects the previous survivors
      "s2 AS (SELECT c.doc_id, c.text, c.source FROM corpus c " +
      "LEFT JOIN uhit ON c.doc_id = uhit.doc_id WHERE uhit.doc_id IS NULL), " +
      "s3 AS (SELECT s2.* FROM s2 JOIN lexk USING (doc_id) WHERE lexk.keep), " +
      "s4 AS (SELECT s3.* FROM s3 JOIN gk USING (doc_id) WHERE gk.keep), " +
      "s5 AS (SELECT s4.* FROM s4 JOIN sc2 USING (doc_id) " +
      "WHERE sc2.lm_score >= -1.3::DOUBLE), " +
      "dd AS (SELECT text, MIN(doc_id) AS doc_id FROM s5 GROUP BY 1), " +
      "s6 AS (SELECT s5.* FROM s5 JOIN dd USING (doc_id)), " +
      // tile chain over the survivors (x_substr_dedup core, rel = s6)
      "w6 AS (SELECT doc_id, " +
      "regexp_split_to_array(trim(text), '\\s+') AS ws FROM s6), " +
      "t60 AS (SELECT doc_id, ws, " +
      "unnest(range(CAST(len(ws)//8 AS BIGINT))) AS i FROM w6), " +
      "t6 AS (SELECT doc_id, i, " +
      "array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS tile FROM t60), " +
      "c6 AS (SELECT tile, COUNT(*) AS cnt FROM t6 GROUP BY 1), " +
      "k6 AS (SELECT t6.doc_id, " +
      "STRING_AGG(CASE WHEN c6.cnt = 1 THEN t6.tile END, ' ' ORDER BY t6.i) AS kept " +
      "FROM t6 JOIN c6 USING (tile) GROUP BY 1), " +
      "cl AS (SELECT w6.doc_id, trim(concat(COALESCE(k6.kept, ''), ' ', " +
      "array_to_string(ws[(CAST(len(ws)//8 AS BIGINT)*8+1):len(ws)], ' '))) AS clean " +
      "FROM w6 LEFT JOIN k6 USING (doc_id)), " +
      "s7 AS (SELECT s6.* FROM s6 JOIN cl USING (doc_id) " +
      "WHERE CASE WHEN cl.clean = '' THEN 0 " +
      "ELSE len(string_split(cl.clean, ' ')) END >= 10), " +
      // decontam vs the %29 benchmark (x_decontam core)
      "btok AS (SELECT doc_id, string_split(text, ' ') w FROM documents " +
      "WHERE doc_id % 29 = 0), " +
      "bg AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(" +
      "[array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) AS g " +
      "FROM btok)), " +
      "stok AS (SELECT doc_id, list_distinct(" +
      "[array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s " +
      "FROM (SELECT doc_id, string_split(text, ' ') w FROM s7)), " +
      "dhit AS (SELECT DISTINCT doc_id FROM " +
      "(SELECT doc_id, unnest(s) AS g FROM stok) t JOIN bg USING (g)), " +
      "s8 AS (SELECT s7.* FROM s7 LEFT JOIN dhit USING (doc_id) " +
      "WHERE dhit.doc_id IS NULL), " +
      // mixture (x_mixture core over the survivors)
      "r9 AS (SELECT doc_id, text, source, " +
      "ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank " +
      "FROM s8 WHERE source IN ('src0', 'src2', 'src4')), " +
      "s9 AS (SELECT doc_id, text, source FROM r9 " +
      "WHERE rank <= CAST(FLOOR(CASE source WHEN 'src0' THEN 0.5 " +
      "WHEN 'src2' THEN 0.25 ELSE 0.125 END * 24) AS BIGINT)), " +
      // pack (x_pack core) and shard (x_shard core) over the selection
      "p0 AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, " +
      "len(string_split(text, ' ')) AS n_tokens FROM s9), " +
      "pk AS (SELECT doc_id, (SUM(n_tokens) OVER " +
      "(ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 " +
      "AS seq_id FROM p0), " +
      "shd AS (SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 " +
      "AS shard FROM s9) " +
      "SELECT 'input' AS stage, CAST(1 AS BIGINT) AS stage_idx, " +
      "CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS checksum FROM corpus " +
      "UNION ALL SELECT 'url_filter', 2, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s2 " +
      "UNION ALL SELECT 'gopher_lexical', 3, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s3 " +
      "UNION ALL SELECT 'gopher_repetition', 4, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s4 " +
      "UNION ALL SELECT 'lm_quality', 5, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s5 " +
      "UNION ALL SELECT 'exact_dedup', 6, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s6 " +
      "UNION ALL SELECT 'substr_dedup', 7, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s7 " +
      "UNION ALL SELECT 'decontam', 8, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s8 " +
      "UNION ALL SELECT 'mixture', 9, CAST(COUNT(*) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s9 " +
      "UNION ALL SELECT 'pack', 10, CAST(COUNT(DISTINCT seq_id) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id * (seq_id + 1)), 0) AS BIGINT) FROM pk " +
      "UNION ALL SELECT 'shard', 11, CAST(COUNT(DISTINCT shard) AS BIGINT), " +
      "CAST(COALESCE(SUM(doc_id * (shard + 1)), 0) AS BIGINT) FROM shd " +
      "ORDER BY stage_idx")),
    // Gopher's lexical rules (the non-repetition half): surface stats +
    // the published thresholds; minWords dialed to 10 so the 10-99-word
    // corpus exercises both verdicts
    Gate("x_gopher_lex", (s, d) =>
      graft.ext.QualityRules.gopherLexical(Tables.load(s, d, "documents"),
        "doc_id", "text", minWords = 10L)
        .withColumn("keep", col("keep").cast("long"))
        .orderBy(col("doc_id")),
      // lexical rules: list folds for the sums, same rounded-ratio vote
      "WITH m AS (SELECT doc_id, " +
      "CAST(len(ws) AS BIGINT) AS word_count, " +
      "ROUND(CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') " +
      "AS DOUBLE) / len(ws), 6) AS mean_word_len, " +
      "ROUND((length(text) - length(replace(text, '#', '')) + " +
      "(length(text) - length(replace(text, '...', ''))) / 3) " +
      "/ len(ws), 6) AS symbol_word_ratio, " +
      "ROUND(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) " +
      "AS DOUBLE) / len(ws), 6) AS alpha_word_frac, " +
      "CAST(len(list_intersect(list_distinct(list_transform(ws, " +
      "w -> lower(w))), ['the', 'a', 'an', 'of', 'and', 'to', 'in'])) " +
      "AS BIGINT) AS stopword_hits " +
      "FROM (SELECT doc_id, text, string_split(text, ' ') AS ws " +
      "FROM documents) t) " +
      "SELECT doc_id, word_count, mean_word_len, symbol_word_ratio, " +
      "alpha_word_frac, stopword_hits, " +
      "CAST(CASE WHEN word_count >= 10 AND word_count <= 100000 " +
      "AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 " +
      "AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8 " +
      "AND stopword_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM m ORDER BY doc_id"),
    // URL blocklist screen: deterministic synthetic URLs over the source
    // column (every 7th doc gets a subdomain, every 13th an unparseable
    // string); the suffix-chain EQUI-join blocks listed domains and
    // their subdomains, never lookalikes, never a LIKE cross join
    Gate("x_url_filter", (s, d) => {
      import s.implicits._
      val docs = Tables.load(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit("not a url"))
          .otherwise(concat(lit("https://"),
            when(col("doc_id") % 7 === 0, lit("sub.")).otherwise(lit("")),
            col("source"), lit(".example.org/p/"),
            col("doc_id").cast("string"))).as("url"))
      val bl = Seq("src1.example.org", "src3.example.org").toDF("domain")
      graft.ext.UrlFilter.annotateBlocked(docs, "doc_id", "url", bl)
        .select(col("doc_id"), col("host"), col("blocked").cast("long")
          .as("blocked"))
        .orderBy(col("doc_id"))
    },
      // same synthetic URLs; the suffix chain is a list comprehension and
      // the block decision the same equi-join against the VALUES blocklist
      "WITH u AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN 'not a url' " +
      "ELSE 'https://' || CASE WHEN doc_id % 7 = 0 THEN 'sub.' ELSE '' END " +
      "|| source || '.example.org/p/' || doc_id END AS url FROM documents), " +
      "bl AS (SELECT * FROM (VALUES ('src1.example.org'), " +
      "('src3.example.org')) t(domain)), " +
      "h AS (SELECT doc_id, CASE WHEN regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1) = '' " +
      "THEN NULL ELSE lower(regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) END " +
      "AS host FROM u), " +
      "sx AS (SELECT doc_id, unnest([array_to_string(" +
      "list_slice(string_split(host, '.'), i, len(string_split(host, '.'))), " +
      "'.') for i in range(1, len(string_split(host, '.')) + 1)]) AS sfx " +
      "FROM h WHERE host IS NOT NULL), " +
      "hit AS (SELECT DISTINCT sx.doc_id FROM sx JOIN bl ON sx.sfx = bl.domain) " +
      "SELECT h.doc_id, h.host, CAST(CASE WHEN hit.doc_id IS NOT NULL " +
      "THEN 1 ELSE 0 END AS BIGINT) AS blocked " +
      "FROM h LEFT JOIN hit ON h.doc_id = hit.doc_id ORDER BY h.doc_id"),
    // Crawl-level canonical-URL dedup: every degree of freedom a crawler
    // sees is planted — scheme/host case, default vs exotic port,
    // tracking params in varying order, trailing empty param, fragment —
    // and the canonical form must collapse them so min-id keeps exactly
    // one doc per (source, path, surviving-port) group
    Gate("x_url_canon", (s, d) => {
      val id = col("doc_id")
      val docs = Tables.load(s, d, "documents").select(id,
        when(id % 13 === 0, lit("not a url")).otherwise(concat(
          when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(id % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
          col("source"), lit(".Example.org"),
          when(id % 5 === 0, lit(":443"))
            .when(id % 5 === 1, lit(":8080")).otherwise(lit("")),
          lit("/p/"), (id % 40).cast("string"),
          when(id % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
            .otherwise(lit("?b=2&a=1&gclid=XYZ&")),
          when(id % 4 === 0, lit("#sec")).otherwise(lit("")))).as("url"))
      graft.ext.UrlFilter.annotateUrlDup(docs, "doc_id", "url")
        .select(col("doc_id"), col("canon_url"),
          col("kept").cast("long").as("kept"))
        .orderBy(col("doc_id"))
    },
      // same planted messy URLs; the canonical algebra (case folds,
      // default-port strip, tracking-param filter, param sort, fragment
      // drop) replays step for step, then min-id per canonical group
      "WITH u AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN 'not a url' ELSE " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) || " +
      "source || '.Example.org' || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ':443' " +
      "WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) || " +
      "'/p/' || CAST(doc_id % 40 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' " +
      "ELSE '?b=2&a=1&gclid=XYZ&' END) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END) END AS url " +
      "FROM documents), " +
      "c AS (SELECT doc_id, " +
      "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) " +
      "AS scheme, " +
      "CASE WHEN regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1) = '' " +
      "THEN NULL ELSE lower(regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) END " +
      "AS host, " +
      "regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/:?#]+:([0-9]+)', 1) " +
      "AS port, " +
      "regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path, " +
      "regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS q FROM u), " +
      "k AS (SELECT doc_id, scheme, host, port, path, " +
      "list_sort([p for p in string_split(q, '&') if len(p) > 0 " +
      "and not starts_with(lower(split_part(p, '=', 1)), 'utm_') " +
      "and lower(split_part(p, '=', 1)) not in " +
      "('gclid','fbclid','msclkid','mc_eid','igshid')]) AS kq FROM c), " +
      "canon AS (SELECT doc_id, CASE WHEN host IS NULL THEN NULL ELSE " +
      "scheme || '://' || host || " +
      "(CASE WHEN port = '' THEN '' " +
      "WHEN scheme = 'http' AND port = '80' THEN '' " +
      "WHEN scheme = 'https' AND port = '443' THEN '' " +
      "ELSE ':' || port END) || " +
      "(CASE WHEN path = '' THEN '/' ELSE path END) || " +
      "(CASE WHEN len(kq) > 0 THEN '?' || array_to_string(kq, '&') " +
      "ELSE '' END) END AS canon_url FROM k), " +
      "kp AS (SELECT canon_url, min(doc_id) AS keep_id FROM canon " +
      "WHERE canon_url IS NOT NULL GROUP BY canon_url) " +
      "SELECT c2.doc_id, c2.canon_url, " +
      "CAST(CASE WHEN c2.canon_url IS NULL OR c2.doc_id = kp.keep_id " +
      "THEN 1 ELSE 0 END AS BIGINT) AS kept " +
      "FROM canon c2 LEFT JOIN kp ON c2.canon_url = kp.canon_url " +
      "ORDER BY c2.doc_id"),
    // Per-DOMAIN screen: sub.* hosts carry only flagged docs (blocked by
    // the flag-ratio rule), plain hosts split by their exact integer
    // mean-score compare; unparseable hosts are never blocked
    Gate("x_domain_screen", (s, d) => {
      val id = col("doc_id")
      val docs = Tables.load(s, d, "documents").select(id,
        when(id % 13 === 0, lit("not a url")).otherwise(concat(
          lit("https://"),
          when(id % 7 === 0, lit("sub.")).otherwise(lit("")),
          col("source"), lit(".example.org/p/"),
          id.cast("string"))).as("url"),
        (((id * 37) % 1000) * 1000).as("score_micro"),
        (id % 7 === 0).as("flagged"))
      graft.ext.UrlFilter.annotateDomainScreen(docs, "doc_id", "url",
        "score_micro", "flagged",
        minMeanScoreMicro = 480000L, maxFlagMicro = 500000L)
        .select(col("doc_id"), col("host"),
          col("domain_blocked").cast("long").as("domain_blocked"))
        .orderBy(col("doc_id"))
    },
      // same planted hosts/scores/flags; both block rules replay as exact
      // integer cross-multiplications and NULL hosts never match the join
      "WITH u AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 13 = 0 THEN 'not a url' " +
      "ELSE 'https://' || CASE WHEN doc_id % 7 = 0 THEN 'sub.' ELSE '' END " +
      "|| source || '.example.org/p/' || doc_id END AS url, " +
      "((doc_id * 37) % 1000) * 1000 AS score_micro, " +
      "doc_id % 7 = 0 AS flagged FROM documents), " +
      "h AS (SELECT doc_id, CASE WHEN regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1) = '' " +
      "THEN NULL ELSE lower(regexp_extract(url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1)) END " +
      "AS host, score_micro, flagged FROM u), " +
      "p AS (SELECT host, COUNT(*) AS n, SUM(score_micro) AS ss, " +
      "SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS nf FROM h " +
      "WHERE host IS NOT NULL GROUP BY 1), " +
      "b AS (SELECT host, (ss < n * 480000 OR nf * 1000000 > n * 500000) " +
      "AS blocked FROM p) " +
      "SELECT h.doc_id, h.host, CAST(CASE WHEN COALESCE(b.blocked, FALSE) " +
      "THEN 1 ELSE 0 END AS BIGINT) AS domain_blocked " +
      "FROM h LEFT JOIN b ON h.host = b.host ORDER BY h.doc_id"),
    // Luhn-validated card masking: each doc gets a planted 16-digit
    // number whose check digit is CORRECT on even ids and off-by-one on
    // odd ids — the masker must fire on exactly the valid half (a bare
    // \d{13,19} regex would mask both). Check-digit arithmetic is
    // exact-integer on both engines
    Gate("x_pii_luhn", (s, d) => {
      val base = lpad(col("doc_id").cast("string"), 15, "7")
      val digits = split(base, "")
      val sum15 = aggregate(
        transform(sequence(lit(1), lit(15)), i => {
          val dg = element_at(digits, i).cast("int")
          when(((lit(15) - i) % 2) === 0,
            when(dg * 2 > 9, dg * 2 - 9).otherwise(dg * 2)).otherwise(dg)
        }), lit(0), (acc, x) => acc + x)
      val good = (lit(10) - sum15 % 10) % 10
      val check = when(col("doc_id") % 2 === 0, good)
        .otherwise((good + 1) % 10)
      val card = concat(base, check.cast("string"))
      // formatted-PAN fixtures: ids ≡ 2 (mod 4) plant the 4-4-4-4
      // SPACED form (the dominant real-world web shape), ids ≡ 3 the
      // dashed form with a bad check digit — the masker must fire on
      // the whole formatted span for the former and leave the latter
      // byte-identical
      def grp(i: Int) = substring(card, i, 4)
      val spaced = concat_ws(" ", grp(1), grp(5), grp(9), grp(13))
      val dashed = concat_ws("-", grp(1), grp(5), grp(9), grp(13))
      val planted = when(col("doc_id") % 4 === 2, spaced)
        .when(col("doc_id") % 4 === 3, dashed)
        .otherwise(card)
      val t2 = concat(col("text"), lit(" "), planted)
      val masked = graft.ext.Pii.maskCards(t2)
      val noTok = regexp_replace(masked, "<CARD>", "")
      Tables.load(s, d, "documents").select(col("doc_id"),
          ((length(masked) - length(noTok)) / 6).cast("long").as("n_valid"),
          masked.as("masked"))
        .orderBy(col("doc_id"))
    },
      // the same planted card and check-digit sum; masking replays as one
      // literal replace (whole formatted span) because the corpus
      // contains no other digits
      "WITH b AS (SELECT doc_id, text, " +
      "lpad(CAST(doc_id AS VARCHAR), 15, '7') AS b15 FROM documents), " +
      "s AS (SELECT doc_id, text, b15, list_aggregate([" +
      "CASE WHEN (15 - i) % 2 = 0 THEN " +
      "CASE WHEN CAST(b15[i] AS INT) * 2 > 9 THEN CAST(b15[i] AS INT) * 2 - 9 " +
      "ELSE CAST(b15[i] AS INT) * 2 END ELSE CAST(b15[i] AS INT) END " +
      "for i in range(1, 16)], 'sum') AS s15 FROM b), " +
      "c AS (SELECT doc_id, text, b15 || CAST(CASE WHEN doc_id % 2 = 0 " +
      "THEN (10 - s15 % 10) % 10 " +
      "ELSE ((10 - s15 % 10) % 10 + 1) % 10 END AS VARCHAR) AS card, " +
      "doc_id % 2 = 0 AS v FROM s), " +
      "f AS (SELECT doc_id, text, v, CASE " +
      "WHEN doc_id % 4 = 2 THEN substr(card, 1, 4) || ' ' || " +
      "substr(card, 5, 4) || ' ' || substr(card, 9, 4) || ' ' || " +
      "substr(card, 13, 4) " +
      "WHEN doc_id % 4 = 3 THEN substr(card, 1, 4) || '-' || " +
      "substr(card, 5, 4) || '-' || substr(card, 9, 4) || '-' || " +
      "substr(card, 13, 4) " +
      "ELSE card END AS planted FROM c) " +
      "SELECT doc_id, CAST(CASE WHEN v THEN 1 ELSE 0 END AS BIGINT) AS n_valid, " +
      "CASE WHEN v THEN replace(text || ' ' || planted, planted, '<CARD>') " +
      "ELSE text || ' ' || planted END AS masked " +
      "FROM f ORDER BY doc_id"),
    // The full web-text PII scrub (emails -> phones -> Luhn cards ->
    // IPv4, the order that composes safely) over planted spikes: a
    // per-doc email, a bad email shape that must survive, an
    // international phone on ids % 3 = 0 vs an out-of-contract
    // domestic form, the x_pii_luhn arithmetic card (valid on evens),
    // an octet-valid IP, and the octet-invalid 999.1.2.3 that must
    // survive — the corpus text itself is digit-free, so the oracle is
    // a pure reconstruction
    Gate("x_pii_scrub", (s, d) => {
      val base = lpad(col("doc_id").cast("string"), 15, "7")
      val digits = split(base, "")
      val sum15 = aggregate(
        transform(sequence(lit(1), lit(15)), i => {
          val dg = element_at(digits, i).cast("int")
          when(((lit(15) - i) % 2) === 0,
            when(dg * 2 > 9, dg * 2 - 9).otherwise(dg * 2)).otherwise(dg)
        }), lit(0), (acc, x) => acc + x)
      val good = (lit(10) - sum15 % 10) % 10
      val check = when(col("doc_id") % 2 === 0, good)
        .otherwise((good + 1) % 10)
      val card = concat(base, check.cast("string"))
      val email = concat(lit("user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.com"))
      val phone = when(col("doc_id") % 3 === 0,
        concat(lit("+41 79 "), ((col("doc_id") % 90) + 10).cast("string"),
          lit(" 45 67")))
        .otherwise(lit("044 123 45 67"))
      val ip = concat(lit("10."), (col("doc_id") % 256).cast("string"),
        lit(".0.1"))
      val t2 = concat_ws(" ", col("text"), email, lit("user@@host"),
        phone, lit("ref"), card, lit("ip"), ip, lit("999.1.2.3"))
      Tables.load(s, d, "documents").select(col("doc_id"),
          graft.ext.Pii.scrub(t2).as("scrubbed"))
        .orderBy(col("doc_id"))
    },
      // pure reconstruction: every planted spike's mask decision is known
      // from the arithmetic (card validity from the Luhn check digit,
      // phone form from doc_id % 3), and the corpus text is digit-free
      "WITH b AS (SELECT doc_id, text, " +
      "lpad(CAST(doc_id AS VARCHAR), 15, '7') AS b15 FROM documents), " +
      "s AS (SELECT doc_id, text, b15, list_aggregate([" +
      "CASE WHEN (15 - i) % 2 = 0 THEN " +
      "CASE WHEN CAST(b15[i] AS INT) * 2 > 9 THEN CAST(b15[i] AS INT) * 2 - 9 " +
      "ELSE CAST(b15[i] AS INT) * 2 END ELSE CAST(b15[i] AS INT) END " +
      "for i in range(1, 16)], 'sum') AS s15 FROM b), " +
      "c AS (SELECT doc_id, text, b15 || CAST(CASE WHEN doc_id % 2 = 0 " +
      "THEN (10 - s15 % 10) % 10 " +
      "ELSE ((10 - s15 % 10) % 10 + 1) % 10 END AS VARCHAR) AS card, " +
      "doc_id % 2 = 0 AS v FROM s) " +
      "SELECT doc_id, text || ' <EMAIL> user@@host ' || " +
      "CASE WHEN doc_id % 3 = 0 THEN '<PHONE>' ELSE '044 123 45 67' END || " +
      "' ref ' || CASE WHEN v THEN '<CARD>' ELSE card END || " +
      "' ip <IP> 999.1.2.3' AS scrubbed " +
      "FROM c ORDER BY doc_id"),
    // Corpus drift (PSI) between two snapshots: even vs odd docs play
    // the before/after corpora; add-one smoothing over the union vocab,
    // per-word terms floor-quantized to picos so ranking and totals
    // replay exactly
    Gate("x_drift", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.ext.Drift.wordPsi(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", k = 20)
    },
      // the same smoothed PSI terms in the operator's float op order
      "WITH c AS (SELECT w, CAST(SUM(a) AS BIGINT) AS c_a, " +
      "CAST(SUM(b) AS BIGINT) AS c_b FROM (" +
      "SELECT unnest(string_split(text, ' ')) AS w, 1 AS a, 0 AS b " +
      "FROM documents WHERE doc_id % 2 = 0 UNION ALL " +
      "SELECT unnest(string_split(text, ' ')), 0, 1 " +
      "FROM documents WHERE doc_id % 2 = 1) t GROUP BY 1), " +
      "tt AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, " +
      "CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM c) " +
      "SELECT w AS word, c_a, c_b, CAST(FLOOR(" +
      "(CAST(c_a + 1 AS DOUBLE) / (na + v) - " +
      "CAST(c_b + 1 AS DOUBLE) / (nb + v)) * " +
      "LN(CAST(c_a + 1 AS DOUBLE) / (na + v) / " +
      "(CAST(c_b + 1 AS DOUBLE) / (nb + v))) * 1e12) AS BIGINT) " +
      "AS contrib_pico FROM c CROSS JOIN tt " +
      "ORDER BY contrib_pico DESC, word LIMIT 20"),
    // the bounded complement: Jensen-Shannon drivers over the same
    // even/odd split (total <= ln 2 -> thresholds transfer across
    // corpus sizes, unlike PSI's unbounded terms)
    Gate("x_drift_js", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.ext.Drift.wordJsd(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", k = 20)
    },
      // same counts chain, Jensen-Shannon pointwise terms in the
      // operator's float op order: ((pa*ln(pa/m) + pb*ln(pb/m)) * 0.5)
      // with m = (pa+pb)/2, floor-quantized to picos
      "WITH c AS (SELECT w, CAST(SUM(a) AS BIGINT) AS c_a, " +
      "CAST(SUM(b) AS BIGINT) AS c_b FROM (" +
      "SELECT unnest(string_split(text, ' ')) AS w, 1 AS a, 0 AS b " +
      "FROM documents WHERE doc_id % 2 = 0 UNION ALL " +
      "SELECT unnest(string_split(text, ' ')), 0, 1 " +
      "FROM documents WHERE doc_id % 2 = 1) t GROUP BY 1), " +
      "tt AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, " +
      "CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM c), " +
      "p AS (SELECT w, c_a, c_b, " +
      "CAST(c_a + 1 AS DOUBLE) / (na + v) AS pa, " +
      "CAST(c_b + 1 AS DOUBLE) / (nb + v) AS pb " +
      "FROM c CROSS JOIN tt) " +
      "SELECT w AS word, c_a, c_b, CAST(FLOOR(" +
      "(pa * LN(pa / ((pa + pb) / 2)) + pb * LN(pb / ((pa + pb) / 2))) " +
      "* CAST(0.5 AS DOUBLE) * 1e12) AS BIGINT) AS contrib_pico " +
      "FROM p ORDER BY contrib_pico DESC, word LIMIT 20"),
    // drift time series: each synthetic period (doc_id % 3) PSI'd
    // against the src0 reference slice — one total row per period, the
    // monitoring loop form
    Gate("x_drift_period", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.ext.Drift.wordPsiByPeriod(
        docs.filter(col("source") === "src0"),
        docs.withColumn("period", col("doc_id") % 3),
        "text", "period")
    },
      // per-period replay of the same smoothing/pico arithmetic: ref
      // counts expand over the period list, full-outer joins bring in
      // period-only words, totals group per period
      "WITH refc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_a " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents " +
      "WHERE source = 'src0') GROUP BY 1), " +
      "na AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na FROM refc), " +
      "curc AS (SELECT p, w, CAST(COUNT(*) AS BIGINT) AS c_b FROM " +
      "(SELECT doc_id % 3 AS p, unnest(string_split(text, ' ')) AS w " +
      "FROM documents) GROUP BY 1, 2), " +
      "pd AS (SELECT DISTINCT doc_id % 3 AS p FROM documents), " +
      "ex AS (SELECT pd.p, refc.w, refc.c_a FROM refc CROSS JOIN pd), " +
      "j AS (SELECT COALESCE(ex.p, curc.p) AS p, COALESCE(ex.w, curc.w) AS w, " +
      "COALESCE(ex.c_a, 0) AS c_a, COALESCE(curc.c_b, 0) AS c_b " +
      "FROM ex FULL OUTER JOIN curc ON ex.p = curc.p AND ex.w = curc.w), " +
      "totp AS (SELECT p, CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v " +
      "FROM j GROUP BY 1), " +
      "t AS (SELECT j.p, CAST(FLOOR(" +
      "(CAST(j.c_a + 1 AS DOUBLE) / (na.na + totp.v) - " +
      "CAST(j.c_b + 1 AS DOUBLE) / (totp.nb + totp.v)) * " +
      "LN(CAST(j.c_a + 1 AS DOUBLE) / (na.na + totp.v) / " +
      "(CAST(j.c_b + 1 AS DOUBLE) / (totp.nb + totp.v))) * 1e12) AS BIGINT) AS c " +
      "FROM j JOIN totp ON j.p = totp.p CROSS JOIN na) " +
      "SELECT t.p AS period, CAST(totp.nb AS BIGINT) AS n_tokens, " +
      "CAST(totp.v AS BIGINT) AS vocab_union, " +
      "CAST(SUM(t.c) AS BIGINT) AS psi_pico " +
      "FROM t JOIN totp ON t.p = totp.p GROUP BY 1, totp.nb, totp.v " +
      "ORDER BY 1"),
    // the STREAMING monitoring loop: three driver-chained batches PSI'd
    // against the frozen persisted src0 reference, one fact row each —
    // the series matches the batch wordPsiByPeriod math exactly
    Gate("x_stream_drift", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val refDir = TempDirs.scratchDir("graft_dm_ref").toString
      graft.streaming.DriftMonitor.saveReference(
        docs.filter(col("source") === "src0"), "text", refDir)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_dm_wh").toString)
      (0L to 2L).foreach { b =>
        graft.streaming.DriftMonitor.ingestBatch(
          docs.filter(col("doc_id") % 3 === b)
            .withColumn("year", lit(2020L) + lit(b)),
          "text", refDir, wh, "drift", b)
      }
      wh.read("drift").get
        .select(col("batch"), col("year"), col("n_tokens"),
          col("vocab_union"), col("psi_pico"))
        .orderBy(col("batch"))
    },
      // same per-period math, batch playing the period; year rides along
      "WITH refc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_a " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents " +
      "WHERE source = 'src0') GROUP BY 1), " +
      "na AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na FROM refc), " +
      "curc AS (SELECT p, w, CAST(COUNT(*) AS BIGINT) AS c_b FROM " +
      "(SELECT doc_id % 3 AS p, unnest(string_split(text, ' ')) AS w " +
      "FROM documents) GROUP BY 1, 2), " +
      "pd AS (SELECT DISTINCT doc_id % 3 AS p FROM documents), " +
      "ex AS (SELECT pd.p, refc.w, refc.c_a FROM refc CROSS JOIN pd), " +
      "j AS (SELECT COALESCE(ex.p, curc.p) AS p, COALESCE(ex.w, curc.w) AS w, " +
      "COALESCE(ex.c_a, 0) AS c_a, COALESCE(curc.c_b, 0) AS c_b " +
      "FROM ex FULL OUTER JOIN curc ON ex.p = curc.p AND ex.w = curc.w), " +
      "totp AS (SELECT p, CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v " +
      "FROM j GROUP BY 1), " +
      "t AS (SELECT j.p, CAST(FLOOR(" +
      "(CAST(j.c_a + 1 AS DOUBLE) / (na.na + totp.v) - " +
      "CAST(j.c_b + 1 AS DOUBLE) / (totp.nb + totp.v)) * " +
      "LN(CAST(j.c_a + 1 AS DOUBLE) / (na.na + totp.v) / " +
      "(CAST(j.c_b + 1 AS DOUBLE) / (totp.nb + totp.v))) * 1e12) AS BIGINT) AS c " +
      "FROM j JOIN totp ON j.p = totp.p CROSS JOIN na) " +
      "SELECT t.p AS batch, CAST(2020 + t.p AS BIGINT) AS year, " +
      "CAST(totp.nb AS BIGINT) AS n_tokens, " +
      "CAST(totp.v AS BIGINT) AS vocab_union, " +
      "CAST(SUM(t.c) AS BIGINT) AS psi_pico " +
      "FROM t JOIN totp ON t.p = totp.p GROUP BY 1, totp.nb, totp.v " +
      "ORDER BY 1"),
    // numeric drift: o_totalprice PSI over 10 shared-edge buckets,
    // even vs odd order keys playing the two snapshots
    Gate("x_drift_num", (s, d) => {
      val o = ord(s, d)
      graft.ext.Drift.numericPsi(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 === 1), "o_totalprice", bins = 10)
    },
      // fixed-width shared-edge buckets, same smoothed pico terms
      "WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, " +
      "o_orderkey % 2 AS sd FROM orders), " +
      "r AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM s), " +
      "c AS (SELECT CASE WHEN hi = lo THEN 0 ELSE LEAST(9, " +
      "CAST(FLOOR((x - lo) / (hi - lo) * 10) AS INT)) END AS bin, " +
      "CAST(SUM(CASE WHEN sd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a, " +
      "CAST(SUM(CASE WHEN sd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b " +
      "FROM s CROSS JOIN r GROUP BY 1), " +
      "tt AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na, " +
      "CAST(SUM(c_b) AS BIGINT) AS nb FROM c) " +
      "SELECT CAST(bin AS BIGINT) AS bin, c_a, c_b, CAST(FLOOR(" +
      "(CAST(c_a + 1 AS DOUBLE) / (na + 10) - " +
      "CAST(c_b + 1 AS DOUBLE) / (nb + 10)) * " +
      "LN(CAST(c_a + 1 AS DOUBLE) / (na + 10) / " +
      "(CAST(c_b + 1 AS DOUBLE) / (nb + 10))) * 1e12) AS BIGINT) " +
      "AS contrib_pico FROM c CROSS JOIN tt ORDER BY bin"),
    // LR quality classifier (the GPT-3 "trusted vs web" filter): 8
    // full-batch GD steps over three exact-ratio text features, label =
    // lang='en'; nano-quantized gradients make the trained weights — and
    // therefore every score — identical on any engine
    Gate("x_quality_lr", (s, d) => {
      val toks = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.defaultStopwords.map(lit): _*)
      val feats = Tables.load(s, d, "documents").select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y"),
        (size(filter(toks, t => array_contains(sw, t))).cast("double") /
          size(toks)).as("f_stop"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("f_ttr"),
        (length(col("text")).cast("double") / (size(toks) * lit(10)))
          .as("f_len"))
      val fcols = Seq("f_stop", "f_ttr", "f_len")
      val w = graft.ext.LogReg.train(feats, fcols, "y", iters = 8, lr = 1.0)
      graft.ext.LogReg.predict(feats, fcols, w)
        .select(col("doc_id"), col("score_micro"),
          (col("score_micro") >= 500000L).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    },
      // 8 unrolled GD steps then the final sigmoid, all in the operator's
      // exact float op order
      lrOracleSql(8)),
    // fastText-style CONTENT classifier: the same replayable LR trainer
    // over per-doc hashed-bigram features (md5 signed buckets, bigram-
    // count-normalized) instead of 3 shape features — fixed width B
    // however large the corpus vocabulary, one native bigram pass + one
    // hash-agg to featurize. Oracle replays the hash draw, all 4 GD
    // steps over 8 features, and the sigmoid scoring
    Gate("x_quality_hashlr", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val fcols = (0 until 8).map(b => s"f$b")
      val feats = graft.ext.FeatureHash.textBigramFeatures(
        docs, "doc_id", "text", buckets = 8)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("double").as("y")), "doc_id")
      val w = graft.ext.LogReg.train(feats, fcols, "y", iters = 4, lr = 1.0)
      graft.ext.LogReg.predict(feats, fcols, w)
        .select(col("doc_id"), col("score_micro"),
          (col("score_micro") >= 500000L).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    },
      // hashed-bigram content classifier: md5 signed-bucket features
      // (normalized), 4 GD steps over 8 features, sigmoid scoring
      hashLrOracleSql(4, 8)),
    // Feature-relevance scan over the SAME hashed features: per-bucket
    // mutual information with the label from one hash-agg over the
    // feature-exploded frame, every 2x2 cell term nano-quantized before
    // the order-free sum — which buckets carry signal, before training
    Gate("x_feature_mi", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val feats = graft.ext.FeatureHash.textBigramFeatures(
        docs, "doc_id", "text", buckets = 8)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("double").as("y")), "doc_id")
      graft.ext.Eval.binaryMutualInfo(feats,
        (0 until 8).map(b => s"f$b"), "y")
        .orderBy(col("feature"))
    },
      // per-bucket 2x2 MI over the same features, nano-floored ln terms
      featureMiOracleSql(8)),
    // Classifier evaluation over the SAME trained screen: exact
    // Mann-Whitney AUC (distributed bucketed rank prefix — no global
    // window) + threshold confusion rates, one measurement row. The
    // oracle replays training, scoring, ranking, and every division
    // shape.
    Gate("x_quality_eval", (s, d) => {
      val toks = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.defaultStopwords.map(lit): _*)
      val feats = Tables.load(s, d, "documents").select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y"),
        (size(filter(toks, t => array_contains(sw, t))).cast("double") /
          size(toks)).as("f_stop"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("f_ttr"),
        (length(col("text")).cast("double") / (size(toks) * lit(10)))
          .as("f_len"))
      val fcols = Seq("f_stop", "f_ttr", "f_len")
      val w = graft.ext.LogReg.train(feats, fcols, "y", iters = 8, lr = 1.0)
      val scored = graft.ext.LogReg.predict(feats, fcols, w)
        .select(col("score_micro"), col("y"))
      graft.ext.Eval.rocAuc(scored, "score_micro", "y")
        .crossJoin(graft.ext.Eval.binaryConfusion(scored, "score_micro", "y",
          500000L))
    },
      lrEvalOracleSql(8, 500000L)),
    // Average precision of the same screen — the rare-positive-honest
    // metric: step-wise PR area over descending distinct thresholds,
    // micro-quantized per-threshold precision, exact long numerator
    Gate("x_quality_ap", (s, d) => {
      val toks = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.defaultStopwords.map(lit): _*)
      val feats = Tables.load(s, d, "documents").select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y"),
        (size(filter(toks, t => array_contains(sw, t))).cast("double") /
          size(toks)).as("f_stop"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("f_ttr"),
        (length(col("text")).cast("double") / (size(toks) * lit(10)))
          .as("f_len"))
      val fcols = Seq("f_stop", "f_ttr", "f_len")
      val w = graft.ext.LogReg.train(feats, fcols, "y", iters = 8, lr = 1.0)
      val scored = graft.ext.LogReg.predict(feats, fcols, w)
        .select(col("score_micro"), col("y"))
      graft.ext.Eval.averagePrecision(scored, "score_micro", "y")
    },
      lrApOracleSql(8)),
    // Reliability diagram of the same screen: per probability bin,
    // exact micro-sum mean prediction vs realized positive rate
    Gate("x_quality_calib", (s, d) => {
      val toks = split(col("text"), " ")
      val sw = array(graft.ext.TextAnalysis.defaultStopwords.map(lit): _*)
      val feats = Tables.load(s, d, "documents").select(col("doc_id"),
        (col("lang") === "en").cast("double").as("y"),
        (size(filter(toks, t => array_contains(sw, t))).cast("double") /
          size(toks)).as("f_stop"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("f_ttr"),
        (length(col("text")).cast("double") / (size(toks) * lit(10)))
          .as("f_len"))
      val fcols = Seq("f_stop", "f_ttr", "f_len")
      val w = graft.ext.LogReg.train(feats, fcols, "y", iters = 8, lr = 1.0)
      val scored = graft.ext.LogReg.predict(feats, fcols, w)
        .select(col("score_micro"), col("y"))
      graft.ext.Eval.calibrationBins(scored, "score_micro", "y", bins = 100)
        .orderBy(col("bin"))
    }, {
      val (ctes, sigF, wN) = lrCtes(8)
      "WITH " + ctes + ", " +
        s"sc AS (SELECT CAST(FLOOR($sigF * 1e6) AS BIGINT) AS s, " +
        s"CAST(y AS BIGINT) AS yp FROM feats CROSS JOIN $wN) " +
        "SELECT CAST(GREATEST(LEAST((s * 100) // 1000000, 99), 0) AS BIGINT) AS bin, " +
        "COUNT(*) AS n, " +
        "CAST(SUM(s) AS DOUBLE) / (1e6 * CAST(COUNT(*) AS DOUBLE)) AS mean_pred, " +
        "CAST(SUM(yp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos " +
        "FROM sc GROUP BY 1 ORDER BY 1"
    }),
    Gate("x_dedup_ngram", (s, d) =>
      graft.ext.Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy(col("i"), col("j")),
      ngramOracle(0.5)),
    Gate("x_dedup_minhash", (s, d) =>
      graft.ext.Dedup.minhashPairs(Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, numHashes = 128, bands = 32, threshold = 0.8)
        .orderBy(col("i"), col("j")),
      ngramOracle(0.8)),
    // Incremental dedup: even doc_ids play the already-indexed corpus,
    // odd ids the arriving batch. The batch is checked against the
    // persisted index WITHOUT re-reading corpus text; the result must
    // equal the batch-mode pair set restricted to pairs touching >= 1
    // batch doc (the oracle computes exactly that restriction)
    Gate("x_dedup_incr", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val idx = graft.ext.Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.ext.Dedup.incrementalMinhashPairs(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
        .orderBy(col("i"), col("j"))
    },
      // batch-mode pair set restricted to pairs touching >= 1 odd (batch) id
      ngramOracle(0.8, " AND (i % 2 = 1 OR j % 2 = 1)")),
    // The full per-batch accept step: batch docs surviving the corpus
    // check AND within-batch cluster resolution (min-id root kept,
    // corpus-tainted clusters dropped whole). The oracle replays the
    // policy over the exact pair set with a recursive-CTE closure
    Gate("x_dedup_novel", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val idx = graft.ext.Dedup.minhashIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      graft.ext.Dedup.filterNovel(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
        .agg(countAll.as("n_novel"), sum(col("doc_id")).as("id_sum"))
    },
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.8 " +
      "AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)), " +
      "touch AS (SELECT CASE WHEN j % 2 = 0 THEN i ELSE j END AS id FROM pr WHERE i % 2 = 0 OR j % 2 = 0), " +
      "bp AS (SELECT i, j FROM pr WHERE i % 2 = 1 AND j % 2 = 1), " +
      "e AS (SELECT i a, j b FROM bp UNION SELECT j, i FROM bp), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a), " +
      "tr AS (SELECT DISTINCT c.root FROM comp c JOIN touch t ON c.node = t.id), " +
      "drops AS (SELECT id FROM touch " +
      "UNION SELECT node AS id FROM comp WHERE root IN (SELECT root FROM tr) " +
      "UNION SELECT node AS id FROM comp WHERE node != root) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_novel, CAST(SUM(doc_id) AS BIGINT) AS id_sum " +
      "FROM documents WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id FROM drops)"),
    // Fuzzy record linkage: every name pair within edit distance 1 on
    // the planted typo fixture — q-gram count-filter candidates + exact
    // levenshtein verify, never the O(n^2) cross join the oracle runs
    Gate("x_fuzzy_join", (s, d) =>
      graft.ext.FuzzyJoin.editDistancePairs(
        graft.ext.Fixtures.plantedNames(s), "id", "name", maxDist = 1)
        .select(col("i"), col("j"), col("dist").cast("long").as("dist"))
        .orderBy(col("i"), col("j")),
      // replay the filterNovel policy over the exact restricted pair set:
      // batch docs pairing with the indexed (even) side drop; within-batch
      // components (recursive closure) keep their min-id root unless any
      // member touches the indexed side (tainted cluster drops whole)
      // brute-force levenshtein over all length-compatible pairs of the
      // reconstructed planted-name fixture — the O(n^2) twin of the
      // engine's q-gram count-filtered join
      "WITH names AS (" +
      graft.ext.Fixtures.plantedNamesSql() + ") " +
      "SELECT a.id AS i, b.id AS j, " +
      "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist " +
      "FROM names a JOIN names b ON a.id < b.id " +
      "AND abs(len(a.name) - len(b.name)) <= 1 " +
      "WHERE levenshtein(a.name, b.name) <= 1 ORDER BY 1, 2"),
    Gate("x_dedup_simhash", (s, d) =>
      graft.ext.Dedup.simhashPairs(Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, maxHamming = 24, threshold = 0.9)
        .orderBy(col("i"), col("j")),
      ngramOracle(0.9)),
    Gate("x_dedup_embed", (s, d) =>
      graft.ext.Dedup.embeddingPairs(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.95)
        .agg(count(lit(1)).as("n_pairs")),
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM embeddings a " +
      "JOIN embeddings b ON a.vec_id < b.vec_id " +
      "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95"),
    // pairwise near-dups -> connected components: the KEEP/DROP cluster
    // resolution (near-dup similarity is not transitive; the oracle walks
    // the same graph with a recursive CTE)
    Gate("x_dedup_clusters", (s, d) =>
      // maxDf = None: the DuckDB oracle's transitive closure is EXHAUSTIVE,
      // so the conformance run must be too — the default df-cap could drop
      // a pair whose every shared shingle is corpus-hot if the testdata
      // ever grows boilerplate, which would look like an engine bug
      graft.ext.Dedup.ngramClusters(Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDf = None)
        .orderBy(col("root")),
      // transitive closure of the jac>=0.5 pair graph -> min-id component
      // roots -> member counts (clusters of size >= 2 only, like the engine)
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5), " +
      "e AS (SELECT i a, j b FROM pr UNION SELECT j, i FROM pr), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a) " +
      "SELECT root, COUNT(*) AS n_members FROM comp GROUP BY 1 ORDER BY 1"),
    // corpus in -> near-dup-free corpus out (each cluster keeps its root);
    // uncapped for the same exhaustive-oracle reason as x_dedup_clusters
    Gate("x_dedup_resolve", (s, d) =>
      graft.ext.Dedup.dropNearDuplicates(Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDf = None)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
      // same transitive closure; then the corpus minus every non-root member
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5), " +
      "e AS (SELECT i a, j b FROM pr UNION SELECT j, i FROM pr), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a) " +
      "SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents " +
      "WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != root)"),
    // Quality keeper policy: clusters keep their LONGEST member (ties to
    // the smaller id) — the C4-ish pick when near-dups are truncations
    Gate("x_dedup_best", (s, d) =>
      graft.ext.Dedup.dropNearDuplicatesKeepBest(
        Tables.load(s, d, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, maxDf = None)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
      // same recursive component closure; the keeper is rank 1 by
      // (token length DESC, node) within each root
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5), " +
      "e AS (SELECT i a, j b FROM pr UNION SELECT j, i FROM pr), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a), " +
      "ln AS (SELECT doc_id, len(string_split(text, ' ')) AS l FROM documents), " +
      "k AS (SELECT node FROM (SELECT c.node, ROW_NUMBER() OVER " +
      "(PARTITION BY c.root ORDER BY ln.l DESC, c.node) AS rk " +
      "FROM comp c JOIN ln ON c.node = ln.doc_id) t WHERE rk = 1) " +
      "SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents " +
      "WHERE doc_id NOT IN (SELECT node FROM comp WHERE node NOT IN (SELECT node FROM k))"),
    // Score-keeper policy (FineWeb-style): clusters keep their highest-
    // QUALITY member — a planted deterministic score stands in for the
    // LM/classifier signal, forcing picks that differ from both min-id
    // and longest
    Gate("x_dedup_best_score", (s, d) =>
      graft.ext.Dedup.dropNearDuplicatesKeepBestBy(
        Tables.load(s, d, "documents"),
        "doc_id", "text", score = (col("doc_id") * 37) % 101,
        n = 3, threshold = 0.5, maxDf = None)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
      // same closure, keeper ranked by the planted score then length
      "WITH RECURSIVE " +
      "tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "pr AS (SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5), " +
      "e AS (SELECT i a, j b FROM pr UNION SELECT j, i FROM pr), " +
      "r AS (SELECT a, b FROM e UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a WHERE e.b != r.a), " +
      "comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS root FROM r GROUP BY a), " +
      "qs AS (SELECT doc_id, (doc_id * 37) % 101 AS sc, " +
      "len(string_split(text, ' ')) AS l FROM documents), " +
      "k AS (SELECT node FROM (SELECT c.node, ROW_NUMBER() OVER " +
      "(PARTITION BY c.root ORDER BY qs.sc DESC, qs.l DESC, c.node) AS rk " +
      "FROM comp c JOIN qs ON c.node = qs.doc_id) t WHERE rk = 1) " +
      "SELECT COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents " +
      "WHERE doc_id NOT IN (SELECT node FROM comp WHERE node NOT IN (SELECT node FROM k))"),
    // Calendar spine (the gap-free date dimension OLAP time levels hang
    // off): one sequence() expansion, pure date arithmetic attributes
    Gate("x_calendar", (s, d) =>
      s.range(1).select(explode(expr(
          "sequence(DATE'1995-01-01', DATE'1995-12-31', interval 1 day)"))
          .as("day"))
        .select(col("day").cast("string").as("day"),
          year(col("day")).cast("long").as("y"),
          month(col("day")).cast("long").as("m"),
          dayofmonth(col("day")).cast("long").as("dom"),
          dayofyear(col("day")).cast("long").as("doy"),
          pmod(datediff(col("day"), lit("1970-01-01").cast("date"))
            .cast("long"), lit(7L)).as("dow_epoch"))
        .orderBy(col("day")),
      "SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day, " +
      "CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS y, " +
      "CAST(EXTRACT(MONTH FROM d) AS BIGINT) AS m, " +
      "CAST(EXTRACT(DAY FROM d) AS BIGINT) AS dom, " +
      "CAST(dayofyear(d) AS BIGINT) AS doy, " +
      "CAST(datediff('day', DATE '1970-01-01', CAST(d AS DATE)) % 7 AS BIGINT) AS dow_epoch " +
      "FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) t(d) " +
      "ORDER BY day"),

    // ---------------- similarity search ----------------

    Gate("x_sim_topk", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      graft.ext.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },
      "SELECT qid, nid, rank FROM (" +
      "SELECT q.vec_id AS qid, c.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.vec_id " +
      "ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
      "FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id " +
      "WHERE q.vec_id < 10) t WHERE rank <= 5 ORDER BY qid, rank"),
    // hard-negative mining: nearest neighbors whose LABEL differs —
    // the contrastive-training batch is the (broadcast) query side
    Gate("x_hardneg", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      graft.ext.Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },
      // label-differs is the whole exclusion: self always shares its label
      "SELECT qid, nid, rank FROM (" +
      "SELECT q.vec_id AS qid, c.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.vec_id " +
      "ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
      "FROM embeddings q JOIN embeddings c ON c.label != q.label " +
      "WHERE q.vec_id < 10) t WHERE rank <= 5 ORDER BY qid, rank"),
    // Sign-LSH ANN, rank-gated on the planted-cluster fixture (the natural
    // embeddings are noise — no structure to recall — so the gateable
    // property is "approximate == exact top-k on clustered data"; the
    // DuckDB oracle rebuilds the same fixture and brute-forces the ranks)
    Gate("x_sim_lsh", (s, d) => {
      val emb = graft.ext.Fixtures.plantedVectors(s)
      graft.ext.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 12),
        "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },
      // approximate ANN rank oracles: rebuild the planted-cluster fixture in
      // a CTE and brute-force the exact ranks — the engine's LSH/IVF output
      // must match them exactly (cluster coherence makes recall 1 gateable)
      plantedTopKOracle),
    // IVF coarse-quantizer ANN, rank-gated on the same planted fixture
    // (k-means trains on all 60 fixture vectors; queries probe 4 of 10
    // lists — recall must still be exact because clusters are coherent)
    Gate("x_sim_ivf", (s, d) => {
      // sampleSize 32 < the 60-vector corpus routes training through the
      // DISTRIBUTED trainer (full-corpus KMeans.fit) — the oracle is the
      // exact semantic top-k, unchanged: the planted clusters guarantee
      // any sane coarse book recovers it
      val emb = graft.ext.Fixtures.plantedVectors(s)
      graft.ext.Ivf.topK(emb, emb.filter(col("vec_id") < 12),
        "vec_id", "embedding", k = 5, nlist = 10, nprobe = 4, sampleSize = 32)
        .select(col("qid"), col("nid"), col("rank"))
        .orderBy(col("qid"), col("rank"))
    },
      plantedTopKOracle),

    // Vector aggregate: per-label embedding centroids (the IVF/k-means
    // training step). Quantized-decimal summation: exact, partition-order-
    // independent, bit-reproducible across engines
    Gate("x_embed_centroid", (s, d) =>
      graft.ext.Similarity.centroids(
        Tables.load(s, d, "embeddings")
          .select(col("label").cast("long").as("label"), col("embedding")),
        "label", "embedding")
        .select(col("grp").as("label"), col("dim"), col("c"))
        .orderBy(col("label"), col("dim")),
      // per-label centroids: identical quantize->decimal-sum->divide
      // pipeline on both engines (unnest zips with range for the dim index).
      // The quotient stays UNROUNDED: identical IEEE operands -> identical
      // doubles, whereas a final ROUND(.,6) can land on a x.5 boundary
      // where the engines' double-rounding diverges (seen at sf0.1)
      "SELECT CAST(label AS BIGINT) AS label, " +
      "CAST(dim AS BIGINT) AS dim, " +
      "CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(28,6))) AS DOUBLE) " +
      "/ COUNT(*) AS c " +
      "FROM (SELECT label, unnest(embedding) AS v, " +
      "unnest(range(len(embedding))) AS dim FROM embeddings) t " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),

    // PCA moments — the distributed half of Pca.fit: the full 64x64
    // upper-triangle covariance of the embedding corpus from
    // floor-quantized long sums (one scan, 2080-key map-side-combined
    // shuffle). DuckDB replays the identical integer folds; the O(d^3)
    // driver eigensolve over this output is property-gated in PcaSpec
    // (Cv = lambda v residuals, orthonormality, planted-direction
    // recovery).
    Gate("x_embed_pca", (s, d) =>
      graft.ext.Pca.covariance(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding")
        .orderBy(col("i"), col("j")),
      // covariance from floor-quantized long moment sums: identical
      // integer folds, then identical pure-double derivation (1e6 is a
      // DOUBLE literal in both engines; long->double exact below 2^53)
      pcaCovOracleSql),

    // Incremental PCA moments: three disjoint corpus slices scanned
    // separately, moment frames merged (long sums are associative), the
    // covariance derived from the merge — the SAME oracle as
    // x_embed_pca proves incremental == one-shot exactly, which is what
    // lets a daily append fold into a persisted moments artifact
    // without re-reading the settled corpus
    Gate("x_pca_incr", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val slices = (0L to 2L).map(r =>
        graft.ext.Pca.moments(emb.filter(col("vec_id") % 3 === r),
          "vec_id", "embedding"))
      graft.ext.Pca.covarianceFromMoments(
        graft.ext.Pca.mergeMoments(slices: _*))
        .orderBy(col("i"), col("j"))
    },
      // incremental == one-shot exactly (associative long sums), so the
      // merged-slices gate replays against the SAME full-corpus oracle
      pcaCovOracleSql),

    // int8 scalar quantization of the embedding corpus (the ANN memory/IO
    // compression step): codes are a pure double-precision function of
    // per-dim global min/max, so DuckDB replays them bit-identically;
    // gated on the per-dim code checksum (sum/min/max over 10k codes/dim)
    Gate("x_embed_quant", (s, d) =>
      graft.ext.Quantize.int8Codes(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding")
        .groupBy(col("dim"))
        .agg(sum(col("code")).as("code_sum"), min(col("code")).as("code_min"),
          max(col("code")).as("code_max"))
        .orderBy(col("dim")),
      // same affine-code arithmetic: round(255*(v-lo)/(hi-lo)) over per-dim
      // min/max — identical IEEE operands -> identical codes on both engines
      "WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v, " +
      "unnest(range(len(embedding))) AS dim FROM embeddings), " +
      "cb AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM e GROUP BY 1), " +
      "c AS (SELECT e.dim, CASE WHEN hi = lo THEN 0 " +
      "ELSE CAST(round(255 * (v - lo) / (hi - lo)) AS INT) END AS code " +
      "FROM e JOIN cb USING (dim)) " +
      "SELECT CAST(dim AS BIGINT) AS dim, CAST(SUM(code) AS BIGINT) AS code_sum, " +
      "MIN(code) AS code_min, MAX(code) AS code_max FROM c GROUP BY 1 ORDER BY 1"),

    // PageRank (3 power iterations) on the planted multigraph: per-dst
    // contribution sums in quantized decimal make every iteration
    // bit-replayable; node 0 (the hub target) must surface on top
    Gate("x_pagerank", (s, d) =>
      graft.ext.PageRank.run(graft.ext.Fixtures.plantedEdges(s), iters = 3)
        .orderBy(col("node")),
      "WITH e AS (" + graft.ext.Fixtures.plantedEdgesSql() + "), " +
      "nd AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e), " +
      "nn AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT node FROM nd) t), " +
      "od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY 1), " +
      "p0 AS (SELECT DISTINCT node, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM nd), " +
      "c1 AS (SELECT e.dst, SUM(CAST(FLOOR(p.pr / od.od * 1e12) AS BIGINT)) AS s " +
      "FROM p0 p JOIN od ON p.node = od.src JOIN e ON e.src = od.src GROUP BY 1), " +
      "p1 AS (SELECT nd2.node, (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn) + " +
      "0.85::DOUBLE * (CAST(COALESCE(c1.s, 0) AS DOUBLE) / 1e12 + 0.0) AS pr " +
      "FROM (SELECT DISTINCT node FROM nd) nd2 LEFT JOIN c1 ON nd2.node = c1.dst), " +
      "c2 AS (SELECT e.dst, SUM(CAST(FLOOR(p.pr / od.od * 1e12) AS BIGINT)) AS s " +
      "FROM p1 p JOIN od ON p.node = od.src JOIN e ON e.src = od.src GROUP BY 1), " +
      "p2 AS (SELECT nd2.node, (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn) + " +
      "0.85::DOUBLE * (CAST(COALESCE(c2.s, 0) AS DOUBLE) / 1e12 + 0.0) AS pr " +
      "FROM (SELECT DISTINCT node FROM nd) nd2 LEFT JOIN c2 ON nd2.node = c2.dst), " +
      "c3 AS (SELECT e.dst, SUM(CAST(FLOOR(p.pr / od.od * 1e12) AS BIGINT)) AS s " +
      "FROM p2 p JOIN od ON p.node = od.src JOIN e ON e.src = od.src GROUP BY 1), " +
      "p3 AS (SELECT nd2.node, (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn) + " +
      "0.85::DOUBLE * (CAST(COALESCE(c3.s, 0) AS DOUBLE) / 1e12 + 0.0) AS pr " +
      "FROM (SELECT DISTINCT node FROM nd) nd2 LEFT JOIN c3 ON nd2.node = c3.dst) " +
      "SELECT node, pr FROM p3 ORDER BY node"),
    // Connected components to convergence over the planted 24-component
    // ring graph: min-label propagation, one O(|E|)-shuffle round per
    // diameter step; DuckDB answers from the full transitive closure —
    // the fixed point must equal exact reachability
    Gate("x_concomp", (s, d) =>
      graft.ext.ConnectedComponents.run(
        graft.ext.Fixtures.plantedComponents(s), "src", "dst")
        .orderBy(col("node")),
      // exact reachability: the label-propagation fixed point IS min over
      // the transitive closure
      "WITH RECURSIVE e AS (" + graft.ext.Fixtures.plantedComponentsSql() + "), " +
      "sym AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e), " +
      "nd AS (SELECT DISTINCT a FROM sym), " +
      "reach(a, b) AS (SELECT a, a FROM nd " +
      "UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a) " +
      "SELECT a AS node, MIN(b) AS comp FROM reach GROUP BY 1 ORDER BY 1"),
    // k-core peel over the planted forest-on-ring graph: the 20 binary
    // trees peel level by level (5 rounds) and exactly the double-ring
    // core survives at degree 4; DuckDB replays every peel round
    Gate("x_kcore", (s, d) =>
      graft.ext.KCore.run(graft.ext.Fixtures.plantedCore(s),
        "src", "dst", k = 3)
        .orderBy(col("node")),
      // 8 materialized peel rounds (the planted graph converges in 6; the
      // trailing rounds are no-ops) — integer degree counts end to end
      kcoreOracleSql(3, 8)),
    // Weighted shortest paths (Bellman-Ford) over the planted layered
    // DAG from its 20 layer-0 roots: integer weights keep every
    // relaxation exact; DuckDB replays the same per-round min-merge
    Gate("x_sssp", (s, d) =>
      graft.ext.ShortestPath.run(graft.ext.Fixtures.plantedDag(s),
        "src", "dst", "w",
        s.range(20L).toDF("id"), "id")
        .orderBy(col("node")),
      // layered DAG: 11 relaxation rounds settle, 12 replayed — the chain
      // and Spark's converged fixed point are the same table
      ssspOracleSql(12)),
    // Synchronous label propagation, 4 deterministic rounds (neighbor
    // majority, ties to the smaller label) over the ring+bridge graph
    Gate("x_labelprop", (s, d) =>
      graft.ext.LabelProp.run(graft.ext.Fixtures.plantedComponents(s),
        "src", "dst", rounds = 4)
        .orderBy(col("node")),
      labelPropOracleSql(4)),
    // Multilevel (Louvain-skeleton) communities on a denser-bridged
    // ring graph: LP level 1, contraction to weighted community edges
    // (bridgeEvery=4 puts TWO bridges between consecutive rings ->
    // weights > 1), weighted LP level 2, labels inherited back
    Gate("x_labelprop_multi", (s, d) =>
      graft.ext.LabelProp.multilevel(
        graft.ext.Fixtures.plantedComponents(s, 240, 8, 4),
        "src", "dst", rounds1 = 4, rounds2 = 2)
        .orderBy(col("node")),
      labelPropMultiSql(4, 2, 4)),
    // the composed measurement: modularity OF the labelprop communities
    // on the same planted graph — detection and its quality score in
    // one oracle-replayed chain
    Gate("x_modularity_lp", (s, d) => {
      val edges = graft.ext.Fixtures.plantedComponents(s)
      val lp = graft.ext.LabelProp.run(edges, "src", "dst", rounds = 4)
        .select(col("node"), col("label").as("comm"))
      graft.ext.Modularity.score(edges, "src", "dst", lp, "node", "comm")
        .orderBy(col("comm"))
    },
      modularityOnLabelPropSql(4)),
    // Common-neighbor/Jaccard link prediction on the same graph: every
    // non-adjacent pair sharing a neighbor, scored by exact counts
    Gate("x_linkpred", (s, d) =>
      graft.ext.LinkPredict.run(graft.ext.Fixtures.plantedComponents(s),
        "src", "dst")
        .orderBy(col("a"), col("b")),
      // wedge-counted common neighbors, existing edges NOT EXISTS'd away,
      // one exact integer division at the end
      "WITH g AS (" +
      graft.ext.Fixtures.plantedComponentsSql() + "), " +
      "sym AS (SELECT DISTINCT a, b FROM " +
      "(SELECT src AS a, dst AS b FROM g UNION ALL SELECT dst, src FROM g) t " +
      "WHERE a <> b), " +
      "deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY 1), " +
      "com AS (SELECT n1.b AS x, n2.b AS y, CAST(COUNT(*) AS BIGINT) AS common " +
      "FROM sym n1 JOIN sym n2 ON n1.a = n2.a AND n1.b < n2.b GROUP BY 1, 2), " +
      "cand AS (SELECT c.x, c.y, c.common FROM com c WHERE NOT EXISTS " +
      "(SELECT 1 FROM sym s WHERE s.a = c.x AND s.b = c.y)) " +
      "SELECT c.x AS a, c.y AS b, c.common, " +
      "CAST(d1.deg AS BIGINT) AS deg_a, CAST(d2.deg AS BIGINT) AS deg_b, " +
      "CAST(c.common AS DOUBLE) / CAST(d1.deg + d2.deg - c.common AS DOUBLE) AS jaccard " +
      "FROM cand c JOIN deg d1 ON c.x = d1.node JOIN deg d2 ON c.y = d2.node " +
      "ORDER BY a, b"),
    // Personalized PageRank from the 8 %50 seeds: teleport AND dangling
    // mass return to the root set; 3 quantized iterations replayed
    Gate("x_ppr", (s, d) =>
      graft.ext.PageRank.personalized(graft.ext.Fixtures.plantedEdges(s),
        s.range(400L).filter(col("id") % 50 === 0).toDF("id"), "id",
        iters = 3)
        .orderBy(col("node")),
      pprOracleSql(3, 50, 8)),
    // c-TF-IDF characteristic terms per embedding label: in-class rate
    // vs corpus rate from four exact counts, top-5 per class
    Gate("x_cluster_terms", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
      graft.ext.TextAnalysis.classTerms(
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("label"), col("text")),
        "label", "text", k = 5, minTf = 3L)
        .orderBy(col("cls"), col("rk"))
    },
      // four exact counts through one fixed ratio tree; per-class top-5
      // by (score DESC, term)
      "WITH j AS (SELECT e.label AS cls, d.text " +
      "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), " +
      "tk AS (SELECT cls, unnest(string_split(text, ' ')) AS term FROM j), " +
      "tft AS (SELECT cls, term, CAST(COUNT(*) AS BIGINT) AS tf " +
      "FROM tk GROUP BY 1, 2), " +
      "wc AS (SELECT cls, SUM(tf) AS wc FROM tft GROUP BY 1), " +
      "ft AS (SELECT term, SUM(tf) AS ft FROM tft GROUP BY 1), " +
      "tot AS (SELECT SUM(tf) AS t FROM tft), " +
      "sc AS (SELECT tft.cls, tft.term, tft.tf, " +
      "(CAST(tft.tf AS DOUBLE) * CAST(t AS DOUBLE)) / " +
      "(CAST(wc.wc AS DOUBLE) * CAST(ft.ft AS DOUBLE)) AS score " +
      "FROM tft JOIN wc ON tft.cls = wc.cls JOIN ft ON tft.term = ft.term, tot " +
      "WHERE tft.tf >= 3), " +
      "r AS (SELECT sc.*, CAST(ROW_NUMBER() OVER (PARTITION BY cls " +
      "ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc) " +
      "SELECT cls, term, tf, score, rk FROM r WHERE rk <= 5 ORDER BY cls, rk"),
    // Seasonal-naive backtest per event type: same-weekday-last-week
    // prediction, exact integer error sums, one MAE division
    Gate("x_forecast", (s, d) =>
      graft.ext.TimeSeries.seasonalNaiveEval(ev(s, d), "ts", "event_type",
        season = 7)
        .orderBy(col("event_type")),
      "WITH daily AS (SELECT event_type, " +
      "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, " +
      "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2) " +
      "SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_eval, " +
      "CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS sum_abs_err, " +
      "CAST(CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS DOUBLE) / " +
      "CAST(COUNT(*) AS DOUBLE) AS mae " +
      "FROM daily a JOIN daily b ON a.event_type = b.event_type " +
      "AND a.day = b.day + 7 GROUP BY 1 ORDER BY 1"),
    // Hierarchy traversal (the recursive-CTE gap, solved iteratively):
    // BFS levels over a planted 20-tree forest — depth hash joins of
    // frontier frames, no driver recursion; DuckDB answers recursively
    Gate("x_hierarchy", (s, d) => {
      val roots = s.range(20L * 31).filter(col("id") % 31 === 0)
        .select(col("id"))
      graft.ext.Bfs.levels(graft.ext.Fixtures.plantedForest(s),
        "parent", "child", roots, "id")
        .orderBy(col("node"))
    },
      "WITH RECURSIVE e AS (" + graft.ext.Fixtures.plantedForestSql() + "), " +
      "lv(node, root, depth) AS (" +
      "SELECT id, id, CAST(0 AS BIGINT) FROM range(0, 620) t(id) WHERE id % 31 = 0 " +
      "UNION ALL SELECT e.child, lv.root, lv.depth + 1 FROM lv JOIN e ON e.parent = lv.node) " +
      "SELECT node, root, depth FROM lv ORDER BY node"),

    // Per-label embedding outliers: squared-L2 to the label centroid vs
    // 4x the label mean distance — centroid means quantized-decimal,
    // mean distance in floor units, full 500-row double replay
    Gate("x_embed_outlier", (s, d) =>
      graft.ext.Similarity.outliers(
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding")),
        "vec_id", "label", "embedding")
        .orderBy(col("vec_id")),
      // same centroid replay, same index-order distance folds, mean
      // distance in floor units, literals cast ::DOUBLE
      "WITH pts AS (SELECT vec_id, CAST(label AS BIGINT) AS grp, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "cr AS (SELECT grp, dim, " +
      "CAST(SUM(CAST(ROUND(v1, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c " +
      "FROM (SELECT grp, unnest(v) AS v1, unnest(range(len(v))) AS dim FROM pts) t GROUP BY 1, 2), " +
      "cv AS (SELECT grp, list(c ORDER BY dim) AS cvec FROM cr GROUP BY 1), " +
      "dd AS (SELECT p.vec_id, p.grp, " +
      "list_sum(list_transform(range(1, 65), i -> (p.v[i]-cv.cvec[i])*(p.v[i]-cv.cvec[i]))) AS d2 " +
      "FROM pts p JOIN cv ON p.grp = cv.grp), " +
      "md AS (SELECT grp, CAST(SUM(CAST(FLOOR(d2 * 1e9) AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS mean_d2 " +
      "FROM dd GROUP BY 1) " +
      "SELECT dd.vec_id, dd.grp, dd.d2, md.mean_d2, " +
      "dd.d2 > md.mean_d2 * 4.0::DOUBLE AS outlier " +
      "FROM dd JOIN md ON dd.grp = md.grp ORDER BY 1"),

    // Johnson-Lindenstrauss projection 64 -> 16 dims: md5-derived ±1
    // signs, per-row HOF matmul, index-ordered folds — exploded to
    // (vec_id, dim, value) rows for exact double comparison
    Gate("x_embed_project", (s, d) =>
      graft.ext.Similarity.randomProject(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", dIn = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
        .orderBy(col("vec_id"), col("dim")),
      // same md5 sign draw (first hex digit < 8 -> +1), same index-order
      // fold, same IEEE sqrt scale
      "WITH pts AS (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "proj AS (SELECT vec_id, j, " +
      "list_sum(list_transform(range(1, 65), i -> v[i] * " +
      "(CASE WHEN substr(md5(CAST(i - 1 AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1) " +
      "IN ('0','1','2','3','4','5','6','7') THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END))) " +
      "/ sqrt(16.0::DOUBLE) AS val " +
      "FROM pts, range(0, 16) t(j)) " +
      "SELECT vec_id, CAST(j AS BIGINT) AS dim, val AS v FROM proj " +
      "ORDER BY vec_id, dim"),

    // Distributed Lloyd k-means (2 iterations, k=8, md5-seeded): the
    // whole-corpus semantic-clustering step past IVF's driver-side
    // sampled training. Assignment is shuffle-free (broadcast packed
    // centroids + HOF argmin); updates reuse the quantized-decimal
    // centroid sum, so DuckDB replays training bit-for-bit
    Gate("x_kmeans", (s, d) =>
      graft.ext.KMeans.fit(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
        .orderBy(col("cid"), col("dim")),
      kmeansReplayCtes() +
      "c2 AS (SELECT cid, dim, " +
      "CAST(SUM(CAST(ROUND(v1, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c " +
      "FROM (SELECT cid, unnest(v) AS v1, unnest(range(len(v))) AS dim FROM a2) t GROUP BY 1, 2), " +
      "sz AS (SELECT cid, COUNT(*) AS n FROM a2 GROUP BY 1) " +
      "SELECT c2.cid, CAST(c2.dim AS BIGINT) AS dim, c2.c, sz.n " +
      "FROM c2 JOIN sz ON c2.cid = sz.cid ORDER BY 1, 2"),
    // Cluster-quality scorecard of exactly that training run: per-cluster
    // exact inertia + simplified silhouette (second-nearest-centroid
    // form, the O(n*k) one) — the oracle replays training, the final
    // all-centroid distance ranking, and every micro-quantized term
    Gate("x_kmeans_quality", (s, d) =>
      graft.ext.KMeans.clusterQuality(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2)
        .orderBy(col("cid")),
      // same training replay, then each point ranked against ALL final
      // centroids: rn=1 is the own assignment (inertia term), rn=2 the
      // second-nearest (silhouette b); sqrt'd Euclidean silhouettes
      // floor-quantize to micro longs exactly as the engine does
      "WITH " +
      kmeansChain(defaultPtsSql, "_q") + kmeansFinalAssign("_q") +
      "alld AS (SELECT p.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), " +
      "i -> (p.v[i]-b.cvec[i])*(p.v[i]-b.cvec[i]))) AS d " +
      "FROM pts_q p CROSS JOIN b_q b), " +
      "rk AS (SELECT vec_id, cid, d, ROW_NUMBER() OVER " +
      "(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM alld), " +
      // LEFT JOIN + COALESCE(bb, a): under single-cluster collapse there is
      // no rn=2 row — the engine keeps the point's n/inertia exact and NULLs
      // only the silhouette term (try_element_at); an inner join would drop
      // the whole row. (bb - a) stays NULL when bb is NULL, so the term is
      // sum-skipped exactly like the engine's.
      "pt AS (SELECT o.vec_id, o.cid, o.d AS down, " +
      "sqrt(o.d) AS a, sqrt(s2.d) AS bb " +
      "FROM rk o LEFT JOIN rk s2 ON o.vec_id = s2.vec_id AND s2.rn = 2 " +
      "WHERE o.rn = 1), " +
      "terms AS (SELECT cid, CAST(FLOOR(down * 1e6) AS BIGINT) AS im, " +
      "CASE WHEN greatest(a, COALESCE(bb, a)) > 0 THEN " +
      "CAST(FLOOR((bb - a) / greatest(a, COALESCE(bb, a)) * 1e6) AS BIGINT) " +
      "ELSE 0 END AS sm FROM pt) " +
      "SELECT cid, COUNT(*) AS n, " +
      "CAST(SUM(im) AS BIGINT) AS inertia_micro, " +
      "CAST(SUM(sm) AS BIGINT) AS sil_sum_micro, " +
      "CAST(CAST(SUM(sm) AS BIGINT) AS DOUBLE) / " +
      "(CAST(COUNT(*) AS DOUBLE) * 1e6) AS sil_mean " +
      "FROM terms GROUP BY 1 ORDER BY 1"),
    // Cross-corpus embedding decontamination: the 20 lowest-id vectors
    // play the benchmark (exact-copy probes); their corpus originals
    // must drop via LSH-bucketed cross matching + exact rerank
    Gate("x_decontam_embed", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val bench = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
      graft.ext.Similarity.dropEmbeddingMatches(emb, "vec_id", "embedding",
        bench, threshold = 0.9)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
      // 2-iteration Lloyd k-means replay: same md5 seed draw, same
      // index-ordered distance folds, same quantized-decimal centroid
      // means; argmin ties break on cid in both engines
      // exhaustive cross check: NOT EXISTS any probe at cosine >= 0.9
      "SELECT vec_id FROM embeddings e " +
      "WHERE NOT EXISTS (SELECT 1 FROM embeddings b WHERE b.vec_id < 20 " +
      "AND list_cosine_similarity(e.embedding, b.embedding) >= 0.9) " +
      "ORDER BY vec_id"),
    // SemDeDup: k-means (same training as x_kmeans, over the corpus plus
    // 20 planted exact copies at id+10000 — noise embeddings have no
    // natural near-dups), then within-cluster cosine >= 0.9 drops the
    // higher id. Every copy lands in its base's cluster at cosine 1.0
    // and must drop; survivors carry their cid, so the gate checks the
    // full assignment replay AND the drop policy
    Gate("x_semdedup", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val withCopies = emb.unionByName(emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      graft.ext.Dedup.semanticDedup(withCopies,
        "vec_id", "embedding", k = 8, iters = 2, threshold = 0.9)
        .orderBy(col("id"))
    },
      // same training replay over corpus + planted copies; within-cluster
      // pairwise cosine, keep-first
      kmeansReplayCtes(
      "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
        "FROM embeddings UNION ALL " +
        "SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE)) " +
        "FROM embeddings WHERE vec_id < 20") +
      "drops AS (SELECT DISTINCT b.vec_id AS id FROM a2 a " +
      "JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
      "WHERE list_cosine_similarity(a.v, b.v) >= 0.9) " +
      "SELECT vec_id AS id, cid FROM a2 " +
      "WHERE vec_id NOT IN (SELECT id FROM drops) ORDER BY 1"),

    // MMR diversified top-5 (query = vector 0, pool = 1..300 plus exact
    // copies of 1..10 at id+20000): the copy of every picked item scores
    // cosine 1.0 against it, so no copy can follow its base — the oracle
    // replays all 5 greedy rounds' argmax bit-for-bit
    Gate("x_mmr", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val pool = emb.filter(col("vec_id").between(1L, 300L))
        .unionByName(emb.filter(col("vec_id").between(1L, 10L))
          .select((col("vec_id") + 20000L).as("vec_id"), col("embedding")))
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      graft.ext.Similarity.mmrSelect(pool, "vec_id", "embedding", q,
        k = 5, lambda = 0.7).orderBy(col("rank"))
    },
      // 5 greedy MMR rounds, each round's argmax replayed exactly
      mmrOracleSql(5)),

    // Product quantization codes: per-subspace k-means (m=2, k=8, same
    // training arithmetic as x_kmeans on each 32-dim half), every vector
    // compressed to its nearest final-centroid id per subspace
    Gate("x_pq", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val cb = graft.ext.Pq.train(emb, "vec_id", "embedding",
        m = 2, k = 8, iters = 2).localCheckpoint(true)
      graft.ext.Pq.encode(emb, "vec_id", "embedding", cb, m = 2)
        .select(col("vec_id"), posexplode(col("code")).as(Seq("sub", "cid")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"), col("cid"))
        .orderBy(col("vec_id"), col("sub"))
    },
      // two independent trainings on the vector halves; codes = final-
      // centroid assignment per subspace
      "WITH " +
      kmeansChain(pqPtsSql(0), "_0") + kmeansFinalAssign("_0") +
      kmeansChain(pqPtsSql(1), "_1") + kmeansFinalAssign("_1").dropRight(2) + " " +
      "SELECT vec_id, CAST(0 AS BIGINT) AS sub, cid FROM a3_0 " +
      "UNION ALL SELECT vec_id, CAST(1 AS BIGINT), cid FROM a3_1 " +
      "ORDER BY vec_id, sub"),
    // ADC search over the compressed corpus: exact query-to-codeword
    // LUT (query = vector 0), per-row sum of m table entries, top-10
    Gate("x_pq_topk", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val cb = graft.ext.Pq.train(emb, "vec_id", "embedding",
        m = 2, k = 8, iters = 2).localCheckpoint(true)
      val codes = graft.ext.Pq.encode(emb, "vec_id", "embedding", cb, m = 2)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).map(_.toDouble)
      graft.ext.Pq.adcTopK(codes, "vec_id", cb, q, k = 10)
    },
      // same chains; LUT = exact distance from vector 0's halves to every
      // codeword, rows score as lut0 + lut1
      "WITH " +
      kmeansChain(pqPtsSql(0), "_0") + kmeansFinalAssign("_0") +
      kmeansChain(pqPtsSql(1), "_1") + kmeansFinalAssign("_1") +
      "q0 AS (SELECT v FROM pts_0 WHERE vec_id = 0), " +
      "q1 AS (SELECT v FROM pts_1 WHERE vec_id = 0), " +
      "lut0 AS (SELECT b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM b_0 b CROSS JOIN q0 q), " +
      "lut1 AS (SELECT b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM b_1 b CROSS JOIN q1 q) " +
      "SELECT a0.vec_id, l0.d + l1.d AS dist FROM a3_0 a0 " +
      "JOIN a3_1 a1 USING (vec_id) JOIN lut0 l0 ON a0.cid = l0.cid " +
      "JOIN lut1 l1 ON a1.cid = l1.cid ORDER BY dist, a0.vec_id LIMIT 10"),
    // IVF-PQ combined: coarse k-means lists prune the candidates, ADC
    // over PQ codes scores them — 4 queries probe 2 of 8 lists each;
    // the oracle replays all three trainings plus the probe ranking
    Gate("x_sim_ivfpq", (s, d) =>
      graft.ext.Pq.ivfAdcTopK(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L), k = 10)
        .orderBy(col("qid"), col("rank")),
      // three full training replays (coarse + 2 PQ subspaces), then probe
      // ranking, candidate restriction to probed lists, per-query ADC
      ivfpqScCtesSql +
      "SELECT qid, vec_id AS nid, CAST(rank AS BIGINT) AS rank, dist FROM " +
      "(SELECT qid, vec_id, dist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS rank FROM sc) t " +
      "WHERE rank <= 10 ORDER BY qid, rank"),
    // Recall@10 scorecard of exactly that IVF-PQ configuration: approx
    // top-10 vs the exact squared-L2 top-10 (same metric, self kept on
    // both sides) — nprobe=2/nlist=8 on unclustered embeddings earns an
    // honest sub-1 recall, and the number itself is the gated artifact.
    // Both inputs are (4 queries x 10)-row frames: the comparison cost
    // is rows-not-corpus, the 100 TB contract of an index scorecard
    Gate("x_ann_recall", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val qids = Seq(0L, 1L, 2L, 3L)
      val approx = graft.ext.Pq.ivfAdcTopK(emb, "vec_id", "embedding",
        queryIds = qids, k = 10)
      val exact = graft.ext.Similarity.bruteForceTopKL2(emb,
        emb.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 10)
      graft.ext.Eval.recallAtK(approx, exact, "qid", "nid")
        .orderBy(col("q"))
    },
      // recall@10 scorecard of that same IVF-PQ configuration: the approx
      // side replays the full chain above, the truth side brute-forces
      // squared-L2 top-10 from the same pts_c, and the per-query overlap
      // is the exact integer quotient — the honest <1 number nprobe=2 of
      // nlist=8 earns on unclustered embeddings
      ivfpqScCtesSql +
      ", apx AS (SELECT qid, vec_id AS nid FROM " +
      "(SELECT qid, vec_id, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS rank FROM sc) t " +
      "WHERE rank <= 10), " +
      "ex AS (SELECT qid, nid FROM (SELECT q.qid, p.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY " +
      "list_sum(list_transform(range(1, len(p.v)+1), " +
      "i -> (q.v[i]-p.v[i])*(q.v[i]-p.v[i]))), p.vec_id) AS rank " +
      "FROM qs q CROSS JOIN pts_c p) t WHERE rank <= 10) " +
      "SELECT e.qid AS q, COUNT(*) AS n_exact, " +
      "CAST(COUNT(a.nid) AS BIGINT) AS n_hit, " +
      "CAST(FLOOR(COUNT(a.nid) * 1000000.0 / COUNT(*)) AS BIGINT) AS recall_micro, " +
      "CAST(COUNT(a.nid) AS DOUBLE) / COUNT(*) AS recall " +
      "FROM ex e LEFT JOIN apx a ON e.qid = a.qid AND e.nid = a.nid " +
      "GROUP BY 1 ORDER BY 1"),
    // Residual-encoding IVF-PQ (the paper's §IV recipe): PQ trains on
    // v − c_coarse(v), LUTs residualize per probed list — the oracle
    // replays coarse training, the residual frame, both residual PQ
    // trainings, and the per-(query, list) ADC ranking
    Gate("x_sim_ivfpq_res", (s, d) =>
      graft.ext.Pq.ivfAdcTopKRes(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L), k = 10)
        .orderBy(col("qid"), col("rank")),
      // residual IVF-PQ: coarse training, per-row residuals against the
      // assigned centroid, two residual-subspace PQ trainings, then
      // per-(query, probed-list) residual LUTs and the pruned ADC ranking
      ivfpqResChainSql +
      " SELECT qid, vec_id AS nid, CAST(rank AS BIGINT) AS rank, dist FROM " +
      "(SELECT qid, vec_id, dist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS rank FROM sc) t " +
      "WHERE rank <= 10 ORDER BY qid, rank"),
    // ... plus the exact re-rank (FAISS RefineFlat): ADC picks 2k
    // candidates from the compressed codes, only those reload float
    // vectors for the exact top-k — the oracle replays the whole chain
    // plus the re-rank
    Gate("x_sim_ivfpq_refine", (s, d) =>
      graft.ext.Pq.ivfAdcTopKRefined(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryIds = Seq(0L, 1L, 2L, 3L), k = 10,
        refine = 2)
        .orderBy(col("qid"), col("rank")),
      // the same chain, ADC-ranked to 2k candidates, then the exact
      // float-vector re-rank to the final top-k
      ivfpqResChainSql +
      ", ar AS (SELECT qid, vec_id, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS arank FROM sc), " +
      "cand2 AS (SELECT qid, vec_id FROM ar WHERE arank <= 20), " +
      "ex AS (SELECT c.qid, c.vec_id, list_sum(list_transform(range(1, len(p.v)+1), " +
      "i -> (p.v[i]-q.v[i])*(p.v[i]-q.v[i]))) AS dist FROM cand2 c " +
      "JOIN pts_c p ON c.vec_id = p.vec_id JOIN qs q ON c.qid = q.qid) " +
      "SELECT qid, vec_id AS nid, CAST(rank AS BIGINT) AS rank, dist FROM " +
      "(SELECT qid, vec_id, dist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS rank FROM ex) t " +
      "WHERE rank <= 10 ORDER BY qid, rank"),
    // The serving lifecycle: index BUILT (trained) on the even half,
    // the odd half ingested against the FROZEN codebooks, queries
    // answered from the combined entries — the oracle replays the
    // even-only trainings plus the full-corpus frozen-codebook encode
    Gate("x_sim_ivfpq_index", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val idx = graft.ext.Pq.buildIndexRes(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
      val delta = graft.ext.Pq.addBatchRes(idx,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      val full = idx.copy(entries = idx.entries.unionByName(delta))
      val qs = emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
        .select(col("vec_id").cast("long").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("__qv"))
      graft.ext.Pq.searchIndexRes(full, qs, "vec_id", k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
      // even-half trainings (coarse + both residual subspaces), then the
      // WHOLE corpus encoded against those frozen books, then the standard
      // probe/LUT/ADC ranking over the combined entries
      ivfpqIndexOracleSql("")),
    // index MAINTENANCE: logical delete via tombstones — deleted ids must
    // never surface and the top-k must refill from survivors; compaction
    // must leave search results identical to the tombstone path
    Gate("x_ann_delete", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val idx = graft.ext.Pq.buildIndexRes(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
      val delta = graft.ext.Pq.addBatchRes(idx,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      val full = idx.copy(entries = idx.entries.unionByName(delta))
      val tombed = graft.ext.Pq.deleteRes(full,
        emb.filter(col("vec_id") % 10 === 3).select(col("vec_id")), "vec_id")
      val qs = emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
        .select(col("vec_id").cast("long").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("__qv"))
      graft.ext.Pq.searchIndexRes(tombed, qs, "vec_id", k = 10, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },
      // the same build/ingest/search replay with tombstoned ids excluded
      // BEFORE ranking — the top-k must refill from survivors
      ivfpqIndexOracleSql(" WHERE vec_id % 10 <> 3")),
    // index maintenance: the retrain-on-drift trigger — PSI of a shifted
    // batch's coarse-list mass against the index's own entry mass (the
    // structural "frozen quantizer no longer fits" signal)
    Gate("x_ann_retrain", (s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val idx = graft.ext.Pq.buildIndexRes(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
      val batch = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") + lit(2.0))
            .as("embedding"))
      graft.ext.Pq.retrainSignal(idx, batch, "vec_id", "embedding")
        .orderBy(col("ccid"))
    },
      // retrain trigger: coarse-list mass PSI, add-one smoothed over the
      // full list set, pico-floor terms — the Drift discipline over the
      // index's own assignment distribution
      "WITH pts_all AS (" + defaultPtsSql + "), " +
      kmeansChain("SELECT vec_id, v FROM pts_all WHERE vec_id % 2 = 0", "_c") +
      kmeansFinalAssign("_c") +
      "base AS (SELECT cid AS ccid, COUNT(*) AS n_base FROM a3_c GROUP BY 1), " +
      "newp AS (SELECT vec_id, list_transform(v, x -> x + CAST(2.0 AS DOUBLE)) AS v " +
      "FROM pts_all WHERE vec_id % 2 = 1), " +
      "newa AS (SELECT p.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), " +
      "i -> (p.v[i]-b.cvec[i])*(p.v[i]-b.cvec[i]))) AS d " +
      "FROM newp p CROSS JOIN b_c b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY d, b.cid) = 1), " +
      "nn AS (SELECT cid AS ccid, COUNT(*) AS n_new FROM newa GROUP BY 1), " +
      "lists AS (SELECT DISTINCT cid AS ccid FROM b_c), " +
      "j AS (SELECT l.ccid, COALESCE(base.n_base, 0) AS n_base, " +
      "COALESCE(nn.n_new, 0) AS n_new FROM lists l " +
      "LEFT JOIN base USING (ccid) LEFT JOIN nn USING (ccid)), " +
      "t AS (SELECT j.*, SUM(n_base) OVER () AS ta, SUM(n_new) OVER () AS tb, " +
      "COUNT(*) OVER () AS vv FROM j), " +
      "ps AS (SELECT ccid, CAST(n_base AS BIGINT) AS n_base, " +
      "CAST(n_new AS BIGINT) AS n_new, " +
      "CAST(FLOOR((CAST(n_base + 1 AS DOUBLE) / CAST(ta + vv AS DOUBLE) - " +
      "CAST(n_new + 1 AS DOUBLE) / CAST(tb + vv AS DOUBLE)) * " +
      "ln((CAST(n_base + 1 AS DOUBLE) / CAST(ta + vv AS DOUBLE)) / " +
      "(CAST(n_new + 1 AS DOUBLE) / CAST(tb + vv AS DOUBLE))) * 1e12) AS BIGINT) " +
      "AS psi_term_pico FROM t) " +
      "SELECT ccid, n_base, n_new, psi_term_pico, " +
      "CAST(SUM(psi_term_pico) OVER () AS BIGINT) AS psi_pico, " +
      "CAST(SUM(psi_term_pico) OVER () AS BIGINT) > 250000000000 AS retrain " +
      "FROM ps ORDER BY ccid"),

    // ---------------- text analysis ----------------

    // Corpus-level term salience: top-3 TF-IDF keywords per document
    // (deterministic: log-free scores from identical integer operands,
    // ties broken on the term string)
    Gate("x_text_tfidf", (s, d) =>
      graft.ext.TextAnalysis.tfidfTopK(Tables.load(s, d, "documents"),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank")),
      // top-3 TF-IDF terms/doc: log-free score (cnt/len)*(n/df) — identical
      // integer operands -> identical doubles -> identical ranking
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2), " +
      "len AS (SELECT doc_id, SUM(cnt) AS len FROM tf GROUP BY 1), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
      "n AS (SELECT COUNT(*) AS n FROM documents), " +
      "s AS (SELECT tf.doc_id, tf.term, " +
      "(CAST(tf.cnt AS DOUBLE) / len.len) * (CAST(n.n AS DOUBLE) / dfreq.df) AS score " +
      "FROM tf JOIN len USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n) " +
      "SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, ROUND(score, 6) AS score " +
      "FROM (SELECT doc_id, term, score, ROW_NUMBER() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s) t " +
      "WHERE rank <= 3 ORDER BY doc_id, rank"),
    Gate("x_text_tokens", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"), graft.ext.TextAnalysis.tokenCount(col("text"))
        .as("n_tokens"))
      .orderBy(col("doc_id")),
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM documents ORDER BY doc_id"),
    // BPE-ish subword counting (whitespace + punctuation splits) over
    // punctuation-spiked text — the corpus itself is [a-z0-9 ] soup, so
    // the punctuation path is planted deterministically per doc
    Gate("x_text_subwords", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.TextAnalysis.subwordCount(
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" sub.word,mix;q!end"))
              .when(col("doc_id") % 3 === 1, lit(" a-b(c)d"))
              .otherwise(lit("")))).as("n_subwords"))
      .orderBy(col("doc_id")),
      // POSIX [:punct:] == Java \p{Punct} (ASCII punctuation) under RE2,
      // so the split pattern replays exactly
      "SELECT doc_id, CAST(len(regexp_split_to_array(text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' sub.word,mix;q!end' " +
      "WHEN doc_id % 3 = 1 THEN ' a-b(c)d' ELSE '' END, " +
      "'[\\s[:punct:]]+')) AS BIGINT) AS n_subwords " +
      "FROM documents ORDER BY doc_id"),
    // Ranked keyword retrieval: top-15 docs for a 3-term query, log-free
    // TF-IDF scores summed in floor-quantized units (exact cross-engine
    // ordering), ties on doc_id
    Gate("x_search", (s, d) =>
      graft.ext.TextAnalysis.search(Tables.load(s, d, "documents"),
        "doc_id", "text", Seq("spark", "window", "hash"), k = 15)
        .orderBy(col("score").desc, col("doc_id")),
      // same tf/df/n integer operands, same floor-unit summation
      searchOracleSql),
    // Same query served from the MATERIALIZED inverted index: postings
    // built once, search term-prunes the postings scan — must produce
    // the bit-identical ranking to x_search
    Gate("x_index_search", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val postings = graft.ext.TextAnalysis.buildIndex(docs, "doc_id", "text")
      graft.ext.TextAnalysis.searchIndex(postings, "doc_id",
        Seq("spark", "window", "hash"), k = 15, nDocs = docs.count())
        .orderBy(col("score").desc, col("doc_id"))
    },
      // the index path must produce the bit-identical ranking
      searchOracleSql),
    // Bigram-LM fluency (log-free perplexity-filter ordering): mean
    // corpus MLE P(w2|w1) per doc in floor-quantized units
    Gate("x_text_fluency", (s, d) =>
      graft.ext.TextAnalysis.bigramFluency(Tables.load(s, d, "documents"),
        "doc_id", "text")
        .orderBy(col("doc_id")),
      // same bigram/prefix integer operands, same floor-unit mean
      fluencyCtesSql +
      "SELECT doc_id, nb AS n_bigrams, CAST(su AS DOUBLE) / 1e12 / nb AS score " +
      "FROM sc ORDER BY doc_id"),
    // Per-source quality quota: keep the best half of EVERY source by
    // fluency (integer quota ceil(0.5*|source|), ties on id)
    Gate("x_quality_filter", (s, d) =>
      graft.ext.TextAnalysis.qualityFilter(Tables.load(s, d, "documents"),
        "doc_id", "text", "source", keepFrac = 0.5)
        .orderBy(col("source"), col("rank")),
      // fluency chain + per-source integer quota window
      fluencyCtesSql +
      ", scr AS (SELECT doc_id, CAST(su AS DOUBLE) / 1e12 / nb AS score FROM sc), " +
      "j AS (SELECT s.doc_id, d.source, s.score, " +
      "ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY s.score DESC, s.doc_id) AS rank, " +
      "COUNT(*) OVER (PARTITION BY d.source) AS cnt " +
      "FROM scr s JOIN documents d USING (doc_id)) " +
      "SELECT doc_id, source, score, CAST(rank AS BIGINT) AS rank FROM j " +
      "WHERE rank <= CAST(CEIL(0.5 * cnt) AS BIGINT) ORDER BY source, rank"),
    // Vocabulary construction: top-40 terms by total count with df >= 5
    // — two-level aggregation (map-side combine on (doc, term)), top-k
    // via TakeOrderedAndProject, ties on the term string
    Gate("x_vocab", (s, d) =>
      graft.ext.TextAnalysis.vocabulary(Tables.load(s, d, "documents"),
        "doc_id", "text", minDf = 5, k = 40),
      // same two-level aggregation in SQL; ties on the term string
      "WITH tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t " +
      "GROUP BY 1, 2) " +
      "SELECT term, CAST(SUM(cnt) AS BIGINT) AS tf, COUNT(*) AS df FROM tf GROUP BY term " +
      "HAVING COUNT(*) >= 5 ORDER BY tf DESC, term LIMIT 40"),
    // tokenizer-coverage check: the even half's distinct words play the
    // frozen vocab, the odd half scores against it with one planted
    // always-OOV token per doc (the corpus vocab overlaps heavily, so
    // the plant guarantees both branches everywhere)
    Gate("x_oov", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val vocab = docs.filter(col("doc_id") % 2 === 0)
        .select(explode(split(col("text"), " ")).as("word")).distinct()
      val probes = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(col("text"), lit(" qq"), col("doc_id").cast("string"))
            .as("text"))
      graft.ext.TextAnalysis.oovRate(probes, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    },
      // the even half's distinct words ARE the vocab; the planted
      // qq<doc_id> token is OOV by construction
      "WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w " +
      "FROM documents WHERE doc_id % 2 = 0), " +
      "p AS (SELECT doc_id, unnest(string_split(" +
      "text || ' qq' || CAST(doc_id AS VARCHAR), ' ')) AS w " +
      "FROM documents WHERE doc_id % 2 = 1) " +
      "SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
      "ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) / (1.0 * COUNT(*)), 6) AS oov_ratio " +
      "FROM p LEFT JOIN v USING (w) GROUP BY 1 ORDER BY 1"),
    // BPE tokenizer training, 10 merges on the corpus word table: each
    // round one pair hash-agg + a 1-row argmax + a literal HOF rewrite;
    // integer counts and (cnt DESC, a, b) ties make training exactly
    // replayable — DuckDB re-runs all 10 rounds position-by-position
    Gate("x_bpe", (s, d) =>
      graft.ext.Bpe.train(Tables.load(s, d, "documents"), "text",
        merges = 10).orderBy(col("step")),
      bpeChain(10)),
    // BATCHED training must learn bit-identical merges (same oracle
    // chain as x_bpe) while paying far fewer driver rounds — the path
    // that scales to 32k-merge tokenizers
    Gate("x_bpe_batch", (s, d) =>
      graft.ext.Bpe.trainBatched(Tables.load(s, d, "documents"), "text",
        merges = 10).orderBy(col("step")),
      // batched training replays the SAME sequential merge chain — the
      // batch rule is a pure execution strategy, not a semantics change
      bpeChain(10)),
    // the production driver-chain route: one distributed type-table
    // pass, then exact heap-backed training — same oracle chain again
    Gate("x_bpe_local", (s, d) =>
      graft.ext.Bpe.trainLocal(Tables.load(s, d, "documents"), "text",
        merges = 10).orderBy(col("step")),
      // ditto for the driver-chain route
      bpeChain(10)),
    // the NO-driver-table fallback (maxTypes refusal path): type table
    // sharded by word hash, certified global argmax per round — still
    // bit-identical to sequential training, same oracle chain again
    Gate("x_bpe_sharded", (s, d) =>
      graft.ext.Bpe.trainSharded(Tables.load(s, d, "documents"), "text",
        merges = 10, numShards = 8).orderBy(col("step")),
      // and for the sharded no-driver-table route: certification changes
      // WHERE the argmax is computed, never WHICH pair wins
      bpeChain(10)),
    // Tokenizer APPLICATION at corpus scale: the 10 trained merges
    // encode the distinct-word table once (BPE's collapse trick — the
    // corpus never re-tokenizes per occurrence), then the per-doc
    // subword counts come from one word-keyed join + rollup. This is
    // the "token budget with the real tokenizer" number that packing
    // and mixture planning consume
    Gate("x_bpe_encode", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val merges = graft.ext.Bpe.train(docs, "text", merges = 10)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = graft.ext.Bpe.wordTable(docs, "text")
        .select(col("word"),
          size(graft.ext.Bpe.encode(col("word"), merges)).cast("long")
            .as("n_sym"))
      docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(enc, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("n_sym")).as("n_subwords"), countAll.as("n_words"))
        .orderBy(col("doc_id"))
    },
      // the same 10-round training chain, then the encoded symbol counts
      // of the word table rolled up per document
      bpeChainWith(10) +
      ", wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym " +
      "FROM p10 GROUP BY 1), " +
      "dw AS (SELECT doc_id, word FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS word FROM documents) t " +
      "WHERE word <> '') " +
      "SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_subwords, " +
      "CAST(COUNT(*) AS BIGINT) AS n_words FROM dw JOIN wc USING (word) " +
      "GROUP BY 1 ORDER BY doc_id"),
    // WordPiece training: BPE's loop with the LIKELIHOOD argmax
    // (count(ab)/(count(a)count(b)) as floor-quantized micro log10) and
    // BERT's ## continuation marking; minCount=50 is the standard
    // frequency cutoff (without it any one-off symbol pair scores a
    // perfect 1). DuckDB replays all 6 rounds including both count
    // tables and the score tie-break
    Gate("x_wordpiece_train", (s, d) =>
      graft.ext.Wordpiece.train(Tables.load(s, d, "documents"), "text",
        merges = 6, minCount = 50L).orderBy(col("step")),
      // the BPE round chain with ##-marked initial symbols, a per-round
      // unigram count table, the micro-log10 likelihood argmax and the
      // ##-stripping merge product — all 6 rounds replayed exactly
      wordpieceChain(6, 50L)),
    // WordPiece ENCODE (BERT inference): greedy longest-match-first
    // against a fixed planted vocab — plain pieces at word start, ##
    // pieces after, no-match collapses the whole word to [UNK]; distinct
    // types segment once, documents re-join by word
    Gate("x_wordpiece_encode", (s, d) =>
      graft.ext.Wordpiece.encodeDocs(Tables.load(s, d, "documents"),
        "doc_id", "text", wordpieceVocab).orderBy(col("doc_id")),
      // greedy longest-match replay: one recursive CTE advances every
      // unfinished TYPE by its longest matching piece per step (plain at
      // pos 1, ## after); a no-match step collapses the word to one [UNK]
      "WITH RECURSIVE v AS (SELECT * FROM (VALUES " +
      wordpieceVocabValuesSql + ") t(surface, cont)), " +
      "tok AS (SELECT doc_id, word FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS word FROM documents) t " +
      "WHERE word <> ''), " +
      "ty AS (SELECT DISTINCT word FROM tok), " +
      "seg AS (SELECT word, CAST(1 AS BIGINT) AS pos, " +
      "CAST(0 AS BIGINT) AS np, FALSE AS unk FROM ty " +
      "UNION ALL SELECT word, " +
      "CASE WHEN bl IS NULL THEN len(word) + 1 ELSE pos + bl END AS pos, " +
      "CASE WHEN bl IS NULL THEN 1 ELSE np + 1 END AS np, " +
      "bl IS NULL AS unk FROM " +
      "(SELECT word, pos, np, " +
      "(SELECT max(len(surface)) FROM v WHERE v.cont = (s.pos > 1) " +
      "AND substr(s.word, CAST(s.pos AS INT), len(surface)) = surface) AS bl " +
      "FROM seg s WHERE s.pos <= len(s.word) AND NOT s.unk) t), " +
      "fin AS (SELECT word, np, unk FROM seg WHERE pos > len(word)) " +
      "SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(fin.np) AS BIGINT) AS n_pieces, " +
      "CAST(SUM(CASE WHEN fin.unk THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_unk_words " +
      "FROM tok JOIN fin USING (word) GROUP BY 1 ORDER BY 1"),
    // Per-language vocabulary: top-10 terms per lang with df >= 3 —
    // WindowGroupLimit prunes each language's term list map-side
    Gate("x_vocab_lang", (s, d) =>
      graft.ext.TextAnalysis.vocabularyByGroup(Tables.load(s, d, "documents"),
        "doc_id", "text", "lang", minDf = 3, k = 10)
        .orderBy(col("lang"), col("rank")),
      // same grouped aggregation; per-lang rank window
      "WITH tf AS (SELECT lang, doc_id, term, COUNT(*) AS cnt FROM " +
      "(SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t " +
      "GROUP BY 1, 2, 3), " +
      "v AS (SELECT lang, term, CAST(SUM(cnt) AS BIGINT) AS tf, COUNT(*) AS df " +
      "FROM tf GROUP BY 1, 2 HAVING COUNT(*) >= 3) " +
      "SELECT lang, term, tf, df, rank FROM (" +
      "SELECT lang, term, tf, df, " +
      "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tf DESC, term) AS rank FROM v) t " +
      "WHERE rank <= 10 ORDER BY lang, rank"),
    // Winsorized aggregation: o_totalprice clamped to each priority's
    // [p05, p95] before summation (floor-quantized cents — decimal CAST
    // of an interpolated quantile would round-diverge across engines)
    Gate("x_winsorize", (s, d) => {
      val w = graft.ext.Profile.winsorize(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("value")),
        "priority", "value", lo = 0.05, hi = 0.95)
      w.groupBy(col("priority"))
        .agg(countAll.as("n"),
          sum(floor(col("value") * 100).cast("long")).as("su"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .withColumn("total", col("su").cast("double") / 100)
        .drop("su")
        .orderBy(col("priority"))
    },
      // same quantile cutoffs (quantile_cont == Spark percentile), same
      // clamp, same floor-cent summation
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "quantile_cont(o_totalprice, 0.05) AS qlo, quantile_cont(o_totalprice, 0.95) AS qhi " +
      "FROM orders GROUP BY 1), " +
      "c AS (SELECT o.o_orderpriority AS priority, " +
      "LEAST(GREATEST(o.o_totalprice, q.qlo), q.qhi) AS v " +
      "FROM orders o JOIN q ON o.o_orderpriority = q.priority) " +
      "SELECT priority, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v, " +
      "CAST(SUM(CAST(FLOOR(v * 100) AS BIGINT)) AS DOUBLE) / 100 AS total " +
      "FROM c GROUP BY 1 ORDER BY 1"),
    // Shared-edge histogram: order-value distribution per priority over
    // 20 global bins — one tiny min/max pass broadcast back, one
    // (group, bin) hash-agg; binning itself is codegen double arithmetic
    Gate("x_histogram", (s, d) =>
      graft.ext.Profile.histogram(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v")),
        "priority", "v", bins = 20)
        .orderBy(col("priority"), col("bin")),
      // same global edges, same double binning arithmetic, same right-closed
      // last bin
      "WITH e AS (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS lo, " +
      "CAST(MAX(o_totalprice) AS DOUBLE) AS hi FROM orders), " +
      "b AS (SELECT o_orderpriority AS priority, " +
      "LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - e.lo) / ((e.hi - e.lo) / CAST(20 AS DOUBLE))) AS BIGINT), 19) AS bin, " +
      "e.lo AS lo, (e.hi - e.lo) / CAST(20 AS DOUBLE) AS w " +
      "FROM orders, e) " +
      "SELECT priority, bin, lo + CAST(bin AS DOUBLE) * w AS bin_lo, " +
      "COUNT(*) AS n FROM b GROUP BY 1, 2, 3 ORDER BY priority, bin"),
    // Per-group least-squares trend (price vs order day): the whole fit
    // is ONE exact-sum aggregation; slope/intercept algebra runs on the
    // five sufficient statistics per group
    Gate("x_regress", (s, d) =>
      graft.ext.Profile.linearFit(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("x"),
          col("o_totalprice").as("y")),
        "priority", "x", "y")
        .orderBy(col("priority")),
      // same five exact sufficient statistics (BIGINT / DECIMAL sums), same
      // closed-form double algebra — identical IEEE operands, identical fit
      "WITH s AS (SELECT o_orderpriority AS priority, " +
      "CAST(COUNT(*) AS DOUBLE) AS n, " +
      "CAST(SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)) AS DOUBLE) AS sx, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sy, " +
      "CAST(SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS DECIMAL(18,0)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy, " +
      "CAST(SUM(CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) * CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)) AS DOUBLE) AS sxx " +
      "FROM orders GROUP BY 1) " +
      "SELECT priority, CAST(n AS BIGINT) AS n, " +
      "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope, " +
      "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept " +
      "FROM s ORDER BY priority"),
    // Box-plot profile per priority: exact quartiles, Tukey fences,
    // outlier counts — one percentile agg + one broadcast-fence scan
    Gate("x_boxplot", (s, d) =>
      graft.ext.Profile.boxplot(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v")),
        "priority", "v")
        .orderBy(col("priority")),
      // same quantile_cont interpolation, same double fence arithmetic
      "WITH q AS (SELECT o_orderpriority AS priority, COUNT(*) AS n, " +
      "quantile_cont(o_totalprice, 0.25) AS q1, quantile_cont(o_totalprice, 0.5) AS med, " +
      "quantile_cont(o_totalprice, 0.75) AS q3 FROM orders GROUP BY 1), " +
      "f AS (SELECT *, q1 - 1.5::DOUBLE * (q3 - q1) AS lo_fence, " +
      "q3 + 1.5::DOUBLE * (q3 - q1) AS hi_fence FROM q) " +
      "SELECT f.priority, f.n, f.q1, f.med, f.q3, f.lo_fence, f.hi_fence, " +
      "CAST(SUM(CASE WHEN o.o_totalprice < f.lo_fence OR o.o_totalprice > f.hi_fence " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_out " +
      "FROM orders o JOIN f ON o.o_orderpriority = f.priority " +
      "GROUP BY 1, 2, 3, 4, 5, 6, 7 ORDER BY 1"),
    // MAD robust outliers per priority: median / median-of-deviations
    // fences — the heavy-tail-safe twin of x_boxplot. k=1.5 (not the
    // 5.0 default) so the fence actually bites on the near-uniform
    // price distribution (~25% of rows flagged, count exercised)
    Gate("x_mad", (s, d) =>
      graft.ext.Profile.madOutliers(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v")),
        "priority", "v", k = 1.5)
        .orderBy(col("priority")),
      // same quantile_cont interpolation as x_boxplot, twice (median,
      // then median of absolute deviations); fence compare on identical
      // exact-rounded doubles
      "WITH m AS (SELECT o_orderpriority AS priority, " +
      "quantile_cont(o_totalprice, 0.5) AS med FROM orders GROUP BY 1), " +
      "d AS (SELECT m.priority, m.med, abs(o.o_totalprice - m.med) AS ad " +
      "FROM orders o JOIN m ON o.o_orderpriority = m.priority), " +
      "s AS (SELECT priority, med, COUNT(*) AS n, quantile_cont(ad, 0.5) AS mad " +
      "FROM d GROUP BY 1, 2) " +
      "SELECT s.priority, CAST(s.n AS BIGINT) AS n, s.med, s.mad, " +
      "CAST(SUM(CASE WHEN d.ad > 1.5::DOUBLE * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out " +
      "FROM d JOIN s ON d.priority = s.priority " +
      "GROUP BY 1, 2, 3, 4 ORDER BY 1"),
    // Quantile normalization across priorities: groups equalized
    // in-plan (id-ordered truncation to the min group size — an
    // unbiased subsample), then every group's distribution forced to
    // the cross-group rank means; a global threshold then cuts every
    // priority at the same quantile
    Gate("x_qnorm", (s, d) => {
      val o = ord(s, d).select(col("o_orderpriority").as("priority"),
        col("o_orderkey").as("id"), col("o_totalprice").as("v"))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("priority")).orderBy(col("id"))
      val numbered = o.withColumn("__i", row_number().over(wn))
      val minCnt = numbered.groupBy(col("priority"))
        .agg(countAll.as("c")).agg(min(col("c")).as("mc"))
      val eq = numbered.crossJoin(broadcast(minCnt))
        .filter(col("__i") <= col("mc"))
        .select(col("priority"), col("id"), col("v"))
      graft.ext.Normalize.quantileNormalize(eq, "priority", "v", "id")
        .orderBy(col("priority"), col("rank"))
    },
      // rank means sum in quantized DECIMAL (exact 2-decimal money, the
      // round is a no-op) and divide once in IEEE — bit parity
      "WITH o AS (SELECT o_orderpriority AS priority, o_orderkey AS id, " +
      "o_totalprice AS v, ROW_NUMBER() OVER (PARTITION BY o_orderpriority " +
      "ORDER BY o_orderkey) AS i FROM orders), " +
      "mc AS (SELECT MIN(c) AS mc FROM (SELECT COUNT(*) AS c FROM o GROUP BY priority) t), " +
      "eq AS (SELECT priority, id, v FROM o CROSS JOIN mc WHERE i <= mc), " +
      "t AS (SELECT priority, id, v, ROW_NUMBER() OVER (PARTITION BY priority " +
      "ORDER BY v, id) AS r FROM eq), " +
      "ref AS (SELECT r, CAST(SUM(CAST(ROUND(v, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS nv " +
      "FROM t GROUP BY 1) " +
      "SELECT t.priority, t.id, t.v, CAST(t.r AS BIGINT) AS rank, ref.nv " +
      "FROM t JOIN ref USING (r) ORDER BY 1, 4"),
    // Per-priority Gini of order revenue: rank-form numerator rides the
    // same hi/lo split-word sums as x_corr (rank products pass 2^63 at
    // scale); tie order is provably irrelevant to the sum
    Gate("x_gini", (s, d) =>
      graft.ext.Profile.gini(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v")),
        "priority", "v")
        .orderBy(col("priority")),
      // rank-form Gini over integer cents: ROW_NUMBER tie order is
      // irrelevant (equal values sum the same over consecutive ranks);
      // rank products ride the same hi/lo split-word sums as x_corr
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM orders), " +
      "r AS (SELECT priority, v, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY v) AS BIGINT) AS i FROM q) " +
      "SELECT priority, CAST(COUNT(*) AS BIGINT) AS n, " +
      "(2.0::DOUBLE * (CAST(SUM((i * v) >> 32) AS DOUBLE) * 4294967296.0::DOUBLE + " +
      "CAST(SUM((i * v) & 4294967295) AS DOUBLE)) - " +
      "(CAST(COUNT(*) AS DOUBLE) + 1.0::DOUBLE) * CAST(SUM(v) AS DOUBLE)) / " +
      "(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)) AS gini " +
      "FROM r GROUP BY 1 ORDER BY 1"),
    // Two-sample KS distance urgent-vs-rest on order value: exact
    // integer |n_b·cum_a − n_a·cum_b| maximized over the distinct-value
    // table, ONE division at the very end
    Gate("x_kstest", (s, d) => {
      val o = ord(s, d)
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      graft.ext.Stats.ksTest(
        o.filter(urgent).select(col("o_totalprice")),
        o.filter(!urgent).select(col("o_totalprice")),
        "o_totalprice")
    },
      // KS stays integer until the final division: per-value counts,
      // running sums over the distinct-value table, max of
      // |n_b*cum_a - n_a*cum_b|
      "WITH u AS (SELECT " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v, " +
      "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END AS t " +
      "FROM orders), " +
      "p AS (SELECT v, SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS ca, " +
      "SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS cb FROM u GROUP BY 1), " +
      "c AS (SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma, " +
      "SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb, " +
      "SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM p) " +
      "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
      "CAST(MAX(ABS(nb * cuma - na * cumb)) AS BIGINT) AS d_num, " +
      "CAST(MAX(ABS(nb * cuma - na * cumb)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS d " +
      "FROM c GROUP BY na, nb"),
    // the binned-ECDF KS form for dense domains: 16 shared-edge
    // fixed-width buckets (Drift.numericPsi's edges), integer cumsums
    // over the 16-row bucket table, same exact d_num/d contract
    Gate("x_kstest_binned", (s, d) => {
      val o = ord(s, d)
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      graft.ext.Stats.ksTestBinned(
        o.filter(urgent).select(col("o_totalprice")),
        o.filter(!urgent).select(col("o_totalprice")),
        "o_totalprice", bins = 16)
    },
      // same max-|n_b*cum_a - n_a*cum_b| contract over 16 shared-edge
      // fixed-width buckets (the numericPsi bin arithmetic)
      "WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS x, " +
      "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END AS t " +
      "FROM orders), " +
      "r AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM s), " +
      "p AS (SELECT CASE WHEN hi = lo THEN 0 ELSE LEAST(15, " +
      "CAST(FLOOR((x - lo) / (hi - lo) * 16) AS INT)) END AS bin, " +
      "SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS ca, " +
      "SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS cb " +
      "FROM s CROSS JOIN r GROUP BY 1), " +
      "c AS (SELECT SUM(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma, " +
      "SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb, " +
      "SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM p) " +
      "SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, " +
      "CAST(MAX(ABS(nb * cuma - na * cumb)) AS BIGINT) AS d_num, " +
      "CAST(MAX(ABS(nb * cuma - na * cumb)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS d " +
      "FROM c GROUP BY na, nb"),
    // Pearson r over the same frame: adds the exact Σy² statistic;
    // sqrt is IEEE-correctly-rounded everywhere, so identical sums
    // give identical r
    Gate("x_corr", (s, d) =>
      graft.ext.Profile.correlation(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("x"),
          col("o_totalprice").as("y")),
        "priority", "x", "y")
        .orderBy(col("priority")),
      // y quantized to integer cents -> every sum an exact INTEGER; the
      // product sums split into hi/lo 32-bit word sums (each < 2^53 ->
      // exact doubles) and recombine as hi*2^32 + lo, ONE rounding — the
      // direct HUGEINT/DECIMAL(38)->DOUBLE cast is off by 1 ulp in DuckDB
      // past 2^63; sqrt correctly rounded everywhere
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc FROM orders), " +
      "s AS (SELECT priority, CAST(COUNT(*) AS DOUBLE) AS n, " +
      "CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(yc) AS DOUBLE) AS sy, " +
      "CAST(SUM((x * yc) >> 32) AS DOUBLE) * 4294967296.0::DOUBLE + CAST(SUM((x * yc) & 4294967295) AS DOUBLE) AS sxy, " +
      "CAST(SUM(x * x) AS DOUBLE) AS sxx, " +
      "CAST(SUM((yc * yc) >> 32) AS DOUBLE) * 4294967296.0::DOUBLE + CAST(SUM((yc * yc) & 4294967295) AS DOUBLE) AS syy " +
      "FROM q GROUP BY 1) " +
      "SELECT priority, CAST(n AS BIGINT) AS n, " +
      "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS r " +
      "FROM s ORDER BY priority"),
    // Sequence packing: 512-token context windows over the md5-shuffled
    // corpus — the distributed prefix sum must land every document at
    // exactly the offset DuckDB's single global running sum assigns
    Gate("x_pack", (s, d) =>
      graft.ext.TextAnalysis.packSequences(Tables.load(s, d, "documents"),
        "doc_id", "text", budget = 512, buckets = 16)
        .orderBy(col("doc_id")),
      // one global running sum over the md5 order replays the bucketed
      // prefix sum; // and % keep the layout in integer arithmetic
      "WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, " +
      "len(string_split(text, ' ')) AS n_tokens FROM documents), " +
      "c AS (SELECT doc_id, n_tokens, " +
      "SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS prev FROM t) " +
      "SELECT doc_id, n_tokens, CAST(prev // 512 AS BIGINT) AS seq_id, " +
      "CAST(prev % 512 AS BIGINT) AS seq_off FROM c ORDER BY doc_id"),
    // Weight-proportional systematic draw: one row per 256 tokens along
    // the md5-ordered weight line — the bucketed prefix sum must put
    // every span boundary exactly where the single global running sum
    // does
    Gate("x_wsample", (s, d) =>
      graft.ext.Sampling.weightedSystematic(
        Tables.load(s, d, "documents").select(col("doc_id"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("w")),
        "doc_id", "w", step = 256, buckets = 16)
        .orderBy(col("doc_id")),
      // same md5 draw order and token weights as x_pack; the single
      // global running sum replays the bucketed prefix sum, then the same
      // long-division span test picks the rows
      "WITH t AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h, " +
      "len(string_split(text, ' ')) AS w FROM documents), " +
      "c AS (SELECT doc_id, w, " +
      "SUM(w) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - w AS g FROM t) " +
      "SELECT doc_id, CAST(w AS BIGINT) AS weight, CAST(g AS BIGINT) AS g FROM c " +
      "WHERE (g + w) // 256 > g // 256 ORDER BY doc_id"),
    // DSIR importance selection: raw docs ranked by how much their
    // word distribution leans toward the target slice (lang='en');
    // per-word log-ratios round to 6 decimals then sum as DECIMAL, so
    // the ranking replays exactly on any engine
    Gate("x_dsir", (s, d) =>
      graft.ext.Sampling.dsirSelect(Tables.load(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", n = 100)
        .orderBy(col("weight").desc, col("doc_id")),
      // add-one-smoothed word log-ratios vs the lang='en' target slice,
      // rounded to 6 decimals then decimal-summed per doc — identical
      // integer operands, one division, one ln; the sum replays exactly
      "WITH tok AS (SELECT doc_id, lang = 'en' AS t, " +
      "unnest(string_split(text, ' ')) AS w FROM documents), " +
      "v AS (SELECT w, COUNT(*) AS r, " +
      "SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tc FROM tok GROUP BY 1), " +
      "tot AS (SELECT SUM(r) AS rt, SUM(tc) AS tt, COUNT(*) AS vc FROM v), " +
      "s AS (SELECT w, CAST(ROUND(LN((CAST(tc+1 AS DOUBLE) * (rt+vc)) / " +
      "(CAST(r+1 AS DOUBLE) * (tt+vc))), 6) AS DECIMAL(18,6)) AS lr " +
      "FROM v CROSS JOIN tot), " +
      "dc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2) " +
      "SELECT doc_id, ROUND(CAST(SUM(lr * c) AS DOUBLE), 6) AS weight " +
      "FROM dc JOIN s USING (w) GROUP BY 1 " +
      "ORDER BY weight DESC, doc_id LIMIT 100"),
    // Deterministic shuffle-shard export positions: shard = portable
    // multiplicative hash bucket, seq = draw order within the shard —
    // numShards independent window sorts, no global ordering anywhere
    Gate("x_shard", (s, d) =>
      graft.ext.Sampling.shuffleShards(
        Tables.load(s, d, "documents").select(col("doc_id")),
        "doc_id", numShards = 8,
        hashOf = c => pmod(c.cast("long") * 2654435761L, lit(4294967296L)))
        .orderBy(col("shard"), col("seq")),
      // portable multiplicative hash: shard bucket + rank within shard
      "WITH h AS (SELECT doc_id, " +
      "(doc_id * 2654435761) % 4294967296 AS hh FROM documents) " +
      "SELECT doc_id, hh % 8 AS shard, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS BIGINT) AS seq " +
      "FROM h ORDER BY shard, seq"),
    // PMI collocations (log-free lift ranking): top adjacent pairs that
    // outrun their unigram frequencies — the word2vec phrase step
    Gate("x_colloc", (s, d) =>
      graft.ext.TextAnalysis.collocations(Tables.load(s, d, "documents"),
        "text", minCount = 5L, k = 20),
      // lift = (c12*T*T)/(N*c1*c2): five exact integer counts through one
      // fixed left-associated double expression — log-free PMI ranking
      "WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents), " +
      "uni AS (SELECT u AS w, COUNT(*) AS c FROM " +
      "(SELECT unnest(t) AS u FROM tk) GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS t_tok, " +
      "CAST(SUM(CASE WHEN len(t) > 1 THEN len(t) - 1 ELSE 0 END) AS BIGINT) AS n_big FROM tk), " +
      "pr AS (SELECT unnest([t[i] for i in range(1, len(t))]) AS w1, " +
      "unnest([t[i + 1] for i in range(1, len(t))]) AS w2 FROM tk), " +
      "big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM pr " +
      "GROUP BY 1, 2 HAVING COUNT(*) >= 5) " +
      "SELECT b.w1, b.w2, b.c12, CAST(c1.c AS BIGINT) AS c1, CAST(c2.c AS BIGINT) AS c2, " +
      "(CAST(b.c12 AS DOUBLE) * CAST(t_tok AS DOUBLE) * CAST(t_tok AS DOUBLE)) / " +
      "(CAST(n_big AS DOUBLE) * CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)) AS lift " +
      "FROM big b JOIN uni c1 ON b.w1 = c1.w JOIN uni c2 ON b.w2 = c2.w, tot " +
      "ORDER BY lift DESC, b.w1, b.w2 LIMIT 20"),
    // Smoothed target encoding per customer: rare customers shrink to
    // the global mean under pseudo-count 10; every sum exact cents
    Gate("x_target_encode", (s, d) =>
      graft.ext.Encode.targetEncode(
        ord(s, d).select(col("o_custkey"), col("o_totalprice")),
        "o_custkey", "o_totalprice", m = 10L)
        .orderBy(col("category")),
      // blend = (sy + m*mu)/(n+m)/100 with mu = syt/nt — same fixed
      // double expression tree over the same exact integer sums
      "WITH q AS (SELECT o_custkey AS category, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y FROM orders), " +
      "c AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(y) AS BIGINT) AS sy FROM q GROUP BY 1), " +
      "t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(sy) AS BIGINT) AS syt FROM c) " +
      "SELECT category, n, (CAST(sy AS DOUBLE) + 10.0::DOUBLE * " +
      "(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))) / CAST(n + 10 AS DOUBLE) " +
      "/ 100.0::DOUBLE AS enc FROM c, t ORDER BY category"),
    // Reciprocal rank fusion of a price-ranked and a recency-ranked
    // top-100: femto-unit INTEGER reciprocals — the fused score is an
    // exact integer sum, no double summation order anywhere
    Gate("x_rrf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = ord(s, d)
      def top(sort: Column*) = o.orderBy(sort: _*).limit(100)
        .select(col("o_orderkey").as("doc"),
          row_number().over(Window.orderBy(sort: _*)).cast("long").as("rank"))
      val byPrice = top(col("o_totalprice").desc, col("o_orderkey"))
      val byDate = top(col("o_orderdate").desc, col("o_orderkey"))
      graft.ext.Rank.rrfFuse(Seq(byPrice, byDate), "doc", "rank",
        k0 = 60L, k = 20)
    },
      // femto-unit integer reciprocals: 1e15 // (60 + rank) summed as
      // exact integers; the double column is a rendering of the sum
      "WITH a AS (SELECT id, r FROM (SELECT o_orderkey AS id, " +
      "ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS r " +
      "FROM orders) t WHERE r <= 100), " +
      "b AS (SELECT id, r FROM (SELECT o_orderkey AS id, " +
      "ROW_NUMBER() OVER (ORDER BY o_orderdate DESC, o_orderkey) AS r " +
      "FROM orders) t WHERE r <= 100), " +
      "u AS (SELECT id, 1000000000000000 // (60 + r) AS f FROM a " +
      "UNION ALL SELECT id, 1000000000000000 // (60 + r) FROM b) " +
      "SELECT id, CAST(COUNT(*) AS BIGINT) AS n_runs, " +
      "CAST(SUM(f) AS BIGINT) AS rrf_femto, " +
      "CAST(CAST(SUM(f) AS BIGINT) AS DOUBLE) / 1.0e15 AS rrf " +
      "FROM u GROUP BY 1 ORDER BY rrf_femto DESC, id LIMIT 20"),
    // 7-day rolling distinct users from per-day HLL registers: each
    // day's window sketch is a per-bucket MAX over the trailing week —
    // exactly the sketch of the window's raw data
    Gate("x_rolling_distinct", (s, d) =>
      graft.ext.Hll.rollingDistinct(ev(s, d), "ts", "user_id",
        windowSize = 7)
        .orderBy(col("day")),
      // per-day registers, trailing-week MAX merge via the day range
      // join, same exact-unit harmonic estimate per day
      "WITH e AS (SELECT " +
      "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, " +
      "md5(CAST(user_id AS VARCHAR)) AS x FROM events), " +
      "r AS (SELECT day, CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      "FROM e GROUP BY 1, 2), " +
      "d AS (SELECT DISTINCT day FROM r), " +
      "w AS (SELECT d.day, r.bucket, MAX(r.m) AS m FROM d JOIN r " +
      "ON r.day BETWEEN d.day - 6 AND d.day GROUP BY 1, 2), " +
      "s AS (SELECT day, COUNT(*) AS np, " +
      "SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM w GROUP BY 1) " +
      "SELECT CAST(day AS BIGINT) AS day, CAST(np AS BIGINT) AS n_present, " +
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) " +
      "* 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM s ORDER BY day"),
    // Level-shift changepoint per event type: integer-exact binary-
    // segmentation statistic over the daily series, earliest-day ties
    Gate("x_changepoint", (s, d) =>
      graft.ext.Stats.changepoint(ev(s, d), "ts", "event_type")
        .orderBy(col("event_type")),
      // prefix-sum contrast statistic in pure BIGINT; earliest-day ties
      "WITH daily AS (SELECT event_type, " +
      "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, " +
      "COUNT(*) AS c FROM events GROUP BY 1, 2), " +
      "p AS (SELECT event_type, day, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS nl, " +
      "CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl, " +
      "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, " +
      "CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s FROM daily), " +
      "t AS (SELECT event_type, day, nl, n, " +
      "((n - nl) * sl - nl * (s - sl)) AS diff FROM p WHERE nl < n), " +
      "sc AS (SELECT event_type, day, nl, n, " +
      "(diff * diff) // (nl * (n - nl)) AS t_stat FROM t), " +
      "pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type " +
      "ORDER BY t_stat DESC, day) AS rk FROM sc) " +
      "SELECT event_type, CAST(day AS BIGINT) AS split_day, " +
      "CAST(t_stat AS BIGINT) AS t_stat, nl AS n_l, " +
      "CAST(n - nl AS BIGINT) AS n_r FROM pick WHERE rk = 1 ORDER BY event_type"),
    // Explicit GROUPING SETS (the free-form plane list beyond
    // rollup/cube) with GROUPING() disambiguation — one Expand scan
    Gate("x_gsets", (s, d) => { Tables.register(s, d); s.sql(
      """SELECT y, p, CAST(GROUPING(y) AS BIGINT) AS gy,
        |       CAST(GROUPING(p) AS BIGINT) AS gp,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM (SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
        |             o_orderpriority AS p, o_totalprice FROM orders) t
        |GROUP BY GROUPING SETS ((y, p), (y), (p), ())
        |ORDER BY gy, gp, y, p""".stripMargin) },
      "SELECT y, p, CAST(GROUPING(y) AS BIGINT) AS gy, " +
      "CAST(GROUPING(p) AS BIGINT) AS gp, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev " +
      "FROM (SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y, " +
      "o_orderpriority AS p, o_totalprice FROM orders) t " +
      "GROUP BY GROUPING SETS ((y, p), (y), (p), ()) ORDER BY 1"),
    // IR scorecard for the price-ranked run against the %97 relevance
    // set: MRR as the exact femto reciprocal, P@10 / R@10 as single
    // divisions of exact counts
    Gate("x_ir_eval", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = ord(s, d)
      val sortCols = Seq(col("o_totalprice").desc, col("o_orderkey"))
      val run = o.orderBy(sortCols: _*).limit(100)
        .select(col("o_orderkey").as("doc"),
          row_number().over(Window.orderBy(sortCols: _*)).cast("long").as("rank"))
      val rel = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("doc"))
      graft.ext.Rank.evalRun(run, rel, "doc", "rank", k = 10)
    },
      "WITH r AS (SELECT id, rk FROM (SELECT o_orderkey AS id, " +
      "ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
      "FROM orders) t WHERE rk <= 100), " +
      "j AS (SELECT rk FROM r WHERE id % 97 = 0), " +
      "nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM orders WHERE o_orderkey % 97 = 0), " +
      "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit, MIN(rk) AS first_rank, " +
      "SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS hits FROM j) " +
      "SELECT n_rel, n_hit, CAST(first_rank AS BIGINT) AS first_rank, " +
      "CAST(COALESCE(1000000000000000 // first_rank, 0) AS BIGINT) AS mrr_femto, " +
      "CAST(COALESCE(hits, 0) AS DOUBLE) / 10.0::DOUBLE AS p_at_k, " +
      "CAST(COALESCE(hits, 0) AS DOUBLE) / CAST(n_rel AS DOUBLE) AS r_at_k " +
      "FROM agg, nr"),
    // position-weighted retrieval scorecard over the same run/relevance
    // pair: femto-quantized log2 discounts -> exact integer DCG/IDCG
    Gate("x_ndcg", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val o = ord(s, d)
      val sortCols = Seq(col("o_totalprice").desc, col("o_orderkey"))
      val run = o.orderBy(sortCols: _*).limit(100)
        .select(col("o_orderkey").as("doc"),
          row_number().over(Window.orderBy(sortCols: _*)).cast("long").as("rank"))
      val rel = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("doc"))
      graft.ext.Rank.ndcgAtK(run, rel, "doc", "rank", k = 10)
    },
      // femto-quantized log2 discounts on both sums; ndcg is a division
      // of identical exact integers
      "WITH r AS (SELECT id, rk FROM (SELECT o_orderkey AS id, " +
      "ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
      "FROM orders) t WHERE rk <= 100), " +
      "j AS (SELECT rk FROM r WHERE id % 97 = 0 AND rk <= 10), " +
      "nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM orders WHERE o_orderkey % 97 = 0), " +
      "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit_k, " +
      "CAST(COALESCE(SUM(CAST(FLOOR(1e15 / log2(CAST(rk AS DOUBLE) + 1.0::DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS dcg_femto FROM j), " +
      "ideal AS (SELECT CAST(CASE WHEN n_rel > 0 THEN COALESCE(list_aggregate(" +
      "[CAST(FLOOR(1e15 / log2(CAST(i AS DOUBLE) + 1.0::DOUBLE)) AS BIGINT) " +
      "for i in range(1, CAST(LEAST(10, n_rel) AS BIGINT) + 1)], 'sum'), 0) " +
      "ELSE 0 END AS BIGINT) AS idcg_femto FROM nr) " +
      "SELECT n_rel, n_hit_k, dcg_femto, idcg_femto, " +
      "CASE WHEN idcg_femto > 0 THEN CAST(dcg_femto AS DOUBLE) / " +
      "CAST(idcg_femto AS DOUBLE) ELSE 0.0::DOUBLE END AS ndcg " +
      "FROM agg, nr, ideal"),
    // Linear-interpolation gap fill: every 13th hour of the value series
    // deleted, refilled by exact floor-division interpolation
    Gate("x_interp", (s, d) => {
      val d2c = (col("value").cast(D) * lit(100))
        .cast(org.apache.spark.sql.types.DecimalType(20, 0)).cast("long")
      val series = ev(s, d).select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("hour"), d2c.as("__c"))
        .groupBy(col("event_type"), col("hour"))
        .agg(sum(col("__c")).as("v"))
        .filter(col("hour") % 13 =!= 0)
      val spine = series.groupBy(col("event_type"))
        .agg(min(col("hour")).as("__mn"), max(col("hour")).as("__mx"))
        .select(col("event_type"),
          explode(expr("sequence(__mn, __mx)")).as("hour"))
      val grid = spine.join(series, Seq("event_type", "hour"), "left")
      graft.ext.TimeSeries.interpolate(grid, "event_type", "hour", "v")
        .orderBy(col("event_type"), col("hour"))
    },
      // same windows with IGNORE NULLS; // floors exactly like the
      // spelled-out floor division on the Spark side
      "WITH s0 AS (SELECT event_type, " +
      "epoch_us(ts) // 3600000000 AS hour, " +
      "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v " +
      "FROM events GROUP BY 1, 2), " +
      "s AS (SELECT * FROM s0 WHERE hour % 13 <> 0), " +
      "b AS (SELECT event_type, MIN(hour) AS mn, MAX(hour) AS mx FROM s GROUP BY 1), " +
      "sp AS (SELECT event_type, unnest(range(mn, mx + 1)) AS hour FROM b), " +
      "g AS (SELECT sp.event_type, sp.hour, s.v FROM sp LEFT JOIN s " +
      "ON sp.event_type = s.event_type AND sp.hour = s.hour), " +
      "w AS (SELECT *, " +
      "LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour " +
      "ROWS UNBOUNDED PRECEDING) AS pv, " +
      "LAST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) " +
      "OVER (PARTITION BY event_type ORDER BY hour ROWS UNBOUNDED PRECEDING) AS pt, " +
      "FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, " +
      "FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS) " +
      "OVER (PARTITION BY event_type ORDER BY hour " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt FROM g) " +
      "SELECT event_type, CAST(hour AS BIGINT) AS hour, " +
      "CAST(CASE WHEN v IS NOT NULL THEN v " +
      "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN " +
      "pv + ((nv - pv) * (hour - pt)) // (nt - pt) END AS BIGINT) AS filled, " +
      "v IS NULL AS was_gap, CAST(v AS BIGINT) AS v " +
      "FROM w ORDER BY 1, 2"),
    // Latest row per key through max_by / arg_max: the recency pick
    // rides ONE composite long (day*1e10 + key — total order, no struct
    // comparator portability bet), one hash aggregation, no window
    Gate("x_latest", (s, d) => {
      val ordKey = datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).cast("long") * lit(10000000000L) +
        col("o_orderkey")
      ord(s, d).filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), ordKey.as("__ok"),
          col("o_totalprice").cast(D).as("__p"))
        .groupBy(col("o_custkey"))
        .agg(max(col("__ok")).as("last_ok"),
          max_by(col("__p"), col("__ok")).cast("double").as("last_price"))
        .select(col("o_custkey"),
          expr("last_ok div 10000000000L").as("last_day"),
          pmod(col("last_ok"), lit(10000000000L)).cast("long").as("last_key"),
          col("last_price"))
        .orderBy(col("o_custkey"))
    },
      "WITH q AS (SELECT o_custkey, " +
      "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) * 10000000000 " +
      "+ o_orderkey AS ok, CAST(o_totalprice AS DECIMAL(18,2)) AS p " +
      "FROM orders WHERE o_custkey <= 200) " +
      "SELECT o_custkey, CAST(MAX(ok) // 10000000000 AS BIGINT) AS last_day, " +
      "CAST(MAX(ok) % 10000000000 AS BIGINT) AS last_key, " +
      "CAST(arg_max(p, ok) AS DOUBLE) AS last_price " +
      "FROM q GROUP BY 1 ORDER BY 1"),
    // Daily bounce rate: users with exactly one event that day over all
    // active users — two-level aggregation, one exact division
    Gate("x_bounce", (s, d) =>
      ev(s, d).select(
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"), col("user_id"))
        .groupBy(col("day"), col("user_id")).agg(countAll.as("__c"))
        .groupBy(col("day"))
        .agg(countAll.as("n_users"),
          sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_single"))
        .select(col("day"), col("n_users"), col("n_single"),
          (col("n_single").cast("double") / col("n_users").cast("double"))
            .as("bounce_rate"))
        .orderBy(col("day")),
      "WITH u AS (SELECT " +
      "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day, " +
      "user_id, COUNT(*) AS c FROM events GROUP BY 1, 2) " +
      "SELECT CAST(day AS BIGINT) AS day, CAST(COUNT(*) AS BIGINT) AS n_users, " +
      "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single, " +
      "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "CAST(COUNT(*) AS DOUBLE) AS bounce_rate " +
      "FROM u GROUP BY 1 ORDER BY 1"),
    // Temperature (alpha = 0.5) mixture rebalance: per-language quotas
    // proportional to sqrt(n); the one order-dependent double sum runs
    // in stratum order on both engines
    Gate("x_temperature", (s, d) =>
      graft.ext.Sampling.temperatureSample(
        Tables.load(s, d, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", total = 300L)
        .select(col("lang"), col("doc_id"), col("quota"), col("rank"))
        .orderBy(col("lang"), col("rank")),
      // quota = floor(total * sqrt(n) / W) with W the stratum-ordered
      // running sum's last value; the draw is the x_quota md5 rank
      "WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1), " +
      "w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS w, " +
      "SUM(SQRT(CAST(n AS DOUBLE))) OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM c), " +
      "q AS (SELECT lang, CAST(FLOOR(CAST(300 AS DOUBLE) * w / (SELECT MAX(cum) FROM w)) AS BIGINT) AS quota FROM w), " +
      "r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang " +
      "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank FROM documents) " +
      "SELECT r.lang, r.doc_id, q.quota, r.rank FROM r JOIN q ON r.lang = q.lang " +
      "WHERE r.rank <= q.quota ORDER BY r.lang, r.rank"),
    // temperature mixing measured in TOKENS: sqrt(token-total) budgets
    // per language, spent along the md5 line — the mT5 recipe as
    // applied; exercises partial spend on every stratum
    Gate("x_temperature_tokens", (s, d) =>
      graft.ext.Sampling.temperatureSampleTokens(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "lang", "n_tokens", totalTokens = 4096L)
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          col("budget"), col("tok_start"))
        .orderBy(col("lang"), col("doc_id")),
      // sqrt over TOKEN totals, same ordered fold for W, then the
      // per-stratum token prefix spend (global window == bucketed prefix)
      "WITH c AS (SELECT lang, " +
      "CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n " +
      "FROM documents GROUP BY 1), " +
      "w AS (SELECT lang, SQRT(CAST(n AS DOUBLE)) AS w, " +
      "SUM(SQRT(CAST(n AS DOUBLE))) OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cum " +
      "FROM c), " +
      "q AS (SELECT lang, CAST(FLOOR(CAST(4096 AS DOUBLE) * w / " +
      "(SELECT MAX(cum) FROM w)) AS BIGINT) AS budget FROM w), " +
      "t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS tk, " +
      "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
      "g AS (SELECT doc_id, lang, tk, SUM(tk) OVER (PARTITION BY lang " +
      "ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - tk AS g FROM t) " +
      "SELECT g.lang, g.doc_id, CAST(g.tk AS BIGINT) AS n_tokens, " +
      "q.budget, CAST(g.g AS BIGINT) AS tok_start " +
      "FROM g JOIN q ON g.lang = q.lang WHERE g.g < q.budget " +
      "ORDER BY g.lang, g.doc_id"),
    // Trending items by smoothed recent/prior ratio over the JSON k
    // property — one conditional-sum pass, both windows together
    Gate("x_trending", (s, d) =>
      graft.ext.EventAnalytics.trending(
        ev(s, d).select(col("ts"),
          get_json_object(col("props"), "$.k").cast("long").as("k")),
        "ts", "k", splitTs = "2024-01-16 00:00:00", k = 15),
      "WITH q AS (SELECT ts, " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) AS item FROM events), " +
      "c AS (SELECT item, " +
      "CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c_prev, " +
      "CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c_now " +
      "FROM q GROUP BY 1) " +
      "SELECT item, c_prev, c_now, " +
      "CAST(c_now + 1 AS DOUBLE) / CAST(c_prev + 1 AS DOUBLE) AS score " +
      "FROM c ORDER BY score DESC, item LIMIT 15"),
    // Rare-category collapse: customers under 18 orders fold into OTHER
    // before any encoder sees them; summary proves the rewrite
    Gate("x_collapse", (s, d) => {
      val cat = ord(s, d).select(
        concat(lit("c"), col("o_custkey")).as("customer"),
        col("o_totalprice"))
      graft.ext.Encode.collapseRare(cat, "customer", minCount = 18L)
        .groupBy(col("customer"))
        .agg(countAll.as("n"),
          sum(col("o_totalprice").cast(D)).cast("double").as("total"))
        .orderBy(col("customer"))
    },
      "WITH c AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS customer, " +
      "o_totalprice FROM orders), " +
      "k AS (SELECT customer FROM c GROUP BY 1 HAVING COUNT(*) >= 18), " +
      "r AS (SELECT CASE WHEN k.customer IS NOT NULL THEN c.customer " +
      "ELSE 'OTHER' END AS customer, c.o_totalprice " +
      "FROM c LEFT JOIN k ON c.customer = k.customer) " +
      "SELECT customer, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM r GROUP BY 1 ORDER BY 1"),
    // Streaming bitmap fold: bit_or deltas into warehouse state —
    // idempotent under replay, serving EXACT click∩purchase overlap
    Gate("x_stream_bitmap", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_sbmp").toString)
      val bm = graft.streaming.EventStream.runBitmapIngest(s, d, wh,
        "user_bits")
      graft.ext.Bitmap.setOps(bm, "click", "purchase")
    },
      "WITH a AS (SELECT DISTINCT user_id AS k FROM events " +
      "WHERE event_type = 'click'), " +
      "b AS (SELECT DISTINCT user_id AS k FROM events " +
      "WHERE event_type = 'purchase') " +
      "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (k)) AS n_and, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM " +
      "(SELECT k FROM a UNION SELECT k FROM b) u) AS n_or"),
    // 2-D skyline per priority: orders beaten by no other on BOTH value
    // and recency — the oracle is the NOT EXISTS dominance definition
    Gate("x_skyline", (s, d) =>
      graft.ext.Skyline.front2d(
        ord(s, d).filter(col("o_custkey") <= 300)
          .select(col("o_orderpriority").as("priority"),
            col("o_totalprice").as("price"),
            datediff(to_date(col("o_orderdate")),
              lit("1992-01-01").cast("date")).cast("double").as("day")),
        "priority", "price", "day")
        .orderBy(col("priority"), col("x")),
      // the NOT EXISTS dominance definition IS the oracle; the running-max
      // window is the execution strategy
      "WITH p AS (SELECT DISTINCT o_orderpriority AS priority, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, " +
      "CAST(CAST(CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) " +
      "AS DOUBLE) AS DECIMAL(18,2)) * 100 AS BIGINT) AS y " +
      "FROM orders WHERE o_custkey <= 300) " +
      "SELECT priority, x, y FROM p p1 WHERE NOT EXISTS " +
      "(SELECT 1 FROM p p2 WHERE p2.priority = p1.priority " +
      "AND p2.x >= p1.x AND p2.y >= p1.y AND (p2.x > p1.x OR p2.y > p1.y)) " +
      "ORDER BY priority, x"),
    // Bitmap-index set algebra: EXACT audience overlap between two
    // priorities — the output is set cardinalities, so the oracle is
    // plain distinct-set algebra and the bitmap is an execution detail
    Gate("x_bitmap", (s, d) => {
      val bm = graft.ext.Bitmap.build(
        ord(s, d).filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        "o_orderpriority", "o_custkey")
      graft.ext.Bitmap.setOps(bm, "1-URGENT", "2-HIGH")
    },
      "WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders " +
      "WHERE o_orderpriority = '1-URGENT'), " +
      "b AS (SELECT DISTINCT o_custkey AS k FROM orders " +
      "WHERE o_orderpriority = '2-HIGH') " +
      "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (k)) AS n_and, " +
      "(SELECT CAST(COUNT(*) AS BIGINT) FROM " +
      "(SELECT k FROM a UNION SELECT k FROM b) u) AS n_or"),
    // Median imputation: %37 keys nulled in-gate, filled with the
    // per-priority exact median; the flag keeps the repair auditable
    Gate("x_impute", (s, d) => {
      val dirty = ord(s, d).select(col("o_orderpriority").as("priority"),
        when(col("o_orderkey") % 37 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("v"))
      graft.ext.Profile.imputeMedian(dirty, "priority", "v")
        .groupBy(col("priority"))
        .agg(countAll.as("n"),
          sum(when(col("was_null"), 1L).otherwise(0L)).as("n_filled"),
          sum(col("v").cast(D)).cast("double").as("total"))
        .orderBy(col("priority"))
    },
      // group medians over the NON-NULL cents replayed by rank, fills
      // through exact DECIMAL sums
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "CASE WHEN o_orderkey % 37 = 0 THEN NULL ELSE o_totalprice END AS v " +
      "FROM orders), " +
      "nn AS (SELECT priority, CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS x " +
      "FROM q WHERE v IS NOT NULL), " +
      "r AS (SELECT priority, x, ROW_NUMBER() OVER (PARTITION BY priority ORDER BY x) AS rn, " +
      "COUNT(*) OVER (PARTITION BY priority) AS n FROM nn), " +
      "med AS (SELECT priority, CAST(x AS DOUBLE) / 100.0::DOUBLE AS m FROM r " +
      "WHERE rn - 1 = CAST(FLOOR(0.5::DOUBLE * CAST(n - 1 AS DOUBLE)) AS BIGINT)) " +
      "SELECT q.priority, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN q.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled, " +
      "CAST(SUM(CAST(COALESCE(q.v, med.m) AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM q JOIN med ON q.priority = med.priority GROUP BY 1 ORDER BY 1"),
    // Dense surrogate ids with NO global sort: the bucketed prefix count
    // must equal DuckDB's single ROW_NUMBER over the md5 order
    Gate("x_dense_ids", (s, d) =>
      graft.ext.Encode.denseIds(
        ord(s, d).filter(col("o_orderkey") % 17 === 0)
          .select(concat(lit("cust_"), col("o_custkey")).as("key")),
        "key", buckets = 16)
        .orderBy(col("id")),
      "WITH k AS (SELECT DISTINCT 'cust_' || CAST(o_custkey AS VARCHAR) AS key " +
      "FROM orders WHERE o_orderkey % 17 = 0) " +
      "SELECT key, CAST(ROW_NUMBER() OVER (ORDER BY md5(key), key) - 1 AS BIGINT) AS id " +
      "FROM k ORDER BY id"),
    // Month-over-month growth through the OLAP API: lag window over the
    // groups-sized drilldown output, NULL for the first period
    Gate("x_growth", (s, d) =>
      AggregateService.periodChange(ordDated(s, d),
        ordMeta(mExpr("value", moneySum("o_totalprice"))),
        AggregateService.Request.fromParams(None,
          Some("date:year|date:month"), None),
        orderLevels = Seq("year", "month"), measureName = "value")
        .orderBy(col("year"), col("month")),
      "WITH m AS (SELECT EXTRACT(YEAR FROM o_orderdate) AS year, " +
      "EXTRACT(MONTH FROM o_orderdate) AS month, " +
      "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS vd FROM orders GROUP BY 1, 2), " +
      "w AS (SELECT year, month, CAST(vd AS DOUBLE) AS value, " +
      "CAST(LAG(vd) OVER (ORDER BY year, month) AS DOUBLE) AS prev FROM m) " +
      "SELECT year, month, value, prev, " +
      "CASE WHEN prev <> 0 THEN (value - prev) / prev END AS growth " +
      "FROM w ORDER BY year, month"),
    // Funnel velocity: first signup -> first purchase-at-or-after,
    // exact microsecond latencies, interpolated integer percentiles
    Gate("x_ttc", (s, d) =>
      graft.ext.EventAnalytics.timeToConvert(ev(s, d), "user_id", "ts",
        "event_type", "signup", "purchase"),
      "WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events " +
      "WHERE event_type = 'signup' GROUP BY 1), " +
      "p AS (SELECT f.user_id, f.t0, MIN(e.ts) AS t1 FROM f JOIN events e " +
      "ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.t0 " +
      "GROUP BY 1, 2), " +
      "d AS (SELECT epoch_us(t1) - epoch_us(t0) AS us FROM p) " +
      "SELECT CAST(COUNT(*) AS BIGINT) AS n, " +
      "quantile_cont(us, 0.5) AS med_us, quantile_cont(us, 0.9) AS p90_us " +
      "FROM d"),
    // JSON property extraction from the events props column: parse once
    // in the scan projection, aggregate the typed value
    Gate("x_json", (s, d) =>
      ev(s, d).select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(countAll.as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          countDistinct(col("k")).as("nd_k"))
        .orderBy(col("event_type")),
      "WITH q AS (SELECT event_type, " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) " +
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k, " +
      "CAST(COUNT(DISTINCT k) AS BIGINT) AS nd_k " +
      "FROM q GROUP BY 1 ORDER BY 1"),
    // Pareto front per priority: how many customers carry 80% of the
    // revenue — the front boundary is an exact decimal cross-product
    Gate("x_pareto", (s, d) =>
      graft.ext.Stats.paretoFront(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_custkey"), col("o_totalprice")),
        "priority", "o_custkey", "o_totalprice", num = 4, den = 5)
        .orderBy(col("priority")),
      // front membership: cum_before*5 < total*4 in exact DECIMAL
      "WITH u AS (SELECT o_orderpriority AS priority, " +
      "o_custkey AS cu, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS uv " +
      "FROM orders GROUP BY 1, 2), " +
      "w AS (SELECT priority, uv, COALESCE(SUM(uv) OVER (PARTITION BY priority " +
      "ORDER BY uv DESC, cu ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef, " +
      "SUM(uv) OVER (PARTITION BY priority) AS tot FROM u) " +
      "SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_units, " +
      "CAST(SUM(CASE WHEN bef * 5 < tot * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_front, " +
      "CAST(SUM(CASE WHEN bef * 5 < tot * 4 THEN uv ELSE 0 END) AS DOUBLE) / " +
      "CAST(SUM(uv) AS DOUBLE) AS front_share " +
      "FROM w GROUP BY 1 ORDER BY 1"),
    // Percent-of-parent through the OLAP API: month revenue share of its
    // year + rank, windows over the GROUPS-sized drilldown output; the
    // parent total re-sums through DECIMAL (order-independent)
    Gate("x_share", (s, d) =>
      AggregateService.shareOfParent(ordDated(s, d),
        ordMeta(mExpr("value", moneySum("o_totalprice"))),
        AggregateService.Request.fromParams(None,
          Some("date:year|date:month"), None),
        parentLevels = Seq("year"), measureName = "value")
        .orderBy(col("year"), col("month")),
      "WITH m AS (SELECT EXTRACT(YEAR FROM o_orderdate) AS year, " +
      "EXTRACT(MONTH FROM o_orderdate) AS month, " +
      "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS vd FROM orders GROUP BY 1, 2) " +
      "SELECT year, month, CAST(vd AS DOUBLE) AS value, " +
      "CAST(SUM(vd) OVER (PARTITION BY year) AS DOUBLE) AS parent_total, " +
      "CAST(vd AS DOUBLE) / CAST(SUM(vd) OVER (PARTITION BY year) AS DOUBLE) AS share, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY year " +
      "ORDER BY CAST(vd AS DOUBLE) DESC, month) AS BIGINT) AS rank_in_parent " +
      "FROM m ORDER BY year, month"),
    // Streaming EXACT moments fold: per-batch (n, Σx, Σx² hi/lo) integer
    // sums add losslessly into warehouse state; mean/std over all time
    // from one row per group
    Gate("x_stream_moments", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_smom").toString)
      val st = graft.streaming.EventStream.runMomentsIngest(s, d, wh,
        "value_moments")
      val nD = col("n").cast("double")
      val sD = col("s").cast("double")
      val sxx = col("sh").cast("double") * lit(4294967296.0) +
        col("sl").cast("double")
      st.select(col("event_type"), col("n"),
          (sD / nD / lit(100.0)).as("mean"),
          (sqrt((nD * sxx - sD * sD) / (nD * nD)) / lit(100.0)).as("std"))
        .orderBy(col("event_type"))
    },
      // the four state integers computed directly; mean/std through the
      // identical double trees — fold == one-shot because sums add exactly
      "WITH q AS (SELECT event_type, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x FROM events), " +
      "s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(x) AS BIGINT) AS s, " +
      "CAST(SUM((x * x) >> 32) AS BIGINT) AS sh, " +
      "CAST(SUM((x * x) & 4294967295) AS BIGINT) AS sl FROM q GROUP BY 1) " +
      "SELECT event_type, n, " +
      "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0::DOUBLE AS mean, " +
      "SQRT((CAST(n AS DOUBLE) * (CAST(sh AS DOUBLE) * 4294967296.0::DOUBLE + " +
      "CAST(sl AS DOUBLE)) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 100.0::DOUBLE AS std " +
      "FROM s ORDER BY 1"),
    // 2-D histogram: price x order-age heatmap, 16x12 grid against
    // global edges, same IEEE bin arithmetic in the replay
    Gate("x_histogram2d", (s, d) =>
      graft.ext.Profile.histogram2d(
        ord(s, d).select(col("o_totalprice").as("price"),
          datediff(to_date(col("o_orderdate")),
            lit("1992-01-01").cast("date")).cast("double").as("age")),
        "price", "age", binsX = 16, binsY = 12)
        .orderBy(col("bx"), col("by")),
      "WITH q AS (SELECT o_totalprice AS price, " +
      "CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS age " +
      "FROM orders), " +
      "e AS (SELECT CAST(MIN(price) AS DOUBLE) xlo, CAST(MAX(price) AS DOUBLE) xhi, " +
      "CAST(MIN(age) AS DOUBLE) ylo, CAST(MAX(age) AS DOUBLE) yhi FROM q) " +
      "SELECT CAST(CASE WHEN xhi = xlo THEN 0 ELSE LEAST(" +
      "FLOOR((CAST(price AS DOUBLE) - xlo) / ((xhi - xlo) / 16.0::DOUBLE)), 15) END AS BIGINT) AS bx, " +
      "CAST(CASE WHEN yhi = ylo THEN 0 ELSE LEAST(" +
      "FLOOR((age - ylo) / ((yhi - ylo) / 12.0::DOUBLE)), 11) END AS BIGINT) AS by, " +
      "CAST(COUNT(*) AS BIGINT) AS n FROM q, e GROUP BY 1, 2 ORDER BY 1, 2"),
    // Weighted exact median: the value at weighted rank floor(0.5(W-1))
    // with deterministic pseudo-weights — bucketed weight prefix sums,
    // only target buckets ranked
    Gate("x_wmedian", (s, d) =>
      graft.ext.Profile.exactWeightedQuantile(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v"),
          (col("o_orderkey") % 7 + 1).as("w")),
        "priority", "v", "w", q = 0.5)
        .orderBy(col("priority")),
      // weighted rank replay without the bucketing: running weights in
      // value order; equal-value runs make the picked value well-defined
      // under any tie order, MIN collapses the run
      "WITH q0 AS (SELECT o_orderpriority AS priority, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, " +
      "o_orderkey % 7 + 1 AS w FROM orders), " +
      "r AS (SELECT priority, x, w, " +
      "SUM(w) OVER (PARTITION BY priority ORDER BY x ROWS UNBOUNDED PRECEDING) AS cw, " +
      "SUM(w) OVER (PARTITION BY priority) AS tw FROM q0) " +
      "SELECT priority, CAST(tw AS BIGINT) AS w_total, " +
      "CAST(MIN(x) AS DOUBLE) / 100.0::DOUBLE AS value FROM r " +
      "WHERE CAST(FLOOR(0.5::DOUBLE * CAST(tw - 1 AS DOUBLE)) AS BIGINT) >= cw - w " +
      "AND CAST(FLOOR(0.5::DOUBLE * CAST(tw - 1 AS DOUBLE)) AS BIGINT) <= cw - 1 " +
      "GROUP BY 1, 2 ORDER BY 1"),
    // Sorted string aggregation (the reporting list column): collect_set
    // + sort_array -> deterministic join, string_agg ORDER BY replay
    Gate("x_stragg", (s, d) =>
      ord(s, d).filter(col("o_custkey") <= 30)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(concat_ws(",",
          sort_array(collect_set(col("o_custkey")))).as("customers"))
        .orderBy(col("priority")),
      "SELECT priority, string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS customers " +
      "FROM (SELECT DISTINCT o_orderpriority AS priority, o_custkey AS k " +
      "FROM orders WHERE o_custkey <= 30) t GROUP BY 1 ORDER BY 1"),
    // EXACT per-group median via bucketed prefix counts: two shuffle-
    // bounded passes, no per-group value buffer anywhere — the lake-
    // scale order statistic
    Gate("x_exact_median", (s, d) =>
      graft.ext.Profile.exactQuantile(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v")),
        "priority", "v", q = 0.5)
        .orderBy(col("priority")),
      // the exact order statistic at rank floor(0.5*(n-1)): replay with a
      // plain per-group rank — bucketing is an execution detail
      "WITH q0 AS (SELECT o_orderpriority AS priority, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x FROM orders), " +
      "r AS (SELECT priority, x, " +
      "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY x) AS rn, " +
      "COUNT(*) OVER (PARTITION BY priority) AS n FROM q0) " +
      "SELECT priority, CAST(n AS BIGINT) AS n, " +
      "CAST(x AS DOUBLE) / 100.0::DOUBLE AS value FROM r " +
      "WHERE rn - 1 = CAST(FLOOR(0.5::DOUBLE * CAST(n - 1 AS DOUBLE)) AS BIGINT) " +
      "ORDER BY 1"),
    // Per-priority modal weekday (epoch-day % 7 — engine-neutral dow),
    // ties to the smallest value
    Gate("x_mode", (s, d) =>
      graft.ext.Stats.mode(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          pmod(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01").cast("date")).cast("long"), lit(7L)).as("dow")),
        "priority", "dow")
        .orderBy(col("priority")),
      "WITH d AS (SELECT o_orderpriority AS priority, " +
      "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7 AS dow " +
      "FROM orders), " +
      "c AS (SELECT priority, dow, COUNT(*) AS cnt FROM d GROUP BY 1, 2), " +
      "r AS (SELECT priority, dow, cnt, ROW_NUMBER() OVER " +
      "(PARTITION BY priority ORDER BY cnt DESC, dow) AS rk FROM c) " +
      "SELECT priority, CAST(dow AS BIGINT) AS mode, CAST(cnt AS BIGINT) AS cnt " +
      "FROM r WHERE rk = 1 ORDER BY 1"),
    // Portable fixed-bin quantile sketch: long-exact binning, integer
    // rank cover, bin-midpoint estimate — the mergeable percentile path
    Gate("x_qsketch", (s, d) =>
      graft.ext.Profile.quantileSketch(ev(s, d), "event_type", "value",
        lo = 0.0, hi = 500.0, bins = 64, qs = Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q")),
      qsketchOracleSql),
    // Streaming fold of the same sketch: per-batch bin deltas SUM into
    // warehouse state; counters add exactly, so the folded state serves
    // the IDENTICAL quantiles as the one-shot sketch — same oracle
    Gate("x_stream_qsketch", (s, d) => {
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_sqsk").toString)
      val state = graft.streaming.EventStream.runQsketchIngest(s, d, wh,
        "value_bins")
      graft.ext.Profile.quantilesFromCounts(state, "event_type",
        0.0, 500.0, 64, Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    },
      qsketchOracleSql),
    // Equal-frequency binning: bin = ((rank-1)*k) div n in pure long
    // arithmetic — engine-exact where ntile semantics drift
    Gate("x_eqfreq", (s, d) =>
      graft.ext.Profile.equalFreqBins(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("v"), col("o_orderkey").as("id")),
        "priority", "v", "id", k = 8)
        .orderBy(col("priority"), col("bin")),
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "o_totalprice AS v, o_orderkey AS id FROM orders), " +
      "r AS (SELECT priority, v, " +
      "ROW_NUMBER() OVER (PARTITION BY priority ORDER BY v, id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY priority) AS n FROM q) " +
      "SELECT priority, CAST((rn - 1) * 8 // n AS BIGINT) AS bin, " +
      "CAST(COUNT(*) AS BIGINT) AS n_bin, MIN(v) AS lo, MAX(v) AS hi " +
      "FROM r GROUP BY 1, 2 ORDER BY 1, 2"),
    // Per-priority z-scores from one exact-integer-statistics pass;
    // output thinned to the %199 keys, statistics over the FULL table
    Gate("x_zscore", (s, d) =>
      graft.ext.Profile.zscore(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_orderkey").as("id"), col("o_totalprice").as("v")),
        "priority", "id", "v")
        .filter(col("id") % 199 === 0)
        .orderBy(col("id")),
      // z from the same six exact sums as x_corr's family: mu = sx/n,
      // var = (n*sxx - sx^2)/n^2, one IEEE sqrt — identical operand tree
      "WITH q AS (SELECT o_orderpriority AS priority, " +
      "o_orderkey AS id, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x " +
      "FROM orders), " +
      "s AS (SELECT priority, CAST(COUNT(*) AS DOUBLE) AS n, " +
      "CAST(SUM(x) AS DOUBLE) AS sx, " +
      "CAST(SUM((x * x) >> 32) AS DOUBLE) * 4294967296.0::DOUBLE + " +
      "CAST(SUM((x * x) & 4294967295) AS DOUBLE) AS sxx FROM q GROUP BY 1) " +
      "SELECT q.priority, q.id, CAST(q.x AS DOUBLE) / 100.0::DOUBLE AS v, " +
      "(CAST(q.x AS DOUBLE) - sx / n) / sqrt((n * sxx - sx * sx) / (n * n)) AS z " +
      "FROM q JOIN s ON q.priority = s.priority WHERE q.id % 199 = 0 ORDER BY q.id"),
    // median/MAD modified z-score (Iglewicz-Hoaglin): the outlier rule
    // that survives the outliers themselves; both medians exact rank
    // statistics, z floor-quantized to micros, flag an integer compare
    Gate("x_robust_z", (s, d) =>
      graft.ext.Profile.robustZscore(
        ord(s, d).select(col("o_orderpriority").as("priority"),
          col("o_orderkey").as("id"), col("o_totalprice").as("v")),
        "priority", "id", "v")
        .filter(col("id") % 199 === 0)
        .orderBy(col("id")),
      // both medians as exact floor(0.5*(n-1)) rank statistics in cents;
      // z mirrors the operator's float op order, flag an integer compare
      "WITH b AS (SELECT o_orderpriority AS priority, " +
      "o_orderkey AS id, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc " +
      "FROM orders), " +
      "n AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1), " +
      "r1 AS (SELECT priority, xc, ROW_NUMBER() OVER (PARTITION BY priority ORDER BY xc) AS rn FROM b), " +
      "med AS (SELECT r1.priority, xc AS mc FROM r1 JOIN n USING (priority) " +
      "WHERE rn - 1 = CAST(FLOOR(0.5::DOUBLE * CAST(n - 1 AS DOUBLE)) AS BIGINT)), " +
      "dv AS (SELECT b.priority, b.id, b.xc, mc, ABS(b.xc - mc) AS dc " +
      "FROM b JOIN med USING (priority)), " +
      "r2 AS (SELECT priority, dc, ROW_NUMBER() OVER (PARTITION BY priority ORDER BY dc) AS rn FROM dv), " +
      "mad AS (SELECT r2.priority, dc AS madc FROM r2 JOIN n USING (priority) " +
      "WHERE rn - 1 = CAST(FLOOR(0.5::DOUBLE * CAST(n - 1 AS DOUBLE)) AS BIGINT)), " +
      "z AS (SELECT dv.priority, dv.id, dv.xc, mc, madc, " +
      "CASE WHEN madc > 0 THEN " +
      "CAST(FLOOR(0.6745::DOUBLE * CAST(dv.xc - mc AS DOUBLE) / " +
      "CAST(madc AS DOUBLE) * 1e6) AS BIGINT) END AS zm " +
      "FROM dv JOIN mad USING (priority)) " +
      "SELECT priority, id, CAST(xc AS DOUBLE) / 100.0::DOUBLE AS value, " +
      "CASE WHEN madc > 0 THEN zm END AS z_micro, " +
      "CASE WHEN madc > 0 THEN ABS(zm) > 3500000 ELSE xc <> mc END AS outlier " +
      "FROM z WHERE id % 199 = 0 ORDER BY id"),
    // HLL set algebra over two overlapping customer populations:
    // union = per-bucket MAX merge, intersection by inclusion-exclusion
    Gate("x_hll_setops", (s, d) => {
      val o = ord(s, d)
      graft.ext.Hll.setAlgebra(
        o.filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")),
        o.filter(col("o_orderdate") >= lit("1994-07-01").cast("timestamp")),
        "o_custkey", p = 8)
    },
      "WITH ha AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS x " +
      "FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'), " +
      "hb AS (SELECT md5(CAST(o_custkey AS VARCHAR)) AS x " +
      "FROM orders WHERE o_orderdate >= TIMESTAMP '1994-07-01'), " +
      "ra AS (" + hllRegSql("ha") + "), rb AS (" + hllRegSql("hb") + "), " +
      "ru AS (SELECT bucket, MAX(m) AS m FROM " +
      "(SELECT * FROM ra UNION ALL SELECT * FROM rb) t GROUP BY 1), " +
      "ea AS (" + hllEstSql("ra") + "), eb AS (" + hllEstSql("rb") + "), " +
      "eu AS (" + hllEstSql("ru") + ") " +
      "SELECT ea.estimate AS est_a, eb.estimate AS est_b, " +
      "eu.estimate AS est_union, " +
      "(ea.estimate + eb.estimate) - eu.estimate AS est_intersect " +
      "FROM ea, eb, eu"),
    // Unpivot/melt (wide measures -> long): stack() in-plan, per-metric
    // totals after the melt — the reshape every tidy-data consumer wants
    Gate("x_unpivot", (s, d) =>
      Tables.load(s, d, "lineitem")
        .select(expr("stack(4, " +
          "'quantity', CAST(l_quantity AS DECIMAL(18,2)), " +
          "'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)), " +
          "'discount', CAST(l_discount AS DECIMAL(18,2)), " +
          "'tax', CAST(l_tax AS DECIMAL(18,2))) AS (metric, value)"))
        .groupBy(col("metric"))
        .agg(countAll.as("n"), sum(col("value")).cast("double").as("total"))
        .orderBy(col("metric")),
      "WITH m AS (" +
      "SELECT 'quantity' AS metric, CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem " +
      "UNION ALL SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem " +
      "UNION ALL SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem " +
      "UNION ALL SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem) " +
      "SELECT metric, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(value) AS DOUBLE) AS total FROM m GROUP BY 1 ORDER BY 1"),

    // C4-style boilerplate-line scrub: corpus re-lined into 8-word lines
    // with a cookie-banner line planted into every even doc; lines in
    // more than 20 distinct docs are chrome and must vanish, content
    // lines stitch back in order. Line df travels as xxhash64 (the
    // oracle groups the strings — injectivity at corpus scale)
    Gate("x_text_lines", (s, d) => {
      // words bound before the line lambda (the tilesOf discipline)
      val words = col("__ws")
      val nLines = ceil(size(words).cast("double") / 8.0).cast("long")
      val lined = Tables.load(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"),
        concat(
          array_join(transform(sequence(lit(0L), nLines - 1),
            i => array_join(slice(words, (i * 8 + 1).cast("int"), lit(8)), " ")),
            "\n"),
          when(col("doc_id") % 2 === 0,
            lit("\nthis site uses cookies accept to continue end"))
            .otherwise(lit(""))).as("text"))
      graft.ext.TextAnalysis.dropBoilerplateLines(lined, "doc_id", "text",
        maxLineDf = 20)
        .orderBy(col("doc_id"))
    },
      // same re-lining + planted banner, line-df by string equality
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "lined AS (SELECT doc_id, array_to_string(" +
      "[array_to_string(w[i*8+1 : i*8+8], ' ') " +
      "for i in range(0, CAST(CEIL(len(w) / 8.0) AS INT))], chr(10)) || " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'this site uses cookies accept to continue end' ELSE '' END AS text " +
      "FROM w), " +
      "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "unnest(range(len(string_split(text, chr(10))))) AS pos FROM lined), " +
      "dfc AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM l GROUP BY 1), " +
      "kept AS (SELECT l.doc_id, l.pos, l.line FROM l JOIN dfc ON l.line = dfc.line WHERE dfc.df <= 20) " +
      "SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text " +
      "FROM kept GROUP BY doc_id ORDER BY doc_id"),
    // Corpus-wide exact line dedup: the planted banner survives only in
    // its first (smallest doc_id) host; every later copy drops; unique
    // content lines pass through untouched
    Gate("x_text_linededup", (s, d) => {
      // words bound before the line lambda (the tilesOf discipline)
      val words = col("__ws")
      val nLines = ceil(size(words).cast("double") / 8.0).cast("long")
      val lined = Tables.load(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("__ws"))
        .select(col("doc_id"),
        concat(
          array_join(transform(sequence(lit(0L), nLines - 1),
            i => array_join(slice(words, (i * 8 + 1).cast("int"), lit(8)), " ")),
            "\n"),
          when(col("doc_id") % 2 === 0,
            lit("\nthis site uses cookies accept to continue end"))
            .otherwise(lit(""))).as("text"))
      graft.ext.TextAnalysis.dedupLines(lined, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // same re-lining; first occurrence by (doc_id, pos) window
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "lined AS (SELECT doc_id, array_to_string(" +
      "[array_to_string(w[i*8+1 : i*8+8], ' ') " +
      "for i in range(0, CAST(CEIL(len(w) / 8.0) AS INT))], chr(10)) || " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'this site uses cookies accept to continue end' ELSE '' END AS text " +
      "FROM w), " +
      "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "unnest(range(len(string_split(text, chr(10))))) AS pos FROM lined), " +
      "kept AS (SELECT doc_id, pos, line FROM l " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1) " +
      "SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS text " +
      "FROM kept GROUP BY doc_id ORDER BY doc_id"),
    // Canonical normalization (NFC + Unicode lowercase + whitespace
    // collapse) over the corpus with planted unicode/whitespace spikes —
    // the corpus itself is lowercase ascii soup, so the planted suffixes
    // (combining accents, precomposed umlauts, tab/newline/vertical-tab
    // runs) carry the actual normalization work
    Gate("x_text_normalize", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.TextNormalize(concat(col("text"),
          when(col("doc_id") % 4 === 0, lit("  CaFe\u0301\tX  "))
            .when(col("doc_id") % 4 === 1, lit("\n\nA\u00c4 \u00dcber\r"))
            .when(col("doc_id") % 4 === 2, lit(" x\u000bY "))
            .otherwise(lit("")))).as("norm"))
      .orderBy(col("doc_id")),
      // same NFC -> lower -> explicit-whitespace-class collapse pipeline;
      // the regex class spells the engine's exact whitespace set (RE2 \s
      // would miss )
      "SELECT doc_id, " +
      "trim(regexp_replace(lower(nfc_normalize(text || " +
      "CASE doc_id % 4 WHEN 0 THEN '  CaFé\tX  ' " +
      "WHEN 1 THEN '\n\nAÄ Über\r' " +
      "WHEN 2 THEN ' xY ' ELSE '' END)), " +
      "'[ \t\n\r\f]+', ' ', 'g')) AS norm " +
      "FROM documents ORDER BY doc_id"),
    // WET-grade HTML extraction over the corpus re-wrapped in a raw page
    // shell: comments, script/style CONTENT (with a '<' inside the js),
    // every tag (space-replaced so </p><p> doesn't weld words), the six
    // named entities with &amp; decoded LAST (the planted &amp;lt; must
    // survive as the literal text "&lt;"), then whitespace-collapse —
    // the curation funnel's step zero on a crawl corpus
    Gate("x_text_html", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"), graft.ext.WebText.htmlStrip(concat(
        lit("<html><head><title>T&amp;A</title>" +
          "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
          "<style>p { color: red; }</style></head><body><!-- nav\nmenu -->" +
          "<p class=\"lead\">"),
        col("text"),
        lit("</p><div>Tom &amp; <b>Jerry</b> &lt;3&nbsp;&quot;ok&quot; " +
          "&#39;y&#39; &amp;lt;</div></body></html>"))).as("clean"))
      .orderBy(col("doc_id")),
      // the same strip chain prefix-composed: comments -> script -> style
      // -> tags -> six named entities (amp LAST) -> whitespace collapse
      "SELECT doc_id, trim(regexp_replace(replace(" +
      "replace(replace(replace(replace(replace(replace(" +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "'<html><head><title>T&amp;A</title>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
      "<style>p { color: red; }</style></head><body><!-- nav\nmenu -->" +
      "<p class=\"lead\">' || text || '</p><div>Tom &amp; <b>Jerry</b> " +
      "&lt;3&nbsp;&quot;ok&quot; &#39;y&#39; &amp;lt;</div></body></html>', " +
      "'(?s)<!--.*?-->', ' ', 'g'), " +
      "'(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'), " +
      "'(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'), " +
      "'(?s)<[^>]+>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
      "'&apos;', ''''), '&nbsp;', ' '), " +
      "'&amp;', '&'), " +
      "'[ \\t\\n\\r\\f]+', ' ', 'g')) AS clean " +
      "FROM documents ORDER BY doc_id"),
    // Unicode-script router profile: the corpus is ascii soup, so the
    // planted variants carry the work — pure Han, kana-dominant mixed
    // Japanese, Cyrillic — and the profile reports per-script counts,
    // the dominant script, and the needs_chargram flag that routes the
    // CJK pre-map (Tokenize.charGramsAsWords) per document
    Gate("x_text_script", (s, d) => {
      val eff = when(col("doc_id") % 4 === 1, repeat(lit("世界和平"), 10))
        .when(col("doc_id") % 4 === 2,
          concat(lit("こんにちは"),
            repeat(lit("カタカナ"), 5),
            lit("世界 abc")))
        .when(col("doc_id") % 4 === 3,
          lit("привет мир " +
            "как дела 123"))
        .otherwise(col("text"))
      graft.ext.WebText.scriptProfile(
        Tables.load(s, d, "documents").select(col("doc_id"), eff.as("text")),
        "doc_id", "text")
        .withColumn("needs_chargram", col("needs_chargram").cast("long"))
        .orderBy(col("doc_id"))
    },
      // RE2 spells the script classes \p{Han} where Java spells \p{IsHan};
      // counts are code-point counts in both engines
      "WITH " + scriptEffCteSql +
      "c AS (SELECT doc_id, " +
      "length(t) - length(regexp_replace(t, '\\p{Latin}', '', 'g')) AS n_latin, " +
      "length(t) - length(regexp_replace(t, '\\p{Han}', '', 'g')) AS n_han, " +
      "length(t) - length(regexp_replace(t, '[\\p{Hiragana}\\p{Katakana}]', '', 'g')) AS n_kana, " +
      "length(t) - length(regexp_replace(t, '\\p{Hangul}', '', 'g')) AS n_hangul, " +
      "length(t) - length(regexp_replace(t, '\\p{Cyrillic}', '', 'g')) AS n_cyrillic, " +
      "length(t) - length(regexp_replace(t, '\\p{Arabic}', '', 'g')) AS n_arabic, " +
      "length(t) - length(regexp_replace(t, '\\p{Thai}', '', 'g')) AS n_thai, " +
      "length(t) - length(regexp_replace(t, '\\p{L}', '', 'g')) AS n_letters, " +
      "length(t) - length(regexp_replace(t, " +
      "'[\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}]', '', 'g')) AS wsfree " +
      "FROM eff), " +
      "g AS (SELECT *, GREATEST(n_latin, n_han, n_kana, n_hangul, " +
      "n_cyrillic, n_arabic, n_thai) AS top FROM c) " +
      "SELECT doc_id, n_latin, n_han, n_kana, n_hangul, n_cyrillic, " +
      "n_arabic, n_thai, n_letters, " +
      "CASE WHEN n_latin > 0 AND n_latin = top THEN 'latin' " +
      "WHEN n_han > 0 AND n_han = top THEN 'han' " +
      "WHEN n_kana > 0 AND n_kana = top THEN 'kana' " +
      "WHEN n_hangul > 0 AND n_hangul = top THEN 'hangul' " +
      "WHEN n_cyrillic > 0 AND n_cyrillic = top THEN 'cyrillic' " +
      "WHEN n_arabic > 0 AND n_arabic = top THEN 'arabic' " +
      "WHEN n_thai > 0 AND n_thai = top THEN 'thai' " +
      "ELSE 'unknown' END AS script, " +
      "CAST(n_letters > 0 AND CAST(wsfree AS DOUBLE) > " +
      "CAST(n_letters AS DOUBLE) * 0.3 AS BIGINT) AS needs_chargram " +
      "FROM g ORDER BY doc_id"),
    // ... and the router end-to-end: word counts before/after
    // autoRespace — the Han/kana plants explode to per-char tokens
    // while latin/cyrillic rows pass through byte-identical
    Gate("x_respace_auto", (s, d) => {
      val eff = when(col("doc_id") % 4 === 1, repeat(lit("世界和平"), 10))
        .when(col("doc_id") % 4 === 2,
          concat(lit("こんにちは"),
            repeat(lit("カタカナ"), 5),
            lit("世界 abc")))
        .when(col("doc_id") % 4 === 3,
          lit("привет мир " +
            "как дела 123"))
        .otherwise(col("text"))
      Tables.load(s, d, "documents").select(col("doc_id"), eff.as("t"))
        .select(col("doc_id"),
          size(split(col("t"), " ")).cast("long").as("n_words_raw"),
          size(split(graft.ext.WebText.autoRespace(col("t")), " "))
            .cast("long").as("n_words_auto"),
          (graft.ext.WebText.autoRespace(col("t")) === col("t"))
            .cast("long").as("passthrough"))
        .orderBy(col("doc_id"))
    },
      "WITH " + scriptEffCteSql +
      "r AS (SELECT doc_id, t, " +
      "length(t) - length(regexp_replace(t, '\\p{L}', '', 'g')) AS letters, " +
      "length(t) - length(regexp_replace(t, " +
      "'[\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}]', '', 'g')) AS wsfree, " +
      "replace(t, ' ', '') AS s FROM eff), " +
      "a AS (SELECT doc_id, t, CASE WHEN letters > 0 AND " +
      "CAST(wsfree AS DOUBLE) > CAST(letters AS DOUBLE) * 0.3 " +
      "THEN CASE WHEN length(s) > 0 THEN array_to_string(" +
      "[substr(s, CAST(i + 1 AS INTEGER), 1) for i in " +
      "range(0, length(s))], ' ') ELSE '' END " +
      "ELSE t END AS auto FROM r) " +
      "SELECT doc_id, CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words_raw, " +
      "CAST(len(string_split(auto, ' ')) AS BIGINT) AS n_words_auto, " +
      "CAST(auto = t AS BIGINT) AS passthrough " +
      "FROM a ORDER BY doc_id"),
    Gate("x_text_quality", (s, d) =>
      graft.ext.TextAnalysis.quality(Tables.load(s, d, "documents"),
        "text", "doc_id").orderBy(col("doc_id")),
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token, " +
      "ROUND(CAST(len(list_filter(string_split(text, ' '), " +
      "x -> x IN ('the','a','an','of','and','to','in'))) AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio, " +
      "ROUND(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio " +
      "FROM documents ORDER BY doc_id"),
    // Shannon word entropy (RedPajama-v2 unigram_entropy): the diversity
    // signal — one native zero-shuffle pass, per-type terms floor-
    // quantized to nano longs BEFORE the (order-free) sum
    Gate("x_text_entropy", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.TextAnalysis.wordEntropy(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.n_types").as("n_types"),
        col("e.entropy_nano").as("entropy_nano"),
        (col("e.entropy_nano").cast("double") / lit(1e9)).as("entropy"))
      .orderBy(col("doc_id")),
      // relational replay of the native one-pass entropy: identical
      // per-type floor(c/n * ln(n/c) * 1e9) terms, order-free long sum
      // COALESCE(text, ''): the engine's null-as-empty contract (NULL text
      // = one empty token) — string_split(NULL) would unnest to ZERO rows
      // and silently drop the document from the replay.
      "WITH tok AS (SELECT doc_id, " +
      "unnest(string_split(COALESCE(text, ''), ' ')) AS w FROM documents), " +
      "tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2), " +
      "nn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, " +
      "COUNT(*) AS types FROM tc GROUP BY 1), " +
      "tm AS (SELECT tc.doc_id, CAST(FLOOR(CAST(tc.c AS DOUBLE) / nn.n * " +
      "ln(CAST(nn.n AS DOUBLE) / tc.c) * 1e9) AS BIGINT) AS term " +
      "FROM tc JOIN nn USING (doc_id)) " +
      "SELECT nn.doc_id, nn.n AS n_tokens, CAST(nn.types AS BIGINT) AS n_types, " +
      "CAST(SUM(tm.term) AS BIGINT) AS entropy_nano, " +
      "CAST(CAST(SUM(tm.term) AS BIGINT) AS DOUBLE) / 1e9 AS entropy " +
      "FROM nn JOIN tm USING (doc_id) GROUP BY 1, 2, 3 ORDER BY 1"),
    Gate("x_text_langid", (s, d) => Tables.load(s, d, "documents")
      .select(graft.ext.TextAnalysis.languageId(col("text")).as("lang_pred"))
      .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang_pred")),
      // language-ID heuristic replicated exactly: per-language function-word
      // hit counts, argmax with ties to the lexicographically greatest lang
      s"WITH c AS (SELECT $langCountColsSql FROM documents), " +
      s"p AS (SELECT $langPredCaseSql AS lang_pred FROM c) " +
      "SELECT lang_pred, COUNT(*) AS n FROM p GROUP BY 1 ORDER BY 1"),
    // within-doc repetition ratio (looped/template text quality signal)
    Gate("x_text_repetition", (s, d) => Tables.load(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.TextAnalysis.repetitionRatio(col("text"), 3).as("rep"))
      .orderBy(col("doc_id")),
      "SELECT doc_id, ROUND(CASE WHEN len(w) - 2 > 0 THEN " +
      "1.0 - CAST(len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) AS DOUBLE) / (len(w) - 2) " +
      "ELSE 0.0 END, 6) AS rep FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t ORDER BY doc_id"),
    // Content fingerprint, gated on its collision structure: the corpus
    // plus planted exact copies (docs with doc_id % 7 == 0 re-appended
    // under new ids) is grouped by fingerprint and summarized as a
    // group-size histogram. The engine-native xxhash64 value itself has no
    // DuckDB counterpart, but the histogram must equal grouping by the
    // normalized TEXT — planted copies collide, distinct texts don't
    // (injectivity of a 64-bit hash on a few hundred texts)
    Gate("x_text_fingerprint", (s, d) => {
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      docs.unionByName(planted)
        .select(graft.ext.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(countAll.as("sz"))
        .groupBy(col("sz")).agg(countAll.as("n_groups"))
        .orderBy(col("sz"))
    },
      // fingerprint collision-structure oracle: group by normalized TEXT
      // instead of the engine-native hash; histograms must agree
      "WITH a AS (SELECT text FROM documents " +
      "UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0), " +
      "g AS (SELECT COUNT(*) AS sz FROM a " +
      "GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')) " +
      "SELECT sz, COUNT(*) AS n_groups FROM g GROUP BY 1 ORDER BY 1"),
    // Winnowing containment detection (doc-inside-doc), gated on the
    // Schleimer'03 shared-run guarantee over the planted-run fixture:
    // pairs sharing >= 1 winnow fingerprint must be EXACTLY the pairs
    // sharing a word k-gram (the fixture's only shared grams sit inside
    // runs >= w+k-1, where a shared fingerprint is guaranteed; all other
    // grams are doc-unique md5 filler). DuckDB recomputes the gram-sharing
    // pairs without needing the engine-native fingerprint hash
    Gate("x_text_winnow", (s, d) =>
      graft.ext.TextAnalysis.containmentPairs(
        graft.ext.Fixtures.plantedRunDocs(s), "doc_id", "text", threshold = 0.0)
        .select(col("i"), col("j"))
        .orderBy(col("i"), col("j")),
      // winnowing shared-run oracle: pairs of planted-run docs sharing any
      // word 3-gram (== pairs sharing a >= w+k-1 run by construction)
      "WITH w AS (" + graft.ext.Fixtures.plantedRunDocsSql() +
      "), sh AS (SELECT doc_id, " +
      "list_distinct([array_to_string(words[j:j+2], ' ') for j in range(1, len(words)-1)]) s " +
      "FROM w) " +
      "SELECT a.doc_id i, b.doc_id j FROM sh a JOIN sh b " +
      "ON a.doc_id < b.doc_id AND len(list_intersect(a.s, b.s)) > 0 " +
      "ORDER BY 1, 2"),

    // Overlapping token-window chunking (long docs -> context windows):
    // per-row fan-out, chunk boundaries a pure integer function of the
    // token count — DuckDB replays the slicing exactly
    Gate("x_text_chunk", (s, d) =>
      graft.ext.TextAnalysis.chunk(Tables.load(s, d, "documents"),
        "doc_id", "text", chunkTokens = 40, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx")),
      // same slicing arithmetic: stride 32, window 40, 1-based inclusive
      // list slice with end clamping on both engines
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "n AS (SELECT doc_id, w, CASE WHEN len(w) <= 40 THEN 1 " +
      "ELSE CAST(CEIL(CAST(len(w) - 40 AS DOUBLE) / 32) AS INT) + 1 END AS nc FROM t), " +
      "c AS (SELECT doc_id, w, unnest(range(0, nc)) AS chunk_idx FROM n) " +
      "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
      "array_to_string(w[chunk_idx*32+1 : chunk_idx*32+40], ' ') AS chunk, " +
      "CAST(len(w[chunk_idx*32+1 : chunk_idx*32+40]) AS BIGINT) AS n_chunk_tokens " +
      "FROM c ORDER BY doc_id, chunk_idx"),

    // Benchmark decontamination: docs with doc_id % 31 == 0 play the eval
    // set; every corpus doc sharing any word 3-gram with it is flagged
    // (n=3 because the testdata docs are short; the operator default is
    // the conventional 13). Gram hashes have no DuckDB counterpart, but
    // the per-doc MATCH COUNTS do: hashed-gram intersections equal
    // string-gram intersections (64-bit injectivity on this corpus —
    // the same argument every dedup gate already rests on)
    Gate("x_decontam", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 31 === 0)
      graft.ext.TextAnalysis.decontaminate(docs, "doc_id", "text",
        bench, "text", n = 3)
        .select(col("doc_id"), col("n_bench_grams"), col("contaminated"))
        .orderBy(col("doc_id"))
    },
      // string-gram intersections replay the engine's hashed-gram ones;
      // shingle lists are per-doc distinct so COUNT(*) after the gram join
      // is the distinct-match count on both engines
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "bg AS (SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id % 31 = 0)), " +
      "hits AS (SELECT doc_id, COUNT(*) AS n_bench_grams " +
      "FROM (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN bg USING (g) GROUP BY doc_id) " +
      "SELECT d.doc_id, COALESCE(h.n_bench_grams, 0) AS n_bench_grams, " +
      "h.doc_id IS NOT NULL AS contaminated " +
      "FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id"),
    // multi-benchmark contamination report: two labeled eval sets at
    // once — which benchmark leaked, per document, in one corpus scan
    Gate("x_decontam_multi", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val benches = docs.filter(col("doc_id") % 29 === 0)
          .select(lit("b29").as("bench_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 31 === 0)
          .select(lit("b31").as("bench_id"), col("text")))
      graft.ext.TextAnalysis.contaminationReport(docs, "doc_id", "text",
        benches, "bench_id", "text", n = 3)
        .orderBy(col("doc_id"), col("bench_id"))
    },
      // two labeled benchmark slices, same gram algebra per (doc, bench)
      "WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
      "bg AS (SELECT DISTINCT bench_id, g FROM (" +
      "SELECT 'b29' AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 29 = 0 " +
      "UNION ALL SELECT 'b31', unnest(s) FROM sh WHERE doc_id % 31 = 0) u) " +
      "SELECT t.doc_id, bg.bench_id, CAST(COUNT(*) AS BIGINT) AS n_bench_grams " +
      "FROM (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN bg USING (g) " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),

    // PII / identifier redaction over the corpus with planted PII (the
    // natural testdata is [a-z0-9 ] soup, so URLs/emails/id runs are
    // spiked in-query, deterministically per doc_id — both engines build
    // the identical input and must produce the identical scrubbed text)
    Gate("x_text_redact", (s, d) => {
      val spiked = Tables.load(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
            col("doc_id"), lit("@mail.example.org soon")))
          .when(col("doc_id") % 5 === 1, concat(lit(" see https://site.example/p/"),
            col("doc_id"), lit("?q=1 now")))
          .when(col("doc_id") % 5 === 2, concat(lit(" ref 10000000"),
            col("doc_id"), lit(" end")))
          .otherwise(lit(""))).as("text"))
      spiked.select(col("doc_id"),
        graft.ext.TextAnalysis.redact(col("text")).as("red"))
        .orderBy(col("doc_id"))
    },
      // identical spike construction + the same RE2 regex chain (URL ->
      // email -> long digit run), replayed verbatim
      "WITH s AS (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org soon' " +
      "WHEN doc_id % 5 = 1 THEN ' see https://site.example/p/' || CAST(doc_id AS VARCHAR) || '?q=1 now' " +
      "WHEN doc_id % 5 = 2 THEN ' ref 10000000' || CAST(doc_id AS VARCHAR) || ' end' " +
      "ELSE '' END AS text FROM documents) " +
      "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
      "'https?://[^\\s]+', '<URL>', 'g'), " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\d{6,}', '<NUM>', 'g') AS red FROM s ORDER BY doc_id"),

    // Curation: top-k documents per group (the "best docs per domain"
    // selection pattern) — one shuffle on the group key, rank inside
    Gate("x_curate_topk", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(desc("n_tokens"), col("doc_id"))
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("lang"), col("rank"))
    },
      "SELECT doc_id, lang, n_tokens, rank FROM (" +
      "SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS BIGINT) AS rank " +
      "FROM documents) t WHERE rank <= 3 ORDER BY lang, rank"),
    // Curation: exact per-group token statistics (partial-aggregable
    // min/max/count; exact interpolated median)
    Gate("x_text_stats", (s, d) => Tables.load(s, d, "documents")
      .select(col("lang"), graft.ext.TextAnalysis.tokenCount(col("text")).as("nt"))
      .groupBy(col("lang"))
      .agg(min(col("nt")).as("min_t"), max(col("nt")).as("max_t"),
        expr("percentile(nt, 0.5)").as("med_t"), countAll.as("n"))
      .orderBy(col("lang")),
      "SELECT lang, MIN(nt) AS min_t, MAX(nt) AS max_t, " +
      "quantile_cont(nt, 0.5) AS med_t, COUNT(*) AS n FROM (" +
      "SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents) t " +
      "GROUP BY 1 ORDER BY 1"),

    // End-to-end training-data cleaning pipeline: language ID -> quality
    // gate (token count) -> exact dedup (first occurrence kept) -> per-lang
    // corpus stats. Demonstrates that the pipeline operators COMPOSE as
    // plain DataFrame transforms — one job, no materialization between
    // stages, every stage a shuffle-bounded primitive.
    Gate("x_pipeline_clean", (s, d) => {
      val scored = Tables.load(s, d, "documents").select(col("doc_id"), col("text"),
        graft.ext.TextAnalysis.languageId(col("text")).as("lang_pred"),
        graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val filtered = scored.filter(col("n_tokens") >= 20 && col("lang_pred") =!= "und")
      val kept = graft.ext.Dedup.exact(filtered, "doc_id", "text").select("doc_id")
      filtered.join(kept, "doc_id")
        .groupBy(col("lang_pred"))
        .agg(countAll.as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang_pred"))
    },
      // full cleaning pipeline: langid + token gate + exact dedup + stats
      s"WITH c AS (SELECT doc_id, text, " +
      s"CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, $langCountColsSql FROM documents), " +
      s"p AS (SELECT doc_id, text, n_tokens, $langPredCaseSql AS lang_pred FROM c), " +
      "f AS (SELECT * FROM p WHERE n_tokens >= 20 AND lang_pred != 'und'), " +
      "k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')) " +
      "SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens " +
      "FROM f JOIN k USING (doc_id) GROUP BY 1 ORDER BY 1"),

    // ---------------- multimodal plumbing ----------------

    Gate("x_mm_meta", (s, d) =>
      graft.ext.Multimodal.asMedia(Tables.load(s, d, "documents"),
        "doc_id", "text", "lang")
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.n_bytes").as("n_bytes"), col("meta.tag").as("tag"))
        .orderBy(col("media_id")),
      "SELECT doc_id AS media_id, 'text/plain' AS format, " +
      "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, lang AS tag " +
      "FROM documents ORDER BY media_id"),
    // frame sampling fan-out: every 2nd 64-byte frame; the text corpus is
    // ASCII so the oracle can slice the same frames with substr
    Gate("x_mm_frames", (s, d) =>
      graft.ext.Multimodal.frameSample(
        graft.ext.Multimodal.asMedia(Tables.load(s, d, "documents"),
          "doc_id", "text", "lang"), frameBytes = 64, every = 2)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_bytes"),
          ascii(col("frame").cast("string")).cast("long").as("first_byte"))
        .orderBy(col("media_id"), col("frame_idx")),
      "WITH f AS (SELECT doc_id AS media_id, text, " +
      "CAST(CEIL(CAST(length(text) AS DOUBLE) / 64) AS BIGINT) AS nf FROM documents), " +
      "x AS (SELECT media_id, text, unnest(range(0, nf)) AS frame_idx FROM f) " +
      "SELECT media_id, frame_idx, " +
      "CAST(length(substr(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS BIGINT) AS frame_bytes, " +
      "CAST(ascii(substr(text, CAST(frame_idx * 64 + 1 AS BIGINT), 1)) AS BIGINT) AS first_byte " +
      "FROM x WHERE frame_idx % 2 = 0 ORDER BY media_id, frame_idx"),
    Gate("x_mm_features", (s, d) =>
      graft.ext.Multimodal.extractFeatures(
        graft.ext.Multimodal.asMedia(Tables.load(s, d, "documents"),
          "doc_id", "text", "lang"), dim = 16)
        .select(col("media_id"), col("n_bytes"), col("dim"),
          round(element_at(col("features"), 1).cast("double"), 6).as("f0"))
        .orderBy(col("media_id")),
      // byte-histogram bucket 0 of the deterministic feature stub: the text is
      // ASCII-only ([a-z0-9 ], verified), so bytes == chars and bucket 0
      // (byte % 16 == 0) holds exactly {' ', '0', 'p'}; the REAL casts
      // replicate the engine's float32 division bit-for-bit
      "SELECT media_id, n_bytes, dim, " +
      "ROUND(CAST(CAST(c AS REAL) / CAST(CASE WHEN n_bytes < 1 THEN 1 ELSE n_bytes END AS REAL) AS DOUBLE), 6) AS f0 " +
      "FROM (SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes, " +
      "CAST(16 AS INTEGER) AS dim, length(regexp_replace(text, '[^ 0p]', '', 'g')) AS c " +
      "FROM documents) t ORDER BY media_id"),
    // file-drop source: stage a dated CSV drop, snapshot it through the
    // full lifecycle (@date path templating, S10 idempotent re-run), and
    // the read-back aggregate must equal the never-staged source oracle
    Gate("x_file_source", (s, d) => {
      import graft.snapshot._
      import graft.time.TimeScope.Cron
      val drop = TempDirs.scratchDir("graft_drop")
      val day = java.time.LocalDate.parse("2024-01-15")
      ord(s, d).select(col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1).write.option("header", "true").mode("overwrite")
        .csv(s"$drop/$day")
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_file_wh").toString)
      val settings = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig(
        "orders_csv", Cron.Daily, Seq(SnapshotJob.FactQuery(11, enabled = true,
          SnapshotJob.FileSource(s"$drop/@date", "csv",
            Map("header" -> "true", "inferSchema" -> "true")))))))
      SnapshotJob.run(s, settings, wh, day)
      SnapshotJob.run(s, settings, wh, day) // S10 no-op
      wh.read("orders_csv").get
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy(col("status"))
    },
      // the CSV text round-trip is exact (shortest-repr doubles reparse to
      // the same IEEE values), so the oracle is the source aggregation
      "SELECT o_orderstatus AS status, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders GROUP BY 1 ORDER BY 1"),
    // ORC interchange round trip: a warehouse fact EXPORTS to ORC
    // (Warehouse.export), the ORC directory re-ingests through the S9
    // file-source path (self-describing schema — no inference pass),
    // and the re-run proves S10 idempotency; grouping by
    // year(o_orderdate) proves DATE typing and DECIMAL totals survive
    // the full round trip
    Gate("x_orc_source", (s, d) => {
      import graft.snapshot._
      import graft.time.TimeScope.Cron
      val day = java.time.LocalDate.parse("2024-01-15")
      val wh0 = new Warehouse(s, TempDirs.scratchDir("graft_orc_src").toString)
      wh0.append("orders_base", ord(s, d)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          year(col("o_orderdate")).cast("long").as("year")))
      val drop = TempDirs.scratchDir("graft_orc_drop")
      wh0.export("orders_base", s"$drop/$day", format = "orc",
        columns = Seq("o_orderstatus", "o_totalprice", "o_orderdate"))
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_orc_wh").toString)
      val settings = SnapshotJob.Settings(Seq(SnapshotJob.FactConfig(
        "orders_orc", Cron.Daily, Seq(SnapshotJob.FactQuery(12, enabled = true,
          SnapshotJob.FileSource(s"$drop/@date", "orc"))))))
      SnapshotJob.run(s, settings, wh, day)
      SnapshotJob.run(s, settings, wh, day) // S10 no-op
      wh.read("orders_orc").get
        .groupBy(col("o_orderstatus").as("status"),
          year(col("o_orderdate")).cast("long").as("year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy(col("status"), col("year"))
    },
      // the ORC round trip is lossless, so the oracle is the plain
      // source aggregate — year from the DATE column proves typing held
      "SELECT o_orderstatus AS status, " +
      "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year, " +
      "COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
      "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),
    // zero-copy dataset pinning: tag the fact, append MORE data, then
    // compact AND re-cluster (two full rewrites — the pinned files are
    // displaced twice over); the tag must still read back exactly the
    // pre-append dataset. The oracle is the never-appended aggregate.
    Gate("x_timetravel", (s, d) => {
      import graft.snapshot._
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_tt_wh").toString)
      val src = ord(s, d).select(col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("year"))
      wh.append("f", src.filter(col("year") <= 1997))
      wh.tag("f", "v1")
      wh.append("f", src.filter(col("year") > 1997))
      wh.compact("f")
      wh.optimize("f", Seq("o_custkey"), targetFiles = 4)
      wh.readTag("f", "v1")
        .groupBy(col("year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("year"))
    },
      // the tag pins the pre-append file set; the oracle is simply the
      // pre-append subset of the source
      "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year, " +
      "COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust " +
      "FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) <= 1997 " +
      "GROUP BY 1 ORDER BY 1"),

    // ---------------- privacy / compliance ----------------

    // keyed pseudonymization: BOTH tables tokenize their key with the same
    // secret, the join runs ON TOKENS, and min_tok pins the actual sha-256
    // values — proving referential integrity survives de-identification
    Gate("x_pseudonym", (s, d) => {
      val sec = "rotate-quarterly"
      val cust = graft.ext.Privacy.pseudonymize(Tables.load(s, d, "customer"),
        Seq("c_custkey", "c_name"), sec)
      val o = graft.ext.Privacy.pseudonymize(ord(s, d), Seq("o_custkey"), sec)
      o.join(cust, o("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_tok"),
          min(col("o_custkey")).as("min_tok"))
        .orderBy(col("c_mktsegment"))
    },
      // sha-256 tokens replay exactly: same secret, same chr(1) separator,
      // same stringified key on both engines
      "WITH c AS (SELECT sha256('rotate-quarterly' || chr(1) || " +
      "CAST(c_custkey AS VARCHAR)) AS ck, c_mktsegment FROM customer), " +
      "o AS (SELECT sha256('rotate-quarterly' || chr(1) || " +
      "CAST(o_custkey AS VARCHAR)) AS ok FROM orders) " +
      "SELECT c_mktsegment, COUNT(*) AS n, " +
      "CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_tok, MIN(ok) AS min_tok " +
      "FROM o JOIN c ON ok = ck GROUP BY 1 ORDER BY 1"),
    // k-anonymity suppression over (segment, nation-bucket) quasi-IDs:
    // released rows hide among >= 3 identical quasi-identifier combos
    Gate("x_kanon", (s, d) => {
      val c = Tables.load(s, d, "customer")
        .withColumn("nat_bucket", (col("c_nationkey") % 5).cast("long"))
      graft.ext.Privacy.kAnonymize(c, Seq("c_mktsegment", "nat_bucket"), k = 3)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("nat_bucket")).as("n_buckets"))
        .orderBy(col("c_mktsegment"))
    },
      "WITH kc AS (SELECT c_mktsegment, " +
      "CAST(c_nationkey % 5 AS BIGINT) AS nat_bucket, " +
      "COUNT(*) OVER (PARTITION BY c_mktsegment, c_nationkey % 5) AS kcnt " +
      "FROM customer) " +
      "SELECT c_mktsegment, COUNT(*) AS n_kept, " +
      "CAST(COUNT(DISTINCT nat_bucket) AS BIGINT) AS n_buckets " +
      "FROM kc WHERE kcnt >= 3 GROUP BY 1 ORDER BY 1"),
    // l-diversity suppression on top of the same quasi groups: nat_bucket
    // 2's sensitive value is FORCED uniform (l_count = 1), so l = 2
    // suppresses exactly those groups — hiding among k identical
    // diagnoses hides nothing, the leak k-anonymity alone can't see
    Gate("x_ldiv", (s, d) => {
      val c = Tables.load(s, d, "customer")
        .withColumn("nat_bucket", (col("c_nationkey") % 5).cast("long"))
        .withColumn("sens", when(col("nat_bucket") === 2L, lit(0L))
          .otherwise((col("c_custkey") % 3).cast("long")))
      graft.ext.Privacy.lDiversify(c, Seq("c_mktsegment", "nat_bucket"),
        "sens", l = 2)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("nat_bucket")).as("n_buckets"))
        .orderBy(col("c_mktsegment"))
    },
      // distinct-sensitive counts per quasi group, groups below l drop
      "WITH base AS (SELECT c_mktsegment, " +
      "CAST(c_nationkey % 5 AS BIGINT) AS nat_bucket, " +
      "CAST(CASE WHEN c_nationkey % 5 = 2 THEN 0 ELSE c_custkey % 3 END AS BIGINT) AS sens " +
      "FROM customer), " +
      "g AS (SELECT c_mktsegment, nat_bucket, " +
      "COUNT(DISTINCT sens) AS lcnt FROM base GROUP BY 1, 2) " +
      "SELECT b.c_mktsegment, COUNT(*) AS n_kept, " +
      "CAST(COUNT(DISTINCT b.nat_bucket) AS BIGINT) AS n_buckets " +
      "FROM base b JOIN g USING (c_mktsegment, nat_bucket) " +
      "WHERE g.lcnt >= 2 GROUP BY 1 ORDER BY 1"),
    // generalization-to-k: coarsen c_acctbal up the 100/1000/5000
    // ladder until every (segment, bucket) group reaches k=3, then
    // suppress the residue — the release that KEEPS rows where
    // suppression-only k-anonymity would drop them; the oracle encodes
    // the full rung-selection CASE, so it replays whichever width wins
    Gate("x_kanon_gen", (s, d) => {
      val c = Tables.load(s, d, "customer")
      graft.ext.Privacy.generalizeNumericToK(c, Seq("c_mktsegment"),
        "c_acctbal", k = 3, ladder = Seq(100L, 1000L, 5000L))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("c_acctbal_gen")).as("n_buckets"),
          max(col("gen_width")).as("gen_width"))
        .orderBy(col("c_mktsegment"))
    },
      // ladder-rung selection as a CASE over per-rung min group sizes,
      // then bucket at the chosen width and drop residual under-k groups
      "WITH " +
      Seq(100, 1000, 5000).zipWithIndex.map { case (w, i) =>
        s"m${i + 1} AS (SELECT COALESCE(MIN(n), 9223372036854775807) AS mn " +
          "FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_mktsegment, " +
          s"CAST(FLOOR(c_acctbal / $w.0) AS BIGINT) * $w) t$i)"
      }.mkString(", ") + ", " +
      "w AS (SELECT CASE WHEN m1.mn >= 3 THEN 100 WHEN m2.mn >= 3 THEN 1000 " +
      "ELSE 5000 END AS w FROM m1, m2, m3), " +
      "g AS (SELECT c_mktsegment, " +
      "CAST(FLOOR(c_acctbal / CAST(w.w AS DOUBLE)) AS BIGINT) * w.w AS gen, " +
      "w.w AS gen_width FROM customer CROSS JOIN w), " +
      "cnt AS (SELECT c_mktsegment, gen, COUNT(*) AS n FROM g GROUP BY 1, 2) " +
      "SELECT g.c_mktsegment, COUNT(*) AS n_kept, " +
      "CAST(COUNT(DISTINCT g.gen) AS BIGINT) AS n_buckets, " +
      "CAST(MAX(g.gen_width) AS BIGINT) AS gen_width " +
      "FROM g JOIN cnt USING (c_mktsegment, gen) WHERE cnt.n >= 3 " +
      "GROUP BY 1 ORDER BY 1"),
    // t-closeness distances over the same quasi groups: bucket 2's
    // forced-uniform sensitive column is DIVERSE enough groups can't see
    // the skew-leak l-diversity measures... inverted: here the skew
    // itself is the statistic — bucket 2's groups sit far from the
    // corpus-wide distribution, everyone else sits near it. All exact
    // cross-multiplied longs; the display quotient divides identical
    // long-derived doubles
    Gate("x_tclose", (s, d) => {
      val c = Tables.load(s, d, "customer")
        .withColumn("nat_bucket", (col("c_nationkey") % 5).cast("long"))
        .withColumn("sens", when(col("nat_bucket") === 2L, lit(0L))
          .otherwise((col("c_custkey") % 3).cast("long")))
      graft.ext.Privacy.tClosenessDistances(c,
        Seq("c_mktsegment", "nat_bucket"), "sens")
        .orderBy(col("c_mktsegment"), col("nat_bucket"))
    },
      // cleared-denominator TVD per group over the full (group x value)
      // expansion; absent values contribute their |0 - ns*ng| mass
      "WITH base AS (SELECT c_mktsegment, " +
      "CAST(c_nationkey % 5 AS BIGINT) AS nat_bucket, " +
      "CAST(CASE WHEN c_nationkey % 5 = 2 THEN 0 ELSE c_custkey % 3 END AS BIGINT) AS sens " +
      "FROM customer), " +
      "gs AS (SELECT c_mktsegment, nat_bucket, sens, COUNT(*) AS ngs FROM base GROUP BY 1, 2, 3), " +
      "st AS (SELECT sens, COUNT(*) AS ns FROM base GROUP BY 1), " +
      "gt AS (SELECT c_mktsegment, nat_bucket, COUNT(*) AS ng FROM base GROUP BY 1, 2), " +
      "nn AS (SELECT COUNT(*) AS n FROM base), " +
      "ex AS (SELECT gt.c_mktsegment, gt.nat_bucket, gt.ng, st.ns, " +
      "COALESCE(gs.ngs, 0) AS ngs, nn.n FROM gt CROSS JOIN st " +
      "LEFT JOIN gs ON gs.c_mktsegment = gt.c_mktsegment " +
      "AND gs.nat_bucket = gt.nat_bucket AND gs.sens = st.sens " +
      "CROSS JOIN nn), " +
      "dd AS (SELECT c_mktsegment, nat_bucket, ng, n, " +
      "CAST(SUM(ABS(ngs * n - ns * ng)) AS BIGINT) AS tvd_scaled " +
      "FROM ex GROUP BY 1, 2, 3, 4) " +
      "SELECT c_mktsegment, nat_bucket, ng AS n_g, tvd_scaled, " +
      "CAST(2 * ng * n AS BIGINT) AS denom, " +
      "CAST(FLOOR(CAST(tvd_scaled AS DOUBLE) / CAST(2 * ng * n AS DOUBLE) * 1e6) AS BIGINT) AS tvd_micro, " +
      "CAST(tvd_scaled AS DOUBLE) / CAST(2 * ng * n AS DOUBLE) AS tvd " +
      "FROM dd ORDER BY 1, 2"),
    // targeted erasure: purge three subjects from a year-partitioned fact
    // (two via the literal IN path, one via the DataFrame-of-keys path);
    // only partitions containing them rewrite, and the read-back equals
    // the never-ingested-them oracle
    Gate("x_purge", (s, d) => {
      import graft.snapshot._
      val wh = new Warehouse(s, TempDirs.scratchDir("graft_purge_wh").toString)
      val fact = ord(s, d).select(col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("long").as("year"))
      wh.append("orders_fact", fact)
      wh.purgeKeys("orders_fact", "o_custkey", Seq(1L, 7L))
      import s.implicits._
      wh.purgeKeys("orders_fact", "o_custkey", Seq(13L).toDF("k"))
      wh.read("orders_fact").get
        .groupBy(col("year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("year"))
    },
      "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year, " +
      "COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
      "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust " +
      "FROM orders WHERE o_custkey NOT IN (1, 7, 13) GROUP BY 1 ORDER BY 1"),

    // real container decode: synthesize standards-layout PNGs (signature +
    // IHDR with true CRC-32 + IEND) with per-doc dimensions, then parse the
    // header fields back with the pure-byte decoder; one corrupted row
    // (doc_id 0: signature zeroed) proves dirty data degrades, not throws.
    // The oracle re-derives the dimensions arithmetically — decode must
    // round-trip the big-endian fields exactly to match.
    Gate("x_mm_decode", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("h", (length(col("text")) % 1080 + 1).cast("long"))
      val png = graft.ext.Multimodal.syntheticPng(docs, "doc_id", "w", "h")
      val dirty = png.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.decodePngMeta(dirty)
        .orderBy(col("media_id"))
    },
      // decode is exact byte arithmetic: the oracle re-derives the planted
      // dimensions; doc_id 0's zeroed signature must read as a clean failure
      "SELECT doc_id AS media_id, doc_id <> 0 AS sig_ok, " +
      "CASE WHEN doc_id <> 0 THEN doc_id % 1920 + 1 END AS width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(length(text) % 1080 + 1 AS BIGINT) END AS height, " +
      "CASE WHEN doc_id <> 0 THEN CAST(8 AS BIGINT) END AS bit_depth, " +
      "CASE WHEN doc_id <> 0 THEN CAST(2 AS BIGINT) END AS color_type, " +
      "doc_id <> 0 AS crc_ok FROM documents ORDER BY media_id"),
    // JPEG: same fixture+oracle-replay shape as x_mm_decode, but the frame
    // header sits at a DATA-DEPENDENT offset behind the APP0 segment — the
    // gate proves the bounded segment walk, not just fixed-offset reads
    Gate("x_mm_decode_jpeg", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("h", (length(col("text")) % 1080 + 1).cast("long"))
      val jpg = graft.ext.Multimodal.syntheticJpeg(docs, "doc_id", "w", "h")
      val dirty = jpg.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.decodeJpegMeta(dirty)
        .orderBy(col("media_id"))
    },
      "SELECT doc_id AS media_id, doc_id <> 0 AS sig_ok, " +
      "CASE WHEN doc_id <> 0 THEN doc_id % 1920 + 1 END AS width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(length(text) % 1080 + 1 AS BIGINT) END AS height, " +
      "CASE WHEN doc_id <> 0 THEN CAST(8 AS BIGINT) END AS precision, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 AS BIGINT) END AS n_components, " +
      "doc_id <> 0 AS eoi_ok FROM documents ORDER BY media_id"),
    // WAV (audio containers): RIFF chunk walk to fmt_/data — little-endian
    // fields, PCM flag, derived duration; the audio leg of the multimodal
    // decode family
    Gate("x_mm_decode_wav", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .withColumn("ch", (col("doc_id") % 2 + 1).cast("long"))
        .withColumn("sr", ((col("doc_id") % 3 + 1) * 8000).cast("long"))
        .withColumn("db", (length(col("text")) % 500 * 2).cast("long"))
      val wav = graft.ext.Multimodal.syntheticWav(docs, "doc_id", "ch", "sr", "db")
      val dirty = wav.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.decodeWavMeta(dirty)
        .orderBy(col("media_id"))
    },
      "SELECT doc_id AS media_id, doc_id <> 0 AS sig_ok, " +
      "CASE WHEN doc_id <> 0 THEN true END AS is_pcm, " +
      "CASE WHEN doc_id <> 0 THEN doc_id % 2 + 1 END AS channels, " +
      "CASE WHEN doc_id <> 0 THEN (doc_id % 3 + 1) * 8000 END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN CAST(16 AS BIGINT) END AS bits_per_sample, " +
      "CASE WHEN doc_id <> 0 THEN CAST(length(text) % 500 * 2 AS BIGINT) END AS data_bytes, " +
      "CASE WHEN doc_id <> 0 THEN CAST(FLOOR((length(text) % 500 * 2) * 1000.0 / " +
      "((doc_id % 3 + 1) * 8000 * (doc_id % 2 + 1) * 2)) AS BIGINT) END AS duration_ms " +
      "FROM documents ORDER BY media_id"),
    // MP4 (video containers): ISO-BMFF box walk to moov/mvhd — big-endian
    // timescale/duration behind a data-dependent box offset
    Gate("x_mm_decode_mp4", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .withColumn("tsc", ((col("doc_id") % 4 + 1) * 600).cast("long"))
        .withColumn("dur", (length(col("text")) % 1000 * 600).cast("long"))
      val mp4 = graft.ext.Multimodal.syntheticMp4(docs, "doc_id", "tsc", "dur")
      val dirty = mp4.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'000000000000', substring(content, 7))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.decodeMp4Meta(dirty)
        .orderBy(col("media_id"))
    },
      "SELECT doc_id AS media_id, doc_id <> 0 AS sig_ok, " +
      "CASE WHEN doc_id <> 0 THEN 'isom' END AS brand, " +
      "CASE WHEN doc_id <> 0 THEN (doc_id % 4 + 1) * 600 END AS timescale, " +
      "CASE WHEN doc_id <> 0 THEN CAST(length(text) % 1000 * 600 AS BIGINT) END AS duration, " +
      "CASE WHEN doc_id <> 0 THEN CAST(FLOOR((length(text) % 1000 * 600) * 1000.0 / " +
      "((doc_id % 4 + 1) * 600)) AS BIGINT) END AS duration_ms " +
      "FROM documents ORDER BY media_id"),
    // GIF: little-endian screen descriptor (opposite byte order from
    // PNG/JPEG) + version string + trailer structural check
    Gate("x_mm_decode_gif", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("h", (length(col("text")) % 1080 + 1).cast("long"))
      val gif = graft.ext.Multimodal.syntheticGif(docs, "doc_id", "w", "h")
      val dirty = gif.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'000000000000', substring(content, 7))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.decodeGifMeta(dirty)
        .orderBy(col("media_id"))
    },
      "SELECT doc_id AS media_id, doc_id <> 0 AS sig_ok, " +
      "CASE WHEN doc_id <> 0 THEN '89a' END AS version, " +
      "CASE WHEN doc_id <> 0 THEN doc_id % 1920 + 1 END AS width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(length(text) % 1080 + 1 AS BIGINT) END AS height, " +
      "CASE WHEN doc_id <> 0 THEN false END AS has_gct, " +
      "doc_id <> 0 AS trailer_ok FROM documents ORDER BY media_id"),
    // CONTENT leg: real zlib PNGs (all five row filters planted), decoded
    // pixel-for-pixel — stats + perceptual hashes must land on the exact
    // integers the oracle re-derives from the pixel formula; doc 0's
    // zeroed signature degrades to ok=false, never throws
    Gate("x_mm_pixels", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // full pixel replay: the engine must inflate + unfilter real zlib to
      // land on these integers; hashes rebuilt bit-by-bit from cell means
      pngPixelsOracle),
    // JPEG CONTENT leg: real baseline JPEGs (Huffman scan, DC-exact
    // block-flat fixture), decoded by the pure-JVM T.81 decoder — stats
    // + hashes land on the integers the oracle re-derives from the
    // block formula; doc 0's zeroed SOI degrades to ok=false
    Gate("x_mm_pixels_jpeg", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 200)
      val media = graft.ext.Multimodal.syntheticBlockJpegCorpus(docs,
        "doc_id", col("doc_id") % 23, lit(8), lit(8))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000', substring(content, 3))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.jpegContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // JPEG pixel replay: the engine must Huffman-decode + IDCT a real
      // baseline JPEG to land on these integers — the DC-exact block-flat
      // fixture makes the decode a pure function of the block formula
      "WITH " +
      jpegHashCtes("doc_id % 23", 8, 8, "doc_id < 200") + ", " +
      pixelStatsSelect(" ORDER BY media_id")),
    // PROGRESSIVE JPEG content leg: real SOF2 multi-scan streams
    // (successive-approximation DC, EOBRUN AC bands) decoded by the
    // T.81 Annex G path — SAME block contract as x_mm_pixels_jpeg, so
    // its oracle replays verbatim; doc 0's zeroed SOI degrades
    Gate("x_mm_pixels_jpeg_prog", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 200)
      val media = graft.ext.Multimodal.syntheticProgJpegCorpus(docs,
        "doc_id", col("doc_id") % 23, lit(8), lit(8))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000', substring(content, 3))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.jpegContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // progressive-JPEG pixel replay: the engine must run the SOF2
      // multi-scan accumulation (successive-approximation DC + EOBRUN) —
      // SAME oracle chain as x_mm_pixels_jpeg (identical block contract)
      "WITH " +
      jpegHashCtes("doc_id % 23", 8, 8, "doc_id < 200") + ", " +
      pixelStatsSelect(" ORDER BY media_id")),
    // PALETTE PNG content leg (color type 3): the engine must walk a
    // real PLTE and remap every index to the entry's BT.601 luma
    Gate("x_mm_pixels_palette", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPalettePngCorpus(docs,
        "doc_id", col("doc_id") % 9, lit(16) + col("doc_id") % 7,
        lit(12) + col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // palette-PNG pixel replay: index + PLTE-entry formulas re-derived,
      // luma = (77R + 150G + 29B) // 256 of the looked-up entry
      "WITH " +
      paletteHashCtes("doc_id % 9", "16 + doc_id % 7", "12 + doc_id % 5") +
      ", " + pixelStatsSelect(" ORDER BY media_id")),
    // ADAM7-INTERLACED PNG content leg: seven filtered sub-images
    // reassembled — SAME pixel contract as x_mm_pixels, so its oracle
    // replays verbatim while the engine must deinterlace
    Gate("x_mm_pixels_adam7", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticAdam7PngCorpus(docs,
        "doc_id", col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // Adam7 pixel replay: SAME oracle chain as x_mm_pixels (identical
      // pixel contract — the interlacing is wire-level only)
      pngPixelsOracle),
    // CROSS-FORMAT JPEG dup: the same picture stored BASELINE and
    // PROGRESSIVE lands at Hamming 0 through one sniffing scan — a
    // progressive re-encode of an ingested baseline JPEG (the classic
    // crawl re-upload) is caught as the duplicate it is
    Gate("x_mm_progdup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
        .filter(col("doc_id") < 150 && col("doc_id") =!= 0)
      val base = graft.ext.Multimodal.syntheticBlockJpegCorpus(docs,
        "doc_id", col("doc_id") % 37, lit(8), lit(8))
      val prog = graft.ext.Multimodal.syntheticProgJpegCorpus(
        docs.select((col("doc_id") + 1000000L).as("doc_id"),
          (col("doc_id") % 37).as("s0")),
        "doc_id", col("s0"), lit(8), lit(8))
      graft.ext.Hamming64.pairs(
        graft.ext.Multimodal.mixedImageContentStats(
            base.unionByName(prog))
          .filter(col("ahash_hi").isNotNull),
        "media_id", "ahash", maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      // baseline/progressive pair oracle: ONE jpeg hash chain (identical
      // block contract in both wire formats), mirrored at +1000000 for
      // the progressive side — exact O(n^2) Hamming over the halves
      "WITH d0 AS (SELECT doc_id FROM documents " +
      "WHERE doc_id < 150 AND doc_id <> 0), " +
      "d AS (SELECT doc_id, doc_id % 37 AS seed, 64 AS w, 64 AS h FROM d0 " +
      "UNION ALL SELECT doc_id + 1000000, doc_id % 37, 64, 64 FROM d0), " +
      s"px AS (SELECT d.*, flatten([[ $jpegPixelExpr " +
      "for x in range(0, w)] for y in range(0, h)]) AS p FROM d)" +
      hashCtesFromPx + " " +
      "SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming " +
      "FROM hh a JOIN hh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 4 " +
      "ORDER BY i, j"),
    // SUB-BYTE PNG content leg (bit depths 1/2/4): the engine must
    // unfilter PACKED bytes, then bit-unpack and level-scale — the
    // full §11.2.2 gray depth matrix in one gate
    Gate("x_mm_pixels_depths", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGraySubPngCorpus(docs,
        "doc_id", col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6,
        when(col("doc_id") % 3 === 0, 1L).when(col("doc_id") % 3 === 1, 2L)
          .otherwise(4L))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // sub-byte pixel replay: level = ((t² mod 251) + t) mod 2^depth,
      // luma = level·255 // (2^depth − 1) — exact (1/3/15 divide 255)
      "WITH " +
      "d AS (SELECT doc_id, doc_id % 7 AS seed, 9 + doc_id % 8 AS w, " +
      "8 + doc_id % 6 AS h, CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 " +
      "ELSE 4 END AS dep FROM documents), " +
      "px AS (SELECT d.*, flatten([[ " +
      "((((((x*5 + y*11 + seed*131) % 251) * ((x*5 + y*11 + seed*131) % 251)) % 251 " +
      "+ (x*5 + y*11 + seed*131)) % (1::BIGINT << dep)) * 255) " +
      "// ((1::BIGINT << dep) - 1) " +
      "for x in range(0, w)] for y in range(0, h)]) AS p FROM d)" +
      hashCtesFromPx + ", " + pixelStatsSelect(" ORDER BY media_id")),
    // CROSS-container WEBP dup (round 14): a lossless-WebP re-encode of
    // an ingested PNG (the modern crawl re-upload) lands at Hamming 0
    // through one sniffing scan — identical pixel contract, identical
    // aHash, only the container differs
    Gate("x_mm_webpdup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 200, lit(16), lit(16),
        expr("CAST(doc_id DIV 200 AS BIGINT) % 5"))
      val webpSrc = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        (col("doc_id") % 200).as("s"),
        expr("CAST(doc_id DIV 200 AS BIGINT) % 5").as("b"))
      val webp = graft.ext.Multimodal.syntheticGrayWebpCorpus(webpSrc,
        "doc_id", col("s"), lit(16), lit(16), col("b"))
      graft.ext.Hamming64.pairs(
        graft.ext.Multimodal.mixedImageContentStats(
            png.unionByName(webp))
          .filter(col("ahash_hi").isNotNull),
        "media_id", "ahash", maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      // webp-dup replay: identical to the crossdup oracle (the webp half
      // plants the same pixel contract at +1e6) — only the engine's
      // container sniff + VP8L decode differ
      crossDupOracleSql),
    // CROSS-container near-dup: the same picture stored as PNG and as
    // GIF must land in the same Hamming ball through ONE sniffing scan
    // — the mixed-crawl dedup story end to end (identical pixel
    // contract -> identical aHash -> hamming-0 cross pairs; bump
    // variants pair within radius 4)
    Gate("x_mm_crossdup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 200, lit(16), lit(16),
        expr("CAST(doc_id DIV 200 AS BIGINT) % 5"))
      val gifSrc = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        (col("doc_id") % 200).as("s"),
        expr("CAST(doc_id DIV 200 AS BIGINT) % 5").as("b"))
      val gif = graft.ext.Multimodal.syntheticGrayGifCorpus(gifSrc,
        "doc_id", col("s"), lit(16), lit(16), col("b"))
      graft.ext.Hamming64.pairs(
        graft.ext.Multimodal.mixedImageContentStats(
            png.unionByName(gif))
          .filter(col("ahash_hi").isNotNull),
        "media_id", "ahash", maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      crossDupOracleSql),
    // GIF CONTENT leg: real LZW rasters (literal-code streams any
    // decoder replays), decoded pixel-for-pixel — SAME pixel contract
    // as the PNG fixture, so the PNG oracle chain replays it verbatim
    Gate("x_mm_pixels_gif", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayGifCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.gifContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // GIF pixel replay: the engine must LZW-decode a real raster stream
      // to land on these integers — SAME oracle chain as x_mm_pixels (the
      // GIF fixture plants the identical pixel contract)
      pngPixelsOracle),
    // WebP-lossless CONTENT leg: real VP8L bitstreams (canonical prefix
    // codes + the subtract-green transform on EVERY image), entropy-
    // decoded pixel-for-pixel — SAME pixel contract as the PNG fixture,
    // so the PNG oracle chain replays it verbatim; doc 0's broken RIFF
    // magic degrades to ok=false
    Gate("x_mm_pixels_webp", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayWebpCorpus(docs,
        "doc_id", col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.webpContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // WebP-lossless pixel replay: the engine must run the full VP8L
      // entropy decode (canonical prefix codes, LSB-first bit stream)
      // AND invert the subtract-green transform to land on these
      // integers — SAME oracle chain as x_mm_pixels (identical contract)
      pngPixelsOracle),
    // ICO CONTENT leg (round 14): real single-entry favicons — even
    // docs wrap a REAL PNG payload, odd docs a raw doubled-height DIB
    // (XOR rows + AND mask, no BMP file header) — SAME pixel contract
    // as the PNG fixture, so the PNG oracle chain replays both entry
    // forms; doc 0's broken ICONDIR degrades to ok=false
    Gate("x_mm_pixels_ico", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayIcoCorpus(docs,
        "doc_id", col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5,
        col("doc_id") % 2 === 0)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'FFFF', substring(content, 3))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.icoContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // ICO pixel replay: the engine must walk the ICONDIR, route PNG
      // payloads to the zlib decode and raw DIBs through the doubled-
      // height row walk — SAME oracle chain as x_mm_pixels (identical
      // planted contract; the entry form is invisible to the oracle)
      pngPixelsOracle),
    // BMP CONTENT leg: real uncompressed DIBs (BGR bottom-up rows,
    // 4-byte padding, gray as truecolor so luma == pixel) — SAME pixel
    // contract as the PNG fixture, so the PNG oracle chain replays it
    // verbatim; doc 0's broken magic degrades to ok=false
    Gate("x_mm_pixels_bmp", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayBmpCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.bmpContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // BMP pixel replay: the engine must walk a real DIB header and
      // BGR-luma the padded bottom-up rows to land on these integers —
      // SAME oracle chain as x_mm_pixels (identical pixel contract)
      pngPixelsOracle),
    // TIFF CONTENT leg: real baseline IFDs (tag walk, inline vs offset
    // values, single-strip gray8) — SAME pixel contract as the PNG
    // fixture, so the PNG oracle chain replays it verbatim; doc 0's
    // broken byte-order magic degrades to ok=false
    Gate("x_mm_pixels_tiff", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayTiffCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.tiffContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // TIFF pixel replay: the engine must walk a real IFD (tag types,
      // inline-vs-offset values, strips) to land on these integers —
      // SAME oracle chain as x_mm_pixels (identical pixel contract)
      pngPixelsOracle),
    // PNG text-chunk leg: real tEXt + zTXt chunks (CRCs computed, the
    // zTXt value really zlib-deflated) spliced into a real PNG — the
    // engine must walk chunks, verify CRCs and inflate to land on the
    // planted strings; doc 0's broken magic contributes ZERO rows
    Gate("x_mm_pngtext", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.PngWithTextEncode((col("doc_id") % 31).cast("long"),
          lit(9L), lit(8L)).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.pngTextEntries(dirty)
        .orderBy(col("media_id"), col("key"))
    },
      // PNG text replay: two rows per doc from the planted contract —
      // the zTXt compression is invisible to the oracle
      "WITH d AS (SELECT doc_id, doc_id % 31 AS seed " +
      "FROM documents WHERE doc_id <> 0) " +
      "SELECT doc_id AS media_id, 'Author' AS key, " +
      "'author-' || CAST(seed % 9 AS VARCHAR) AS value FROM d " +
      "UNION ALL SELECT doc_id, 'Description', " +
      "'desc-' || CAST(seed % 6 AS VARCHAR) FROM d " +
      "ORDER BY media_id, key"),
    // EXIF leg: a REAL APP1 TIFF-IFD block planted inside the baseline
    // JPEG (the marker walk + the TIFF tag machinery composed) —
    // make/model/orientation/datetime replayed field by field; doc 0
    // is dirty bytes, doc_id % 11 == 1 rows are EXIF-less JPEGs
    Gate("x_mm_exif", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val seed = (col("doc_id") % 23).cast("long")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        when(col("doc_id") % 11 === 1,
          graft.ext.BlockJpegEncode(seed, lit(1L), lit(1L)))
          .otherwise(graft.ext.ExifJpegEncode(seed, lit(1L), lit(1L)))
          .as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000', substring(content, 3))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.exifMeta(dirty).orderBy(col("media_id"))
    },
      // EXIF field replay: every value is a pure function of the planted
      // contract — the engine must walk a real APP1 marker chain AND a
      // real TIFF IFD (types, inline-vs-offset, NUL-terminated ASCII)
      "SELECT doc_id AS media_id, " +
      "doc_id <> 0 AND doc_id % 11 <> 1 AS ok, " +
      "CASE WHEN doc_id <> 0 AND doc_id % 11 <> 1 THEN " +
      "'CAM-' || CAST((doc_id % 23) % 5 AS VARCHAR) END AS make, " +
      "CASE WHEN doc_id <> 0 AND doc_id % 11 <> 1 THEN " +
      "'MODEL-' || CAST((doc_id % 23) % 7 AS VARCHAR) END AS model, " +
      "CASE WHEN doc_id <> 0 AND doc_id % 11 <> 1 THEN " +
      "CAST(1 + (doc_id % 23) % 8 AS BIGINT) END AS orientation, " +
      "CASE WHEN doc_id <> 0 AND doc_id % 11 <> 1 THEN " +
      "CAST(2000 + (doc_id % 23) % 26 AS VARCHAR) || ':' || " +
      "lpad(CAST(1 + (doc_id % 23) % 12 AS VARCHAR), 2, '0') || ':' || " +
      "lpad(CAST(1 + (doc_id % 23) % 28 AS VARCHAR), 2, '0') || " +
      "' 12:34:56' END AS datetime " +
      "FROM documents ORDER BY media_id"),
    // ZIP-bundle ingestion: central-directory walk (the only truthful
    // path — streaming writers zero local sizes behind data
    // descriptors), CRC-verified inflate on the even rows' deflated
    // members; the oracle sees neither the compression nor the CD
    // layout — only the member contract; doc 0 is corrupt
    Gate("x_zip", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticZipCorpus(docs, "doc_id",
        col("doc_id") % 19, lit(2) + col("doc_id") % 4,
        col("doc_id") % 2 === 0)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0, // EOCD cut off: no truthful walk
          expr("substring(content, 1, length(content) - 12)"))
          .otherwise(col("content")))
      graft.ext.Multimodal.zipMembers(dirty)
        .drop("payload", "method")
        .orderBy(col("media_id"), col("member_idx"))
    },
      // zip replay: member names/sizes/byte-sums from the planted
      // contract — compression and directory layout invisible; only a
      // CRC-verified CD walk (+ real inflate on even rows) lands here
      "WITH d AS (SELECT doc_id, doc_id % 19 AS seed, " +
      "2 + doc_id % 4 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, seed, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, seed, i, 10 + (seed + i*5) % 80 AS sz FROM r) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS member_idx, " +
      "'bundle/doc-' || CAST(i AS VARCHAR) || '.bin' AS name, " +
      "CAST(sz AS BIGINT) AS size, " +
      "CAST((seed*17 + i*23) % 256 AS BIGINT) AS first_byte, " +
      "CAST(list_sum([ (seed*17 + i*23 + j*9) % 256 " +
      "for j in range(0, sz)]) AS BIGINT) AS byte_sum " +
      "FROM z ORDER BY media_id, member_idx"),
    // WebDataset-shard (tar) ingestion: checksum-verified ustar walk,
    // every third row gzip-membered (.tar.gz); names/sizes/byte-sums
    // replayed from the planted contract — the gzip is invisible to
    // the oracle; doc 0's corrupt checksum contributes ZERO rows
    Gate("x_tar", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticTarCorpus(docs, "doc_id",
        col("doc_id") % 17, lit(2) + col("doc_id") % 4)
      val gz = media.withColumn("content",
        when(col("media_id") % 3 === 0,
          graft.ext.GzipBytes(col("content"))).otherwise(col("content")))
      val dirty = gz.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(substring(content, 1, 150), X'77', substring(content, 152))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.tarMembers(dirty)
        .drop("payload")
        .orderBy(col("media_id"), col("member_idx"))
    },
      // tar replay: member names, octal-decoded sizes and payload
      // byte-sums from the planted contract; the .tar.gz membering is
      // invisible — only a checksum-verified ustar walk (after a real
      // gunzip on every third row) lands on these values
      "WITH d AS (SELECT doc_id, doc_id % 17 AS seed, " +
      "2 + doc_id % 4 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, seed, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, seed, i, 10 + (seed + i*7) % 100 AS sz FROM r) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS member_idx, " +
      "'shard/doc-' || CAST(i AS VARCHAR) || '.bin' AS name, " +
      "CAST(sz AS BIGINT) AS size, " +
      "CAST((seed*13 + i*29) % 256 AS BIGINT) AS first_byte, " +
      "CAST(list_sum([ (seed*13 + i*29 + j*7) % 256 " +
      "for j in range(0, sz)]) AS BIGINT) AS byte_sum " +
      "FROM z ORDER BY media_id, member_idx"),
    // WARC ingestion: the container crawls ACTUALLY arrive in — header
    // lines + Content-Length payloads, every third row gzip-membered
    // (the CommonCrawl layout); the oracle replays type/URI/length/
    // byte-sums from the planted contract and cannot see the gzip, so
    // the engine must really gunzip + walk; doc 0's broken magic
    // contributes ZERO rows
    Gate("x_warc", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticWarcCorpus(docs, "doc_id",
        col("doc_id") % 13, lit(2) + col("doc_id") % 5,
        col("doc_id") % 3 === 0)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.warcRecords(dirty)
        .drop("payload")
        .orderBy(col("media_id"), col("rec_idx"))
    },
      // WARC replay: every header field and payload-byte signal from the
      // planted contract; gzip membering is INVISIBLE here — only an
      // engine that really gunzips and walks the records can match
      "WITH d AS (SELECT doc_id, doc_id % 13 AS seed, " +
      "2 + doc_id % 5 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, seed, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, seed, i, 10 + (seed + i*3) % 50 AS len FROM r) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS rec_idx, " +
      "'response' AS warc_type, " +
      "'http://host-' || CAST(seed % 7 AS VARCHAR) || '.example/p' || " +
      "CAST(i AS VARCHAR) AS target_uri, " +
      "'2024-01-01T00:00:00Z' AS warc_date, " +
      "CAST(len AS BIGINT) AS content_length, " +
      "CAST((seed*31 + i*17) % 256 AS BIGINT) AS first_byte, " +
      "CAST(list_sum([ (seed*31 + i*17 + j*11) % 256 " +
      "for j in range(0, len)]) AS BIGINT) AS byte_sum " +
      "FROM z ORDER BY media_id, rec_idx"),
    // WARC->HTTP leg: real HTTP/1.1 response payloads inside real WARC
    // records — identity, CHUNKED (hex framing) and GZIP'd
    // (Content-Encoding) wire forms cycle per record; the engine must
    // walk WARC, parse the message, de-chunk and gunzip to land on the
    // planted body bytes; doc 0's broken magic contributes ZERO rows
    Gate("x_warc_http", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticWarcHttpCorpus(docs,
        "doc_id", col("doc_id") % 11, lit(2) + col("doc_id") % 4)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.warcHttpResponses(dirty)
        .drop("body")
        .orderBy(col("media_id"), col("rec_idx"))
    },
      // WARC->HTTP replay: the DOCUMENT body formula only — the HTTP
      // status line, chunk framing and gzip wrapper are invisible to the
      // oracle; only a real de-chunk + gunzip lands on these integers
      "WITH d AS (SELECT doc_id, doc_id % 11 AS seed, " +
      "2 + doc_id % 4 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, seed, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, seed, i, 20 + (seed + i*5) % 60 AS len FROM r) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS rec_idx, " +
      "'http://host-' || CAST(seed % 7 AS VARCHAR) || '.example/p' || " +
      "CAST(i AS VARCHAR) AS target_uri, " +
      "CAST(200 AS BIGINT) AS status, 'text/html' AS content_type, " +
      "CAST(len AS BIGINT) AS n_bytes, " +
      "CAST((seed*13 + i*19) % 256 AS BIGINT) AS first_byte, " +
      "CAST(list_sum([ (seed*13 + i*19 + j*7) % 256 " +
      "for j in range(0, len)]) AS BIGINT) AS byte_sum " +
      "FROM z ORDER BY media_id, rec_idx"),
    // charset bridge: WARC -> HTTP -> bytes->text — four declaration
    // modes cycle per record (header-declared ISO-8859-1, meta-tag
    // Shift_JIS, BOM'd UTF-8, undeclared windows-1252 fallback) over
    // the same identity/chunked/gzip wire forms; the engine must
    // resolve the encoding browser-style and strict-decode to land on
    // the planted code-point sums; doc 0's broken magic drops out
    Gate("x_http_text", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticWarcCharsetCorpus(docs,
        "doc_id", col("doc_id") % 7, lit(4) + col("doc_id") % 9)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.warcHttpTexts(dirty)
        .drop("text")
        .orderBy(col("media_id"), col("rec_idx"))
    },
      // charset-bridge replay: per-mode code-point arithmetic only — the
      // HTTP wire forms, the BOM, the meta prescan and the charset
      // tables are invisible to the oracle; only a real resolve + strict
      // decode lands on these sums (mode 1 adds the 26-char meta prefix
      // constant 2415; mode 0's label normalizes to windows-1252, the
      // WHATWG aliasing, value-neutral on the 0xC0+ bytes planted)
      "WITH d AS (SELECT doc_id, doc_id % 7 AS s, " +
      "4 + doc_id % 9 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, s, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, s, i, i % 4 AS mode, " +
      "12 + (s + 3*i) % 9 AS nch FROM r), " +
      "c AS (SELECT doc_id, s, i, mode, nch, " +
      "[ (s*11 + i*7 + j*5) % 8 for j in range(0, nch) ] AS aj FROM z) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS rec_idx, " +
      "'http://cs-' || CAST(s % 5 AS VARCHAR) || '.example/p' || " +
      "CAST(i AS VARCHAR) AS target_uri, " +
      "CAST(200 AS BIGINT) AS status, " +
      "CASE WHEN mode = 0 THEN 'text/html; charset=iso-8859-1' " +
      "ELSE 'text/html' END AS content_type, " +
      "CASE WHEN mode = 0 THEN 'windows-1252' " +
      "WHEN mode = 1 THEN 'windows-31j' WHEN mode = 2 THEN 'UTF-8' " +
      "ELSE 'windows-1252' END AS charset, " +
      "CAST(CASE WHEN mode = 1 THEN 26 + nch ELSE nch END AS BIGINT) " +
      "AS n_chars, " +
      "CAST(CASE WHEN mode = 0 THEN list_sum([192 + x for x in aj]) " +
      "WHEN mode = 1 THEN 2415 + list_sum([12449 + x for x in aj]) " +
      "WHEN mode = 2 THEN list_sum([19968 + x for x in aj]) " +
      "ELSE list_sum([[8364,8230,8240,8216,8217,8220,8221,8226]" +
      "[CAST(x AS INT) + 1] for x in aj]) END AS BIGINT) AS cp_sum " +
      "FROM c ORDER BY media_id, rec_idx"),
    // the END-TO-END web-extraction chain in ONE gate: WARC walk ->
    // HTTP de-chunk/gunzip -> charset resolve (header-declared
    // ISO-8859-1 / meta-declared Shift_JIS) -> strict decode ->
    // htmlStrip — the oracle replays the CLEAN TEXT ITSELF (exact
    // string compare incl. the katakana), not just sums; doc 0 drops
    Gate("x_web_extract", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.WarcHtmlEncode((col("doc_id") % 7).cast("long"),
          (lit(4) + col("doc_id") % 6).cast("long")).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.warcHttpTexts(dirty)
        .select(col("media_id"), col("rec_idx"), col("charset"),
          graft.ext.WebText.htmlStrip(col("text")).as("clean"))
        .withColumn("n_chars", length(col("clean")).cast("long"))
        .orderBy(col("media_id"), col("rec_idx"))
    },
      // web-extraction replay: the oracle BUILDS the expected clean text
      // ('T ' || words || ' ' || native chars via chr()) — the WARC
      // framing, HTTP wire forms, charset tables, HTML tags, the comment
      // and the whitespace collapse are all invisible; only the full
      // chain run correctly lands on the exact strings
      "WITH d AS (SELECT doc_id, doc_id % 7 AS s, " +
      "4 + doc_id % 6 AS n FROM documents WHERE doc_id <> 0), " +
      "r AS (SELECT doc_id, s, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT doc_id, s, i, i % 2 AS mode, " +
      "3 + (s + i) % 4 AS k FROM r), " +
      "c AS (SELECT doc_id, i, mode, k, " +
      "array_to_string(['w' || CAST((s*5 + i*3 + j*7) % 10 AS VARCHAR) " +
      "for j in range(0, k)], ' ') AS words, " +
      "array_to_string([chr(CAST(CASE WHEN mode = 0 THEN 192 " +
      "ELSE 12449 END + (s*3 + i*11 + j) % 8 AS INT)) " +
      "for j in range(0, 4)], '') AS nat, " +
      // the r15 entity segment: decimal ref, hex ref, two named,
      // the double-encoded literal, the out-of-range FFFD, the C1
      // remap en dash — all ASCII on the wire, decoded by htmlStrip
      "chr(CAST(200 + (s*3 + i*11 + 5) % 8 AS INT)) || " +
      "chr(CAST(12449 + (s*3 + i*11 + 6) % 8 AS INT)) || " +
      "' ' || chr(169) || chr(8230) || ' &#65; ' || " +
      "chr(65533) || chr(8211) AS ent FROM z) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS rec_idx, " +
      "CASE WHEN mode = 0 THEN 'windows-1252' ELSE 'windows-31j' END " +
      "AS charset, " +
      "'T ' || words || ' ' || nat || ' ' || ent AS clean, " +
      "CAST(3*k + 21 AS BIGINT) AS n_chars " +
      "FROM c ORDER BY media_id, rec_idx"),
    // PDF text layer: real multi-page PDFs (valid xref), content
    // streams cycling p mod 4 = Flate / raw / LZW / ASCII85-of-Flate
    // (r15: all four filter decoders must work for the sums to land,
    // and n_skipped_streams = 0 pins that none was skipped), text
    // shown through Tj / ' / TJ with escaped parens and hex strings;
    // doc 0's broken magic -> ok=false
    Gate("x_pdf_text", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPdfCorpus(docs, "doc_id",
        col("doc_id") % 13, lit(1) + col("doc_id") % 4)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.pdfText(dirty)
        .drop("text")
        .orderBy(col("media_id"))
    },
      // PDF replay: the per-page show-text contract only — the xref, the
      // Flate wrapper, the escape forms and the hex framing are
      // invisible; constants: ' x(y)z'=476/6ch, 'abcd'=394/4ch, word
      // 't<d>'=164+d/2ch, digit pair 96+d1+d2/2ch, separators 32·(nw−1)
      "WITH d AS (SELECT doc_id, doc_id % 13 AS s, " +
      "1 + doc_id % 4 AS np FROM documents), " +
      "pg AS (SELECT doc_id, s, np, unnest(range(0, np)) AS p FROM d), " +
      "w AS (SELECT doc_id, s, np, p, 3 + (s + p) % 4 AS nw, " +
      "(s + p) % 100 AS dd FROM pg), " +
      "pc AS (SELECT doc_id, np, 3*nw + 11 AS pchars, " +
      "CAST(list_sum([164 + (s*7 + p*5 + j*3) % 10 " +
      "for j in range(0, nw)]) AS BIGINT) " +
      "+ 32*nw - 32 + 966 + dd // 10 + dd % 10 AS psum FROM w), " +
      "t AS (SELECT doc_id, MAX(np) AS np, " +
      "CAST(SUM(pchars) AS BIGINT) AS n_chars, " +
      "CAST(SUM(psum) AS BIGINT) AS cp_sum FROM pc GROUP BY doc_id) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np AS BIGINT) END AS n_pages, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np AS BIGINT) END AS n_streams, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np AS BIGINT) END " +
      "AS n_text_streams, " +
      "CASE WHEN doc_id <> 0 THEN CAST(0 AS BIGINT) END " +
      "AS n_skipped_streams, " +
      "CASE WHEN doc_id <> 0 THEN n_chars END AS n_chars, " +
      "CASE WHEN doc_id <> 0 THEN cp_sum END AS cp_sum " +
      "FROM t ORDER BY media_id"),
    // PDF Type0/CID text (r15 verdict #1): every content stream shows
    // 2-byte CIDs under an Identity-H font whose Flate'd ToUnicode
    // CMap (bfchar + bfrange, incl. a surrogate-pair range) is the
    // ONLY route to text — the engine must index objects, bind the
    // resource font, decode the CMap and run CID chunks through it;
    // the oracle replays the clean text as EXACT strings (kana +
    // emoji), and the unmapped CID 0x0FFF must drop without a trace
    Gate("x_pdf_text_cid", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPdfCidCorpus(docs,
        "doc_id", col("doc_id") % 17, lit(1) + col("doc_id") % 4)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.pdfText(dirty)
        .orderBy(col("media_id"))
    },
      // CID replay: the oracle rebuilds the clean text as EXACT strings
      // (latin word, two kana, two emoji per page — the surrogate-pair
      // bfrange landing as real astral code points) straight from the
      // documented per-page contract; the unmapped CID contributes
      // NOTHING, so any guessed glyph breaks the string match
      "WITH d AS (SELECT doc_id, doc_id % 17 AS s, " +
      "1 + doc_id % 4 AS np FROM documents), " +
      "pg AS (SELECT doc_id, s, np, unnest(range(0, np)) AS p FROM d), " +
      "w AS (SELECT doc_id, s, np, p, 3 + (s + p) % 4 AS k, " +
      "(s + 3*p) % 8 AS a, (s + 3*p + 5) % 8 AS b FROM pg), " +
      "pt AS (SELECT doc_id, np, p, k + 6 AS pchars, " +
      "CAST(list_sum([97 + (s*7 + p*5 + j*3) % 10 " +
      "for j in range(0, k)]) AS BIGINT) " +
      "+ 64 + 12450 + a + 12450 + b + 257024 + p % 4 AS psum, " +
      "array_to_string([chr(CAST(97 + (s*7 + p*5 + j*3) % 10 AS INT)) " +
      "for j in range(0, k)], '') || ' ' || " +
      "chr(CAST(12450 + a AS INT)) || ' ' || " +
      "chr(CAST(12450 + b AS INT)) || chr(128512) || " +
      "chr(CAST(128512 + p % 4 AS INT)) AS ptext FROM w), " +
      "t AS (SELECT doc_id, MAX(np) AS np, " +
      "CAST(SUM(pchars) AS BIGINT) AS n_chars, " +
      "CAST(SUM(psum) AS BIGINT) AS cp_sum, " +
      "string_agg(ptext, '' ORDER BY p) AS text FROM pt " +
      "GROUP BY doc_id) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np AS BIGINT) END AS n_pages, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np + 1 AS BIGINT) END " +
      "AS n_streams, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np AS BIGINT) END " +
      "AS n_text_streams, " +
      "CASE WHEN doc_id <> 0 THEN CAST(0 AS BIGINT) END " +
      "AS n_skipped_streams, " +
      "CASE WHEN doc_id <> 0 THEN n_chars END AS n_chars, " +
      "CASE WHEN doc_id <> 0 THEN cp_sum END AS cp_sum, " +
      "CASE WHEN doc_id <> 0 THEN text END AS text " +
      "FROM t ORDER BY media_id"),
    // MP3 leg: ID3v2 tag block + MPEG1-L3 frame-header walk — frame
    // count, duration samples, audio bytes and the text tags are pure
    // header/table arithmetic (no entropy decode, the honest MP4-leg
    // scope); doc 0's zeroed magic degrades to ok=false
    Gate("x_mm_mp3", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticMp3Corpus(docs, "doc_id",
        col("doc_id") % 29, lit(3) + col("doc_id") % 10)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'000000', substring(content, 4))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.mp3Meta(dirty).orderBy(col("media_id"))
    },
      // MP3 replay: per-frame sizes from the bitrate/samplerate tables
      // (144·br/sr + pad, integer division), duration as frames·1152,
      // tags from the planted formula — the engine must walk real
      // syncsafe ID3 lengths and real frame headers to land here
      "WITH d AS (SELECT doc_id, doc_id % 29 AS seed, " +
      "3 + doc_id % 10 AS nf FROM documents), " +
      "f AS (SELECT doc_id, seed, unnest(range(0, nf)) AS i FROM d), " +
      "z AS (SELECT doc_id, " +
      "[32,40,48,56,64,80,96,112,128,160,192,224,256,320]" +
      "[CAST(1 + (seed + i) % 14 AS INT)] AS br, " +
      "[44100,48000,32000][CAST(seed % 3 AS INT) + 1] AS sr, " +
      "(seed + i) % 2 AS pad FROM f), " +
      "sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames, " +
      "CAST(SUM(144 * (br*1000) // sr + pad) AS BIGINT) AS bytes_audio, " +
      "CAST(MAX(sr) AS BIGINT) AS sample_rate FROM z GROUP BY doc_id) " +
      "SELECT d.doc_id AS media_id, d.doc_id <> 0 AS ok, " +
      "CASE WHEN d.doc_id <> 0 THEN n_frames END AS n_frames, " +
      "CASE WHEN d.doc_id <> 0 THEN n_frames * 1152 END AS samples_total, " +
      "CASE WHEN d.doc_id <> 0 THEN sample_rate END AS sample_rate, " +
      "CASE WHEN d.doc_id <> 0 THEN bytes_audio END AS bytes_audio, " +
      "CASE WHEN d.doc_id <> 0 THEN 'TITLE-' || CAST(seed % 13 AS VARCHAR) END AS title, " +
      "CASE WHEN d.doc_id <> 0 THEN 'ARTIST-' || CAST(seed % 11 AS VARCHAR) END AS artist, " +
      "CASE WHEN d.doc_id <> 0 THEN 'ALBUM-' || CAST(seed % 7 AS VARCHAR) END AS album " +
      "FROM d JOIN sz USING (doc_id) ORDER BY media_id"),
    // AVIF/HEIC metadata (r15 verdict #5): real ISO-BMFF item files —
    // the engine must walk meta(fullbox)/iprp/ipco and read the ispe
    // dims + iinf item count (both iinf version forms cycle by seed)
    // with ZERO AV1/HEVC decode; doc 0's broken magic -> ok=false
    Gate("x_mm_avif_meta", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.BmffMetaEncode((col("doc_id") % 19).cast("long"),
          (col("doc_id") % 2).cast("long")).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.bmffImageMeta(dirty).orderBy(col("media_id"))
    },
      // AVIF/HEIC replay: pure arithmetic from the planted contract —
      // the engine earns it only by walking real fullbox offsets
      "SELECT doc_id AS media_id, " +
      "doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN doc_id % 2 = 0 " +
      "THEN 'avif' ELSE 'heic' END END AS brand, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + (doc_id % 19) % 3 AS BIGINT) " +
      "END AS n_items, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + (doc_id % 19) % 2 AS BIGINT) " +
      "END AS n_ispe, " +
      "CASE WHEN doc_id <> 0 THEN CAST(64 + ((doc_id % 19) * 7) % 101 " +
      "AS BIGINT) END AS width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(48 + ((doc_id % 19) * 5) % 67 " +
      "AS BIGINT) END AS height " +
      "FROM documents ORDER BY media_id"),
    // WebM/Matroska EBML walk (r15 verdict #6): real files with a full
    // EBML header, Info, Tracks (video + audio, a third track every
    // 3rd doc) and an opaque Cluster the walk must skip by size; the
    // oracle replays doctype/duration/track spine arithmetically
    Gate("x_mm_webm", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.MkvEncode((col("doc_id") % 23).cast("long"))
          .as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.mkvMeta(dirty).orderBy(col("media_id"))
    },
      // WebM replay: doctype/version/duration and the full track spine
      // from the planted formulas (duration rides an integer-valued
      // float64, floored to units on the engine side)
      "WITH d AS (SELECT doc_id, doc_id % 23 AS s, " +
      "CASE WHEN doc_id % 23 % 5 < 2 THEN 1 ELSE 0 END AS sb " +
      "FROM documents) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN s % 2 = 0 THEN 'webm' " +
      "ELSE 'matroska' END END AS doctype, " +
      "CASE WHEN doc_id <> 0 THEN CAST(2 + s % 3 AS BIGINT) END " +
      "AS doctype_version, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1000000 AS BIGINT) END " +
      "AS timestamp_scale, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1000 + s % 50000 AS BIGINT) END " +
      "AS duration_units, " +
      "CASE WHEN doc_id <> 0 THEN CAST(CASE WHEN s % 3 = 0 THEN 3 " +
      "ELSE 2 END + sb AS BIGINT) END AS n_tracks, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN s % 2 = 0 THEN 'V_VP9' " +
      "ELSE 'V_VP8' END END AS video_codec, " +
      "CASE WHEN doc_id <> 0 THEN CAST(320 + (s * 3) % 1280 AS BIGINT) " +
      "END AS pixel_width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(240 + (s * 7) % 720 AS BIGINT) " +
      "END AS pixel_height, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN s % 2 = 0 THEN 'A_OPUS' " +
      "ELSE 'A_VORBIS' END END AS audio_codec, " +
      "CASE WHEN doc_id <> 0 THEN CAST([8000,16000,22050,44100,48000]" +
      "[CAST(s % 5 AS INT) + 1] AS BIGINT) END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + s % 2 AS BIGINT) END " +
      "AS channels, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + s % 3 AS BIGINT) END " +
      "AS n_clusters, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum([1 + (s + c) % 2 " +
      "for c in range(0, 1 + s % 3)]) + sb * (1 + s % 3) AS BIGINT) " +
      "END AS n_blocks, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum(flatten(" +
      "[[8 + (s*5 + c*7 + k*3) % 40 for k in range(0, 1 + (s + c) % 2)] " +
      "for c in range(0, 1 + s % 3)])) + sb * 8 * (1 + s % 3) " +
      "AS BIGINT) END AS frame_bytes, " +
      "CASE WHEN doc_id <> 0 THEN CAST(sb * (1 + s % 3) AS BIGINT) " +
      "END AS n_sub_blocks, " +
      "CASE WHEN doc_id <> 0 AND sb = 1 THEN array_to_string(" +
      "['sub ' || CAST(c AS VARCHAR) || ' w' || " +
      "CAST((s*3 + c) % 10 AS VARCHAR) " +
      "for c in range(0, 1 + s % 3)], chr(10)) END AS subtitle_text " +
      "FROM d ORDER BY media_id"),
    // MP4 movie metadata (r15, the Matroska spine mirrored onto the
    // other dominant video container): mvhd timescale/duration (both
    // fullbox versions cycle by seed), per-trak handler + stsd codec
    // fourcc, tkhd 16.16 dims, audio rate/channels, and tx3g timed
    // TEXT extracted via the stsz/stco sample walk — the oracle
    // replays the cue text as EXACT strings
    Gate("x_mm_mp4_meta", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.Mp4MovieEncode((col("doc_id") % 27).cast("long"))
          .as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.mp4MovieMeta(dirty).orderBy(col("media_id"))
    },
      // MP4 movie replay: mvhd/trak/stsd fields and the tx3g cue text
      // as exact strings, all from the planted per-seed formulas
      "WITH d AS (SELECT doc_id, doc_id % 27 AS s, " +
      "CASE WHEN doc_id % 27 % 4 < 2 THEN 1 ELSE 0 END AS tx " +
      "FROM documents) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1000 AS BIGINT) END " +
      "AS timescale, " +
      "CASE WHEN doc_id <> 0 THEN CAST(5000 + s % 90000 AS BIGINT) " +
      "END AS duration_units, " +
      "CASE WHEN doc_id <> 0 THEN CAST(2 + tx AS BIGINT) END " +
      "AS n_tracks, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN s % 2 = 0 THEN 'avc1' " +
      "ELSE 'hvc1' END END AS video_codec, " +
      "CASE WHEN doc_id <> 0 THEN CAST(320 + (s * 3) % 1280 AS BIGINT) " +
      "END AS width, " +
      "CASE WHEN doc_id <> 0 THEN CAST(240 + (s * 7) % 720 AS BIGINT) " +
      "END AS height, " +
      "CASE WHEN doc_id <> 0 THEN 'mp4a' END AS audio_codec, " +
      "CASE WHEN doc_id <> 0 THEN CAST([8000,16000,22050,44100,48000]" +
      "[CAST(s % 5 AS INT) + 1] AS BIGINT) END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + s % 2 AS BIGINT) END " +
      "AS channels, " +
      "CASE WHEN doc_id <> 0 THEN CAST(tx * (1 + s % 3) AS BIGINT) " +
      "END AS n_text_samples, " +
      "CASE WHEN doc_id <> 0 AND tx = 1 THEN array_to_string(" +
      "['cue ' || CAST(t AS VARCHAR) || ' q' || " +
      "CAST((s*7 + t) % 10 AS VARCHAR) " +
      "for t in range(0, 1 + s % 3)], chr(10)) END AS text " +
      "FROM d ORDER BY media_id"),
    // Ogg page walk (r15 verdict #7): every page CRC-verified (the Ogg
    // polynomial, computed with the CRC field zeroed), packets counted
    // by lacing closure, and the Vorbis/Opus ident header probed for
    // rate/channels without decoding one sample
    Gate("x_mm_ogg", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.OggEncode((col("doc_id") % 31).cast("long"),
          (lit(1L) + col("doc_id") % 5).cast("long")).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.oggMeta(dirty).orderBy(col("media_id"))
    },
      // Ogg replay: page/packet counts by the planted lacing closure,
      // granule and ident-header fields arithmetically — the engine
      // earns them only if every page CRC verifies
      "WITH d AS (SELECT doc_id, doc_id % 31 AS s, " +
      "1 + doc_id % 5 AS np, " +
      "CASE WHEN doc_id % 31 % 3 = 0 THEN 1 ELSE 0 END AS mx " +
      "FROM documents) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST((2 + np) * (1 + mx) AS BIGINT) " +
      "END AS n_pages, " +
      "CASE WHEN doc_id <> 0 THEN CAST(2 + list_sum([1 + (s + p) % 3 " +
      "for p in range(0, np)]) + mx * (2 + np) AS BIGINT) END " +
      "AS n_packets, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + mx AS BIGINT) END " +
      "AS n_streams, " +
      "CASE WHEN doc_id <> 0 THEN CASE WHEN s % 2 = 0 THEN 'vorbis' " +
      "ELSE 'opus' END END AS codec, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + s % 2 AS BIGINT) END " +
      "AS channels, " +
      "CASE WHEN doc_id <> 0 THEN CAST([8000,11025,16000,22050,44100]" +
      "[CAST(s % 5 AS INT) + 1] AS BIGINT) END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN CAST(np * 576 AS BIGINT) END " +
      "AS last_granule, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 + s % 100000 AS BIGINT) END " +
      "AS serial, " +
      "CASE WHEN doc_id <> 0 THEN 'graft-fixture' END AS vendor, " +
      "CASE WHEN doc_id <> 0 THEN 'artist-' || CAST(s % 13 AS VARCHAR) " +
      "END AS artist, " +
      "CASE WHEN doc_id <> 0 THEN 'title-' || CAST(s % 9 AS VARCHAR) " +
      "END AS title, " +
      "CASE WHEN doc_id <> 0 THEN CAST(2 + s % 2 AS BIGINT) END " +
      "AS n_comments " +
      "FROM d ORDER BY media_id"),
    // ORIENTATION-normalized hashing: every row stores its pixels
    // camera-rotated (1/3/6/8 by row) with a real EXIF tag; the engine
    // must READ the tag and UN-rotate before hashing, because the
    // oracle replays only the upright block contract — rotation
    // variance must vanish entirely
    Gate("x_mm_orient", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 200)
      val o = when(col("doc_id") % 4 === 0, 1L)
        .when(col("doc_id") % 4 === 1, 3L)
        .when(col("doc_id") % 4 === 2, 6L).otherwise(8L)
      val media = docs.select(col("doc_id").cast("long").as("media_id"),
        graft.ext.OrientedJpegEncode((col("doc_id") % 23).cast("long"),
          lit(6L), lit(4L), o).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000', substring(content, 3))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.orientedImageContentStats(dirty)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // orientation replay: the oracle is the UPRIGHT chain only — any
      // un-normalized rotation would shift width/height and every hash
      "WITH " +
      jpegHashCtes("doc_id % 23", 6, 4, "doc_id < 200") + ", " +
      pixelStatsSelect(" ORDER BY media_id")),
    // TRIAGE: one magic-byte scan tags all eight container kinds (+
    // junk) over a fully mixed column — the crawl pipeline's first
    // pass, which downstream decode legs partition-prune on; proves
    // each fixture writes the magic it claims AND the sniff reads it
    Gate("x_mm_triage", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val seed = col("doc_id") % 7
      val content =
        when(col("doc_id") % 16 === 0,
          graft.ext.GrayPngEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L)))
        .when(col("doc_id") % 16 === 1,
          graft.ext.BlockJpegEncode(seed, lit(2L), lit(2L)))
        .when(col("doc_id") % 16 === 2,
          graft.ext.GrayGifEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L)))
        .when(col("doc_id") % 16 === 3,
          graft.ext.GrayBmpEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L)))
        .when(col("doc_id") % 16 === 4,
          graft.ext.GrayTiffEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L)))
        .when(col("doc_id") % 16 === 5,
          graft.ext.PcmWavEncode(seed, lit(80L), lit(8000L)))
        .when(col("doc_id") % 16 === 6,
          graft.ext.Mp4SamplesEncode(seed, lit(4L)))
        .when(col("doc_id") % 16 === 7,
          graft.ext.AviMjpegEncode(seed, lit(1L), lit(1L), lit(1L)))
        // detection-only container kinds (no decode leg): minimal
        // magic-byte blobs — the census must still tag them correctly
        .when(col("doc_id") % 16 === 8, // REAL decodable VP8L (r14)
          graft.ext.GrayWebpEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L)))
        .when(col("doc_id") % 16 === 9, // REAL decodable ICO (r14)
          graft.ext.GrayIcoEncode(seed, lit(9L), lit(8L), lit(11L),
            lit(5L), lit(2L), lit(true)))
        .when(col("doc_id") % 16 === 10,
          expr("CAST('%PDF-1.4 minimal' AS BINARY)"))
        // r15: avif/heic/webm/ogg rows are now REAL walkable files
        .when(col("doc_id") % 16 === 11,
          graft.ext.BmffMetaEncode(seed, lit(0L)))
        .when(col("doc_id") % 16 === 12,
          graft.ext.MkvEncode(seed))
        .when(col("doc_id") % 16 === 13,
          graft.ext.OggEncode(seed, lit(2L)))
        .when(col("doc_id") % 16 === 14,
          graft.ext.BmffMetaEncode(seed, lit(1L)))
        .otherwise(expr("CAST('plain text, not media' AS BINARY)"))
      graft.ext.Multimodal.mediaTriage(
          docs.select(col("doc_id").cast("long").as("media_id"),
            content.as("content")))
        .drop("n_bytes")
        .orderBy(col("media_id"))
    },
      // triage replay: kind is a pure function of which fixture the gate
      // planted per row — the engine's sniff must agree on every row
      "SELECT doc_id AS media_id, CASE doc_id % 16 " +
      "WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' " +
      "WHEN 3 THEN 'bmp' WHEN 4 THEN 'tiff' WHEN 5 THEN 'wav' " +
      "WHEN 6 THEN 'mp4' WHEN 7 THEN 'avi' WHEN 8 THEN 'webp' " +
      "WHEN 9 THEN 'ico' WHEN 10 THEN 'pdf' WHEN 11 THEN 'avif' " +
      "WHEN 12 THEN 'webm' WHEN 13 THEN 'ogg' WHEN 14 THEN 'heic' " +
      "ELSE 'unknown' END AS kind " +
      "FROM documents ORDER BY media_id"),
    // MIXED-container leg: PNG, JPEG and WebP-lossless interleaved row
    // by row (the crawl reality), one container-sniffing scan, one
    // stat/hash space; doc 0's broken magic degrades to ok=false
    Gate("x_mm_mixed", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 200)
      val png = graft.ext.Multimodal.syntheticGrayPngCorpus(
        docs.filter(col("doc_id") % 3 === 0), "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val jpg = graft.ext.Multimodal.syntheticBlockJpegCorpus(
        docs.filter(col("doc_id") % 3 === 1), "doc_id",
        col("doc_id") % 23, lit(8), lit(8))
      val webp = graft.ext.Multimodal.syntheticGrayWebpCorpus(
        docs.filter(col("doc_id") % 3 === 2), "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val media = png.unionByName(jpg).unionByName(webp)
        .withColumn("content",
          when(col("media_id") === 0,
            expr("concat(X'00', substring(content, 2))"))
            .otherwise(col("content")))
      graft.ext.Multimodal.mixedImageContentStats(media)
        .drop("ahash", "dhash")
        .orderBy(col("media_id"))
    },
      // mixed-container replay: each half rides its own pixel chain (PNG
      // formula for even docs, JPEG block formula for odd), unioned — the
      // engine's single sniffing scan must match both
      "SELECT * FROM ((WITH " +
      pngHashCtes("doc_id % 7", "9 + doc_id % 8", "8 + doc_id % 6",
        "doc_id % 5") + ", " + pixelStatsSelect(
        " WHERE doc_id % 3 = 0 AND doc_id < 200") + ") UNION ALL (WITH " +
      jpegHashCtes("doc_id % 23", 8, 8, "doc_id % 3 = 1 AND doc_id < 200") +
      ", " + pixelStatsSelect("") + ") UNION ALL (WITH " +
      // the webp rows replay the SAME pixel chain as png (identical
      // planted contract — only the container differs)
      pngHashCtes("doc_id % 7", "9 + doc_id % 8", "8 + doc_id % 6",
        "doc_id % 5") + ", " + pixelStatsSelect(
        " WHERE doc_id % 3 = 2 AND doc_id < 200") +
      ")) ORDER BY media_id"),
    // image near-dup by aHash: 200 structural clusters (seed), bounded
    // perturbations within (bump) — banded Hamming join, exact to radius 4.
    // Cluster size stays O(corpus/200): identical fingerprints collide on
    // all 56 banding tables, so cluster cardinality must not grow with SF
    // (the 8-cluster variant measured 62 s at sf0.1 on pure key-group
    // quadratics; 200 clusters holds the same recall proof at ~6 s)
    Gate("x_mm_imgdup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 200, lit(16), lit(16),
        expr("CAST(doc_id DIV 200 AS BIGINT) % 5"))
      graft.ext.Multimodal.imageNearDupPairs(media, maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      // O(n^2) pair oracle over the replayed aHashes (exact Hamming on the
      // 32-bit halves — no signed-64 overflow); the engine's banded join
      // must reproduce the pair set exactly (radius 4 <= the radius-6
      // recall guarantee)
      "WITH " +
      pngHashCtes("doc_id % 200", "16", "16", "(doc_id // 200) % 5") + " " +
      "SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming " +
      "FROM hh a JOIN hh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 4 " +
      "ORDER BY i, j"),
    // audio content: real PCM WAVs decoded sample-for-sample — loudness/
    // peak/zero-cross integers + the energy-contour fingerprint; clips
    // under 64 samples null the fingerprint, doc 0's zeroed RIFF degrades
    Gate("x_mm_audio", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPcmCorpus(docs, "doc_id",
        col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4,
        lit(8000) + (col("doc_id") % 3) * 4000)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioContentStats(dirty)
        .drop("fp")
        .orderBy(col("media_id"))
    },
      // sample-for-sample PCM replay: loudness/peak/zero-cross integers +
      // the 62-bit energy-contour fingerprint (bits 0 and 63 always clear
      // — bit 63 reserved so the sentinel stays unreachable; fpHalf's hi
      // half replays k = 32..62 to match)
      pcmOracleSql),
    // FLAC leg (round 14): real FLAC streams — Rice-coded residuals
    // under FIXED/LPC predictors, CRC-verified frames, subframe types
    // cycling per frame — decoded sample-for-sample into the SAME stat
    // + fingerprint space as WAV (identical sample contract, so the
    // x_mm_audio oracle chain replays it verbatim); doc 0's zeroed
    // magic degrades to ok=false
    Gate("x_mm_flac", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticFlacCorpus(docs, "doc_id",
        col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4,
        lit(8000) + (col("doc_id") % 3) * 4000)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.flacContentStats(dirty)
        .drop("fp")
        .orderBy(col("media_id"))
    },
      // FLAC replay: IDENTICAL oracle body to x_mm_audio (same planted
      // sample ramp) — only the engine side differs: it must walk FLAC
      // frames, verify CRCs and run the Rice/predictor decode to land on
      // the same integers the WAV chain replays
      pcmOracleSql),
    // G.711 telephony leg: REAL A-law/mu-law WAVs (format tag 6/7,
    // 8-bit mono) expanded to 16-bit linear by the exact ITU integer
    // formulas — every stat and fingerprint below is over the EXPANDED
    // samples, which the oracle re-derives byte by byte; doc 0's
    // zeroed RIFF degrades to ok=false
    Gate("x_mm_g711", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticG711Corpus(docs, "doc_id",
        col("doc_id") % 9, lit(80) + (col("doc_id") % 40) * 4,
        lit(6) + col("doc_id") % 2)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioContentStats(dirty)
        .drop("fp")
        .orderBy(col("media_id"))
    },
      // G.711 replay: byte formula -> exact ITU expansion (mu-law:
      // complement, mantissa*8+132, segment shift, un-bias; A-law: xor
      // 0x55, per-segment linearization, INVERTED sign convention) ->
      // the standard stats + energy-contour fingerprint over the
      // EXPANDED samples — the engine must run the real G.711 math
      "WITH d AS (SELECT doc_id, doc_id % 9 AS seed, " +
      "80 + (doc_id % 40)*4 AS n, 6 + doc_id % 2 AS law FROM documents), " +
      "b AS (SELECT d.*, [ (seed*37 + j*11 + (j*j) % 97) % 256 " +
      "for j in range(0, n)] AS bl FROM d), " +
      "u AS (SELECT doc_id, law, n, unnest(bl) AS u0, " +
      "unnest(range(0, n)) AS j FROM b), " +
      "x AS (SELECT doc_id, law, n, j, CASE WHEN law = 7 THEN 255 - u0 " +
      "ELSE xor(CAST(u0 AS BIGINT), 85) END AS a FROM u), " +
      "v AS (SELECT doc_id, n, j, CASE WHEN law = 7 THEN " +
      "(CASE WHEN a >= 128 THEN 132 - t7 ELSE t7 - 132 END) " +
      "ELSE (CASE WHEN a >= 128 THEN t6 ELSE -t6 END) END AS s " +
      "FROM (SELECT *, ((a % 16)*8 + 132) * (1::BIGINT << ((a // 16) % 8)) AS t7, " +
      "CASE WHEN (a // 16) % 8 = 0 THEN (a % 16)*16 + 8 " +
      "WHEN (a // 16) % 8 = 1 THEN (a % 16)*16 + 264 " +
      "ELSE ((a % 16)*16 + 264) * (1::BIGINT << (((a // 16) % 8) - 1)) END AS t6 " +
      "FROM x)), " +
      "sl AS (SELECT doc_id, n, list(s ORDER BY j) AS sm FROM v GROUP BY doc_id, n), " +
      "e AS (SELECT sl.*, [ CAST(list_sum([abs(sm[i+1]) " +
      "for i in range((k*n)//64, ((k+1)*n)//64)]) AS BIGINT) " +
      "for k in range(0, 64)] AS ew FROM sl) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 AS BIGINT) END AS channels, " +
      "CASE WHEN doc_id <> 0 THEN CAST(8000 AS BIGINT) END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN CAST(n AS BIGINT) END AS n_samples, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum([abs(v) for v in sm]) AS BIGINT) END AS sum_abs, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_max([abs(v) for v in sm]) AS BIGINT) END AS peak_abs, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum([CASE WHEN (sm[i] < 0) <> (sm[i+1] < 0) " +
      "THEN 1 ELSE 0 END for i in range(1, n)]) AS BIGINT) END AS zero_cross, " +
      "CASE WHEN doc_id <> 0 AND n >= 64 THEN " +
      fpHalf("ew[k+1] > ew[k]", lo = false) + " END AS fp_hi, " +
      "CASE WHEN doc_id <> 0 AND n >= 64 THEN " +
      fpHalf("k > 0 AND ew[k+1] > ew[k]", lo = true) + " END AS fp_lo " +
      "FROM e ORDER BY media_id"),
    // SPECTRAL audio fingerprint: 8 windows x 8 square-wave bands over
    // REAL decoded PCM, mean-thresholded — the class-discriminating
    // hash the energy contour is not; doc 0's zeroed RIFF degrades,
    // doc 1's 64-sample clip nulls the fingerprint (window floor 256)
    Gate("x_mm_audiofp", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticToneCorpus(docs, "doc_id",
        col("doc_id") % 40, col("doc_id") % 7,
        when(col("doc_id") === 1, 64)
          .otherwise(lit(256) + (col("doc_id") % 3) * 64), lit(16000))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioSpectralStats(dirty)
        .drop("sfp")
        .orderBy(col("media_id"))
    },
      // full spectral replay: cubic-mixed band amplitudes, window-local
      // square waves, quadrature-max band energies, mean-threshold bits —
      // the engine must run the real PCM decode + filterbank to land here
      "WITH " +
      toneFpCtes("doc_id % 40", "doc_id % 7",
        "CASE WHEN doc_id = 1 THEN 64 ELSE 256 + (doc_id % 3)*64 END") +
      " SELECT tt.doc_id AS media_id, tt.doc_id <> 0 AS ok, " +
      "CASE WHEN tt.doc_id <> 0 THEN CAST(n AS BIGINT) END AS n_samples, " +
      "CASE WHEN tt.doc_id <> 0 THEN hh.sfp_hi END AS sfp_hi, " +
      "CASE WHEN tt.doc_id <> 0 THEN hh.sfp_lo END AS sfp_lo " +
      "FROM tt JOIN hh ON tt.doc_id = hh.doc_id ORDER BY media_id"),
    // audio near-dup pairs by spectral fingerprint (banded candidate
    // join, exact recall to Hamming <= 6): 200 band-profile classes,
    // 5 bumps — measured within-class max 2 / cross-class min 6, so
    // the radius-4 ball is exactly the same-class relation
    Gate("x_mm_audiodup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticToneCorpus(docs, "doc_id",
        col("doc_id") % 200, expr("CAST(doc_id DIV 200 AS BIGINT) % 5"),
        lit(256), lit(16000))
      graft.ext.Multimodal.audioNearDupPairs(media, maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      // spectral-hash pair replay (the x_mm_imgdup shape): fingerprints
      // from the full chain, then the exact Hamming-<=4 pair join
      "WITH " +
      toneFpCtes("doc_id % 200", "(doc_id // 200) % 5", "256") +
      " SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(bit_count(xor(a.sfp_hi, b.sfp_hi)) + " +
      "bit_count(xor(a.sfp_lo, b.sfp_lo)) AS BIGINT) AS hamming " +
      "FROM hh a JOIN hh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sfp_hi, b.sfp_hi)) + " +
      "bit_count(xor(a.sfp_lo, b.sfp_lo)) <= 4 " +
      "ORDER BY i, j"),
    // STREAMING audio-ingest dedup: 3 driver-chained batches of real
    // WAVs in 40 exact-dup spectral classes (cross-class Hamming min
    // 13 at n=320, measured — the radius-4 ball never crosses),
    // undecodable rows planted at doc_id % 17 = 0 (always kept, NULL
    // fp); accepted = lexicographic-min (batch, id) per class under
    // the shared ScrubEngine replay protocol
    Gate("x_stream_audingest", (s, d) => {
      val id = col("doc_id")
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticToneCorpus(docs,
        "doc_id", id % 40, lit(0), lit(320), lit(16000))
        .withColumn("content",
          when(col("media_id") % 17 === 0,
            expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
        .withColumn("year", lit(2021L) + col("media_id") % 3)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ai_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ai_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.AudioIngest.ingestBatch(
          media.filter(col("media_id") % 3 === b), "media_id", "content",
          wh, "novel_audio", idxDir, b)
      }
      wh.read("novel_audio").get
        .select(col("media_id"),
          shiftrightunsigned(col("audio_fp"), 32).as("fp_hi"),
          col("audio_fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("media_id"))
    },
      // first-arrival-per-class replay: batch = doc_id % 3, class =
      // doc_id % 40, accepted = ROW_NUMBER over (batch, id) = 1; the
      // kept row's fingerprint halves come from the full spectral replay
      "WITH " +
      toneFpCtes("doc_id % 40", "0", "320") + ", " +
      "cand AS (SELECT doc_id, doc_id % 3 AS b, doc_id % 40 AS g " +
      "FROM documents WHERE doc_id % 17 <> 0), " +
      "acc AS (SELECT doc_id FROM (SELECT doc_id, " +
      "ROW_NUMBER() OVER (PARTITION BY g ORDER BY b, doc_id) AS rn " +
      "FROM cand) t WHERE rn = 1) " +
      "SELECT a.doc_id AS media_id, hh.sfp_hi AS fp_hi, " +
      "hh.sfp_lo AS fp_lo FROM acc a JOIN hh ON a.doc_id = hh.doc_id " +
      "UNION ALL SELECT doc_id AS media_id, NULL AS fp_hi, NULL AS fp_lo " +
      "FROM documents WHERE doc_id % 17 = 0 " +
      "ORDER BY media_id"),
    // STREAMING embedding-ingest dedup (SemDeDup at the door): 3
    // driver-chained batches of planted clusters through the 63-plane
    // sign-LSH screen. The plane draw is seeded Gaussians — not
    // SQL-expressible — so the oracle replays the ACCEPT/REJECT
    // decisions (first (batch, id) per cluster + the NULL row), which
    // the measured separation fully determines (within-cluster Hamming
    // <= 4 < 10 <= cross-cluster under dim=128/seed=42/eps=0.0005,
    // pinned in EmbeddingIngestSpec); the fingerprint itself is gated
    // semantically by x_sim_lsh
    Gate("x_stream_embingest", (s, d) => {
      val vecs = graft.ext.Fixtures.plantedVectors(s, nClusters = 40,
        members = 6, dim = 128, eps = 0.0005)
        .withColumn("embedding",
          when(col("vec_id") === 7, lit(null).cast("array<float>"))
            .otherwise(col("embedding")))
        .withColumn("year", lit(2022L) + col("vec_id") % 3)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ei_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ei_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.EmbeddingIngest.ingestBatch(
          vecs.filter(col("vec_id") % 3 === b), "vec_id", "embedding",
          wh, "novel_embs", idxDir, b, dim = 128)
      }
      wh.read("novel_embs").get
        .select(col("vec_id").as("media_id"))
        .orderBy(col("media_id"))
    },
      // decision replay: accepted = first (batch, id) per planted cluster
      // (cluster = vec_id // 6, batch = vec_id % 3), the NULL-embedding
      // row (vec_id 7) always kept — exact because the measured sign-LSH
      // separation makes the radius-4 ball the cluster relation
      "WITH v AS (SELECT id AS vec_id " +
      "FROM range(0, 240) t(id)), " +
      "cand AS (SELECT vec_id, vec_id % 3 AS b, vec_id // 6 AS g " +
      "FROM v WHERE vec_id <> 7), " +
      "acc AS (SELECT vec_id FROM (SELECT vec_id, " +
      "ROW_NUMBER() OVER (PARTITION BY g ORDER BY b, vec_id) AS rn " +
      "FROM cand) t WHERE rn = 1) " +
      "SELECT CAST(vec_id AS BIGINT) AS media_id FROM acc " +
      "UNION ALL SELECT CAST(7 AS BIGINT) AS media_id " +
      "ORDER BY media_id"),
    // audio quality screen over real decoded PCM: undecodable /
    // too-short / near-silent / rail-clipped flags, all exact integer
    // comparisons (cross-multiplied mean, no division); thresholds
    // chosen inside the corpus's natural spread so every flag fires
    // both ways (60/181/219 of 500 docs at sf0.01, measured)
    Gate("x_mm_audioquality", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPcmCorpus(docs, "doc_id",
        col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4,
        lit(8000) + (col("doc_id") % 3) * 4000)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioQualityScreen(
        graft.ext.Multimodal.audioContentStats(dirty),
        minSamples = 64L, minMeanAbsMilli = 998000L, clipFloor = 1995L)
        .orderBy(col("media_id"))
    },
      // flags replayed from the PCM sample formula: exact sum/max/count
      "WITH d AS (SELECT doc_id, doc_id % 9 AS seed, " +
      "40 + (doc_id % 50)*4 AS n FROM documents), " +
      "s AS (SELECT d.*, [ ((seed*7919 + i*31 + (i*i) % 101) % 4001) - 2000 " +
      "for i in range(0, n)] AS sm FROM d), " +
      "t AS (SELECT doc_id, n, " +
      "CAST(list_sum([abs(v) for v in sm]) AS BIGINT) AS sa, " +
      "CAST(list_max([abs(v) for v in sm]) AS BIGINT) AS pk FROM s) " +
      "SELECT doc_id AS media_id, doc_id = 0 AS undecodable, " +
      "doc_id <> 0 AND n < 64 AS too_short, " +
      "doc_id <> 0 AND sa*1000 < 998000*n AS near_silent, " +
      "doc_id <> 0 AND pk >= 1995 AS clipped, " +
      "doc_id <> 0 AND n >= 64 AND sa*1000 >= 998000*n AND pk < 1995 " +
      "AS keep FROM t ORDER BY media_id"),
    // TRIM-SILENCE verb: planted zero-padding around a live body (all
    // segment lengths multiples of the 64-sample window), doc 1 is
    // all-silent (lead eats everything, kept 0), doc 0 undecodable
    Gate("x_mm_audiotrim", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").as("media_id"),
        graft.ext.PaddedWavEncode(col("doc_id") % 9,
          (col("doc_id") % 4) * 64,
          when(col("doc_id") === 1, 0)
            .otherwise(lit(256) + (col("doc_id") % 3) * 64),
          (col("doc_id") % 5) * 64, lit(8000)).as("content"))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioTrimBounds(dirty, windowSamples = 64,
        minMeanAbsMilli = 300000L)
        .orderBy(col("media_id"))
    },
      // trim replay: per-window silence flags by comprehension, the
      // leading/trailing 1-runs via list_position over the flag list
      // (and its reverse), tail capped at the windows the lead left
      "WITH d AS (SELECT doc_id, doc_id % 9 AS seed, " +
      "(doc_id % 4)*64 AS nl, CASE WHEN doc_id = 1 THEN 0 " +
      "ELSE 256 + (doc_id % 3)*64 END AS nb, (doc_id % 5)*64 AS nt " +
      "FROM documents), " +
      "s AS (SELECT d.*, nl + nb + nt AS n, [ CASE WHEN i < nl OR " +
      "i >= nl + nb THEN 0 ELSE (CASE WHEN (i-nl) % 2 = 0 THEN 1 " +
      "ELSE -1 END) * (500 + (seed*7919 + (i-nl)*31 + " +
      "((i-nl)*(i-nl)) % 101) % 1500) END " +
      "for i in range(0, nl + nb + nt) ] AS sm FROM d), " +
      "w AS (SELECT s.*, [ CASE WHEN CAST(list_sum([abs(sm[k*64 + j + 1]) " +
      "for j in range(0, 64)]) AS BIGINT)*1000 < 300000*64 THEN 1 ELSE 0 " +
      "END for k in range(0, n // 64) ] AS sil FROM s), " +
      // list_position returns 0 (not NULL) for not-found in DuckDB 1.0
      // — NULLIF folds both conventions into the all-silent fallback
      "t AS (SELECT doc_id, n, len(sil) AS nw, " +
      "COALESCE(NULLIF(list_position(sil, 0), 0) - 1, len(sil)) AS lw, " +
      "COALESCE(NULLIF(list_position(list_reverse(sil), 0), 0) - 1, " +
      "len(sil)) AS tw0 FROM w) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(n AS BIGINT) END AS n_samples, " +
      "CASE WHEN doc_id <> 0 THEN CAST(lw*64 AS BIGINT) END AS lead_trim, " +
      "CASE WHEN doc_id <> 0 THEN CAST(least(tw0, nw - lw)*64 AS BIGINT) " +
      "END AS tail_trim, " +
      "CASE WHEN doc_id <> 0 THEN CAST(n - lw*64 - " +
      "least(tw0, nw - lw)*64 AS BIGINT) END AS kept " +
      "FROM t ORDER BY media_id"),
    // RESAMPLE verb (audio): decode + exact box-decimation by 4, one
    // row per output sample — truncated block means (the integer
    // division both engines share); the corrupted row contributes
    // zero rows
    Gate("x_mm_audioresample", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticPcmCorpus(docs, "doc_id",
        col("doc_id") % 9, lit(40) + (col("doc_id") % 50) * 4,
        lit(8000) + (col("doc_id") % 3) * 4000)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.audioResample(dirty, factor = 4)
        .orderBy(col("media_id"), col("sample_idx"))
    },
      // resample replay: truncated 4-block means over the sample formula
      "WITH d AS (SELECT doc_id, doc_id % 9 AS seed, " +
      "40 + (doc_id % 50)*4 AS n FROM documents WHERE doc_id <> 0), " +
      "s AS (SELECT d.*, [ ((seed*7919 + i*31 + (i*i) % 101) % 4001) - 2000 " +
      "for i in range(0, n)] AS sm FROM d), " +
      "r AS (SELECT doc_id, n, unnest(range(0, n // 4)) AS bi, sm FROM s) " +
      "SELECT doc_id AS media_id, CAST(bi AS BIGINT) AS sample_idx, " +
      "CAST(CAST(sm[bi*4+1] + sm[bi*4+2] + sm[bi*4+3] + sm[bi*4+4] " +
      "AS BIGINT) // 4 AS BIGINT) AS v " +
      "FROM r ORDER BY media_id, sample_idx"),
    // chunk-dedup storage savings: the number a lake team sizes a
    // chunk store with — one exact-integer row over the prefixed corpus
    Gate("x_cdc_savings", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val base = graft.ext.FormulaBlobEncode(col("doc_id") % 23,
        lit(1536) + (col("doc_id") % 5) * 256)
      val media = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 11 === 0,
          concat(graft.ext.FormulaBlobEncode(col("doc_id") % 7 + 100,
            lit(9) + col("doc_id") % 13), base))
          .otherwise(base).as("content"))
      graft.ext.Cdc.dedupSavings(media, maskBits = 8)
    },
      // savings replay over the same chunk chain: total = every instance,
      // unique = one copy per distinct (chash, len)
      "WITH " + cdcChunkCtes(prefixed = true) + ", " +
      "inst AS (SELECT chash, CAST(endp - off AS BIGINT) AS len FROM rows) " +
      "SELECT (SELECT CAST(SUM(len) AS BIGINT) FROM inst) AS total_bytes, " +
      "(SELECT CAST(SUM(len) AS BIGINT) FROM " +
      "(SELECT DISTINCT chash, len FROM inst)) AS unique_bytes, " +
      "(SELECT CAST(((SUM(len) - (SELECT SUM(len) FROM " +
      "(SELECT DISTINCT chash, len FROM inst))) * 1000000) // SUM(len) " +
      "AS BIGINT) FROM inst) AS savings_micro"),
    // STREAMING chunk-duplication scoring: 3 driver-chained batches of
    // formula blobs (shared classes + prefixed re-uploads) through the
    // CDC ScrubEngine family — per doc, how many content-defined
    // chunks already exist in (earlier batches | this batch)
    Gate("x_stream_cdc", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val base = graft.ext.FormulaBlobEncode(col("doc_id") % 23,
        lit(1536) + (col("doc_id") % 5) * 256)
      val media = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 11 === 0,
          concat(graft.ext.FormulaBlobEncode(col("doc_id") % 7 + 100,
            lit(9) + col("doc_id") % 13), base))
          .otherwise(base).as("content"))
        .withColumn("year", lit(2023L) + col("media_id") % 3)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_cs_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_cs_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.CdcScrub.ingestBatch(
          media.filter(col("media_id") % 3 === b), "media_id", "content",
          wh, "chunk_facts", idxDir, b)
      }
      wh.read("chunk_facts").get
        .select(col("media_id"), col("n_chunks"), col("dup_chunks"),
          col("dup_ratio_micro"))
        .orderBy(col("media_id"))
    },
      // incremental chunk-duplication replay: per (chash, batch)
      // occurrence counts, prefix-summed over batches — a chunk instance
      // in batch b is duplicated iff total occurrences through b exceed 1
      "WITH " + cdcChunkCtes(prefixed = true) + ", " +
      "r2 AS (SELECT doc_id, doc_id % 3 AS bb, chash FROM rows), " +
      "occ AS (SELECT chash, bb, COUNT(*) AS c FROM r2 " +
      "GROUP BY chash, bb), " +
      "cum AS (SELECT chash, bb, CAST(SUM(c) OVER (PARTITION BY chash " +
      "ORDER BY bb) AS BIGINT) AS cc FROM occ), " +
      "j AS (SELECT r2.doc_id, cum.cc FROM r2 JOIN cum " +
      "ON r2.chash = cum.chash AND r2.bb = cum.bb) " +
      "SELECT doc_id AS media_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
      "CAST(COUNT(CASE WHEN cc > 1 THEN 1 END) AS BIGINT) AS dup_chunks, " +
      "CAST(COUNT(CASE WHEN cc > 1 THEN 1 END) * 1000000 // COUNT(*) " +
      "AS BIGINT) AS dup_ratio_micro " +
      "FROM j GROUP BY doc_id ORDER BY media_id"),
    // CONTENT-DEFINED CHUNKING: Gear-style rolling boundaries
    // (mod-(2^61-1) Horner, 32-byte locality window) over formula
    // blobs — the oracle replays every boundary and chunk hash with
    // list_reduce; doc 0's NULL content contributes zero rows
    Gate("x_cdc_chunks", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") =!= 0,
          graft.ext.FormulaBlobEncode(col("doc_id") % 23,
            lit(1536) + (col("doc_id") % 5) * 256)).as("content"))
      graft.ext.Cdc.chunkRows(media, maskBits = 8)
        .drop("csha")
        .orderBy(col("media_id"), col("chunk_idx"))
    },
      // full CDC replay: every boundary and chunk hash re-derived by the
      // list_reduce Horner fold; doc 0 (NULL content) contributes nothing
      "WITH " + cdcChunkCtes(prefixed = false) + " " +
      "SELECT doc_id AS media_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
      "CAST(off AS BIGINT) AS off, CAST(endp - off AS BIGINT) AS len, " +
      "chash FROM rows ORDER BY media_id, chunk_idx"),
    // chunk-level dedup with PLANTED INSERTIONS: every doc_id % 11 = 0
    // document carries a junk prefix before a shared-class payload —
    // content-defined boundaries re-align after the prefix, so the
    // shifted tails dedup chunk-for-chunk (fixed tiles would share
    // nothing); keeper = lexicographic-min (media_id, chunk_idx)
    Gate("x_cdc_dedup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val base = graft.ext.FormulaBlobEncode(col("doc_id") % 23,
        lit(1536) + (col("doc_id") % 5) * 256)
      val media = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 11 === 0,
          concat(graft.ext.FormulaBlobEncode(col("doc_id") % 7 + 100,
            lit(9) + col("doc_id") % 13), base))
          .otherwise(base).as("content"))
      graft.ext.Cdc.chunkDedup(media, maskBits = 8)
        .orderBy(col("chash"), col("len"))
    },
      // chunk-group replay over the prefixed corpus: groups on (chash,
      // len), keeper = lexicographic-min (doc, idx) via ROW_NUMBER
      "WITH " + cdcChunkCtes(prefixed = true) + ", " +
      "dr AS (SELECT doc_id, chunk_idx, CAST(endp - off AS BIGINT) AS len, " +
      "chash FROM rows), " +
      "grp AS (SELECT chash, len, COUNT(*) AS nc FROM dr " +
      "GROUP BY chash, len), " +
      "kp AS (SELECT chash, len, doc_id, chunk_idx, " +
      "ROW_NUMBER() OVER (PARTITION BY chash, len " +
      "ORDER BY doc_id, chunk_idx) AS rn FROM dr) " +
      "SELECT g.chash, g.len, CAST(g.nc AS BIGINT) AS n_copies, " +
      "k.doc_id AS keep_media, CAST(k.chunk_idx AS BIGINT) AS keep_idx " +
      "FROM grp g JOIN kp k ON g.chash = k.chash AND g.len = k.len " +
      "AND k.rn = 1 WHERE g.nc >= 2 ORDER BY 1, 2"),
    // binary-overlap pairs on the same corpus: docs sharing >= 2
    // distinct chunk contents (df-capped inverted index, never
    // all-pairs) — identical-class pairs AND prefix-shifted pairs land
    Gate("x_cdc_overlap", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val base = graft.ext.FormulaBlobEncode(col("doc_id") % 23,
        lit(1536) + (col("doc_id") % 5) * 256)
      val media = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 11 === 0,
          concat(graft.ext.FormulaBlobEncode(col("doc_id") % 7 + 100,
            lit(9) + col("doc_id") % 13), base))
          .otherwise(base).as("content"))
      graft.ext.Cdc.sharedChunkPairs(media, maskBits = 8,
        minShared = 2L, maxDf = 64L)
        .orderBy(col("i"), col("j"))
    },
      // df-capped overlap pairs: distinct (doc, chunk) postings, hashes
      // in <= 64 docs, pairs sharing >= 2 chunk contents
      "WITH " + cdcChunkCtes(prefixed = true) + ", " +
      "dd AS (SELECT DISTINCT doc_id, chash, " +
      "CAST(endp - off AS BIGINT) AS len FROM rows), " +
      "rare AS (SELECT chash, len FROM dd GROUP BY chash, len " +
      "HAVING COUNT(*) <= 64), " +
      "p AS (SELECT dd.* FROM dd JOIN rare USING (chash, len)) " +
      "SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(COUNT(*) AS BIGINT) AS shared_chunks " +
      "FROM p a JOIN p b ON a.chash = b.chash AND a.len = b.len " +
      "AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY i, j"),
    // exact binary dedup: digest-grouped (the shuffle moves 32-byte
    // digests, never payloads); content is a pure function of doc_id % 13
    // so the oracle is plain semantic group-by
    Gate("x_mm_bindedup", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 13, lit(12), lit(10), lit(0))
      graft.ext.Multimodal.binaryExactDedup(media)
        .select(col("n_copies"), col("keep_id"))
        .orderBy(col("keep_id"))
    },
      // semantic oracle: content is a pure function of doc_id % 13, so the
      // digest groups ARE the residue classes
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_copies, " +
      "CAST(MIN(doc_id) AS BIGINT) AS keep_id FROM documents " +
      "GROUP BY doc_id % 13 ORDER BY keep_id"),
    // STREAMING image-ingest dedup: 3 driver-chained batches of real
    // PNGs in 40 exact-dup classes (min cross-class aHash Hamming is 16,
    // measured — the radius-4 ball never crosses classes), undecodable
    // rows planted at doc_id % 17 = 0 (always kept, NULL fp); accepted =
    // lexicographic-min (batch, id) per class under the shared
    // ScrubEngine replay protocol
    Gate("x_stream_imgingest", (s, d) => {
      val id = col("doc_id")
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs,
        "doc_id", id % 40, lit(16), lit(16), lit(0))
        .withColumn("content",
          when(col("media_id") % 17 === 0,
            expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
        .withColumn("year", lit(2020L) + col("media_id") % 3)
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_ii_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_ii_idx").toString
      (0L to 2L).foreach { b =>
        graft.streaming.ImageIngest.ingestBatch(
          media.filter(col("media_id") % 3 === b), "media_id", "content",
          wh, "novel_images", idxDir, b)
      }
      wh.read("novel_images").get
        .select(col("media_id"),
          shiftrightunsigned(col("img_fp"), 32).as("fp_hi"),
          col("img_fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("media_id"))
    },
      // first-arrival-per-class replay: batch = doc_id % 3, class =
      // doc_id % 40, accepted = ROW_NUMBER over (batch, id) = 1; the
      // kept row's fingerprint halves come from the full hash replay
      "WITH " +
      pngHashCtes("doc_id % 40", "16", "16", "0") + ", " +
      "cand AS (SELECT doc_id, doc_id % 3 AS b, doc_id % 40 AS g " +
      "FROM documents WHERE doc_id % 17 <> 0), " +
      "acc AS (SELECT doc_id FROM (SELECT doc_id, " +
      "ROW_NUMBER() OVER (PARTITION BY g ORDER BY b, doc_id) AS rn " +
      "FROM cand) t WHERE rn = 1) " +
      "SELECT a.doc_id AS media_id, hh.ahash_hi AS fp_hi, " +
      "hh.ahash_lo AS fp_lo FROM acc a JOIN hh ON a.doc_id = hh.doc_id " +
      "UNION ALL SELECT doc_id AS media_id, NULL AS fp_hi, NULL AS fp_lo " +
      "FROM documents WHERE doc_id % 17 = 0 " +
      "ORDER BY media_id"),
    // ORIENTATION-NORMALIZED streaming door: batch 0 ingests upright
    // block JPEGs; batch 1 carries camera-rotated EXIF copies of them
    // (DROP — the door un-rotates by EXIF orientation before hashing;
    // raw-pixel hashing would let every one through) plus novel seeds
    // (KEEP); doc 0's corrupted bytes ride along hash-less
    Gate("x_stream_imgorient", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 120)
      val b0 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("long").as("media_id"),
          graft.ext.BlockJpegEncode((col("doc_id") % 40).cast("long"),
            lit(6L), lit(4L)).as("content"))
        .withColumn("content", when(col("media_id") === 0,
          expr("concat(X'0000', substring(content, 3))"))
          .otherwise(col("content")))
        .withColumn("year", lit(2020L))
      val rot = docs
        .filter(col("doc_id") % 3 === 1 && col("doc_id") % 2 === 1)
        .select(col("doc_id").cast("long").as("media_id"),
          graft.ext.OrientedJpegEncode((col("doc_id") % 40).cast("long"),
            lit(6L), lit(4L),
            when(col("doc_id") % 5 < 2, 3L).when(col("doc_id") % 5 < 4, 6L)
              .otherwise(8L).cast("long")).as("content"))
      val nov = docs
        .filter(col("doc_id") % 3 === 1 && col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("long").as("media_id"),
          graft.ext.BlockJpegEncode(
            (lit(40L) + col("doc_id") % 97).cast("long"),
            lit(6L), lit(4L)).as("content"))
      val b1 = rot.unionByName(nov).withColumn("year", lit(2021L))
      val wh = new graft.snapshot.Warehouse(s,
        TempDirs.scratchDir("graft_io_wh").toString)
      val idxDir = TempDirs.scratchDir("graft_io_idx").toString
      graft.streaming.ImageIngest.ingestBatch(b0, "media_id", "content",
        wh, "novel_images", idxDir, 0L)
      graft.streaming.ImageIngest.ingestBatch(b1, "media_id", "content",
        wh, "novel_images", idxDir, 1L)
      wh.read("novel_images").get
        .select(col("media_id"),
          shiftrightunsigned(col("img_fp"), 32).as("fp_hi"),
          col("img_fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy(col("media_id"))
    },
      // orientation-door replay: every rotated copy DROPS (the door's
      // EXIF un-rotation collapses it onto its batch-0 original), every
      // upright batch-0 row and every novel batch-1 seed keeps — so the
      // oracle replays the upright jpeg hash chain for exactly the kept
      // set; the rotated rows never appear
      "WITH " +
      jpegHashCtes(
        "CASE WHEN doc_id % 3 = 0 THEN doc_id % 40 " +
          "ELSE 40 + doc_id % 97 END", 6, 4,
        "doc_id < 120 AND doc_id <> 0 AND (doc_id % 3 = 0 OR " +
          "(doc_id % 3 = 1 AND doc_id % 2 = 0))") + " " +
      "SELECT doc_id AS media_id, ahash_hi AS fp_hi, ahash_lo AS fp_lo " +
      "FROM hh " +
      "UNION ALL SELECT 0 AS media_id, NULL AS fp_hi, NULL AS fp_lo " +
      "ORDER BY media_id"),
    // RESIZE verb: decode + exact 4x4 box-downsample, one row per output
    // pixel — floor cell means the oracle re-derives from the pixel
    // formula; the corrupted row contributes zero rows
    Gate("x_mm_resize", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(9) + col("doc_id") % 8,
        lit(8) + col("doc_id") % 6, col("doc_id") % 5)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageResize(dirty, ow = 4, oh = 4)
        .orderBy(col("media_id"), col("px_idx"))
    },
      // resize replay: plain floor cell means over the 4x4 partition grid
      "WITH " +
      pngPixelCtes("doc_id % 7", "9 + doc_id % 8", "8 + doc_id % 6",
        "doc_id % 5") + ", " +
      "r AS (SELECT doc_id, " + pngResizeExpr(4, 4) + " AS rv " +
      "FROM px WHERE doc_id <> 0) " +
      "SELECT doc_id AS media_id, " +
      "CAST(unnest(range(0, len(rv))) AS BIGINT) AS px_idx, " +
      "unnest(rv) AS v FROM r ORDER BY media_id, px_idx"),
    // VIDEO content leg: per-frame rows via the container's OWN index
    // (stsz sizes + stco offsets out of the real stbl walk), each
    // sample's bytes sliced from mdat — size/offset/first-byte/byte-sum
    // all exact integers; the corrupted row contributes ZERO rows
    Gate("x_mm_video", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticMp4Corpus(docs, "doc_id",
        col("doc_id") % 6, lit(3L) + col("doc_id") % 8)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00000000', substring(content, 5))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.videoSampleStats(dirty)
        .orderBy(col("media_id"), col("sample_idx"))
    },
      // sample-table replay: stsz sizes from the planted formula, stco
      // offsets as the exact prefix sum past the derived header length
      // (ftyp 16 + moov 76+8n + mdat header 8), byte sums by comprehension
      "WITH d AS (SELECT doc_id, doc_id % 6 AS seed, " +
      "3 + doc_id % 8 AS n FROM documents WHERE doc_id <> 0), " +
      "s AS (SELECT doc_id, seed, n, unnest(range(0, n)) AS i FROM d), " +
      "z AS (SELECT *, 8 + (seed + i*7) % 24 AS sz FROM s), " +
      "o AS (SELECT *, CAST(16 + 76 + 8*n + 8 + " +
      "COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY i " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
      "AS off FROM z) " +
      "SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample_idx, " +
      "off AS sample_offset, CAST(sz AS BIGINT) AS sample_size, " +
      "CAST((seed + i*31) % 256 AS BIGINT) AS first_byte, " +
      "CAST(list_sum([ (seed + i*31 + j*11) % 256 " +
      "for j in range(0, sz)]) AS BIGINT) AS byte_sum " +
      "FROM o ORDER BY media_id, sample_idx"),
    // VIDEO PIXEL content leg: MJPEG frames sliced out of a REAL RIFF
    // movi walk, each payload Huffman+IDCT-decoded by the T.81 path —
    // per-frame stats + perceptual hashes land on the integers the
    // oracle re-derives from the per-frame block contract (seed + f);
    // doc 0's broken RIFF magic contributes ZERO rows, never a throw
    Gate("x_mm_video_pixels", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 120)
      val media = graft.ext.Multimodal.syntheticMjpegAviCorpus(docs,
        "doc_id", col("doc_id") % 23, lit(1) + col("doc_id") % 4,
        lit(8), lit(8))
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'00', substring(content, 2))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.videoFrameContentStats(dirty)
        .drop("n_bytes", "ahash", "dhash")
        .orderBy(col("media_id"), col("frame_idx"))
    },
      // per-frame MJPEG pixel replay: each (video, frame) pair rides the
      // JPEG block chain with seed = seed0 + f, encoded as a synthetic
      // doc_id = doc·10 + f (nf <= 4 < 10) so the shared hash CTEs apply
      // unchanged; the engine must walk a real RIFF AND run real
      // Huffman+IDCT per frame to land on these integers
      "WITH d0 AS (SELECT doc_id, " +
      "doc_id % 23 AS seed0, 1 + doc_id % 4 AS nf FROM documents " +
      "WHERE doc_id < 120 AND doc_id <> 0), " +
      "d1 AS (SELECT doc_id, seed0, unnest(range(0, nf)) AS f FROM d0), " +
      "d AS (SELECT doc_id*10 + f AS doc_id, seed0 + f AS seed, " +
      "64 AS w, 64 AS h FROM d1), " +
      s"px AS (SELECT d.*, flatten([[ $jpegPixelExpr " +
      "for x in range(0, w)] for y in range(0, h)]) AS p FROM d)" +
      hashCtesFromPx + ", " +
      "st AS (SELECT hh.*, CAST(len(p) AS BIGINT) AS n, " +
      "CAST(list_sum(p) AS BIGINT) AS sl, " +
      "CAST(list_sum([v*v for v in p]) AS BIGINT) AS sq FROM hh) " +
      "SELECT doc_id // 10 AS media_id, doc_id % 10 AS frame_idx, " +
      "TRUE AS f_ok, CAST(w AS BIGINT) AS width, " +
      "CAST(h AS BIGINT) AS height, n AS n_px, sl AS sum_luma, " +
      "sl*1000 // n AS mean_milli, " +
      "(n*sq - sl*sl)*1000 // (n*n) AS var_milli, " +
      "ahash_hi, ahash_lo, dhash_hi, dhash_lo " +
      "FROM st ORDER BY media_id, frame_idx"),
    // VIDEO-to-IMAGE cross-modal near-dup: AVI frames and standalone
    // JPEG stills hash into ONE fingerprint space — a video frame and a
    // crawled thumbnail of the same picture pair at Hamming 0 through
    // the same banded join that dedups still images
    Gate("x_mm_video_dup", (s, d) => {
      val docs = Tables.load(s, d, "documents").filter(col("doc_id") < 60)
      val frames = graft.ext.Multimodal.videoFrameContentStats(
        graft.ext.Multimodal.syntheticMjpegAviCorpus(docs, "doc_id",
          col("doc_id") % 20, lit(2), lit(8), lit(8)))
        .select((lit(200000L) + col("media_id") * 10 + col("frame_idx"))
          .as("id"), col("ahash"))
      val stills = graft.ext.Multimodal.jpegContentStats(
        graft.ext.Multimodal.syntheticBlockJpegCorpus(docs, "doc_id",
          col("doc_id") % 20, lit(8), lit(8)))
        .select((lit(100000L) + col("media_id")).as("id"), col("ahash"))
      graft.ext.Hamming64.pairs(
        frames.unionByName(stills).filter(col("ahash").isNotNull),
        "id", "ahash", maxHamming = 4)
        .orderBy(col("i"), col("j"))
    },
      // cross-modal pair oracle: video-frame hashes and still-image
      // hashes replayed through ONE chain (identical block contract),
      // then the exact O(n^2) Hamming join the banded engine must match
      "WITH d0 AS (SELECT doc_id, " +
      "doc_id % 20 AS seed0 FROM documents WHERE doc_id < 60), " +
      "dv0 AS (SELECT doc_id, seed0, unnest([0, 1]) AS f FROM d0), " +
      "d AS (SELECT 200000 + doc_id*10 + f AS doc_id, " +
      "seed0 + f AS seed, 64 AS w, 64 AS h FROM dv0 " +
      "UNION ALL SELECT 100000 + doc_id, seed0, 64, 64 FROM d0), " +
      s"px AS (SELECT d.*, flatten([[ $jpegPixelExpr " +
      "for x in range(0, w)] for y in range(0, h)]) AS p FROM d)" +
      hashCtesFromPx + " " +
      "SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming " +
      "FROM hh a JOIN hh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 4 " +
      "ORDER BY i, j"),
    // pixel-level quality screen: undecodable / too-small / extreme-aspect
    // / near-blank flags from DECODED content (variance replayed exactly)
    Gate("x_mm_imgquality", (s, d) => {
      val docs = Tables.load(s, d, "documents")
      val media = graft.ext.Multimodal.syntheticGrayPngCorpus(docs, "doc_id",
        col("doc_id") % 7, lit(6) + (col("doc_id") % 3) * 15,
        lit(8) + col("doc_id") % 5, col("doc_id") % 4)
      val dirty = media.withColumn("content",
        when(col("media_id") === 0,
          expr("concat(X'0000000000000000', substring(content, 9))"))
          .otherwise(col("content")))
      graft.ext.Multimodal.imageQualityScreen(
          graft.ext.Multimodal.imageContentStats(dirty),
          minPx = 150L, maxAspect = 2L, minVarMilli = 100L)
        .orderBy(col("media_id"))
    },
      // flags replayed from the pixel formula, incl. exact integer variance
      "WITH " +
      pngPixelCtes("doc_id % 7", "6 + (doc_id % 3)*15", "8 + doc_id % 5",
        "doc_id % 4") + ", " +
      "st AS (SELECT px.*, CAST(len(p) AS BIGINT) AS n, " +
      "CAST(list_sum(p) AS BIGINT) AS sl, " +
      "CAST(list_sum([v*v for v in p]) AS BIGINT) AS sq FROM px), " +
      "fl AS (SELECT doc_id, n, w, h, " +
      "(n*sq - sl*sl)*1000 // (n*n) AS vm FROM st) " +
      "SELECT doc_id AS media_id, doc_id = 0 AS undecodable, " +
      "doc_id <> 0 AND n < 150 AS too_small, " +
      "doc_id <> 0 AND greatest(w, h) > least(w, h) * 2 AS extreme_aspect, " +
      "doc_id <> 0 AND vm < 100 AS near_blank, " +
      "doc_id <> 0 AND n >= 150 AND greatest(w, h) <= least(w, h) * 2 " +
      "AND vm >= 100 AS keep " +
      "FROM fl ORDER BY media_id"),
  )

  /** The registry's pipelines and oracle SQL by gate name, built once. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = gates.map { case (n, g) => n -> g.run }
  lazy val oracleSql: Map[String, String] = gates.map { case (n, g) => n -> g.oracleSql }

  /** DuckDB replay of [[graft.ext.Repetition]] over the x_gopher reflow:
    * the same 3-word-line rebuild, one (doc, n, gram) relation for all
    * nine orders, ROW_NUMBER tie-break (count DESC, gram ASC) for the
    * top gram, char-weighted dup masses, Gopher thresholds voted on the
    * 6-dp-rounded fractions. */
  private def gopherOracleSql: String = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val thr = graft.ext.Repetition.gopherThresholds
    def fr(mass: String, name: String) =
      s"ROUND(LEAST(1.0, COALESCE($mass, 0) / (1.0 * chars)), 6) AS $name"
    val tp = topNs.map(n =>
      s"MAX(CASE WHEN n = $n THEN tm END) AS t${n}m").mkString(", ")
    val dp = dupNs.map(n =>
      s"MAX(CASE WHEN n = $n THEN dm END) AS d$n").mkString(", ")
    val fracs =
      (topNs.map(n => fr(s"t${n}m", s"top_${n}gram_char_frac")) ++
        dupNs.map(n => fr(s"d$n", s"dup_${n}gram_char_frac"))).mkString(", ")
    val metricNames = Seq("dup_line_frac", "dup_line_char_frac") ++
      topNs.map(n => s"top_${n}gram_char_frac") ++
      dupNs.map(n => s"dup_${n}gram_char_frac")
    val vote = metricNames.map(m => s"$m <= ${thr(m)}").mkString(" AND ")
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      "r AS (SELECT doc_id, array_to_string(list_transform(" +
      "range(1, CAST(ceil(len(ws) / 3.0) AS BIGINT) + 1), " +
      "i -> array_to_string(list_slice(ws, (i-1)*3+1, (i-1)*3+3), ' ')), " +
      "chr(10)) AS t2 FROM w), " +
      "b AS (SELECT doc_id, CAST(length(t2) AS BIGINT) AS chars, " +
      "string_split(t2, ' ') AS ws2, string_split(t2, chr(10)) AS ls FROM r), " +
      "g AS (SELECT doc_id, n, unnest(list_transform(range(1, len(ws2)-n+2), " +
      "i -> array_to_string(list_slice(ws2, i, i+n-1), ' '))) AS g FROM b " +
      s"CROSS JOIN (SELECT unnest([${(topNs ++ dupNs).mkString(", ")}]) AS n) ns), " +
      "pg AS (SELECT doc_id, n, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3), " +
      "tops AS (SELECT doc_id, n, c * length(g) AS tm FROM " +
      "(SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n " +
      "ORDER BY c DESC, g ASC) AS rn FROM pg) WHERE rn = 1), " +
      "dups AS (SELECT doc_id, n, SUM(CASE WHEN c >= 2 THEN c * length(g) " +
      "ELSE 0 END) AS dm FROM pg GROUP BY 1, 2), " +
      s"tp AS (SELECT doc_id, $tp FROM tops GROUP BY 1), " +
      s"dp AS (SELECT doc_id, $dp FROM dups GROUP BY 1), " +
      "lc AS (SELECT doc_id, l, COUNT(*) AS c FROM " +
      "(SELECT doc_id, unnest(ls) AS l FROM b) GROUP BY 1, 2), " +
      "lm AS (SELECT doc_id, SUM(c) AS nl, COUNT(*) AS dl, " +
      "SUM(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END) AS dlm " +
      "FROM lc GROUP BY 1), " +
      "m AS (SELECT b.doc_id, b.chars, " +
      "ROUND(COALESCE(1.0 - dl / (1.0 * nl), 0.0), 6) AS dup_line_frac, " +
      fr("dlm", "dup_line_char_frac") + ", " + fracs +
      " FROM b LEFT JOIN tp USING (doc_id) LEFT JOIN dp USING (doc_id) " +
      "LEFT JOIN lm USING (doc_id)) " +
      s"SELECT doc_id, chars, ${metricNames.mkString(", ")}, " +
      s"CAST(CASE WHEN $vote THEN 1 ELSE 0 END AS BIGINT) AS keep " +
      "FROM m ORDER BY doc_id"
  }

  /** DuckDB replay of [[graft.ext.NgramLm]]: count tables from the
    * lang='en' slice (two `<s>` pads per doc), the backoff CASE ladder
    * in the operator's exact double op order (literals cast ::DOUBLE —
    * DuckDB would otherwise read 0.4 as DECIMAL), per-token floor
    * micro-quantization. Ends at CTE `lps` (doc_id, lp); callers append
    * the final SELECT. */
  /** LM-score replay CTEs (tr..lps). `trainRel` is the training corpus
    * (lang='en' slice), `rel` the SCORED relation, and `lead` lets a
    * caller prepend its own CTEs before the chain. */
  private def lmScoreOracleCore: String = lmScoreOracleCore()

  private def lmScoreOracleCore(rel: String = "documents",
      lead: String = "WITH ", trainRel: String = "documents"): String = {
    def ngrams(k: Int, names: Seq[String], arr: String = "p"): String =
      names.zipWithIndex.map { case (nm, j) =>
        s"unnest([$arr[i + $j] for i in range(1, len($arr) - ${k - 2})]) AS $nm"
      }.mkString(", ")
    lead + "tr AS (SELECT string_split(text, ' ') AS ws, " +
      "list_concat(['<s>', '<s>'], string_split(text, ' ')) AS p " +
      s"FROM $trainRel WHERE lang = 'en'), " +
      "uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM " +
      "(SELECT unnest(ws) AS w FROM tr) GROUP BY 1), " +
      "tot AS (SELECT (SELECT CAST(SUM(len(ws)) AS BIGINT) FROM tr) + " +
      "(SELECT COUNT(*) FROM uni) AS nv), " +
      s"bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM " +
      s"(SELECT ${ngrams(2, Seq("w1", "w2"))} FROM tr) GROUP BY 1, 2), " +
      s"tri AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c FROM " +
      s"(SELECT ${ngrams(3, Seq("w1", "w2", "w3"))} FROM tr) GROUP BY 1, 2, 3), " +
      "cv AS (SELECT w1 AS v, CAST(SUM(c) AS BIGINT) AS c_v FROM bi GROUP BY 1), " +
      "sc AS (SELECT doc_id, " +
      ngrams(3, Seq("u", "v", "w"), "q") +
      " FROM (SELECT doc_id, list_concat(['<s>', '<s>'], " +
      s"string_split(text, ' ')) AS q FROM $rel)), " +
      "j AS (SELECT sc.doc_id, tri.c AS c_uvw, b1.c AS c_uv, b2.c AS c_vw, " +
      "cv.c_v, uni.c AS c_w, tot.nv FROM sc " +
      "LEFT JOIN tri ON sc.u = tri.w1 AND sc.v = tri.w2 AND sc.w = tri.w3 " +
      "LEFT JOIN bi b1 ON sc.u = b1.w1 AND sc.v = b1.w2 " +
      "LEFT JOIN bi b2 ON sc.v = b2.w1 AND sc.w = b2.w2 " +
      "LEFT JOIN cv ON sc.v = cv.v " +
      "LEFT JOIN uni ON sc.w = uni.w CROSS JOIN tot), " +
      "lps AS (SELECT doc_id, CAST(FLOOR(LOG10(" +
      "CASE WHEN c_uvw IS NOT NULL THEN CAST(c_uvw AS DOUBLE) / c_uv " +
      "ELSE 0.4::DOUBLE * (CASE WHEN c_vw IS NOT NULL " +
      "THEN CAST(c_vw AS DOUBLE) / c_v " +
      "ELSE 0.4::DOUBLE * (CAST(COALESCE(c_w, 0) + 1 AS DOUBLE) / nv) END) " +
      "END) * 1e6) AS BIGINT) AS lp FROM j)"
  }

  /** DuckDB replay of [[graft.ext.LogReg]] training for x_quality_lr:
    * `iters` unrolled GD steps as MATERIALIZED CTE pairs (g_k sums the
    * nano-quantized per-row gradient terms under the k−1 weights, w_k
    * applies the update), then the final sigmoid scoring. Every float
    * expression mirrors the operator's left-associated op order;
    * literals cast ::DOUBLE. */
  /** The LR training-replay CTE chain, shared by the score gate and the
    * evaluation gate: returns (cteList, sigmoidExpr-over-final-weights,
    * finalWeightCte). */
  private def lrCtes(iters: Int): (String, String, String) = {
    val fs = Seq("f_stop", "f_ttr", "f_len")
    val stop = graft.ext.TextAnalysis.defaultStopwords
      .map(w => s"'$w'").mkString(", ")
    def z(pfx: String) = fs.zipWithIndex.map { case (f, j) =>
      s" + $pfx.w${j + 1} * $f"
    }.mkString(s"${pfx}.w0", "", "")
    def sig(pfx: String) =
      s"1.0::DOUBLE / (1.0::DOUBLE + EXP(-(${z(pfx)})))"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts += "feats AS MATERIALIZED (SELECT doc_id, " +
      "CAST(lang = 'en' AS INT)::DOUBLE AS y, " +
      s"CAST(len(list_filter(ws, t -> list_contains([$stop], t))) AS DOUBLE) " +
      "/ len(ws) AS f_stop, " +
      "CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS f_ttr, " +
      "CAST(length(text) AS DOUBLE) / (len(ws) * 10) AS f_len FROM " +
      "(SELECT doc_id, lang, text, string_split(text, ' ') AS ws " +
      "FROM documents))"
    parts += "nn AS (SELECT COUNT(*) AS n FROM feats)"
    parts += ("w0 AS (SELECT " +
      (0 to fs.size).map(j => s"0.0::DOUBLE AS w$j").mkString(", ") + ")")
    for (k <- 1 to iters) {
      val p = s"w${k - 1}"
      val gterms = ("1.0::DOUBLE" +: fs).zipWithIndex.map { case (f, j) =>
        s"CAST(SUM(CAST(FLOOR((s - y) * $f * 1e9) AS BIGINT)) AS BIGINT) AS g$j"
      }.mkString(", ")
      parts += s"g$k AS MATERIALIZED (SELECT $gterms FROM " +
        s"(SELECT y, ${fs.mkString(", ")}, ${sig(p)} AS s " +
        s"FROM feats CROSS JOIN $p))"
      val upd = (0 to fs.size).map(j =>
        s"$p.w$j - 1.0::DOUBLE * (CAST(g$j AS DOUBLE) / 1e9 / n) AS w$j")
        .mkString(", ")
      parts += s"w$k AS MATERIALIZED (SELECT $upd FROM g$k " +
        s"CROSS JOIN $p CROSS JOIN nn)"
    }
    (parts.mkString(", "), sig(s"w$iters"), s"w$iters")
  }

  /** Full-corpus covariance replay, shared by the one-shot and the
    * incremental-moments gates. */
  private val pcaCovOracleSql: String =
    "WITH e AS (SELECT vec_id, CAST(dim AS BIGINT) AS i, " +
      "CAST(v AS DOUBLE) AS x FROM (SELECT vec_id, unnest(embedding) AS v, " +
      "unnest(range(len(embedding))) AS dim FROM embeddings) t), " +
      "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings), " +
      "m AS (SELECT i, CAST(SUM(CAST(FLOOR(x * 1e6) AS BIGINT)) AS DOUBLE) AS sx " +
      "FROM e GROUP BY 1), " +
      "p AS (SELECT a.i AS i, b.i AS j, " +
      "CAST(SUM(CAST(FLOOR((a.x * b.x) * 1e6) AS BIGINT)) AS DOUBLE) AS sxy " +
      "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2) " +
      "SELECT p.i AS i, p.j AS j, " +
      "p.sxy / (1e6 * nn.n) - (ma.sx / (1e6 * nn.n)) * (mb.sx / (1e6 * nn.n)) AS cov " +
      "FROM p CROSS JOIN nn JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j " +
      "ORDER BY 1, 2"

  /** The hashed-bigram feature CTEs (bg → hb → fv → feats with the
    * lang='en' label) — the md5 signed-bucket draw replay shared by
    * x_quality_hashlr's GD chain and x_feature_mi's dependence scan. */
  private def hashFeatsCtes(buckets: Int, fAggs: String): Seq[String] = Seq(
    // COALESCE(text, ''): match the engine's null-as-empty contract
    // (textBigramFeatures coalesces) — string_split(NULL) would drop the doc.
    "bg AS (SELECT doc_id, unnest(pw[1:len(pw)-1]) AS u, " +
      "unnest(pw[2:len(pw)]) AS v FROM (SELECT doc_id, " +
      "['<s>'] || string_split(COALESCE(text, ''), ' ') AS pw FROM documents))",
    "hb AS (SELECT doc_id, " +
      s"CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % $buckets AS bucket, " +
      "CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 * 2 - 1 AS sign " +
      "FROM (SELECT doc_id, 'g=' || u || ' ' || v AS t FROM bg))",
    "fv AS MATERIALIZED (SELECT doc_id, " + fAggs + " FROM hb GROUP BY 1)",
    "feats AS MATERIALIZED (SELECT fv.*, " +
      "CAST(d.lang = 'en' AS INT)::DOUBLE AS y " +
      "FROM fv JOIN documents d USING (doc_id))")

  /** Per-bucket normalized-count aggregates f0..f{B-1} for
    * [[hashFeatsCtes]]'s fv CTE. */
  private def hashFAggs(buckets: Int): String =
    (0 until buckets).map(b =>
      s"CAST(CAST(COALESCE(SUM(CASE WHEN bucket = $b THEN sign END), 0) " +
        s"AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS f$b")
      .mkString(", ")

  /** Per-feature MI replay for x_feature_mi: the shared hashed-feature
    * CTEs, then one UNION ALL block per bucket computing the 2×2 cell
    * counts and the identical nano-floored ln terms. */
  private def featureMiOracleSql(buckets: Int): String = {
    def blk(b: Int): String = {
      val cnts = s"SELECT COUNT(*) AS n, " +
        s"CAST(SUM(CASE WHEN f$b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb1, " +
        "CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ny1, " +
        s"CAST(SUM(CASE WHEN f$b > 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11 " +
        "FROM feats"
      def term(nby: String, nb: String, ny: String): String =
        s"CASE WHEN $nby > 0 THEN CAST(FLOOR(CAST($nby AS DOUBLE) / n * " +
          s"ln(CAST($nby AS DOUBLE) * n / (CAST($nb AS DOUBLE) * ($ny))) * 1e9) " +
          "AS BIGINT) ELSE 0 END"
      val mi = Seq(
        term("n11", "nb1", "ny1"),
        term("nb1 - n11", "nb1", "n - ny1"),
        term("ny1 - n11", "n - nb1", "ny1"),
        term("n - nb1 - ny1 + n11", "n - nb1", "n - ny1")).mkString(" + ")
      s"SELECT 'f$b' AS feature, n, CAST($mi AS BIGINT) AS mi_nano, " +
        s"CAST(CAST($mi AS BIGINT) AS DOUBLE) / 1e9 AS mi FROM ($cnts) c$b"
    }
    "WITH " + hashFeatsCtes(buckets, hashFAggs(buckets)).mkString(", ") +
      " SELECT * FROM (" +
      (0 until buckets).map(blk).mkString(" UNION ALL ") +
      ") t ORDER BY feature"
  }

  /** DuckDB replay of the hashed-bigram LR screen (x_quality_hashlr):
    * the md5 signed-bucket feature draw (same '0x'-cast replay as
    * x_feature_hash, normalized by bigram count), then [[lrCtes]]'s GD
    * chain shape generalized to the B hashed features. */
  private def hashLrOracleSql(iters: Int, buckets: Int): String = {
    val fs = (0 until buckets).map(b => s"f$b")
    def z(pfx: String) = fs.zipWithIndex.map { case (f, j) =>
      s" + $pfx.w${j + 1} * $f"
    }.mkString(s"${pfx}.w0", "", "")
    def sig(pfx: String) =
      s"1.0::DOUBLE / (1.0::DOUBLE + EXP(-(${z(pfx)})))"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts ++= hashFeatsCtes(buckets, hashFAggs(buckets))
    parts += "nn AS (SELECT COUNT(*) AS n FROM feats)"
    parts += ("w0 AS (SELECT " +
      (0 to fs.size).map(j => s"0.0::DOUBLE AS w$j").mkString(", ") + ")")
    for (k <- 1 to iters) {
      val p = s"w${k - 1}"
      val gterms = ("1.0::DOUBLE" +: fs).zipWithIndex.map { case (f, j) =>
        s"CAST(SUM(CAST(FLOOR((s - y) * $f * 1e9) AS BIGINT)) AS BIGINT) AS g$j"
      }.mkString(", ")
      parts += s"g$k AS MATERIALIZED (SELECT $gterms FROM " +
        s"(SELECT y, ${fs.mkString(", ")}, ${sig(p)} AS s " +
        s"FROM feats CROSS JOIN $p))"
      val upd = (0 to fs.size).map(j =>
        s"$p.w$j - 1.0::DOUBLE * (CAST(g$j AS DOUBLE) / 1e9 / n) AS w$j")
        .mkString(", ")
      parts += s"w$k AS MATERIALIZED (SELECT $upd FROM g$k " +
        s"CROSS JOIN $p CROSS JOIN nn)"
    }
    "WITH " + parts.mkString(", ") +
      s" SELECT doc_id, CAST(FLOOR(${sig(s"w$iters")} * 1e6) AS BIGINT) " +
      "AS score_micro, CAST(CASE WHEN " +
      s"FLOOR(${sig(s"w$iters")} * 1e6) >= 500000 THEN 1 ELSE 0 END " +
      s"AS BIGINT) AS keep FROM feats CROSS JOIN w$iters ORDER BY doc_id"
  }

  private def lrOracleSql(iters: Int): String = {
    val (ctes, sigF, wN) = lrCtes(iters)
    "WITH " + ctes +
      s" SELECT doc_id, CAST(FLOOR($sigF * 1e6) AS BIGINT) " +
      "AS score_micro, CAST(CASE WHEN " +
      s"FLOOR($sigF * 1e6) >= 500000 THEN 1 ELSE 0 END " +
      s"AS BIGINT) AS keep FROM feats CROSS JOIN $wN ORDER BY doc_id"
  }

  /** Classifier-evaluation replay: the LR chain's scores feed the exact
    * Mann-Whitney AUC (doubled average ranks stay integral) and the
    * threshold confusion rates — every count a BIGINT until the final
    * double divisions, whose shapes mirror Eval.scala exactly. */
  private def lrEvalOracleSql(iters: Int, thr: Long): String = {
    val (ctes, sigF, wN) = lrCtes(iters)
    "WITH " + ctes + ", " +
      s"sc AS MATERIALIZED (SELECT CAST(FLOOR($sigF * 1e6) AS BIGINT) AS s, " +
      s"CAST(y AS BIGINT) AS yp FROM feats CROSS JOIN $wN), " +
      "cnt AS (SELECT s, CAST(SUM(yp) AS BIGINT) AS np, " +
      "CAST(COUNT(*) - SUM(yp) AS BIGINT) AS nn FROM sc GROUP BY 1), " +
      "wd AS (SELECT np, nn, CAST(COALESCE(SUM(np + nn) OVER " +
      "(ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "AS BIGINT) AS cumb FROM cnt), " +
      "ag AS (SELECT CAST(SUM(np * (2 * cumb + np + nn + 1)) AS BIGINT) AS s2, " +
      "CAST(SUM(np) AS BIGINT) AS npos, CAST(SUM(nn) AS BIGINT) AS nneg FROM wd), " +
      s"cm0 AS (SELECT " +
      s"CAST(SUM(CASE WHEN s >= $thr AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      s"CAST(SUM(CASE WHEN s >= $thr AND yp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
      s"CAST(SUM(CASE WHEN s < $thr AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
      s"CAST(SUM(CASE WHEN s < $thr AND yp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
      "FROM sc), " +
      "cm AS (SELECT tp, fp, fn, tn, " +
      "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec, " +
      "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec, " +
      "CASE WHEN tp + fp + fn + tn > 0 THEN CAST(tp + tn AS DOUBLE) / " +
      "CAST(tp + fp + fn + tn AS DOUBLE) END AS acc FROM cm0) " +
      "SELECT CASE WHEN ag.npos > 0 AND ag.nneg > 0 THEN " +
      "CAST(ag.s2 - ag.npos * (ag.npos + 1) AS DOUBLE) / " +
      "(2.0 * CAST(ag.npos AS DOUBLE) * CAST(ag.nneg AS DOUBLE)) END AS auc, " +
      "ag.npos AS n_pos, ag.nneg AS n_neg, cm.tp, cm.fp, cm.fn, cm.tn, " +
      "cm.prec, cm.rec, " +
      "CASE WHEN cm.prec IS NOT NULL AND cm.rec IS NOT NULL AND " +
      "(cm.prec + cm.rec) > 0.0 THEN (2.0 * cm.prec * cm.rec) / " +
      "(cm.prec + cm.rec) END AS f1, cm.acc " +
      "FROM ag CROSS JOIN cm"
  }

  /** Average-precision replay over the same LR-scored corpus: the
    * ascending cumulative-before sums give TP = P − cbp and
    * PP = T − cba per distinct threshold; precision quantizes with
    * integer `//` (both engines truncate nonnegative operands) and the
    * numerator sums exact longs. */
  private def lrApOracleSql(iters: Int): String = {
    val (ctes, sigF, wN) = lrCtes(iters)
    "WITH " + ctes + ", " +
      s"sc AS MATERIALIZED (SELECT CAST(FLOOR($sigF * 1e6) AS BIGINT) AS s, " +
      s"CAST(y AS BIGINT) AS yp FROM feats CROSS JOIN $wN), " +
      "cnt AS (SELECT s, CAST(SUM(yp) AS BIGINT) AS np, " +
      "CAST(COUNT(*) - SUM(yp) AS BIGINT) AS nn FROM sc GROUP BY 1), " +
      "tot AS (SELECT CAST(SUM(np) AS BIGINT) AS p, " +
      "CAST(SUM(np + nn) AS BIGINT) AS t FROM cnt), " +
      "wd AS (SELECT np, " +
      "CAST(COALESCE(SUM(np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cbp, " +
      "CAST(COALESCE(SUM(np + nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cba FROM cnt), " +
      "ag AS (SELECT CAST(SUM(np * (((tot.p - cbp) * 1000000) // " +
      "(tot.t - cba))) AS BIGINT) AS num FROM wd CROSS JOIN tot) " +
      "SELECT CASE WHEN tot.p > 0 THEN CAST(ag.num AS DOUBLE) / " +
      "(CAST(tot.p AS DOUBLE) * 1e6) END AS ap, " +
      "tot.p AS n_pos, tot.t - tot.p AS n_neg FROM ag CROSS JOIN tot"
  }

  /** Gopher keep vote over the RAW document text (no reflow), as a CTE
    * block starting with ", " and ending at `gk` (doc_id, keep). The
    * single-line text makes both line screens trivially true, so only
    * the gram screens vote — matching the operator, whose line metrics
    * read 0 on newline-free text. */
  private def gopherKeepRawSql: String = gopherKeepRawSql()

  private def gopherKeepRawSql(rel: String = "documents"): String = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val thr = graft.ext.Repetition.gopherThresholds
    val tp = topNs.map(n =>
      s"MAX(CASE WHEN n = $n THEN tm END) AS t${n}m").mkString(", ")
    val dp = dupNs.map(n =>
      s"MAX(CASE WHEN n = $n THEN dm END) AS d$n").mkString(", ")
    def fr(mass: String) =
      s"ROUND(LEAST(1.0, COALESCE($mass, 0) / (1.0 * chars)), 6)"
    val vote = (topNs.map(n =>
      s"${fr(s"t${n}m")} <= ${thr(s"top_${n}gram_char_frac")}") ++
      dupNs.map(n =>
        s"${fr(s"d$n")} <= ${thr(s"dup_${n}gram_char_frac")}"))
      .mkString(" AND ")
    ", gw AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS chars, " +
      s"string_split(text, ' ') AS ws2 FROM $rel), " +
      "gg AS (SELECT doc_id, n, unnest(list_transform(range(1, len(ws2)-n+2), " +
      "i -> array_to_string(list_slice(ws2, i, i+n-1), ' '))) AS g FROM gw " +
      s"CROSS JOIN (SELECT unnest([${(topNs ++ dupNs).mkString(", ")}]) AS n) ns), " +
      "gpg AS (SELECT doc_id, n, g, COUNT(*) AS c FROM gg GROUP BY 1, 2, 3), " +
      "gtops AS (SELECT doc_id, n, c * length(g) AS tm FROM " +
      "(SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n " +
      "ORDER BY c DESC, g ASC) AS rn FROM gpg) WHERE rn = 1), " +
      "gdups AS (SELECT doc_id, n, SUM(CASE WHEN c >= 2 THEN c * length(g) " +
      "ELSE 0 END) AS dm FROM gpg GROUP BY 1, 2), " +
      s"gtp AS (SELECT doc_id, $tp FROM gtops GROUP BY 1), " +
      s"gdp AS (SELECT doc_id, $dp FROM gdups GROUP BY 1), " +
      s"gk AS (SELECT gw.doc_id, ($vote) AS keep FROM gw " +
      "LEFT JOIN gtp USING (doc_id) LEFT JOIN gdp USING (doc_id))"
  }

  /** DuckDB replay of [[graft.ext.Bpe.train]]: the word table once, then
    * per merge round — pair counts with the (cnt DESC, a, b) argmax, the
    * greedy left-to-right application via alternate-marks-within-runs
    * (consecutive candidate positions only arise for a==b merges; greedy
    * keeps the 1st, 3rd, ... of each run), consumed positions dropped by
    * a lag on the kept flag, positions renumbered. Returns the full WITH
    * chain + final merge-table select. */
  private def bpeChain(merges: Int): String =
    bpeChainWith(merges) + " " +
      (1 to merges).map(k =>
        s"SELECT $k AS step, a AS sym_a, b AS sym_b, CAST(cnt AS BIGINT) AS cnt FROM b$k")
        .mkString(" UNION ALL ") + " ORDER BY step"

  /** Planted WordPiece vocab for x_wordpiece_encode, kept in lockstep
    * with its oracle's VALUES list ([[wordpieceVocabValuesSql]]): a few
    * plain word-start pieces incl. multi-char overlaps ("s" < "sc" <
    * "scan" exercises longest-match), every ##-single (covered words
    * always finish), and one multi continuation "##an" greedy must
    * prefer over "##a". Words starting outside the plain set collapse
    * to [UNK]. */
  private val wordpieceVocab: Seq[String] =
    Seq("s", "sc", "scan", "t", "the", "w", "j", "a", "b", "m", "o", "k",
      "##an") ++ ('a' to 'z').map(c => s"##$c")

  private def wordpieceVocabValuesSql: String =
    wordpieceVocab.map { p =>
      val cont = p.startsWith("##")
      val surface = if (cont) p.substring(2) else p
      s"('$surface', ${if (cont) "TRUE" else "FALSE"})"
    }.mkString(", ")

  /** [[bpeChainWith]]'s WordPiece sibling: ##-marked initial symbols, a
    * per-round unigram-count CTE, the floor-quantized micro-log10
    * likelihood argmax (score DESC, a, b — the engine's exact
    * tie-break), the `minCount` pair cutoff, and the ##-stripping merge
    * product. Emits the merge table (step, sym_a, sym_b, cnt,
    * score_micro). */
  private def wordpieceChain(merges: Int, minCount: Long): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("w AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) t " +
      "WHERE word <> '' GROUP BY 1)")
    parts += ("p0 AS MATERIALIZED (SELECT word, u.n AS pos, " +
      "CASE WHEN u.n = 1 THEN u.s ELSE '##' || u.s END AS sym FROM " +
      "(SELECT word, unnest([{'n': x, 's': substr(word, CAST(x AS INT), 1)} " +
      "for x in range(1, len(word)+1)]) AS u FROM w) t)")
    for (k <- 1 to merges) {
      val p = s"p${k - 1}"
      parts += (s"c$k AS MATERIALIZED (SELECT sym AS a, nxt AS b, SUM(freq) AS cnt FROM " +
        s"(SELECT word, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p) l " +
        s"JOIN w USING (word) WHERE nxt IS NOT NULL GROUP BY 1, 2 " +
        s"HAVING SUM(freq) >= $minCount)")
      parts += (s"u$k AS MATERIALIZED (SELECT sym AS s, SUM(freq) AS ucnt " +
        s"FROM $p JOIN w USING (word) GROUP BY 1)")
      parts += (s"b$k AS MATERIALIZED (SELECT a, b, cnt, " +
        "CAST(floor((log10(CAST(cnt AS DOUBLE)) - " +
        "log10(CAST(ua.ucnt AS DOUBLE)) - log10(CAST(ub.ucnt AS DOUBLE))) " +
        "* 1e6) AS BIGINT) AS score_micro " +
        s"FROM c$k JOIN u$k ua ON c$k.a = ua.s JOIN u$k ub ON c$k.b = ub.s " +
        "ORDER BY score_micro DESC, a, b LIMIT 1)")
      parts += (s"mk$k AS MATERIALIZED (SELECT word, pos, sym, nxt, " +
        s"COALESCE(sym = (SELECT a FROM b$k) AND nxt = (SELECT b FROM b$k), FALSE) AS cand FROM " +
        s"(SELECT word, pos, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p) m)")
      parts += (s"g$k AS MATERIALIZED (SELECT *, CASE WHEN cand THEN ROW_NUMBER() OVER " +
        "(PARTITION BY word, grp ORDER BY pos) ELSE 0 END AS rn FROM " +
        s"(SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY pos) AS grp FROM mk$k) t)")
      parts += (s"p$k AS MATERIALIZED (SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, " +
        "CASE WHEN keepflag THEN sym || " +
        "(CASE WHEN starts_with(nxt, '##') THEN substr(nxt, 3) ELSE nxt END) " +
        "ELSE sym END AS sym FROM " +
        "(SELECT word, pos, sym, nxt, (cand AND rn % 2 = 1) AS keepflag, " +
        s"lag(cand AND rn % 2 = 1) OVER (PARTITION BY word ORDER BY pos) AS prevkeep FROM g$k) t " +
        "WHERE prevkeep IS NULL OR NOT prevkeep)")
    }
    "WITH " + parts.mkString(", ") + " " +
      (1 to merges).map(k =>
        s"SELECT $k AS step, a AS sym_a, b AS sym_b, " +
          s"CAST(cnt AS BIGINT) AS cnt, score_micro FROM b$k")
        .mkString(" UNION ALL ") + " ORDER BY step"
  }

  /** The training chain's CTE block alone (ends at `p<merges>`, the
    * fully-merged symbol table); [[bpeChain]] appends the merge-table
    * SELECT, the encode gate its per-document rollup. */
  private def bpeChainWith(merges: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("w AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) t " +
      "WHERE word <> '' GROUP BY 1)")
    parts += ("p0 AS MATERIALIZED (SELECT word, u.n AS pos, u.s AS sym FROM " +
      "(SELECT word, unnest([{'n': x, 's': substr(word, CAST(x AS INT), 1)} " +
      "for x in range(1, len(word)+1)]) AS u FROM w) t)")
    for (k <- 1 to merges) {
      val p = s"p${k - 1}"
      parts += (s"c$k AS MATERIALIZED (SELECT sym AS a, nxt AS b, SUM(freq) AS cnt FROM " +
        s"(SELECT word, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p) l " +
        "JOIN w USING (word) WHERE nxt IS NOT NULL GROUP BY 1, 2)")
      parts += s"b$k AS MATERIALIZED (SELECT a, b, cnt FROM c$k ORDER BY cnt DESC, a, b LIMIT 1)"
      parts += (s"mk$k AS MATERIALIZED (SELECT word, pos, sym, nxt, " +
        s"COALESCE(sym = (SELECT a FROM b$k) AND nxt = (SELECT b FROM b$k), FALSE) AS cand FROM " +
        s"(SELECT word, pos, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p) m)")
      parts += (s"g$k AS MATERIALIZED (SELECT *, CASE WHEN cand THEN ROW_NUMBER() OVER " +
        "(PARTITION BY word, grp ORDER BY pos) ELSE 0 END AS rn FROM " +
        s"(SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY word, cand ORDER BY pos) AS grp FROM mk$k) t)")
      parts += (s"p$k AS MATERIALIZED (SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, " +
        "CASE WHEN keepflag THEN sym || nxt ELSE sym END AS sym FROM " +
        "(SELECT word, pos, sym, nxt, (cand AND rn % 2 = 1) AS keepflag, " +
        s"lag(cand AND rn % 2 = 1) OVER (PARTITION BY word ORDER BY pos) AS prevkeep FROM g$k) t " +
        "WHERE prevkeep IS NULL OR NOT prevkeep)")
    }
    "WITH " + parts.mkString(", ")
  }

  /** k-core peel replay: fixed MATERIALIZED rounds of degree-filter +
    * endpoint restriction over the planted graph (extra rounds past the
    * fixpoint are no-ops) — exact integer counts, no tolerance. */
  /** Personalized-PageRank replay over plantedEdges: roots are the
    * nodes divisible by `rootMod` (`nRoots` of them); teleport and
    * dangling (always 0 on this graph — every node has out-edges, the
    * term is kept for the operand-tree mirror) return to the roots. */
  private def pprOracleSql(iters: Int, rootMod: Int, nRoots: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val rD = s"$nRoots.0::DOUBLE"
    parts += ("e AS MATERIALIZED (" + graft.ext.Fixtures.plantedEdgesSql() + ")")
    parts += ("nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM e " +
      "UNION SELECT DISTINCT dst FROM e)")
    parts += "od AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM e GROUP BY 1)"
    parts += (s"p0 AS MATERIALIZED (SELECT node, CASE WHEN node % $rootMod = 0 " +
      s"THEN 1.0::DOUBLE / $rD ELSE 0.0::DOUBLE END AS pr FROM nd)")
    for (i <- 1 to iters) {
      parts += (s"c$i AS MATERIALIZED (SELECT e.dst, " +
        "SUM(CAST(FLOOR(p.pr / od.od * 1e12) AS BIGINT)) AS s " +
        s"FROM p${i - 1} p JOIN od ON p.node = od.src " +
        "JOIN e ON e.src = od.src GROUP BY 1)")
      parts += (s"d$i AS MATERIALIZED (SELECT " +
        "COALESCE(SUM(CAST(FLOOR(p.pr * 1e12) AS BIGINT)), 0) AS dang " +
        s"FROM p${i - 1} p WHERE NOT EXISTS " +
        "(SELECT 1 FROM od WHERE od.src = p.node))")
      parts += (s"p$i AS MATERIALIZED (SELECT nd2.node, " +
        s"0.85::DOUBLE * (CAST(COALESCE(c$i.s, 0) AS DOUBLE) / 1e12) + " +
        s"CASE WHEN nd2.node % $rootMod = 0 THEN " +
        s"(1.0::DOUBLE - 0.85::DOUBLE) / $rD + " +
        s"0.85::DOUBLE * (CAST(d$i.dang AS DOUBLE) / 1e12 / $rD) " +
        "ELSE 0.0::DOUBLE END AS pr " +
        s"FROM nd nd2 LEFT JOIN c$i ON nd2.node = c$i.dst, d$i)")
    }
    "WITH " + parts.mkString(", ") +
      s" SELECT node, pr FROM p$iters ORDER BY node"
  }

  /** Fixed-bin quantile-sketch replay (cents 0..50000, 64 bins) — shared
    * by the batch gate and the streaming fold gate: counters add
    * exactly, so the folded state serves identical quantiles. */
  private def qsketchOracleSql: String =
    "WITH q0 AS (SELECT event_type, " +
      "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x FROM events), " +
      "c AS (SELECT event_type, " +
      "((LEAST(GREATEST(x, 0), 50000) - 0) * 64) // 50001 AS bin, " +
      "COUNT(*) AS cnt FROM q0 GROUP BY 1, 2), " +
      "w AS (SELECT event_type, bin, cnt, " +
      "SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum, " +
      "SUM(cnt) OVER (PARTITION BY event_type) AS n FROM c), " +
      "qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q) " +
      "SELECT w.event_type, qs.q, CAST(n AS BIGINT) AS n, CAST(bin AS BIGINT) AS bin, " +
      "0.0::DOUBLE + (CAST(bin AS DOUBLE) + 0.5::DOUBLE) * " +
      "((500.0::DOUBLE - 0.0::DOUBLE) / 64.0::DOUBLE) AS est " +
      "FROM w, qs " +
      "WHERE CAST(FLOOR(qs.q * CAST(n - 1 AS DOUBLE)) AS BIGINT) >= cum - cnt " +
      "AND CAST(FLOOR(qs.q * CAST(n - 1 AS DOUBLE)) AS BIGINT) <= cum - 1 " +
      "ORDER BY 1, 2"

  /** HLL register table (p=8) over a CTE of md5 hex strings named `x`. */
  private def hllRegSql(src: String): String =
    "SELECT CAST('0x' || substr(x, 1, 2) AS BIGINT) AS bucket, " +
      "MAX(CASE WHEN CAST('0x' || substr(x, 3, 15) AS BIGINT) = 0 THEN 61 " +
      "ELSE 61 - length(bin(CAST('0x' || substr(x, 3, 15) AS BIGINT))) END) AS m " +
      s"FROM $src GROUP BY 1"

  /** HLL raw estimate (p=8) over a register CTE — exact-unit harmonic
    * sum, the same operand tree as Hll.estimateByGroups. */
  private def hllEstSql(src: String): String =
    "SELECT (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)) " +
      "* 256.0::DOUBLE * 256.0::DOUBLE / " +
      "(CAST(su::HUGEINT + (256 - np)::HUGEINT * 2305843009213693952::HUGEINT AS DOUBLE) " +
      "/ 2305843009213693952.0::DOUBLE) AS estimate FROM " +
      s"(SELECT COUNT(*) AS np, SUM(1::BIGINT << CAST(61 - m AS INT)) AS su FROM $src) s"

  /** Bellman-Ford replay: `rounds` materialized min-merge rounds over the
    * planted layered DAG (rounds must be >= layers-1 so the chain reaches
    * the same fixed point Spark converges to). */
  private def ssspOracleSql(rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("e AS MATERIALIZED (" + graft.ext.Fixtures.plantedDagSql() + ")")
    parts += ("d0 AS MATERIALIZED (SELECT id AS node, CAST(0 AS BIGINT) AS dist " +
      "FROM range(0, 20) t(id))")
    for (r <- 1 to rounds)
      parts += (s"d$r AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM " +
        s"(SELECT node, dist FROM d${r - 1} UNION ALL " +
        s"SELECT e.dst AS node, d.dist + e.w AS dist FROM d${r - 1} d " +
        "JOIN e ON e.src = d.node) t GROUP BY 1)")
    "WITH " + parts.mkString(", ") +
      s" SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds ORDER BY node"
  }

  /** Synchronous label-propagation replay: per round one neighbor-label
    * count, one (cnt DESC, label) argmax window, one left-join fold. */
  private def labelPropCtes(rounds: Int,
      fixtureSql: String = graft.ext.Fixtures.plantedComponentsSql()): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("g AS MATERIALIZED (" + fixtureSql + ")")
    parts += ("e AS MATERIALIZED (SELECT DISTINCT a, b FROM " +
      "(SELECT src AS a, dst AS b FROM g UNION ALL SELECT dst, src FROM g) t " +
      "WHERE a <> b)")
    parts += "l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM e)"
    for (r <- 1 to rounds) {
      parts += (s"c$r AS MATERIALIZED (SELECT e.b AS node, l.label, " +
        s"COUNT(*) AS cnt FROM e JOIN l${r - 1} l ON e.a = l.node GROUP BY 1, 2)")
      parts += (s"p$r AS MATERIALIZED (SELECT node, label FROM " +
        "(SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node " +
        s"ORDER BY cnt DESC, label) AS rk FROM c$r) t WHERE rk = 1)")
      parts += (s"l$r AS MATERIALIZED (SELECT n.node, " +
        s"COALESCE(p.label, n.label) AS label FROM l${r - 1} n " +
        s"LEFT JOIN p$r p ON n.node = p.node)")
    }
    parts.mkString(", ")
  }

  private def labelPropOracleSql(rounds: Int): String =
    "WITH " + labelPropCtes(rounds) +
      s" SELECT node, CAST(label AS BIGINT) AS label FROM l$rounds ORDER BY node"

  /** Multilevel replay: the [[labelPropCtes]] level-1 chain over a
    * denser-bridged fixture, the Louvain-style contraction (canonical
    * undirected edges joined to both endpoint labels, inter-community
    * COUNT as weight), then `rounds2` WEIGHTED LP rounds (votes sum
    * weight, ties to the smaller label) and the inherit-back join. */
  private def labelPropMultiSql(rounds1: Int, rounds2: Int,
      bridgeEvery: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += labelPropCtes(rounds1,
      graft.ext.Fixtures.plantedComponentsSql(240, 8, bridgeEvery))
    parts += ("und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, " +
      "GREATEST(src, dst) AS b FROM g WHERE src <> dst)")
    parts += (s"ce AS MATERIALIZED (SELECT LEAST(la.label, lb.label) AS ca, " +
      "GREATEST(la.label, lb.label) AS cb, COUNT(*) AS w " +
      s"FROM und JOIN l$rounds1 la ON la.node = und.a " +
      s"JOIN l$rounds1 lb ON lb.node = und.b " +
      "WHERE la.label <> lb.label GROUP BY 1, 2)")
    parts += ("we AS MATERIALIZED (SELECT ca AS a, cb AS b, w FROM ce " +
      "UNION ALL SELECT cb, ca, w FROM ce)")
    parts += "m0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM we)"
    for (r <- 1 to rounds2) {
      parts += (s"wc$r AS MATERIALIZED (SELECT we.b AS node, l.label, " +
        s"SUM(we.w) AS ws FROM we JOIN m${r - 1} l ON we.a = l.node GROUP BY 1, 2)")
      parts += (s"wp$r AS MATERIALIZED (SELECT node, label FROM " +
        "(SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node " +
        s"ORDER BY ws DESC, label) AS rk FROM wc$r) t WHERE rk = 1)")
      parts += (s"m$r AS MATERIALIZED (SELECT n.node, " +
        s"COALESCE(p.label, n.label) AS label FROM m${r - 1} n " +
        s"LEFT JOIN wp$r p ON n.node = p.node)")
    }
    "WITH " + parts.mkString(", ") +
      s" SELECT l.node, CAST(COALESCE(m.label, l.label) AS BIGINT) AS label " +
      s"FROM l$rounds1 l LEFT JOIN m$rounds2 m ON l.label = m.node ORDER BY l.node"
  }

  /** Modularity of the labelprop communities — the composed
    * measurement: the labelprop replay chain feeds the same canonical
    * modularity algebra x_modularity replays standalone. */
  private def modularityOnLabelPropSql(rounds: Int): String =
    "WITH " + labelPropCtes(rounds) + ", " +
      "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b " +
      "FROM g WHERE src != dst), " +
      "mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und), " +
      s"nodesc AS (SELECT node, CAST(label AS BIGINT) AS comm FROM l$rounds), " +
      "deg AS (SELECT node, COUNT(*) AS dg FROM " +
      "(SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) dd GROUP BY 1), " +
      "dc AS (SELECT n.comm AS comm, COUNT(*) AS n_nodes, " +
      "CAST(COALESCE(SUM(d.dg), 0) AS BIGINT) AS deg_sum " +
      "FROM nodesc n LEFT JOIN deg d ON d.node = n.node GROUP BY 1), " +
      "ic AS (SELECT na.comm AS comm, COUNT(*) AS internal " +
      "FROM und u JOIN nodesc na ON na.node = u.a JOIN nodesc nb ON nb.node = u.b " +
      "WHERE na.comm = nb.comm GROUP BY 1) " +
      "SELECT dc.comm AS comm, dc.n_nodes AS n_nodes, dc.deg_sum AS deg_sum, " +
      "CAST(COALESCE(ic.internal, 0) AS BIGINT) AS internal_edges, " +
      "CAST(COALESCE(ic.internal, 0) AS DOUBLE) / mm.m - " +
      "(CAST(dc.deg_sum AS DOUBLE) / (2.0 * mm.m)) * " +
      "(CAST(dc.deg_sum AS DOUBLE) / (2.0 * mm.m)) AS q " +
      "FROM dc LEFT JOIN ic ON ic.comm = dc.comm CROSS JOIN mm ORDER BY 1"

  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("f AS MATERIALIZED (" + graft.ext.Fixtures.plantedCoreSql() + ")")
    parts += ("e0 AS MATERIALIZED (SELECT a, b FROM " +
      "(SELECT src AS a, dst AS b FROM f UNION SELECT dst, src FROM f) t " +
      "WHERE a <> b)")
    for (r <- 1 to rounds) {
      parts += (s"k$r AS MATERIALIZED (SELECT a FROM e${r - 1} " +
        s"GROUP BY a HAVING COUNT(*) >= $k)")
      parts += (s"e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e " +
        s"JOIN k$r x ON e.a = x.a JOIN k$r y ON e.b = y.a)")
    }
    "WITH " + parts.mkString(", ") +
      s" SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg " +
      s"FROM e$rounds GROUP BY 1 ORDER BY 1"
  }

  /** MMR greedy replay: cosine folds mirror Similarity.cosine's
    * index-ordered sums (list_sum over per-index products; IEEE sqrt /
    * mul / div are exact-rounded, MAX is rounding-free), so every
    * round's argmax — a MATERIALIZED CTE picking (score DESC, id) —
    * lands on the same row DuckDB-side. The 1-0.7 subtraction is done
    * in DOUBLE on both engines (DuckDB's decimal-literal arithmetic
    * would yield an exact 0.3 the IEEE engines never see). */
  private def mmrOracleSql(k: Int): String = {
    def cos(a: String, b: String): String =
      s"(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) / " +
        s"(sqrt(list_sum(list_transform($a, x -> x*x))) * " +
        s"sqrt(list_sum(list_transform($b, x -> x*x)))))"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += ("pv AS MATERIALIZED (SELECT vec_id AS id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM embeddings WHERE vec_id BETWEEN 1 AND 300 UNION ALL " +
      "SELECT vec_id + 20000, list_transform(embedding, x -> CAST(x AS DOUBLE)) " +
      "FROM embeddings WHERE vec_id BETWEEN 1 AND 10)")
    parts += ("q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv " +
      "FROM embeddings WHERE vec_id = 0)")
    parts += ("sc AS MATERIALIZED (SELECT id, v, " + cos("v", "qv") +
      " AS rel FROM pv CROSS JOIN q)")
    parts += ("p1 AS MATERIALIZED (SELECT id, v, rel, rel AS score " +
      "FROM sc ORDER BY rel DESC, id LIMIT 1)")
    parts += "s1 AS MATERIALIZED (SELECT id, v FROM p1)"
    for (r <- 2 to k) {
      parts += (s"p$r AS MATERIALIZED (SELECT c.id, c.v, c.rel, " +
        "0.7::DOUBLE * c.rel - (1.0::DOUBLE - 0.7::DOUBLE) * MAX(" +
        cos("c.v", "s.v") + ") AS score " +
        s"FROM sc c CROSS JOIN s${r - 1} s " +
        s"WHERE c.id NOT IN (SELECT id FROM s${r - 1}) " +
        "GROUP BY c.id, c.v, c.rel ORDER BY score DESC, c.id LIMIT 1)")
      if (r < k)
        parts += (s"s$r AS MATERIALIZED (SELECT id, v FROM s${r - 1} " +
          s"UNION ALL SELECT id, v FROM p$r)")
    }
    "WITH " + parts.mkString(", ") + " " +
      (1 to k).map(r =>
        s"SELECT id AS vec_id, CAST($r AS BIGINT) AS rank, score FROM p$r")
        .mkString(" UNION ALL ") + " ORDER BY rank"
  }

  /** Pixel-replay CTEs for the PNG content gates: `d` (planted params
    * from doc_id) and `px` (the per-doc pixel list from the
    * [[graft.ext.GrayPngEncode]] contract — t = x·5 + y·11 + seed·131,
    * pixel = ((t² mod 251) + t + [(x·7+y·11) mod 97 < bump]) mod 256).
    * The engine side must inflate + unfilter real zlib IDAT to land on
    * the same integers. */
  private def pngPixelCtes(seedSql: String, wSql: String, hSql: String,
      bumpSql: String): String = {
    val t = "(x*5 + y*11 + seed*131)"
    val pixel = s"((($t*$t) % 251 + $t + " +
      "CASE WHEN (x*7 + y*11) % 97 < bump THEN 1 ELSE 0 END) % 256)"
    s"d AS (SELECT doc_id, $seedSql AS seed, $wSql AS w, $hSql AS h, " +
      s"$bumpSql AS bump FROM documents), " +
      s"px AS (SELECT d.*, flatten([[ $pixel for x in range(0, w)] " +
      "for y in range(0, h)]) AS p FROM d)"
  }

  /** The gw×8 cell-mean grid in milli units over px.p — the integer
    * downsample both perceptual hashes threshold on (boundaries
    * floor(c·extent/grid), floor division throughout). */
  private def pngCellsExpr(gw: Int): String =
    s"[ (CAST(list_sum(flatten([[ p[y*w + x + 1] " +
      s"for x in range(((i % $gw)*w)//$gw, ((i % $gw) + 1)*w//$gw)] " +
      s"for y in range(((i // $gw)*h)//8, ((i // $gw) + 1)*h//8)])) AS BIGINT) * 1000) // " +
      s"( ((((i // $gw) + 1)*h)//8 - ((i // $gw)*h)//8) * " +
      s"((((i % $gw) + 1)*w)//$gw - ((i % $gw)*w)//$gw) ) " +
      s"for i in range(0, ${gw * 8}) ]"

  /** One 32-bit half of a 64-bit fingerprint: Σ 2^k over bits whose
    * per-bit condition (in lambda var k) holds. Bit 63 is RESERVED on
    * the engine side (the Long sign bit — a hash with only it set
    * would equal the too-small sentinel), so the hi half replays
    * k = 32..62 only. */
  private def fpHalf(cond: String, lo: Boolean): String =
    if (lo) s"CAST(list_sum([CASE WHEN $cond THEN (1::BIGINT << k) " +
      "ELSE 0 END for k in range(0, 32)]) AS BIGINT)"
    else s"CAST(list_sum([CASE WHEN $cond THEN (1::BIGINT << (k - 32)) " +
      "ELSE 0 END for k in range(32, 63)]) AS BIGINT)"

  /** CTE chain replaying the SPECTRAL audio fingerprint over the
    * band-profile WAV fixture ([[graft.ext.WavKernel.toneSample]] +
    * [[graft.ext.WavKernel.spectralFingerprint]]) — every step exact
    * int64: per-(band, window) cubic-mixed amplitudes (uv/av), the
    * window-local-phase sample list (sm), per-cell quadrature-max
    * square-wave band energies (ee), per-window energy totals (tw),
    * and the 63-bit mean-threshold fingerprint halves in hh
    * (doc_id, sfp_hi, sfp_lo — NULL when n < 256, the engine's window
    * floor). Periods/quadrature offsets ride one-row lists (pp/qq) so
    * the literals appear once. */
  private def toneFpCtes(clsSql: String, bumpSql: String,
      nSql: String): String =
    "pq AS (SELECT [4,6,10,14,16,22,26,32] AS pp, " +
      "[1,1,2,3,4,5,6,8] AS qq), " +
      s"d AS (SELECT doc_id, ($clsSql) % 100003 AS cls, " +
      s"($bumpSql) % 1000003 AS bump, ($nSql) AS n, pp, qq " +
      "FROM documents, pq), " +
      "tv AS (SELECT d.*, [ (cls*181 + (c%8)*292 + (c//8)*61 + 7) % 8191 " +
      "for c in range(0, 64) ] AS uv FROM d), " +
      "aa AS (SELECT tv.*, [ 100 + ((uv[c+1]*uv[c+1] % 8191) * uv[c+1]) " +
      "% 997 for c in range(0, 64) ] AS av FROM tv), " +
      "s AS (SELECT aa.*, [ CAST(list_sum([ av[((i*8)//n)*8 + b + 1] * " +
      "(CASE WHEN ((i - (((i*8)//n)*n)//8) % pp[b+1]) < pp[b+1]//2 " +
      "THEN 1 ELSE -1 END) for b in range(0, 8)]) AS BIGINT) + " +
      "((i*31 + bump*97 + (i*i) % 101) % 41) - 20 " +
      "for i in range(0, n) ] AS sm FROM aa), " +
      "eb AS (SELECT s.*, [ greatest(" +
      "abs(CAST(list_sum([ sm[(c//8)*n//8 + j + 1] * " +
      "(CASE WHEN (j % pp[c%8+1]) < pp[c%8+1]//2 THEN 1 ELSE -1 END) " +
      "for j in range(0, ((c//8)+1)*n//8 - (c//8)*n//8) ]) AS BIGINT)), " +
      "abs(CAST(list_sum([ sm[(c//8)*n//8 + j + 1] * " +
      "(CASE WHEN ((j + qq[c%8+1]) % pp[c%8+1]) < pp[c%8+1]//2 " +
      "THEN 1 ELSE -1 END) " +
      "for j in range(0, ((c//8)+1)*n//8 - (c//8)*n//8) ]) AS BIGINT))) " +
      "for c in range(0, 64) ] AS ee FROM s), " +
      "tt AS (SELECT eb.*, [ CAST(list_sum([ ee[k*8 + bb + 1] " +
      "for bb in range(0, 8) ]) AS BIGINT) for k in range(0, 8) ] AS tw " +
      "FROM eb), " +
      "hh AS (SELECT doc_id, CASE WHEN n >= 256 THEN " +
      fpHalf("ee[k+1]*8 > tw[k//8+1]", lo = false) + " END AS sfp_hi, " +
      "CASE WHEN n >= 256 THEN " +
      fpHalf("ee[k+1]*8 > tw[k//8+1]", lo = true) + " END AS sfp_lo " +
      "FROM tt)"

  /** CTE chain replaying content-defined chunking over the formula-blob
    * fixture ([[graft.ext.CdcKernel]]): the per-byte G-table values as
    * one list (gl — optionally a junk prefix concatenated ahead of the
    * shared-class payload), boundary positions via a list_reduce Horner
    * fold over each 32-byte window mod 2^61−1 (bs), cut points (cu),
    * and a final `rows` CTE of (doc_id, chunk_idx, off, endp, chash)
    * with chash the same fold over the chunk's own bytes. Every operand
    * exact int64 — DuckDB's BIGINT would THROW on classic Gear's
    * wrap-mod-2^64, which is why the engine hash is Mersenne-modular. */
  private def cdcChunkCtes(prefixed: Boolean): String = {
    val M = "2305843009213693951"
    def gmap(b: String) = s"((($b)*2654435761 + 98765) % 2147483647)"
    val fold = (sl: String) => s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"$sl), (acc, x) -> (2*acc + x) % $M)"
    val head =
      if (prefixed)
        "d AS (SELECT doc_id, doc_id % 23 AS seed, " +
          "1536 + (doc_id % 5)*256 AS nb, doc_id % 7 + 100 AS pseed, " +
          "9 + doc_id % 13 AS np, doc_id % 11 = 0 AS hasp FROM documents), " +
          "g0 AS (SELECT d.*, [ " + gmap("(pseed*31 + i*17 + (i*i) % 251) % 256") +
          " for i in range(0, np) ] AS pgl, [ " +
          gmap("(seed*31 + i*17 + (i*i) % 251) % 256") +
          " for i in range(0, nb) ] AS bgl FROM d), " +
          "g AS (SELECT g0.*, CASE WHEN hasp THEN pgl || bgl ELSE bgl END " +
          "AS gl, CASE WHEN hasp THEN np + nb ELSE nb END AS n FROM g0)"
      else
        "d AS (SELECT doc_id, doc_id % 23 AS seed, " +
          "1536 + (doc_id % 5)*256 AS n FROM documents WHERE doc_id <> 0), " +
          "g AS (SELECT d.*, [ " +
          gmap("(seed*31 + i*17 + (i*i) % 251) % 256") +
          " for i in range(0, n) ] AS gl FROM d)"
    head + ", " +
      "b AS (SELECT g.*, [ i for i in range(31, n) if " +
      fold("list_slice(gl, i-30, i+1)") + " % 256 = 0 ] AS bs FROM g), " +
      "c AS (SELECT b.*, list_append([ x + 1 for x in bs " +
      "if x < n - 1 ], n) AS cu FROM b), " +
      "e AS (SELECT doc_id, gl, cu, " +
      "unnest(range(0, len(cu))) AS ci FROM c), " +
      "rows AS (SELECT doc_id, ci AS chunk_idx, " +
      "CASE WHEN ci = 0 THEN 0 ELSE cu[ci] END AS off, cu[ci+1] AS endp, " +
      "CAST(" + fold("list_slice(gl, " +
      "(CASE WHEN ci = 0 THEN 0 ELSE cu[ci] END) + 1, cu[ci+1])") +
      " AS BIGINT) AS chash FROM e)"
  }

  /** Exact box-downsample replay: plain floor cell means (0..255) over
    * the ow×oh partition grid — [[pngCellsExpr]] without the milli
    * quantization (resize serves pixels, the hashes serve thresholds). */
  private def pngResizeExpr(ow: Int, oh: Int): String =
    s"[ CAST(list_sum(flatten([[ p[y*w + x + 1] " +
      s"for x in range(((i % $ow)*w)//$ow, ((i % $ow) + 1)*w//$ow)] " +
      s"for y in range(((i // $ow)*h)//$oh, ((i // $ow) + 1)*h//$oh)])) AS BIGINT) // " +
      s"( ((((i // $ow) + 1)*h)//$oh - ((i // $ow)*h)//$oh) * " +
      s"((((i % $ow) + 1)*w)//$ow - ((i % $ow)*w)//$ow) ) " +
      s"for i in range(0, ${ow * oh}) ]"

  /** cc/gg/hh perceptual-hash CTEs over ANY px(doc_id, w, h, p) pixel
    * CTE — shared by the PNG and JPEG pixel oracles (the hashes are
    * container-agnostic: same cell grids, same thresholds). */
  private def hashCtesFromPx: String = {
    val aCond = "c8[k+1] > gm"
    val dCond = "c9[(k//8)*9 + (k%8) + 2] > c9[(k//8)*9 + (k%8) + 1]"
    ", " +
      s"cc AS (SELECT px.*, ${pngCellsExpr(8)} AS c8, ${pngCellsExpr(9)} AS c9 FROM px), " +
      "gg AS (SELECT cc.*, CAST(list_sum(c8) AS BIGINT) // 64 AS gm FROM cc), " +
      "hh AS (SELECT doc_id, w, h, p, " +
      s"${fpHalf(aCond, lo = false)} AS ahash_hi, ${fpHalf(aCond, lo = true)} AS ahash_lo, " +
      s"${fpHalf(dCond, lo = false)} AS dhash_hi, ${fpHalf(dCond, lo = true)} AS dhash_lo FROM gg)"
  }

  /** Full perceptual-hash replay chain ending in
    * hh(doc_id, w, h, p, ahash_hi/lo, dhash_hi/lo). */
  private def pngHashCtes(seedSql: String, wSql: String, hSql: String,
      bumpSql: String): String =
    pngPixelCtes(seedSql, wSql, hSql, bumpSql) + hashCtesFromPx

  /** Pixel CTEs for the PALETTE-PNG fixture ([[graft.ext
    * .PalettePngEncode]]'s documented contract): per doc, the 64-entry
    * PLTE lumas as a list, then every pixel is plum[idx(x,y)] — the
    * index and entry formulas are the quadratic-residue mixes, all
    * operands nonnegative so plain % replays the engine's pmod. */
  private def palettePixelCtes(seedSql: String, wSql: String,
      hSql: String): String = {
    val tq = "((((e*37 + seed*131) % 251) * ((e*37 + seed*131) % 251)) % 251)"
    val uq = "((((x*7 + y*11 + seed*131) % 251) * " +
      "((x*7 + y*11 + seed*131) % 251)) % 251)"
    s"d AS (SELECT doc_id, $seedSql AS seed, $wSql AS w, $hSql AS h " +
      "FROM documents), " +
      s"pl AS (SELECT d.*, [ CAST((77*(($tq + e) % 256) + " +
      s"150*(($tq*2 + e*5 + seed) % 256) + " +
      s"29*(($tq*3 + e*11) % 256)) // 256 AS BIGINT) " +
      "for e in range(0, 64) ] AS plum FROM d), " +
      s"px AS (SELECT pl.*, flatten([[ plum[ (($uq + x + y*3 + seed) % 64) + 1 ] " +
      "for x in range(0, w)] for y in range(0, h)]) AS p FROM pl)"
  }

  private def paletteHashCtes(seedSql: String, wSql: String,
      hSql: String): String =
    palettePixelCtes(seedSql, wSql, hSql) + hashCtesFromPx

  /** Pixel CTEs for the BLOCK-FLAT JPEG fixture ([[graft.ext
    * .BlockJpegEncode]]'s documented block contract — the DC-only
    * encode round-trips exactly, so decoded pixels ARE the formula):
    * every pixel of 8×8 block (bx, by) is
    * (((bx·7+by·11+seed·131)² mod 251) + bx + by·3 + seed) mod 256. */
  /** [[graft.ext.MersenneLongHash]]'s replay: per big-endian key byte,
    * h ← ((h + v_i)² + 1) mod 2^61−1 with v_i = (G[b_i] + i·268435459)
    * mod 2147483647 — the squaring equidistributes on [0, M) (a linear
    * fold concentrates 8-byte keys in a ~2^40 window and wrecks the
    * order-statistic estimator); HUGEINT keeps the square exact. */
  private def kmvHashSql(xSql: String): String =
    "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[ (((($xSql // (1::BIGINT << ((7-i)*8))) % 256) * 2654435761 " +
      "+ 98765) % 2147483647 + i * 268435459) % 2147483647 " +
      "for i in range(0, 8) ]), " +
      "(acc, v) -> CAST(((acc::HUGEINT + v) * (acc::HUGEINT + v) + 1) " +
      "% 2305843009213693951 AS BIGINT)) AS BIGINT)"

  /** The ranked-KMV-minima replay, shared by the batch sketch gate and
    * the streaming MIN-UNION fold gate (the fold is lossless). */
  private def kmvSketchOracle: String =
    "WITH hs AS (SELECT DISTINCT " + kmvHashSql("doc_id") +
      " AS h FROM documents), " +
      "t AS (SELECT h FROM hs ORDER BY h LIMIT 64) " +
      "SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS rank, " +
      "h FROM t ORDER BY rank"

  /** The block-flat JPEG pixel formula over (seed, x, y) — shared by
    * the still-image chains and the per-frame MJPEG chains (the AVI
    * fixture plants the same contract with seed = seed0 + frame). */
  private val jpegPixelExpr: String = {
    val t = "((x//8)*7 + (y//8)*11 + seed*131)"
    s"((($t % 251) * ($t % 251)) % 251 + (x//8) + (y//8)*3 + seed) % 256"
  }

  private def jpegPixelCtes(seedSql: String, wBlocks: Int,
      hBlocks: Int, whereSql: String): String = {
    val pixel = jpegPixelExpr
    s"d AS (SELECT doc_id, $seedSql AS seed, ${wBlocks * 8} AS w, " +
      s"${hBlocks * 8} AS h FROM documents WHERE $whereSql), " +
      s"px AS (SELECT d.*, flatten([[ $pixel for x in range(0, w)] " +
      "for y in range(0, h)]) AS p FROM d)"
  }

  private def jpegHashCtes(seedSql: String, wBlocks: Int,
      hBlocks: Int, whereSql: String): String =
    jpegPixelCtes(seedSql, wBlocks, hBlocks, whereSql) + hashCtesFromPx

  /** The planted PNG pixel contract's full oracle: every container that
    * decodes to the same pixels (PNG, Adam7, GIF, WebP, ICO, BMP, TIFF)
    * is checked against it. */
  private def pngPixelsOracle: String =
    "WITH " + pngHashCtes("doc_id % 7", "9 + doc_id % 8", "8 + doc_id % 6",
      "doc_id % 5") + ", " + pixelStatsSelect(" ORDER BY media_id")

  /** Sample-for-sample replay of the planted PCM ramp (x_mm_audio's WAV and
    * x_mm_flac's FLAC decode to the same samples). */
  private def pcmOracleSql: String =
    "WITH d AS (SELECT doc_id, doc_id % 9 AS seed, " +
      "40 + (doc_id % 50)*4 AS n, 8000 + (doc_id % 3)*4000 AS sr FROM documents), " +
      "s AS (SELECT d.*, [ ((seed*7919 + i*31 + (i*i) % 101) % 4001) - 2000 " +
      "for i in range(0, n)] AS sm FROM d), " +
      "e AS (SELECT s.*, [ CAST(list_sum([abs(sm[i+1]) " +
      "for i in range((k*n)//64, ((k+1)*n)//64)]) AS BIGINT) " +
      "for k in range(0, 64)] AS ew FROM s) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN CAST(1 AS BIGINT) END AS channels, " +
      "CASE WHEN doc_id <> 0 THEN sr END AS sample_rate, " +
      "CASE WHEN doc_id <> 0 THEN n END AS n_samples, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum([abs(v) for v in sm]) AS BIGINT) END AS sum_abs, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_max([abs(v) for v in sm]) AS BIGINT) END AS peak_abs, " +
      "CASE WHEN doc_id <> 0 THEN CAST(list_sum([CASE WHEN (sm[i] < 0) <> (sm[i+1] < 0) " +
      "THEN 1 ELSE 0 END for i in range(1, n)]) AS BIGINT) END AS zero_cross, " +
      "CASE WHEN doc_id <> 0 AND n >= 64 THEN " +
      fpHalf("ew[k+1] > ew[k]", lo = false) + " END AS fp_hi, " +
      "CASE WHEN doc_id <> 0 AND n >= 64 THEN " +
      fpHalf("k > 0 AND ew[k+1] > ew[k]", lo = true) + " END AS fp_lo " +
      "FROM e ORDER BY media_id"

  /** Cross-container pair oracle: ONE hash chain (the containers share
    * the pixel contract), mirrored at +1000000 for the second container —
    * exact O(n^2) Hamming over the 32-bit halves. */
  private def crossDupOracleSql: String =
    "WITH " +
      pngHashCtes("doc_id % 200", "16", "16", "(doc_id // 200) % 5") + ", " +
      "ha AS (SELECT doc_id, ahash_hi, ahash_lo FROM hh " +
      "UNION ALL SELECT doc_id + 1000000, ahash_hi, ahash_lo FROM hh) " +
      "SELECT a.doc_id AS i, b.doc_id AS j, " +
      "CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming " +
      "FROM ha a JOIN ha b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) + " +
      "bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 4 " +
      "ORDER BY i, j"

  /** The shared pixel-stat projection over an hh hash CTE: st fold +
    * the ok/NULL-on-corrupt column block (doc 0 is the planted dirty
    * row in every pixel gate). */
  private def pixelStatsSelect(fromSuffix: String): String =
    "st AS (SELECT hh.*, CAST(len(p) AS BIGINT) AS n, " +
      "CAST(list_sum(p) AS BIGINT) AS sl, " +
      "CAST(list_sum([v*v for v in p]) AS BIGINT) AS sq FROM hh) " +
      "SELECT doc_id AS media_id, doc_id <> 0 AS ok, " +
      "CASE WHEN doc_id <> 0 THEN w END AS width, " +
      "CASE WHEN doc_id <> 0 THEN h END AS height, " +
      "CASE WHEN doc_id <> 0 THEN n END AS n_px, " +
      "CASE WHEN doc_id <> 0 THEN sl END AS sum_luma, " +
      "CASE WHEN doc_id <> 0 THEN sl*1000 // n END AS mean_milli, " +
      "CASE WHEN doc_id <> 0 THEN (n*sq - sl*sl)*1000 // (n*n) END AS var_milli, " +
      "CASE WHEN doc_id <> 0 THEN ahash_hi END AS ahash_hi, " +
      "CASE WHEN doc_id <> 0 THEN ahash_lo END AS ahash_lo, " +
      "CASE WHEN doc_id <> 0 THEN dhash_hi END AS dhash_hi, " +
      "CASE WHEN doc_id <> 0 THEN dhash_lo END AS dhash_lo " +
      s"FROM st$fromSuffix"

  /** One suffixed k-means training-replay chain (2 iterations, k=8, md5
    * seeds): CTEs pts$sfx..a2$sfx where a2$sfx is the post-training
    * (vec_id, v, cid) assignment. Suffixing lets one oracle embed
    * several independent trainings (the PQ subspaces). */
  private def kmeansChain(ptsSql: String, sfx: String = ""): String =
    s"pts$sfx AS (" + ptsSql + "), " +
      s"seeds$sfx AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, v AS cvec " +
      s"FROM pts$sfx ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), " +
      s"a1$sfx AS (SELECT p.vec_id, p.v, s.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), i -> (p.v[i]-s.cvec[i])*(p.v[i]-s.cvec[i]))) AS d " +
      s"FROM pts$sfx p CROSS JOIN seeds$sfx s " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY d, s.cid) = 1), " +
      s"c1r$sfx AS (SELECT cid, dim, " +
      "CAST(SUM(CAST(ROUND(v1, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c " +
      s"FROM (SELECT cid, unnest(v) AS v1, unnest(range(len(v))) AS dim FROM a1$sfx) t GROUP BY 1, 2), " +
      s"c1$sfx AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM c1r$sfx GROUP BY cid), " +
      s"a2$sfx AS (SELECT p.vec_id, p.v, c.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), i -> (p.v[i]-c.cvec[i])*(p.v[i]-c.cvec[i]))) AS d " +
      s"FROM pts$sfx p CROSS JOIN c1$sfx c " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY d, c.cid) = 1), "

  /** Final-centroid + re-assignment extension of [[kmeansChain]]: c2$sfx
    * (the fit() output centroids) packed as b$sfx, and a3$sfx = the
    * corpus assigned to THOSE — PQ's encoding step. */
  private def kmeansFinalAssign(sfx: String): String =
    s"c2$sfx AS (SELECT cid, dim, " +
      "CAST(SUM(CAST(ROUND(v1, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c " +
      s"FROM (SELECT cid, unnest(v) AS v1, unnest(range(len(v))) AS dim FROM a2$sfx) t GROUP BY 1, 2), " +
      s"b$sfx AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM c2$sfx GROUP BY cid), " +
      s"a3$sfx AS (SELECT p.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), i -> (p.v[i]-b.cvec[i])*(p.v[i]-b.cvec[i]))) AS d " +
      s"FROM pts$sfx p CROSS JOIN b$sfx b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY d, b.cid) = 1), "

  private val defaultPtsSql: String =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v " +
      "FROM embeddings"

  private def kmeansReplayCtes(ptsSql: String = defaultPtsSql): String =
    "WITH " + kmeansChain(ptsSql)

  /** PQ subspace pts bodies: the two contiguous halves of the vector
    * (len-derived, so any SF's dimensionality works). */
  /** Bigram-fluency replay CTEs (tok..sc) — shared by x_text_fluency
    * and the x_quality_filter per-source quota on top of it. */
  private val fluencyCtesSql: String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "bgr AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2 " +
      "FROM tok WHERE len(w) >= 2), " +
      "c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgr GROUP BY 1, 2), " +
      "bt AS (SELECT COUNT(*) AS B FROM bgr), " +
      "sc AS (SELECT b.doc_id, " +
      "SUM(CAST(FLOOR(CAST(c2.c2 AS DOUBLE) / bt.B * 1e12) AS BIGINT)) AS su, " +
      "COUNT(*) AS nb FROM bgr b " +
      "JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2 " +
      "CROSS JOIN bt GROUP BY 1) "

  /** Same tf/df/n integer operands, same floor-unit summation — shared
    * by x_search (tokenize-at-query) and x_index_search (postings). */
  private val searchOracleSql: String =
    "WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS len, " +
      "unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, len, term, COUNT(*) AS cnt FROM tok " +
      "WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2, 3), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
      "nn AS (SELECT COUNT(*) AS n FROM documents), " +
      "sc AS (SELECT tf.doc_id, " +
      "SUM(CAST(FLOOR(CAST(tf.cnt AS DOUBLE) / tf.len * (CAST(nn.n AS DOUBLE) / dfreq.df) * 1e12) AS BIGINT)) AS su, " +
      "COUNT(*) AS n_terms FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nn GROUP BY 1) " +
      "SELECT doc_id, CAST(su AS DOUBLE) / 1e12 AS score, n_terms FROM sc " +
      "ORDER BY su DESC, doc_id LIMIT 15"

  private def pqPtsSql(sub: Int): String =
    if (sub == 0)
      "SELECT vec_id, list_transform(embedding[1:(len(embedding)//2)], " +
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
    else
      "SELECT vec_id, list_transform(embedding[(len(embedding)//2+1):len(embedding)], " +
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings"

  /** The whitespace-free-script pre-map as a CTE (ends with ", "): the
    * space-stripped corpus re-spaced into 2-char chunks — the DuckDB
    * twin of [[graft.ext.Tokenize.charGramsAsWords]], shared by every
    * x_*_cjk gate. */
  private val cjkCteSql: String =
    "cjk AS (SELECT doc_id, lang, CASE WHEN length(s) > 0 THEN " +
      "array_to_string([substr(s, i*2+1, 2) for i in " +
      "range(0, CAST((length(s)+1)//2 AS BIGINT))], ' ') ELSE '' END AS text " +
      "FROM (SELECT doc_id, lang, replace(text, ' ', '') AS s " +
      "FROM documents) b), "

  /** Unigram-tokenizer replay chain (x_unigram_train / x_unigram_encode):
    * seed vocab over substring candidates, then per-EM-round a full
    * Viterbi DP as a position-indexed CTE ladder — dp{p}_{r} holds each
    * word's best (score, path) at position p under vocab v{r}, argmax
    * picked by `ROW_NUMBER() OVER (ORDER BY best DESC, j)` exactly
    * matching the engine's strict-> / smallest-j tie-break. Positions
    * bound by [[uniMaxPos]] (corpus max word length is 8; a longer word
    * would drop from the oracle counts and turn the gate red, never
    * silently pass). All scores are floor-quantized micro log10 LONGs,
    * so every comparison is exact integer arithmetic on both engines. */
  private val uniMaxL = 4
  private val uniMaxPos = 16
  private val uniMaxVocab = 60

  private def uniDpSql(r: Int): String = {
    val dp0 = s"dp0_$r AS (SELECT word, CAST(0 AS BIGINT) AS best, " +
      s"CAST([] AS VARCHAR[]) AS path FROM utypes), "
    val dps = (1 to uniMaxPos).map { p =>
      val branches = (math.max(0, p - uniMaxL) until p).map { j =>
        s"SELECT d.word, d.best + v.s AS best, " +
        s"list_append(d.path, v.piece) AS path, $j AS j " +
        s"FROM dp${j}_$r d JOIN v$r v ON v.piece = " +
        s"substr(d.word, ${j + 1}, ${p - j}) WHERE length(d.word) >= $p"
      }.mkString(" UNION ALL ")
      s"dp${p}_$r AS MATERIALIZED (SELECT word, best, path FROM (" +
      "SELECT word, best, path, ROW_NUMBER() OVER (" +
      "PARTITION BY word ORDER BY best DESC, j) AS rn " +
      s"FROM ($branches)) WHERE rn = 1), "
    }.mkString
    val segUnion = (1 to uniMaxPos)
      .map(p => s"SELECT word, path FROM dp${p}_$r WHERE length(word) = $p")
      .mkString(" UNION ALL ")
    dp0 + dps + s"seg_$r AS MATERIALIZED ($segUnion), "
  }

  private def uniVocabNextSql(r: Int): String =
    s"cnt_$r AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM " +
    s"(SELECT word, unnest(path) AS piece FROM seg_$r) u " +
    "JOIN utypes t USING (word) GROUP BY piece), " +
    s"pw${r + 1} AS (SELECT v.piece, CAST(COALESCE(c.c, 0) + 1 AS BIGINT) " +
    s"AS weight FROM v$r v LEFT JOIN cnt_$r c ON v.piece = c.piece), " +
    s"v${r + 1} AS MATERIALIZED (SELECT piece, weight, " +
    "CAST(floor(log10(CAST(weight AS DOUBLE) / " +
    s"CAST((SELECT SUM(weight) FROM pw${r + 1}) AS DOUBLE)) * 1e6) " +
    s"AS BIGINT) AS s FROM pw${r + 1}), "

  private def uniChainSql(rounds: Int): String =
    "WITH utypes AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) " +
    "AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word " +
    "FROM documents) WHERE length(word) > 0 GROUP BY word), " +
    s"lens AS (SELECT CAST(unnest(range(1, ${uniMaxL + 1})) AS INTEGER) AS l), " +
    "sub AS (SELECT t.cnt, unnest([substr(t.word, CAST(i + 1 AS INTEGER), " +
    "l.l) for i in range(0, length(t.word) - l.l + 1)]) AS piece " +
    "FROM utypes t, lens l), " +
    "cand AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS weight " +
    "FROM sub GROUP BY piece), " +
    "singles0 AS MATERIALIZED (SELECT piece, weight FROM cand " +
    "WHERE length(piece) = 1), " +
    "multis0 AS (SELECT piece, weight FROM cand WHERE length(piece) > 1 " +
    "QUALIFY ROW_NUMBER() OVER (ORDER BY weight DESC, piece) <= " +
    s"$uniMaxVocab - (SELECT COUNT(*) FROM singles0)), " +
    "pw0 AS (SELECT * FROM singles0 UNION ALL SELECT * FROM multis0), " +
    "v0 AS MATERIALIZED (SELECT piece, weight, " +
    "CAST(floor(log10(CAST(weight AS DOUBLE) / " +
    "CAST((SELECT SUM(weight) FROM pw0) AS DOUBLE)) * 1e6) " +
    "AS BIGINT) AS s FROM pw0), " +
    (0 until rounds).map(r => uniDpSql(r) + uniVocabNextSql(r)).mkString

  /** Planted-script effective text shared by x_text_script /
    * x_respace_auto: doc_id % 4 routes between the ascii corpus text,
    * pure Han, kana-dominant mixed Japanese, and Cyrillic. */
  private val scriptEffCteSql: String =
    "eff AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER) " +
      "WHEN 1 THEN repeat('世界和平', 10) " +
      "WHEN 2 THEN 'こんにちは' || repeat('カタカナ', 5) || '世界 abc' " +
      "WHEN 3 THEN 'привет мир как дела 123' " +
      "ELSE text END AS t FROM documents), "

  /** The full residual-IVF-PQ replay chain through `sc` (per-candidate
    * ADC distances): coarse + two residual trainings, probe ranking,
    * per-(query, list) LUTs. Shared by x_sim_ivfpq_res (rank the sc
    * frame) and x_sim_ivfpq_refine (ADC-rank 2k, exact re-rank). */
  /** The full IVF-PQ replay through `sc` (per-candidate ADC distances):
    * three k-means trainings (coarse + 2 PQ subspaces), query probes
    * (nprobe=2 of nlist=8), LUTs, probed-list candidates. Shared by
    * x_sim_ivfpq (ranks them) and x_ann_recall (scores them against
    * the exact brute-force L2 truth from the same pts_c). */
  /** The frozen-index build/ingest/search replay (x_sim_ivfpq_index),
    * with an optional filter on the scored candidates — the tombstone
    * twin (x_ann_delete) excludes deleted ids BEFORE ranking, exactly
    * like the engine's anti-join, so top-k refills. */
  private def ivfpqIndexOracleSql(scFilter: String): String =
    "WITH pts_all AS (" + defaultPtsSql + "), " +
      kmeansChain("SELECT vec_id, v FROM pts_all WHERE vec_id % 2 = 0", "_c") +
      kmeansFinalAssign("_c") +
      "aall_c AS (SELECT p.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(p.v)+1), " +
      "i -> (p.v[i]-b.cvec[i])*(p.v[i]-b.cvec[i]))) AS d " +
      "FROM pts_all p CROSS JOIN b_c b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY d, b.cid) = 1), " +
      "resf AS (SELECT p.vec_id, a.cid AS ccid, " +
      "list_transform(range(1, len(p.v)+1), i -> p.v[i] - b.cvec[i]) AS v " +
      "FROM pts_all p JOIN aall_c a USING (vec_id) JOIN b_c b ON a.cid = b.cid), " +
      kmeansChain("SELECT vec_id, v[1:(len(v)//2)] AS v FROM resf WHERE vec_id % 2 = 0", "_r0") +
      kmeansFinalAssign("_r0") +
      kmeansChain("SELECT vec_id, v[(len(v)//2+1):len(v)] AS v FROM resf WHERE vec_id % 2 = 0", "_r1") +
      kmeansFinalAssign("_r1") +
      "aall_r0 AS (SELECT r.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (r.v[i]-b.cvec[i])*(r.v[i]-b.cvec[i]))) AS d " +
      "FROM (SELECT vec_id, v[1:(len(v)//2)] AS v FROM resf) r CROSS JOIN b_r0 b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY d, b.cid) = 1), " +
      "aall_r1 AS (SELECT r.vec_id, b.cid, " +
      "list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (r.v[i]-b.cvec[i])*(r.v[i]-b.cvec[i]))) AS d " +
      "FROM (SELECT vec_id, v[(len(v)//2+1):len(v)] AS v FROM resf) r CROSS JOIN b_r1 b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY r.vec_id ORDER BY d, b.cid) = 1), " +
      "qs AS (SELECT vec_id AS qid, v FROM pts_all WHERE vec_id IN (0, 1, 2, 3)), " +
      "pb AS (SELECT q.qid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM qs q CROSS JOIN b_c b " +
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d, b.cid) <= 2), " +
      "qr AS (SELECT pb.qid, pb.cid AS ccid, " +
      "list_transform(range(1, len(q.v)+1), i -> q.v[i] - b.cvec[i]) AS v " +
      "FROM pb JOIN qs q USING (qid) JOIN b_c b ON pb.cid = b.cid), " +
      "lutr0 AS (SELECT r.qid, r.ccid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (r.v[i]-b.cvec[i])*(r.v[i]-b.cvec[i]))) AS d FROM qr r CROSS JOIN b_r0 b), " +
      "lutr1 AS (SELECT r.qid, r.ccid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
      "i -> (r.v[len(b.cvec)+i]-b.cvec[i])*(r.v[len(b.cvec)+i]-b.cvec[i]))) AS d FROM qr r CROSS JOIN b_r1 b), " +
      "cand AS (SELECT pb.qid, pb.cid AS ccid, a.vec_id FROM pb JOIN aall_c a ON pb.cid = a.cid), " +
      "sc AS (SELECT c.qid, c.vec_id, l0.d + l1.d AS dist FROM cand c " +
      "JOIN aall_r0 a0 ON c.vec_id = a0.vec_id JOIN aall_r1 a1 ON c.vec_id = a1.vec_id " +
      "JOIN lutr0 l0 ON c.qid = l0.qid AND c.ccid = l0.ccid AND a0.cid = l0.cid " +
      "JOIN lutr1 l1 ON c.qid = l1.qid AND c.ccid = l1.ccid AND a1.cid = l1.cid) " +
      "SELECT qid, vec_id AS nid, CAST(rank AS BIGINT) AS rank, dist FROM " +
      "(SELECT qid, vec_id, dist, ROW_NUMBER() OVER " +
      "(PARTITION BY qid ORDER BY dist, vec_id) AS rank FROM sc" + scFilter + ") t " +
      "WHERE rank <= 10 ORDER BY qid, rank"

  private def ivfpqScCtesSql: String = "WITH " +
    kmeansChain(defaultPtsSql, "_c") + kmeansFinalAssign("_c") +
    kmeansChain(pqPtsSql(0), "_0") + kmeansFinalAssign("_0") +
    kmeansChain(pqPtsSql(1), "_1") + kmeansFinalAssign("_1") +
    "qs AS (SELECT vec_id AS qid, v FROM pts_c WHERE vec_id IN (0, 1, 2, 3)), " +
    "pb AS (SELECT q.qid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM qs q CROSS JOIN b_c b " +
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d, b.cid) <= 2), " +
    "q0 AS (SELECT vec_id AS qid, v FROM pts_0 WHERE vec_id IN (0, 1, 2, 3)), " +
    "q1 AS (SELECT vec_id AS qid, v FROM pts_1 WHERE vec_id IN (0, 1, 2, 3)), " +
    "lut0 AS (SELECT q.qid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM b_0 b CROSS JOIN q0 q), " +
    "lut1 AS (SELECT q.qid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM b_1 b CROSS JOIN q1 q), " +
    "cand AS (SELECT pb.qid, a.vec_id FROM pb JOIN a3_c a ON pb.cid = a.cid), " +
    "sc AS (SELECT c.qid, c.vec_id, l0.d + l1.d AS dist FROM cand c " +
    "JOIN a3_0 a0 ON c.vec_id = a0.vec_id JOIN a3_1 a1 ON c.vec_id = a1.vec_id " +
    "JOIN lut0 l0 ON c.qid = l0.qid AND a0.cid = l0.cid " +
    "JOIN lut1 l1 ON c.qid = l1.qid AND a1.cid = l1.cid) " +
    ""

  private def ivfpqResChainSql: String = "WITH " +
    kmeansChain(defaultPtsSql, "_c") + kmeansFinalAssign("_c") +
    kmeansChain(resPtsSql(0), "_r0") + kmeansFinalAssign("_r0") +
    kmeansChain(resPtsSql(1), "_r1") + kmeansFinalAssign("_r1") +
    "qs AS (SELECT vec_id AS qid, v FROM pts_c WHERE vec_id IN (0, 1, 2, 3)), " +
    "pb AS (SELECT q.qid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (q.v[i]-b.cvec[i])*(q.v[i]-b.cvec[i]))) AS d FROM qs q CROSS JOIN b_c b " +
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY d, b.cid) <= 2), " +
    "qr AS (SELECT pb.qid, pb.cid AS ccid, " +
    "list_transform(range(1, len(q.v)+1), i -> q.v[i] - b.cvec[i]) AS v " +
    "FROM pb JOIN qs q USING (qid) JOIN b_c b ON pb.cid = b.cid), " +
    "lutr0 AS (SELECT r.qid, r.ccid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (r.v[i]-b.cvec[i])*(r.v[i]-b.cvec[i]))) AS d FROM qr r CROSS JOIN b_r0 b), " +
    "lutr1 AS (SELECT r.qid, r.ccid, b.cid, list_sum(list_transform(range(1, len(b.cvec)+1), " +
    "i -> (r.v[len(b.cvec)+i]-b.cvec[i])*(r.v[len(b.cvec)+i]-b.cvec[i]))) AS d FROM qr r CROSS JOIN b_r1 b), " +
    "cand AS (SELECT pb.qid, pb.cid AS ccid, a.vec_id FROM pb JOIN a3_c a ON pb.cid = a.cid), " +
    "sc AS (SELECT c.qid, c.vec_id, l0.d + l1.d AS dist FROM cand c " +
    "JOIN a3_r0 a0 ON c.vec_id = a0.vec_id JOIN a3_r1 a1 ON c.vec_id = a1.vec_id " +
    "JOIN lutr0 l0 ON c.qid = l0.qid AND c.ccid = l0.ccid AND a0.cid = l0.cid " +
    "JOIN lutr1 l1 ON c.qid = l1.qid AND c.ccid = l1.ccid AND a1.cid = l1.cid)"

  /** Residual-PQ subspace pts bodies: the two halves of v − c_coarse(v),
    * built from the coarse chain's CTEs (pts_c / a3_c / b_c must appear
    * earlier in the WITH list). */
  private def resPtsSql(sub: Int): String =
    if (sub == 0)
      "SELECT p.vec_id, list_transform(range(1, len(p.v)//2 + 1), " +
        "i -> p.v[i] - b.cvec[i]) AS v " +
        "FROM pts_c p JOIN a3_c a USING (vec_id) JOIN b_c b ON a.cid = b.cid"
    else
      "SELECT p.vec_id, list_transform(range(len(p.v)//2 + 1, len(p.v) + 1), " +
        "i -> p.v[i] - b.cvec[i]) AS v " +
        "FROM pts_c p JOIN a3_c a USING (vec_id) JOIN b_c b ON a.cid = b.cid"

  /** DuckDB replica of TextAnalysis.langProfiles hit counts (one column per
    * language, alphabetical) and the argmax with the engine's tie-break
    * (equal counts resolve to the lexicographically greatest language). */
  private def langCountColsSql: String =
    graft.ext.TextAnalysis.langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      words.map("'" + _ + "'").mkString(
        s"len(list_filter(string_split(text, ' '), x -> x IN (", ",", s"))) AS c$lang")
    }.mkString(", ")

  private val langPredCaseSql: String =
    "CASE WHEN greatest(cde, cen, ces, cfr, cit) = 0 THEN 'und' " +
    "WHEN cit >= greatest(cde, cen, ces, cfr) THEN 'it' " +
    "WHEN cfr >= greatest(cde, cen, ces) THEN 'fr' " +
    "WHEN ces >= greatest(cde, cen) THEN 'es' " +
    "WHEN cen >= cde THEN 'en' ELSE 'de' END"

  /** Brute-force exact top-5 cosine ranks over the planted-vector fixture
    * (clusters 0 and 1 as queries) — the shared oracle for both ANN paths. */
  private def plantedTopKOracle: String =
    "WITH v AS (" + graft.ext.Fixtures.plantedVectorsSql() + ") " +
      "SELECT qid, nid, rank FROM (" +
      "SELECT q.vec_id AS qid, c.vec_id AS nid, " +
      "ROW_NUMBER() OVER (PARTITION BY q.vec_id " +
      "ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank " +
      "FROM v q JOIN v c ON c.vec_id != q.vec_id " +
      "WHERE q.vec_id < 12) t WHERE rank <= 5 ORDER BY qid, rank"

  /** Exact O(n^2) word-3-gram Jaccard oracle (DuckDB list comprehension);
    * the engine side reaches the same pairs via inverted-index / LSH. */
  private def ngramOracle(threshold: Double, extra: String = ""): String =
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
    "sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) s FROM tok), " +
    "pairs AS (SELECT a.doc_id i, b.doc_id j, " +
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jac " +
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id) " +
    s"SELECT i, j, jac FROM pairs WHERE jac >= $threshold$extra ORDER BY i, j"
}
