package graft

/** Gate-contract invariants: entry() smoke, the gate registry, and
  * column-name parity between each gate and its oracle SQL (the oracle
  * compare hashes after sorting columns BY NAME — a mismatch zeroes the
  * query). */
class SmokeSpec extends SparkTestBase {

  test("entry() returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry rejects a gate name declared twice") {
    val g = SparkEntry.Gate("g", (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.Gate.registry(g, g.copy(name = "h"), g.copy(oracleSql = "SELECT 2"))
    }
    assert(e.getMessage.contains("gate declared twice: g"))
    assert(SparkEntry.Gate.registry(g, g.copy(name = "h")).keySet == Set("g", "h"))
  }

  test("the views are built once and agree with the registry") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
    assert(SparkEntry.queries.keySet == SparkEntry.gates.keySet)
    SparkEntry.gates.foreach { case (n, g) =>
      assert(g.name == n)
      assert(SparkEntry.oracleSql(n) == g.oracleSql)
      assert(SparkEntry.queries(n) eq g.run)
    }
  }

  test("no oracle SQL embeds a helper read before it was set") {
    // the registry is lazy because the oracle helpers below it are strict
    // vals: a strict registry would concatenate their unset value, null
    val unset = SparkEntry.gates.values.filter(g => "\\bnull\\b".r.findFirstIn(g.oracleSql).isDefined)
    assert(unset.isEmpty, unset.map(_.name))
  }

  test("result column names match the oracle SQL aliases") {
    // static check: every column name of the Spark result appears verbatim
    // in the oracle text. Queries whose BUILD already executes side-effect
    // pipelines (snapshot ETL, streaming drain, pipe subprocesses) are
    // excluded here — their full results are hash-checked by the driver
    // gate anyway, and this test only inspects plan schemas.
    val heavy = Set("x_snapshot", "x_snapshot_monthly", "x_stream_hourly", "x_pipe")
    val dir = sf("sf0.001")
    SparkEntry.gates.values.filterNot(g => heavy(g.name)).foreach { g =>
      val (name, sql) = (g.name, g.oracleSql)
      val cols = g.run(spark, dir).columns
      cols.foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: result column '$c' not present in oracle SQL")
      }
    }
  }
}
