"""Workload inputs and their independent answers.

For each workload this module builds the spec the benchmark process runs
(facts, pivots, request mix, gate list), all drawn from the seed, and checks
what the program returned against DuckDB over the same parquet files. The
time scope and the cron firing rule are computed here, not by the program.
"""
import datetime as dt
import glob
import json
import math
import os
import urllib.parse

import duckdb
import pandas as pd

import datagen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ----------------------------------------------------------------- facts

MONEY = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
FACTS = [
    {"name": "orders_daily", "cron": "daily", "label": "Order book by market",
     "sql": ("SELECT r.r_name AS region, n.n_name AS nation, "
             "c.c_mktsegment AS segment, o.o_orderpriority AS priority, "
             "COUNT(*) AS orders, " + MONEY.format(c="o.o_totalprice") +
             " AS revenue FROM orders o "
             "JOIN customer c ON o.o_custkey = c.c_custkey "
             "JOIN nation n ON c.c_nationkey = n.n_nationkey "
             "JOIN region r ON n.n_regionkey = r.r_regionkey "
             "WHERE o.o_orderdate <= {date} "
             "GROUP BY r.r_name, n.n_name, c.c_mktsegment, o.o_orderpriority"),
     "meta": {"label": "Order book by market", "dimensions": [
         {"name": "date", "levels": [{"name": "year"}, {"name": "month"},
                                     {"name": "day"}, {"name": "week"}],
          "hierarchies": [{"name": "ymd", "order": ["year", "month", "day"]},
                          {"name": "yw", "order": ["year", "week"]}]},
         {"name": "geo", "levels": [{"name": "region"}, {"name": "nation"}],
          "hierarchies": [{"name": "rn", "order": ["region", "nation"]}]},
         {"name": "segment"}, {"name": "priority"}],
         "measures": [{"name": "orders", "aggregate": "sum"},
                      {"name": "revenue", "aggregate": "sum"}]}},
    {"name": "lineitem_weekly", "cron": "weekly", "label": "Shipped lines",
     "sql": ("SELECT l_returnflag AS returnflag, l_linestatus AS linestatus, "
             "COUNT(*) AS lines, " + MONEY.format(c="l_quantity") + " AS qty, " +
             MONEY.format(c="l_extendedprice") + " AS revenue FROM lineitem "
             "WHERE l_shipdate <= {date} GROUP BY l_returnflag, l_linestatus"),
     "meta": {"label": "Shipped lines", "dimensions": [
         {"name": "date", "levels": [{"name": "year"}, {"name": "week"}],
          "hierarchies": [{"name": "yw", "order": ["year", "week"]}]},
         {"name": "returnflag"}, {"name": "linestatus"}],
         "measures": [{"name": "lines", "aggregate": "sum"},
                      {"name": "qty", "aggregate": "sum"},
                      {"name": "revenue", "aggregate": "sum"}]}},
    {"name": "orders_monthly", "cron": "monthly", "label": "Order status",
     "sql": ("SELECT o_orderstatus AS status, o_orderpriority AS priority, "
             "COUNT(*) AS orders, " + MONEY.format(c="o_totalprice") +
             " AS revenue FROM orders WHERE o_orderdate <= {date} "
             "GROUP BY o_orderstatus, o_orderpriority"),
     "meta": {"label": "Order status", "dimensions": [
         {"name": "date", "levels": [{"name": "year"}, {"name": "month"}],
          "hierarchies": [{"name": "ym", "order": ["year", "month"]}]},
         {"name": "status"}, {"name": "priority"}],
         "measures": [{"name": "orders", "aggregate": "sum"},
                      {"name": "revenue", "aggregate": "sum"}]}},
]
FINENESS = {"yearly": 0, "monthly": 1, "weekly": 2, "daily": 3}


def settings_json():
    return json.dumps({"fact_tables": [
        {"name": f["name"], "cron": f["cron"], "label": f["label"],
         "fact_queries": [{"query_id": 1, "enable": 1, "query": {
             "type": "sql", "value": f["sql"].replace("{date}", "@date")}}]}
        for f in FACTS]})


def week_label(d):
    y, w, _ = d.isocalendar()
    return f"Y{y:04d}-W{w:02d}"


def scope(cron, d):
    """Time scope a fact with this cron stores for pivot d, or None when the
    cron does not fire: it fires on the last day of its period, and fields
    finer than the period are null."""
    t = d + dt.timedelta(days=1)
    fires = {"daily": True, "weekly": week_label(d) != week_label(t),
             "monthly": d.month != t.month, "yearly": d.year != t.year}[cron]
    if not fires:
        return None
    k = FINENESS[cron]
    return {"year": d.year, "month": d.month if k >= 1 else None,
            "week": week_label(d) if k >= 2 else None,
            "day": d.timetuple().tm_yday if k >= 3 else None}


def pivots_for(rng):
    """Three consecutive pivots that cross a year boundary and hold a Sunday:
    every window fires three daily, one weekly and one monthly append."""
    windows = []
    for year in range(1995, 2001):
        for day in (30, 31):
            w = [dt.date(year, 12, day) + dt.timedelta(days=i) for i in range(3)]
            if any(d.isoweekday() == 7 for d in w):
                windows.append(w)
    return rng.choice(windows)


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def expected_facts(con, pivots):
    """Per fact, the rows the snapshot ETL must have appended."""
    out = {}
    for f in FACTS:
        frames = []
        for p in pivots:
            s = scope(f["cron"], p)
            if s is None:
                continue
            df = con.execute(f["sql"].replace(
                "{date}", f"TIMESTAMP '{p.isoformat()}'")).df()
            df.insert(0, "day", s["day"])
            df.insert(0, "week", s["week"])
            df.insert(0, "month", s["month"])
            df.insert(0, "year", s["year"])
            df.insert(0, "queryId", 1)
            frames.append(df)
        out[f["name"]] = pd.concat(frames, ignore_index=True)
        con.register(f"exp_{f['name']}", out[f["name"]])
    return out


# ---------------------------------------------------------- request mix

def _q(params):
    return urllib.parse.urlencode(params, quote_via=urllib.parse.quote)


def request_mix(rng, pivots):
    """The dashboard's requests, each with the SQL that answers it over the
    expected fact rows. Every round replays this list."""
    regions = datagen.REGIONS
    seg, seg2 = rng.sample(datagen.SEGMENTS, 2)
    rk = rng.randrange(5)
    nation = f"NATION_{rk + 5 * rng.randrange(5)}"
    p = rng.choice(pivots)
    pk = f"{p.year},{p.month},{p.timetuple().tm_yday}"
    pw = f"year = {p.year} AND month = {p.month} AND day = {p.timetuple().tm_yday}"
    lo, hi = sorted(rng.sample(pivots, 2))
    lok = f"{lo.year},{lo.month},{lo.timetuple().tm_yday}"
    hik = f"{hi.year},{hi.month},{hi.timetuple().tm_yday}"
    lo_key = lo.year * 1000 + lo.timetuple().tm_yday
    hi_key = hi.year * 1000 + hi.timetuple().tm_yday
    top = rng.randint(3, 10)
    status = rng.choice(["F", "O", "P"])
    od = "exp_orders_daily"
    m2 = "CAST(SUM(orders) AS BIGINT) AS orders, SUM(revenue) AS revenue"

    reqs = [
        # catalog
        ("fact_tables", "light", {"endpoint": "fact_tables"}, None),
        ("dimensions", "light", {"endpoint": "dimensions", "fact": "orders_daily"}, None),
        ("measures", "light", {"endpoint": "measures", "fact": "orders_daily"}, None),
        # aggregates
        ("global", "main", {}, f"SELECT {m2} FROM {od}"),
        ("point", "main", {"cut": f"segment:{seg}"},
         f"SELECT {m2} FROM {od} WHERE segment = '{seg}'"),
        ("range", "main", {"cut": f"date:{lok}-{hik}"},
         f"SELECT {m2} FROM {od} WHERE year * 1000 + day BETWEEN {lo_key} AND {hi_key}"),
        ("set", "main", {"cut": f"segment:{seg};{seg2}", "drilldown": "segment"},
         f"SELECT segment, {m2} FROM {od} WHERE segment IN ('{seg}', '{seg2}') GROUP BY 1"),
        ("hier_point", "main", {"cut": f"geo:{regions[rk]},{nation}"},
         f"SELECT {m2} FROM {od} WHERE region = '{regions[rk]}' AND nation = '{nation}'"),
        ("day_total", "main", {"cut": f"date:{pk}"},
         f"SELECT {m2} FROM {od} WHERE {pw}"),
        ("flat_drill", "main", {"cut": f"date:{pk}", "drilldown": "segment"},
         f"SELECT segment, {m2} FROM {od} WHERE {pw} GROUP BY 1"),
        ("table", "main", {"cut": f"date:{pk}", "drilldown": "priority", "output": "table"},
         f"SELECT priority, {m2} FROM {od} WHERE {pw} GROUP BY 1"),
        ("top_n", "main", {"cut": f"date:{pk}", "drilldown": "geo:nation",
                           "order": "revenue:desc", "limit": str(top)},
         f"SELECT region, nation, {m2} FROM {od} WHERE {pw} GROUP BY 1, 2 "
         f"ORDER BY revenue DESC, region, nation LIMIT {top}"),
        ("large", "main", {"drilldown": "date:day|geo:nation|segment|priority"},
         f"SELECT year, month, day, region, nation, segment, priority, {m2} "
         f"FROM {od} GROUP BY ALL"),
    ]
    out = []
    for rid, kind, params, sql in reqs:
        if kind == "light":
            fact = params.get("fact")
            path = ("/olap/fact_tables" if fact is None
                    else f"/olap/{fact}/{params['endpoint']}")
            out.append({"id": rid, "kind": kind, "path": path, "params": params})
            continue
        fact = params.pop("fact", "orders_daily")
        path = f"/olap/{fact}/aggregate"
        if params:
            path += "?" + _q(params)
        out.append({"id": rid, "kind": kind, "path": path, "sql": sql,
                    "params": dict(params, endpoint="aggregate", fact=fact)})
    rng.shuffle(out)
    return out


# (drilldown request, request it must sum to)
SUM_PAIRS = [("flat_drill", "day_total"), ("large", "global")]

REL_TOL = 1e-9  # float sums may differ by summation order, nothing more


def _rows(body):
    """API rows as dicts (measures flattened), in answer order."""
    doc = json.loads(body)
    if isinstance(doc, dict) and doc.get("empty_dataset"):
        return []
    if doc and isinstance(doc[0], list):  # output=table
        head = doc[0]
        return [dict(zip(head, r)) for r in doc[1:]]
    rows = []
    for r in doc:
        d = {k: v for k, v in r.items() if k != "measures"}
        d.update(r.get("measures", {}))
        rows.append(d)
    return rows


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6)
    return a == b


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return v


def _match(got, want, ordered):
    if len(got) != len(want):
        return f"{len(got)} rows, DuckDB {len(want)}"
    cols = sorted(want[0].keys()) if want else []
    if got and sorted(got[0].keys()) != cols:
        return f"columns {sorted(got[0].keys())}, DuckDB {cols}"
    key = lambda r: tuple(str(r[c]) for c in cols if not isinstance(r[c], float))
    if not ordered:
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        for c in cols:
            if not _same(g[c], w[c]):
                return f"{c}: got {g[c]!r}, DuckDB {w[c]!r}"
    return None


def check_olap(con, raw, work, reqs, pivots):
    """Returns (request ids whose answer is wrong, global faults)."""
    bad, faults = {}, []
    exp = expected_facts(con, pivots)
    faults += check_warehouse(con, raw["warehouse"], exp)
    idem = raw["idempotency"]
    faults += [f"idempotent re-run: {e}" for e in idem["rerun_wrote"]]
    if idem["files_after"] != idem["files_before"]:
        faults.append(f"idempotent re-runs changed the data files from "
                      f"{idem['files_before']} to {idem['files_after']}")
    answers = {}
    for r in reqs:
        rsp = json.load(open(os.path.join(work, "responses", f"{r['id']}.json")))
        if rsp["status"] != 200:
            bad[r["id"]] = f"HTTP {rsp['status']}: {rsp['body'][:200]}"
            continue
        rows = _rows(rsp["body"])
        answers[r["id"]] = rows
        if r["kind"] == "light":
            err = check_catalog(r, rows)
        else:
            df = con.execute(r["sql"]).df()
            want = [{k: _norm(v) for k, v in row.items()}
                    for row in df.to_dict("records")]
            err = _match(rows, want, ordered="order" in r["params"])
        if err:
            bad[r["id"]] = err
    for part, whole in SUM_PAIRS:
        if part in answers and whole in answers and answers[whole]:
            for m in ("orders", "revenue"):
                s = sum(x[m] for x in answers[part])
                if not _same(float(s), float(answers[whole][0][m])):
                    faults.append(f"{part} rows sum {m}={s}, {whole} says "
                                  f"{answers[whole][0][m]}")
    return bad, faults


def check_catalog(r, rows):
    metas = {f["name"]: f for f in FACTS}
    ep = r["params"]["endpoint"]
    if ep == "fact_tables":
        want = sorted((f["name"], f["label"]) for f in FACTS)
        got = sorted((x.get("name"), x.get("label")) for x in rows)
        return None if got == want else f"fact_tables {got}"
    meta = metas[r["params"]["fact"]]["meta"]
    if ep == "dimensions":
        want = [d["name"] for d in meta["dimensions"]]
        got = [x.get("name") for x in rows]
    else:
        want = [(m["name"], m["aggregate"]) for m in meta["measures"]]
        got = [(x.get("name"), x.get("aggregate")) for x in rows]
    return None if got == want else f"{ep} {got}, configured {want}"


def check_warehouse(con, root, exp):
    """The stored fact rows equal the independent per-pivot computation."""
    faults = []
    for name, want in exp.items():
        files = glob.glob(os.path.join(root, name, "**", "*.parquet"),
                          recursive=True)
        if not files:
            faults.append(f"{name}: no data files")
            continue
        got = con.execute(
            "SELECT * EXCLUDE (executionDate) FROM read_parquet(?, "
            "hive_partitioning = true, union_by_name = true)", [files]).df()
        cols = list(want.columns)
        if sorted(got.columns) != sorted(cols):
            faults.append(f"{name}: columns {sorted(got.columns)}")
            continue
        g = [{c: _norm(v) for c, v in r.items()} for r in got[cols].to_dict("records")]
        w = [{c: _norm(v) for c, v in r.items()} for r in want.to_dict("records")]
        err = _match(g, w, ordered=False)
        if err:
            faults.append(f"{name}: {err}")
    return faults


# ----------------------------------------------------------------- gates

# (gate, family), in the order they run. `olap` gates are the light class
# and run last, after the JIT has settled on the others. One gate per family
# besides them: the cheapest at this scale, because a pass over the
# costliest ones does not fit a run (see README.md).
GATES = [
    ("x_stream_hourly", "stream"), ("x_sim_topk", "vector"),
    ("x_dedup_exact", "dedup"), ("x_text_normalize", "text"),
    ("x_text_tokens", "token"), ("x_mm_decode", "media"),
    ("x_linkpred", "graph"), ("x_snapshot", "warehouse"),
] + [(g, "olap") for g in ("q01", "q05", "q12", "q21")]
FAMILIES = ["olap", "stream", "vector", "dedup", "text", "token", "media",
            "graph", "warehouse"]


def _cell(v):
    if isinstance(v, float):
        return f"{v!r}"
    if v is None:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):  # list-valued cells
        pass
    return str(v)


def _canon(df):
    """Rows as sorted strings, columns sorted by name (the selfcheck rule)."""
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted("|".join(_cell(v) for v in r) for r in df.itertuples(index=False))


def check_gates(con, raw, work, gates):
    """Gate name -> why it failed, for gates whose rows differ from their
    oracle SQL in DuckDB (or that threw in the set-up pass)."""
    bad = dict(raw["warm_errors"])
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    for g in gates:
        if g in bad:
            continue
        try:
            want = _canon(con.execute(oracle[g]).df())
            got = _canon(con.execute(
                f"SELECT * FROM read_parquet('{work}/gates/{g}/*.parquet')").df())
        except Exception as e:  # noqa: BLE001 - reported as the gate's failure
            bad[g] = f"oracle: {e}"[:300]
            continue
        if want != got:
            diff = next(((a, b) for a, b in zip(want, got) if a != b), None)
            bad[g] = f"rows {len(got)}, oracle {len(want)}; first diff {diff}"[:300]
    return bad
