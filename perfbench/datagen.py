"""Seeded generator for the benchmark's input tables.

Writes the ten tables `graft.Tables` loads (one parquet file each) with the
column names, physical types and value distributions of the project's
TPC-H-like test data (the sf0.001/sf0.01/sf0.1 sets the gates are checked
on): uniform keys, 2-decimal money, micro-second timestamps, exponential
event values, a 30-word vocabulary for `documents` (5% near-duplicates that
append " dup" to an earlier text) and isotropic 64-dim unit vectors with
uniform labels for `embeddings`. The same (seed, scale) always gives the
same files.

Row counts are those of the test data at every scale it ships: `ROWS` per
unit of scale, with at least 500 documents and 500 vectors. `PROFILE` holds
the test data's measured shape; `profile()` measures the same figures on a
generated set and `check_profile()` compares them.
"""
import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANG_SHARE = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01

# rows per unit of scale, as in the test data
ROWS = {"customer": 150000, "supplier": 10000, "part": 200000,
        "orders": 1500000, "lineitem": 6000000, "events": 1000000,
        "users": 15000, "documents": 50000, "embeddings": 20000}
MIN_ROWS = {"documents": 500, "embeddings": 500}

# The test data's shape, measured by `profile()` on its sf0.1 set (sf0.01
# agrees within the tolerance), and how far a generated set may stray: about
# five standard deviations of the figure at scale 0.02, so that no seed
# trips it by chance.
PROFILE = {
    "near_dup_share": (0.050, 0.035),    # texts that end in " dup"
    "exact_dup_share": (0.0016, 0.012),  # texts equal to another text
    "doc_words_mean": (54.1, 4.5),
    "doc_words_min": (10, 1),
    "doc_words_max": (100, 1),
    "vocabulary": (31, 0),               # 30 words and "dup"
    "lang_en_share": (0.412, 0.08),
    "lang_other_share_min": (0.140, 0.06),
    "event_type_share_min": (0.198, 0.02),
    "event_value_mean": (49.87, 2.0),
    "event_value_median": (34.77, 2.0),
    "users_per_scale": (15000, 0),
    "orders_without_lines": (0.0184, 0.005),
    "segment_share_min": (0.196, 0.04),
    "vector_norm_mean": (1.0, 0.001),
    "label_cosine_gap": (0.0, 0.01),     # same-label minus other-label cosine
}


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]").astype(
        "timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def rows(table, scale):
    return max(MIN_ROWS.get(table, 1), round(ROWS[table] * scale))


def generate(out, seed, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_line, n_part, n_supp, n_events, n_users, n_docs, \
        n_vecs = (rows(t, scale) for t in (
            "customer", "orders", "lineitem", "part", "supplier", "events",
            "users", "documents", "embeddings"))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, ORDER_START, ORDER_DAYS, n_orders),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, ORDER_START + dt.timedelta(days=1),
                            ORDER_DAYS + 95, n_line)})
    ts = np.sort(np.datetime64(dt.datetime(2024, 1, 1), "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_events).astype(
                     "timedelta64[us]"))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(list(LANG_SHARE), n_docs, p=list(LANG_SHARE.values()))),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def profile(data, scale):
    """The `PROFILE` figures of the tables under `data` (at `scale`)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("customer", "orders", "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    one = lambda q: con.execute(q).fetchone()
    p = {}
    n, near, distinct = one("SELECT count(*), count(*) FILTER (WHERE text LIKE "
                            "'% dup'), count(DISTINCT text) FROM documents")
    p["near_dup_share"] = near / n
    p["exact_dup_share"] = (n - distinct) / n
    p["doc_words_mean"], p["doc_words_min"], p["doc_words_max"] = one(
        "SELECT avg(w), min(w), max(w) FROM (SELECT "
        "len(string_split(text, ' ')) w FROM documents)")
    p["vocabulary"] = one("SELECT count(DISTINCT w) FROM (SELECT "
                          "unnest(string_split(text, ' ')) w FROM documents)")[0]
    langs = dict(con.execute("SELECT lang, count(*) / sum(count(*)) OVER () "
                             "FROM documents GROUP BY 1").fetchall())
    p["lang_en_share"] = langs.pop("en", 0.0)
    p["lang_other_share_min"] = min(langs.values())
    p["event_type_share_min"] = one(
        "SELECT min(s) FROM (SELECT count(*) / sum(count(*)) OVER () s "
        "FROM events GROUP BY event_type)")[0]
    p["event_value_mean"], p["event_value_median"], users = one(
        "SELECT avg(value), median(value), count(DISTINCT user_id) FROM events")
    p["users_per_scale"] = round(users / scale)
    p["orders_without_lines"] = one(
        "SELECT 1 - count(DISTINCT l_orderkey) / (SELECT count(*) FROM orders) "
        "FROM lineitem")[0]
    p["segment_share_min"] = one(
        "SELECT min(s) FROM (SELECT count(*) / sum(count(*)) OVER () s "
        "FROM customer GROUP BY c_mktsegment)")[0]
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float64)
    labels = np.array(emb["label"])
    p["vector_norm_mean"] = float(np.linalg.norm(vecs, axis=1).mean())
    cos = vecs @ vecs.T
    same = labels[:, None] == labels[None, :]
    off_diag = ~np.eye(len(labels), dtype=bool)
    p["label_cosine_gap"] = float(cos[same & off_diag].mean() - cos[~same].mean())
    return {k: float(v) for k, v in p.items()}


def check_profile(data, scale):
    """Figures of a generated set that stray from the test data's shape,
    as `name: got (want +- tol)` lines; empty when it matches."""
    got = profile(data, scale)
    return [f"{k}: {got[k]:.4g} ({want} +- {tol})"
            for k, (want, tol) in PROFILE.items() if abs(got[k] - want) > tol]


if __name__ == "__main__":
    import sys
    for k, v in profile(sys.argv[1], float(sys.argv[2])).items():
        print(f"{k:<24}{v:.4g}")
