"""Inputs and answer check of the ``suite_analytics`` workload.

The workload runs a fixed list of ``SparkEntry`` queries (below) over
ten parquet tables in the shape of the engine's TPC-H-style test data
at scale 0.01: the same tables, columns, types, key ranges and value
distributions (measured on that data with DuckDB), generated here from
the seed because the benchmark reads nothing outside its checkout.
Answers are checked against each query's DuckDB oracle
(``SparkEntry.oracleSql``) over the same files.
"""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

# The committed query list: per family, the SparkEntry query names.
# fixpoint: a driver-side graph walk (the per-hop checkpoint loop of
# Graph.bfsDistances) and a recursive CTE; operators: TPC-H Q1 and two
# queries over Tables.fanout. A pass runs each once.
FAMILIES = {
    "fixpoint": ["q128_bfs_distance", "q408_recursive_closure"],
    "operators": ["q392_tpch_q1", "q95_corr", "q187_repetition"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}

# Rows per table (the test data at scale 0.01).
N = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
     "lineitem": 60_000, "events": 10_000, "documents": 500,
     "embeddings": 500}
EVENT_USERS = 150
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2_404        # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2_499         # 1995-01-02 .. 2001-11-04
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """The ten tables as DataFrames, a pure function of ``seed``."""
    rng = np.random.default_rng([seed, 7])
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": REGIONS})
    nk = np.arange(25, dtype="int32")
    t["nation"] = pd.DataFrame({"n_nationkey": nk,
                                "n_name": [f"NATION_{i}" for i in nk],
                                "n_regionkey": nk % 5})
    n = N["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = N["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype("int32"),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = N["part"]
    pk = np.arange(n)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n), rng.choice(NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": np.round(900.0 + 0.1 * (pk % 1000), 1)})
    n = N["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n),
        "o_custkey": rng.integers(0, N["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1_000.0, 500_000.0),
        "o_orderdate": (DAY0 + rng.integers(0, ORDER_DAYS + 1, n)
                        .astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = N["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, N["orders"], n),
        "l_partkey": rng.integers(0, N["part"], n),
        "l_suppkey": rng.integers(0, N["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": (DAY0 + 1 + rng.integers(0, SHIP_DAYS + 1, n)
                       .astype("timedelta64[D]")).astype("datetime64[us]")})
    n = N["events"]
    gaps = rng.exponential(30 * 86_400e6 / n, n).cumsum()
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n),
        "ts": EVENT_START + gaps.astype("int64").astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = N["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(8, 96, n)]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n), "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts])})
    n = N["embeddings"]
    v = rng.normal(0.0, 1.0, (n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": list(v.astype("float32")),
        "label": rng.integers(0, 10, n).astype("int32")})
    return t


def write_parquet(tabs, data_dir):
    """One parquet file per table, ``<name>.parquet``, as the engine's
    table loaders expect."""
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tabs.items():
        con.register("t", df)
        cols = "vec_id, embedding::FLOAT[] AS embedding, label" \
            if name == "embeddings" else "*"
        con.execute(f"COPY (SELECT {cols} FROM t) TO "
                    f"'{os.path.join(data_dir, name + '.parquet')}' "
                    "(FORMAT PARQUET)")
        con.unregister("t")
    con.close()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "is_finite"):            # Decimal
        return float(v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return [cols[i] for i in order], out


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b or str(a) == str(b)


def check(data_dir, results_dir, oracles):
    """Compares each query's result (parquet under
    ``results_dir/<query>``) with its oracle over ``data_dir``: same
    columns, same rows as multisets, numbers to 1e-9 relative. Returns
    ``(query, ok, detail)`` per query; a query without an oracle is
    checked for a readable result only."""
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    out = []
    for q in QUERIES:
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            out.append((q, False, "no result"))
            continue
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        gc, got = _canon(rel.fetchall(), list(rel.columns))
        if q not in oracles:
            out.append((q, True, f"{len(got)} rows, no oracle"))
            continue
        try:
            erel = con.sql(oracles[q])
            ec, exp = _canon(erel.fetchall(), list(erel.columns))
        except duckdb.Error as e:
            out.append((q, False, f"oracle error: {e}"))
            continue
        if gc != ec:
            out.append((q, False, f"columns {gc} != {ec}"))
        elif len(got) != len(exp):
            out.append((q, False, f"rows {len(got)} != {len(exp)}"))
        elif not all(_eq(a, b) for ra, rb in zip(got, exp)
                     for a, b in zip(ra, rb)):
            out.append((q, False, "values differ"))
        else:
            out.append((q, True, f"{len(got)} rows"))
    con.close()
    return out
