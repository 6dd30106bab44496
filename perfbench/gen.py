"""Seeded inputs for the engine workloads, and their expected answers.

Everything is a function of the seed: the CSVs the scope is loaded
from, the per-connection statement streams of ``wire_mixed`` and the
ingest cycle. Expected answers are computed here with DuckDB over the
same CSVs, independently of the engine under test.

The benchmark reads nothing outside its checkout, so the tables are
generated, not copied from the TPC-H-shaped test data. Their shapes
follow that data at scale 0.1 (measured with DuckDB): ``cust`` is its
``customer`` table (15k rows, keys from 0, 25 nations, 5 segments,
balance uniform in [-999.99, 9999.99]); ``item`` its ``part`` table
(20k rows, 25 brands, size 1-50, price 900.0 + 0.1 * (key mod 1000));
``buys`` its ``lineitem`` joined to ``orders`` (customer to part,
quantity 1-50, amount uniform in [900, 105000], stamps on whole days,
~250 rows a day); ``event`` its ``events`` table (1,500 users, five
kinds, value exponential with mean 50, origin the user, destination
the ``k`` of its props, 0-99). Keys are uniform, as there.
"""
import os

import duckdb
import numpy as np
import pandas as pd

# Table sizes (rows) and histories (UTC days). `buys` keeps the test
# data's ~250 rows per day but spans 40 days, not ~2,400: one LOAD
# writes a partition directory per day, and every statement on the
# edge lists them all (see README.md, "Inputs, scale").
N_CUST = 15_000
N_ITEM = 20_000
BUYS_DAYS = 40
N_BUYS = 250 * BUYS_DAYS
N_EVENT = 30_000
EVENT_DAYS = 30
EVENT_USERS = 1_500
EVENT_K = 100
BUYS_START = np.datetime64("1995-01-01T00:00:00")
EVENT_START = np.datetime64("2024-01-01T00:00:00")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
KINDS = ["click", "error", "purchase", "signup", "view"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

WARM_OPS = 3              # leading ops per connection run untimed
CURSOR_SIZES = (5, 6, 7)   # item.size <= k: ~2-3k rows, 2-3 pages
EVENT_RANGE_H = 6          # hours per event stamp-range read
BUYS_RANGE_D = 10          # days per buys stamp-range read

VERTEX_DDL = [
    "create type cust (id uint pk, name text, nation uint, acctbal float, "
    "segment text)",
    "create type item (id uint pk, name text, brand text, size uint, "
    "price float)",
]
EDGE_COLS = "origin, destin, stamp, quantity, amount"


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """The four tables as DataFrames, a pure function of ``seed``."""
    rng = np.random.default_rng([seed, 1])
    cid = np.arange(N_CUST)
    cust = pd.DataFrame({
        "id": cid,
        "name": [f"Customer#{i:09d}" for i in cid],
        "nation": rng.integers(0, 25, N_CUST),
        "acctbal": _money(rng, N_CUST, -999.99, 9999.99),
        "segment": rng.choice(SEGMENTS, N_CUST),
    })
    iid = np.arange(N_ITEM)
    item = pd.DataFrame({
        "id": iid,
        "name": [f"{a} {b}" for a, b in
                 zip(rng.choice(ADJ, N_ITEM), rng.choice(NOUN, N_ITEM))],
        "brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_ITEM)],
        "size": rng.integers(1, 51, N_ITEM),
        "price": np.round(900.0 + 0.1 * (iid % 1000), 1),
    })
    days = rng.integers(0, BUYS_DAYS, N_BUYS).astype("timedelta64[D]")
    buys = pd.DataFrame({
        "origin": rng.integers(0, N_CUST, N_BUYS),
        "destin": rng.integers(0, N_ITEM, N_BUYS),
        "stamp": BUYS_START + days,
        "quantity": rng.integers(1, 51, N_BUYS),
        "amount": _money(rng, N_BUYS, 900.0, 105_000.0),
    })
    secs = rng.integers(0, EVENT_DAYS * 86_400, N_EVENT)
    event = pd.DataFrame({
        "origin": rng.integers(0, EVENT_USERS, N_EVENT),
        "destin": rng.integers(0, EVENT_K, N_EVENT),
        "stamp": EVENT_START + np.sort(secs).astype("timedelta64[s]"),
        "kind": rng.choice(KINDS, N_EVENT),
        "value": np.round(rng.exponential(50.0, N_EVENT), 2),
    })
    return {"cust": cust, "item": item, "buys": buys, "event": event}


def write_csvs(tabs, data_dir):
    """Writes one headed CSV per table; stamps as ISO-8601 seconds."""
    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tabs.items():
        con.register("t", df)
        cols = ", ".join(
            "strftime(stamp, '%Y-%m-%dT%H:%M:%S') AS stamp" if c == "stamp"
            else c for c in df.columns)
        path = os.path.join(data_dir, f"{name}.csv")
        con.execute(f"COPY (SELECT {cols} FROM t) TO '{path}' (HEADER)")
        con.unregister("t")
    con.close()


def setup_sql(data_dir):
    """Scope set-up statements (``{scope}`` is filled in per set-up)."""
    d = os.path.abspath(data_dir)
    stmts = ["create scope {scope}", "use {scope}"] + VERTEX_DDL + [
        "create edge buys (origin cust origin, destin item destin, "
        "stamp time stamp, quantity uint, amount float)",
        "create edge event (origin cust origin, destin item destin, "
        "stamp time stamp, kind text, value float)",
    ]
    return stmts + [f"load '{d}/{t}.csv' into {t} use header"
                    for t in ("cust", "item", "buys", "event")]


def _iso(t):
    return str(np.datetime64(t, "s"))


# wire_mixed repeats one block of 9 statement kinds per connection.
# There is no record of real traffic to draw a mix from, so the block
# holds each statement kind the workload names once: the five reads
# (a PK lookup per vertex type, a small aggregate, an `event` stamp
# range, a multi-page cursor), the two edge reads and the two writes.
# The order is fixed and each connection starts at another offset, so
# every seed puts the same load on the server at the same time; the
# seed picks the keys, ranges and values. This keeps runs comparable
# across seeds. No three neighbours hold two of the slow kinds (the
# edge reads and the event range), so no connection's warm-up is long.
BLOCK = ["pk_cust", "buys_range", "pk_item", "w_vertex", "event_range",
         "agg_cust", "w_edge", "buys_origin", "cursor"]


def stream(seed, conn, n):
    """``n`` seeded wire_mixed ops for one connection:
    (class, kind q|x, statement, key) where ``key`` names the answer."""
    rng = np.random.default_rng([seed, 100 + conn])
    ops = []
    for i in range(n):
        j = i + 2 * conn                    # this connection's offset
        k = BLOCK[j % len(BLOCK)]
        ops.append(_op(rng, conn, i, k))
    return ops


def _op(rng, conn, i, k):
    if k == "pk_cust":
        key = (k, int(rng.integers(0, N_CUST)))
        return ("read", "q", "select id, name, nation, acctbal, segment "
                f"from cust where id = {key[1]}", key)
    if k == "pk_item":
        key = (k, int(rng.integers(0, N_ITEM)))
        return ("read", "q", "select id, name, brand, size, price from item "
                f"where id = {key[1]}", key)
    if k == "agg_cust":
        key = (k, SEGMENTS[rng.integers(len(SEGMENTS))],
               int(rng.integers(0, 25)))
        return ("read", "q", "select count(*), sum(acctbal) from cust where "
                f"segment = '{key[1]}' and nation = {key[2]}", key)
    if k == "event_range":
        h = int(rng.integers(0, EVENT_DAYS * 24 - EVENT_RANGE_H))
        t0 = EVENT_START + np.timedelta64(h, "h")
        key = (k, _iso(t0), _iso(t0 + np.timedelta64(EVENT_RANGE_H, "h")))
        return ("read", "q", "select count(*), sum(value) from event where "
                f"stamp >= '{key[1]}' and stamp < '{key[2]}'", key)
    if k == "cursor":
        key = (k, int(rng.choice(CURSOR_SIZES)))
        return ("read", "q",
                f"select id, name, brand from item where size <= {key[1]}", key)
    if k == "buys_range":
        d = int(rng.integers(0, BUYS_DAYS - BUYS_RANGE_D))
        t0 = BUYS_START + np.timedelta64(d, "D")
        key = (k, _iso(t0), _iso(t0 + np.timedelta64(BUYS_RANGE_D, "D")))
        return ("edge_read", "q", "select count(*), sum(amount) from buys "
                f"where stamp >= '{key[1]}' and stamp < '{key[2]}'", key)
    if k == "buys_origin":
        key = (k, int(rng.integers(0, N_CUST)))
        return ("edge_read", "q", "select count(*), sum(quantity) from buys "
                f"where origin = {key[1]}", key)
    if k == "w_vertex":
        vid = 10_000_000 + conn * 1_000_000 + i
        return ("write", "x",
                "insert into cust (id, name, nation, acctbal, segment) "
                f"({vid}, 'New#{vid}', {int(rng.integers(0, 25))}, "
                f"{float(_money(rng, 1, 0, 100)[0])}, 'NEW')", (k,))
    t = np.datetime64("2030-01-01T00:00:00") + np.timedelta64(
        int(rng.integers(0, 86_400)), "s")
    return ("write", "x",
            "insert into event (origin, destin, stamp, kind, value) "
            f"({int(rng.integers(0, EVENT_USERS))}, "
            f"{int(rng.integers(0, EVENT_K))}, '{_iso(t)}', "
            f"'write', {float(_money(rng, 1, 0, 100)[0])})", (k,))


INGEST_COPY_Q = 40      # copy rows with quantity > this
INGEST_UPDATE_Q = 45    # double amount where quantity > this
INGEST_DELETE_Q = 5     # delete rows with quantity <= this


def ingest_setup_sql(data_dir):
    """Ingest set-up: the scope, its vertex types, and a warm-up LOAD of
    the short-history edge so the timed cycles start on a warm JVM."""
    d = os.path.abspath(data_dir)
    return ["create scope {scope}", "use {scope}"] + VERTEX_DDL + [
        "create edge event (origin cust origin, destin item destin, "
        "stamp time stamp, kind text, value float)",
        f"load '{d}/event.csv' into event use header",
    ]


def ingest_cycle(data_dir):
    """One ingest cycle: (kind, class, statement); ``{k}`` is the cycle."""
    d = os.path.abspath(data_dir)
    edge = ("(origin cust{k} origin, destin item{k} destin, "
            "stamp time stamp, quantity uint, amount float)")
    return [
        ("x", "ddl", VERTEX_DDL[0].replace("type cust", "type cust{k}")),
        ("x", "ddl", VERTEX_DDL[1].replace("type item", "type item{k}")),
        ("x", "ddl", "create edge buys{k} " + edge),
        ("x", "ddl", "create edge copy{k} " + edge),
        ("x", "load", f"load '{d}/cust.csv' into cust{{k}} use header"),
        ("x", "load", f"load '{d}/item.csv' into item{{k}} use header"),
        ("x", "load", f"load '{d}/buys.csv' into buys{{k}} use header"),
        ("x", "copy", f"insert into copy{{k}} ({EDGE_COLS}) select {EDGE_COLS} "
                      f"from buys{{k}} where quantity > {INGEST_COPY_Q}"),
        ("x", "rewrite", "update buys{k} set amount = amount * 2 "
                         f"where quantity > {INGEST_UPDATE_Q}"),
        ("x", "rewrite", f"delete from buys{{k}} where quantity <= {INGEST_DELETE_Q}"),
        ("q", "check", "select count(*), sum(quantity), sum(amount) from buys{k}"),
        ("q", "check", "select count(*), sum(quantity) from copy{k}"),
    ]


class Oracle:
    """Expected answers over the generated CSVs, computed by DuckDB."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in ("cust", "item", "buys", "event"):
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_csv("
                f"'{os.path.join(data_dir, t + '.csv')}', header=true, "
                "timestampformat='%Y-%m-%dT%H:%M:%S')")
        self.memo = {}

    def rows(self, sql, params=()):
        return [list(r) for r in self.con.execute(sql, list(params)).fetchall()]

    def answer(self, key):
        """Rows the statement named by ``key`` must return."""
        if key in self.memo:
            return self.memo[key]
        k = key[0]
        q = {
            "pk_cust": "SELECT id, name, nation, acctbal, segment FROM cust "
                       "WHERE id = ?",
            "pk_item": "SELECT id, name, brand, size, price FROM item "
                       "WHERE id = ?",
            "agg_cust": "SELECT count(*), sum(acctbal) FROM cust "
                        "WHERE segment = ? AND nation = ?",
            "event_range": "SELECT count(*), sum(value) FROM event "
                           "WHERE stamp >= ?::TIMESTAMP AND stamp < ?::TIMESTAMP",
            "cursor": "SELECT id, name, brand FROM item WHERE size <= ?",
            "buys_range": "SELECT count(*), sum(amount) FROM buys "
                          "WHERE stamp >= ?::TIMESTAMP AND stamp < ?::TIMESTAMP",
            "buys_origin": "SELECT count(*), sum(quantity) FROM buys "
                           "WHERE origin = ?",
        }[k]
        ans = self.rows(q, key[1:])
        self.memo[key] = ans
        return ans

    def ingest_checks(self):
        """Answers of the two check queries that end an ingest cycle."""
        after = self.rows(
            "SELECT count(*), sum(quantity), sum(CASE WHEN quantity > ? "
            "THEN amount * 2 ELSE amount END) FROM buys WHERE quantity > ?",
            (INGEST_UPDATE_Q, INGEST_DELETE_Q))
        copy = self.rows("SELECT count(*), sum(quantity) FROM buys "
                         "WHERE quantity > ?", (INGEST_COPY_Q,))
        return [after, copy]
