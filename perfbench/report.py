"""Turns the harness output into checked answers and metrics.

``build`` returns ``{"full": <everything, for the record>, "line":
<the result line>}``. End-to-end metrics (``--trace 0``) are the same
four for every workload; the workload's own figures (per-class
latencies, ingest rates, family walls, storage) go to the full record.
The traced run (``--trace 1``) reports the per-layer metrics.
"""
import json
import math
import os
import re
import statistics

import gen
import stats
import suite

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_mean_ms": "ms",
    "heap_after_gc_mb": "MB",
}
PER_LAYER = {
    "sql.parse_ms": "ms", "engine.build_ms": "ms",
    "engine.open_cursor_ms": "ms", "engine.fetch_page_ms": "ms",
    "engine.pages_per_read": "count", "engine.write_ms": "ms",
    "engine.load_ms": "ms", "engine.load_jobs": "count",
    "engine.rewrite_ms": "ms", "catalog.listing_jobs": "count",
    "catalog.listed_paths": "count", "catalog.listing_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.task_deser_ms": "ms", "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "scan.files_read": "count",
    "scan.bytes_read": "bytes", "scan.rows_read_per_row_returned": "ratio",
    "storage.files": "count", "storage.partitions": "count",
    "storage.bytes": "bytes", "spark.persisted_rdds_after": "count",
    "wire.request_ms": "ms", "wire.overhead_ms": "ms",
    "wire.bytes_per_row": "bytes", "jvm.gc_ms": "ms",
    "edge_read.op_ms": "ms", "edge_read.listing_ms": "ms",
    "edge_read.listing_jobs": "count", "edge_read.spark_exec_ms": "ms",
    "edge_read.scan_files_read": "count", "operators.build_ms": "ms",
    "operators.build_jobs": "count", "trace.overhead_pct": "%",
}
# per-span counters (see Trace.scala) summed into the spark.* / scan.*
# / catalog.* metrics: metric -> counter field
COUNTER_METRICS = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.exec_ms": "job_ms", "spark.task_run_ms": "task_run_ms",
    "spark.task_cpu_ms": "task_cpu_ms", "spark.task_deser_ms": "task_deser_ms",
    "spark.gc_ms": "gc_ms", "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.spill_bytes": "spill_bytes", "scan.files_read": "files_read",
    "scan.bytes_read": "input_bytes", "catalog.listing_jobs": "listing_jobs",
    "catalog.listed_paths": "listed_paths", "catalog.listing_ms": "listing_ms",
}
OP_FIELDS = ("idx", "cls", "t0", "t1", "status", "msg", "nrows", "pages",
             "bytes", "persisted")


def read_ops(work, conn):
    ops = []
    with open(os.path.join(work, f"ops_{conn}.tsv")) as f:
        for line in f:
            r = dict(zip(OP_FIELDS, line.rstrip("\n").split("\t")))
            for k in ("idx", "t0", "t1", "nrows", "pages", "bytes",
                      "persisted"):
                r[k] = int(r[k])
            r["ms"] = (r["t1"] - r["t0"]) / 1e6
            ops.append(r)
    rows = {}
    with open(os.path.join(work, f"rows_{conn}.tsv")) as f:
        for line in f:
            cells = line.rstrip("\n").split("\t")
            rows.setdefault(int(cells[0]), []).append(
                [None if c == "\\N" else c for c in cells[1:]])
    return ops, rows


def _cell(v):
    if v is None or isinstance(v, (int, float)):
        return v
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def _sort_key(row):
    return tuple((0, round(c, 4)) if isinstance(c, (int, float))
                 else (1, str(c)) for c in row)


def same_rows(actual, expected):
    """Multiset equality of result rows; numbers compare with a small
    relative tolerance (sums of doubles depend on summation order)."""
    a = sorted(([_cell(c) for c in r] for r in actual), key=_sort_key)
    e = sorted(([_cell(c) for c in r] for r in expected), key=_sort_key)
    if len(a) != len(e):
        return False
    for ra, re_ in zip(a, e):
        if len(ra) != len(re_):
            return False
        for x, y in zip(ra, re_):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def _by_kind(ops, kind_of):
    by = {}
    for o in ops:
        by.setdefault(kind_of(o), []).append(o["ms"])
    return by


def kind_medians(ops, kind_of):
    """Median latency per statement kind."""
    return {k: statistics.median(v)
            for k, v in sorted(_by_kind(ops, kind_of).items())}


def kinds_mean(ops, kind_of):
    """Mean over statement kinds of each kind's mean latency: every
    kind counts once, however many of it the timed phase completed, so
    the figure compares across seeds and runs."""
    return statistics.mean(statistics.mean(v)
                           for v in _by_kind(ops, kind_of).values())


def closed_loop_rate(ops):
    """Statements per second: each connection's completed ops over the
    time to its last completion, summed over connections (a connection
    finishes its in-flight op after the time limit, so this neither
    drops nor dilutes the last op)."""
    start = min(o["t0"] for o in ops)
    by = {}
    for o in ops:
        n, end = by.get(o.get("conn", 0), (0, start))
        by[o.get("conn", 0)] = (n + 1, max(end, o["t1"]))
    return sum(n / ((end - start) / 1e9) for n, end in by.values())


def storage_totals(snap):
    return {k: sum(v[k] for v in snap.values())
            for k in ("files", "partitions", "bytes")}


def build(workload, seed, trace, work, out, prep):
    if workload == "wire_mixed":
        ops, checks = wire_ops(work, out, prep)
        kind_of = lambda o: prep["streams"][o["conn"]][o["idx"]][3][0]  # noqa: E731
    elif workload == "ingest_bulk":
        ops, checks = ingest_ops(work, out, prep)
        # cycle 0 is the warm-up; DDL statements are checked but not
        # timed: millisecond catalog writes would only add noise
        ops = [o for o in ops if o["idx"] >= 1000 and o["cls"] != "ddl"]
        kind_of = lambda o: o["idx"] % 1000  # noqa: E731
    else:
        ops, checks = suite_ops(work, out, prep)
        kind_of = lambda o: o["msg"]  # noqa: E731
    checks += setup_checks(work, out, prep, workload)
    checks += [("replay " + str(r[0]), r[5] in ("ok", "rows", "report")
                and r[6] in ("", "rows"), r[5], r[6])
               for r in out.get("replay", [])]
    failed = sum(1 for c in checks if not c[1]) + len(out.get("errors", []))
    attempted = max(1, len(checks))
    per_kind = kind_medians(ops, kind_of)
    e2e = {
        "setup_s": statistics.median(out["setup_walls_s"]),
        "ops_per_s": closed_loop_rate(ops),
        "op_mean_ms": kinds_mean(ops, kind_of),
        "heap_after_gc_mb": out["heap_after_gc_mb"],
    }
    full = {
        "workload": workload, "seed": seed, "trace": trace,
        "env": out["env"], "harness_phases_s": out.get("phases_s"),
        "end_to_end": e2e,
        "workload_metrics": workload_metrics(workload, ops, out, prep,
                                             per_kind),
        "kind_p50_ms": {str(k): v for k, v in per_kind.items()},
        "op_ms": [[str(kind_of(o)), round(o["ms"], 3)] for o in ops],
        "setup_walls_s": out["setup_walls_s"],
        "storage_after_setup": out.get("storage_after_setup"),
        "storage_after_run": out.get("storage_after_run"),
        "failures": [c for c in checks if not c[1]][:20] +
                    out.get("errors", []),
    }
    if trace:
        layers, self_t = per_layer(workload, ops, out, kind_of)
        full["per_layer"] = layers
        full["self_ms"] = self_t
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    line = {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return {"full": full, "line": line}


def _load_ok(sql, status, msg, rows):
    """A LOAD must report every row of its CSV loaded and no errors."""
    table = sql.split(" into ")[1].split()[0].split("{k}")[0]
    return status == "report" and msg == f"{rows[table]} 0"


def setup_checks(work, out, prep, workload):
    """Outcomes of the last set-up: DDL ok, every LOAD complete; for
    the suite, every query ran and its rows match its oracle."""
    if workload == "suite_analytics":
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracles = json.load(f)
        ran = [(n, st == "ok", st, "set-up") for n, st in out["setup_outcomes"]]
        return ran + suite.check(prep["data"], os.path.join(work, "results"),
                                 oracles)
    with open(os.path.join(work, "setup.sql")) as f:
        stmts = [l.strip() for l in f if l.strip()]
    checks = []
    for sql, (status, msg) in zip(stmts, out["setup_outcomes"]):
        ok = _load_ok(sql, status, msg, prep["rows"]) \
            if sql.startswith("load") else status == "ok"
        checks.append((sql, ok, status, msg))
    return checks


def wire_ops(work, out, prep):
    oracle = gen.Oracle(prep["data"])
    ops, checks = [], []
    for c, streamc in enumerate(prep["streams"]):
        oc, rows = read_ops(work, c)
        for o in oc:
            o["conn"] = c
            cls, kind, sql, key = streamc[o["idx"]]
            if kind == "q":
                ok = o["status"] == "rows" and same_rows(
                    rows.get(o["idx"], []), oracle.answer(key))
            else:
                ok = o["status"] == "ok"
            checks.append((sql, ok, o["status"], o["msg"]))
            if o["idx"] >= prep["warm"]:  # warm-up ops are checked only
                ops.append(o)
    return ops, checks


def ingest_ops(work, out, prep):
    expect_checks = gen.Oracle(prep["data"]).ingest_checks()
    ops, rows = read_ops(work, 0)
    checks = []
    for o in ops:
        kind, cls, sql = prep["cycle"][o["idx"] % 1000]
        if cls == "load":
            ok = _load_ok(sql, o["status"], o["msg"], prep["rows"])
        elif cls == "check":
            j = [c[1] for c in prep["cycle"]][:o["idx"] % 1000].count("check")
            ok = o["status"] == "rows" and same_rows(
                rows.get(o["idx"], []), expect_checks[j])
        else:
            ok = o["status"] == "ok"
        checks.append((sql, ok, o["status"], o["msg"]))
    return ops, checks


def suite_ops(work, out, prep):
    ops, _ = read_ops(work, 0)
    return ops, [(o["msg"], o["status"] == "ok", o["status"], "")
                 for o in ops]


def _summ(ops, cls):
    return stats.summary([o["ms"] for o in ops if o["cls"] == cls])


def workload_metrics(workload, ops, out, prep, per_kind):
    m = {"wall_s": out["timed_s"], "gc_ms": out["gc_ms"],
         "persisted_rdds_max": max([o.get("persisted", 0) for o in ops] or [0]),
         "persisted_rdds_end": out.get("persisted_rdds_end")}
    if workload == "wire_mixed":
        for cls in ("read", "edge_read", "write"):
            m[f"{cls}_ms"] = _summ(ops, cls)
        m["ops"] = len(ops)
    elif workload == "suite_analytics":
        # a family's wall: the sum of its queries' median walls
        for fam, names in suite.FAMILIES.items():
            m[f"{fam}_wall_s"] = sum(per_kind.get(n, 0.0)
                                     for n in names) / 1000
        m["passes"] = out.get("passes")
    else:
        loads = [o for o in ops if o["cls"] == "load"]
        rows = sum(int(o["msg"].split()[0]) for o in loads
                   if o["status"] == "report")
        m["load_rows_per_s"] = stats.ratio(
            rows, sum(o["ms"] for o in loads) / 1000)
        cycles = {}
        for o in ops:
            if o["cls"] == "rewrite":
                cycles[o["idx"] // 1000] = \
                    cycles.get(o["idx"] // 1000, 0) + o["ms"] / 1000
        m["rewrite_s"] = statistics.median(cycles.values()) if cycles else None
        m["copy_ms"] = _summ(ops, "copy")
        m["cycles"] = out.get("cycles")
        stored = timed_cycle_bytes(out.get("storage_after_run") or {})
        inp = sum(os.path.getsize(os.path.join(prep["data"], f"{t}.csv"))
                  for t in ("cust", "item", "buys"))
        m["stored_bytes_per_input_byte"] = stats.ratio(
            stored, inp * max(1, out.get("cycles", 1)))
    return m


def timed_cycle_bytes(snap):
    """Stored bytes of the tables the timed ingest cycles loaded:
    ``cust<k>``, ``item<k>`` and ``buys<k>`` with ``k >= 1`` (cycle 0 is
    the warm-up)."""
    total = 0
    for t, v in snap.items():
        m = re.fullmatch(r"(cust|item|buys)(\d+)", t)
        if m and int(m.group(2)) >= 1:
            total += v["bytes"]
    return total


def per_layer(workload, ops, out, kind_of):
    """Per-layer metrics from the traced run's spans and counters."""
    tr = out["trace"]
    fields = tr["counter_fields"]
    ctr = {c[0]: dict(zip(fields, c)) for c in tr["counters"]}
    timed = {_op_id(o) for o in ops}
    spans = [s for s in tr["spans"] if s[2] in timed]  # timed phase only
    by_name, by_op = {}, {}
    for s in spans:
        by_name.setdefault(s[3], []).append((s[5] - s[4]) / 1e6)
        by_op.setdefault(s[2], []).append(s)

    def med(name):
        v = by_name.get(name)
        return statistics.median(v) if v else 0.0

    def op_sum(op_spans, field):
        return sum(ctr.get(s[0], {}).get(field, 0) for s in op_spans)

    n_ops = max(1, len(by_op))
    m = {k: 0.0 for k in PER_LAYER}
    for k in ("sql.parse_ms", "engine.build_ms", "engine.open_cursor_ms",
              "engine.fetch_page_ms", "engine.write_ms", "engine.load_ms",
              "engine.rewrite_ms", "operators.build_ms"):
        m[k] = med(k[:-3])
    # Catalyst phases as Spark's planning tracker timed them (Runners.scala)
    values = {}
    for op, name, v in tr.get("values", []):
        if op in timed:
            values.setdefault(name, []).append(v)
    for name, v in values.items():
        m[f"{name}_ms"] = statistics.median(v)
    for k, f in COUNTER_METRICS.items():
        m[k] = sum(op_sum(v, f) for v in by_op.values()) / n_ops
    reads = [o for o in ops if o.get("pages", 0) > 0]
    if reads:
        m["engine.pages_per_read"] = statistics.mean(o["pages"] for o in reads)
    for k in ("engine.load", "operators.build"):
        ss = [s for s in spans if s[3] == k]
        if ss:
            m[f"{k}_jobs"] = statistics.mean(
                ctr.get(s[0], {}).get("jobs", 0) for s in ss)
    returned = sum(o["nrows"] for o in reads)
    m["scan.rows_read_per_row_returned"] = stats.ratio(
        sum(op_sum(v, "input_records") for v in by_op.values()), returned) or 0.0
    snap = out.get("storage_after_run") or {}
    for k, v in storage_totals(snap).items():
        m[f"storage.{k}"] = v
    m["spark.persisted_rdds_after"] = max(
        [o.get("persisted", 0) for o in ops] or [0])
    m["jvm.gc_ms"] = out["gc_ms"]
    # replay rows: key, untraced ns, wire ns, wire bytes, wire rows, ...
    replay = out.get("replay", [])
    wired = [r for r in replay if r[2] >= 0]
    if wired:
        m["wire.request_ms"] = statistics.median(r[2] / 1e6 for r in wired)
        m["wire.overhead_ms"] = statistics.median(
            (r[2] - r[1]) / 1e6 for r in wired)
        m["wire.bytes_per_row"] = stats.ratio(
            sum(r[3] for r in wired), sum(r[4] for r in wired)) or 0.0
    key_of = _op_id if workload == "wire_mixed" else kind_of
    traced = {}
    for o in ops:
        traced.setdefault(str(key_of(o)), []).append(o["ms"])
    m["trace.overhead_pct"] = stats.overhead_pct(
        traced, {str(r[0]): r[1] / 1e6 for r in replay})
    edge = [_op_id(o) for o in ops if o["cls"] == "edge_read"]
    if edge:
        es = [by_op.get(i, []) for i in edge]
        m["edge_read.op_ms"] = statistics.median(o["ms"] for o in ops
                                                 if o["cls"] == "edge_read")
        m["edge_read.listing_ms"] = statistics.mean(op_sum(v, "listing_ms") for v in es)
        m["edge_read.listing_jobs"] = statistics.mean(op_sum(v, "listing_jobs") for v in es)
        m["edge_read.spark_exec_ms"] = statistics.mean(op_sum(v, "job_ms") for v in es)
        m["edge_read.scan_files_read"] = statistics.mean(op_sum(v, "files_read") for v in es)
    self_t = {k: {"total_ms": t / 1e6, "self_ms": s_ / 1e6}
              for k, (t, s_) in sorted(stats.self_times(spans).items())}
    return m, self_t


def _op_id(o):
    """The op id the harness gave the op's spans (see Workloads.scala)."""
    return o.get("conn", 0) * 1_000_000 + o["idx"] if "conn" in o else o["idx"]

