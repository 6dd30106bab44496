#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload wire_mixed --seed 1 --seconds 18 --trace 0

Run from the repository root. Builds the engine and the harness from
source (sbt, first run only), generates the seeded inputs, runs the
harness JVM, checks every answer and prints a report. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). See README.md for what is measured.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import report   # noqa: E402
import suite    # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wire_mixed", "ingest_bulk", "suite_analytics")
JVM_HEAP = "4g"
RUN_LIMIT_S = 170  # a run ends within 180 s, not counting a first build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src"), os.path.join(ROOT, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if not f.endswith((".scala", ".java", ".sbt", ".properties")):
                    continue
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """sbt-compiles engine + harness once per source state; returns the
    harness runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/; run from a "
             "full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def prepare(workload, seed, seconds, work):
    """Writes the seeded inputs for ``workload`` into ``work``; returns
    what the answer check needs."""
    if workload == "suite_analytics":
        return prepare_suite(seed, work)
    data = os.path.join(work, "data")
    tabs = gen.tables(seed)
    gen.write_csvs(tabs, data)
    if workload == "wire_mixed":
        conns, warm = 4, gen.WARM_OPS
        write_lines(work, "params", [f"conns {conns}", f"warm {warm}"])
        write_lines(work, "setup.sql", gen.setup_sql(data))
        streams = []
        for c in range(conns):
            ops = gen.stream(seed, c, warm + max(500, 60 * seconds))
            streams.append(ops)
            write_lines(work, f"stream_{c}.tsv",
                        ["\t".join(o[:3]) for o in ops])
        return {"streams": streams, "data": data, "warm": warm,
                "rows": {t: len(df) for t, df in tabs.items()}}
    write_lines(work, "setup.sql", gen.ingest_setup_sql(data))
    cycle = gen.ingest_cycle(data)
    write_lines(work, "cycle.sql", ["\t".join(c) for c in cycle])
    return {"cycle": cycle, "data": data,
            "rows": {t: len(df) for t, df in tabs.items()}}


SUITE_ORDERS = 20   # seeded pass orders; pass p uses line p mod 20


def prepare_suite(seed, work):
    """Three identical copies of the seeded tables (one per set-up),
    the query list and the seeded order of each timed pass."""
    data = os.path.join(work, "data_0")
    suite.write_parquet(suite.tables(seed), data)
    for r in (1, 2):
        shutil.copytree(data, os.path.join(work, f"data_{r}"))
    write_lines(work, "suite.tsv", [f"{suite.FAMILY_OF[q]}\t{q}"
                                    for q in suite.QUERIES])
    rng = random.Random(seed)
    write_lines(work, "suite_order.tsv",
                ["\t".join(rng.sample(suite.QUERIES, len(suite.QUERIES)))
                 for _ in range(SUITE_ORDERS)])
    return {"data": data}


def write_lines(work, name, lines):
    with open(os.path.join(work, name), "w") as f:
        for l in lines:
            f.write(l + "\n")


def cpu_steal_s():
    """Time the hypervisor ran others on this machine's CPUs (all CPUs,
    seconds since boot; 0 where /proc/stat has no steal column)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(cp, workload, work, seconds, trace, budget):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, work, str(seconds),
            "1" if trace else "0"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {budget:.0f} s (see {log})")
    if rc != 0 or not os.path.isfile(os.path.join(work, "out.json")):
        tail = open(log).read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")
    return json.load(open(os.path.join(work, "out.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_build = time.monotonic()
    cp = build()
    # the first run in a checkout may spend minutes building; the
    # 180 s limit counts from here
    t_start = time.monotonic()
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prep = prepare(a.workload, a.seed, a.seconds, work)
    t_prep = time.monotonic()
    os.sync()  # start the harness with no write-back pending
    steal0 = cpu_steal_s()
    budget = max(30.0, RUN_LIMIT_S - (time.monotonic() - t_start))
    out = run_jvm(cp, a.workload, work, a.seconds, bool(a.trace), budget)
    t_jvm = time.monotonic()
    out["env"]["cpu_steal_s"] = cpu_steal_s() - steal0
    out["env"]["seed"] = a.seed
    res = report.build(a.workload, a.seed, a.trace, work, out, prep)
    res["full"]["run_phases_s"] = {
        "build": t_start - t_build, "inputs": t_prep - t_start,
        "harness": t_jvm - t_prep,
        "check_and_report": time.monotonic() - t_jvm}
    shutil.rmtree(work, ignore_errors=True)
    os.sync()
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out",
                           f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(res["full"], f, indent=1, sort_keys=True)
    print(json.dumps(res["full"], sort_keys=True))
    print(json.dumps(res["line"]))
    if not res["line"]["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
