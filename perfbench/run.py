#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload {mailbox,sql,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Inputs go to
`.bench_build/run/data`: for sql and pipeline a copy of the sf0.01 test
fixture (`testdata/sf0.01`, the seed-42 tables of TESTDATA.md); for mailbox
a corpus the harness JVM generates from the seed.

The harness runs the workload as a closed loop with one client on
local[nproc]: one untimed warm pass, then timed passes for `--seconds`.
This script checks the warm-pass results against DuckDB oracles, checks
that the harness found every timed result equal to the warm pass, and
prints the metrics. The last line of stdout is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The exit code is non-zero when any operation failed or was wrong.
"""
import argparse
import hashlib
import importlib.util
import itertools
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "run"

WORKLOADS = ("mailbox", "sql", "pipeline")
FIXTURE = HERE / "testdata" / "sf0.01"   # copy of the repository's test fixture
INPUT_BUILDS = 3          # set-up repetitions; setup_s uses their median
DRIVER_HEAP = "3g"
RUN_LIMIT_S = 175         # whole run, build excluded
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The PST fixture's goldens (FIXTURES.md §1): its message classes and
# folder container classes. DuckDB cannot read PST, so the mailbox
# oracles add these to what it reads from the generated NDJSON boxes.
PST_CLASSES = {"IPM.Note": 5, "IPM.Contact": 2, "IPM.DistList": 1,
               "IPM.Appointment": 1, "IPM.StickyNote": 2, "IPM.Task": 1}
PST_CONTAINERS = {"IPF.Task": 1, "IPF.StickyNote": 1,
                  "IPF.Note.OutlookHomepage": 1, "IPF.Note": 1,
                  "IPF.Journal": 1, "IPF.Contact": 1, "IPF.Appointment": 1,
                  "IPF.Configuration": 2, None: 7}
PST_CONTACTS = [("Hopper", "Cat"), ("Linus", "Cat")]
CTE = re.compile(r"(\b\w+\s+AS)\s+\(")
NON_NOTE = "'IPM.Contact','IPM.Appointment','IPM.DistList','IPM.StickyNote','IPM.Task'"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_check():
    """The repository's DuckDB result comparison (tools/check.py)."""
    path = ROOT / "tools" / "check.py"
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.unlink(missing_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD_DIR=str(BUILD), COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                   "-Dsbt.offline=true -Xmx2g")
    with open(BUILD / "build.log", "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {BUILD / 'build.log'}")
    if rc != 0 or not cp_file.exists():
        fail(f"build failed; see {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)
    return cp_file.read_text()


# --------------------------------------------------------------- oracles

def mailbox_oracles(con, corpus):
    """Oracle SQL per mailbox query, over the generated boxes loaded once."""
    con.execute(f"""CREATE TABLE boxes AS SELECT * FROM read_json_auto(
        '{corpus}/*.mbx', format='newline_delimited', filename=true,
        maximum_object_size=33554432)""")
    msgs = "(SELECT * FROM boxes WHERE record_type = 'message')"
    indexed = ", ".join(f"'{p}'" for p in sorted(Path(corpus).glob("*.mbx"))
                        if Path(f"{p}.idx").exists())

    def values(rows):
        return "VALUES " + ", ".join(
            "(" + ", ".join("NULL" if v is None else
                            (f"'{v}'" if isinstance(v, str) else str(v)) for v in r) + ")"
            for r in rows)

    return {
        "mb_count": f"SELECT CAST(count(*) + {sum(PST_CLASSES.values())} AS BIGINT) AS cnt "
                    f"FROM {msgs}",
        "mb_class_hist": f"""
            SELECT message_class, count(*) AS c FROM {msgs}
            WHERE filename IN ({indexed}) GROUP BY 1 ORDER BY c DESC, message_class ASC""",
        "mb_full_scan": f"""
            SELECT node_id, parent_node_id, message_class, subject, message_size,
                   conversation_topic, internet_message_id, attachment_count
            FROM {msgs}""",
        "mb_topic_agg": f"""
            SELECT conversation_topic, count(*) AS n,
                   CAST(sum(message_size) AS BIGINT) AS total_size
            FROM {msgs} GROUP BY 1 ORDER BY 1""",
        "mb_notes": f"""
            SELECT node_id, subject, sender_name FROM {msgs}
            WHERE message_class IS NULL OR message_class NOT IN ({NON_NOTE})
            ORDER BY node_id, subject""",
        "mb_contacts": f"""
            SELECT given_name, surname FROM (
              SELECT given_name, surname FROM {msgs} WHERE message_class = 'IPM.Contact'
              UNION ALL SELECT * FROM ({values(PST_CONTACTS)}) g(given_name, surname))
            ORDER BY given_name, surname""",
        "mb_read_limit": "SELECT CAST(1000 AS BIGINT) AS cnt",
        "mb_class_eq": f"""
            SELECT node_id, subject, message_size FROM {msgs}
            WHERE message_class = 'IPM.Task' ORDER BY node_id, subject""",
        "mb_latemat": f"""
            SELECT node_id, subject, message_size FROM {msgs}
            WHERE filename LIKE '%/box00.mbx' AND subject LIKE 'Synthetic message 1%'
            ORDER BY subject LIMIT 20""",
        "mb_export": f"""
            SELECT node_id, message_class, subject, conversation_topic, message_size
            FROM {msgs} WHERE filename IN ({indexed})""",
        "mb_folder_walk": f"""
            WITH RECURSIVE f AS (
              SELECT node_id, parent_node_id FROM boxes
              WHERE record_type = 'folder' AND filename LIKE '%/box00.mbx'
            ), walk AS (
              SELECT node_id, 0 AS depth FROM f WHERE node_id = parent_node_id
              UNION ALL
              SELECT f.node_id, w.depth + 1 FROM f JOIN walk w ON f.parent_node_id = w.node_id
              WHERE f.node_id <> f.parent_node_id)
            SELECT node_id, depth FROM walk ORDER BY node_id""",
        "mb_folders": f"""
            SELECT container_class, CAST(sum(n) AS BIGINT) AS n FROM (
              SELECT container_class, count(*) AS n FROM boxes
              WHERE record_type = 'folder' GROUP BY 1
              UNION ALL SELECT * FROM ({values(PST_CONTAINERS.items())}) g(container_class, n))
            GROUP BY 1 ORDER BY 1 NULLS FIRST""",
    }


def run_oracle(con, sql):
    """Runs oracle SQL with its CTEs materialized. DuckDB otherwise inlines
    a CTE at every reference, which makes chained CTEs exponential (the
    q_kcore oracle takes ~40 s inlined, 0.04 s materialized). The result is
    the same; SQL the rewrite does not parse runs as written.
    """
    try:
        return con.sql(CTE.sub(r"\1 MATERIALIZED (", sql)).df()
    except duckdb.ParserException:
        return con.sql(sql).df()


def frames_identical(a, b):
    """Fast path of the comparison for large results: true when the frames
    have equal columns, dtypes and rows, in order or as a multiset. Any
    other outcome goes to tools/check.py, which decides and explains.
    """
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        if a.reset_index(drop=True).equals(b.reset_index(drop=True)):
            return True
        cols = list(a.columns)
        return a.sort_values(cols, kind="mergesort").reset_index(drop=True).equals(
            b.sort_values(cols, kind="mergesort").reset_index(drop=True))
    except (TypeError, ValueError):
        return False


# columns of the full scan that the oracle compares
FULL_SCAN_COLUMNS = ["node_id", "parent_node_id", "message_class", "subject",
                     "message_size", "conversation_topic", "internet_message_id",
                     "attachment_count"]


def check_results(workload, result):
    """Compares every warm-pass result with its oracle; returns {name: error}."""
    check = load_check()
    con = duckdb.connect()
    data = WORK / "data"
    if workload == "mailbox":
        oracles = mailbox_oracles(con, data)
    else:
        for f in sorted(data.glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
        oracles = result["oracles"]
    errors = {}
    for w in result["warm"]:
        name = w["name"]
        if w["error"]:
            errors[name] = f"warm pass failed: {w['error']}"
            continue
        out = WORK / "warm" / name
        if not out.exists():
            continue  # an ingest: its timed digests are checked by the harness
        try:
            cols = FULL_SCAN_COLUMNS if name == "mb_full_scan" else None
            spark_df = pd.concat([pd.read_parquet(f, columns=cols)
                                  for f in sorted(out.glob("*.parquet"))], ignore_index=True)
            spark_df = check.canon(spark_df)
            duck_df = check.canon(run_oracle(con, oracles[name]))
        except Exception as e:  # noqa: BLE001 — any failure is a wrong result
            errors[name] = f"oracle check error: {type(e).__name__}: {e}"
            continue
        if frames_identical(spark_df, duck_df):
            continue
        ok_uno, msg = check.frames_equal(spark_df, duck_df, ordered=False)
        ok = ok_uno or ("DRIVER-SORT-INCOMPATIBLE" not in msg and
                        check.frames_equal(spark_df, duck_df, ordered=True)[0])
        if not ok:
            errors[name] = msg
    return errors


# --------------------------------------------------------------- metrics

def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. A run's
    latencies form one band per query, and a plain quantile jumps from band
    to band between runs; this estimate moves smoothly, which makes the
    run-to-run spread of p50 and p90 smaller.
    """
    xs, n = sorted(xs), len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 100  # integration steps per order statistic
    grid = [k / (steps * n) for k in range(1, steps * n)]
    dens = [0.0] + [math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
                    for t in grid] + [0.0]
    cdf = list(itertools.accumulate((u + v) / 2 for u, v in zip(dens, dens[1:])))
    cdf.insert(0, 0.0)
    w = [cdf[i * steps] - cdf[(i - 1) * steps] for i in range(1, n + 1)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources under {ROOT}; run from a checkout of the repository")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    # a terminated run still stops the build or harness JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    t_start = time.time()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("data", "tmp"):
        (WORK / d).mkdir(parents=True)
    input_builds = []
    if a.workload != "mailbox":
        for _ in range(INPUT_BUILDS):
            t0 = time.perf_counter()
            for f in sorted(FIXTURE.glob("*.parquet")):
                shutil.copyfile(f, WORK / "data" / f.name)
            input_builds.append(time.perf_counter() - t0)

    out = WORK / "result.json"
    spans = BUILD / "trace" / f"{a.workload}-seed{a.seed}.spans.jsonl"
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(WORK), "--data", str(WORK / "data"), "--repo", str(ROOT),
              "--out", str(out), "--spans", str(spans),
              "--input-builds", ",".join(f"{x:.6f}" for x in input_builds)])
    log_path = BUILD / f"{a.workload}.log"
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(budget, 60)).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {log_path}")
    if rc != 0 or not out.exists():
        fail(f"harness exited with {rc}; see {log_path}")
    result = json.loads(out.read_text())

    t_oracle = time.time()
    oracle_errors = check_results(a.workload, result)
    print(f"perfbench: harness {t_oracle - t_start:.1f} s, oracle check "
          f"{time.time() - t_oracle:.1f} s", file=sys.stderr)
    runs = result["runs"]
    failed = sum(1 for r in runs if not r["ok"] or r["name"] in oracle_errors)
    attempted = len(runs)
    for name, err in sorted(oracle_errors.items()):
        print(f"WRONG {name}: {err}")
    for r in runs:
        if not r["ok"]:
            print(f"FAILED {r['name']} pass {r['pass']}: {r['error']}")

    print("box:", json.dumps(result["box"], sort_keys=True))
    if a.trace:
        values = result["layers"]
        names = bench["per_layer"]
        print(f"spans: {spans}")
    else:
        lat = [r["latency_s"] for r in runs if r["ok"]]
        if not lat:
            fail("no timed operation completed")
        values = {
            "setup_s": result["setup"]["setup_s"],
            "latency_p50_s": quantile(lat, 0.5),
            "latency_p90_s": quantile(lat, 0.9),
            "queries_per_s": len(lat) / result["timed_wall_s"],
            "live_heap_mb": result["live_heap_mb"],
        }
        names = bench["end_to_end"]
        print(f"latencies: {len(lat)} over {max(r['pass'] for r in runs)} passes")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {failed / attempted:.6g} ratio")
    correct = failed == 0 and not oracle_errors
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
