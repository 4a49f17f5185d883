#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion|corpus_heavy \
        --seed N --seconds S --trace 0|1

Steps: build the engine and the harness with sbt (skipped when the
sources are unchanged since the last build), generate the seeded inputs,
run the harness JVM (perfbench.Main) on local[nproc] with a heap sized
from MemTotal, check every output (corpus_heavy: each query against its
DuckDB oracle SQL, with the comparison of tools/check_oracle.py), and
print one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(plus the span file and the measured tracing overhead). Everything the
run builds or writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("medallion", "corpus_heavy")
# corpus_heavy's tables: fixed, so every run measures the same artifacts
CORPUS_SF = 0.001
CORPUS_SEED = 42
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(*args):
    print("[perfbench]", *args, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found next to perfbench/")
    os.makedirs(OUT, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l]
    if p.returncode != 0 or not lines:
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def corpus_tables():
    """The corpus_heavy tables, generated once per checkout."""
    sys.path.insert(0, HERE)
    import tables
    with open(os.path.join(HERE, "tables.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"sf{CORPUS_SF}_seed{CORPUS_SEED}_{version}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        tables.generate(d, CORPUS_SF, CORPUS_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d


def heap_gb():
    """The Tier-1 sizing: MemTotal / 2 GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cpu_times():
    """Aggregate /proc/stat CPU jiffies: (steal, total)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, args, work, data, deadline):
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--cores", str(cores)])
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, GRAFT_LAYOUT_ROOT=os.path.join(work, "catalog"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: harness run timed out")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_rows(con, sql, data):
    """(sorted column names, canonical rows) of one oracle query. The
    corpus is fixed per checkout, so the answer is cached on disk: the
    seven answers take about 6 s to compute and 0.03 s to read back."""
    from check_oracle import canon
    key = hashlib.sha256((data + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(OUT, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = canon(rel.project(", ".join(f'"{c}"' for c in cols)).fetchall(), cols)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([cols, rows], f)
    return cols, rows


def check_corpus(result, data):
    """DuckDB oracle check of every query's warm-up result (the comparison
    of tools/check_oracle.py), plus the row count of every timed
    execution. Returns (failed timed operations, oracle queries)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check_oracle import canon
    checks = result["checks"]
    res_dir = checks["results_dir"]
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad, rows = [], {}
    for q in sorted(checks["timed_counts"]):
        q_dir = os.path.join(res_dir, q)
        if not glob.glob(os.path.join(q_dir, "*.parquet")):
            bad.append(f"{q}: no warm-up result")
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{q_dir}/*.parquet')")
        scols = sorted(spark_rel.columns)
        srows = canon(spark_rel.project(", ".join(f'"{c}"' for c in scols)).fetchall(), scols)
        rows[q] = len(srows)
        if q not in oracle:
            continue
        try:
            dcols, drows = oracle_rows(con, oracle[q], data)
        except Exception as e:
            bad.append(f"{q}: oracle error {str(e).splitlines()[0][:200]}")
            continue
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            bad.append(f"{q}: columns {scols} vs {dcols}")
        elif srows != drows:
            bad.append(f"{q}: {len(srows)} rows differ from {len(drows)} oracle rows")
    failed_q = {b.split(":")[0] for b in bad}
    failed = 0
    for q, counts in checks["timed_counts"].items():
        failed += sum(1 for c in counts if q in failed_q or c != rows.get(q))
    for b in bad:
        log("oracle mismatch:", b)
    return failed, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S - 10
    work = os.path.join(OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = corpus_tables() if args.workload == "corpus_heavy" else work
    steal0, total0 = cpu_times()
    result = run_jvm(cp, args, work, data, deadline)
    steal1, total1 = cpu_times()
    # hypervisor steal over the harness run, beside the JVM's canaries
    result["canary"]["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    failed = result["failed"]
    report = dict(result["report"])
    if args.workload == "corpus_heavy":
        oracle_failed, n_oracle = check_corpus(result, data)
        failed += oracle_failed
        report["oracle_queries"] = n_oracle
        # graft.Ingest's own per-group wall times, from the run's log
        with open(os.path.join(work, "jvm.log")) as f:
            report["ingest_group_s"] = {
                m.group(1): float(m.group(2)) for m in
                re.finditer(r"^\[ingest\] (\w+): ([0-9.]+) s$", f.read(), re.M)}
    for p in result["checks"].get("problems", []):
        log("problem:", p)
    attempted = result["attempted"]
    report["failed_frac"] = failed / attempted
    print(json.dumps({"report": report, "canary": result["canary"],
                      "record": os.path.relpath(work, ROOT),
                      "wall_s": round(time.time() - t0, 3)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
