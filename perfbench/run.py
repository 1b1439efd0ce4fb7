#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: one measured run of one workload.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and
this harness with sbt (perfbench/build.sbt depends on the root
project) and generates the query data, kept under perfbench/.cache.
Later runs build again only when a build input or the checkout's
location changed. The last line of standard output is one JSON
object: correct, attempted, failed and the metrics of the run
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
A traced run also writes its spans to perfbench/.cache/run/.

    python3 perfbench/run.py --workload cdc_tail --repeat 10 --seed 1

repeats a workload with seeds 1..10 and prints, for each end-to-end
metric, the median and the spread between the quartiles as a share of
the median, against the metric's bound in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

# The declared queries of the traced sweep: the heaviest query of each
# operator module (as timed on the query data below) plus
# sample_priority, a light query where fixed per-query overhead
# dominates.
QUERIES = [
    "q_theil_sen", "cdc_wal2json_roundtrip", "dedup_ngram_jaccard", "emb_label_prop",
    "text_winnow_pairs", "mm_curate", "dedup_cluster", "text_rrf_fusion", "sample_priority",
]

# Query data: a fixture generated once per checkout from a fixed seed,
# so its oracle results are computed once; --seed orders the queries.
# Traced runs only.
DATA_SEED = 42
DATA_SCALE = 0.01

WORKLOADS = ("cdc_drain", "cdc_tail")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


# What the build reads: a change to any of these files rebuilds.
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
                "perfbench/src"]


def build_key():
    """Hash of the checkout's location and of every build input."""
    h = hashlib.sha256(ROOT.encode())
    for top in BUILD_INPUTS:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else []
        for d, dirs, fs in os.walk(path):
            # sbt's own outputs
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += sorted(os.path.join(d, f) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt, unless the build
    inputs are unchanged since the last build in this checkout; returns
    the classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no engine sources next to perfbench/ ({need} is missing)")
    key = build_key()
    cp_file = os.path.join(CACHE, "classpath.txt")
    if os.path.exists(cp_file):
        old = open(cp_file).read().split("\n")
        if len(old) > 1 and old[0] == key and all(os.path.exists(p)
                                                  for p in old[1].split(os.pathsep)):
            return old[1]
    log("building the engine and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(f"{key}\n{lines[-1]}\n")
    return lines[-1]


def data_dir():
    """Generates the query data fixture once per checkout."""
    sys.path.insert(0, HERE)
    import datagen
    d = os.path.join(CACHE, f"data-seed{DATA_SEED}-scale{DATA_SCALE}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, DATA_SCALE, DATA_SEED)
        open(os.path.join(d, "done"), "w").close()
    return d


def jvm_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap makes the peak resident set the whole
    # heap plus the JVM's native memory, so mem_mb can take the native
    # part as peak RSS less the heap, whatever the collector does.
    # A fixed set of JIT compiler threads lets the harness leave their
    # CPU time out of the per-change figure.
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def oracle_check(work, data):
    """Compares each query result with its DuckDB oracle, computed once
    per oracle text and cached; returns (checked, mismatches)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import TABLES, canon, cell_eq
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
    cache = os.path.join(CACHE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    checked = bad = 0
    for name in QUERIES:
        res_dir = os.path.join(work, "results", name)
        if not os.path.isdir(res_dir):
            continue  # failed in the run, counted there
        checked += 1
        sql = sqls.get(name)
        if sql is None:
            log(f"FAILED {name}: no oracle SQL")
            bad += 1
            continue
        key = hashlib.sha256(f"{data}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            exp = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            exp = canon(con.execute(sql).fetchdf())
            exp.to_pickle(path)
        files = sorted(f for f in os.listdir(res_dir) if f.endswith(".parquet"))
        got = canon(pd.concat([pd.read_parquet(os.path.join(res_dir, f)) for f in files],
                              ignore_index=True))
        why = None
        if list(exp.columns) != list(got.columns):
            why = f"columns {list(exp.columns)} != {list(got.columns)}"
        elif len(exp) != len(got):
            why = f"rows {len(exp)} != {len(got)}"
        else:
            same = False
            try:
                same = all(exp.dtypes[c].kind == got.dtypes[c].kind for c in exp.columns) \
                    and exp.astype(str).equals(got.astype(str))
            except Exception:
                pass
            if not same:
                for i in range(len(exp)):
                    c = next((c for c in exp.columns
                              if not cell_eq(exp.iloc[i][c], got.iloc[i][c])), None)
                    if c is not None:
                        why = f"row {i} col {c}: oracle={exp.iloc[i][c]!r} spark={got.iloc[i][c]!r}"
                        break
        if why:
            log(f"FAILED {name}: oracle mismatch, {why}")
            bad += 1
    return checked, bad


def run_once(workload, seed, seconds, trace):
    cp = build()
    work = os.path.join(CACHE, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work]
    if trace:
        data = data_dir()
        args += ["--data", data, "--queries", ",".join(QUERIES)]
    # few malloc arenas: the many JVM threads otherwise scatter native
    # allocations over arenas whose count varies from run to run
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               MALLOC_ARENA_MAX="2")
    p = subprocess.run(jvm_cmd(cp, args), cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    out = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not out:
        sys.exit(f"perfbench: {workload} run failed (exit {p.returncode})")
    res = json.loads(out[-1])
    if trace:
        checked, bad = oracle_check(work, data)
        res["attempted"] += checked
        res["failed"] += bad
        res["correct"] = res["failed"] == 0
    log(f"{workload}: failed_share={res['failed'] / res['attempted']:.4f} "
        f"({res['failed']} of {res['attempted']} checks)")
    return res


def repeat(a):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    vals = {}
    for i in range(a.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
               "--seed", str(a.seed + i), "--seconds", str(a.seconds or bench["run_seconds"]),
               "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        if res is None:
            sys.exit(f"perfbench: run {i} failed")
        print(f"run {i} seed {a.seed + i} ({time.time() - t0:.0f} s): correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    ok = True
    for k, xs in vals.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(k)
        flag = "" if bound is None else ("ok" if spread <= bound / 3 else
                                         "WITHIN BOUND" if spread <= bound else "OVER BOUND")
        if flag == "OVER BOUND":
            ok = False
        print(f"{k:16s} median {med:12.4f}  iqr/median {spread:.4f}  bound {bound}  {flag}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--repeat", type=int, default=0)
    a = ap.parse_args()
    if a.repeat:
        sys.exit(repeat(a))
    res = run_once(a.workload, a.seed, a.seconds or 15, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
