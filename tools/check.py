#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, registers the sfDir parquet tables
as DuckDB views, runs each oracle, loads the corresponding Spark result
parquet, sorts columns by name and rows by all columns, and compares
values exactly (the driver hash-compares, so exact equality is the bar).
"""
import sys, json, glob, math, time
import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)

def cell_eq(a, b):
    """Driver-faithful equality: the driver hash-compares stringified
    values, so int 5 vs float 5.0 (HUGEINT->float64 drift), and
    -0.0 vs 0.0, must FAIL here even though == passes."""
    if a is None and b is None:
        return True
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
        if a is None or b is None or len(a) != len(b):
            return False
        return all(cell_eq(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    # Parquet cells arrive as numpy scalars (np.int64 is NOT a python
    # int), so the drift guard must cover numpy kinds too — a HUGEINT
    # oracle column (pandas float64/object) vs an int64 Spark column
    # must FAIL here exactly like the driver's stringified hash would.
    a_f = isinstance(a, (float, np.floating))
    b_f = isinstance(b, (float, np.floating))
    a_num = a_f or isinstance(a, (int, np.integer))
    b_num = b_f or isinstance(b, (int, np.integer))
    if a_f != b_f and a_num and b_num:
        return False  # int-vs-float dtype drift: driver hash would differ
    if a_f and b_f:
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    return a == b

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # graft.Verify records each query that threw; older dumps lack it
    try:
        failures = json.load(open(f"{out_dir}/failures.json"))
    except FileNotFoundError:
        failures = {}
    n_ok = n_bad = 0
    t_suite = time.time()
    slow = []
    for name, sql in sorted(oracle.items()):
        t_q = time.time()
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            if name in failures:
                print(f"FAIL {name}: spark error: {failures[name]}")
            else:
                print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            exp = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        if len(got):
            got = got.sort_values(by=list(got.columns), ignore_index=True)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_bad += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_bad += 1
            continue
        bad = None
        # Vectorized fast path: dtype-respecting frame equality covers
        # ~every passing query without the 90k-iloc python loop (which
        # made large-output queries read as "SLOW oracle" when all the
        # time was the compare). The per-cell loop (which alone knows
        # cell_eq's -0.0 / int-vs-float / nested-list semantics) runs
        # only when the frames are not trivially identical.
        # Stringified equality is driver-faithful (the driver hashes
        # stringified values) and strictly sufficient for a pass:
        # "5" vs "5.0" (dtype drift) and "-0.0" vs "0.0" both differ
        # as strings and fall through to the exact per-cell verdict.
        # Array-valued cells stringify differently per source (list vs
        # ndarray) and simply take the slow path as before.
        # The fast path additionally requires dtype-kind agreement per
        # column: stringified equality alone could mask an int-vs-float
        # drift that pandas happens to stringify identically (object
        # columns holding python ints vs np.int64, etc.). Kind mismatch
        # → slow path, where cell_eq gives the exact verdict.
        trivially_equal = False
        try:
            kinds_agree = all(
                exp.dtypes[c].kind == got.dtypes[c].kind for c in exp.columns)
            trivially_equal = (
                kinds_agree and exp.astype(str).equals(got.astype(str)))
        except Exception:
            pass
        if not trivially_equal:
            for i in range(len(exp)):
                for c in exp.columns:
                    a, b = exp.iloc[i][c], got.iloc[i][c]
                    if not cell_eq(a, b):
                        bad = (i, c, a, b)
                        break
                if bad:
                    break
        if bad:
            i, c, a, b = bad
            print(f"FAIL {name}: row {i} col {c}: oracle={a!r} spark={b!r}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(exp)} rows, {time.time() - t_q:.1f}s)")
            n_ok += 1
        if time.time() - t_q > 10:
            slow.append((name, time.time() - t_q))
    suite_s = time.time() - t_suite
    print(f"== {n_ok} ok, {n_bad} fail, {suite_s:.0f}s total")
    for name, dt in slow:
        print(f"SLOW oracle {name}: {dt:.0f}s — check for re-inlined CTEs (use AS MATERIALIZED)")
    # Runtime guard: an exponential oracle (the round-5 graph_pagerank
    # incident: a recursive CTE re-inlined per iteration) can eat the
    # whole verification round while every query still "passes". The
    # full suite runs ~60-80 s on 4 cpus at sf0.01; 300 s means some
    # oracle regressed complexity-wise, and that's a FAILURE even at
    # 0 mismatches. Override (e.g. bigger SF dirs) via ORACLE_BUDGET_S.
    budget_s = float(__import__("os").environ.get("ORACLE_BUDGET_S", "300"))
    if suite_s > budget_s and n_bad == 0:
        print(f"FAIL suite runtime {suite_s:.0f}s > {budget_s:.0f}s budget "
              f"— an oracle has likely regressed to super-linear; see SLOW lines")
        sys.exit(1)
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
