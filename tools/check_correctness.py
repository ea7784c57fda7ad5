"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, then compares row count, sorted column names, and an order-insensitive
value hash. Stricter than any reasonable driver (exact string canonicalisation
of floats via repr) — if this passes, the gate should.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py --stale N

``--stale N`` is the evidence-freshness report that drives window
rotation (NOTES.md policy: every banked green must re-earn a driver
green every ~3 rounds). It scans CORRECTNESS_r*.json for each oracle
query's last driver green and lists everything N or more rounds stale
(or never checked), ordered stalest-first, annotated with whether the
query currently holds a top-50 (driver-checked) slot.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
ONLY = [a for a in sys.argv[1:] if "/" not in a and not a.startswith("--")
        and not a.isdigit()]

WINDOW = 50  # the driver checks this many registry-prefix queries


def stale_names(n_rounds: int) -> list[tuple[int, str, int | None]]:
    """Oracle queries whose last driver green is >= n_rounds old (or never
    green), as (age, name, last_green_round) stalest-first. This is the
    mechanical input to window rotation; test_registry_priority_order
    consumes it so a forgotten rotation fails the suite."""
    import glob
    import json
    import re

    import __spark_entry__ as entrymod

    oracles = set(entrymod.oracle_sql())
    registry = list(entrymod.queries())

    last_green: dict[str, int] = {}
    rounds: list[int] = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", path).group(1))
        rounds.append(rnd)
        for name, res in json.load(open(path)).items():
            ok = (res.get("err") is None and res.get("rows_match")
                  and (name not in oracles or res.get("hash_match")))
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    if not rounds:
        # no driver history recorded yet (fresh checkout / round 0):
        # there is no evidence to be stale relative to
        return []
    latest = max(rounds)
    stale = []
    for name in registry:
        if name not in oracles:
            continue  # rows-only: never occupies a gated slot by policy
        lg = last_green.get(name)
        age = latest - lg if lg else None
        if lg is None or age >= n_rounds:
            stale.append((999 if age is None else age, name, lg))
    stale.sort(reverse=True)
    return stale


def stale_report(n_rounds: int) -> None:
    """Print the stale-evidence report that drives window rotation."""
    import __spark_entry__ as entrymod

    oracles = set(entrymod.oracle_sql())
    registry = list(entrymod.queries())
    in_window = set(registry[:WINDOW])
    stale = stale_names(n_rounds)
    print(f"# oracle queries with no driver green in the last {n_rounds} "
          f"round(s)")
    for age, name, lg in stale:
        slot = "IN-WINDOW" if name in in_window else "tail"
        when = (f"last green r{lg:02d} (age {age})" if lg
                else "NEVER checked")
        print(f"STALE {name}: {when} [{slot}]")
    print(f"\n{len(stale)} stale / "
          f"{len([n for n in registry if n in oracles])} oracle queries")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(repr(v))  # full precision: we target bit-exactness
            else:
                vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main():
    import __spark_entry__ as entrymod
    from data_integration_celery_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]
    failures, t_all = [], time.time()
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            d_cols = [d[0] for d in rel.description]
            d_rows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                problems.append(f"values differ, e.g. {diffs}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(names)-len(failures)}/{len(names)} pass in {time.time()-t_all:.0f}s"
          + (f"; FAILURES: {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    if "--stale" in sys.argv:
        idx = sys.argv.index("--stale")
        n = int(sys.argv[idx + 1]) if idx + 1 < len(sys.argv) else 3
        stale_report(n)
    else:
        main()
