"""Spark local[32] vs single-node DuckDB at ~sf1 (the 10x replica).

COMPARE.md's sf0.1 table shows DuckDB winning most sub-second queries on
fixed overhead. The claim that matters for this repo is the asymptotic one:
as data grows, the Spark plans hold and the single-node engine falls off.
This tool runs EVERY oracle-matched query (all entries with SQL; pass
names to restrict) at the `tools/scaling_exponents.py` replica scale
(~6M lineitem / 50k docs) with a per-query DuckDB wall cap (interrupt from
a watchdog thread), prints the markdown section, and rewrites the block
between the `at-scale:begin/end` markers in COMPARE.md in place (the
hand-written reading notes below the end marker are preserved).

Usage: python tools/compare_at_scale.py [scaled_dir] [cap_seconds] [name ...]
"""

from __future__ import annotations

import os
import sys
import threading
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_args = sys.argv[1:]
SCALED = _args.pop(0) if _args and "/" in _args[0] else "/tmp/scaled_sf1_x10"
CAP = float(_args.pop(0)) if _args and _args[0].replace(".", "").isdigit() \
    else 120.0
ONLY = list(_args)
COMPARE_MD = os.path.join(ROOT, "COMPARE.md")
BEGIN, END = "<!-- at-scale:begin -->", "<!-- at-scale:end -->"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def run_duck_capped(con, sql: str, cap: float):
    """Seconds; None if the watchdog interrupted at the cap; an error
    string if DuckDB rejected the query at this scale (e.g. 32-bit range
    limits the replica keys exceed) — one bad oracle must not kill a
    40-minute sweep."""
    done = threading.Event()

    def watchdog():
        if not done.wait(cap):
            con.interrupt()

    t = threading.Thread(target=watchdog, daemon=True)
    t0 = time.time()
    t.start()
    try:
        con.execute(sql).fetchall()
        return time.time() - t0
    except duckdb.InterruptException:
        return None
    except duckdb.Error as exc:
        return f"ERR {type(exc).__name__}"
    finally:
        done.set()


def main() -> None:
    from data_integration_celery_spark.queries import QUERIES
    from data_integration_celery_spark.session import get_spark

    spark = get_spark("compare-scale")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SCALED}/{t}.parquet')")
    QUERIES["s1_filtered_scan"].spark(spark, SCALED).count()  # warm JVM

    unknown = [n for n in ONLY if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown} — a typo'd name or a "
                 f"relative dir (dirs must contain '/') would otherwise "
                 f"silently run an empty sweep")
    subset = [n for n, q in QUERIES.items()
              if q.sql is not None and (not ONLY or n in ONLY)]
    rows = []
    for name in subset:
        q = QUERIES[name]
        t_spark = float("inf")  # min of 2: long sessions accumulate GC/
        for _ in range(2):      # memory pressure that single shots inherit
            t0 = time.time()
            q.spark(spark, SCALED).write.format("noop") \
                .mode("overwrite").save()
            t_spark = min(t_spark, time.time() - t0)
        t_duck = run_duck_capped(con, q.sql, CAP)
        rows.append((name, t_spark, t_duck))
        duck = (f"{t_duck:.2f}" if isinstance(t_duck, float)
                else f">{CAP:.0f} (killed)" if t_duck is None else t_duck)
        print(f"{name}: spark {t_spark:.2f}s duckdb {duck}s",
              file=sys.stderr)

    lines = [f"## At ~sf1 (10x replica, {SCALED}) — Spark local[32] vs "
             f"single-node DuckDB, {CAP:.0f}s cap, all "
             f"{len(rows)} exact oracles", "",
             "| query | spark s | duckdb s | spark/duckdb |",
             "|---|---|---|---|"]
    n_spark_wins, n_killed, n_err = 0, 0, 0
    for name, ts, td in rows:
        if td is None:
            lines.append(f"| {name} | {ts:.2f} | >{CAP:.0f} (killed) | <"
                         f"{ts / CAP:.2f}x |")
            n_spark_wins += 1
            n_killed += 1
        elif isinstance(td, str):
            # DuckDB rejected the query at this scale (e.g. 32-bit range
            # limits): excluded from totals and the win count — an instant
            # error must not contribute CAP seconds to the DuckDB bound
            lines.append(f"| {name} | {ts:.2f} | {td} | n/a |")
            n_err += 1
        else:
            lines.append(f"| {name} | {ts:.2f} | {td:.2f} | {ts / td:.2f}x |")
            n_spark_wins += ts < td
    scored = [(ts, td) for _, ts, td in rows if not isinstance(td, str)]
    total_s = sum(ts for ts, _ in scored)
    total_d = sum(td if isinstance(td, float) else CAP for _, td in scored)
    lines.append("")
    lines.append(f"Spark suite {total_s:.1f}s vs DuckDB >= {total_d:.1f}s "
                 f"(capped, {n_killed} kills"
                 + (f", {n_err} DuckDB errors excluded" if n_err else "")
                 + f"); Spark faster on {n_spark_wins}/{len(scored)}.")
    section = "\n".join(lines)
    print("\n" + section)
    if ONLY:
        print("(subset run: COMPARE.md NOT patched)", file=sys.stderr)
    else:
        _patch_compare_md(section)


def _patch_compare_md(section: str) -> None:
    """Rewrite the at-scale block in COMPARE.md between the markers,
    preserving everything around them (notably the hand-written reading
    notes after the end marker)."""
    if not os.path.exists(COMPARE_MD):
        return
    with open(COMPARE_MD) as fh:
        text = fh.read()
    block = f"{BEGIN}\n{section}\n{END}"
    if BEGIN in text and END in text:
        head, rest = text.split(BEGIN, 1)
        _, tail = rest.split(END, 1)
        text = head + block + tail
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(COMPARE_MD, "w") as fh:
        fh.write(text)
    print(f"\n(patched {COMPARE_MD})", file=sys.stderr)


if __name__ == "__main__":
    main()
