"""Spark (local[32]) vs single-node DuckDB wall-clock per oracle-matched query.

The reference is a single-node pandas+MySQL system; DuckDB running the exact
same SQL on the same parquet is a strong stand-in for "well-implemented
single-node". Emits a markdown table (COMPARE.md) of per-query timings at the
given scale factor. Spark numbers are min-of-2 warmed runs (single shots
in a long suite inherit GC/memory-pressure noise); DuckDB runs once.

Usage: python tools/compare_throughput.py [sf_dir] > COMPARE.md
DuckDB runs are capped at 420s via a watchdog interrupt (w9's calendar
expansion alone ran 301s at sf0.1; newer recursive-CTE oracles can exceed
it) — capped rows report >420.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> None:
    from data_integration_celery_spark.queries import QUERIES
    from data_integration_celery_spark.session import get_spark

    spark = get_spark("compare")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    # warm up both engines
    QUERIES["a1_watermark_per_key"].spark(spark, SF_DIR).count()
    con.execute("SELECT count(*) FROM lineitem").fetchall()

    rows = []
    for name, q in QUERIES.items():
        if q.sql is None:
            continue
        t_spark = float("inf")  # min of 2: long suites accumulate GC noise
        for _ in range(2):
            t0 = time.time()
            q.spark(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            t_spark = min(t_spark, time.time() - t0)
        done = threading.Event()

        def watchdog():
            if not done.wait(420.0):
                con.interrupt()

        threading.Thread(target=watchdog, daemon=True).start()
        t0 = time.time()
        try:
            con.execute(q.sql).fetchall()
            t_duck = time.time() - t0
        except duckdb.InterruptException:
            t_duck = 420.0  # lower bound; rendered as >420
        finally:
            done.set()
        rows.append((name, t_spark, t_duck))
        print(f"{name}: {t_spark:.2f} / {t_duck:.2f}", file=sys.stderr)

    print(f"# Spark local[32] vs DuckDB single-node — {SF_DIR}\n")
    print("| query | spark s | duckdb s | spark/duckdb |")
    print("|---|---|---|---|")
    tot_s = tot_d = 0.0
    for name, s, d in rows:
        tot_s += s
        tot_d += d
        dd = ">420" if d >= 420.0 else f"{d:.2f}"
        print(f"| {name} | {s:.2f} | {dd} | {s / max(d, 1e-9):.2f}x |")
    print(f"| **total ({len(rows)} queries)** | **{tot_s:.1f}** | "
          f"**{tot_d:.1f}** | **{tot_s / tot_d:.2f}x** |")


if __name__ == "__main__":
    main()
