"""Per-query scaling exponents: bench suite at sf0.1 vs a 10x replica.

Builds a referential-integrity-preserving 10x copy of sf0.1 (~sf1: 6M
lineitem rows) in /tmp via DuckDB — every fact table is replicated R times
with key-shifted replicas so joins keep their selectivity (orders/lineitem
share the orderkey shift; customer/part/supplier shifts propagate into
their fact FKs; region/nation stay fixed as true dims).  Documents keep a
10% exact-dup band across replicas (dup-group size grows R-fold — the
documented quadratic-output case for pair emitters); embeddings get
per-replica jitter.

Then every registry query runs at both scales (noop write = full compute,
no collect) and we report the per-query scaling exponent

    alpha = ln(t_10x / t_1x) / ln(10)

alpha <= 1 is linear-or-better (sub-linear usually means fixed JVM/plan
overhead dominated the small run); alpha > 1 is the flag to investigate.

Usage:
    python tools/scaling_exponents.py [--replicas 10] [--skip name ...]
Appends a markdown section to stdout and writes SCALE_EXPONENTS.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.1"

# key columns to shift per table: {table: {col: offset_source_table}}
# offset for a column = (max of the PK it references) + 1, times rep
_SHIFTS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"),
               "user_id": ("events", "user_id")},
}
_COPY_AS_IS = ["region", "nation"]


def build_scaled_dir(replicas: int, reuse: bool = False) -> str:
    import duckdb

    out = os.path.join(tempfile.gettempdir(), f"scaled_sf1_x{replicas}")
    if os.path.isdir(out):
        if reuse:
            return out
        shutil.rmtree(out)
    os.makedirs(out)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW reps AS SELECT unnest(generate_series(0, "
            f"{replicas - 1})) AS rep")

    def src(t):
        return f"read_parquet('{SF_DIR}/{t}.parquet')"

    offsets: dict[tuple[str, str], int] = {}

    def off(table, col):
        if (table, col) not in offsets:
            offsets[(table, col)] = con.sql(
                f"SELECT max({col}) + 1 FROM {src(table)}").fetchone()[0]
        return offsets[(table, col)]

    for t in _COPY_AS_IS:
        con.sql(f"COPY (SELECT * FROM {src(t)}) TO '{out}/{t}.parquet' "
                f"(FORMAT PARQUET)")

    for t, shifts in _SHIFTS.items():
        repl = ", ".join(
            f"t.{col} + r.rep * {off(ref_t, ref_c)} AS {col}"
            for col, (ref_t, ref_c) in shifts.items())
        con.sql(f"COPY (SELECT t.* REPLACE ({repl}) FROM {src(t)} t "
                f"CROSS JOIN reps r) TO '{out}/{t}.parquet' "
                f"(FORMAT PARQUET)")

    doc_off = con.sql(
        f"SELECT max(doc_id) + 1 FROM {src('documents')}").fetchone()[0]
    con.sql(f"""
        COPY (SELECT t.* REPLACE (
                 t.doc_id + r.rep * {doc_off} AS doc_id,
                 CASE WHEN t.doc_id % 10 = 0 THEN t.text
                      ELSE t.text || ' rep' || r.rep END AS text)
              FROM {src('documents')} t CROSS JOIN reps r)
        TO '{out}/documents.parquet' (FORMAT PARQUET)""")

    vec_off = con.sql(
        f"SELECT max(vec_id) + 1 FROM {src('embeddings')}").fetchone()[0]
    con.sql(f"""
        COPY (SELECT t.* REPLACE (
                 t.vec_id + r.rep * {vec_off} AS vec_id,
                 list_transform(t.embedding,
                     x -> CAST(x + (r.rep % 7) / 1000.0 AS FLOAT))
                     AS embedding)
              FROM {src('embeddings')} t CROSS JOIN reps r)
        TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    con.close()
    return out


def time_query(qry, spark, sf_dir: str, repeats: int) -> float:
    best = math.inf
    for _ in range(repeats):
        t0 = time.time()
        qry.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--base-replicas", type=int, default=None,
                    help="measure against an Nx replica instead of sf0.1 — "
                         "the 'does alpha hold past 10x' decade check "
                         "(alpha = ln(t_big/t_base)/ln(replicas/base))")
    ap.add_argument("--reuse", action="store_true",
                    help="keep existing scaled dirs instead of rebuilding")
    ap.add_argument("--skip", nargs="*", default=[])
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--big-repeats", type=int, default=1,
                    help="repeats at the big scale (min taken). Single-shot "
                         "big-scale numbers on a shared host absorb "
                         "intermittent CPU contention — the same queries "
                         "measured 4s isolated vs 164s in one sweep window; "
                         "min-of-2+ adjudicates the burst away")
    ap.add_argument("--count-rows", action="store_true",
                    help="also count output rows at both scales and record "
                         "alpha_out — adjudicates alpha>1 as output growth "
                         "(alpha <= alpha_out: output-bound, fine) vs a "
                         "compute blowup (alpha >> alpha_out: investigate)")
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALE_EXPONENTS.json"))
    args = ap.parse_args()

    from data_integration_celery_spark.queries import QUERIES
    from data_integration_celery_spark.session import get_spark

    scaled = build_scaled_dir(args.replicas, reuse=args.reuse)
    print(f"scaled dir built: {scaled}", file=sys.stderr)
    if args.base_replicas:
        base_dir = build_scaled_dir(args.base_replicas, reuse=args.reuse)
        base_label = f"{args.base_replicas}x"
        ratio = args.replicas / args.base_replicas
    else:
        base_dir, base_label, ratio = SF_DIR, "sf0.1", float(args.replicas)
    big_label = f"{args.replicas}x"

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in QUERIES if n not in set(args.skip)]
    if args.only:
        names = [n for n in names if n in set(args.only)]

    # warm both directions (JVM, parquet footers)
    QUERIES["a1_watermark_per_key"].spark(spark, base_dir).count()
    QUERIES["a1_watermark_per_key"].spark(spark, scaled).count()

    results = {}
    ln_r = math.log(ratio)
    for i, name in enumerate(names):
        q = QUERIES[name]
        try:
            t_small = time_query(q, spark, base_dir, repeats=2)
            t_big = time_query(q, spark, scaled, repeats=args.big_repeats)
        except Exception as exc:  # keep the sweep going
            results[name] = {"error": str(exc)[:200]}
            print(f"[{i+1}/{len(names)}] {name}: ERROR {exc}",
                  file=sys.stderr)
            continue
        alpha = math.log(t_big / t_small) / ln_r
        results[name] = {f"t_{base_label}": round(t_small, 3),
                         f"t_{big_label}": round(t_big, 3),
                         "alpha": round(alpha, 2)}
        if args.count_rows:
            try:
                n_small = q.spark(spark, base_dir).count()
                n_big = q.spark(spark, scaled).count()
                results[name].update(
                    {f"rows_{base_label}": n_small,
                     f"rows_{big_label}": n_big,
                     "alpha_out": (round(math.log(n_big / n_small) / ln_r, 2)
                                   if n_small and n_big else None)})
            except Exception as exc:
                results[name]["alpha_out_error"] = str(exc)[:200]
        print(f"[{i+1}/{len(names)}] {name}: {t_small:.2f}s -> "
              f"{t_big:.2f}s  alpha={alpha:.2f}"
              + (f"  alpha_out={results[name].get('alpha_out')}"
                 if args.count_rows else ""), file=sys.stderr)

    with open(args.out, "w") as f:
        json.dump({"replicas": args.replicas,
                   "base": base_label, "queries": results}, f,
                  indent=1, sort_keys=True)

    ok = {n: r for n, r in results.items() if "alpha" in r}
    print(f"\n## Scaling exponents — {base_label} vs {big_label}\n")
    print(f"| query | t @ {base_label} | t @ {big_label} | alpha |")
    print("|---|---|---|---|")
    for n, r in sorted(ok.items(), key=lambda kv: -kv[1]["alpha"]):
        print(f"| {n} | {r[f't_{base_label}']:.2f}s | "
              f"{r[f't_{big_label}']:.2f}s | {r['alpha']:.2f} |")
    lin = sum(1 for r in ok.values() if r["alpha"] <= 1.05)
    print(f"\n{lin}/{len(ok)} queries at alpha <= 1.05 "
          f"(linear or better); see {args.out}.")


if __name__ == "__main__":
    main()
