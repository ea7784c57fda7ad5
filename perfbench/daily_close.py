"""daily_close: the reference's end-of-day run as one ``plans.dag.Pipeline``,
started from an empty lake on every op.

    import   sources.vendor.fetch_distributed over seeded vendor "APIs"
             (one parquet file per code per feed, read inside Python
             workers), landed by operators.upsert.write_upsert_partitioned
             into canonical tables (one DAG job per feed; the lazy fetch
             runs inside the landing write)
    merge    pipelines.merge_stock_daily (+ conflict side-output)
    derive   pipelines.materialize_continuous_selection, then
             continuous_analytics_from as one concurrent wave, and
             operators.asof.expand_to_calendar
    export   sinks.export_per_key
    report   the registry's sector-median report (queries.QUERIES
             ["pipeline_sector_median"]) over a seeded TPC-H-ish orders
             table loaded through catalog.load, published to the lake

Setup runs the whole DAG once, untimed, so the application's first-call
costs (JIT, code generation, Python worker start) fall outside the timed
runs; each op then runs the DAG again from an empty lake, and the op
latency is its makespan.  It runs Python-worker ingest, the one
applyInPandas, join/window shuffles and wave concurrency; the txlog is
never touched.  Twelve instrument types (three
per core on four cores), one with four times the history, so a straggler in
the per-type scan shows.  At these sizes the makespan is overhead-bound:
the fixed cost of ~50 Spark jobs outweighs the data work many times over
(README.md has the measurements).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pandas as pd

import gen
import oracle
from common import OpResult, dir_bytes

FULL = dict(codes=24, days=250, types=12, type_days=250)
HORIZON = 30
# DAG runs keep speeding up for several runs after the warm-up (JIT), so a
# loop of fixed length keeps the mean comparable between fast and slow
# machines
MAX_OPS = 2
REPORTS = ("pipeline_sector_median",)
N_ORDERS = 3000

IFIND_SCHEMA = (
    "ths_code string, time date, open_x double, high_x double, low_x double, "
    "close_x double, volume_x double, amount double, totalShares double, "
    "ths_up_and_down_status_stock string, totalCapital double, "
    "floatCapitalOfAShares double, changeRatio double, "
    "floatSharesOfAShares double, ths_pe_ttm_stock double")
WIND_SCHEMA = (
    "wind_code string, trade_date date, open_y double, high_y double, "
    "low_y double, close_y double, volume_y double, amt double, "
    "total_shares double, maxupordown double, pct_chg double, "
    "free_float_shares double, pe_ttm double, pe double, pb double, "
    "ps double, pcf double")
REPORT_SCHEMA = "code string, report_date date, pub_date date, eps double"
FUTURES_SCHEMA = ("instrument_type string, trade_date timestamp, "
                  "contract long, vol double, close double")

# feed → (code column, date column, schema, landing keys, partition column)
FEEDS = {
    "ifind": ("ths_code", "time", IFIND_SCHEMA, ["ths_code", "time"], "ym"),
    "wind": ("wind_code", "trade_date", WIND_SCHEMA,
             ["wind_code", "trade_date"], "ym"),
    "reports": ("code", "pub_date", REPORT_SCHEMA,
                ["code", "report_date"], "ym"),
    "futures": ("instrument_type", "trade_date", FUTURES_SCHEMA,
                ["instrument_type", "trade_date", "contract"],
                "instrument_type"),
}


class FileVendor:
    """A vendor API served from one parquet file per code; called inside
    Python workers by ``fetch_distributed`` (inclusive date range)."""

    def __init__(self, root: str, date_col: str):
        self.root = root
        self.date_col = date_col

    def __call__(self, code, date_from, date_to):
        path = os.path.join(self.root, f"{code}.parquet")
        if not os.path.exists(path):
            return None
        df = pd.read_parquet(path)
        d = pd.to_datetime(df[self.date_col])
        return df[(d >= pd.Timestamp(date_from)) & (d <= pd.Timestamp(date_to))]


def make_inputs(seed: int, size: dict, root: str) -> dict:
    """Write the vendor files; return the facts the output checks need."""
    ifind, wind, conflicts = gen.stock_vendors(seed, size["codes"],
                                               size["days"])
    rep = gen.reports(seed, size["codes"], size["days"])
    fut = gen.futures(seed, size["types"], size["type_days"])
    logical = 0
    ranges = {}
    for feed, df in (("ifind", ifind), ("wind", wind), ("reports", rep),
                     ("futures", fut)):
        code_col, date_col = FEEDS[feed][:2]
        for code, g in df.groupby(code_col, sort=True):
            logical += gen.write_parquet(g, os.path.join(
                root, feed, f"{code}.parquet"))
        d = pd.to_datetime(df[date_col])
        ranges[feed] = (sorted(df[code_col].unique()),
                        d.min().date(), d.max().date())
    keys_l = set(zip(ifind["ths_code"], ifind["time"]))
    keys_r = set(zip(wind["wind_code"], wind["trade_date"]))
    return {"root": root, "ranges": ranges, "logical_bytes": logical,
            "union_keys": len(keys_l | keys_r), "conflicts": conflicts,
            "codes": len({k[0] for k in keys_l | keys_r}),
            "expand_rows": gen.expand_rows(rep, HORIZON)}


def build_pipeline(spark, tracer, inputs: dict, lake: str, op_span):
    from data_integration_celery_spark import pipelines, sinks
    from data_integration_celery_spark.operators import asof, upsert
    from data_integration_celery_spark.plans.dag import Job, Pipeline
    from data_integration_celery_spark.sources import vendor
    from pyspark.sql import functions as F

    canon = os.path.join(lake, "canonical")
    out = {k: os.path.join(lake, k) for k in
           ("merged", "conflicts", "selection", "main_sec",
            "adjusted_division", "adjusted_diff", "expanded", "export")
           + REPORTS}

    def import_feed(feed):
        code_col, date_col, schema, keys, part = FEEDS[feed]
        codes, lo, hi = inputs["ranges"][feed]

        def run(spark):
            with tracer.span(f"sources.fetch.{feed}"):
                plan = spark.createDataFrame(
                    [(c, lo, hi) for c in codes],
                    "code string, date_from date, date_to date")
                fetcher = FileVendor(os.path.join(inputs["root"], feed),
                                     date_col)
                df = vendor.fetch_distributed(plan, fetcher, schema)
                if part == "ym":
                    df = df.withColumn("ym", F.year(date_col) * 100
                                       + F.month(date_col))
            with tracer.span(f"upsert.land.{feed}"):
                upsert.write_upsert_partitioned(
                    spark, df, os.path.join(canon, feed), keys, [part])
        return run

    def canonical(spark, feed):
        df = spark.read.parquet(os.path.join(canon, feed))
        return df.drop("ym") if FEEDS[feed][4] == "ym" else df

    def merge(spark):
        def force(res):
            merged, conflicts = res
            merged.write.parquet(out["merged"])
            conflicts.write.parquet(out["conflicts"])
        tracer.lazy("pipelines.merge",
                    lambda: pipelines.merge_stock_daily(
                        canonical(spark, "ifind"), canonical(spark, "wind")),
                    force)

    def selection(spark):
        with tracer.span("pipelines.selection"):
            pipelines.materialize_continuous_selection(
                spark, canonical(spark, "futures"), out["selection"])

    def analytics(name):
        def run(spark):
            tracer.lazy(f"pipelines.analytics.{name}",
                        lambda: pipelines.continuous_analytics_from(
                            spark.read.parquet(out["selection"]),
                            canonical(spark, "futures"))[name],
                        lambda df: df.write.parquet(out[name]))
        return run

    def expand(spark):
        tracer.lazy("asof.expand",
                    lambda: asof.expand_to_calendar(
                        canonical(spark, "reports"), "code", "pub_date",
                        horizon_days=HORIZON, tiebreak=["report_date"]),
                    lambda df: df.write.parquet(out["expanded"]))

    def export(spark):
        with tracer.span("sinks.export"):
            sinks.export_per_key(spark.read.parquet(out["merged"]),
                                 out["export"], "unique_code",
                                 order_col="trade_date")

    def reports(spark):
        from data_integration_celery_spark.queries import QUERIES
        for name in REPORTS:
            tracer.lazy(f"queries.{name}",
                        lambda: QUERIES[name].spark(spark, inputs["sf_dir"]),
                        lambda df: df.write.parquet(out[name]))

    def job(name, fn, deps=()):
        return Job(name, tracer.wrap_job(name, fn, op_span), list(deps))

    jobs = [job(f"import_{f}", import_feed(f)) for f in FEEDS]
    jobs += [job("merge", merge, ["import_ifind", "import_wind"]),
             job("selection", selection, ["import_futures"]),
             job("expand", expand, ["import_reports"]),
             job("export", export, ["merge"]),
             job("reports", reports, ["merge"])]
    jobs += [job(n, analytics(n), ["selection"])
             for n in ("main_sec", "adjusted_division", "adjusted_diff")]
    return Pipeline(jobs, max_parallel=4), out


def check(inputs: dict, out: dict, results) -> list[str]:
    """Untimed output checks, read with DuckDB; returns the failures."""
    bad = [f"job {r.name}: {r.error}" for r in results.values() if not r.ok]
    if bad:
        return bad
    scan = oracle.scan
    [(n, keys)] = oracle.query(
        f"SELECT count(*), count(DISTINCT (unique_code, trade_date)) "
        f"FROM {scan(out['merged'])}")
    if not (n == keys == inputs["union_keys"]):
        bad.append(f"merged rows {n}/{keys} != key union "
                   f"{inputs['union_keys']}")
    [(n_conf,)] = oracle.query(f"SELECT count(*) FROM {scan(out['conflicts'])}")
    if n_conf != inputs["conflicts"]:
        bad.append(f"conflicts {n_conf} != planted {inputs['conflicts']}")
    [(back, sec_bad)] = oracle.query(f"""
        SELECT count(*) FILTER (WHERE main_contract < prev_main),
               count(*) FILTER (WHERE sec_contract <= main_contract)
        FROM (SELECT *, lag(main_contract) OVER (
                  PARTITION BY instrument_type ORDER BY trade_date) AS prev_main
              FROM {scan(out['selection'])})""")
    if back:
        bad.append(f"main contract moved back on {back} days")
    if sec_bad:
        bad.append(f"secondary contract not later than main on {sec_bad} days")
    [(n_exp,)] = oracle.query(f"SELECT count(*) FROM {scan(out['expanded'])}")
    if n_exp != inputs["expand_rows"]:
        bad.append(f"expanded rows {n_exp} != {inputs['expand_rows']}")
    files = [f for _r, _d, fs in os.walk(out["export"]) for f in fs
             if f.endswith(".parquet")]
    if len(files) != inputs["codes"]:
        bad.append(f"export files {len(files)} != codes {inputs['codes']}")
    for name in REPORTS:
        if oracle.published_rows(out[name]) != inputs["reports"][name]:
            bad.append(f"report {name} differs from its DuckDB oracle")
    return bad


class State:
    def __init__(self, ctx):
        from data_integration_celery_spark.queries import QUERIES
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.sf_dir = os.path.join(ctx.work, "sf")
        orders_bytes = gen.write_parquet(
            gen.orders(ctx.seed, N_ORDERS),
            os.path.join(self.sf_dir, "orders.parquet"))
        reports = {name: oracle.oracle_rows(self.sf_dir, QUERIES[name].sql)
                   for name in REPORTS}
        self.full = make_inputs(ctx.seed, FULL, os.path.join(ctx.work, "in"))
        self.full["logical_bytes"] += orders_bytes
        self.full["sf_dir"] = self.sf_dir
        self.full["reports"] = reports
        self.lake_root = os.path.join(ctx.work, "lake")


def run_dag(state, inputs: dict, lake: str):
    op_span = state.tracer.current()
    pipe, out = build_pipeline(state.spark, state.tracer, inputs, lake,
                               op_span)
    t0 = time.perf_counter()
    results = pipe.run(state.spark)
    ms = (time.perf_counter() - t0) * 1e3
    return ms, pipe, out, results


def trace_catalog_loads(tracer) -> None:
    """Open a ``catalog.load`` span around every table load the registry
    queries make (they resolve ``catalog.load`` at call time)."""
    from data_integration_celery_spark import catalog
    if getattr(catalog.load, "perfbench_traced", False):
        return
    load = catalog.load

    def traced(*args, **kwargs):
        if not tracer.enabled:
            return load(*args, **kwargs)
        with tracer.span("catalog.load"):
            return load(*args, **kwargs)
    traced.perfbench_traced = True
    catalog.load = traced


def build(ctx):
    trace_catalog_loads(ctx.tracer)
    return State(ctx)


def warmup(state) -> None:
    """One untimed, checked DAG run, so the timed runs do not pay the
    application's first-call costs (JIT, code generation, Python worker
    start)."""
    lake = os.path.join(state.lake_root, "warm")
    _ms, _pipe, out, results = run_dag(state, state.full, lake)
    bad = check(state.full, out, results)
    shutil.rmtree(lake, ignore_errors=True)
    if bad:
        raise RuntimeError(f"daily_close warm-up: {bad}")


def op(state, i: int) -> OpResult:
    lake = os.path.join(state.lake_root, f"op{i}")
    ms, pipe, out, results = run_dag(state, state.full, lake)
    with state.tracer.span("bench.check"):
        bad = check(state.full, out, results)
    amp = dir_bytes(lake) / state.full["logical_bytes"]
    counters = {}
    if state.tracer.enabled:
        counters = dag_counters(state, pipe, results, ms, lake, out)
    shutil.rmtree(lake, ignore_errors=True)
    if bad:
        print(f"daily_close op {i}: {bad}", file=sys.stderr)
    return OpResult(ms, ok=not bad, space_amp=amp, counters=counters)


def dag_counters(state, pipe, results, ms: float, lake: str,
                 out: dict) -> dict:
    """Layer counters for one DAG run (traced ops only)."""
    total_s = sum(r.seconds for r in results.values())
    finish: dict[str, float] = {}

    def path(name):
        """Seconds along the longest dependency chain ending at ``name``."""
        if name not in finish:
            finish[name] = results[name].seconds + max(
                [path(d) for d in pipe.jobs[name].depends_on] or [0.0])
        return finish[name]
    critical = max(path(n) for n in results)
    canon = os.path.join(lake, "canonical")
    land_bytes = dir_bytes(canon)
    parts = sum(len([d for d in os.listdir(os.path.join(canon, f))
                     if "=" in d]) for f in FEEDS)
    files = [f for _r, _d, fs in os.walk(out["export"]) for f in fs
             if f.endswith(".parquet")]
    # rows as the engine landed and merged them, read back with DuckDB
    landed = sum(oracle.query(
        f"SELECT count(*) FROM {oracle.scan(os.path.join(canon, f))}")[0][0]
        for f in FEEDS)
    [(conflicts,)] = oracle.query(
        f"SELECT count(*) FROM {oracle.scan(out['conflicts'])}")
    return {
        "sources.rows": landed,
        "pipelines.conflict_rows": conflicts,
        "sinks.files_written": len(files),
        "plans.parallelism": total_s / (ms / 1e3),
        "plans.critical_path_share": critical / (ms / 1e3),
        "upsert.partitions_touched": parts,
        "upsert.bytes_rewritten": land_bytes,
        "lake.write_amp": dir_bytes(lake) / state.full["logical_bytes"],
        "plans.job_s": {n: r.seconds for n, r in results.items()},
    }


def finish(state):
    """Every op checked its own outputs; nothing is left to check."""
    return True, {}
