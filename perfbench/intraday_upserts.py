"""intraday_upserts: one writer landing increments on a long canonical table.

Each build generates the inputs: a canonical daily table whose history
(1000 trading days, 50 codes) is much longer than one increment, the
restatement batches and the tick files.  The warm-up loads the table twice,
as month-partitioned parquet (``operators.upsert.write_upsert_partitioned``)
and as a txlog table (``sinks.txlog.TxTable``, Bloom-indexed on ``code``),
starts one streaming query, ``streaming.jobs.stream_ohlc_bars`` →
``streaming.jobs.txlog_sink``, over a tick inbox, and runs one untimed
increment.

Each increment (op):

1. lands one tick file in the inbox (atomic rename of a file written
   beforehand), which starts the clock;
2. applies one seeded vendor-restatement batch (100 rows; 10% restate dates
   in 8 older months, the rest the last five days) through ``write_upsert_partitioned``
   and ``TxTable.merge_upsert``;
3. reads one restated key back with a txlog point lookup
   (``TxTable.snapshot(prune_eq=...)``, Bloom-pruned) and checks the value;
4. waits until the streaming query has processed the file
   (``processAllAvailable``), so the file's bars are visible in the bars
   table's snapshot; that stops the clock.

After the clock stops the increment waits, untimed, for the empty batch
that advances the watermark past the file, so the next increment starts on
an idle stream and the lake holds the same files on every run.

The work is on the write path: micro-batches, txlog commit and replay,
copy-on-write rewrites and partition-scoped upserts.  Restatement share and
history length decide how much pruning can save.

At the end the txlog snapshot and the parquet table must equal an
independent last-write-wins fold of base ∪ all applied restatements, time
travel to version 1 must equal the base, and the bars table must equal a
pandas OHLC fold of every landed tick.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd

import gen
from common import OpResult, dir_bytes

BASE = dict(codes=50, days=1000)
RESTATE = dict(rows=100, old_share=0.1, old_months=8)
TICKS = dict(codes=20, ticks_per_code=100)
MAX_INCREMENTS = 120
WARM_INCREMENTS = 1  # the first increment of a process runs about twice as long
# increments keep speeding up for a while after the warm-up, so a loop of
# fixed length keeps the mean comparable between fast and slow machines
MAX_OPS = 3
KEYS = ["code", "trade_date"]

TICK_SCHEMA = "code string, ts timestamp, price double, vol double"


class State:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        w = ctx.work
        self.canon = os.path.join(w, "lake", "canonical")
        self.tx_path = os.path.join(w, "lake", "tx_daily")
        self.bars_path = os.path.join(w, "lake", "tx_bars")
        self.inbox = os.path.join(w, "inbox")
        self.staging = os.path.join(w, "staging")
        self.checkpoint = os.path.join(w, "checkpoint")
        for d in (self.inbox, self.staging):
            os.makedirs(d, exist_ok=True)
        self.base = gen.daily_bars(ctx.seed, BASE["codes"], BASE["days"])
        self.base_in = os.path.join(w, "base_in")
        self.logical_base = gen.write_parquet(
            self.base, os.path.join(self.base_in, "base.parquet"))
        self.batches = gen.restatements(ctx.seed, self.base, MAX_INCREMENTS,
                                        **RESTATE)
        self.ticks = gen.tick_files(ctx.seed, MAX_INCREMENTS, TICKS["codes"],
                                    TICKS["ticks_per_code"])
        self.applied = 0
        self.logical_applied = 0
        self.query = None


def build(ctx):
    return State(ctx)


def warmup(state) -> None:
    """Load the base table, start the streaming query and run the untimed
    warm-up increments."""
    from data_integration_celery_spark.operators import upsert
    from data_integration_celery_spark.sinks.txlog import TxTable
    from data_integration_celery_spark.streaming import jobs
    spark = state.spark
    base_df = spark.read.parquet(state.base_in)
    upsert.write_upsert_partitioned(spark, base_df, state.canon, KEYS, ["ym"])
    TxTable(spark, state.tx_path, batch_partitions=8).create(
        base_df, stats_cols=["trade_date"], bloom_cols=["code"])
    ticks = spark.readStream.schema(TICK_SCHEMA).parquet(state.inbox)
    bars = jobs.stream_ohlc_bars(ticks, ["code"], "ts", "price",
                                 vol_col="vol")
    state.query = jobs.txlog_sink(bars, state.bars_path, ["code", "bar_start"],
                                  state.checkpoint, app_id="bars").start()
    for _ in range(WARM_INCREMENTS):
        if not increment(state)[1]:
            raise RuntimeError("warm-up increment: restated value not visible")


def increment(state) -> tuple[float, bool, dict]:
    """Land one tick file and one restatement; return (ms, read-back ok,
    counters)."""
    from data_integration_celery_spark.operators import upsert
    from data_integration_celery_spark.sinks.txlog import TxTable
    k = state.applied
    if k >= MAX_INCREMENTS:
        raise RuntimeError("ran out of pre-generated increments")
    tr = state.tracer
    batch = state.batches[k]
    name = f"ticks-{k:05d}.parquet"
    staged = os.path.join(state.staging, name)
    tick_bytes = gen.write_parquet(state.ticks[k], staged)
    probe = Probe(state) if tr.enabled else None
    last = state.query.lastProgress
    after_batch = last["batchId"] if last else -1
    t0 = time.perf_counter()
    os.rename(staged, os.path.join(state.inbox, name))
    with tr.span("upsert.restate"):
        with tr.span("upsert.restate.plan"):
            updates = state.spark.createDataFrame(batch)
        with tr.span("upsert.restate.force"):
            upsert.write_upsert_partitioned(state.spark, updates, state.canon,
                                            KEYS, ["ym"], order_col="batch_id")
    with tr.span("txlog.merge"):
        TxTable(state.spark, state.tx_path).merge_upsert(
            updates, KEYS, order_col="batch_id")
    ok, files = lookup(state, batch.iloc[0])
    with tr.span("streaming.wait"):
        state.query.processAllAvailable()
    ms = (time.perf_counter() - t0) * 1e3
    settle(state.query, after_batch)
    in_bytes = tick_bytes + int(batch.memory_usage().sum())
    state.applied += 1
    state.logical_applied += in_bytes
    counters = probe.finish(ms, in_bytes) if probe else {}
    if files is not None:
        counters["txlog.files_read_per_lookup"] = files
    return ms, ok, counters


def settle(query, after_batch: int, timeout_s: float = 30.0) -> None:
    """Wait until the query has run a batch without input rows (the one that
    advances the watermark) after ``after_batch`` and is idle."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if (not query.status["isTriggerActive"]
                and any(p["batchId"] > after_batch and p["numInputRows"] == 0
                        for p in query.recentProgress)):
            return
        time.sleep(0.05)


def lookup(state, row) -> tuple[bool, int | None]:
    """Read one restated key back through a Bloom-pruned snapshot."""
    from data_integration_celery_spark.sinks.txlog import TxTable
    from pyspark.sql import functions as F
    tr = state.tracer
    with tr.span("txlog.lookup"):
        with tr.span("txlog.lookup.plan"):
            df = (TxTable(state.spark, state.tx_path)
                  .snapshot(prune_eq={"code": row["code"]})
                  .where((F.col("code") == row["code"])
                         & (F.col("trade_date") == row["trade_date"])))
        with tr.span("txlog.lookup.force"):
            got = [r["close"] for r in df.select("close").collect()]
    files = len(df.inputFiles()) if tr.enabled else None
    return got == [row["close"]], files


class Probe:
    """Write-path counters around one increment (traced phase only)."""

    def __init__(self, state):
        from data_integration_celery_spark.sinks.txlog import TxTable
        self.state = state
        self.tx = TxTable(state.spark, state.tx_path)
        self.bars = TxTable(state.spark, state.bars_path)
        self.live_before = {a["path"] for a in self.tx.live_files()}
        self.versions = (self.tx.latest_version(), self.bars.latest_version())
        self.files = self._files()
        last = state.query.lastProgress
        self.after_batch = last["batchId"] if last else -1

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for d in (self.state.canon, self.state.tx_path, self.state.bars_path):
            for root, _dirs, files in os.walk(d):
                for f in files:
                    p = os.path.join(root, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def finish(self, ms: float, in_bytes: int) -> dict:
        st = self.state
        live_after = {a["path"] for a in self.tx.live_files()}
        touched = len(self.live_before - live_after)
        after = self._files()
        changed = {p: sz for p, (sz, mt) in after.items()
                   if self.files.get(p) != (sz, mt)}
        written = sum(changed.values())
        # the parquet table's partitions whose files the upsert replaced
        canon = st.canon + os.sep
        removed = [p for p in self.files if p not in after]
        parts = {os.path.relpath(p, canon).split(os.sep)[0]
                 for p in list(changed) + removed
                 if p.startswith(canon) and "=" in p[len(canon):]}
        rewritten = sum(sz for p, sz in changed.items() if p.startswith(canon))
        progress = [p for p in st.query.recentProgress
                    if p["batchId"] > self.after_batch]

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in progress)
        return {
            "txlog.files_touched_ratio": touched / max(len(self.live_before), 1),
            "txlog.commits_per_increment":
                (self.tx.latest_version() - self.versions[0])
                + (self.bars.latest_version() - self.versions[1]),
            "streaming.batches_per_increment": len(progress),
            "streaming.empty_batches_per_increment":
                sum(1 for p in progress if p["numInputRows"] == 0),
            "streaming.add_batch_share": dur("addBatch") / ms,
            "streaming.planning_share": dur("queryPlanning") / ms,
            "upsert.partitions_touched": len(parts),
            "upsert.bytes_rewritten": rewritten,
            "lake.write_amp": written / in_bytes,
        }


def op(state, i: int) -> OpResult:
    ms, ok, counters = increment(state)
    lake = dir_bytes(os.path.join(state.ctx.work, "lake"))
    amp = lake / (state.logical_base + state.logical_applied)
    return OpResult(ms, ok=ok, space_amp=amp, counters=counters)


def fold(base: pd.DataFrame, batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Independent last-write-wins: the highest batch_id per key wins, base
    rows count as batch 0."""
    allrows = pd.concat([base.assign(batch_id=0)] + batches, ignore_index=True)
    allrows = allrows.sort_values("batch_id", kind="stable")
    return (allrows.drop_duplicates(KEYS, keep="last").drop(columns="batch_id")
            .sort_values(KEYS).reset_index(drop=True))


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[["code", "trade_date", "ym", "close", "volume"]].copy()
    df["trade_date"] = pd.to_datetime(df["trade_date"]).astype("datetime64[ns]")
    df["ym"] = df["ym"].astype("int32")
    return df.sort_values(KEYS).reset_index(drop=True)


def live_rows(table, version: int | None = None) -> pd.DataFrame:
    """A txlog table's rows as of ``version``: its live files, read with
    DuckDB.  Merges here are copy-on-write, so no file carries deletes."""
    adds = table.live_files(version)
    if any(a.get("dv", {}).get("refs") for a in adds):
        raise RuntimeError(f"{table.path}: unexpected deletion vectors")
    paths = [os.path.join(table.path, a["path"]) for a in adds]
    with duckdb.connect() as con:
        return con.execute(f"SELECT * FROM read_parquet({paths!r})").df()


def expected_bars(ticks: list[pd.DataFrame]) -> pd.DataFrame:
    t = pd.concat(ticks, ignore_index=True)
    t["bar_start"] = t["ts"].dt.floor("min")
    t = t.sort_values(["code", "bar_start", "ts", "price"], kind="stable")
    g = t.groupby(["code", "bar_start"], sort=True)
    out = pd.DataFrame({
        "open": g["price"].first(), "high": g["price"].max(),
        "low": g["price"].min(), "close": g["price"].last(),
        "n_ticks": g["price"].size(), "vol": g["vol"].sum(),
        "amount": (t["price"] * t["vol"]).groupby(
            [t["code"], t["bar_start"]]).sum()})
    return out.reset_index()


def finish(state):
    from data_integration_celery_spark.sinks.txlog import TxTable
    if state.query is not None:
        state.query.stop()
        state.query = None
    bad = []
    want = _norm(fold(state.base, state.batches[:state.applied]))
    tx = TxTable(state.spark, state.tx_path)
    if not _norm(live_rows(tx)).equals(want):
        bad.append("txlog snapshot != last-write-wins fold")
    with duckdb.connect() as con:
        canon = con.execute(
            f"SELECT * FROM read_parquet('{state.canon}/**/*.parquet', "
            f"hive_partitioning = true)").df()
    if not _norm(canon).equals(want):
        bad.append("partitioned parquet != last-write-wins fold")
    if not _norm(live_rows(tx, 1)).equals(_norm(state.base)):
        bad.append("time travel to version 1 != base")
    got = (live_rows(TxTable(state.spark, state.bars_path))
           .sort_values(["code", "bar_start"]).reset_index(drop=True))
    exp = expected_bars(state.ticks[:state.applied])
    if len(got) != len(exp):
        bad.append(f"bars rows {len(got)} != {len(exp)}")
    elif not (got["code"].tolist() == exp["code"].tolist()
              and (pd.to_datetime(got["bar_start"]).to_numpy()
                   == pd.to_datetime(exp["bar_start"]).to_numpy()).all()):
        bad.append("bar keys differ")
    else:
        for c in ("open", "high", "low", "close", "n_ticks", "vol", "amount"):
            if not np.allclose(got[c].astype(float), exp[c].astype(float),
                               rtol=1e-9, atol=1e-6):
                bad.append(f"bars column {c} differs")
    return not bad, {"failures": bad, "increments": state.applied}
