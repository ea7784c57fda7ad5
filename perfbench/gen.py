"""Seeded, finance-shaped inputs for the benchmark workloads.

Every generator is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical parquet files, another seed gives other values with the same
shape.  The engine only ever sees the files (or frames) produced here, never
the seed.

Shapes (column sets follow the engine's own rule tables and fixtures):

- two stock vendors (``ifind``/``wind``) with the column sets of
  ``pipelines.STOCK_DAILY_FULL_RULES``, a seeded key overlap and a planted
  number of out-of-tolerance ``open`` disagreements;
- futures contract-daily rows (``instrument_type, trade_date, contract, vol,
  close``) with monthly listings whose volume humps make the main contract
  roll forward; one instrument type has a much longer history;
- quarterly reports with publish dates (some codes publish twice a day);
- the TPC-H-ish ``orders`` table with the schema the query registry reads;
- tick files and restatement batches for the write path.

Run ``python3 perfbench/gen.py --self-check`` to confirm determinism.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(2016, 1, 4)


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so resizing one input leaves the
    values of the others unchanged."""
    h = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, h])


def business_days(n: int, start: dt.date = EPOCH) -> pd.DatetimeIndex:
    return pd.bdate_range(start, periods=n)


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Deterministic parquet write (no pandas index metadata); returns the
    logical (in-memory Arrow) size of the table in bytes."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.replace_schema_metadata(None)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return table.nbytes


def codes(n: int) -> list[str]:
    return [f"{600000 + i:06d}.SH" for i in range(n)]


# --------------------------------------------------------------- stocks --

def stock_vendors(seed: int, n_codes: int, n_days: int,
                  overlap: float = 0.8, conflict_rate: float = 0.02):
    """(ifind, wind, planted_conflicts) frames.

    Each (code, day) key is in both vendors with probability ``overlap``,
    otherwise in exactly one.  Shared keys agree on every toleranced
    ``mean_value`` column except ``conflict_rate`` of them, whose wind
    ``open`` is 0.5 higher (the tolerance is 0.01).
    """
    r = rng(seed, "stocks")
    days = business_days(n_days).date
    cs = np.repeat(np.array(codes(n_codes)), n_days)
    ds = np.tile(days, n_codes)
    n = len(cs)
    walk = np.cumsum(r.normal(0, 0.02, (n_codes, n_days)), axis=1)
    base = (r.uniform(5, 80, n_codes)[:, None] * np.exp(walk)).ravel()
    close = np.round(base, 2)
    open_ = np.round(close * (1 + r.normal(0, 0.01, n)), 2)
    high = np.round(np.maximum(open_, close) * (1 + r.uniform(0, 0.02, n)), 2)
    low = np.round(np.minimum(open_, close) * (1 - r.uniform(0, 0.02, n)), 2)
    volume = np.round(r.uniform(1e5, 1e7, n), 0)
    amount = np.round(volume * close, 0)
    pct = np.round(r.normal(0, 0.02, n), 4)
    shares = np.round(r.uniform(1e8, 1e10, n_codes), 0).repeat(n_days)
    which = r.random(n)
    in_both = which < overlap
    in_ifind = in_both | (which >= overlap + (1 - overlap) / 2)
    in_wind = in_both | ~in_ifind
    conflict = in_both & (r.random(n) < conflict_rate)
    labels = np.array(["涨停", "跌停", "非涨跌停", "停牌"])
    ifind = pd.DataFrame({
        "ths_code": cs, "time": ds, "open_x": open_, "high_x": high,
        "low_x": low, "close_x": close, "volume_x": volume,
        "amount": amount, "totalShares": shares,
        "ths_up_and_down_status_stock": labels[r.integers(0, 4, n)],
        "totalCapital": np.round(shares * close, 0),
        "floatCapitalOfAShares": np.round(shares * close * 0.6, 0),
        "changeRatio": pct, "floatSharesOfAShares": np.round(shares * 0.6, 0),
        "ths_pe_ttm_stock": np.round(r.uniform(5, 60, n), 2),
    })[in_ifind].reset_index(drop=True)
    wind = pd.DataFrame({
        "wind_code": cs, "trade_date": ds,
        "open_y": np.where(conflict, open_ + 0.5, open_), "high_y": high,
        "low_y": low, "close_y": np.round(close * (1 + r.normal(0, 1e-3, n)), 2),
        "volume_y": volume, "amt": amount, "total_shares": shares,
        "maxupordown": r.integers(-1, 2, n).astype("float64"),
        "pct_chg": pct, "free_float_shares": np.round(shares * 0.5, 0),
        "pe_ttm": np.round(r.uniform(5, 60, n), 2),
        "pe": np.round(r.uniform(5, 60, n), 2),
        "pb": np.round(r.uniform(0.5, 8, n), 2),
        "ps": np.round(r.uniform(0.5, 8, n), 2),
        "pcf": np.round(r.uniform(1, 30, n), 2),
    })[in_wind].reset_index(drop=True)
    return ifind, wind, int(conflict.sum())


def reports(seed: int, n_codes: int, n_days: int,
            same_day_share: float = 0.05) -> pd.DataFrame:
    """Quarterly reports: one per code per quarter-end inside the day range,
    published 10-60 days later; ``same_day_share`` of them get a second
    (restated) report on the same publish date."""
    r = rng(seed, "reports")
    days = business_days(n_days)
    qends = pd.date_range(days[0], days[-1], freq="QE").date
    rows = []
    for code in codes(n_codes):
        for qe in qends:
            pub = qe + dt.timedelta(days=int(r.integers(10, 61)))
            rows.append((code, qe, pub, round(float(r.normal(1, 0.5)), 4)))
            if r.random() < same_day_share:
                rows.append((code, qe + dt.timedelta(days=1), pub,
                             round(float(r.normal(1, 0.5)), 4)))
    return pd.DataFrame(rows, columns=["code", "report_date", "pub_date",
                                       "eps"])


def expand_rows(rep: pd.DataFrame, horizon: int) -> int:
    """Independent count of ``asof.expand_to_calendar`` output rows: each
    report covers [pub, min(next_pub - 1, pub + horizon - 1)] where the
    next report is the following one in (pub_date, report_date) order."""
    total = 0
    rep = rep.sort_values(["code", "pub_date", "report_date"])
    for _, g in rep.groupby("code", sort=False):
        pubs = list(g["pub_date"])
        for i, pub in enumerate(pubs):
            span = horizon
            if i + 1 < len(pubs):
                span = min(span, (pubs[i + 1] - pub).days)
            total += max(span, 0)
    return total


# -------------------------------------------------------------- futures --

def futures(seed: int, n_types: int, n_days: int,
            long_factor: int = 4) -> pd.DataFrame:
    """Contract-daily rows.  A new contract lists every 20 trading days and
    trades for 120; its volume peaks about 30 days before expiry, so the
    highest-volume contract rolls forward over time.  The seeded long type
    has ``long_factor`` times the history of the others."""
    r = rng(seed, "futures")
    long_type = int(r.integers(0, n_types))
    frames = []
    for t in range(n_types):
        nd = n_days * (long_factor if t == long_type else 1)
        days = business_days(nd)
        first = -100
        n_contracts = (nd - first) // 20 + 1
        for k in range(n_contracts):
            lo = first + 20 * k
            idx = np.arange(max(lo, 0), min(lo + 120, nd))
            if len(idx) == 0:
                continue
            age = idx - lo
            hump = np.exp(-((age - 90) / 30.0) ** 2)
            vol = np.round(1e4 * hump * r.uniform(0.7, 1.3, len(idx)) + 1, 0)
            close = np.round(100 * np.exp(np.cumsum(
                r.normal(0, 0.01, len(idx)))) + k, 2)
            frames.append(pd.DataFrame({
                "instrument_type": f"T{t:02d}",
                "trade_date": days[idx],
                "contract": np.int64(1000 * (t + 1) + k),
                "vol": vol, "close": close}))
    df = pd.concat(frames, ignore_index=True)
    df["trade_date"] = df["trade_date"].astype("datetime64[us]")
    return df


# ----------------------------------------------------- registry tables --

def orders(seed: int, n_orders: int) -> pd.DataFrame:
    """The registry's TPC-H-ish ``orders`` table (schema of the query
    registry's test data): customers, order dates over 1995-2001, five
    priorities."""
    r = rng(seed, "orders")
    return pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": r.integers(0, max(n_orders // 10, 10), n_orders
                                ).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": (np.datetime64("1995-01-01") + r.integers(
            0, 2404, n_orders).astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_orders)],
    })


def daily_bars(seed: int, n_codes: int, n_days: int) -> pd.DataFrame:
    """Canonical (code, trade_date) daily table for the txlog layer."""
    r = rng(seed, "daily_bars")
    days = business_days(n_days).date
    n = n_codes * n_days
    close = np.round(r.uniform(5, 80, n), 2)
    return pd.DataFrame({
        "code": np.repeat(np.array(codes(n_codes)), n_days),
        "trade_date": np.tile(days, n_codes),
        "ym": np.tile(np.array([d.year * 100 + d.month for d in days],
                               dtype="int32"), n_codes),
        "close": close,
        "volume": np.round(r.uniform(1e5, 1e7, n), 0),
    })


def restatements(seed: int, base: pd.DataFrame, n_batches: int,
                 rows: int, old_share: float, old_months: int,
                 recent_days: int = 5):
    """``n_batches`` update frames over ``base``'s (code, trade_date) keys.
    ``old_share`` of each batch's rows restate dates in ``old_months``
    distinct older months (so every batch touches the same number of month
    partitions), the rest one of the last ``recent_days`` dates.  Keys are
    unique within a batch; ``batch_id`` increases across batches (last
    write wins)."""
    r = rng(seed, "restatements")
    days = np.array(sorted(base["trade_date"].unique()))
    ym = np.array([d.year * 100 + d.month for d in days])
    recent = np.arange(len(days) - recent_days, len(days))
    months = np.array(sorted(set(ym[:recent[0]]) - set(ym[recent])))
    cs = np.array(sorted(base["code"].unique()))
    n_old = int(round(rows * old_share))
    out = []
    for b in range(n_batches):
        picked = r.choice(months, old_months, replace=False)
        old = [r.choice(np.flatnonzero(ym == m)) for m in picked]
        pool = np.flatnonzero(np.isin(ym, picked))
        old += list(r.choice(pool, n_old - old_months))
        # recent keys drawn without replacement, so batches keep their size
        flat = r.choice(len(recent) * len(cs), rows - n_old, replace=False)
        d_idx = np.concatenate([old, recent[flat // len(cs)]])
        c_idx = np.concatenate([r.integers(0, len(cs), n_old),
                                flat % len(cs)])
        key = pd.DataFrame({"code": cs[c_idx], "trade_date": days[d_idx]}
                           ).drop_duplicates().reset_index(drop=True)
        k = len(key)
        key["ym"] = np.array([d.year * 100 + d.month for d in key["trade_date"]],
                             dtype="int32")
        key["close"] = np.round(r.uniform(5, 80, k), 2)
        key["volume"] = np.round(r.uniform(1e5, 1e7, k), 0)
        key["batch_id"] = np.int64(b + 1)
        out.append(key)
    return out


def tick_files(seed: int, n_files: int, n_codes: int, ticks_per_code: int,
               minutes_per_file: int = 2) -> list[pd.DataFrame]:
    """Tick batches, file ``i`` covering minutes [i*m, (i+1)*m) of a
    session, so no file carries ticks behind the streaming watermark."""
    r = rng(seed, "ticks")
    t0 = np.datetime64("2024-03-01T01:30:00", "us")
    span = minutes_per_file * 60 * 10**6
    out = []
    cs = np.array(codes(n_codes))
    for i in range(n_files):
        n = n_codes * ticks_per_code
        off = np.sort(r.integers(0, span, n))
        out.append(pd.DataFrame({
            "code": cs[r.integers(0, n_codes, n)],
            "ts": t0 + (i * span + off).astype("timedelta64[us]"),
            "price": np.round(r.uniform(10, 20, n), 2),
            "vol": r.integers(1, 100, n).astype("float64"),
        }))
    return out


# ----------------------------------------------------------- self-check --

def _digest(dir_: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(dir_)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _materialize(seed: int, out: str) -> None:
    ifind, wind, _ = stock_vendors(seed, 20, 60)
    write_parquet(ifind, f"{out}/ifind.parquet")
    write_parquet(wind, f"{out}/wind.parquet")
    write_parquet(reports(seed, 20, 60), f"{out}/reports.parquet")
    write_parquet(futures(seed, 3, 60), f"{out}/futures.parquet")
    write_parquet(orders(seed, 600), f"{out}/orders.parquet")
    base = daily_bars(seed, 10, 60)
    write_parquet(base, f"{out}/base.parquet")
    for i, df in enumerate(restatements(seed, base, 2, 20, 0.2, 2)):
        write_parquet(df, f"{out}/restate{i}.parquet")
    for i, df in enumerate(tick_files(seed, 2, 5, 20)):
        write_parquet(df, f"{out}/ticks{i}.parquet")


def self_check(work_dir: str, seed: int = 1) -> bool:
    """Same seed → byte-identical files; another seed → different files."""
    os.makedirs(work_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work_dir) as tmp:
        digests = []
        for tag, s in (("a", seed), ("b", seed), ("c", seed + 1)):
            _materialize(s, os.path.join(tmp, tag))
            digests.append(_digest(os.path.join(tmp, tag)))
    same, other = digests[0] == digests[1], digests[0] != digests[2]
    print(f"same seed identical: {same}; other seed differs: {other}")
    return same and other


if __name__ == "__main__":
    if "--self-check" in sys.argv:
        sys.exit(0 if self_check(os.path.join(".perfbench", "gen")) else 1)
    print(__doc__)
