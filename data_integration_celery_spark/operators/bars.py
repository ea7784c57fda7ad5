"""Tick→bar and bar-resampling aggregations (SURVEY A3/A4, J12).

Reference: tick→1-min bars with a GROUP BY plus a join-back-to-tick for
open/close (tasks/pytdx/stock_tick_2_bar.py:39-55), and N-minute re-bars via a
ceil bucket + ffill (tasks/wind/handle_csv/merge_2_n_bar.py:20-52).

Spark-first: one ``groupBy(key, window(ts))`` — no self-join. open/close are
the price of the least/greatest ``struct(ts[, id], price)``: a total order on
the ticks, so a bar never depends on row order, partitioning, partial-
aggregation arrival order or micro-batch state merges. Map-side partial
aggregation means the shuffle carries one row per (key, bar), not per tick:
at 100 TB of ticks this is the difference between shuffling bars (~GBs) and
shuffling ticks (~TBs). This module is the only definition of a bar; the
streaming job (streaming.jobs.stream_ohlc_bars) runs ``ohlc_bars`` on a
watermarked stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import DEC


def _ohlc(order: list[str], open_col: str, high_col: str, low_col: str,
          close_col: str) -> list[Column]:
    # open/close: the price at the least/greatest struct(order..., price).
    # The order columns are the reference's min/max(index) join
    # (stock_tick_2_bar.py:44-49); the price breaks what ties remain. The
    # field names t/p are part of the streaming state schema.
    def ranked(price_col: str) -> Column:
        return F.struct(*[F.col(c).alias(n) for c, n in zip(order, "ti")],
                        F.col(price_col).alias("p"))
    return [F.min(ranked(open_col)).getField("p").alias("open"),
            F.max(high_col).alias("high"),
            F.min(low_col).alias("low"),
            F.max(ranked(close_col)).getField("p").alias("close")]


def _windowed(df: DataFrame, key_cols: list[str], time_col: str,
              duration: str, aggs: list[Column]) -> DataFrame:
    return (df.groupBy(*key_cols, F.window(F.col(time_col), duration))
              .agg(*aggs)
              .withColumn("bar_start", F.col("window.start"))
              .withColumn("bar_end", F.col("window.end"))
              .drop("window"))


def _dec_sum(col: Column, name: str) -> Column:
    return F.sum(col.cast(DEC)).cast("double").alias(name)


def ohlc_bars(ticks: DataFrame, key_cols: list[str], ts_col: str,
              price_col: str, vol_col: str | None = None,
              duration: str = "1 minute", id_col: str | None = None) -> DataFrame:
    """Tumbling-window OHLCV bars, batch or streaming (watermark the stream).

    Output grain: (key_cols..., bar_start, bar_end) with open/high/low/close
    and n_ticks, and vol/amount when ``vol_col`` given (amount = Σ price·vol,
    the reference's ``sum(price*vol)``). Ticks are ordered by ``ts_col``, then
    ``id_col`` when given, then price.
    """
    order = [ts_col] + ([id_col] if id_col else [])
    aggs = _ohlc(order, price_col, price_col, price_col, price_col)
    aggs.append(F.count(F.lit(1)).alias("n_ticks"))
    if vol_col:
        aggs += [_dec_sum(F.col(vol_col), "vol"),
                 _dec_sum(F.col(price_col) * F.col(vol_col), "amount")]
    return _windowed(ticks, key_cols, ts_col, duration, aggs)


def rebar(bars: DataFrame, key_cols: list[str], bar_start_col: str,
          duration: str = "15 minutes") -> DataFrame:
    """N-minute bars from finer bars: open=first, high=max, low=min,
    close=last by ``bar_start_col``, vol/amount/n_ticks=Σ over every such
    column the input carries (reference merge_2_n_bar.py:20-52 ceil bucket) —
    dropping amount would silently lose the Σ price·vol turnover the finer
    bars computed."""
    aggs = _ohlc([bar_start_col], "open", "high", "low", "close")
    aggs += [_dec_sum(F.col(c), c) for c in ("vol", "amount")
             if c in bars.columns]
    if "n_ticks" in bars.columns:
        aggs.append(F.sum("n_ticks").alias("n_ticks"))
    return _windowed(bars, key_cols, bar_start_col, duration, aggs)
