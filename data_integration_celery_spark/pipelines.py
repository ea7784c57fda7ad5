"""Reference-fidelity pipeline definitions.

These assemble the operator library into the reference's actual jobs, with
the real rule tables. The stock merge's columns, kernels and tolerances
transcribe the reference's rule dict (tasks/merge/stock.py:52-66,121-176).
Both merge entry points only build their joined frame; the one rule-table
compiler (``merge_kernels.compile_rule_table``) turns the rules into a single
codegen'd projection, replacing the row-wise ``merge_data`` interpreter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import merge_kernels as mk

# example rule table for same-name vendor columns (merge_vendor_daily's
# default) — {out_col: (dtype, kernel, tolerance)}: prices mean_value with
# 0.01-0.5 tolerances, volumes prefer_left, labels max_up_or_down. Not the
# reference's table; that is STOCK_DAILY_FULL_RULES below.
STOCK_DAILY_RULES: dict[str, tuple[str, str, float | None]] = {
    "open": ("double", "mean_value", 0.5),
    "high": ("double", "mean_value", 0.5),
    "low": ("double", "mean_value", 0.5),
    "close": ("double", "mean_value", 0.01),
    "vol": ("double", "prefer_left", None),
    "amount": ("double", "prefer_left", None),
    "turnover_rate": ("double", "mean_value", 0.5),
    "pe": ("double", "prefer_right", None),
    "pb": ("double", "prefer_right", None),
    "max_up_or_down": ("double", "max_up_or_down", None),
}


def merge_vendor_daily(left: DataFrame, right: DataFrame,
                       key_cols: list[str],
                       rules: dict[str, tuple[str, str, float | None]]
                       = STOCK_DAILY_RULES,
                       audit: bool = True) -> tuple[DataFrame, DataFrame | None]:
    """Two-vendor daily merge (E2): full-outer join + kernel projection.

    ``left``/``right`` carry the same column names; only columns present in
    both frames and named in ``rules`` are merged (missing ones pass through
    from whichever side has them). Returns (merged, conflicts) where
    conflicts is the tolerance side-output (the reference logged warnings;
    we emit an audit table).
    """
    j = left.alias("l").join(right.alias("r"), key_cols, "full_outer")
    # the (dtype, kernel, tol) shorthand → the compiler's one format: the
    # same column on l./r., or get_value from whichever side has it
    cols = {"l": set(left.columns), "r": set(right.columns)}
    table = {}
    for out, (dtype, kernel, tol) in rules.items():
        sides = [side for side, names in cols.items() if out in names]
        if len(sides) == 2:
            src = {"left": f"l.{out}", "right": f"r.{out}"}
            table[out] = (dtype, kernel, src, tol)
        elif sides:
            table[out] = (dtype, "get_value", {"col": f"{sides[0]}.{out}"}, None)
    outputs, flags = mk.compile_rule_table(table)
    keys = [F.col(k) for k in key_cols]
    merged = j.select(*keys, *outputs.values())
    return merged, mk.conflict_audit(j, keys, flags) if audit else None


# Full-fidelity merge_stock_daily rule table — a 1:1 transcription of the
# reference's col_merge_dic (/root/reference tasks/merge/stock.py:121-176):
# {out_col: (dtype, kernel, sources, warning_accuracy)}. ``sources`` names
# columns on the joined two-vendor frame ({'left','right'}, or {'col'} for
# get_value). warning_accuracy only fires for mean_value — the reference's
# prefer_* kernels accept but ignore it (tasks/merge/__init__.py:21-37), so
# close (prefer_left, acc 0.01) and pe_ttm (prefer_right, acc 0.01) emit no
# conflict rows; that nuance is reproduced, not "fixed". The _x/_y suffixes
# are the joined frame's disambiguated names for columns both vendors carry
# (pandas suffixes=('_x','_y') made explicit).
STOCK_DAILY_FULL_RULES: dict[str, tuple[str, str, dict, float | None]] = {
    "unique_code": ("string", "prefer_left",
                    {"left": "ths_code", "right": "wind_code"}, None),
    "trade_date": ("date", "prefer_left",
                   {"left": "time", "right": "trade_date"}, None),
    "open": ("double", "mean_value",
             {"left": "open_x", "right": "open_y"}, 0.01),
    "high": ("double", "mean_value",
             {"left": "high_x", "right": "high_y"}, 0.01),
    "low": ("double", "mean_value",
            {"left": "low_x", "right": "low_y"}, 0.01),
    # wind close is unreliable per the reference's own TODO (stock.py:139)
    "close": ("double", "prefer_left",
              {"left": "close_x", "right": "close_y"}, 0.01),
    "volume": ("double", "mean_value",
               {"left": "volume_x", "right": "volume_y"}, 1.0),
    "amount": ("double", "mean_value",
               {"left": "amount", "right": "amt"}, 1.0),
    # ths totalShares keys on change date, wind on announcement date —
    # wind wins conflicts (stock.py:148-150)
    "total_shares": ("double", "prefer_right",
                     {"left": "totalShares", "right": "total_shares"}, None),
    "max_up_or_down": ("int", "max_up_or_down_labels",
                       {"left": "ths_up_and_down_status_stock",
                        "right": "maxupordown"}, None),
    "total_capital": ("double", "get_value", {"col": "totalCapital"}, None),
    "float_capital": ("double", "get_value",
                      {"col": "floatCapitalOfAShares"}, None),
    "pct_chg": ("double", "mean_value",
                {"left": "changeRatio", "right": "pct_chg"}, 0.01),
    "float_a_shares": ("double", "get_value",
                       {"col": "floatSharesOfAShares"}, None),
    "free_float_shares": ("double", "get_value",
                          {"col": "free_float_shares"}, None),
    # ths pe_ttm keys on report date, wind on period — wind wins (stock.py:166)
    "pe_ttm": ("double", "prefer_right",
               {"left": "ths_pe_ttm_stock", "right": "pe_ttm"}, 0.01),
    "pe": ("double", "get_value", {"col": "pe"}, None),
    "pb": ("double", "get_value", {"col": "pb"}, None),
    "ps": ("double", "get_value", {"col": "ps"}, None),
    "pcf": ("double", "get_value", {"col": "pcf"}, None),
}


def merge_stock_daily(ifind: DataFrame, wind: DataFrame,
                      left_on: tuple[str, str] = ("ths_code", "time"),
                      right_on: tuple[str, str] = ("wind_code", "trade_date"),
                      rules: dict[str, tuple[str, str, dict, float | None]]
                      = STOCK_DAILY_FULL_RULES,
                      audit: bool = True
                      ) -> tuple[DataFrame, DataFrame | None]:
    """The reference's flagship E2 entry point (merge_stock_daily,
    tasks/merge/stock.py:85-184) with its complete 17-column rule table:
    full-outer join on differently-named vendor keys + merge indicator
    (pandas ``indicator='indicator_column'``), one codegen'd kernel
    projection replacing the row-wise ``merge_data`` interpreter, and the
    mean_value tolerance warnings routed to a conflict side-output table
    instead of log lines.

    Returns (merged, conflicts): ``merged`` carries every rule-table output
    plus ``indicator_column`` ∈ {both, left_only, right_only}; ``conflicts``
    has the merged key columns plus one boolean per toleranced mean_value
    rule, filtered to rows where any fired (None when ``audit=False`` or no
    mean_value rule has a tolerance). At scale this is one shuffle (the
    join); the projection and the conflict filter are map-side.
    """
    # provenance sentinels, not key-nullness: pandas' indicator is
    # merge-metadata-based, so an unmatched RIGHT row whose own join key is
    # NULL must still read right_only — inspecting wind[right_key].isNull()
    # would misattribute it as left_only
    ifind = ifind.withColumn("__from_left", F.lit(1))
    wind = wind.withColumn("__from_right", F.lit(1))
    cond = None
    for lk, rk in zip(left_on, right_on):
        c = ifind[lk] == wind[rk]
        cond = c if cond is None else (cond & c)
    joined = ifind.join(wind, cond, "full_outer")
    indicator = (F.when(F.col("__from_right").isNull(), "left_only")
                  .when(F.col("__from_left").isNull(), "right_only")
                  .otherwise("both").alias("indicator_column"))

    outputs, flags = mk.compile_rule_table(rules)
    merged = joined.select(*outputs.values(), indicator)
    key_pairs = list(zip(left_on, right_on))
    keys = [outputs[out] for out, (_, _, src, _) in rules.items()
            if (src.get("left"), src.get("right")) in key_pairs]
    return merged, mk.conflict_audit(joined, keys, flags) if audit else None


def materialize_continuous_selection(spark, cd: DataFrame, path: str) -> DataFrame:
    """E3 as a DAG with a stored intermediate: run the stateful contract
    selection ONCE, publish it partitioned by instrument_type, and return the
    parquet-backed reader every downstream job (main/sec join, factor chains,
    adjusted md) joins against.

    Mirrors the reference, which stores wind_future_continuous_* per type and
    reads it back for every consumer (tasks/wind/future_reorg/
    reorg_md_2_db.py:130-193) instead of re-running the selection walk. Here
    that means exactly one FlatMapGroupsInPandas across the whole derived-
    analytics DAG; consumers plan plain scans with pushdown/pruning. The
    per-type dynamic partition overwrite matches the reference's
    delete-then-insert-per-type refresh, so rebuilding one instrument_type
    never touches the others' files.
    """
    from .operators import continuous, upsert

    sel = continuous.select_contracts(cd)
    upsert.overwrite_partitions(sel, path, ["instrument_type"])
    return spark.read.parquet(path)


def continuous_analytics_from(selected: DataFrame, cd: DataFrame) -> dict[str, DataFrame]:
    """Every selection consumer, built from the materialized table: the
    reference's reorg job family (main/sec join, division- and diff-method
    adjusted series) sharing one stored selection."""
    from .operators import continuous

    return {
        "main_sec": continuous.main_sec_join(selected, cd),
        "adjusted_division": continuous.adjusted_md(
            continuous.adj_factor_chain(selected, method="division"),
            method="division"),
        "adjusted_diff": continuous.adjusted_md(
            continuous.adj_factor_chain(selected, method="diff"),
            method="diff"),
    }
