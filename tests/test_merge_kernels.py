"""Merge-kernel null×NaN matrix — reproduces the reference's is_not_nan_or_none
semantics (/root/reference tasks/merge/__init__.py:14-95) as Column exprs."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark import pipelines
from data_integration_celery_spark.functions import merge_kernels as mk


def _run(spark, kernel, pairs):
    nan = float("nan")
    df = spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(pairs)], "i int, l double, r double")
    rows = (df.select("i", kernel(F.col("l"), F.col("r")).alias("out"))
              .orderBy("i").collect())
    return [r["out"] for r in rows]


PAIRS = [(1.0, 2.0), (1.0, None), (None, 2.0), (None, None),
         (float("nan"), 2.0), (1.0, float("nan")), (float("nan"), float("nan"))]


def test_prefer_left(spark):
    assert _run(spark, mk.prefer_left, PAIRS) == [1.0, 1.0, 2.0, None, 2.0, 1.0, None]


def test_prefer_right(spark):
    assert _run(spark, mk.prefer_right, PAIRS) == [2.0, 1.0, 2.0, None, 2.0, 1.0, None]


def test_mean_value(spark):
    assert _run(spark, mk.mean_value, PAIRS) == [1.5, 1.0, 2.0, None, 2.0, 1.0, None]


def test_mean_value_warning(spark):
    df = spark.createDataFrame([(100.0, 100.005), (100.0, 150.0), (None, 150.0)],
                               "l double, r double")
    flags = [r[0] for r in df.select(
        mk.mean_value_warning(F.col("l"), F.col("r"), 0.01)).collect()]
    assert flags == [False, True, False]


def test_max_up_or_down_conflict_codes(spark):
    # reference encoding (tasks/merge/stock.py:187-227): equal → value;
    # one-sided → other; any both-present conflict → -3; both unknown → -2
    pairs = [(1.0, 1.0), (1.0, None), (None, -1.0), (1.0, -1.0), (-1.0, 1.0),
             (None, None)]
    assert _run(spark, mk.max_up_or_down, pairs) == [1.0, 1.0, -1.0, -3.0, -3.0, -2.0]


def test_compile_merge_rules(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0), (2, None, 5.0)],
                               "k int, a double, b double")
    out = mk.compile_merge_rules(
        df,
        {"merged": ("double", "mean_value", {"left": "a", "right": "b"}),
         "raw": ("double", "get_value", {"col": "b"})},
        key_cols=["k"])
    rows = {r["k"]: (r["merged"], r["raw"]) for r in out.collect()}
    assert rows == {1: (15.0, 20.0), 2: (5.0, 5.0)}


def test_max_up_or_down_labels_decode(spark):
    # string-label decode matrix (stock.py:187-227) incl. the dead
    # '非涨跌停' tuple-compare branch and invalid wind codes
    df = spark.createDataFrame(
        [("涨停", 1.0), ("跌停", 1.0), ("非涨跌停", None), ("停牌", 7.0),
         (None, 0.0), (None, None)],
        "lbl string, mud double")
    got = [r["c"] for r in df.select(
        mk.max_up_or_down_labels(F.col("lbl"), F.col("mud")).alias("c")
    ).collect()]
    assert got == [1.0, -3.0, -2.0, -2.0, 0.0, -2.0]


def test_fuzzy_canonicalize_first_match_and_fallthrough(spark):
    from data_integration_celery_spark.functions import cleaning

    df = spark.createDataFrame(
        [("Large BRASS widget",), ("brass and copper mix",),
         ("Titanium Thing",)], "s string")
    got = [r["c"] for r in df.select(
        cleaning.fuzzy_canonicalize(F.col("s"), ["brass", "copper"])
        .alias("c")).collect()]
    # first-containment-wins; unmatched falls through to lower(value)
    assert got == ["brass", "brass", "titanium thing"]


def test_rename_columns_by_dic(spark):
    from data_integration_celery_spark.functions import cleaning

    df = spark.createDataFrame([(1, 2.0, "x")],
                               ["CoinPriceUSD", "volume24h", "Misc"])
    out = cleaning.rename_columns_by_dic(df, ["price_usd", "volume"])
    assert out.columns == ["coinpriceusd", "volume", "misc"]

    import pytest
    with pytest.raises(ValueError):
        cleaning.rename_columns_by_dic(
            df.toDF("price_a", "price_b", "m"), ["price"])


def _via_compile_merge_rules(left, right, rules):
    j = left.alias("l").join(right.alias("r"), "k", "full_outer")
    return mk.compile_merge_rules(
        j, {out: (dtype, kernel, {"left": f"l.{out}", "right": f"r.{out}"})
            for out, (dtype, kernel, _) in rules.items()},
        key_cols=["k"])


def _via_merge_vendor_daily(left, right, rules):
    return pipelines.merge_vendor_daily(left, right, ["k"], rules)[0]


@pytest.mark.parametrize("merge", [_via_compile_merge_rules,
                                   _via_merge_vendor_daily],
                         ids=["compile_merge_rules", "merge_vendor_daily"])
def test_compile_merge_rules_non_numeric_prefer(spark, merge):
    """Date- and string-typed prefer_* rules (the reference's trade_date
    and unique_code shapes) must compile via the *_any coalesce variants
    through every merge front end: the numeric kernels'
    isnan(cast('double')) probe does not analyze for DATE and fails at
    run time for STRING."""
    schema = "k int, trade_date date, name string"
    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 2), "x1"), (2, None, None),
         (3, dt.date(2024, 1, 4), "x3")], schema)
    right = spark.createDataFrame(
        [(1, None, None), (2, dt.date(2024, 1, 3), "y2"),
         (3, dt.date(2024, 1, 5), "y3")], schema)
    out = {r["k"]: (r["trade_date"], r["name"]) for r in merge(
        left, right, {"trade_date": ("date", "prefer_left", None),
                      "name": ("string", "prefer_right", None)}).collect()}
    assert out == {1: (dt.date(2024, 1, 2), "x1"),
                   2: (dt.date(2024, 1, 3), "y2"),
                   3: (dt.date(2024, 1, 4), "y3")}


def test_merge_front_ends_agree(spark):
    """merge_vendor_daily (same-name columns) and merge_stock_daily (renamed
    keys and values, equivalent rules) compile through one rule-table
    compiler, so on the same vendor rows they give identical merged values
    and *_conflict flags — including a string prefer_left column, a
    one-sided get_value column and a toleranced prefer_left rule, which
    flags nothing."""
    d, nan = dt.date(2024, 1, 2), float("nan")
    cols = ("code string, trade_date date, name string, open double, "
            "close double, vol double, pe double")
    left = spark.createDataFrame(
        [("A", d, "Alpha", 10.0, 11.0, 100.0, None),
         ("B", d, "Beta", 30.0, 31.0, 300.0, 3.0),
         ("D", d, None, 20.0, nan, 200.0, 4.0)], cols)
    right = spark.createDataFrame(
        [("A", d, "ALPHA-B", 10.8, 12.0, 100.5, 8.0, 1.5),
         ("C", d, "Gamma", 40.0, 41.0, 400.0, 5.0, 2.5),
         ("D", d, "Delta", 20.1, 21.0, 205.0, 6.0, 3.5)], cols + ", pb double")
    vendor_rules = {"name": ("string", "prefer_left", None),
                    "open": ("double", "mean_value", 0.5),
                    "close": ("double", "prefer_left", 0.01),
                    "vol": ("double", "mean_value", 1.0),
                    "pe": ("double", "prefer_right", None),
                    "pb": ("double", "mean_value", 0.5)}
    v_merged, v_conflicts = pipelines.merge_vendor_daily(
        left, right, ["code", "trade_date"], vendor_rules)

    values = ["name", "open", "close", "vol", "pe"]
    ifind = left.toDF("ths_code", "time", *[f"{c}_x" for c in values])
    wind = right.toDF("wind_code", "trade_date", *[f"{c}_y" for c in values],
                      "pb")
    stock_rules = {
        "code": ("string", "prefer_left",
                 {"left": "ths_code", "right": "wind_code"}, None),
        "trade_date": ("date", "prefer_left",
                       {"left": "time", "right": "trade_date"}, None),
        **{c: (dtype, kernel, {"left": f"{c}_x", "right": f"{c}_y"}, tol)
           for c, (dtype, kernel, tol) in vendor_rules.items() if c != "pb"},
        "pb": ("double", "get_value", {"col": "pb"}, None)}
    s_merged, s_conflicts = pipelines.merge_stock_daily(
        ifind, wind, rules=stock_rules)

    def rows(df):
        return {r["code"]: {k: v for k, v in r.asDict().items()
                            if k != "indicator_column"}
                for r in df.collect()}

    merged = rows(v_merged)
    assert merged == rows(s_merged)
    assert merged["A"]["name"] == "Alpha" and merged["D"]["name"] == "Delta"
    assert merged["D"]["close"] == 21.0 and merged["C"]["pb"] == 2.5
    assert v_conflicts.columns == s_conflicts.columns == [
        "code", "trade_date", "open_conflict", "vol_conflict"]
    conflicts = rows(v_conflicts)
    assert conflicts == rows(s_conflicts)
    assert conflicts == {
        "A": {"code": "A", "trade_date": d, "open_conflict": True,
              "vol_conflict": False},
        "D": {"code": "D", "trade_date": d, "open_conflict": False,
              "vol_conflict": True}}


def test_vendor_merge_prefer_with_tolerance_emits_no_conflict(spark):
    """The reference's prefer_* kernels IGNORE the accuracy field, so a
    toleranced prefer_left rule must not contribute conflict audit rows —
    only mean_value rules do (merge_stock_daily already enforced this;
    merge_vendor_daily now matches)."""
    from data_integration_celery_spark import pipelines

    left = spark.createDataFrame(
        [("A", 10.0, 1.0)], "code string, close double, vol double")
    right = spark.createDataFrame(
        [("A", 99.0, 1.0)], "code string, close double, vol double")
    merged, conflicts = pipelines.merge_vendor_daily(
        left, right, ["code"],
        {"close": ("double", "prefer_left", 0.01),
         "vol": ("double", "mean_value", 0.01)})
    assert conflicts is not None
    cols = conflicts.columns
    assert "vol_conflict" in cols and "close_conflict" not in cols
    # close disagreed wildly but prefer_left logs nothing for it
    assert merged.collect()[0]["close"] == 10.0
