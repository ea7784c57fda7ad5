"""Cross-vendor merge kernels as pure Column expressions.

The reference merges two vendors' views of the same instrument-day with a rule
dictionary ``{out_col: (dtype, kernel, kwargs)}`` applied **row by row in
Python** (``merge_data``, reference tasks/merge/__init__.py:20-95; rule
tables tasks/merge/stock.py:52-66,121-169). That is O(rows × cols) interpreted
Python — the single hottest path in the reference.

Here every kernel is a Catalyst Column expression, so the whole merge is one
whole-stage-codegen projection over the joined frame: no Python in the loop,
same semantics (including the NaN/None matrix and the tolerance warning).
``compile_rule_table`` is the one compiler of a rule table into output
columns and conflict flags (``conflict_audit`` builds the side-output); every
merge front end only builds its joined frame and calls it.
"""

from __future__ import annotations

import operator
from collections.abc import Mapping
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ok(c: Column) -> Column:
    """is_not_nan_or_none analogue (reference tasks/merge/__init__.py:14-17).

    NULL and NaN are both "missing". isnan only applies to float types;
    callers pass numeric columns here.
    """
    return c.isNotNull() & ~F.isnan(c.cast("double"))


def _clean(c: Column) -> Column:
    """Normalise NaN → NULL so coalesce treats them identically."""
    return F.when(_ok(c), c)


def prefer_left(left: Column, right: Column) -> Column:
    """Take left when present (non-null, non-NaN), else right."""
    return F.coalesce(_clean(left), _clean(right))


def prefer_right(left: Column, right: Column) -> Column:
    return F.coalesce(_clean(right), _clean(left))


def prefer_left_any(left: Column, right: Column) -> Column:
    """prefer_left for non-float columns (strings, dates, codes): NaN cannot
    occur there, missing is NULL-only — plain coalesce, no double cast (the
    NaN probe would not even analyze for DATE inputs)."""
    return F.coalesce(left, right)


def prefer_right_any(left: Column, right: Column) -> Column:
    return F.coalesce(right, left)


def get_value(col: Column) -> Column:
    """Pass-through of a single vendor's column."""
    return col


def mean_value(left: Column, right: Column) -> Column:
    """Mean when both present, else whichever exists.

    (Reference logs a warning when |l-r| ≥ tolerance — see
    ``mean_value_warning`` below for the side-output expression.)
    """
    l, r = _clean(left), _clean(right)
    return (
        F.when(l.isNotNull() & r.isNotNull(), (l + r) / F.lit(2.0))
        .otherwise(F.coalesce(l, r))
    )


def mean_value_warning(left: Column, right: Column, tol: float) -> Column:
    """True where the two vendors disagree beyond tolerance — route to an
    audit side-output instead of a log line (reference
    tasks/merge/__init__.py:58-69, thresholds tasks/merge/stock.py:124-164)."""
    l, r = _clean(left), _clean(right)
    return l.isNotNull() & r.isNotNull() & (F.abs(l - r) >= F.lit(tol))


def max_up_or_down(left: Column, right: Column) -> Column:
    """涨跌停-label merge → {-1,0,1}; -2 both-unknown, -3 conflict.

    Reference tasks/merge/stock.py:187-227: each vendor reports a limit-move
    label; both missing → -2 ("状态不明", status unknown — distinct from 0 =
    no limit move); one missing → the other; equal → that value; both present
    and different → -3 ("状态冲突", conflict), regardless of direction.
    """
    l, r = _clean(left), _clean(right)
    return (
        F.when(l.isNull() & r.isNull(), F.lit(-2.0))
        .when(l.isNull(), r)
        .when(r.isNull(), l)
        .when(l == r, l)
        .otherwise(F.lit(-3.0))
    )


def ths_limit_label_code(label: Column) -> Column:
    """Decode the ths Chinese limit-move label to {-1, 1, NULL}
    (reference tasks/merge/stock.py:187-199): '跌停' (limit-down) → -1,
    '涨停' (limit-up) → 1, anything else → NULL.

    NOTE the reference's ``ths_val == ('非涨跌停', '停牌')`` compares a
    string against a *tuple* and is never true, so those labels (no
    limit move / suspended) also decode to None in the shipped code; we
    reproduce that actual behavior and document the dead branch rather
    than silently "fixing" the semantics.
    """
    return (F.when(label == "跌停", F.lit(-1.0))
             .when(label == "涨停", F.lit(1.0)))


def wind_limit_code(v: Column) -> Column:
    """wind ``maxupordown`` passes through only when in {1, -1, 0}
    (reference tasks/merge/stock.py:201-205); anything else → NULL."""
    return F.when(v.isin(1.0, -1.0, 0.0), v)


def max_up_or_down_labels(ths_label: Column, wind_value: Column) -> Column:
    """The full reference kernel: decode both vendors' raw limit-move
    columns (string label / numeric code), then merge with the
    {-2 unknown, -3 conflict} encoding (tasks/merge/stock.py:187-227)."""
    return max_up_or_down(ths_limit_label_code(ths_label),
                          wind_limit_code(wind_value))


KERNELS = {
    "prefer_left": prefer_left,
    "prefer_right": prefer_right,
    "prefer_left_any": prefer_left_any,
    "prefer_right_any": prefer_right_any,
    "mean_value": mean_value,
    "get_value": get_value,
    "max_up_or_down": max_up_or_down,
    "max_up_or_down_labels": max_up_or_down_labels,
}


_NON_NUMERIC = ("string", "date", "timestamp", "boolean", "binary")


def compile_rule_table(
    rules: Mapping[str, tuple[str, str, Mapping, float | None]],
) -> tuple[dict[str, Column], dict[str, Column]]:
    """The one rule-table compiler behind every cross-vendor merge.

    ``rules``: {out_col: (dtype, kernel_name, sources, tolerance)} where
    ``sources`` names columns on the joined frame: {'left', 'right'}, or
    {'col'} for the single-source get_value. Returns (outputs, flags):
    ``outputs`` maps each out_col to its kernel cast to dtype and aliased;
    ``flags`` maps ``{out}_conflict`` to the tolerance check of every
    toleranced mean_value rule. The reference's prefer_* kernels accept but
    ignore the accuracy field (tasks/merge/__init__.py:21-37), so they flag
    nothing.
    """
    outputs: dict[str, Column] = {}
    flags: dict[str, Column] = {}
    for out, (dtype, kernel, src, tol) in rules.items():
        if kernel in ("prefer_left", "prefer_right") and dtype in _NON_NUMERIC:
            # the numeric kernels NaN-probe via isnan(cast('double')), which
            # does not analyze for these types; NaN is impossible there
            # anyway, so the plain-coalesce variants apply
            kernel = kernel + "_any"
        if kernel == "get_value":
            expr = get_value(F.col(src["col"]))
        else:
            l, r = F.col(src["left"]), F.col(src["right"])
            expr = KERNELS[kernel](l, r)
            if kernel == "mean_value" and tol is not None:
                flags[f"{out}_conflict"] = mean_value_warning(l, r, tol)
        outputs[out] = expr.cast(dtype).alias(out)
    return outputs, flags


def conflict_audit(joined: DataFrame, key_cols: list[Column | str],
                   flags: Mapping[str, Column]) -> DataFrame | None:
    """The tolerance side-output: ``key_cols`` plus every flag, filtered to
    rows where any flag fired (the reference logged warnings; we emit an
    audit table). None when no rule carries a flag."""
    if not flags:
        return None
    flagged = joined.select(*key_cols, *[c.alias(n) for n, c in flags.items()])
    return flagged.where(reduce(operator.or_, map(F.col, flags)))


def compile_merge_rules(
    joined: DataFrame,
    rules: Mapping[str, tuple[str, str, Mapping]],
    key_cols: list[Column | str] | None = None,
) -> DataFrame:
    """Compile a reference-style rule dict into one select() projection.

    ``rules``: {out_col: (dtype, kernel_name, kwargs)} where kwargs carries
    'left'/'right' (or 'col' for get_value) source column names on ``joined``.
    The whole merge becomes a single codegen'd projection — the Spark-first
    replacement for the row-wise ``merge_data`` interpreter.
    """
    outputs, _ = compile_rule_table(
        {out: (*rule, None) for out, rule in rules.items()})
    return joined.select(*(key_cols or []), *outputs.values())
