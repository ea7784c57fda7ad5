"""Driver-contract smoke tests."""

import sys
from pathlib import Path

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parents[1]


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_and_oracles_aligned(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_every_query_runs_sf0001(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_registry_priority_order():
    """The driver gates only a prefix of the registry (first 50). Every
    exact-oracle query that has never earned a green driver CORRECTNESS row
    (derived from the CORRECTNESS_r*.json history, so this test maintains
    itself across rotations) must sit in the first 50 slots; banked greens
    and no-oracle approximates go to the tail."""
    import glob
    import json

    from data_integration_celery_spark.queries import QUERIES, QUERY_PRIORITY
    names = list(QUERIES)
    assert names[:len(QUERY_PRIORITY)] == QUERY_PRIORITY
    # the gate-prefix size lives in ONE place (the stale tool) so the
    # report's IN-WINDOW annotation and this enforcement can never disagree
    sys.path.insert(0, str(ROOT / "tools"))
    from check_correctness import WINDOW, stale_names
    first50 = set(names[:WINDOW])

    import __spark_entry__ as entry_mod
    osql = entry_mod.oracle_sql()
    banked = set()
    for f in glob.glob(str(ROOT / "CORRECTNESS_r*.json")):
        for name, row in json.load(open(f)).items():
            if row.get("hash_match"):
                banked.add(name)
    never_checked = {n for n in names if n in osql} - banked
    assert never_checked <= first50, never_checked - first50
    # no gated slot may be wasted on a rows-only (no-oracle) query
    assert all(n in osql for n in names[:WINDOW]), \
        [n for n in names[:WINDOW] if n not in osql]
    # evidence-freshness policy, consumed mechanically. The report
    # (--stale 3) lists what is DUE for rotation; this test enforces the
    # hard ceiling one round later (age >= 4), so the suite only goes red
    # when a rotation round was actually skipped — not transiently at
    # round start when fresh CORRECTNESS_r*.json ages a tail cohort to
    # exactly 3 before the build session has had a chance to rotate.
    overdue = {name for _age, name, _lg in stale_names(4)}
    assert overdue <= first50, sorted(overdue - first50)
