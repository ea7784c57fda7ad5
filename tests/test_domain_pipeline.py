"""End-to-end domain pipeline on finance-shaped fixtures: contract parsing,
two-vendor merge with conflict side-output, continuous contracts on real
codes, calendar alignment, orchestrated by the DAG runner — the reference's
daily run (E1→E2→E3) as one Spark pipeline."""

import datetime as dt

from pyspark.sql import functions as F

from data_integration_celery_spark.functions import contracts, merge_kernels as mk
from data_integration_celery_spark.operators import asof, calendar as cal_ops
from data_integration_celery_spark.operators import continuous, windows
from data_integration_celery_spark.plans import Job, Pipeline
from tests import fixtures


def test_contract_parsing_goldens(spark):
    df = spark.createDataFrame(
        [("RB2101.SHF",), ("SR607.CZC",), ("SR001.CZC",), ("cu9912.SHF",)],
        "code string")
    out = {r["code"]: r for r in df.select(
        "code",
        contracts.instrument_type(F.col("code")).alias("t"),
        contracts.delivery_ym(F.col("code"), reference_year=2016).alias("ym"),
        contracts.exchange(F.col("code")).alias("ex")).collect()}
    assert out["RB2101.SHF"]["t"] == "RB" and out["RB2101.SHF"]["ym"] == 202101
    assert out["RB2101.SHF"]["ex"] == "SHF"
    # CZC 3-digit with reference 2016: '607' → 2016-07; '001' → 2010-01
    assert out["SR607.CZC"]["ym"] == 201607
    assert out["SR001.CZC"]["ym"] == 201001
    # century pivot for the 4-digit 99xx codes
    assert out["cu9912.SHF"]["t"] == "CU" and out["cu9912.SHF"]["ym"] == 199912


def test_vendor_merge_with_conflicts(spark):
    a = fixtures.vendor_daily(spark, "A")
    b = fixtures.vendor_daily(spark, "B")
    joined = (a.alias("a").join(b.alias("b"), ["code", "trade_date"], "full_outer")
              .select("code", "trade_date",
                      F.col("a.close").alias("close_a"),
                      F.col("b.close").alias("close_b"),
                      F.col("a.vol").alias("vol_a"),
                      F.col("b.vol").alias("vol_b")))
    merged = joined.select(
        "code", "trade_date",
        mk.mean_value(F.col("close_a"), F.col("close_b")).alias("close"),
        mk.prefer_left(F.col("vol_a"), F.col("vol_b")).alias("vol"),
        mk.mean_value_warning(F.col("close_a"), F.col("close_b"), 0.5)
          .alias("conflict"))
    n_total = merged.count()
    n_conflict = merged.where("conflict").count()
    # union covers both vendors' outages; disagreements surface as side-output
    assert n_total > a.count() and n_total > b.count()
    assert 0 < n_conflict < 0.2 * n_total
    # where both vendors agree, merged == vendor value (within half-tolerance)
    agree = (merged.select("code", "trade_date",
                           F.col("close").alias("m_close"), "conflict")
             .join(a.select("code", "trade_date", F.col("close").alias("a_close")),
                   ["code", "trade_date"])
             .where(~F.col("conflict") & F.col("a_close").isNotNull()
                    & F.col("m_close").isNotNull()))
    bad = agree.where(F.abs(F.col("m_close") - F.col("a_close")) > 0.26).count()
    assert bad == 0


def test_continuous_on_domain_codes(spark):
    fd = fixtures.future_daily(spark)
    cd = fd.select(
        contracts.instrument_type(F.col("code")).alias("instrument_type"),
        F.col("trade_date").cast("timestamp").alias("trade_date"),
        contracts.delivery_ym(F.col("code"), reference_year=2020)
            .cast("long").alias("contract"),
        "vol", "close")
    sel = continuous.select_contracts(cd)
    out = sel.orderBy("instrument_type", "trade_date").collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["instrument_type"], []).append(r)
    assert set(by_type) == {"RB", "SR"}
    for rows in by_type.values():
        mains = [r["main_contract"] for r in rows]
        # monotonic never-retreat, and volume migration forces ≥1 switch
        assert all(x <= y for x, y in zip(mains, mains[1:]))
        assert sum(r["switch_flag"] for r in rows) >= 1
        for r in rows:
            if r["sec_contract"] is not None:
                assert r["sec_contract"] > r["main_contract"]


def test_daily_run_dag(spark, tmp_path):
    """E1→E2→E3 as an orchestrated pipeline writing a small parquet lake."""
    lake = str(tmp_path)
    state = {}

    def import_vendors(s):
        state["a"] = fixtures.vendor_daily(s, "A")
        state["b"] = fixtures.vendor_daily(s, "B")

    def merge(s):
        j = (state["a"].alias("a")
             .join(state["b"].alias("b"), ["code", "trade_date"], "full_outer"))
        merged = j.select(
            "code", "trade_date",
            mk.mean_value(F.col("a.close"), F.col("b.close")).alias("close"))
        merged.write.mode("overwrite").parquet(f"{lake}/merged")

    def analytics(s):
        m = s.read.parquet(f"{lake}/merged")
        ff = windows.ffill(m, ["close"], partition="code",
                           order=["trade_date"])
        ff.write.mode("overwrite").parquet(f"{lake}/analytics")

    results = Pipeline([
        Job("import", import_vendors),
        Job("merge", merge, depends_on=["import"]),
        Job("analytics", analytics, depends_on=["merge"]),
    ]).run(spark)
    assert all(r.ok for r in results.values())
    out = spark.read.parquet(f"{lake}/analytics")
    assert out.count() > 0
    # ffill never leaves a missing close after the first observation per code
    w_ok = out.groupBy("code").agg(
        F.sum(F.col("close").isNull().cast("int")).alias("nulls"))
    assert w_ok.agg(F.max("nulls")).collect()[0][0] <= 2


def test_continuous_reorg_dag_end_to_end(spark, tmp_path):
    """E3 as a DAG: selection materialized once (job 1), three consumers run
    as one concurrent wave off the stored table; results match the registry
    queries that compute the same thing standalone."""
    from data_integration_celery_spark.plans.reorg import continuous_reorg_pipeline
    from data_integration_celery_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    wd = str(tmp_path / "reorg")
    pipe = continuous_reorg_pipeline(sf, wd)
    results = pipe.run(spark)
    assert all(r.ok for r in results.values()), {
        n: r.error for n, r in results.items() if not r.ok}

    j14 = spark.read.parquet(f"{wd}/main_sec")
    cols = ["instrument_type", "trade_date", "main_contract",
            "main_close", "sec_contract", "sec_close"]
    got = sorted(tuple(r[c] for c in cols) for r in j14.collect())
    want = sorted(tuple(r[c] for c in cols)
                  for r in QUERIES["j14_main_sec_join"].spark(spark, sf).collect())
    assert got == want
    diff = spark.read.parquet(f"{wd}/adjusted_diff")
    assert diff.count() == spark.read.parquet(f"{wd}/continuous_selection").count()


def test_selection_scoring_pipeline(spark, tmp_path):
    """E-family LM scoring DAG (train → publish bucketed model → score →
    CCNet split): end-to-end results match the in-memory composition, and
    the bucketed-by-c1 model layout removes BOTH model-side exchanges
    from the scoring plan (the 'no Exchange on the model side' contract —
    the bucket shuffle is paid once at publish time)."""
    import re

    from data_integration_celery_spark.operators import selection
    from data_integration_celery_spark.plans.reorg import (
        selection_scoring_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    wd = str(tmp_path / "sel")
    table = "lm_ref_model_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        pipe = selection_scoring_pipeline(sf, wd, model_table=table,
                                          buckets=8)
        results = pipe.run(spark)
        assert all(r.ok for r in results.values()), {
            n: r.error for n, r in results.items() if not r.ok}

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        model_mem = selection.train_bigram_lm(docs.where(F.col("lang") == "en"))
        want = {r.doc_id: (r.n_bigrams, r.cross_entropy) for r in
                selection.lm_cross_entropy(docs, model_mem).collect()}
        got = {r.doc_id: (r.n_bigrams, r.cross_entropy) for r in
               spark.read.parquet(f"{wd}/lm_scores").collect()}
        assert got == want  # reloaded bucketed model scores bit-identically

        split = spark.read.parquet(f"{wd}/ccnet_split")
        labels = {r.split for r in split.select("split").distinct().collect()}
        assert labels == {"head", "middle", "tail"}

        # plan contract: with broadcast off, the bucketed model joins with
        # ZERO model-side exchanges — exactly two fewer than a plain-
        # parquet model (bigram (c1,c2) join + context c1 join)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode

            def n_exchanges(m):
                df = selection.lm_cross_entropy(docs, m)
                s = df._jdf.queryExecution().explainString(
                    jvm_mode.fromString("formatted"))
                return len(re.findall(r"\) Exchange", s)), s

            model_plain = model_mem
            model_plain.write.mode("overwrite") \
                .parquet(str(tmp_path / "plain_model"))
            nb, plan_b = n_exchanges(spark.table(table))
            np_, _ = n_exchanges(
                spark.read.parquet(str(tmp_path / "plain_model")))
            assert "SelectedBucketsCount" in plan_b or "Bucketed: true" in plan_b
            assert nb == np_ - 2, (nb, np_)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pipeline_reports_dependency_cycle_distinctly(spark):
    """A genuine cycle must be reported as such even when an unrelated job
    failed — previously any failure relabeled the whole stuck subgraph
    'skipped: upstream failed', hiding the cycle."""
    def boom(s):
        raise RuntimeError("boom")

    def ok(s):
        return None

    results = Pipeline([
        Job("a", boom),
        Job("b", ok, depends_on=["c"]),
        Job("c", ok, depends_on=["b"]),
        Job("d", ok, depends_on=["a"]),
    ]).run(spark)
    assert not results["a"].ok
    assert results["d"].error == "skipped: upstream failed"
    assert results["b"].error == "dependency cycle"
    assert results["c"].error == "dependency cycle"


def test_pipeline_job_starts_when_its_own_dependencies_finish(spark):
    """``after_fast`` depends only on ``fast``: it must start while the
    unrelated ``slow`` job still runs, not after it. ``slow`` waits for
    ``after_fast`` to signal, so any barrier between unrelated jobs makes
    it time out."""
    import threading

    signal = threading.Event()
    seen = {}

    def slow(s):
        seen["slow"] = signal.wait(timeout=10)

    results = Pipeline([
        Job("slow", slow),
        Job("fast", lambda s: None),
        Job("after_fast", lambda s: signal.set(), depends_on=["fast"]),
    ], max_parallel=3).run(spark)
    assert all(r.ok for r in results.values()), results
    assert seen["slow"]


def test_pipeline_skip_is_transitive_and_spares_independent_jobs(spark):
    """A failure skips its whole downstream chain — even when the chain is
    listed before the failing job — while an unrelated job still runs."""
    ran = []

    def ok(name):
        return lambda s: ran.append(name)

    def boom(s):
        raise RuntimeError("boom")

    results = Pipeline([
        Job("c", ok("c"), depends_on=["b"]),
        Job("b", ok("b"), depends_on=["a"]),
        Job("a", boom),
        Job("x", ok("x")),
    ], max_parallel=1).run(spark)
    assert not results["a"].ok
    assert results["b"].error == "skipped: upstream failed"
    assert results["c"].error == "skipped: upstream failed"
    assert results["x"].ok and ran == ["x"]
