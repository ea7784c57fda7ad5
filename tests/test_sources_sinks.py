"""Vendor-connector pattern, file sources, export sinks, DAG runner."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark import catalog
from data_integration_celery_spark.plans import Job, Pipeline
from data_integration_celery_spark.sinks import (export_csv, export_per_key,
                                                 replicate_incremental)
from data_integration_celery_spark.sources import vendor


def test_fetch_distributed(spark):
    ranges = spark.createDataFrame(
        [("A", 1, 3), ("B", 2, 4)], "code string, date_from int, date_to int")

    def fake_fetch(code, lo, hi):
        return pd.DataFrame({"code": code, "d": range(lo, hi + 1),
                             "v": [float(x) for x in range(lo, hi + 1)]})

    out = vendor.fetch_distributed(ranges, fake_fetch,
                                   "code string, d long, v double")
    got = {(r["code"], r["d"]): r["v"] for r in out.collect()}
    assert len(got) == 6 and got[("B", 4)] == 4.0


def test_with_retry_recovers_then_raises():
    calls = {"n": 0}

    def flaky(code, lo, hi):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("vendor flake")
        return pd.DataFrame({"code": [code]})

    got = vendor.with_retry(flaky, tries=5, base_sleep=0)("X", 0, 0)
    assert len(got) == 1 and calls["n"] == 3

    def dead(code, lo, hi):
        raise RuntimeError("always down")

    with pytest.raises(RuntimeError, match="always down"):
        vendor.with_retry(dead, tries=2, base_sleep=0)("X", 0, 0)


def test_export_per_key_fanout(spark, sf_dir, tmp_path):
    orders = catalog.load(spark, "orders", sf_dir).limit(200)
    path = str(tmp_path / "fanout")
    export_per_key(orders, path, key_col="o_orderstatus",
                   column_map={"o_orderkey": "id", "o_orderstatus": "o_orderstatus",
                               "o_totalprice": "px"}, order_col="id")
    back = spark.read.parquet(path)
    assert sorted(back.columns) == ["id", "o_orderstatus", "px"]
    assert back.count() == 200


def test_export_csv_single_file(spark, sf_dir, tmp_path):
    path = str(tmp_path / "csv_out")
    export_csv(catalog.load(spark, "region", sf_dir), path, single_file=True)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 5


def test_replicate_incremental(spark, tmp_path):
    target = str(tmp_path / "replica")
    src1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "d int, v double")
    replicate_incremental(spark, src1, target, watermark_col="d")
    src2 = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "d int, v double")
    replicate_incremental(spark, src2, target, watermark_col="d")
    got = sorted(r["d"] for r in spark.read.parquet(target).collect())
    assert got == [1, 2, 3]  # second pass appended only d=3


def test_pipeline_chain_group_and_failure(spark):
    ran = []

    def ok(name):
        def fn(s):
            ran.append(name)
        return fn

    def boom(s):
        raise RuntimeError("boom")

    jobs = [
        Job("extract", ok("extract")),
        Job("merge_a", ok("merge_a"), depends_on=["extract"]),
        Job("merge_b", ok("merge_b"), depends_on=["extract"]),
        Job("bad", boom, depends_on=["extract"]),
        Job("report", ok("report"), depends_on=["merge_a", "merge_b"]),
        Job("downstream_of_bad", ok("nope"), depends_on=["bad"]),
    ]
    results = Pipeline(jobs, max_parallel=3).run(spark)
    assert results["extract"].ok and results["report"].ok
    assert not results["bad"].ok
    assert not results["downstream_of_bad"].ok
    assert "skipped" in results["downstream_of_bad"].error
    assert "nope" not in ran
    assert ran.index("extract") == 0


def test_bisect_ranges_splits_bursts_no_gaps_no_dupes():
    """A 40-day range with a 3-day burst above the cap: every day's rows are
    fetched exactly once, burst windows get recursively halved, and an
    unsplittable 1-day burst is flagged truncated."""
    import datetime as dt
    import pandas as pd
    from data_integration_celery_spark.sources import vendor

    d0 = dt.date(2021, 1, 1)
    burst = {dt.date(2021, 1, 13), dt.date(2021, 1, 14), dt.date(2021, 1, 25)}

    def rows_for(day):
        return 5000 if day in burst else 10

    calls = []

    def fake_fetch(code, lo, hi):
        calls.append((lo, hi))
        days, day = [], lo + dt.timedelta(days=1)
        while day <= hi:
            days.extend([day] * rows_for(day))
            day += dt.timedelta(days=1)
        return pd.DataFrame({"day": days})

    out = list(vendor.bisect_ranges(fake_fetch, "X", d0, d0 + dt.timedelta(days=40),
                                    step=20, row_limit=3000))
    # no window wider than necessary was kept at the cap without splitting
    kept = pd.concat([df for df, _, _, _ in out if df is not None])
    per_day = kept.groupby("day").size()
    for day, n in per_day.items():
        assert n == rows_for(day), f"{day}: {n}"
    # burst days survived only inside 1-day windows, flagged truncated
    truncated = [(lo, hi) for _, lo, hi, t in out if t]
    assert truncated and all((hi - lo).days == 1 for lo, hi in truncated)
    # and the wrapper concats to the same multiset of rows
    wrapped = vendor.fetch_bisected(fake_fetch, step=20, row_limit=3000)
    total = wrapped("X", d0, d0 + dt.timedelta(days=40))
    assert len(total) == len(kept)


def test_fetch_distributed_with_bisection(spark):
    """End-to-end S2 path: the capped fetcher wrapped by fetch_bisected runs
    inside mapInPandas — executors split burst ranges themselves, the driver
    never loops."""
    import datetime as dt
    import pandas as pd
    from data_integration_celery_spark.sources import vendor

    d0 = dt.date(2021, 1, 1)

    def capped_fetch(code, lo, hi):
        days, day = [], lo + dt.timedelta(days=1)
        while day <= hi:
            n = 50 if (code, day.day) == ("B", 5) else 2
            days.extend([day] * n)
            day += dt.timedelta(days=1)
        df = pd.DataFrame({"code": code, "day": days})
        return df.head(40)  # vendor cap: silently truncates past 40 rows

    ranges = spark.createDataFrame(
        [("A", d0, d0 + dt.timedelta(days=10)),
         ("B", d0, d0 + dt.timedelta(days=10))],
        "code string, date_from date, date_to date")
    out = vendor.fetch_distributed(
        ranges, vendor.fetch_bisected(capped_fetch, step=10, row_limit=40),
        "code string, day date").collect()
    per_code = {}
    for r in out:
        per_code[r["code"]] = per_code.get(r["code"], 0) + 1
    # A: 10 days x 2 rows, no cap hit. B: bisection recovers every normal
    # day; the burst day alone exceeds the cap even as a 1-day window, so
    # its rows stay vendor-truncated at 40 (the reference's "manual
    # completion needed" case — flagged, not silently lost wholesale).
    assert per_code["A"] == 20
    assert per_code["B"] == 9 * 2 + 40


def test_compact_table_unpartitioned(spark, tmp_path):
    """20 tiny appended files bin-pack into 1; rows byte-identical."""
    from data_integration_celery_spark import sinks

    path = str(tmp_path / "tiny")
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).withColumn("v", F.col("id") * 2.0) \
            .coalesce(1).write.mode("append").parquet(path)
    before = spark.read.parquet(path).orderBy("id").collect()
    assert len(sinks.list_data_files(spark, path)) == 20

    n_after = sinks.compact_table(spark, path, target_file_mb=128)
    assert n_after == 1
    assert spark.read.parquet(path).orderBy("id").collect() == before


def test_compact_table_publish_is_crash_recoverable(spark, tmp_path):
    """Unpartitioned compaction publishes via the write_upsert staging+
    backup rename protocol: at every instant a complete table exists at
    path or path__backup. Simulate the worst crash window (between the two
    renames — table parked at backup) and verify both recover_table and
    the next compact_table heal it; and a completed compaction leaves no
    protocol directories behind."""
    import os

    from data_integration_celery_spark import lake, sinks

    path = str(tmp_path / "crashy")
    for i in range(4):
        spark.range(i * 5, i * 5 + 5).coalesce(1) \
            .write.mode("append").parquet(path)
    before = set(r["id"] for r in spark.read.parquet(path).collect())

    # clean run leaves no __staging/__backup residue
    sinks.compact_table(spark, path, target_file_mb=128)
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__backup")
    assert set(r["id"] for r in spark.read.parquet(path).collect()) == before

    # crash window: path renamed away, staging not yet promoted
    lake.rename(spark, path, path + "__backup")
    assert not os.path.exists(path)
    n = sinks.compact_table(spark, path, target_file_mb=128)  # self-heals
    assert n >= 1
    assert set(r["id"] for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + "__backup")


def test_compact_table_partitioned(spark, tmp_path):
    """Partitioned compaction: one file per partition afterwards, data
    unchanged, and partitions absent from the table are not invented."""
    from data_integration_celery_spark import sinks

    path = str(tmp_path / "bydate")
    for i in range(6):
        (spark.range(100)
         .withColumn("dt", F.when(F.col("id") % 2 == 0, "2020-01-01")
                            .otherwise("2020-01-02"))
         .withColumn("v", F.col("id") + i * 1000)
         .repartition(4)
         .write.mode("append").partitionBy("dt").parquet(path))
    before = sorted((r["id"], r["dt"], r["v"])
                    for r in spark.read.parquet(path).collect())
    assert len(sinks.list_data_files(spark, path)) > 2

    n_after = sinks.compact_table(spark, path, partition_cols=["dt"])
    assert n_after == 2  # one file per date partition
    after = sorted((r["id"], r["dt"], r["v"])
                   for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_table_keeps_partition_layout_by_default(spark, tmp_path):
    """compact_table without partition_cols keeps a partitioned table's
    hive layout. Rewriting it flat would put the next partitioned upsert's
    ``dt=…`` directory beside the flat files, and reads would then see only
    that directory. A partition_cols list that differs from the layout
    raises."""
    import pytest

    from data_integration_celery_spark import sinks
    from data_integration_celery_spark.operators import upsert

    path = str(tmp_path / "bydt")
    rows = (spark.range(20).withColumn("dt", F.col("id") % 2)
            .withColumn("v", F.col("id") * 1.0))
    upsert.write_upsert_partitioned(spark, rows, path, keys=["id"],
                                    partition_cols=["dt"])
    n_after = sinks.compact_table(spark, path)
    upd = spark.createDataFrame([(0, 0, 99.0)], "id long, dt long, v double")
    upsert.write_upsert_partitioned(spark, upd, path, keys=["id"],
                                    partition_cols=["dt"])
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 20 and got[0] == 99.0
    assert n_after == 2  # one file per date partition
    with pytest.raises(ValueError, match="layout"):
        sinks.compact_table(spark, path, partition_cols=["v"])


def test_compact_table_honors_target_size(spark, tmp_path):
    """Bin-packing respects target_file_mb: a table larger than the target
    packs into ceil(total/target) files, each near the target size — not
    into one giant file."""
    from data_integration_celery_spark import sinks

    path = str(tmp_path / "sized")
    # ~8 MB of incompressible-ish data in 16 small files
    for i in range(16):
        (spark.range(60_000)
         .withColumn("payload",
                     F.md5(F.concat(F.col("id").cast("string"),
                                    F.lit(f"-{i}"))))
         .coalesce(1).write.mode("append").parquet(path))
    files = sinks.list_data_files(spark, path)
    total_mb = sum(sz for _, sz in files) / 1024 / 1024
    assert len(files) == 16

    n_after = sinks.compact_table(spark, path, target_file_mb=2)
    expect = -(-int(total_mb) // 2)  # ceil
    assert abs(n_after - expect) <= 1
    after = sinks.list_data_files(spark, path)
    assert len(after) == n_after
    # no file wildly over target (parquet encoding slack allowed)
    assert max(sz for _, sz in after) < 4 * 1024 * 1024


def test_compact_after_partitioned_upserts(spark, tmp_path):
    """S11 maintenance on the S6 sink. write_upsert_partitioned itself never
    fragments (it repartitions on the partition cols — one file per touched
    partition, asserted below); the small files come from streaming-style
    micro-batch APPENDS of disjoint keys between upserts. Compaction packs
    each partition back to one file, and a post-compaction upsert still
    merges correctly."""
    from data_integration_celery_spark import sinks
    from data_integration_celery_spark.operators import upsert

    path = str(tmp_path / "ups_compact")
    dt = (F.when(F.col("id") % 2 == 0, "2020-01-01").otherwise("2020-01-02"))
    base = (spark.range(0, 40).withColumn("dt", dt)
            .withColumn("v", F.col("id") * 1.0)
            .withColumn("batch_id", F.lit(0)))
    upsert.write_upsert_partitioned(spark, base, path, keys=["id"],
                                    partition_cols=["dt"])
    # the upsert sink is already compact: one file per partition
    assert len(sinks.list_data_files(spark, path)) == 2
    # 4 micro-batch appends of NEW key ranges fragment the partitions
    for b in range(1, 5):
        (spark.range(b * 100, b * 100 + 20).withColumn("dt", dt)
         .withColumn("v", F.col("id") * 1.0)
         .repartition(2)
         .write.mode("append").partitionBy("dt").parquet(path))
    assert len(sinks.list_data_files(spark, path)) > 2
    before = sorted((r["id"], r["dt"], r["v"])
                    for r in spark.read.parquet(path).collect())

    n_after = sinks.compact_table(spark, path, partition_cols=["dt"])
    assert n_after == 2  # one file per date partition again
    after = sorted((r["id"], r["dt"], r["v"])
                   for r in spark.read.parquet(path).collect())
    assert after == before
    # upsert semantics intact post-compaction: update two existing keys
    upd = (spark.createDataFrame([(0, 99.0), (101, 88.0)], "id long, v double")
           .withColumn("dt", dt).withColumn("batch_id", F.lit(9)))
    upsert.write_upsert_partitioned(spark, upd, path, keys=["id"],
                                    partition_cols=["dt"])
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows[0] == 99.0 and rows[101] == 88.0 and len(rows) == 120


def test_inclusive_from_adapter_fetches_the_plan_boundary_day():
    """fetch_ranges emits INCLUSIVE [date_from, date_to] plans; a
    from-EXCLUSIVE fetcher wrapped in inclusive_from must fetch the plan's
    first day instead of silently skipping one day per increment."""
    import datetime as dt
    import pandas as pd
    from data_integration_celery_spark.sources import vendor

    def exclusive_fetch(code, lo, hi):
        days, day = [], lo + dt.timedelta(days=1)   # pub_date > lo
        while day <= hi:
            days.append(day)
            day += dt.timedelta(days=1)
        return pd.DataFrame({"day": days})

    d0 = dt.date(2026, 8, 1)
    plan_from, plan_to = d0, d0 + dt.timedelta(days=3)
    raw = exclusive_fetch("X", plan_from, plan_to)
    assert d0 not in set(raw["day"])                # the silent gap
    adapted = vendor.inclusive_from(exclusive_fetch)("X", plan_from, plan_to)
    assert set(adapted["day"]) == {d0 + dt.timedelta(days=i)
                                   for i in range(4)}
