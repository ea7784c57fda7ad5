"""The TxTable as a streaming SOURCE (sources/txlog_stream.py).

Covers: append-only tailing, incremental resume from the checkpoint
(exactly-once across restarts), refusal of data-changing commits,
skipChangeCommits, startingVersion, and schema-evolution nulls."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark.sinks.txlog import TxTable
from data_integration_celery_spark.sources.txlog_stream import (
    read_txlog_stream)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="txstream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark, sf_dir, lo, hi):
    return (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)))


def _drain(spark, path, tdir, name, **opts):
    """availableNow pass into a parquet file sink (recovery-capable, unlike
    the memory sink); returns a DF over everything emitted so far."""
    stream = read_txlog_stream(spark, path, **opts)
    q = (stream.writeStream.format("parquet")
         .option("path", f"{tdir}/out_{name}")
         .option("checkpointLocation", f"{tdir}/ckpt_{name}")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300), "drain still running after 300s"
    return spark.read.schema(stream.schema).parquet(f"{tdir}/out_{name}")


def _keys(df):
    return sorted(r[0] for r in df.select("o_orderkey").collect())


def test_stream_source_tails_appends_exactly_once(spark, sf_dir, tdir):
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    first = _orders(spark, sf_dir, 0, 200)
    t.create(first)

    got = _drain(spark, table, tdir, "tx_src_a")
    assert _keys(got) == _keys(first)
    assert got.columns == ["o_orderkey", "o_totalprice", "o_orderstatus"]

    # two more append commits land; the SAME checkpoint resumes and emits
    # only the new rows — offsets are table versions
    second = _orders(spark, sf_dir, 200, 300)
    third = _orders(spark, sf_dir, 300, 350)
    t.append(second)
    t.append(third)
    got = _drain(spark, table, tdir, "tx_src_a")
    want = _keys(first) + _keys(second) + _keys(third)
    assert _keys(got) == sorted(want)

    # replay with the same checkpoint and NO new commits: nothing re-emits
    got = _drain(spark, table, tdir, "tx_src_a")
    assert _keys(got) == sorted(want)


def test_stream_source_refuses_then_skips_change_commits(spark, sf_dir, tdir):
    from pyspark.errors import StreamingQueryException

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.delete_where(F.col("o_orderkey") % 2 == 0)  # DV change commit

    with pytest.raises(StreamingQueryException):
        _drain(spark, table, tdir, "tx_src_fail")

    # skipChangeCommits: the delete is skipped, the snapshot-create and a
    # later append still flow (the feed is appends-only by contract)
    extra = _orders(spark, sf_dir, 200, 240)
    t.append(extra)
    got = _drain(spark, table, tdir, "tx_src_skip",
                 skip_change_commits=True)
    assert _keys(got) == sorted(
        _keys(_orders(spark, sf_dir, 0, 200)) + _keys(extra))


def test_stream_source_starting_version_and_evolution(spark, sf_dir, tdir):
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 100))
    v1 = t.latest_version()
    widened = (_orders(spark, sf_dir, 100, 150)
               .withColumn("o_flag", F.lit("new")))
    t.append(widened, merge_schema=True)

    # startingVersion=v1 skips the initial snapshot: only the append
    got = _drain(spark, table, tdir, "tx_src_sv", starting_version=v1)
    assert _keys(got) == _keys(widened)

    # from version 0 the pre-widening file streams with o_flag = NULL
    # (the source serves the table's LATEST schema)
    got = _drain(spark, table, tdir, "tx_src_evo")
    assert "o_flag" in got.columns
    assert got.where(F.col("o_flag").isNull()).count() == 100
    assert got.where(F.col("o_flag") == "new").count() == 50


def _drain_cdc(spark, path, tdir, name, **opts):
    stream = read_txlog_stream(spark, path, mode="cdc", **opts)
    q = (stream.writeStream.format("parquet")
         .option("path", f"{tdir}/out_{name}")
         .option("checkpointLocation", f"{tdir}/ckpt_{name}")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300), "cdc drain still running after 300s"
    return spark.read.schema(stream.schema).parquet(f"{tdir}/out_{name}")


def _change_rows(df):
    cols = sorted(c for c in df.columns if c != "_commit_version")
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_cdc_delete_and_update_match_batch_changes(spark, sf_dir,
                                                          tdir):
    """mode='cdc': the stream's per-commit change rows (computed from the
    DV sidecars with pyarrow take(), no diffing) must equal the batch
    TxTable.changes() feed over the same version range."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    base = _orders(spark, sf_dir, 0, 300)
    t.create(base)
    v1 = t.latest_version()
    t.delete_where(F.col("o_orderkey") % 5 == 0)
    t.update_where(F.col("o_orderkey") % 7 == 0,
                   {"o_totalprice": "o_totalprice + 1000"})
    v3 = t.latest_version()

    got = _drain_cdc(spark, table, tdir, "cdc_main")
    # the create streams as inserts = the initial snapshot
    ins = got.where(F.col("_change") == "insert")
    assert _keys(ins) == _keys(base)
    assert ins.select("_commit_version").distinct().collect()[0][0] == v1
    # delete + update rows match the KEYED batch feed exactly (the keyed
    # diff labels update_pre/update_post like the stream; the keyless
    # multiset diff would label an update as insert+delete)
    batch = t.changes(v1, v3, keys=["o_orderkey"])
    stream_changes = got.where(F.col("_change") != "insert") \
                        .drop("_commit_version")
    assert _change_rows(stream_changes) == _change_rows(batch)
    # update emits both sides, anchored to the same commit
    pre = got.where(F.col("_change") == "update_pre")
    post = got.where(F.col("_change") == "update_post")
    assert pre.count() == post.count() > 0
    assert _keys(pre) == _keys(post)


def test_stream_cdc_maintenance_silent_and_merge_refused(spark, sf_dir,
                                                         tdir):
    from pyspark.errors import StreamingQueryException

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.delete_where(F.col("o_orderkey") % 3 == 0)
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    t.coalesce_dv()
    t.compact_dv(min_ratio=0.01)
    got = _drain_cdc(spark, table, tdir, "cdc_maint")
    # coalesce/compact_dv emit NOTHING (logical content unchanged);
    # the two deletes emit exactly the batch feed's delete rows
    assert got.where(~F.col("_change").isin("insert", "delete")).count() == 0
    assert got.where(F.col("_change") == "delete").count() == \
        t.changes(1, 3).where(F.col("_change") == "delete").count()

    # a CoW merge (removes files) is not log-recoverable per row: refused
    upd = (_orders(spark, sf_dir, 0, 50)
           .withColumn("o_totalprice", F.col("o_totalprice") + 1))
    t.merge_upsert(upd, ["o_orderkey"])
    with pytest.raises(StreamingQueryException):
        _drain_cdc(spark, table, tdir, "cdc_refuse")
    # ...and skipped under skipChangeCommits
    got2 = _drain_cdc(spark, table, tdir, "cdc_skip",
                      skip_change_commits=True)
    assert got2.count() == got.count()


def test_stream_source_snapshot_bootstrap(spark, sf_dir, tdir):
    """startingVersion='snapshot': a new subscriber of a table whose
    history was compacted AND vacuumed still bootstraps — the first batch
    is the DV-applied live set at the current version (replaying from
    version 0 would dereference deleted files), then new appends tail."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.append(_orders(spark, sf_dir, 200, 260))
    t.delete_where(F.col("o_orderkey") % 4 == 0)
    t.compact()            # drops v1/v2 files from the live set
    t.vacuum(ttl_seconds=0)
    t.vacuum(ttl_seconds=0)  # second pass prunes emptied marker dirs
    expected = _keys(t.snapshot())

    # a version-0 replay now dereferences vacuumed files: the failure the
    # snapshot mode exists to avoid
    from pyspark.errors import StreamingQueryException
    with pytest.raises(StreamingQueryException):
        _drain(spark, table, tdir, "snap_v0", skip_change_commits=True)

    got = _drain(spark, table, tdir, "snap", starting_version="snapshot")
    assert _keys(got) == expected

    # the tail keeps working: a later append arrives incrementally
    extra = _orders(spark, sf_dir, 260, 300)
    t.append(extra)
    got = _drain(spark, table, tdir, "snap")  # same checkpoint resumes
    assert _keys(got) == sorted(expected + _keys(extra))


def test_stream_source_snapshot_applies_dv(spark, sf_dir, tdir):
    """The snapshot bootstrap applies deletion vectors executor-side:
    a live file's retracted positions never reach the stream."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.delete_where(F.col("o_orderkey") % 3 == 0)  # DV only, no rewrite
    got = _drain(spark, table, tdir, "snapdv",
                 starting_version="snapshot")
    assert _keys(got) == _keys(t.snapshot())
    assert got.where(F.col("o_orderkey") % 3 == 0).count() == 0


def test_stream_append_mode_silent_on_maintenance(spark, sf_dir, tdir):
    """compact/coalesce_dv/compact_dv change no logical row: an
    append-mode subscriber of a table under routine maintenance keeps
    running (emitting nothing for those commits) WITHOUT
    skipChangeCommits — which would also swallow real change commits."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    first = _orders(spark, sf_dir, 0, 200)
    t.create(first)
    got = _drain(spark, table, tdir, "maint")
    assert _keys(got) == _keys(first)

    t.compact(target_files=1)          # maintenance: silent
    extra = _orders(spark, sf_dir, 200, 240)
    t.append(extra)
    got = _drain(spark, table, tdir, "maint")  # no skipChangeCommits
    assert _keys(got) == sorted(_keys(first) + _keys(extra))


def test_stream_source_max_versions_per_trigger(spark, sf_dir, tdir):
    """maxVersionsPerTrigger bounds how far each micro-batch advances:
    a 6-commit backlog with a cap of 2 drains in >= 3 batches, each
    carrying at most 2 commit versions, with nothing lost."""
    import time

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=1)
    t.create(_orders(spark, sf_dir, 0, 50))
    for lo in range(50, 300, 50):
        t.append(_orders(spark, sf_dir, lo, lo + 50))
    assert t.latest_version() == 6
    expected = _keys(t.snapshot())

    seen = []  # (batch_id, n_rows) per non-empty micro-batch

    def collect(df, batch_id):
        n = df.count()
        if n:
            seen.append((batch_id, n))

    q = (read_txlog_stream(spark, table, max_versions_per_trigger=2)
         .writeStream.foreachBatch(collect)
         .option("checkpointLocation", f"{tdir}/ckpt_rate")
         .trigger(processingTime="200 milliseconds").start())
    deadline = time.time() + 120
    while sum(n for _, n in seen) < len(expected):
        assert time.time() < deadline, f"only {seen} arrived"
        time.sleep(0.5)
    q.stop()
    assert sum(n for _, n in seen) == len(expected)
    # 6 versions / cap 2 -> at least 3 micro-batches, each <= 2 commits
    # (50 rows per commit -> <= 100 rows per batch)
    assert len(seen) >= 3
    assert all(n <= 100 for _, n in seen)

    # restart with a backlog that grew while the stream was down: the
    # capped reader resumes from the checkpoint — every new row exactly
    # once, nothing re-emitted (the self-initialized floor may sit behind
    # the checkpointed offset on restart; this pins that it cannot plan a
    # backward batch)
    for lo in range(300, 450, 50):
        t.append(_orders(spark, sf_dir, lo, lo + 50))
    expected2 = _keys(t.snapshot())
    keys_seen = []

    def collect2(df, batch_id):
        keys_seen.extend(r[0] for r in df.select("o_orderkey").collect())

    q = (read_txlog_stream(spark, table, max_versions_per_trigger=2)
         .writeStream.foreachBatch(collect2)
         .option("checkpointLocation", f"{tdir}/ckpt_rate")
         .trigger(processingTime="200 milliseconds").start())
    deadline = time.time() + 120
    while len(keys_seen) < len(expected2) - len(expected):
        assert time.time() < deadline, f"only {len(keys_seen)} new rows"
        time.sleep(0.5)
    q.stop()
    assert sorted(keys_seen) == sorted(set(expected2) - set(expected))


def test_stream_cdc_covers_cow_merge_with_cdf(spark, sf_dir, tdir):
    """CDF write-side (r11 verdict item 4): on a change_data_feed table a
    copy-on-write merge persists its row-level changes at commit time, and
    the streaming CDC feed serves them instead of refusing — insert rows
    for keys new to the table, update_pre/update_post pairs for matched
    keys (operation-level: identity updates included). Differential: the
    feed with identity pairs dropped equals the batch keyed changes()
    value diff over the same versions."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    base = _orders(spark, sf_dir, 0, 200)
    t.create(base, stats_cols=["o_orderkey"], change_data_feed=True)
    v1 = t.latest_version()
    # matched updates — every other one an IDENTITY update (same values)
    upd = (_orders(spark, sf_dir, 0, 100)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 2 == 0,
                              F.col("o_totalprice"))
                        .otherwise(F.col("o_totalprice") + 5)))
    # plus brand-new keys (negated, provably absent from the table)
    new = (_orders(spark, sf_dir, 200, 240)
           .withColumn("o_orderkey", -F.col("o_orderkey")))
    t.merge_upsert(upd.unionByName(new), ["o_orderkey"])
    v2 = t.latest_version()
    assert v2 == v1 + 1

    got = _drain_cdc(spark, table, tdir, "cdf_merge", starting_version=v1)
    assert [r[0] for r in
            got.select("_commit_version").distinct().collect()] == [v2]
    pre = got.where(F.col("_change") == "update_pre")
    post = got.where(F.col("_change") == "update_post")
    ins = got.where(F.col("_change") == "insert")
    matched = _keys(_orders(spark, sf_dir, 0, 100))
    assert _keys(pre) == matched          # operation-level: identity too
    assert _keys(post) == matched
    assert _keys(ins) == sorted(-k for k in _keys(
        _orders(spark, sf_dir, 200, 240)))

    # differential vs the batch value diff: drop identity pre/post pairs
    data_cols = ["o_totalprice", "o_orderstatus"]
    p = pre.select("o_orderkey", F.struct(*data_cols).alias("__pre"))
    n = post.select("o_orderkey", F.struct(*data_cols).alias("__post"))
    changed = (p.join(n, "o_orderkey")
               .where(~F.col("__pre").eqNullSafe(F.col("__post")))
               .select("o_orderkey"))
    feed_changed = (got.where(F.col("_change") == "insert")
                    .unionByName(
                        got.where(F.col("_change") != "insert")
                           .join(changed, "o_orderkey", "left_semi"))
                    .drop("_commit_version"))
    batch = t.changes(v1, v2, keys=["o_orderkey"])
    assert _change_rows(feed_changed) == _change_rows(batch)


def test_stream_cdc_insert_only_merge_cdf_no_double_emit(spark, sf_dir,
                                                         tdir):
    """An insert-only merge on a CDF table writes change-data files AND
    adds; the CDC feed must serve the CDF rows only (no double emission),
    and the append-mode stream still serves the adds."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 100), stats_cols=["o_orderkey"],
             change_data_feed=True)
    new = (_orders(spark, sf_dir, 100, 160)
           .withColumn("o_orderkey", -F.col("o_orderkey")))
    t.merge_upsert(new, ["o_orderkey"])

    got = _drain_cdc(spark, table, tdir, "cdf_ins", starting_version=1)
    assert got.select("_change").distinct().collect()[0][0] == "insert"
    assert _keys(got) == sorted(-k for k in _keys(
        _orders(spark, sf_dir, 100, 160)))

    got_append = _drain(spark, table, tdir, "cdf_ins_app")
    assert _keys(got_append) == _keys(t.snapshot())


def test_stream_cdc_overwrite_derivation(spark, sf_dir, tdir):
    """CDC for overwrite needs no change-data files: every pre-commit live
    row (DV-applied) streams as delete, every new file as insert."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.delete_where(F.col("o_orderkey") % 3 == 0)
    v2 = t.latest_version()
    survivors = _keys(t.snapshot())
    replacement = _orders(spark, sf_dir, 500, 600)
    t.overwrite(replacement)
    v3 = t.latest_version()

    got = _drain_cdc(spark, table, tdir, "cdc_ow", starting_version=v2)
    dele = got.where(F.col("_change") == "delete")
    ins = got.where(F.col("_change") == "insert")
    # DV-deleted rows are NOT re-deleted — only the live set at v2 is
    assert _keys(dele) == survivors
    assert _keys(ins) == _keys(replacement)
    assert [r[0] for r in
            got.select("_commit_version").distinct().collect()] == [v3]


def test_stream_cdc_set_cdf_property_toggle(spark, sf_dir, tdir):
    """set_change_data_feed: merges BEFORE the property are still refused
    (no change-data files exist for them; batch changes() is the
    fallback), merges after it stream. The set_cdf commit itself is
    silent."""
    from pyspark.errors import StreamingQueryException

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 100), stats_cols=["o_orderkey"])
    t.merge_upsert(_orders(spark, sf_dir, 0, 50)
                   .withColumn("o_totalprice", F.col("o_totalprice") + 1),
                   ["o_orderkey"])          # v2: CoW merge, no CDF
    v2 = t.latest_version()
    with pytest.raises(StreamingQueryException):
        _drain_cdc(spark, table, tdir, "cdf_pre")
    t.set_change_data_feed(True)            # v3 (silent)
    t.merge_upsert(_orders(spark, sf_dir, 0, 30)
                   .withColumn("o_totalprice", F.col("o_totalprice") + 2),
                   ["o_orderkey"])          # v4: CoW merge WITH CDF
    v4 = t.latest_version()

    got = _drain_cdc(spark, table, tdir, "cdf_post", starting_version=v2)
    assert [r[0] for r in
            got.select("_commit_version").distinct().collect()] == [v4]
    assert _keys(got.where(F.col("_change") == "update_pre")) == \
        _keys(_orders(spark, sf_dir, 0, 30))


def test_stream_snapshot_start_pins_version_across_probe_race(
        spark, sf_dir, tdir):
    """ADVICE r11: Spark probes latestOffset before initialOffset on a
    fresh stream; a commit landing between the two driver calls must not
    push the snapshot version past the first batch's end offset (the
    landed commit would then duplicate: once inside the snapshot, once in
    the next tail batch). initialOffset reuses the first probe's pinned
    version."""
    from data_integration_celery_spark.sources.txlog_stream import (
        TxLogStreamDataSource)

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=1)
    t.create(_orders(spark, sf_dir, 0, 100))
    t.append(_orders(spark, sf_dir, 100, 150))
    ds = TxLogStreamDataSource(
        options={"path": table, "startingversion": "snapshot"})
    reader = ds.streamReader(ds.schema())
    end = reader.latestOffset()             # first driver probe: v2
    t.append(_orders(spark, sf_dir, 150, 200))   # v3 lands mid-probe
    start = reader.initialOffset()
    assert end["version"] == 2
    assert start["snapshot"] == 2           # pinned, NOT the fresh v3
    snap_parts = reader.partitions(start, end)
    tail_parts = reader.partitions({"version": 2}, {"version": 3})
    # snapshot covers v1+v2 rows, the tail batch exactly v3's — no overlap
    snap_paths = {p.path for p in snap_parts}
    tail_paths = {p.path for p in tail_parts}
    assert tail_paths and not (snap_paths & tail_paths)


def test_batch_snapshot_read_matches_txtable(spark, sf_dir, tdir):
    """spark.read.format('txlog') — session-free batch snapshot with
    versionAsOf time travel — must equal TxTable.snapshot() at every
    version, through DV deletes, schema evolution, and compaction."""
    from data_integration_celery_spark.sources.txlog_stream import (
        read_txlog_snapshot)

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200))
    t.delete_where(F.col("o_orderkey") % 3 == 0)           # v2: DVs
    widened = (_orders(spark, sf_dir, 200, 250)
               .withColumn("extra", F.lit(7).cast("long")))
    t.append(widened, merge_schema=True)                   # v3: evolution
    t.compact()                                            # v4

    for v in [1, 2, 3, 4, None]:
        got = read_txlog_snapshot(spark, table, version=v)
        want = t.snapshot(version=v)
        assert sorted(got.columns) == sorted(want.columns), v
        assert sorted(map(tuple, got.select(*want.columns).collect())) == \
            sorted(map(tuple, want.collect())), f"version {v}"


def test_source_reads_timestamps_outside_the_nanosecond_range(spark, tdir):
    """Spark writes timestamps as INT96 by default, and an instant after
    2262-04-11 or before 1677-09-21 overflows nanoseconds: the batch
    snapshot and the stream must read such rows as microseconds, exactly
    as ``TxTable.snapshot()`` does, instead of failing the read."""
    import datetime

    from data_integration_celery_spark.sources.txlog_stream import (
        read_txlog_snapshot)

    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=1)
    t.create(spark.createDataFrame(
        [(1, datetime.datetime(2500, 1, 1)),
         (2, datetime.datetime(1650, 6, 1, 12, 30)),
         (3, datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)),
         (4, None)], "id long, ts timestamp"))
    want = sorted(map(tuple, t.snapshot().collect()))
    assert [r[1].year for r in want[:3]] == [2500, 1650, 2024]
    assert sorted(map(tuple, read_txlog_snapshot(spark, table).collect())) \
        == want
    got = _drain(spark, table, tdir, "ts_range")
    assert sorted(map(tuple, got.collect())) == want


def test_batch_table_changes_matches_stream_cdc(spark, sf_dir, tdir):
    """TxTable.table_changes — the batch per-commit CDC feed — must emit
    exactly the rows the streaming CDC source emits over the same version
    range (same planner by construction; this pins it end-to-end through
    DV delete, DV update, CDF CoW merge, and overwrite)."""
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=2)
    t.create(_orders(spark, sf_dir, 0, 200), stats_cols=["o_orderkey"],
             change_data_feed=True)
    t.delete_where(F.col("o_orderkey") % 5 == 0)
    t.update_where(F.col("o_orderkey") % 7 == 0,
                   {"o_totalprice": "o_totalprice + 1000"})
    t.merge_upsert(_orders(spark, sf_dir, 0, 60)
                   .withColumn("o_totalprice", F.col("o_totalprice") + 2),
                   ["o_orderkey"])
    t.overwrite(_orders(spark, sf_dir, 300, 400))
    v_end = t.latest_version()

    batch = t.table_changes(0, v_end)
    streamed = _drain_cdc(spark, table, tdir, "batch_vs_stream")
    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())
    assert rows(batch) == rows(streamed)
    # inclusive/exclusive contract: changes since v_end-1 = the overwrite
    last = t.table_changes(v_end - 1)
    assert set(r[0] for r in last.select("_commit_version")
               .distinct().collect()) == {v_end}
    dele = last.where(F.col("_change") == "delete")
    assert dele.count() == t.snapshot(version=v_end - 1).count()
