"""Upsert semantics — mirrors the reference's golden test
``_test_bunch_insert_sqlite`` (/root/reference tasks/utils/to_sqlite.py:650-687):
insert N rows, upsert an overlapping batch, assert final values per PK."""

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark import sinks
from data_integration_celery_spark.operators import upsert


def _df(spark, rows):
    return spark.createDataFrame(rows, "code string, d int, v double")


def test_last_write_wins(spark):
    base = _df(spark, [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)])
    updates = _df(spark, [("a", 2, 20.0), ("c", 1, 30.0)])
    out = upsert.upsert_frames(base, updates, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in out.collect()}
    assert got == {("a", 1): 1.0, ("a", 2): 20.0, ("b", 1): 3.0, ("c", 1): 30.0}


def test_upsert_idempotent(spark):
    base = _df(spark, [("a", 1, 1.0)])
    updates = _df(spark, [("a", 1, 9.0)])
    once = upsert.upsert_frames(base, updates, keys=["code", "d"])
    twice = upsert.upsert_frames(once, updates, keys=["code", "d"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_write_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "target")
    upsert.write_upsert(spark, _df(spark, [("a", 1, 1.0), ("b", 1, 2.0)]),
                        path, keys=["code", "d"])
    upsert.write_upsert(spark, _df(spark, [("a", 1, 5.0)]), path, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 5.0, ("b", 1): 2.0}


def test_dedup_last(spark):
    df = _df(spark, [("a", 1, 1.0), ("a", 1, 2.0), ("a", 2, 3.0)])
    out = upsert.dedup_last(df, keys=["code", "d"], order_cols=["v"])
    got = {(r["code"], r["d"]): r["v"] for r in out.collect()}
    assert got == {("a", 1): 2.0, ("a", 2): 3.0}


def test_write_upsert_cleans_staging_dir(spark, tmp_path):
    path = str(tmp_path / "target")
    upsert.write_upsert(spark, _df(spark, [("a", 1, 1.0)]), path, keys=["code", "d"])
    upsert.write_upsert(spark, _df(spark, [("a", 1, 2.0)]), path, keys=["code", "d"])
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "target"]
    assert leftovers == []


def _crash_rename_on_call(monkeypatch, n):
    """Make the n-th _rename call raise — simulates a process kill at the
    corresponding point of the commit protocol."""
    from data_integration_celery_spark.operators import upsert as U
    real, calls = U._rename, [0]

    def dying(spark, src, dst):
        calls[0] += 1
        if calls[0] == n:
            raise RuntimeError("killed mid-commit")
        real(spark, src, dst)
    monkeypatch.setattr(U, "_rename", dying)


def test_crash_before_publish_leaves_target_intact(spark, tmp_path, monkeypatch):
    """Kill during the first publish rename (staging fully written, target
    not yet touched): the old table must survive byte-for-byte and a plain
    retry must converge."""
    import pytest
    path = str(tmp_path / "t")
    upsert.write_upsert(spark, _df(spark, [("a", 1, 1.0), ("b", 1, 2.0)]),
                        path, keys=["code", "d"])
    _crash_rename_on_call(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="killed"):
        upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]),
                            path, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 1.0, ("b", 1): 2.0}
    monkeypatch.undo()
    upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]), path, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 9.0, ("b", 1): 2.0}
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "t"]
    assert leftovers == []


def test_crash_between_renames_recovers_old_table(spark, tmp_path, monkeypatch):
    """Kill in the window where the target dir is absent (old table parked at
    __backup): recover_table must restore it, then the replayed batch lands."""
    import pytest
    path = str(tmp_path / "t2")
    upsert.write_upsert(spark, _df(spark, [("a", 1, 1.0), ("b", 1, 2.0)]),
                        path, keys=["code", "d"])
    _crash_rename_on_call(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="killed"):
        upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]),
                            path, keys=["code", "d"])
    assert not (tmp_path / "t2").exists()           # the crash window
    assert (tmp_path / "t2__backup").exists()       # complete copy parked
    monkeypatch.undo()
    assert upsert.recover_table(spark, path) == "restored"
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 1.0, ("b", 1): 2.0}
    # replay converges (write_upsert also self-heals via recover_table)
    upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]), path, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 9.0, ("b", 1): 2.0}
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "t2"]
    assert leftovers == []


def test_write_upsert_self_heals_without_explicit_recover(spark, tmp_path,
                                                          monkeypatch):
    """A retry after a mid-window crash works even if the caller never calls
    recover_table — write_upsert heals first."""
    import pytest
    path = str(tmp_path / "t3")
    upsert.write_upsert(spark, _df(spark, [("a", 1, 1.0)]), path, keys=["code", "d"])
    _crash_rename_on_call(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="killed"):
        upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]), path, keys=["code", "d"])
    monkeypatch.undo()
    upsert.write_upsert(spark, _df(spark, [("a", 1, 9.0)]), path, keys=["code", "d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 9.0}


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "code string, d int, v double")


def test_partitioned_upsert_touches_only_updated_partitions(spark, tmp_path):
    """The 100 TB merge contract: a merge that updates keys in partition d=1
    must leave every file of d=2 and d=3 byte-identical (never read, never
    rewritten), while d=1 reflects last-write-wins."""
    import hashlib

    path = str(tmp_path / "ptarget")
    base = _pdf(spark, [("a", 1, 1.0), ("b", 1, 2.0),
                        ("c", 2, 3.0), ("d", 3, 4.0)])
    upsert.write_upsert_partitioned(spark, base, path,
                                    keys=["code", "d"], partition_cols=["d"])

    def snapshot(part):
        pdir = tmp_path / "ptarget" / f"d={part}"
        return {p.name: hashlib.md5(p.read_bytes()).hexdigest()
                for p in sorted(pdir.glob("*.parquet"))}

    before2, before3 = snapshot(2), snapshot(3)
    updates = _pdf(spark, [("a", 1, 10.0), ("e", 1, 50.0)])
    upsert.write_upsert_partitioned(spark, updates, path,
                                    keys=["code", "d"], partition_cols=["d"])
    assert snapshot(2) == before2 and before2
    assert snapshot(3) == before3 and before3
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 10.0, ("b", 1): 2.0, ("e", 1): 50.0,
                   ("c", 2): 3.0, ("d", 3): 4.0}
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "ptarget"]
    assert leftovers == []


def test_partitioned_upsert_idempotent_replay(spark, tmp_path):
    """Replaying the same batch (crash-retry) converges to the same state."""
    path = str(tmp_path / "ptarget2")
    upsert.write_upsert_partitioned(
        spark, _pdf(spark, [("a", 1, 1.0), ("b", 2, 2.0)]), path,
        keys=["code", "d"], partition_cols=["d"])
    batch = _pdf(spark, [("a", 1, 7.0)])
    for _ in range(2):
        upsert.write_upsert_partitioned(spark, batch, path,
                                        keys=["code", "d"], partition_cols=["d"])
    got = {(r["code"], r["d"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 7.0, ("b", 2): 2.0}


_PSCHEMA = "code string, dt int, v double"


@pytest.mark.parametrize("publish", [
    lambda spark, path: upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 9.0), ("c", 1, 3.0)], _PSCHEMA),
        path, keys=["code"], partition_cols=["dt"]),
    lambda spark, path: sinks.compact_table(spark, path, partition_cols=["dt"]),
], ids=["write_upsert_partitioned", "compact_table"])
def test_failed_partitioned_publish_leaves_nothing_behind(spark, tmp_path,
                                                          monkeypatch,
                                                          publish):
    """A partitioned publish whose write onto the table fails leaves the
    table's rows as they were and nothing beside it: the dynamic partition
    overwrite is the only write, so no staging copy can be stranded."""
    from pyspark.sql import DataFrameWriter

    path = str(tmp_path / "t")
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 1.0), ("b", 2, 2.0)], _PSCHEMA),
        path, keys=["code"], partition_cols=["dt"])
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    real = DataFrameWriter.parquet

    def failing(self, target, *args, **kwargs):
        if str(target).rstrip("/") == path:
            raise RuntimeError("write onto the table failed")
        return real(self, target, *args, **kwargs)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="onto the table failed"):
        publish(spark, path)
    monkeypatch.undo()
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert [p.name for p in tmp_path.iterdir()] == ["t"]


def test_recover_noop_cleans_orphan_staging(spark, tmp_path):
    """Crash during the very first staging write (no target, no backup):
    recovery must remove the orphaned __staging dir, not leave it for the
    next writer."""
    import os
    path = str(tmp_path / "t_orphan")
    staging = path + "__staging"
    os.makedirs(staging)
    open(os.path.join(staging, "part-00000.parquet"), "wb").write(b"junk")
    assert upsert.recover_table(spark, path) == "noop"
    assert not os.path.exists(staging)


def test_write_upsert_propagates_read_error_on_existing_target(spark, tmp_path):
    """A corrupt EXISTING target must surface the read error, not silently
    take the first-write path and rename staging over it."""
    import os
    import pytest
    path = str(tmp_path / "t_corrupt")
    os.makedirs(path)
    open(os.path.join(path, "part-00000.parquet"), "wb").write(b"not parquet")
    df = spark.range(3).withColumn("batch_id", F.lit(1))
    with pytest.raises(Exception):
        upsert.write_upsert(spark, df, path, keys=["id"])
    # the corrupt target is still in place — nothing was renamed over it
    assert os.path.exists(os.path.join(path, "part-00000.parquet"))


def test_write_upsert_schema_evolution(spark, tmp_path):
    """The vendor added a column (the reference ALTERs MySQL tables by
    hand): upserting a wider frame onto an existing table keeps old rows
    (new column null) and a later narrower upsert keeps the column."""
    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([("a", 1, 1.0), ("b", 1, 2.0)],
                               "code string, d int, v double")
    upsert.write_upsert(spark, v1, path, keys=["code", "d"])
    v2 = spark.createDataFrame([("b", 1, 20.0, "NEW"), ("c", 1, 30.0, "X")],
                               "code string, d int, v double, flag string")
    upsert.write_upsert(spark, v2, path, keys=["code", "d"])
    got = {(r["code"], r["d"]): (r["v"], r["flag"])
           for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): (1.0, None), ("b", 1): (20.0, "NEW"),
                   ("c", 1): (30.0, "X")}
    # narrower late batch: existing wide rows keep their extra column
    v3 = spark.createDataFrame([("a", 1, 100.0)],
                               "code string, d int, v double")
    upsert.write_upsert(spark, v3, path, keys=["code", "d"])
    got = {(r["code"], r["d"]): (r["v"], r["flag"])
           for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): (100.0, None), ("b", 1): (20.0, "NEW"),
                   ("c", 1): (30.0, "X")}


def test_partitioned_first_write_requires_existence_not_read_success(
        spark, tmp_path, monkeypatch):
    """A transient read error on an EXISTING partitioned table must
    propagate — the old except-branch took the first-write path and
    dynamically overwrote touched partitions with ONLY the update rows,
    destroying base rows whose keys were not in the batch."""
    from data_integration_celery_spark.operators import upsert as U

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", "keep"), (2, "d1", "keep2")],
        "k int, part string, v string")
    U.write_upsert_partitioned(spark, base.withColumn(
        "batch_id", F.lit(0).cast("long")), path, ["k"], ["part"])
    # simulate a transient read failure on the existing table: patch at
    # the CLASS level — spark.read constructs a fresh DataFrameReader per
    # access, so patching one instance would never be seen by the writer
    from pyspark.sql.readwriter import DataFrameReader
    real_read = DataFrameReader.parquet

    def flaky(self, p, *a, **kw):
        if p == path:
            raise RuntimeError("transient fs error")
        return real_read(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    upd = spark.createDataFrame([(1, "d1", "new")],
                                "k int, part string, v string") \
        .withColumn("batch_id", F.lit(1).cast("long"))
    with pytest.raises(Exception, match="transient"):
        U.write_upsert_partitioned(spark, upd, path, ["k"], ["part"])
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "keep", 2: "keep2"}  # base survived the failure


def test_first_write_dedups_primary_keys(spark, tmp_path):
    """An initial batch with duplicate PKs must land deduped (highest
    batch_id wins) — the PK invariant holds from the first write, in both
    the whole-table and partitioned writers."""
    from data_integration_celery_spark.operators import upsert as U

    dup = spark.createDataFrame(
        [(1, "d1", "old", 1), (1, "d1", "new", 2), (2, "d1", "x", 1)],
        "k int, part string, v string, batch_id long")
    p1 = str(tmp_path / "whole")
    U.write_upsert(spark, dup, p1, ["k"])
    got1 = {r["k"]: r["v"] for r in spark.read.parquet(p1).collect()}
    assert got1 == {1: "new", 2: "x"}
    p2 = str(tmp_path / "parted")
    U.write_upsert_partitioned(spark, dup, p2, ["k"], ["part"])
    got2 = {r["k"]: r["v"] for r in spark.read.parquet(p2).collect()}
    assert got2 == {1: "new", 2: "x"}


def test_upsert_frames_equal_order_prefers_updates(spark):
    """The documented tie rule: with EQUAL order values in both frames,
    the updates row wins — previously the tie was shuffle-placement
    nondeterministic (no source flag in the window order)."""
    from data_integration_celery_spark.operators import upsert as U

    base = spark.createDataFrame([(1, "base", 5)],
                                 "k int, v string, batch_id long")
    upd = spark.createDataFrame([(1, "update", 5)],
                                "k int, v string, batch_id long")
    for _ in range(3):
        got = U.upsert_frames(base, upd, ["k"]).collect()
        assert len(got) == 1 and got[0]["v"] == "update"


def test_overwrite_partitions_empty_frame_is_noop(spark, sf_dir, tmp_path):
    """A first-ever EMPTY dynamic overwrite must not create the target dir:
    the _SUCCESS-only directory it used to leave passes _exists() but fails
    every schema-inferring read — an all-filtered first micro-batch would
    brick the incremental-dedup index path until manual deletion."""
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators.upsert import (
        _exists, overwrite_partitions)
    target = str(tmp_path / "idx")
    src = (spark.read.parquet(f"{sf_dir}/orders.parquet")
           .select("o_orderkey", "o_orderstatus"))
    overwrite_partitions(src.limit(0).withColumn("batch_id", F.lit(0)),
                         target, ["batch_id"])
    assert not _exists(spark, target)  # no brick directory
    # a later real batch initializes the table normally
    overwrite_partitions(src.limit(7).withColumn("batch_id", F.lit(1)),
                         target, ["batch_id"])
    assert spark.read.parquet(target).count() == 7
    # and subsequent empty batches leave it untouched
    overwrite_partitions(src.limit(0).withColumn("batch_id", F.lit(2)),
                         target, ["batch_id"])
    assert spark.read.parquet(target).count() == 7
