"""Upsert semantics — mirrors the reference's golden test
``_test_bunch_insert_sqlite`` (/root/reference tasks/utils/to_sqlite.py:650-687):
insert N rows, upsert an overlapping batch, assert final values per PK."""

import os

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


def _upsert_over_failing_table(spark, tmp_path, monkeypatch, patch):
    """Write a two-row partitioned table, make ``patch(path)`` inject a
    transient failure, and check that the next upsert raises it and the
    base survives."""
    from data_integration_celery_spark.operators import upsert as U

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", "keep"), (2, "d1", "keep2")],
        "k int, part string, v string")
    U.write_upsert_partitioned(spark, base.withColumn(
        "batch_id", F.lit(0).cast("long")), path, ["k"], ["part"])
    patch(path)
    upd = spark.createDataFrame([(1, "d1", "new")],
                                "k int, part string, v string") \
        .withColumn("batch_id", F.lit(1).cast("long"))
    with pytest.raises(Exception, match="transient"):
        U.write_upsert_partitioned(spark, upd, path, ["k"], ["part"])
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "keep", 2: "keep2"}  # base survived the failure


def test_partitioned_first_write_requires_existence_not_read_success(
        spark, tmp_path, monkeypatch):
    """A transient read error on an EXISTING partitioned table must
    propagate — the old except-branch took the first-write path and
    dynamically overwrote touched partitions with ONLY the update rows,
    destroying base rows whose keys were not in the batch."""
    from pyspark.sql.readwriter import DataFrameReader
    real_read = DataFrameReader.parquet

    def patch(path):
        # a read failure of ANY path under the table (the upsert reads the
        # touched partition directories, not the root): patch at the CLASS
        # level — spark.read constructs a fresh DataFrameReader per access,
        # so patching one instance would never be seen by the writer
        def flaky(self, *paths, **kw):
            if any(str(p).startswith(path) for p in paths):
                raise RuntimeError("transient fs error")
            return real_read(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", flaky)

    _upsert_over_failing_table(spark, tmp_path, monkeypatch, patch)


def test_partitioned_upsert_propagates_root_listing_failure(
        spark, tmp_path, monkeypatch):
    """The listing of the table root decides which touched partitions
    exist; when it fails the upsert must raise, never take the partition
    as absent and overwrite it with only the update rows."""
    import os
    real_listdir = os.listdir

    def patch(path):
        def flaky(p="."):
            if os.path.normpath(os.fspath(p)) == path:
                raise OSError("transient fs error")
            return real_listdir(p)

        monkeypatch.setattr(os, "listdir", flaky)

    _upsert_over_failing_table(spark, tmp_path, monkeypatch, patch)


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


def _partition_dirs(path):
    import os
    return {n for n in os.listdir(path) if not n.startswith((".", "_"))}


def test_numeric_looking_string_partitions_stay_put(spark, tmp_path):
    """A string partition value that looks numeric ("001") keeps its
    directory: the upsert types partition columns as ``updates`` does, so
    the merged row replaces the one in p=001/ instead of landing in a new
    p=1/ next to the stale row."""
    path = str(tmp_path / "t")
    schema = "k string, p string, v string, batch_id long"
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [("a", "001", "old", 0), ("b", "001", "b0", 0),
             ("c", "002", "c0", 0)], schema), path, ["k"], ["p"])
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", "001", "new", 1)], schema),
        path, ["k"], ["p"])
    assert _partition_dirs(path) == {"p=001", "p=002"}
    rows = spark.read.schema("k string, v string, p string").parquet(path) \
        .collect()
    assert sorted(r["k"] for r in rows) == ["a", "b", "c"]  # one row per key
    assert {r["k"]: (r["p"], r["v"]) for r in rows} == {
        "a": ("001", "new"), "b": ("001", "b0"), "c": ("002", "c0")}


def test_numeric_looking_string_partitions_stay_put_on_full_read(
        spark, tmp_path, monkeypatch):
    """The whole-table read that non-local tables and other partition types
    take types the partition columns as ``updates`` does too."""
    from data_integration_celery_spark.operators import upsert as U
    monkeypatch.setattr(U, "_touched_slice", lambda *a: None)
    path = str(tmp_path / "t")
    schema = "k string, p string, v string, batch_id long"
    U.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [("a", "001", "old", 0), ("c", "002", "c0", 0)], schema),
        path, ["k"], ["p"])
    U.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", "001", "new", 1)], schema),
        path, ["k"], ["p"])
    assert _partition_dirs(path) == {"p=001", "p=002"}
    rows = spark.read.schema("k string, v string, p string").parquet(path) \
        .collect()
    assert sorted((r["k"], r["p"], r["v"]) for r in rows) == [
        ("a", "001", "new"), ("c", "002", "c0")]


def test_partitioned_upsert_reads_the_table_path_literally(spark, tmp_path):
    """A table path is read as Spark reads it — ``#``, ``?`` and ``%XX`` are
    part of the name — so a sibling directory at the name a URL parse would
    give (``prices`` for ``prices#v2``) is never listed in its place: its
    missing partition would pass for a missing touched partition, and the
    upsert would overwrite that partition with only the update rows."""
    schema = "k string, p string, v string, batch_id long"
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("z", "002", "z0", 0)], schema),
        str(tmp_path / "prices"), ["k"], ["p"])
    path = str(tmp_path / "prices#v2")
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [("a", "001", "old", 0), ("b", "001", "b0", 0)], schema),
        path, ["k"], ["p"])
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", "001", "new", 1)], schema),
        path, ["k"], ["p"])
    rows = spark.read.schema("k string, v string, p string").parquet(path) \
        .collect()
    assert sorted((r["k"], r["p"], r["v"]) for r in rows) == [
        ("a", "001", "new"), ("b", "001", "b0")]


def test_plain_and_local_paths_follow_hadoop(spark, tmp_path):
    """``_plain_path`` takes a path as Hadoop's ``Path`` does: scheme and
    authority dropped, nothing decoded; ``_local_path`` gives it only for
    local paths; ``_uri_path`` decodes what Spark reports as a URI."""
    from data_integration_celery_spark.operators.upsert import (
        _local_path, _plain_path, _uri_path)
    assert _plain_path("/lake/prices#v2") == "/lake/prices#v2"
    assert _plain_path("file:///t/a%41b#c") == "/t/a%41b#c"
    assert _plain_path("file:/t/x") == "/t/x"
    assert _plain_path("hdfs://nn:8020/warehouse/t") == "/warehouse/t"
    assert _local_path("hdfs://nn/warehouse/t") is None
    assert _local_path("s3a://bucket/t") is None
    assert _local_path("rel/dir:x") == "rel/dir:x"
    uri = f"file://{tmp_path}/u%41v#w"
    spark.range(1).write.parquet(uri)
    assert os.listdir(tmp_path) == ["u%41v#w"]
    assert _local_path(uri) == f"{tmp_path}/u%41v#w"
    reported = spark.read.parquet(uri).select(F.input_file_name()).first()[0]
    assert os.path.dirname(_uri_path(reported)) == _local_path(uri)


def test_partitioned_upsert_roundtrips_adversarial_values(spark, tmp_path):
    """Partition values that Spark escapes in directory names (or writes as
    the default partition) are found again by the touched-partition read:
    an upsert into each replaces its row and leaves the others."""
    path = str(tmp_path / "t")
    schema = "k string, p string, v string, batch_id long"
    parts = ["a/b", "x=y", "50%", "é", None]
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [(f"k{i}", p, "old", 0) for i, p in enumerate(parts)]
            + [(f"s{i}", p, "same", 0) for i, p in enumerate(parts)],
            schema), path, ["k"], ["p"])
    dirs = _partition_dirs(path)
    assert len(dirs) == len(parts)
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [(f"k{i}", p, "new", 1) for i, p in enumerate(parts)], schema),
        path, ["k"], ["p"])
    assert _partition_dirs(path) == dirs
    got = sorted((r["k"], r["p"], r["v"]) for r in spark.read.schema(
        "k string, v string, p string").parquet(path).collect())
    want = sorted([(f"k{i}", p, "new") for i, p in enumerate(parts)]
                  + [(f"s{i}", p, "same") for i, p in enumerate(parts)],
                  key=lambda t: (t[0], t[1] or "", t[2]))
    assert got == sorted(want)


def test_empty_string_partition_is_the_null_partition(spark, tmp_path):
    """Spark stores "" and null partition values in the same default
    partition and reads both back as null. An upsert with p="" must keep
    the partition's other rows and store its key once."""
    path = str(tmp_path / "t")
    schema = "k string, p string, v string, batch_id long"
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame(
            [("a", None, "a0", 0), ("b", "", "b0", 0), ("c", "x", "c0", 0)],
            schema), path, ["k"], ["p"])
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("b", "", "b1", 1)], schema),
        path, ["k"], ["p"])
    got = sorted((r["k"], r["p"], r["v"])
                 for r in spark.read.parquet(path).collect())
    assert got == [("a", None, "a0"), ("b", None, "b1"), ("c", "x", "c0")]


def test_partitioned_upsert_one_exchange(spark, tmp_path, monkeypatch):
    """The partition-scoped merge shuffles once: the union is clustered on
    the partition columns and ranked by a window over partition columns +
    keys, and the write adds no second repartition."""
    from data_integration_celery_spark.operators import upsert as U
    path = str(tmp_path / "t")
    schema = "k long, p long, v string, batch_id long"
    U.write_upsert_partitioned(spark, spark.createDataFrame(
        [(i, i % 4, "v0", 0) for i in range(20)], schema), path, ["k"], ["p"])
    written = []
    real = U._write_partitions
    monkeypatch.setattr(U, "_write_partitions",
                        lambda df, *a: (written.append(df), real(df, *a)))
    U.write_upsert_partitioned(spark, spark.createDataFrame(
        [(1, 1, "new", 1), (100, 0, "ins", 1)], schema), path, ["k"], ["p"])
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" in plan.split("Exchange hashpartitioning")[1], plan
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 21 and got[1] == "new" and got[100] == "ins"


def test_partitioned_upsert_runs_no_discovery_or_inference_job(
        spark, tmp_path):
    """On a table of 48 partitions, an upsert touching two of them lists
    and reads only those two: no partition-discovery job (one task per
    partition directory) and no schema-inference job — the jobs Spark
    starts inside ``spark.read.parquet`` of the table root."""
    path = str(tmp_path / "t")
    base = spark.range(480).select(
        F.col("id").alias("k"), (F.col("id") % 48).alias("p"),
        F.lit("v0").alias("v"), F.lit(0).cast("long").alias("batch_id"))
    upsert.write_upsert_partitioned(spark, base, path, ["k"], ["p"])
    upd = spark.createDataFrame([(1, 1, "new", 1), (1000, 7, "ins", 1)],
                                "k long, p long, v string, batch_id long")
    sc = spark.sparkContext
    sc.setJobGroup("partitioned-upsert", "touched partitions only")
    try:
        upsert.write_upsert_partitioned(spark, upd, path, ["k"], ["p"])
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    stages = [st.getStageInfo(s)
              for j in st.getJobIdsForGroup("partitioned-upsert")
              for s in st.getJobInfo(j).stageIds]
    assert stages and all(s is not None for s in stages)
    assert not [s.name for s in stages if s.name.startswith("parquet at")]
    assert max(s.numTasks for s in stages) < 40
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 481 and got[1] == "new" and got[1000] == "ins"
