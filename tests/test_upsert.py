"""Upsert semantics — mirrors the reference's golden test
``_test_bunch_insert_sqlite`` (/root/reference tasks/utils/to_sqlite.py:650-687):
insert N rows, upsert an overlapping batch, assert final values per PK."""

import os

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark import lake, sinks
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
    """Make the n-th ``lake.rename`` call raise — simulates a process kill
    at the corresponding point of the commit protocol."""
    real, calls = lake.rename, [0]

    def dying(spark, src, dst):
        calls[0] += 1
        if calls[0] == n:
            raise RuntimeError("killed mid-commit")
        real(spark, src, dst)
    monkeypatch.setattr(lake, "rename", dying)


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
                                                          spark_merges,
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
        spark, tmp_path, monkeypatch, spark_merges):
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
    the _SUCCESS-only directory it used to leave passes exists() but fails
    every schema-inferring read — an all-filtered first micro-batch would
    brick the incremental-dedup index path until manual deletion."""
    from pyspark.sql import functions as F

    from data_integration_celery_spark.operators.upsert import (
        overwrite_partitions)
    target = str(tmp_path / "idx")
    src = (spark.read.parquet(f"{sf_dir}/orders.parquet")
           .select("o_orderkey", "o_orderstatus"))
    overwrite_partitions(src.limit(0).withColumn("batch_id", F.lit(0)),
                         target, ["batch_id"])
    assert not lake.exists(spark, target)  # no brick directory
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
    """``lake.plain_path`` takes a path as Hadoop's ``Path`` does: scheme
    and authority dropped, nothing decoded; ``lake.local_path`` gives it
    only for local paths; ``lake.uri_path`` decodes what Spark reports as
    a URI."""
    assert lake.plain_path("/lake/prices#v2") == "/lake/prices#v2"
    assert lake.plain_path("file:///t/a%41b#c") == "/t/a%41b#c"
    assert lake.plain_path("file:/t/x") == "/t/x"
    assert lake.plain_path("hdfs://nn:8020/warehouse/t") == "/warehouse/t"
    assert lake.local_path("hdfs://nn/warehouse/t") is None
    assert lake.local_path("s3a://bucket/t") is None
    assert lake.local_path("rel/dir:x") == "rel/dir:x"
    uri = f"file://{tmp_path}/u%41v#w"
    spark.range(1).write.parquet(uri)
    assert os.listdir(tmp_path) == ["u%41v#w"]
    assert lake.local_path(uri) == f"{tmp_path}/u%41v#w"
    reported = spark.read.parquet(uri).select(F.input_file_name()).first()[0]
    assert os.path.dirname(lake.uri_path(reported)) == lake.local_path(uri)


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


def test_partitioned_upsert_one_exchange(spark, tmp_path, monkeypatch,
                                         spark_merges):
    """The partition-scoped upsert shuffles once, on its first write and on
    a merge: the rows (the union, for a merge) are clustered on the
    partition columns and ranked or deduplicated within partition columns
    + keys, and the write adds no second repartition."""
    from data_integration_celery_spark.operators import upsert as U
    path = str(tmp_path / "t")
    schema = "k long, p long, v string, batch_id long"
    written = []
    real = U._write_partitions
    monkeypatch.setattr(U, "_write_partitions",
                        lambda df, *a: (written.append(df), real(df, *a)))
    U.write_upsert_partitioned(spark, spark.createDataFrame(
        [(i, i % 4, "v0", 0) for i in range(20)] + [(3, 3, "v1", 1)],
        schema), path, ["k"], ["p"])
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    U.write_upsert_partitioned(spark, spark.createDataFrame(
        [(1, 1, "new", 1), (100, 0, "ins", 1)], schema), path, ["k"], ["p"])
    plan = written[1]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" in plan.split("Exchange hashpartitioning")[1], plan
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 21 and got[1] == "new" and got[100] == "ins"
    assert got[3] == "v1"


def test_partitioned_upsert_runs_no_discovery_or_inference_job(
        spark, tmp_path, spark_merges):
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


# ------------------------------------------- driver-side merge (upsert_arrow)

_KEY_DOMAINS = {
    "string": ("string", ["a", "b", "é", "日本", "", "zÿ"]),
    "long": ("long", [-(2 ** 40), -1, 0, 7, 2 ** 62]),
    "int": ("int", [-5, 0, 3, 2 ** 31 - 1]),
    "date": ("date", [__import__("datetime").date(1990, 1, 1),
                      __import__("datetime").date(2024, 2, 29),
                      __import__("datetime").date(9999, 12, 31)]),
    "timestamp": ("timestamp", [
        __import__("datetime").datetime(2024, 3, 1, 1, 30),
        __import__("datetime").datetime(2024, 3, 1, 1, 30, 0, 1),
        __import__("datetime").datetime(1999, 12, 31, 23, 59, 59)]),
}


def _random_frame(rng, kind, n, with_order, src):
    import pyarrow as pa
    _, domain = _KEY_DOMAINS[kind]
    rows, seen = [], set()
    for i in range(n):
        k1 = None if rng.random() < 0.15 else domain[rng.integers(len(domain))]
        k2 = None if rng.random() < 0.15 else int(rng.integers(3))
        o = None if rng.random() < 0.2 else int(rng.integers(3))
        if (k1, k2, o) in seen:  # (keys, order_col) unique within a frame
            continue
        seen.add((k1, k2, o))
        row = {"k1": k1, "k2": k2, "v": f"{src}{i}é"}
        if with_order:
            row["o"] = o
        rows.append(row)
    ptype = {"string": pa.string(), "long": pa.int64(), "int": pa.int32(),
             "date": pa.date32(), "timestamp": pa.timestamp("us")}[kind]
    fields = [("k1", ptype), ("k2", pa.int64()), ("v", pa.string())]
    if with_order:
        fields.append(("o", pa.int64()))
    return rows, pa.Table.from_pylist(rows, pa.schema(fields))


@pytest.mark.parametrize("kind", sorted(_KEY_DOMAINS))
def test_upsert_arrow_equals_upsert_frames(spark, kind):
    """The driver kernel and the Spark kernel keep the same rows on seeded
    random frames: null keys (partly and wholly null), null and tied order
    values, and the order column missing from either side."""
    import numpy as np
    rng = np.random.default_rng(sum(map(ord, kind)))
    ddl_type = _KEY_DOMAINS[kind][0]
    for trial, (base_order, upd_order) in enumerate(
            [(True, True), (False, True), (True, False), (False, False),
             (True, True), (True, True)]):
        base_rows, base = _random_frame(rng, kind, 40, base_order, "b")
        upd_rows, upd = _random_frame(rng, kind, 25, upd_order, "u")

        def sdf(rows, with_order):
            ddl = f"k1 {ddl_type}, k2 long, v string" + (
                ", o long" if with_order else "")
            return spark.createDataFrame(
                [tuple(r.values()) for r in rows], ddl)

        want = upsert.upsert_frames(sdf(base_rows, base_order),
                                    sdf(upd_rows, upd_order),
                                    ["k1", "k2"], "o")
        got = upsert.upsert_arrow(base, upd, ["k1", "k2"], "o")
        assert got.column_names == want.columns
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        assert sorted(map(tuple, (r.values() for r in got.to_pylist())),
                      key=key) == \
            sorted(map(tuple, want.collect()), key=key), (kind, trial)


def test_upsert_arrow_rejects_floating_order_and_keys():
    import pyarrow as pa
    t = pa.table({"k": [1.0], "o": [1]})
    with pytest.raises(TypeError):
        upsert.upsert_arrow(t, t, ["k"], "o")
    t = pa.table({"k": [1], "o": [1.0]})
    with pytest.raises(TypeError):
        upsert.upsert_arrow(t, t, ["k"], "o")


def _pparts(parts):
    return [(f"k{i}", p, "old", 0) for i, p in enumerate(parts)] \
        + [(f"s{i}", p, "same", 0) for i, p in enumerate(parts)]


def test_partitioned_driver_merge_equals_spark_merge(spark, tmp_path,
                                                     monkeypatch):
    """A partition-scoped upsert merged on the driver leaves the table the
    Spark plan leaves: the same rows through Spark and through DuckDB, the
    same partition directories (escaped, default and numeric-looking
    string values included) and one file per touched partition."""
    import duckdb

    schema = "k string, p string, v string, batch_id long"
    parts = ["a/b", "x=y", "50%", "é", None, "001", ""]
    upd = [(f"k{i}", p, "new", 1) for i, p in enumerate(parts)] \
        + [("fresh", "001", "ins", 1), ("n0", "new/part", "ins", 1)]
    tables = {}
    for name, cap in (("driver", upsert._DRIVER_MERGE_MAX_ROWS),
                      ("spark", 0)):
        path = str(tmp_path / name)
        upsert.write_upsert_partitioned(
            spark, spark.createDataFrame(_pparts(parts), schema),
            path, ["k"], ["p"])
        monkeypatch.setattr(upsert, "_DRIVER_MERGE_MAX_ROWS", cap)
        upsert.write_upsert_partitioned(
            spark, spark.createDataFrame(upd, schema), path, ["k"], ["p"])
        monkeypatch.undo()
        files = sorted(os.path.relpath(os.path.join(r, f), path)
                       for r, _, fs in os.walk(path) for f in fs
                       if f.endswith(".parquet"))
        with duckdb.connect() as con:
            duck = sorted(con.execute(
                f"SELECT k, v, p FROM read_parquet('{path}/**/*.parquet', "
                f"hive_partitioning = true)").fetchall(),
                key=lambda r: tuple(map(str, r)))
        rows = sorted(map(tuple, spark.read.schema(
            "k string, v string, p string").parquet(path).collect()),
            key=lambda r: tuple(map(str, r)))
        tables[name] = (rows, duck, [os.path.dirname(f) for f in files])
    assert tables["driver"] == tables["spark"]
    rows, _, dirs = tables["driver"]
    assert len(dirs) == len(set(dirs)) == 7
    assert ("fresh", "ins", "001") in rows and ("s5", "same", "001") in rows


def test_partitioned_driver_merge_runs_one_job(spark, tmp_path):
    """On the driver path a partition-scoped upsert starts one Spark job:
    the capped collect of the updates."""
    path = str(tmp_path / "t")
    base = spark.range(480).select(
        F.col("id").alias("k"), (F.col("id") % 48).alias("p"),
        F.lit("v0").alias("v"), F.lit(0).cast("long").alias("batch_id"))
    upsert.write_upsert_partitioned(spark, base, path, ["k"], ["p"])
    upd = spark.createDataFrame([(1, 1, "new", 1), (1000, 7, "ins", 1)],
                                "k long, p long, v string, batch_id long")
    sc = spark.sparkContext
    sc.setJobGroup("driver-upsert", "one capped collect")
    try:
        upsert.write_upsert_partitioned(spark, upd, path, ["k"], ["p"])
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("driver-upsert")) == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 481 and got[1] == "new" and got[1000] == "ins"
    # a driver-written file carries no Spark schema key; the next upsert
    # still reads only its touched partitions, with the footer's types
    assert lake.footer_schema(path, "p=1", 1).simpleString() == \
        "struct<k:bigint,v:string>"


def _staging_leftovers(tmp_path, name="t"):
    beside = [p.name for p in tmp_path.iterdir() if p.name != name]
    inside = [d for r, ds, _ in os.walk(tmp_path / name) for d in ds
              if d.startswith(".")]
    return beside + inside


def test_failed_driver_staging_leaves_nothing_behind(spark, tmp_path,
                                                     monkeypatch):
    """A driver merge whose staging write fails leaves the table's rows as
    they were and no staging directory inside or beside the table (a glob
    over the table, as DuckDB reads it, would count its files)."""
    path = str(tmp_path / "t")
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 1.0), ("b", 2, 2.0),
                                      ("c", 3, 3.0)], _PSCHEMA),
        path, keys=["code"], partition_cols=["dt"])
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    real, calls = lake.write, []

    def failing(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise OSError("disk full while staging")
        return real(*a, **kw)
    monkeypatch.setattr(lake, "write", failing)
    with pytest.raises(OSError, match="while staging"):
        upsert.write_upsert_partitioned(
            spark, spark.createDataFrame(
                [("a", 1, 9.0), ("b", 2, 9.0), ("c", 3, 9.0)], _PSCHEMA),
            path, keys=["code"], partition_cols=["dt"])
    monkeypatch.undo()
    assert len(calls) == 2
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert _staging_leftovers(tmp_path) == []


def test_driver_crash_between_partition_swaps(spark, tmp_path, monkeypatch):
    """A driver merge that fails between two partition swaps leaves every
    partition with either its old or its new rows — never neither or both,
    as after a dynamic overwrite's partial commit — removes its staging
    directory, and a replay of the batch converges."""
    path = str(tmp_path / "t")
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 1.0), ("b", 2, 2.0),
                                      ("c", 3, 3.0), ("d", 4, 4.0)],
                                     _PSCHEMA),
        path, keys=["code"], partition_cols=["dt"])
    batch = spark.createDataFrame([("a", 1, 9.0), ("b", 2, 9.0),
                                   ("c", 3, 9.0), ("e", 3, 5.0)], _PSCHEMA)
    real, swaps = lake._swap_partition, []

    def dying(root, stage, rel):
        swaps.append(rel)
        if len(swaps) == 2:
            raise RuntimeError("killed between swaps")
        real(root, stage, rel)
    monkeypatch.setattr(lake, "_swap_partition", dying)
    with pytest.raises(RuntimeError, match="between swaps"):
        upsert.write_upsert_partitioned(spark, batch, path, keys=["code"],
                                        partition_cols=["dt"])
    monkeypatch.undo()
    got = {}
    for r in spark.read.parquet(path).collect():
        got.setdefault(r["dt"], set()).add((r["code"], r["v"]))
    old = {1: {("a", 1.0)}, 2: {("b", 2.0)}, 3: {("c", 3.0)}}
    new = {1: {("a", 9.0)}, 2: {("b", 9.0)}, 3: {("c", 9.0), ("e", 5.0)}}
    assert got[4] == {("d", 4.0)}
    assert all(got[p] in (old[p], new[p]) for p in old)
    assert sum(got[p] == new[p] for p in old) == 1
    assert _staging_leftovers(tmp_path) == []
    upsert.write_upsert_partitioned(spark, batch, path, keys=["code"],
                                    partition_cols=["dt"])
    got = {(r["code"], r["dt"]): r["v"]
           for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 9.0, ("b", 2): 9.0, ("c", 3): 9.0,
                   ("e", 3): 5.0, ("d", 4): 4.0}


def test_driver_read_failure_falls_back_to_the_spark_plan(spark, tmp_path,
                                                          monkeypatch):
    """When the driver cannot read a touched partition's file, the merge
    takes the Spark plan over the same partitions — never the first-write
    path, which would overwrite them with only the update rows."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 1.0), ("b", 1, 2.0)],
                                     _PSCHEMA),
        path, keys=["code"], partition_cols=["dt"])
    real = pq.ParquetFile

    def flaky(source, *a, **kw):
        if str(source).startswith(path):
            raise OSError("transient fs error")
        return real(source, *a, **kw)
    monkeypatch.setattr(pq, "ParquetFile", flaky)
    upsert.write_upsert_partitioned(
        spark, spark.createDataFrame([("a", 1, 9.0)], _PSCHEMA), path,
        keys=["code"], partition_cols=["dt"])
    monkeypatch.undo()
    got = {r["code"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 9.0, "b": 2.0}
    assert [f.endswith(".snappy.parquet")
            for f in os.listdir(os.path.join(path, "dt=1"))
            if not f.startswith((".", "_"))] == [True]


def test_one_driver_parquet_layer_contract():
    """Driver-side parquet files are ``lake``'s alone: no other module of
    the package imports ``pyarrow.parquet``, the modules that touch table
    files import no leading-underscore helper from ``operators.upsert``
    but its merge and publish decisions, and the helpers ``lake`` took
    over have no second copy there or in the txlog source."""
    import ast
    import pathlib

    from data_integration_celery_spark.sources import txlog_stream

    pkg = pathlib.Path(lake.__file__).parent

    def imports(rel):
        for n in ast.walk(ast.parse((pkg / rel).read_text())):
            if isinstance(n, ast.Import):
                yield from ((a.name, None) for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                yield from ((n.module or "", a.name) for a in n.names)

    readers = sorted(
        f.relative_to(pkg).as_posix() for f in pkg.rglob("*.py")
        if any(m.startswith("pyarrow.parquet")
               or (m == "pyarrow" and name == "parquet")
               for m, name in imports(f.relative_to(pkg))))
    assert readers == ["lake.py"]
    for rel in ("sinks/txlog.py", "sinks/__init__.py", "streaming/jobs.py",
                "sources/catalog_ingest.py"):
        private = {name for m, name in imports(rel)
                   if m.endswith("operators.upsert") and name
                   and name.startswith("_")}
        assert private <= {"_driver_rows", "_publish"}, (rel, private)
    for name in ("_read_arrow", "_write_parquet", "_footer_schema",
                 "_arrow_type", "_arrow_schema", "_spark_type",
                 "_parquet_options", "_swap_partitions", "_text_kind",
                 "_fs", "_exists", "_rename", "_hadoop_rm", "_local_path"):
        assert not hasattr(upsert, name), name
    assert not hasattr(txlog_stream, "_arrow_type")
