"""ACID transaction-log table (sinks/txlog.py): atomic commits, snapshot
isolation, optimistic concurrency, time travel, pruned MERGE, vacuum.

Reference parity: the MySQL sink's statement atomicity
(tasks/backend/__init__.py:16-38) extended to multi-writer table atomicity —
the gap write_upsert documents as single-writer.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark.operators.upsert import upsert_frames
from data_integration_celery_spark.sinks.txlog import (
    ConflictError, LocalLogStore, TxTable, replay)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="txlog_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderkey", "o_totalprice", "o_orderstatus"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- log store


def test_put_if_absent_exactly_one_winner(tdir):
    store = LocalLogStore()
    path = os.path.join(tdir, "00000000000000000001.json")
    assert store.put_if_absent(path, b'{"a": 1}') is True
    assert store.put_if_absent(path, b'{"a": 2}') is False
    assert store.read(path) == {"a": 1}  # loser never clobbers the winner
    assert not glob.glob(os.path.join(tdir, "*.tmp"))  # temp staging cleaned


# ------------------------------------------------------------- create/read


def test_create_snapshot_roundtrip_and_stats(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir)
    v = t.create(src, stats_cols=["o_orderkey"])
    assert v == 1
    assert _rows(t.snapshot()) == _rows(src)
    adds = t.live_files()
    assert sum(a["rows"] for a in adds) == src.count()
    # repartitionByRange on the stats col ⇒ files carry DISJOINT key ranges
    spans = sorted((a["stats"]["o_orderkey"]["min"],
                    a["stats"]["o_orderkey"]["max"]) for a in adds)
    for (lo, hi), (lo2, _hi2) in zip(spans, spans[1:]):
        assert lo <= hi < lo2
    with pytest.raises(FileExistsError):
        t.create(src)


def test_append_and_time_travel(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(50)
    t.create(src)
    extra = src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    v2 = t.append(extra)
    assert v2 == 2
    assert t.snapshot().count() == 100
    assert t.snapshot(version=1).count() == 50  # time travel
    assert _rows(t.snapshot(version=1)) == _rows(src)
    with pytest.raises(ValueError):
        t.snapshot(version=99)


def test_commit_payloads_are_writer_unique(spark, sf_dir, tdir):
    """Every commit payload carries a per-writer UUID nonce, so payload
    content equality uniquely identifies the author — the invariant the
    HadoopLogStore rename-race and ObjectStoreLogStore lost-PUT
    disambiguation paths rely on (r10 ADVICE #3). Without it, two EMPTY
    commits (no data files to make them unique) landing in the same
    millisecond would be byte-identical and both writers would be told
    they won."""
    src = _orders(spark, sf_dir).limit(5)
    empty = src.limit(0)
    t = TxTable(spark, tdir)
    t.create(src)
    t.append(empty)
    t.append(empty)
    logs = sorted(glob.glob(os.path.join(tdir, "_txlog", "*.json")))
    payloads = [json.load(open(p)) for p in logs]
    nonces = [c["writer"] for c in payloads]
    assert all(n for n in nonces)
    assert len(set(nonces)) == len(nonces)
    # the two empty appends differ ONLY by nonce-bearing fields — strip
    # writer+ts+version and they would collide, proving the nonce is what
    # carries the uniqueness for this commit shape
    a, b = payloads[-2], payloads[-1]
    assert a["add"] == b["add"] == [] and a["op"] == b["op"]


def test_overwrite_atomic_swap(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(40)
    t.create(src)
    repl = src.limit(7).withColumn("o_orderstatus", F.lit("Z"))
    t.overwrite(repl)
    assert _rows(t.snapshot()) == _rows(repl)
    assert t.snapshot(version=1).count() == 40  # old version still readable


# -------------------------------------------------------------------- merge


def test_merge_upsert_matches_upsert_frames(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    updates = (src.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 2)
               .withColumn("o_orderstatus", F.lit("R")))
    expected = upsert_frames(src, updates, keys=["o_orderkey"])
    t.merge_upsert(updates, keys=["o_orderkey"])
    assert _rows(t.snapshot()) == _rows(expected)
    # idempotent replay (same batch, same result)
    t.merge_upsert(updates, keys=["o_orderkey"])
    assert _rows(t.snapshot()) == _rows(expected)


def test_merge_prunes_untouched_files(spark, sf_dir, tdir):
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    before = {a["path"]: a for a in t.live_files()}
    assert len(before) >= 4
    lo_keys = sorted(a["stats"]["o_orderkey"]["max"] for a in before.values())
    # touch only keys inside the lowest file's range
    cutoff = lo_keys[0]
    updates = (src.where(F.col("o_orderkey") <= cutoff)
               .withColumn("o_orderstatus", F.lit("X")))
    t.merge_upsert(updates, keys=["o_orderkey"])
    after = {a["path"] for a in t.live_files()}
    survivors = set(before) & after
    # at least one disjoint-range file was provably untouched and stayed live
    assert survivors, "file pruning rewrote the whole table"
    touched = set(before) - after
    assert touched, "no file was rewritten"
    hist = t.history()[-1]
    assert hist["op"] == "merge_upsert" and hist["pruned_files"] == len(survivors)
    expected = upsert_frames(src, updates, keys=["o_orderkey"])
    assert _rows(t.snapshot()) == _rows(expected)


def test_merge_conform_missing_column_null(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(30)
    t.create(src, stats_cols=["o_orderkey"])
    updates = (src.limit(5).select("o_orderkey", "o_totalprice")
               .withColumn("o_totalprice", F.lit(0.0)))
    t.merge_upsert(updates, keys=["o_orderkey"])
    got = t.snapshot().where(F.col("o_totalprice") == 0.0)
    assert got.count() == 5
    assert all(r.o_orderstatus is None for r in got.collect())


# -------------------------------------------------------------- concurrency


def test_concurrent_appends_both_land(spark, sf_dir, tdir):
    """Two writers race the same version: the loser auto-retries at the next
    slot — blind appends never conflict and no rows are lost."""
    src = _orders(spark, sf_dir).limit(10)
    a, b = TxTable(spark, tdir), TxTable(spark, tdir)
    a.create(src)
    # force the race: B stages its files and computes read_version=1, then A
    # commits version 2 before B's commit attempt
    orig_commit = TxTable._commit
    state = {"fired": False}

    def racing_commit(self, *args, **kwargs):
        if not state["fired"]:
            state["fired"] = True
            a.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 100))
        return orig_commit(self, *args, **kwargs)

    b_updates = src.withColumn("o_orderkey", F.col("o_orderkey") + 200)
    try:
        TxTable._commit = racing_commit
        b.append(b_updates)
    finally:
        TxTable._commit = orig_commit
    assert b.latest_version() == 3
    assert b.snapshot().count() == 30
    ops = [c["op"] for c in b.history()]
    assert ops == ["create", "append", "append"]


def test_merge_conflict_raises_not_lost_update(spark, sf_dir, tdir):
    """A commit landing between a merge's read and its commit must fail the
    merge loudly (serializable), never silently drop the intervening write."""
    src = _orders(spark, sf_dir).limit(10)
    a, b = TxTable(spark, tdir), TxTable(spark, tdir)
    a.create(src, stats_cols=["o_orderkey"])
    orig_commit = TxTable._commit
    state = {"fired": False}

    def racing_commit(self, op, *args, **kwargs):
        if op == "merge_upsert" and not state["fired"]:
            state["fired"] = True
            a.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 500))
        return orig_commit(self, op, *args, **kwargs)

    try:
        TxTable._commit = racing_commit
        with pytest.raises(ConflictError):
            b.merge_upsert(src.withColumn("o_orderstatus", F.lit("R")),
                           keys=["o_orderkey"])
    finally:
        TxTable._commit = orig_commit
    # the intervening append is intact; the failed merge left no trace
    assert b.snapshot().count() == 20
    # caller retries on the new snapshot and succeeds
    b.merge_upsert(src.withColumn("o_orderstatus", F.lit("R")),
                   keys=["o_orderkey"])
    assert b.snapshot().where(F.col("o_orderstatus") == "R").count() == 10


def test_append_loses_to_overwrite(spark, sf_dir, tdir):
    src = _orders(spark, sf_dir).limit(10)
    a, b = TxTable(spark, tdir), TxTable(spark, tdir)
    a.create(src)
    orig_commit = TxTable._commit
    state = {"fired": False}

    def racing_commit(self, op, *args, **kwargs):
        if op == "append" and not state["fired"]:
            state["fired"] = True
            a.overwrite(src.limit(3))
        return orig_commit(self, op, *args, **kwargs)

    try:
        TxTable._commit = racing_commit
        with pytest.raises(ConflictError):
            b.append(src)
    finally:
        TxTable._commit = orig_commit
    assert b.snapshot().count() == 3  # overwrite won; append refused


# ---------------------------------------------------- crash safety / vacuum


def test_uncommitted_files_invisible_and_vacuumed(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(20)
    t.create(src, stats_cols=["o_orderkey"])
    # simulate a writer that crashed after staging data, before commit
    orphan_dir = os.path.join(tdir, "_data", "deadbeefdeadbeef")
    src.limit(5).write.parquet(orphan_dir)
    assert t.snapshot().count() == 20  # invisible to readers
    # a merge leaves the old files on disk but removed from the live set
    t.merge_upsert(src.withColumn("o_orderstatus", F.lit("R")),
                   keys=["o_orderkey"])
    removed = t.vacuum(ttl_seconds=0)
    assert removed, "vacuum found nothing to reclaim"
    assert not os.path.isdir(orphan_dir)
    # table still fully readable after vacuum; time travel to v1 is gone
    assert t.snapshot().count() == 20
    with pytest.raises(Exception):
        t.snapshot(version=1).collect()


def test_vacuum_ttl_protects_recent_files(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(20)
    t.create(src)
    t.overwrite(src.limit(5))
    assert t.vacuum(ttl_seconds=3600) == []  # too young to reclaim
    assert t.snapshot(version=1).count() == 20  # time travel intact


def test_compact_preserves_data(spark, sf_dir, tdir):
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    assert len(t.live_files()) >= 4
    t.compact(target_files=1)
    assert len(t.live_files()) == 1
    assert _rows(t.snapshot()) == _rows(src)


def test_commit_files_are_valid_json_with_schema(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    t.create(_orders(spark, sf_dir).limit(5))
    log_files = sorted(glob.glob(os.path.join(tdir, "_txlog", "*.json")))
    assert len(log_files) == 1
    with open(log_files[0]) as f:
        commit = json.load(f)
    assert commit["version"] == 1 and commit["op"] == "create"
    assert {"o_orderkey", "o_totalprice", "o_orderstatus"} == {
        f["name"] for f in json.loads(commit["schema"])["fields"]}


# --------------------------------------------------------------------- plan


def test_merge_plan_is_one_key_shuffle_no_python(spark, sf_dir, spark_merges):
    """The CoW merge's data path: union → ONE hashpartitioning exchange on
    the PK (the window dedup) — no Python eval nodes, no cartesian shapes,
    no single-partition funnel of data rows. Same shuffle a Delta MERGE
    plans; at 100 TB file pruning bounds its input to the touched files."""
    src = _orders(spark, sf_dir)
    updates = src.limit(10).withColumn("o_orderstatus", F.lit("R"))
    merged = upsert_frames(src, updates, keys=["o_orderkey"])
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = merged._jdf.queryExecution().explainString(
        jvm_mode.fromString("formatted"))
    assert "hashpartitioning(o_orderkey" in plan
    assert "Exchange SinglePartition" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "CartesianProduct"):
        assert node not in plan


# -------------------------------------------------------- txn / exactly-once


def test_txn_append_replay_is_noop(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src)
    t.append(src, txn={"app_id": "job-a", "batch_id": 0})
    assert t.snapshot().count() == 20
    # crash-replay of the SAME batch: skipped (appends would double otherwise)
    t.append(src, txn={"app_id": "job-a", "batch_id": 0})
    assert t.snapshot().count() == 20
    assert t.last_txn("job-a") == 0 and t.last_txn("job-b") is None
    # a different app's batch 0 is independent
    t.append(src, txn={"app_id": "job-b", "batch_id": 0})
    assert t.snapshot().count() == 30
    # the next batch of job-a applies
    t.append(src, txn={"app_id": "job-a", "batch_id": 1})
    assert t.snapshot().count() == 40


def test_txn_merge_replay_is_noop(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src, stats_cols=["o_orderkey"])
    upd = src.withColumn("o_orderstatus", F.lit("R"))
    v = t.merge_upsert(upd, keys=["o_orderkey"],
                       txn={"app_id": "m", "batch_id": 7})
    assert t.merge_upsert(upd, keys=["o_orderkey"],
                          txn={"app_id": "m", "batch_id": 7}) == v
    assert len(t.history()) == 2  # create + one merge; replay left no commit


@pytest.mark.parametrize("stats_cols", [["o_orderkey"], []])
def test_empty_merge_writes_and_commits_nothing(spark, sf_dir, tdir,
                                                stats_cols):
    """A merge of zero update rows (a watermark-only micro-batch) must not
    rewrite the table or burn a commit — with or without a prune column."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src, stats_cols=stats_cols)
    live = t.live_files()
    assert t.merge_upsert(src.limit(0), keys=["o_orderkey"],
                          txn={"app_id": "m", "batch_id": 0}) == 1
    assert t.latest_version() == 1
    assert t.live_files() == live


def test_snapshot_prune_skips_files(spark, sf_dir, tdir):
    """Log-level data skipping: a range-bounded read opens ONLY the files
    whose recorded stats overlap — the others never reach Spark's scan."""
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    cut = sorted(a["stats"]["o_orderkey"]["max"]
                 for a in t.live_files())[0]
    pruned = t.snapshot(prune={"o_orderkey": (0, cut)})
    assert len(pruned.inputFiles()) < len(t.live_files())
    # pruning is an optimization, not a filter: with the real predicate
    # applied the result equals the unpruned read
    want = _rows(src.where(F.col("o_orderkey") <= cut))
    got = _rows(pruned.where(F.col("o_orderkey") <= cut))
    assert got == want and len(got) > 0
    # a column with no stats is conservatively unprunable
    full = t.snapshot(prune={"o_totalprice": (0.0, 1.0)})
    assert len(full.inputFiles()) == len(t.live_files())


def test_append_schema_evolution(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src)
    widened = src.withColumn("o_source", F.lit("vendor_b"))
    # unknown columns are an ERROR by default — never silently dropped
    with pytest.raises(ValueError, match="o_source"):
        t.append(widened)
    t.append(widened, merge_schema=True)
    got = t.snapshot()
    assert "o_source" in got.columns
    assert got.count() == 20
    # pre-widening files read as NULL for the new column; new rows carry it
    assert got.where(F.col("o_source").isNull()).count() == 10
    assert got.where(F.col("o_source") == "vendor_b").count() == 10
    # the widened schema persists for later plain appends
    t.append(src)
    assert t.snapshot().where(F.col("o_source").isNull()).count() == 20


def test_checkpoint_bounds_replay_and_is_derived(spark, sf_dir, tdir):
    """Every N commits a live-set checkpoint rolls; reads replay only past
    it. Checkpoints are derived data: corrupting one falls back to full
    replay with identical results."""
    t = TxTable(spark, tdir, checkpoint_interval=4)
    src = _orders(spark, sf_dir).limit(5)
    t.create(src)
    for i in range(1, 9):
        t.append(src.withColumn("o_orderkey",
                                F.col("o_orderkey") + 1000 * i))
    assert t.latest_version() == 9
    ckpts = sorted(glob.glob(os.path.join(tdir, "_txlog", "*.checkpoint.json")))
    assert [os.path.basename(c) for c in ckpts] == [
        "00000000000000000004.checkpoint.json",
        "00000000000000000008.checkpoint.json"]
    assert t.snapshot().count() == 45
    # time travel BEFORE the first checkpoint (full replay of 1..3)
    assert t.snapshot(version=3).count() == 15
    # time travel BETWEEN checkpoints (ckpt 4 + commits 5..6)
    assert t.snapshot(version=6).count() == 30
    # corrupt the newest checkpoint: reads must fall back, same answer
    with open(ckpts[-1], "w") as f:
        f.write("{not json")
    assert t.snapshot().count() == 45
    assert t.snapshot(version=6).count() == 30


def test_state_machine_vs_model(spark, sf_dir, tdir):
    """Randomized op sequence (seeded) against a dict model: after every
    commit the committed snapshot equals the model exactly — the state-
    machine check that crosses checkpoints, compaction, merges, overwrites
    and vacuum in one history."""
    import random

    rng = random.Random(0xAC1D)
    t = TxTable(spark, tdir, batch_partitions=2, checkpoint_interval=3)

    def batch(tag: int, n: int):
        rows = [(rng.randrange(0, 40), float(tag), f"s{tag}")
                for _ in range(n)]
        # one row per key per batch (the upsert_frames uniqueness contract)
        uniq = {k: (k, p, s) for k, p, s in rows}
        return (spark.createDataFrame(
                    sorted(uniq.values()),
                    "o_orderkey long, o_totalprice double, o_orderstatus string"),
                uniq)

    df0, model = batch(0, 12)
    t.create(df0, stats_cols=["o_orderkey"])

    for step in range(1, 13):
        op = rng.choice(["merge", "merge", "append", "overwrite", "compact"])
        if op == "merge":
            dfu, upd = batch(step, rng.randrange(1, 10))
            t.merge_upsert(dfu, keys=["o_orderkey"])
            model.update(upd)
        elif op == "append":
            # append fresh never-seen keys so the PK invariant holds
            rows = {1000 * step + i: (1000 * step + i, float(step), f"a{step}")
                    for i in range(rng.randrange(1, 4))}
            t.append(spark.createDataFrame(
                sorted(rows.values()),
                "o_orderkey long, o_totalprice double, o_orderstatus string"))
            model.update(rows)
        elif op == "overwrite":
            dfo, model = batch(step, rng.randrange(2, 8))
            t.overwrite(dfo)
        elif op == "compact":
            t.compact(target_files=1)
        got = sorted(tuple(r) for r in t.snapshot().collect())
        assert got == sorted(model.values()), f"diverged after step {step} ({op})"
    t.vacuum(ttl_seconds=0)
    got = sorted(tuple(r) for r in t.snapshot().collect())
    assert got == sorted(model.values())


def test_changes_cdc_classification(spark, sf_dir, tdir):
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src, stats_cols=["o_orderkey"])                       # v1
    upd = (src.where(F.col("o_orderkey") < 5)
           .withColumn("o_orderstatus", F.lit("R")))
    t.merge_upsert(upd, keys=["o_orderkey"])                       # v2
    t.append(src.withColumn("o_orderkey",
                            F.col("o_orderkey") + 7777))           # v3
    ch = t.changes(1, 3, keys=["o_orderkey"])
    got = {(r.o_orderkey, r._change) for r in ch.collect()}
    n_upd = upd.count()
    assert {c for _, c in got} == {"insert", "update_pre", "update_post"}
    assert sum(1 for _, c in got if c == "insert") == 100
    assert sum(1 for _, c in got if c == "update_pre") == n_upd
    assert sum(1 for _, c in got if c == "update_post") == n_upd
    # unchanged keys (the other ~95) never appear
    assert all(k < 5 or k >= 7777 for k, c in got if c != "insert")
    # delete shows up via overwrite
    t.overwrite(t.snapshot().where(F.col("o_orderkey") >= 5))      # v4
    dels = t.changes(3, 4, keys=["o_orderkey"])
    assert {r._change for r in dels.collect()} == {"delete"}
    assert dels.count() == upd.count()


def test_changes_compaction_is_silent_and_diff_reads_churn_only(
        spark, sf_dir, tdir):
    """Compaction rewrites every file but changes() must report nothing —
    rows that merely moved files cancel; and a merge's diff reads only the
    churned files (shared files are provably identical)."""
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])                       # v1
    v1_files = {a["path"] for a in t.live_files(1)}
    t.compact(target_files=2)                                      # v2
    assert t.changes(1, 2, keys=["o_orderkey"]).count() == 0
    assert t.changes(1, 2).count() == 0  # multiset mode agrees
    # pruned merge: only low-range files churn
    cut = sorted(a["stats"]["o_orderkey"]["max"] for a in t.live_files())[0]
    t.merge_upsert(src.where(F.col("o_orderkey") <= cut)
                   .withColumn("o_orderstatus", F.lit("Z")),
                   keys=["o_orderkey"])                            # v3
    ch = t.changes(2, 3, keys=["o_orderkey"])
    shared = {a["path"] for a in t.live_files(2)} & {
        a["path"] for a in t.live_files(3)}
    assert shared, "merge churned every file; pruning is broken"
    touched_files = {f for f in ch.inputFiles()}
    assert all(os.path.relpath(f.replace("file:", ""), tdir) not in shared
               for f in touched_files), "CDC read a shared (unchanged) file"
    got = {(r.o_orderkey, r._change) for r in ch.collect()}
    want_keys = {r.o_orderkey for r in src.where(
        F.col("o_orderkey") <= cut).collect()}
    assert {k for k, c in got if c == "update_post"} == want_keys
    assert v1_files is not None


def test_changes_apply_reconstructs_snapshot(spark, sf_dir, tdir):
    """The CDC identity: snapshot(v1) + changes(v1, v3) == snapshot(v3) —
    an incremental consumer that applies the feed stays exactly in sync
    without ever re-reading the table."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(200)
    t.create(src, stats_cols=["o_orderkey"])                       # v1
    t.merge_upsert(src.where(F.col("o_orderkey") % 7 == 0)
                   .withColumn("o_totalprice", F.lit(1.0)),
                   keys=["o_orderkey"])                            # v2
    t.overwrite(t.snapshot().where(F.col("o_orderkey") % 11 != 0)) # v3
    ch = t.changes(1, 3, keys=["o_orderkey"])
    base = t.snapshot(version=1)
    gone = ch.where(F.col("_change").isin("delete", "update_pre")) \
             .drop("_change")
    added = ch.where(F.col("_change").isin("insert", "update_post")) \
              .drop("_change")
    rebuilt = base.exceptAll(gone.select(*base.columns)) \
                  .unionByName(added.select(*base.columns))
    assert _rows(rebuilt) == _rows(t.snapshot(version=3))


# ------------------------------------------------------------------- zorder


def test_zorder_compact_skips_on_both_columns(spark, sf_dir, tdir):
    """After OPTIMIZE-ZORDER on (o_orderkey, o_custkey), a range predicate
    on EITHER column prunes files — single-column range layout can only
    ever serve one of them."""
    t = TxTable(spark, tdir)
    src = (_orders_full(spark, sf_dir)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    t.create(src, stats_cols=["o_orderkey"])
    t.compact(target_files=16, zorder=["o_orderkey", "o_custkey"], bits=4)
    live = t.live_files()
    assert len(live) >= 8
    # every file carries stats for BOTH z-ordered columns
    assert all({"o_orderkey", "o_custkey"} <= set(a["stats"]) for a in live)
    kmax = src.agg(F.max("o_orderkey")).collect()[0][0]
    cmax = src.agg(F.max("o_custkey")).collect()[0][0]
    by_key = t.snapshot(prune={"o_orderkey": (0, kmax // 8)})
    by_cust = t.snapshot(prune={"o_custkey": (0, cmax // 8)})
    assert len(by_key.inputFiles()) < len(live)
    assert len(by_cust.inputFiles()) < len(live)
    # pruning stays a pure optimization: filtered results are exact
    want = _rows(src.where(F.col("o_custkey") <= cmax // 8))
    got = _rows(by_cust.where(F.col("o_custkey") <= cmax // 8))
    assert got == want and len(got) > 0
    # data unchanged by the z-order rewrite
    assert t.snapshot().count() == src.count()


def _orders_full(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_zorder_rejects_bad_inputs(spark, sf_dir, tdir):
    from data_integration_celery_spark.operators.zorder import with_zorder_key
    src = _orders_full(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    with pytest.raises(ValueError, match="non-numeric"):
        with_zorder_key(src, ["o_orderstatus"])
    with pytest.raises(ValueError, match="<= 62"):
        with_zorder_key(src, ["o_orderkey"], bits=63)


def test_append_race_does_not_regress_widened_schema(spark, sf_dir, tdir):
    """A blind append that loses the race to a schema-widening commit must
    carry the WIDENED schema forward, not re-commit its own stale one."""
    src = _orders(spark, sf_dir).limit(10)
    a, b = TxTable(spark, tdir), TxTable(spark, tdir)
    a.create(src)
    orig_commit = TxTable._commit
    state = {"fired": False}

    def racing_commit(self, op, *args, **kwargs):
        if op == "append" and not state["fired"]:
            state["fired"] = True
            a.append(src.withColumn("o_flag", F.lit(1)), merge_schema=True)
        return orig_commit(self, op, *args, **kwargs)

    try:
        TxTable._commit = racing_commit
        b.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 900))
    finally:
        TxTable._commit = orig_commit
    got = b.snapshot()
    assert "o_flag" in got.columns, "lost-race append regressed the schema"
    assert got.count() == 30
    assert got.where(F.col("o_flag") == 1).count() == 10


def test_overwrite_narrower_schema_drops_stale_stats_col(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src, stats_cols=["o_orderkey"])
    t.overwrite(src.select("o_totalprice", "o_orderstatus"))
    assert t.snapshot().columns == ["o_totalprice", "o_orderstatus"]
    assert t.snapshot().count() == 10


def test_zorder_key_is_pure_codegen(spark, sf_dir, spark_merges):
    """The z-key is a when-chain + bit-interleave of Column expressions —
    whole-stage codegen, no Python eval nodes, no exchange of its own."""
    from data_integration_celery_spark.operators.zorder import with_zorder_key
    src = _orders_full(spark, sf_dir).select("o_orderkey", "o_custkey")
    zdf = with_zorder_key(src, ["o_orderkey", "o_custkey"], bits=4)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = zdf._jdf.queryExecution().explainString(
        jvm_mode.fromString("formatted"))
    assert "codegen id" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "Exchange"):
        assert node not in plan


# ------------------------------------------------------- review regressions


def test_merge_pruning_decimal_key_no_lost_update(spark, sf_dir, tdir):
    """Decimal stats serialize as widened floats, never str() — a
    lexicographic compare orders '100' < '90' and would prune files that DO
    hold updated keys, silently duplicating PKs."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = (_orders(spark, sf_dir).limit(300)
           .withColumn("o_orderkey",
                       F.col("o_orderkey").cast("decimal(20,2)")))
    t.create(src, stats_cols=["o_orderkey"])
    for a in t.live_files():
        st = a["stats"]["o_orderkey"]
        assert isinstance(st["min"], float) and isinstance(st["max"], float)
    updates = (src.where((F.col("o_orderkey") >= 90)
                         & (F.col("o_orderkey") <= 200))
               .withColumn("o_orderstatus", F.lit("D")))
    n_upd = updates.count()
    assert n_upd > 0
    t.merge_upsert(updates, keys=["o_orderkey"])
    got = t.snapshot()
    assert got.count() == 300  # no duplicated PKs
    assert got.where(F.col("o_orderstatus") == "D").count() == n_upd


def test_snapshot_prune_half_open_ranges(spark, sf_dir, tdir):
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    live = len(t.live_files())
    kmax = src.agg(F.max("o_orderkey")).collect()[0][0]
    hi_only = t.snapshot(prune={"o_orderkey": (None, kmax // 8)})
    lo_only = t.snapshot(prune={"o_orderkey": (kmax * 7 // 8, None)})
    assert 0 < len(hi_only.inputFiles()) < live
    assert 0 < len(lo_only.inputFiles()) < live
    got = _rows(lo_only.where(F.col("o_orderkey") >= kmax * 7 // 8))
    want = _rows(src.where(F.col("o_orderkey") >= kmax * 7 // 8))
    assert got == want and len(got) > 0


def test_zorder_nulls_in_bottom_bucket(spark, sf_dir):
    from data_integration_celery_spark.operators.zorder import with_zorder_key
    src = (_orders_full(spark, sf_dir).limit(100)
           .select(F.when(F.col("o_orderkey") % 10 == 0, None)
                   .otherwise(F.col("o_orderkey")).alias("k")))
    z = with_zorder_key(src, ["k"], bits=3)
    nz = {r["__z"] for r in z.where(F.col("k").isNull()).collect()}
    assert nz == {0}, f"NULLs must land in bucket 0, got z={nz}"


def test_zorder_compact_persists_widened_stats_cols(spark, sf_dir, tdir):
    """After compact(zorder=[a,b]) the table's recorded stats_cols widen, so
    FUTURE appends keep recording stats for both columns (without this the
    multi-column skipping silently decays as stat-less files accumulate)."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = (_orders_full(spark, sf_dir)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    t.create(src.limit(200), stats_cols=["o_orderkey"])
    t.compact(target_files=4, zorder=["o_orderkey", "o_custkey"])
    t.append(src.where(F.col("o_orderkey") > 200).limit(50))
    appended = t.history()[-1]["add"]
    assert appended
    assert all({"o_orderkey", "o_custkey"} <= set(a["stats"])
               for a in appended)
    # and the merge prune key is STILL the original first stats col
    assert t._state().stats_cols[0] == "o_orderkey"


def test_merge_reserved_order_col_preserves_user_batch_id(spark, sf_dir, tdir):
    """A user data column literally named batch_id survives a sink merge —
    the micro-batch stamp uses the reserved __mb_batch name."""
    t = TxTable(spark, tdir)
    src = (_orders(spark, sf_dir).limit(20)
           .withColumn("batch_id", F.lit(42).cast("long")))
    t.create(src, stats_cols=["o_orderkey"])
    upd = (src.limit(5).withColumn("o_orderstatus", F.lit("R"))
           .withColumn("__mb_batch", F.lit(1)))
    t.merge_upsert(upd, keys=["o_orderkey"], order_col="__mb_batch")
    got = t.snapshot()
    assert "batch_id" in got.columns
    assert got.where(F.col("batch_id") == 42).count() == 20


def test_restore_rolls_back_as_new_commit(spark, sf_dir, tdir):
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src, stats_cols=["o_orderkey"])                       # v1
    t.merge_upsert(src.where(F.col("o_orderkey") < 10)
                   .withColumn("o_orderstatus", F.lit("BAD")),
                   keys=["o_orderkey"])                            # v2
    v3 = t.restore(1)
    assert v3 == 3
    assert _rows(t.snapshot()) == _rows(src)              # back to v1 content
    assert t.snapshot(version=2).where(
        F.col("o_orderstatus") == "BAD").count() > 0      # history intact
    assert t.history()[-1]["op"] == "restore"
    # CDC across the restore reports the reverted rows
    ch = t.changes(2, 3, keys=["o_orderkey"])
    assert {r._change for r in ch.collect()} == {"update_pre", "update_post"}
    # restore past the vacuum horizon fails fast
    t.merge_upsert(src.limit(5).withColumn("o_orderstatus", F.lit("X")),
                   keys=["o_orderkey"])                            # v4
    t.vacuum(ttl_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(2)


def test_last_txn_resumes_from_checkpoint(spark, sf_dir, tdir):
    """txn high-water marks ride the checkpoints (the O(interval) write-path
    bound); a corrupt newest checkpoint falls back without losing marks."""
    t = TxTable(spark, tdir, checkpoint_interval=2)
    src = _orders(spark, sf_dir).limit(5)
    t.create(src)
    for b in range(4):
        t.append(src, txn={"app_id": "stream-a", "batch_id": b})
    t.append(src, txn={"app_id": "stream-b", "batch_id": 100})
    assert t.latest_version() == 6
    ckpts = sorted(glob.glob(os.path.join(tdir, "_txlog", "*.checkpoint.json")))
    assert len(ckpts) == 3  # v2, v4, v6
    with open(ckpts[-1]) as f:
        # ckpt v6 covers commits 1..6: stream-a batches 0..3 (v2..v5),
        # stream-b batch 100 (v6)
        assert json.load(f)["txns"] == {"stream-a": 3, "stream-b": 100}
    assert t.last_txn("stream-a") == 3
    assert t.last_txn("stream-b") == 100
    # replay of an old batch stays a no-op across the checkpoint boundary
    t.append(src, txn={"app_id": "stream-a", "batch_id": 1})
    assert t.latest_version() == 6 and t.snapshot().count() == 30
    # corrupt the newest checkpoint: marks still resolved (older ckpt +
    # commit scan), correctness unchanged
    with open(ckpts[-1], "w") as f:
        f.write("{broken")
    assert t.last_txn("stream-a") == 3
    assert t.last_txn("stream-b") == 100
    assert t.snapshot().count() == 30


# ------------------------------------ one replay: checkpoints, store calls


class _NoCheckpointStore(LocalLogStore):
    """Replays as if the table had ``checkpoint_interval=0``."""

    def list_versions(self, log_dir, suffix=".json"):
        return super().list_versions(log_dir) if suffix == ".json" else []


def test_checkpointed_replay_equals_full_replay(spark, sf_dir, tdir):
    """At every version of a table whose history crosses every kind of
    commit, replay resumed from checkpoints equals replay from version 1
    in every state field, and the txlog source's snapshot equals
    TxTable.snapshot."""
    from data_integration_celery_spark.sources.txlog_stream import (
        read_txlog_snapshot)

    t = TxTable(spark, tdir, batch_partitions=2, checkpoint_interval=2)
    src = _orders(spark, sf_dir).limit(40)
    fresh = src.withColumn("o_orderkey", F.col("o_orderkey") + 100000)
    t.create(src, stats_cols=["o_orderkey"])                              # v1
    t.append(fresh, txn={"app_id": "a", "batch_id": 0})                   # v2
    t.merge_upsert(src.limit(10).withColumn("o_orderstatus", F.lit("R")),
                   keys=["o_orderkey"], txn={"app_id": "m", "batch_id": 0})
    t.add_constraint("price_pos", "o_totalprice > 0")                     # v4
    t.set_change_data_feed(True)                                          # v5
    t.merge_upsert(src.limit(5).withColumn("o_orderstatus", F.lit("S")),
                   keys=["o_orderkey"], txn={"app_id": "m", "batch_id": 1})
    t.delete_where(F.col("o_orderkey") % 3 == 0)                          # v7
    t.append(fresh.withColumn("o_orderkey", F.col("o_orderkey") + 1000),
             txn={"app_id": "a", "batch_id": 1})                          # v8
    t.compact(target_files=2)                                             # v9
    t.restore(7)                                                          # v10
    assert t.latest_version() == 10
    assert len(glob.glob(os.path.join(tdir, "_txlog",
                                      "*.checkpoint.json"))) == 5
    final = replay(LocalLogStore(), t.log_dir)
    assert final.txns == {"a": 1, "m": 1}
    assert final.constraints == {"price_pos": "o_totalprice > 0"}
    assert final.cdf is True and final.stats_cols == ["o_orderkey"]
    for v in range(1, 11):
        resumed = replay(LocalLogStore(), t.log_dir, v)
        assert resumed == replay(_NoCheckpointStore(), t.log_dir, v), v
        want = t.snapshot(version=v)
        got = read_txlog_snapshot(spark, tdir, version=v)
        assert _rows(got.select(*want.columns)) == _rows(want), v


class _CountingStore(LocalLogStore):
    """Counts log-file reads (by file name) and log listings."""

    def __init__(self):
        self.reads: dict[str, int] = {}
        self.listings = 0

    def read(self, path):
        name = os.path.basename(path)
        self.reads[name] = self.reads.get(name, 0) + 1
        return super().read(path)

    def list_versions(self, log_dir, suffix=".json"):
        self.listings += 1
        return super().list_versions(log_dir, suffix)


@pytest.mark.parametrize("interval", [20, 5])
def test_txn_merge_reads_each_commit_once(spark, sf_dir, tdir, interval):
    """One txn-stamped merge on a 13-commit table folds the log once: every
    commit past the newest checkpoint is read at most once, nothing older
    is read, and the log is listed a constant number of times."""
    t = TxTable(spark, tdir, checkpoint_interval=interval)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src, stats_cols=["o_orderkey"])
    for b in range(12):
        t.append(src.withColumn("o_orderkey",
                                F.col("o_orderkey") + 1000 * (b + 1)),
                 txn={"app_id": "s", "batch_id": b})
    newest_ckpt = 13 // interval * interval
    store = _CountingStore()
    counted = TxTable(spark, tdir, store=store, checkpoint_interval=interval)
    assert counted.merge_upsert(
        src.withColumn("o_orderstatus", F.lit("R")), keys=["o_orderkey"],
        txn={"app_id": "m", "batch_id": 0}) == 14
    commits = {n: c for n, c in store.reads.items()
               if not n.endswith(".checkpoint.json")}
    assert all(c == 1 for c in commits.values()), commits
    assert sorted(commits) == [f"{v:020d}.json"
                               for v in range(newest_ckpt + 1, 14)]
    assert sum(store.reads.values()) - len(commits) == (newest_ckpt > 0)
    assert store.listings <= 3


# ------------------------------------------- lost put_if_absent races (r9)


class _LosingStore(LocalLogStore):
    """Fires a rival commit (via another handle) IMMEDIATELY BEFORE the first
    append-commit's put_if_absent, so the O_EXCL create itself loses — the
    race branch the pre-r9 tests never reached (they only simulated a rival
    landing before the attempt started)."""

    def __init__(self, rival_fn):
        self.rival_fn = rival_fn
        self.fired = False

    def put_if_absent(self, path, payload):
        if not self.fired and json.loads(payload).get("op") == "append":
            self.fired = True
            self.rival_fn()
        return super().put_if_absent(path, payload)


def test_append_lost_putifabsent_to_overwrite_raises(spark, sf_dir, tdir):
    """An append whose put_if_absent loses to a table-replacing commit must
    raise ConflictError, never silently land after the replacement."""
    src = _orders(spark, sf_dir).limit(10)
    a = TxTable(spark, tdir)
    a.create(src)
    b = TxTable(spark, tdir,
                store=_LosingStore(lambda: a.overwrite(src.limit(3))))
    with pytest.raises(ConflictError):
        b.append(src)
    assert a.snapshot().count() == 3  # the overwrite's state is untouched


def test_append_lost_putifabsent_carries_widened_schema(spark, sf_dir, tdir):
    """An append whose put_if_absent loses to a schema-widening commit must
    retry with the WIDENED schema (advancing attempt_version on the lost
    race used to skip the carry-forward and regress the table schema)."""
    src = _orders(spark, sf_dir).limit(10)
    a = TxTable(spark, tdir)
    a.create(src)
    widen = lambda: a.append(src.withColumn("o_flag", F.lit(1)),
                             merge_schema=True)
    b = TxTable(spark, tdir, store=_LosingStore(widen))
    v = b.append(src)
    assert v == 3  # create=1, rival widen=2, retried append=3
    with open(os.path.join(tdir, "_txlog", f"{v:020d}.json")) as f:
        assert "o_flag" in json.load(f)["schema"]
    got = b.snapshot()
    assert "o_flag" in got.columns
    assert got.count() == 30
    assert got.where(F.col("o_flag") == 1).count() == 10


def test_changes_rejects_reversed_range(spark, sf_dir, tdir):
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src)
    t.append(src)
    with pytest.raises(ValueError, match="v_from <= v_to"):
        t.changes(2, 1)


def test_stats_cols_survive_replay_without_history_scan(spark, sf_dir, tdir):
    """Append commits carry 'schema' but not 'stats_cols'; replay must
    carry the create's stats_cols forward in the table state, never
    falling back to the O(table-age) full-history scan."""
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(10)
    t.create(src, stats_cols=["o_orderkey"])
    t.append(src)
    t.append(src)
    st = t._state()
    assert st.stats_cols == ["o_orderkey"]
    t.history = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("O(table-age) history() fallback was used"))
    assert t._state().stats_cols == ["o_orderkey"]


# --------------------------------------------- HadoopLogStore (r9, VERDICT 3)


def test_hadoop_logstore_end_to_end(spark, sf_dir, tdir):
    """TxTable runs its full create → append → pruned CoW merge → snapshot /
    time-travel cycle through the Hadoop FileContext store (the HDFS
    LogStore design), not the POSIX link(2) one."""
    from data_integration_celery_spark.sinks.txlog import HadoopLogStore
    t = TxTable(spark, tdir, store=HadoopLogStore(spark),
                batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    assert t.create(src, stats_cols=["o_orderkey"]) == 1
    assert t.append(src.withColumn("o_orderkey",
                                   F.col("o_orderkey") + 10_000_000)) == 2
    upd = (src.limit(10)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    assert t.merge_upsert(upd, keys=["o_orderkey"]) == 3
    assert t.snapshot().count() == 200
    assert t.snapshot(1).count() == 100  # time travel through the same store
    # commit files written by the Hadoop store are plain JSON on disk —
    # byte-compatible with LocalLogStore readers
    t2 = TxTable(spark, tdir)  # default LocalLogStore
    assert t2.snapshot().count() == 200


def test_hadoop_and_local_store_race_one_winner(spark, tdir):
    """The two stores' primitives (link(2) vs FileContext rename-NONE) are
    mutually exclusive on the same path: racing one of each, exactly one
    put_if_absent wins and the winner's payload survives intact."""
    from data_integration_celery_spark.sinks.txlog import HadoopLogStore
    path = os.path.join(tdir, "00000000000000000007.json")
    local, hadoop = LocalLogStore(), HadoopLogStore(spark)
    r1 = local.put_if_absent(path, b'{"who": "local"}')
    r2 = hadoop.put_if_absent(path, b'{"who": "hadoop"}')
    assert (r1, r2) == (True, False)
    assert local.read(path) == {"who": "local"}
    assert hadoop.read(path) == {"who": "local"}
    # and the reverse order on a fresh path
    path2 = os.path.join(tdir, "00000000000000000008.json")
    assert hadoop.put_if_absent(path2, b'{"who": "hadoop"}') is True
    assert local.put_if_absent(path2, b'{"who": "local"}') is False
    assert hadoop.read(path2) == {"who": "hadoop"}
    assert hadoop.list_versions(tdir) == [7, 8]


def test_java_exc_classified_by_class_not_message():
    """A lost rename race is recognized by the Java exception CLASS (or a
    cause in its chain) — never by message substring, so a transient fault
    whose message merely contains 'already exists' surfaces as an error
    instead of silently reading as a lost race (which would busy-retry the
    same commit version forever)."""
    from data_integration_celery_spark.sinks.txlog import _is_java_exc

    class FakeJException:
        def __init__(self, name, cause=None):
            self._name, self._cause = name, cause

        def getClass(self):
            outer = self

            class C:
                def getName(self):
                    return outer._name
            return C()

        def getCause(self):
            return self._cause

    class FakePy4JError(Exception):
        def __init__(self, jexc):
            super().__init__("java side says: file already exists (maybe)")
            self.java_exception = jexc

    faee = "org.apache.hadoop.fs.FileAlreadyExistsException"
    # direct hit
    assert _is_java_exc(FakePy4JError(FakeJException(faee)), faee)
    # hit via the cause chain (RemoteException wrapping)
    wrapped = FakeJException("org.apache.hadoop.ipc.RemoteException",
                             cause=FakeJException(faee))
    assert _is_java_exc(FakePy4JError(wrapped), faee)
    # message mentions "already exists" but the class is a transient fault:
    # must NOT classify as a lost race
    transient = FakePy4JError(FakeJException("java.io.IOException"))
    assert not _is_java_exc(transient, faee)
    # a plain Python exception (no java_exception attr) never matches
    assert not _is_java_exc(RuntimeError("already exists"), faee)
    # self-referential cause chain terminates
    loop = FakeJException("java.io.IOException")
    loop._cause = loop
    assert not _is_java_exc(FakePy4JError(loop), faee)


def _race_worker(path, idx, barrier, q):
    """Top-level for fork: barrier-sync N OS processes, then race
    put_if_absent on the SAME commit path; report (idx, won) via queue."""
    from data_integration_celery_spark.sinks.txlog import LocalLogStore
    barrier.wait(timeout=30)
    won = LocalLogStore().put_if_absent(path, b'{"winner": %d}' % idx)
    q.put((idx, won))


def test_put_if_absent_cross_process_race(tdir):
    """Cross-PROCESS put-if-absent: 8 OS processes (not threads) race to
    commit the same version; exactly one open(O_EXCL)/link wins — the
    multi-writer guarantee TxTable's optimistic commit is built on
    (in-process thread races can't prove O_EXCL, only the GIL)."""
    import multiprocessing as mp
    ctx = mp.get_context("fork")
    n = 8
    barrier = ctx.Barrier(n)
    q = ctx.Queue()
    path = os.path.join(tdir, "00000000000000000001.json")
    procs = [ctx.Process(target=_race_worker, args=(path, i, barrier, q))
             for i in range(n)]
    for pr in procs:
        pr.start()
    results = [q.get(timeout=60) for _ in range(n)]
    for pr in procs:
        pr.join(timeout=30)
    winners = [i for i, won in results if won]
    assert len(winners) == 1, f"expected exactly one winner, got {winners}"
    body = json.load(open(path))
    assert body == {"winner": winners[0]}  # payload intact, never clobbered
    assert not glob.glob(os.path.join(tdir, "*.tmp"))


# -------------------------------------- one-upsert-story contract (r9, V8)


def test_single_upsert_kernel_contract():
    """Both durability contracts (write_upsert's staging+rename and
    TxTable.merge_upsert's commit log) resolve conflicts through the two
    kernels of one rule — ``upsert_frames`` in Spark and ``upsert_arrow``
    on the driver, held equal by
    ``test_upsert_arrow_equals_upsert_frames`` — and nothing else ranks a
    union of base and updates: a third inline merge is exactly the drift
    the decision matrix in operators/upsert.py exists to prevent."""
    import inspect

    from data_integration_celery_spark.sinks import txlog
    from data_integration_celery_spark.operators import upsert as upsert_mod
    assert "upsert_frames(" in inspect.getsource(TxTable.merge_upsert)
    assert "upsert_arrow(" in inspect.getsource(TxTable._driver_merge)
    assert txlog.upsert_frames is upsert_mod.upsert_frames
    assert txlog.upsert_arrow is upsert_mod.upsert_arrow
    assert "upsert_frames(" in inspect.getsource(upsert_mod.write_upsert)
    src = inspect.getsource(upsert_mod.write_upsert_partitioned)
    assert "upsert_frames(" in src and "_driver_upsert_partitions(" in src
    assert "upsert_arrow(" in inspect.getsource(
        upsert_mod._driver_upsert_partitions)
    # the ranking itself lives in the kernels alone
    def ranks(fn):
        src = inspect.getsource(fn)
        return "sort_indices(" in src or (
            "row_number()" in src and '"__src"' in src)
    rankers = sorted(
        f"{home.rsplit('.', 1)[-1]}.{name}"
        for owner, home in ((txlog, txlog.__name__), (TxTable, "TxTable"),
                            (upsert_mod, upsert_mod.__name__))
        for name, fn in inspect.getmembers(owner, inspect.isfunction)
        if fn.__module__ in (txlog.__name__, upsert_mod.__name__)
        and (owner is TxTable or fn.__module__ == home) and ranks(fn))
    assert rankers == ["upsert.upsert_annotated", "upsert.upsert_arrow"]


def test_write_upsert_and_txtable_agree_on_disk(spark, sf_dir, tdir):
    """End-to-end value equivalence of the two durability contracts on the
    SAME inputs, including the order_col tiebreak: the single-writer
    staging sink and the ACID table commit identical on-disk states."""
    from data_integration_celery_spark.operators.upsert import write_upsert
    src = (_orders(spark, sf_dir).limit(200)
           .withColumn("batch_id", F.lit(0)))
    upd = (src.where(F.col("o_orderkey") % 3 == 0)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2)
           .withColumn("batch_id", F.lit(1)))
    plain = os.path.join(tdir, "plain")
    write_upsert(spark, src, plain, keys=["o_orderkey"])
    write_upsert(spark, upd, plain, keys=["o_orderkey"])

    t = TxTable(spark, os.path.join(tdir, "acid"))
    t.create(src.drop("batch_id"))
    t.merge_upsert(upd, keys=["o_orderkey"])

    got_plain = _rows(spark.read.parquet(plain))
    got_acid = _rows(t.snapshot())
    assert got_plain == got_acid and len(got_plain) == 200


# ------------------------------------------- Bloom point-lookup skipping (r9)


def test_bloom_point_lookup_prunes_files(spark, sf_dir, tdir):
    """Per-file Bloom sidecars serve EQUALITY probes that range stats can't:
    the table is range-clustered on o_orderkey, so every file's o_custkey
    [min,max] overlaps every probe — but prune_eq opens only the files
    whose filter admits the value, with zero false negatives."""
    src = _orders_full(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice")
    t = TxTable(spark, tdir, batch_partitions=16)
    t.create(src, stats_cols=["o_orderkey"], bloom_cols=["o_custkey"],
             bloom_bits=1 << 16, bloom_k=5)
    n = len(t.live_files())
    assert n >= 8
    assert all("o_custkey" in a.get("bloom", {}) for a in t.live_files())
    probe = src.limit(1).collect()[0]["o_custkey"]
    pruned = t.snapshot(prune_eq={"o_custkey": probe})
    # no false negatives: the pruned scan finds every matching row
    want = _rows(src.where(F.col("o_custkey") == probe))
    got = _rows(pruned.where(F.col("o_custkey") == probe))
    assert got == want and len(got) > 0
    # and it actually skips: the value lives in far fewer files than all
    assert len(pruned.inputFiles()) < n
    # a value outside the domain prunes (almost) everything — with 5
    # hashes at ~10 bits/value the chance any file admits it is tiny
    absent = t.snapshot(prune_eq={"o_custkey": -987654321})
    assert len(absent.inputFiles()) <= max(1, n // 4)
    assert absent.where(F.col("o_custkey") == -987654321).count() == 0


def test_bloom_cross_type_probe_no_false_negative(spark, tdir):
    """A probe whose Python type differs from the column's SQL type must
    still find every file containing the value: the probe literal is cast
    to the schema type before the string cast the hash uses (int 777 vs
    DOUBLE stringifies "777" vs "777.0" — uncast, the probe would hash to
    different bits and WRONGLY prune files that contain the value)."""
    df = spark.createDataFrame(
        [(i, float(i % 7) * 111.0, i % 5) for i in range(400)],
        "id long, d double, m int").selectExpr(
        "id", "d", "CAST(m * 1.25 AS DECIMAL(12,2)) AS dec")
    t = TxTable(spark, tdir, batch_partitions=8)
    t.create(df, bloom_cols=["d", "dec"], bloom_bits=4096, bloom_k=5)
    # int probe against DOUBLE column: 3*111 = 333.0 exists
    got = t.snapshot(prune_eq={"d": 333}).where(F.col("d") == 333)
    assert got.count() == df.where(F.col("d") == 333).count() > 0
    # float probe against DECIMAL(12,2) column: 2*1.25 = 2.50 exists
    got2 = t.snapshot(prune_eq={"dec": 2.5}).where(F.col("dec") == 2.5)
    assert got2.count() == df.where(F.col("dec") == 2.5).count() > 0
    # an unrepresentable probe must not crash and finds nothing
    assert t.snapshot(prune_eq={"d": "not-a-number"}) \
        .where(F.col("d").cast("string") == "not-a-number").count() == 0


def test_bloom_batched_probe_single_job(spark, tdir, spark_merges):
    """N point-lookup probes that take the Spark path (cross-typed: int
    literals against a DOUBLE column) resolve through ONE local Spark job
    (the per-value spark.range(1) launch was O(N) jobs), and the batch
    agrees with the single-probe path bit-for-bit."""
    from pyspark.sql.types import DoubleType
    df = spark.createDataFrame([(i, i * 3.0) for i in range(100)],
                               "id long, v double")
    t = TxTable(spark, tdir)
    t.create(df, bloom_cols=["v"], bloom_bits=4096, bloom_k=5)
    probes = [(None, val, DoubleType(), 4096, 5)
              for val in (3, 33, 333, 12, 777)]
    sc = spark.sparkContext
    sc.setJobGroup("bloom-batch-probe", "one job for N probes")
    try:
        batch = t._bloom_positions_batch(probes)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("bloom-batch-probe")
    assert len(jobs) == 1, jobs
    for (_, val, dtype, bits, k), pos in zip(probes, batch):
        assert pos == t._bloom_positions_batch([(None, val, dtype, bits, k)])[0]


def test_bloom_survives_merge_compact_and_checkpoint(spark, sf_dir, tdir):
    """The Bloom spec rides the commit-log meta like stats_cols: CoW merge
    rewrites, appends, compaction, and checkpoint replay all keep newly
    written files indexed."""
    src = (_orders_full(spark, sf_dir).limit(400)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    t = TxTable(spark, tdir, batch_partitions=4, checkpoint_interval=2)
    t.create(src, stats_cols=["o_orderkey"], bloom_cols=["o_custkey"],
             bloom_bits=1 << 14, bloom_k=5)
    t.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))
    upd = (src.limit(50)
           .withColumn("o_totalprice", F.col("o_totalprice") * 2))
    t.merge_upsert(upd, keys=["o_orderkey"])
    t.compact(target_files=4)
    assert all("o_custkey" in a.get("bloom", {}) for a in t.live_files())
    probe = src.limit(1).collect()[0]["o_custkey"]
    got = t.snapshot(prune_eq={"o_custkey": probe}) \
        .where(F.col("o_custkey") == probe)
    want = src.unionByName(
        src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)) \
        .where(F.col("o_custkey") == probe)
    assert got.count() == want.count() > 0


def test_bloom_probe_matches_build_hashes(spark, tdir):
    """Build and probe share the same Spark hash expressions — a filter
    built from a one-value table must admit exactly that value's bits."""
    df = spark.createDataFrame([(1, 777)], "id long, v long")
    t = TxTable(spark, tdir)
    t.create(df, bloom_cols=["v"], bloom_bits=4096, bloom_k=5)
    entry = t.live_files()[0]["bloom"]["v"]
    from data_integration_celery_spark.sinks.txlog import _bloom_admits
    assert _bloom_admits(
        entry, t._bloom_positions_batch([(None, 777, None, 4096, 5)])[0])
    # 20 random absent probes: k=5 bits over 4096 with one value set ->
    # essentially impossible to collide on all five
    assert not any(_bloom_admits(entry, pos) for pos in
                   t._bloom_positions_batch([(None, x, None, 4096, 5)
                                             for x in range(1000, 1020)]))


def _bloom_table(spark, tdir):
    """Four range-clustered files with string, long and date Bloom columns;
    ``z`` is non-null only in the first file."""
    import datetime
    rows = [(i, f"c{i % 37}é" if i % 5 else None, -(i * 7919) ** 3,
             datetime.date(1990, 1, 1) + datetime.timedelta(days=i * 31),
             "z" if i < 10 else None) for i in range(200)]
    df = spark.createDataFrame(
        rows, "id long, s string, l long, d date, z string")
    t = TxTable(spark, tdir, batch_partitions=4)
    t.create(df, stats_cols=["id"], bloom_cols=["s", "l", "d", "z"],
             bloom_bits=4099, bloom_k=3)
    return t, df


def test_driver_bloom_sidecars_match_spark_build(spark, tdir):
    """The driver build (pyarrow read + XXH64 kernel) writes the sidecars
    the Spark-job build writes, byte for byte — for string, long and date
    columns, with ``bits`` not a power of two — and a file whose column is
    all null gets no entry on either path."""
    t, df = _bloom_table(spark, tdir)
    adds = t.live_files()
    st = t._state()
    bare = [{k: v for k, v in a.items() if k != "bloom"} for a in adds]
    driver = t._driver_blooms(bare, df.schema, st.bloom)
    written = spark.read.schema(df.schema).parquet(
        *[os.path.join(tdir, a["path"]) for a in adds])
    assert driver == t._build_blooms(written, st.bloom)
    assert driver == {a["path"]: a["bloom"] for a in adds}
    assert len(adds) == 4
    assert [sorted(e) for e in driver.values()].count(["d", "l", "s", "z"]) == 1
    assert all(sorted(e) in (["d", "l", "s"], ["d", "l", "s", "z"])
               for e in driver.values())


def test_driver_bloom_build_stops_at_its_hash_cap(spark, tdir, monkeypatch):
    """The driver build runs while the batch needs at most
    ``_DRIVER_BLOOM_MAX_HASHES`` hashes (k times the distinct non-null
    values of each file and column) and leaves larger batches to the
    Spark-job build."""
    import pyarrow.parquet as pq

    from data_integration_celery_spark.sinks import txlog
    t, df = _bloom_table(spark, tdir)
    st = t._state()
    bare = [{k: v for k, v in a.items() if k != "bloom"}
            for a in t.live_files()]
    need = st.bloom["k"] * sum(
        len(pq.read_table(os.path.join(tdir, a["path"])).column(c)
            .unique().drop_null())
        for a in bare for c in st.bloom["cols"])
    monkeypatch.setattr(txlog, "_DRIVER_BLOOM_MAX_HASHES", need)
    assert t._driver_blooms(bare, df.schema, st.bloom) == {
        a["path"]: a["bloom"] for a in t.live_files()}
    monkeypatch.setattr(txlog, "_DRIVER_BLOOM_MAX_HASHES", need - 1)
    assert t._driver_blooms(bare, df.schema, st.bloom) is None


def test_bloom_date_past_year_9999_takes_the_spark_build(spark, tdir):
    """A date after 9999-12-31 (which Spark stores, and Python has no date
    for) sends the sidecar build to the Spark job instead of failing the
    write; the commit carries that build's sidecar."""
    import datetime
    df = spark.range(3).select(
        "id", F.date_add(F.lit(datetime.date(9999, 12, 31)),
                         F.col("id").cast("int")).alias("d"))
    t = TxTable(spark, tdir, batch_partitions=1)
    t.create(df, stats_cols=["id"], bloom_cols=["d"], bloom_bits=4099,
             bloom_k=3)
    st = t._state()
    adds = t.live_files()
    bare = [{k: v for k, v in a.items() if k != "bloom"} for a in adds]
    assert t._driver_blooms(bare, df.schema, st.bloom) is None
    written = spark.read.schema(df.schema).parquet(
        *[os.path.join(tdir, a["path"]) for a in adds])
    assert {a["path"]: a["bloom"] for a in adds} == \
        t._build_blooms(written, st.bloom)
    assert t.snapshot().count() == 3


def test_kernel_probe_positions_match_spark(spark, tdir):
    """Probes hashed on the driver land on the positions Spark's hash
    expressions give, for every kernel-typed case; each admits the files
    that hold the value."""
    import datetime

    from pyspark.sql.types import (
        ByteType, DateType, IntegerType, LongType, StringType)

    from data_integration_celery_spark.sinks.txlog import (
        _bloom_admits, _bloom_pos_exprs)
    t, df = _bloom_table(spark, tdir)
    d = datetime.date(1990, 1, 1) + datetime.timedelta(days=31 * 3)
    cases = [("c3é", StringType()), ("", StringType()), ("c3é", None),
             (-(21 * 7919) ** 3, LongType()), (-5, None), (2 ** 40, None),
             (-128, ByteType()), (2 ** 31 - 1, IntegerType()),
             (d, DateType())]
    probes = [(None, v, dt, 4099, 3) for v, dt in cases]
    got = t._bloom_positions_batch(probes)
    for (v, dt), pos in zip(cases, got):
        lit = F.lit(v).try_cast(dt) if dt is not None else F.lit(v)
        want = spark.range(1).select(*_bloom_pos_exprs(lit, 4099, 3)) \
            .collect()[0]
        assert pos == [int(x) for x in want], (v, dt)
    for col, val, pos in (("s", "c3é", got[0]),
                          ("l", -(21 * 7919) ** 3, got[3]), ("d", d, got[8])):
        holders = [a for a in t.live_files() if spark.read.parquet(
            os.path.join(tdir, a["path"])).where(F.col(col) == val).count()]
        assert holders
        assert all(_bloom_admits(a["bloom"][col], pos) for a in holders)


def test_bloom_kernel_typed_probes_run_no_job(spark, tdir, spark_merges):
    """Probes whose value already has the column's type hash on the driver:
    a point lookup's Bloom pruning starts no Spark job."""
    import datetime
    t, _ = _bloom_table(spark, tdir)
    probes = [(None, "c3é", None, 4099, 3), (None, 12, None, 4099, 3)]
    for col, value in (("s", "c3é"), ("l", -(21 * 7919) ** 3),
                       ("d", datetime.date(1990, 4, 2))):
        dtype = dict((f.name, f.dataType) for f in t._state().struct())[col]
        probes.append((col, value, dtype, 4099, 3))
    sc = spark.sparkContext
    sc.setJobGroup("bloom-kernel-probe", "kernel-typed probes")
    try:
        batch = t._bloom_positions_batch(probes)
        t.snapshot(prune_eq={"s": "c3é", "l": 5})
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("bloom-kernel-probe") == []
    assert all(len(pos) == 3 for pos in batch)


def test_merge_upsert_runs_no_job_after_its_write(spark, tdir, monkeypatch,
                                                spark_merges):
    """A merge into a Bloom table builds the new file's sidecars on the
    driver: no Spark job starts after the data write."""
    from pyspark.sql.readwriter import DataFrameWriter
    t, df = _bloom_table(spark, tdir)
    sc = spark.sparkContext
    group = "merge-after-write"
    after_write = []
    real = DataFrameWriter.parquet

    def write(self, *a, **kw):
        real(self, *a, **kw)
        after_write.append(max(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    upd = df.where(F.col("id") < 20).withColumn("z", F.lit("new"))
    sc.setJobGroup(group, "one merge_upsert")
    try:
        t.merge_upsert(upd, keys=["id"])
    finally:
        sc.setJobGroup(None, None)
    monkeypatch.undo()
    assert len(after_write) == 1
    assert max(sc.statusTracker().getJobIdsForGroup(group)) == after_write[0]
    assert all(set(a["bloom"]) >= {"s", "l", "d"} for a in t.live_files())
    assert t.snapshot(prune_eq={"z": "new"}).where(
        F.col("z") == "new").count() == 20


def test_hadoop_store_uri_root_full_cycle(spark, sf_dir, tdir):
    """TxTable rooted at a file:// URI (the shape an hdfs:// deployment
    has): create → append → merge → snapshot → time-travel → vacuum all
    work — add-action rel paths come from the PLAIN path while store I/O
    keeps the URI, so the right FileSystem always resolves."""
    from data_integration_celery_spark.sinks.txlog import HadoopLogStore
    t = TxTable(spark, f"file://{tdir}", store=HadoopLogStore(spark),
                batch_partitions=2)
    src = (_orders_full(spark, sf_dir).limit(60)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    t.create(src, stats_cols=["o_orderkey"], bloom_cols=["o_custkey"],
             bloom_bits=4096, bloom_k=5)
    t.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 5_000_000))
    upd = src.limit(5).withColumn("o_totalprice", F.lit(1.0))
    t.merge_upsert(upd, keys=["o_orderkey"])
    assert t.snapshot().count() == 120
    assert t.snapshot(1).count() == 60
    # rel paths recorded scheme-less
    assert all(not a["path"].startswith("file:") for a in t.live_files())
    probe = src.limit(1).collect()[0]["o_custkey"]
    got = (t.snapshot(prune_eq={"o_custkey": probe})
           .where(F.col("o_custkey") == probe).count())
    want = (t.snapshot().where(F.col("o_custkey") == probe).count())
    assert got == want > 0
    # vacuum through the store seam: superseded merge files reclaimed
    removed = t.vacuum(ttl_seconds=0)
    assert isinstance(removed, list)
    assert t.snapshot().count() == 120  # live data untouched


def test_bloomless_tables_never_scan_history_for_spec(spark, sf_dir, tdir):
    """Every append/merge reads the bloom spec; a table created WITHOUT
    bloom_cols must resolve the (null) spec from the replayed state, never
    the O(table-age) history fallback."""
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(20)
    t.create(src)
    t.append(src)
    st = t._state()
    assert st.bloom is None
    t.history = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("history() fallback used for bloom spec"))
    assert t._state().bloom is None
    assert t._state().stats_cols == []


# ----------------------- conditional-PUT object store (r10, VERDICT r9 #3)


def _store_factories(spark):
    """The three storage classes behind one seam: POSIX link(2), HDFS
    no-overwrite rename, and object-store conditional PUT."""
    from data_integration_celery_spark.sinks.txlog import (
        HadoopLogStore, InMemoryConditionalPutClient, ObjectStoreLogStore)
    return {
        "local": lambda: LocalLogStore(),
        "hadoop": lambda: HadoopLogStore(spark),
        "object": lambda: ObjectStoreLogStore(InMemoryConditionalPutClient()),
    }


def test_logstore_contract_matrix(spark, tdir):
    """Every store satisfies the same contract: first put_if_absent wins,
    the loser never clobbers the winner's payload, read round-trips,
    list_versions filters non-commit names, exists/delete work."""
    for name, mk in _store_factories(spark).items():
        store = mk()
        d = os.path.join(tdir, name)
        store.ensure_dir(d)
        p7 = os.path.join(d, "00000000000000000007.json")
        assert store.put_if_absent(p7, b'{"who": "first"}') is True
        assert store.put_if_absent(p7, b'{"who": "second"}') is False
        assert store.read(p7) == {"who": "first"}, name
        # non-commit names are invisible to list_versions
        store.put_if_absent(os.path.join(d, "00000000000000000008.json"),
                            b"{}")
        store.put_if_absent(
            os.path.join(d, "00000000000000000020.ckpt.json"), b"{}")
        assert store.list_versions(d) == [7, 8], name
        assert store.list_versions(d, suffix=".ckpt.json") == [20], name
        # maintenance I/O: exists/delete on a data file beside the log
        os.makedirs(d, exist_ok=True)
        data = os.path.join(d, "part-00000.parquet")
        with open(data, "wb") as f:
            f.write(b"x")
        assert store.exists(data) is True, name
        store.delete(data)
        assert store.exists(data) is False, name
        assert not os.path.exists(data), name


def test_object_store_concurrent_writers_one_winner(tdir):
    """8 threads sharing ONE client race put_if_absent on the same commit
    key (two drivers, one bucket): the conditional PUT admits exactly one,
    and the winner's payload survives byte-intact."""
    import threading

    from data_integration_celery_spark.sinks.txlog import (
        InMemoryConditionalPutClient, ObjectStoreLogStore)
    client = InMemoryConditionalPutClient()
    key = os.path.join(tdir, "00000000000000000001.json")
    n = 8
    barrier = threading.Barrier(n)
    results = [None] * n

    def racer(i):
        store = ObjectStoreLogStore(client)  # each writer its own store
        barrier.wait(timeout=30)
        results[i] = store.put_if_absent(key, b'{"winner": %d}' % i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=30)
    winners = [i for i, won in enumerate(results) if won]
    assert len(winners) == 1, winners
    assert json.loads(client.get(key)) == {"winner": winners[0]}


def test_object_store_txtable_full_cycle(spark, sf_dir, tdir):
    """TxTable runs its complete lifecycle through the conditional-PUT
    store: create → blind append → pruned CoW merge → snapshot /
    time-travel → CDC → vacuum → restore. Commits live ONLY in the object
    client (nothing under _txlog on disk); data files are Spark-written
    parquet, invisible until a committed log entry references them."""
    from data_integration_celery_spark.sinks.txlog import (
        InMemoryConditionalPutClient, ObjectStoreLogStore)
    client = InMemoryConditionalPutClient()
    t = TxTable(spark, tdir, store=ObjectStoreLogStore(client),
                batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    assert t.create(src, stats_cols=["o_orderkey"]) == 1
    assert t.append(src.withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000)) == 2
    upd = src.limit(10).withColumn("o_totalprice", F.lit(42.0))
    assert t.merge_upsert(upd, keys=["o_orderkey"]) == 3
    assert t.snapshot().count() == 200
    assert t.snapshot(1).count() == 100  # time travel
    # commit log lives in the client, not on the local filesystem
    assert not glob.glob(os.path.join(tdir, "_txlog", "*.json"))
    assert len(client.list(os.path.join(tdir, "_txlog") + "/")) == 3
    # CDC across the merge reports the updated keys
    chg = t.changes(2, 3, keys=["o_orderkey"])
    assert chg.where(F.col("_change") == "update_post").count() == 10
    # vacuum reclaims superseded merge inputs through the data plane
    t.vacuum(ttl_seconds=0)
    assert t.snapshot().count() == 200
    # a second table handle on the SAME client sees the committed state
    t2 = TxTable(spark, tdir, store=ObjectStoreLogStore(client))
    assert t2.snapshot().count() == 200


def test_object_store_optimistic_retry_across_writers(spark, sf_dir, tdir):
    """Two writers sharing one client: a blind append that loses the
    conditional-PUT race retries into the next version slot (no lost
    update, no duplicate), exactly like the local and HDFS stores."""
    from data_integration_celery_spark.sinks.txlog import (
        InMemoryConditionalPutClient, ObjectStoreLogStore)
    client = InMemoryConditionalPutClient()
    src = _orders(spark, sf_dir).limit(50)
    a = TxTable(spark, tdir, store=ObjectStoreLogStore(client))
    a.create(src)
    b = TxTable(spark, tdir, store=ObjectStoreLogStore(client))

    # interleave: b commits version 2 between a's read and a's commit, by
    # wrapping a's put_if_absent to fire b's append first, once
    real_store = a.store
    fired = {"done": False}

    class Interposer:
        def __getattr__(self, name):
            return getattr(real_store, name)

        def put_if_absent(self, path, payload):
            if not fired["done"]:
                fired["done"] = True
                b.append(src.withColumn("o_orderkey",
                                        F.col("o_orderkey") + 1_000_000))
            return real_store.put_if_absent(path, payload)

    a.store = Interposer()
    a.append(src.withColumn("o_orderkey", F.col("o_orderkey") + 2_000_000))
    assert a.latest_version() == 3
    assert TxTable(spark, tdir, store=ObjectStoreLogStore(client)) \
        .snapshot().count() == 150  # both appends landed, nothing lost


# ---------------------------- deletion vectors (r10, merge-on-read DELETE)


def test_delete_where_no_file_rewrite(spark, sf_dir, tdir):
    """DELETE marks rows in a sidecar instead of rewriting files: the live
    data-file set is unchanged, the snapshot excludes exactly the matched
    rows, and time travel to the pre-delete version still sees them."""
    t = TxTable(spark, tdir, batch_partitions=8)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    before = {a["path"] for a in t.live_files()}
    v = t.delete_where(F.col("o_orderstatus") == "F")
    assert v == 2
    after = t.live_files()
    assert {a["path"] for a in after} == before  # merge-on-read: no rewrite
    want = _rows(src.where(F.col("o_orderstatus") != "F"))
    assert _rows(t.snapshot()) == want
    assert _rows(t.snapshot(1)) == _rows(src)  # time travel pre-delete
    n_del = src.where(F.col("o_orderstatus") == "F").count()
    assert sum(a.get("dv", {}).get("rows", 0) for a in after) == n_del
    assert t.history()[-1]["deleted_rows"] == n_del


def test_delete_where_cumulative_and_sql_string(spark, sf_dir, tdir):
    """Two successive deletes accumulate DV refs per file; a SQL-string
    condition works; an empty delete burns no commit."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(200)
    t.create(src)
    t.delete_where("o_orderstatus = 'F'")
    v2 = t.latest_version()
    t.delete_where(F.col("o_totalprice") > 150000)
    want = _rows(src.where("NOT (o_orderstatus = 'F' OR o_totalprice > 150000)"))
    assert _rows(t.snapshot()) == want
    refs = {len(a.get("dv", {}).get("refs", [])) for a in t.live_files()}
    assert max(refs) <= 2 and (2 in refs or 1 in refs)
    # delete matching nothing: version unchanged, no commit
    v = t.delete_where("o_orderkey < 0")
    assert v == t.latest_version() == v2 + 1


def test_delete_then_merge_no_resurrection(spark, sf_dir, tdir):
    """A CoW merge rewriting a DV-bearing file must NOT resurrect its
    deleted rows."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src, stats_cols=["o_orderkey"])
    t.delete_where(F.col("o_orderstatus") == "F")
    upd = (src.where(F.col("o_orderstatus") != "F").limit(5)
           .withColumn("o_totalprice", F.lit(1.0)))
    t.merge_upsert(upd, keys=["o_orderkey"])
    got = t.snapshot()
    assert got.where(F.col("o_orderstatus") == "F").count() == 0
    assert got.where(F.col("o_totalprice") == 1.0).count() == 5
    expected = upsert_frames(src.where(F.col("o_orderstatus") != "F"),
                             upd, keys=["o_orderkey"])
    assert _rows(got) == _rows(expected)


def test_delete_cdc_compact_vacuum_restore_cycle(spark, sf_dir, tdir):
    """The DV delete plays with every other table feature: CDC reports the
    deleted rows (file path unchanged, DV state changed), compact
    materializes the filtered rows and drops the DVs, vacuum protects
    referenced sidecars, and restore brings the rows back."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(300)
    t.create(src, stats_cols=["o_orderkey"])       # v1
    t.delete_where("o_orderstatus = 'F'")          # v2
    n_del = src.where("o_orderstatus = 'F'").count()
    # CDC across the delete: exactly the deleted rows, as 'delete'
    chg = t.changes(1, 2, keys=["o_orderkey"])
    assert chg.where(F.col("_change") == "delete").count() == n_del
    assert chg.where(F.col("_change") != "delete").count() == 0
    # vacuum now must NOT reclaim the referenced sidecar
    t.vacuum(ttl_seconds=0)
    want = _rows(src.where("o_orderstatus <> 'F'"))
    assert _rows(t.snapshot()) == want
    # compact materializes the delete physically and clears DVs
    t.compact(target_files=2)                      # v3
    assert all(not a.get("dv") for a in t.live_files())
    assert _rows(t.snapshot()) == want
    # restore to v1: deleted rows come back
    t.restore(1)                                   # v4
    assert _rows(t.snapshot()) == _rows(src)
    # after compaction+restore, vacuum may reclaim the unreferenced
    # sidecar and the compacted files; the restored snapshot is intact
    t.vacuum(ttl_seconds=0)
    assert _rows(t.snapshot()) == _rows(src)


def test_delete_exactly_once_txn_and_conflict(spark, sf_dir, tdir):
    """delete_where honors writer-version idempotence (a replayed batch is
    a no-op) and is a table-reading op (concurrent commit -> ConflictError)."""
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src)
    t.delete_where("o_orderstatus = 'F'", txn={"app_id": "del", "batch_id": 1})
    v = t.latest_version()
    # replay of batch 1: skipped
    assert t.delete_where("o_totalprice > 0",
                          txn={"app_id": "del", "batch_id": 1}) == v
    assert _rows(t.snapshot()) == _rows(src.where("o_orderstatus <> 'F'"))
    # conflict: another commit lands between read and commit
    orig = TxTable._commit
    state = {"fired": False}

    def racing(self, op, *a, **k):
        if op == "delete" and not state["fired"]:
            state["fired"] = True
            TxTable(spark, tdir).append(
                src.withColumn("o_orderkey", F.col("o_orderkey") + 10_000))
        return orig(self, op, *a, **k)

    try:
        TxTable._commit = racing
        with pytest.raises(ConflictError):
            t.delete_where("o_totalprice > 100")
    finally:
        TxTable._commit = orig


def test_delete_through_object_and_hadoop_stores(spark, sf_dir, tdir):
    """DV deletes work through the other storage classes too (commit JSON
    carries the dv entries; sidecars ride the data plane)."""
    from data_integration_celery_spark.sinks.txlog import (
        HadoopLogStore, InMemoryConditionalPutClient, ObjectStoreLogStore)
    src = _orders(spark, sf_dir).limit(120)
    for sub, store in (("obj", ObjectStoreLogStore(InMemoryConditionalPutClient())),
                       ("had", HadoopLogStore(spark))):
        root = os.path.join(tdir, sub)
        t = TxTable(spark, root, store=store, batch_partitions=4)
        t.create(src)
        t.delete_where("o_orderstatus = 'F'")
        assert _rows(t.snapshot()) == _rows(src.where("o_orderstatus <> 'F'"))


def test_update_where_merge_on_read(spark, sf_dir, tdir):
    """UPDATE = one atomic commit: DV-mark originals + append rewritten
    rows. No original file is rewritten; snapshot shows the update; time
    travel shows the originals; CDC reports update_pre/update_post."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(300)
    t.create(src, stats_cols=["o_orderkey"])
    before = {a["path"] for a in t.live_files()}
    v = t.update_where("o_orderstatus = 'F'",
                       {"o_totalprice": "o_totalprice * 2",
                        "o_orderstatus": F.lit("X")})
    assert v == 2
    after = {a["path"] for a in t.live_files()}
    assert before <= after  # originals untouched, new files appended
    want = _rows(src.selectExpr(
        "o_orderkey",
        "CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 "
        "ELSE o_totalprice END AS o_totalprice",
        "CASE WHEN o_orderstatus = 'F' THEN 'X' "
        "ELSE o_orderstatus END AS o_orderstatus"))
    assert _rows(t.snapshot()) == want
    assert _rows(t.snapshot(1)) == _rows(src)
    n = src.where("o_orderstatus = 'F'").count()
    assert t.history()[-1]["updated_rows"] == n
    chg = t.changes(1, 2, keys=["o_orderkey"])
    assert chg.where(F.col("_change") == "update_post").count() == n
    assert chg.where(F.col("_change") == "update_pre").count() == n
    assert chg.where(F.col("_change").isin("insert", "delete")).count() == 0


def test_update_where_validates_and_noop(spark, sf_dir, tdir):
    """Unknown set columns error; a no-match update burns no commit; a
    replayed txn batch is skipped."""
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(50)
    t.create(src)
    with pytest.raises(ValueError):
        t.update_where("o_orderkey > 0", {"nope": "1"})
    assert t.update_where("o_orderkey < 0", {"o_totalprice": "0"}) == 1
    assert t.latest_version() == 1
    t.update_where("o_orderstatus = 'F'", {"o_orderstatus": "'Y'"},
                   txn={"app_id": "u", "batch_id": 7})
    v = t.latest_version()
    assert t.update_where("o_orderstatus = 'O'", {"o_orderstatus": "'Z'"},
                          txn={"app_id": "u", "batch_id": 7}) == v
    got = t.snapshot()
    assert got.where("o_orderstatus = 'Z'").count() == 0
    assert got.where("o_orderstatus = 'Y'").count() == \
        src.where("o_orderstatus = 'F'").count()


def test_update_then_delete_then_compact(spark, sf_dir, tdir):
    """Stacked merge-on-read ops resolve correctly and compact
    materializes the final state."""
    t = TxTable(spark, tdir, batch_partitions=4)
    src = _orders(spark, sf_dir).limit(200)
    t.create(src)
    t.update_where("o_orderstatus = 'F'", {"o_orderstatus": "'X'"})
    t.delete_where("o_orderstatus = 'O'")
    want = _rows(src.where("o_orderstatus <> 'O'").selectExpr(
        "o_orderkey", "o_totalprice",
        "CASE WHEN o_orderstatus = 'F' THEN 'X' "
        "ELSE o_orderstatus END AS o_orderstatus"))
    assert _rows(t.snapshot()) == want
    t.compact(target_files=2)
    assert all(not a.get("dv") for a in t.live_files())
    assert _rows(t.snapshot()) == want


def test_dv_survives_schema_evolution(spark, sf_dir, tdir):
    """A widening append on a DV-bearing table: old files still read with
    NULL for the new column AND their deletion vectors still apply."""
    t = TxTable(spark, tdir, batch_partitions=2)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src)
    t.delete_where("o_orderstatus = 'F'")
    widened = (src.limit(10)
               .withColumn("o_orderkey", F.col("o_orderkey") + 777_000)
               .withColumn("o_orderstatus", F.lit("W"))
               .withColumn("note", F.lit("new")))
    t.append(widened, merge_schema=True)
    got = t.snapshot()
    assert "note" in got.columns
    assert got.where(F.col("o_orderstatus") == "F").count() == 0
    assert got.where(F.col("note") == "new").count() == 10
    old_rows = got.where(F.col("o_orderkey") < 777_000)
    assert old_rows.where(F.col("note").isNotNull()).count() == 0
    assert old_rows.count() == src.where("o_orderstatus <> 'F'").count()


# --------------------------------------- CHECK constraints (r10)


def test_dv_coalesce_after_stacked_retractions(spark, sf_dir, tdir):
    """100 sequential delete_matching commits (the streaming-retraction
    steady state), then coalesce_dv: listing and read cost must come back
    to ONE sidecar with logical content unchanged (r10 verdict item 5).
    Covers: ref accumulation, coalesce to a single shared sidecar,
    CDC-transparency across the coalesce version, time travel to the
    pre-coalesce state, vacuum reclaiming the old sidecars, and ref
    re-accumulation + re-coalesce afterwards."""
    src = _orders(spark, sf_dir).limit(200)
    t = TxTable(spark, tdir, batch_partitions=4)
    t.create(src)
    keys = [r[0] for r in
            src.select("o_orderkey").orderBy("o_orderkey").collect()]
    for i in range(100):
        t.delete_matching(
            spark.createDataFrame([(keys[i],)], "o_orderkey bigint"),
            ["o_orderkey"])
    live = t.live_files()
    all_refs = sorted({r for a in live
                       for r in a.get("dv", {}).get("refs", [])})
    assert len(all_refs) == 100  # one sidecar per retraction commit
    expected = _rows(src.where(~F.col("o_orderkey").isin(keys[:100])))
    assert _rows(t.snapshot()) == expected
    v_before = t.latest_version()

    v = t.coalesce_dv()
    assert v == v_before + 1
    live = t.live_files()
    refs_per_file = [a["dv"]["refs"] for a in live if a.get("dv")]
    assert refs_per_file and all(len(r) == 1 for r in refs_per_file)
    # bounded listing: every DV'd file points at the SAME single sidecar
    assert len({r[0] for r in refs_per_file}) == 1
    # per-file deleted-row counts survive the rewrite
    assert sum(a["dv"]["rows"] for a in live if a.get("dv")) == 100
    # logical content unchanged, and CDC across the coalesce is silent
    assert _rows(t.snapshot()) == expected
    assert t.changes(v_before, v, keys=["o_orderkey"]).count() == 0
    # time travel to the pre-coalesce state still works (nothing vacuumed)
    assert _rows(t.snapshot(version=v_before)) == expected
    # idempotent: nothing left to coalesce, no commit burned
    assert t.coalesce_dv() == v

    # the 100 old sidecars are now unreferenced -> vacuum reclaims them.
    # Twice: the first pass deletes their data files (which bumps each
    # dir's mtime past the pass's TTL snapshot — the designed guard
    # against sweeping an in-flight writer's staging dir), the second
    # prunes the emptied marker-only dirs.
    removed = t.vacuum(ttl_seconds=0)
    assert sum(1 for p in removed if "/dv_" in p or p.startswith("dv_")) > 0
    t.vacuum(ttl_seconds=0)
    on_disk = {d for d in os.listdir(os.path.join(tdir, "_data"))
               if d.startswith("dv_")}
    assert len(on_disk) == 1
    assert _rows(t.snapshot()) == expected

    # refs re-accumulate after the coalesce and a second pass re-bounds
    for i in range(100, 103):
        t.delete_matching(
            spark.createDataFrame([(keys[i],)], "o_orderkey bigint"),
            ["o_orderkey"])
    assert max(len(a["dv"]["refs"]) for a in t.live_files()
               if a.get("dv")) >= 2
    t.coalesce_dv()
    live = t.live_files()
    assert len({r for a in live
                for r in a.get("dv", {}).get("refs", [])}) == 1
    assert _rows(t.snapshot()) == _rows(
        src.where(~F.col("o_orderkey").isin(keys[:103])))


def test_compact_dv_rewrites_only_heavy_files(spark, sf_dir, tdir):
    """Partial DV compaction: only files whose deleted fraction crosses the
    ratio are materialized; clean and lightly-deleted files stay
    byte-untouched (write cost proportional to heavy files' survivors,
    not the table)."""
    src = _orders(spark, sf_dir).limit(400)
    t = TxTable(spark, tdir, batch_partitions=4,
                checkpoint_interval=0)
    t.create(src, stats_cols=["o_orderkey"])
    files0 = t.live_files()
    assert len(files0) == 4
    # range-partitioned on o_orderkey: deleting the lowest keys
    # concentrates DVs in the first file(s)
    cutoff = sorted(r[0] for r in src.select("o_orderkey").collect())[99]
    t.delete_where(F.col("o_orderkey") <= cutoff)  # ~100 rows, ~1 file
    heavy = [a for a in t.live_files()
             if a.get("dv", {}).get("rows", 0) >= a["rows"] * 0.5]
    light_or_clean = [a["path"] for a in t.live_files()
                      if a.get("dv", {}).get("rows", 0) < a["rows"] * 0.5]
    assert heavy, "fixture must concentrate deletes in some file"
    expected = _rows(src.where(F.col("o_orderkey") > cutoff))

    v = t.compact_dv(min_ratio=0.5)
    live = t.live_files()
    paths = {a["path"] for a in live}
    # untouched files survive under their original paths...
    assert set(light_or_clean) <= paths
    # ...heavy files are gone, their survivors materialized DV-free
    assert not any(a["path"] in paths for a in heavy)
    assert all(not a.get("dv", {}).get("refs") for a in live
               if a["path"] not in light_or_clean)
    assert _rows(t.snapshot()) == expected
    hist = t.history()[-1]
    assert hist["op"] == "compact_dv"
    assert hist["rewritten_files"] == len(heavy)
    # below-ratio state: no commit burned
    assert t.compact_dv(min_ratio=0.5) == v

    # fully-deleted file: remove every row of one remaining file
    victim = next(a for a in live if a["path"] in light_or_clean
                  and not a.get("dv"))
    vmin = victim["stats"]["o_orderkey"]["min"]
    vmax = victim["stats"]["o_orderkey"]["max"]
    t.delete_where((F.col("o_orderkey") >= vmin)
                   & (F.col("o_orderkey") <= vmax))
    t.compact_dv(min_ratio=0.5)
    live2 = {a["path"] for a in t.live_files()}
    assert victim["path"] not in live2
    assert _rows(t.snapshot()) == _rows(
        src.where((F.col("o_orderkey") > cutoff)
                  & ~((F.col("o_orderkey") >= vmin)
                      & (F.col("o_orderkey") <= vmax))))


def test_check_constraints_enforced_on_every_write_path(spark, sf_dir, tdir):
    """ALTER TABLE ADD CONSTRAINT CHECK semantics: existing data validated
    at add time; append / merge / update / overwrite reject violating rows
    BEFORE committing (the table never holds a bad version); NULL passes
    (ANSI UNKNOWN); drop lifts enforcement."""
    from data_integration_celery_spark.sinks.txlog import ConstraintViolation
    t = TxTable(spark, tdir)
    src = _orders(spark, sf_dir).limit(100)
    t.create(src)
    t.add_constraint("price_pos", "o_totalprice > 0")
    with pytest.raises(ValueError):  # duplicate name
        t.add_constraint("price_pos", "o_totalprice > 1")
    # a new constraint the EXISTING data violates is rejected
    with pytest.raises(ConstraintViolation):
        t.add_constraint("impossible", "o_totalprice > 1e12")
    v = t.latest_version()
    bad = src.limit(3).withColumn("o_totalprice", F.lit(-5.0))
    with pytest.raises(ConstraintViolation):
        t.append(bad)
    with pytest.raises(ConstraintViolation):
        t.merge_upsert(bad, keys=["o_orderkey"])
    with pytest.raises(ConstraintViolation):
        t.update_where("o_orderkey IS NOT NULL", {"o_totalprice": "-1.0"})
    with pytest.raises(ConstraintViolation):
        t.overwrite(bad)
    assert t.latest_version() == v  # no bad version ever committed
    assert _rows(t.snapshot()) == _rows(src)
    # NULL passes (ANSI UNKNOWN) — and good rows still flow
    ok = (src.limit(2)
          .withColumn("o_orderkey", F.col("o_orderkey") + 900_000)
          .withColumn("o_totalprice", F.lit(None).cast("double")))
    t.append(ok)
    assert t.snapshot().count() == 102
    # constraints survive a checkpoint + a fresh table handle
    t2 = TxTable(spark, tdir)
    with pytest.raises(ConstraintViolation):
        t2.append(bad)
    t2.drop_constraint("price_pos")
    t2.append(bad)  # enforcement lifted
    assert t2.snapshot().count() == 105
    with pytest.raises(ValueError):
        t2.drop_constraint("nope")


def test_check_constraints_at_create_and_violation_detail(spark, sf_dir, tdir):
    """Constraints can be declared at create (batch validated first); the
    violation error names each failing constraint with its row count."""
    from data_integration_celery_spark.sinks.txlog import ConstraintViolation
    src = _orders(spark, sf_dir).limit(50)
    with pytest.raises(ConstraintViolation) as exc:
        TxTable(spark, os.path.join(tdir, "a")).create(
            src, constraints={"no_f": "o_orderstatus <> 'F'",
                              "price_pos": "o_totalprice > 0"})
    assert "no_f" in str(exc.value) and "price_pos" not in str(exc.value)
    t = TxTable(spark, os.path.join(tdir, "b"))
    t.create(src.where("o_orderstatus <> 'F'"),
             constraints={"no_f": "o_orderstatus <> 'F'"})
    assert t.snapshot().count() == src.where("o_orderstatus <> 'F'").count()


def test_merge_cdf_respects_file_pruning(spark, sf_dir, tdir):
    """CDF write-side under stats-range file pruning: a narrow-key CoW
    merge on a range-clustered CDF table must (a) keep its pruned_files
    ledger, (b) write change-data rows for ONLY the matched keys and
    inserts — rows carried over inside touched files, and rows in kept
    (pruned-away) files, are not change rows."""
    o = _orders(spark, sf_dir).where(F.col("o_orderkey") < 20000)
    table = f"{tdir}/t"
    t = TxTable(spark, table, batch_partitions=8)
    t.create(o, stats_cols=["o_orderkey"], change_data_feed=True)

    kmax = o.agg(F.max("o_orderkey")).collect()[0][0]
    lo, hi = 0, kmax // 8  # narrow range: most files prune away
    upd = (o.where(F.col("o_orderkey").between(lo, hi))
           .withColumn("o_totalprice", F.col("o_totalprice") + 7))
    new = (o.where(F.col("o_orderkey").between(lo, hi))
           .withColumn("o_orderkey", -F.col("o_orderkey") - 1))
    t.merge_upsert(upd.unionByName(new), ["o_orderkey"])
    commit = t.history()[-1]
    assert commit["pruned_files"] > 0, "fixture failed to prune any file"
    assert commit["cdf_files"]

    cdf = spark.read.parquet(
        *[os.path.join(table, d) for d in commit["cdf_files"]])
    matched = sorted(r[0] for r in upd.select("o_orderkey").collect())
    pre = cdf.where(F.col("_change") == "update_pre")
    post = cdf.where(F.col("_change") == "update_post")
    ins = cdf.where(F.col("_change") == "insert")
    assert sorted(r[0] for r in pre.select("o_orderkey").collect()) == matched
    assert sorted(r[0] for r in post.select("o_orderkey").collect()) == matched
    assert sorted(r[0] for r in ins.select("o_orderkey").collect()) == \
        sorted(-k - 1 for k in matched)
    # post-images carry the merged values, pre-images the originals
    assert post.where(F.col("o_totalprice").isNull()).count() == 0
    joined = (pre.select("o_orderkey",
                         F.col("o_totalprice").alias("before"))
              .join(post.select("o_orderkey",
                                F.col("o_totalprice").alias("after")),
                    "o_orderkey"))
    assert joined.where(
        F.col("after") != F.col("before") + 7).count() == 0
    # and the table state itself is the merged result
    assert t.snapshot().count() == o.count() + len(matched)


# -------------------------------------------- optimization-r12 equivalence


def test_footer_stats_match_spark_job_stats(spark, sf_dir, tdir):
    """The footer fast path and the Spark-job fallback must produce
    byte-identical add-actions (path, rows, min/max) — the optimization is
    a pure execution-path choice, never a semantic one."""
    t = TxTable(spark, tdir, batch_partitions=3)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderkey"])
    adds = t.live_files()
    batch_rel = os.path.dirname(adds[0]["path"])
    batch_dir = os.path.join(tdir, batch_rel)
    fast = t._footer_adds(batch_dir, batch_rel, src.schema, ["o_orderkey"])
    assert fast is not None, "integer stats col must take the footer path"
    # recompute through the Spark-job path over the same files
    written = spark.read.schema(src.schema).parquet(batch_dir)
    per_file = (written.groupBy(F.input_file_name().alias("__f"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.min("o_orderkey").alias("mn"),
                     F.max("o_orderkey").alias("mx")).collect())
    slow = sorted(
        ({"path": f"{batch_rel}/{os.path.basename(r['__f'])}",
          "rows": r["n"],
          "stats": {"o_orderkey": {"min": r["mn"], "max": r["mx"]}}}
         for r in per_file), key=lambda a: a["path"])
    assert sorted(fast, key=lambda a: a["path"]) == slow
    # and the committed log carries exactly these
    assert sorted(({"path": a["path"], "rows": a["rows"],
                    "stats": a["stats"]} for a in adds),
                  key=lambda a: a["path"]) == slow


def test_footer_stats_fall_back_for_string_cols(spark, sf_dir, tdir):
    """String footer min/max may be truncated by the writer, so a string
    stats column must refuse the footer path (fall back to the exact
    Spark-job aggregation) — and the commit still records correct stats."""
    t = TxTable(spark, tdir, batch_partitions=2)
    src = _orders(spark, sf_dir)
    t.create(src, stats_cols=["o_orderstatus"])
    adds = t.live_files()
    batch_rel = os.path.dirname(adds[0]["path"])
    assert t._footer_adds(os.path.join(tdir, batch_rel), batch_rel,
                          src.schema, ["o_orderstatus"]) is None
    lo = min(a["stats"]["o_orderstatus"]["min"] for a in adds)
    hi = max(a["stats"]["o_orderstatus"]["max"] for a in adds)
    row = src.agg(F.min("o_orderstatus"), F.max("o_orderstatus")).collect()[0]
    assert (lo, hi) == (row[0], row[1])


def test_merge_cdf_single_pass_matches_join_form(spark, sf_dir, tdir):
    """The one-pass windowed CDF write must emit exactly the rows of the
    original three-join formulation: update_pre = matched base rows,
    update_post = the merge's winners for existing keys, insert = winners
    for new keys — including the replayed-older-batch case where the BASE
    row wins its own update (order_col ties broken like the merge)."""
    t = TxTable(spark, tdir, batch_partitions=2)
    src = _orders(spark, sf_dir).where(F.col("o_orderkey") < 400)
    t.create(src, stats_cols=["o_orderkey"], change_data_feed=True)
    # seed a newer base state for keys 0..99 so a batch_id=1 update LOSES
    t.merge_upsert(src.where(F.col("o_orderkey") < 100)
                   .withColumn("o_totalprice", F.lit(9.0))
                   .withColumn("batch_id", F.lit(5).cast("long")),
                   ["o_orderkey"])
    upd = (src.where(F.col("o_orderkey").between(50, 149))
           .withColumn("o_totalprice", F.col("o_totalprice") * 2)
           .withColumn("batch_id", F.lit(1).cast("long")))
    ins = (src.where(F.col("o_orderkey") % 7 == 0)
           .withColumn("o_orderkey", -F.col("o_orderkey") - 1)
           .withColumn("batch_id", F.lit(1).cast("long")))
    updates = upd.unionByName(ins)
    base_before = t.snapshot()
    merged_ref = upsert_frames(base_before, updates, ["o_orderkey"])
    t.merge_upsert(updates, ["o_orderkey"])
    commit = t.history()[-1]
    feed = spark.read.parquet(
        *[os.path.join(tdir, d) for d in commit["cdf_files"]])

    # the original three-join reference form, computed over the same state
    upd_keys = updates.select("o_orderkey").dropDuplicates()
    base_keys = base_before.select("o_orderkey").dropDuplicates()
    cols = base_before.columns
    pre_ref = (base_before.join(upd_keys, ["o_orderkey"], "left_semi")
               .select(*cols, F.lit("update_pre").alias("_change")))
    touched = merged_ref.join(upd_keys, ["o_orderkey"], "left_semi")
    post_ref = (touched.join(base_keys, ["o_orderkey"], "left_semi")
                .select(*cols, F.lit("update_post").alias("_change")))
    ins_ref = (touched.join(base_keys, ["o_orderkey"], "left_anti")
               .select(*cols, F.lit("insert").alias("_change")))
    ref = pre_ref.unionByName(post_ref).unionByName(ins_ref)
    assert _rows(feed.select(*cols, "_change")) == _rows(ref)
    # pre-images carry the seeded base state, post-images the new winners
    # (snapshot re-stamps base at batch_id 0, so the update wins — the
    # documented replay semantics)
    pre_seeded = feed.where((F.col("_change") == "update_pre")
                            & (F.col("o_orderkey") < 100))
    assert pre_seeded.count() == 50
    assert pre_seeded.where(F.col("o_totalprice") != 9.0).count() == 0
    assert feed.where((F.col("_change") == "update_post")
                      & (F.col("o_totalprice") == 9.0)).count() == 0


def test_merge_cdf_base_wins_emits_identity_update(spark):
    """When the table schema itself carries the order column and the base
    row outranks its update (an older batch replayed), the group's winner
    IS the base row: the feed must emit it as BOTH update_pre and
    update_post (identity update) — the published operation-level CDF
    semantics, and the one case where a single physical row yields two
    change rows in the one-pass form."""
    import tempfile

    from pyspark.sql.types import StructType
    base = spark.createDataFrame(
        [(1, 10.0, 5), (2, 20.0, 5)], "k long, v double, batch_id long")
    upd = spark.createDataFrame(
        [(2, 99.0, 1), (3, 30.0, 1)], "k long, v double, batch_id long")
    schema = StructType([f for f in base.schema.fields
                         if f.name != "batch_id"])
    with tempfile.TemporaryDirectory() as d:
        t = TxTable(spark, d)
        out = t._write_merge_cdf(base, upd, ["k"], schema, "batch_id")
        feed = spark.read.parquet(
            *[os.path.join(d, c) for c in out["cdf_files"]])
        assert _rows(feed) == sorted([(2, 20.0, "update_pre"),
                                      (2, 20.0, "update_post"),
                                      (3, 30.0, "insert")])


# ------------------------------------------- driver-side merge (upsert_arrow)


def _typed_rows(n, offset=0, tag="b"):
    import datetime
    return [(f"k{i:03d}" if i % 7 else f"ké{i}", i % 5, datetime.date(
        2020, 1, 1) + datetime.timedelta(days=i),
        datetime.datetime(2024, 3, 1, 1, 30) + datetime.timedelta(minutes=i),
        i % 3 == 0, None if i % 11 == 0 else i * 1.5 + offset,
        float(i) / 4, f"{tag}{i}日") for i in range(n)]


_TYPED = ("code string, n int, d date, ts timestamp, flag boolean, "
          "x double, f float, note string")


@pytest.mark.parametrize("with_order", [True, False])
def test_driver_merge_equals_spark_merge(spark, tdir, monkeypatch,
                                         with_order):
    """A merge run on the driver and the same merge run by the Spark plan
    commit equal tables: equal snapshots and DuckDB reads of the live
    files, and add-actions with the same rows, min/max stats (strings in
    byte order) and Bloom sidecars — so the same probes admit the file."""
    import duckdb

    from data_integration_celery_spark.operators import upsert
    from data_integration_celery_spark.sinks.txlog import _bloom_admits
    base = spark.createDataFrame(_typed_rows(60), _TYPED)
    upd_rows = [r for i, r in enumerate(_typed_rows(75, 100, "u"))
                if i % 4 or i > 40]
    upd = spark.createDataFrame(upd_rows, _TYPED)
    if with_order:
        upd = upd.withColumn("batch_id", F.lit(3).cast("long"))
    got = {}
    for name, cap in (("driver", upsert._DRIVER_MERGE_MAX_ROWS),
                      ("spark", 0)):
        t = TxTable(spark, os.path.join(tdir, name), batch_partitions=1)
        t.create(base, stats_cols=["code", "d"], bloom_cols=["code", "d"],
                 bloom_bits=4099, bloom_k=3)
        monkeypatch.setattr(upsert, "_DRIVER_MERGE_MAX_ROWS", cap)
        t.merge_upsert(upd, keys=["code", "n"])
        monkeypatch.undo()
        adds = t.live_files()
        assert len(adds) == 1
        paths = [os.path.join(t.path, a["path"]) for a in adds]
        with duckdb.connect() as con:
            duck = con.execute(
                f"SELECT * FROM read_parquet({paths!r}) "
                f"ORDER BY code, n").fetchall()
        admits = [_bloom_admits(adds[0]["bloom"]["code"],
                                t._bloom_positions_batch(
                                    [(None, v, None, 4099, 3)])[0])
                  for v in ("k001", "ké0", "zz", "u5日")]
        got[name] = (_rows(t.snapshot()), duck,
                     {k: v for k, v in adds[0].items() if k != "path"},
                     admits, t.history()[-1]["pruned_files"],
                     adds[0]["path"].endswith(".snappy.parquet"))
    assert got["driver"][:-1] == got["spark"][:-1]
    # the driver's file (no codec in its name) against Spark's
    assert (got["driver"][-1], got["spark"][-1]) == (False, True)
    assert got["driver"][3][:2] == [True, True]


def test_driver_merge_prunes_by_exact_values_and_runs_one_job(spark, tdir):
    """A small merge runs one Spark job (the capped collect of the updates,
    in place of the bounds job) and rewrites only the files whose stats
    hold one of its prune values: a file lying between two updated keys
    stays live, where one [min, max] range over the batch would rewrite
    it."""
    df = spark.range(400).select(
        "id", (F.col("id") % 7).cast("string").alias("v"))
    t = TxTable(spark, tdir, batch_partitions=4)
    t.create(df, stats_cols=["id"], bloom_cols=["v"])
    before = {a["path"] for a in t.live_files()}
    upd = spark.createDataFrame([(0, "lo"), (399, "hi")], "id long, v string")
    sc = spark.sparkContext
    sc.setJobGroup("driver-merge", "one capped collect")
    try:
        t.merge_upsert(upd, keys=["id"])
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("driver-merge")) == 1
    after = t.live_files()
    assert len(before & {a["path"] for a in after}) == 2
    assert t.history()[-1]["pruned_files"] == 2
    got = {r["id"]: r["v"] for r in t.snapshot().collect()}
    assert len(got) == 400 and got[0] == "lo" and got[399] == "hi"
    assert t.snapshot(prune_eq={"v": "hi"}).where(F.col("v") == "hi") \
        .count() == 1
