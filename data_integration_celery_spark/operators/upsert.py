"""Upsert (last-write-wins per primary key) — the reference's universal sink.

Reference: every importer funnels through ``bunch_insert_on_duplicate_update``
→ MySQL ``INSERT … ON DUPLICATE KEY UPDATE`` (/root/reference
tasks/backend/__init__.py:16-38; PK bootstrap tasks/backend/orm.py:113-298).
MySQL resolves conflicts by *arrival order*; Spark needs an explicit
tiebreaker, so callers stamp a monotonically-increasing ``batch_id`` (ingest
timestamp / run id) and the newest batch wins per key.

Scale notes: the window-dedup shuffles once on the PK — exactly the shuffle a
Delta MERGE would do. At 100 TB you'd bound it by partitioning the target by
date and only rewriting touched partitions (``replaceWhere`` semantics —
see ``overwrite_partitions``); per-key conflict resolution stays identical.

One upsert story — the engine ships TWO durability contracts around ONE
last-write-wins rule with two kernels: ``upsert_frames`` in Spark and
``upsert_arrow`` on the driver (single-rule contract pinned by
tests/test_txlog.py::test_single_upsert_kernel_contract; kernel equality by
tests/test_upsert.py::test_upsert_arrow_equals_upsert_frames; value
equivalence by ``test_merge_upsert_matches_upsert_frames`` /
``test_write_upsert_and_txtable_agree_on_disk``):

=====================  ==============================  =======================
concern                ``write_upsert`` (+partitioned)  ``TxTable.merge_upsert``
=====================  ==============================  =======================
writers                ONE per table (staging+rename)  many (optimistic log)
crash safety           ``recover_table`` rollback      log is the truth
readers during write   2-rename unreadable window      snapshot isolation
history                latest only                     time travel, CDC, restore
write amplification    whole table / touched parts     files holding a key
metadata cost          none (bare parquet)             commit log + checkpoints
small merges           partitioned: on the driver      on the driver
large merges           Spark plan                      Spark plan
choose it for          single-writer staging, simple   shared tables, streaming
                       exports, scratch outputs        exactly-once, audits
=====================  ==============================  =======================

Where a merge runs: a merge whose update rows plus touched base rows fit
``_DRIVER_MERGE_MAX_ROWS`` runs on the driver — one capped Arrow collect of
the updates (the only Spark job), a ``lake.read`` of the touched files,
``upsert_arrow``, a ``lake.write`` — when the table is local, every key and
column type is in ``lake.merge_type`` (string, integral, date, boolean,
float/double but not as a key, timestamp), and, for ``TxTable``, no CHECK
constraint, change-data feed or deletion vector on a touched file applies.
Everything else, and every first write, keeps the Spark plan.
``write_upsert`` (whole-table republish) always takes the Spark plan.

A pipeline can switch contracts without changing merge semantics: both sinks
resolve conflicts with the same last-write-wins rule, tiebreaks included.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_integration_celery_spark import lake


def upsert_frames(base: DataFrame, updates: DataFrame, keys: list[str],
                  order_col: str = "batch_id", *,
                  _cluster_by: list[str] = ()) -> DataFrame:
    """UNION the snapshots and keep the newest row per PK.

    ``order_col`` must be comparable and present in both frames; the highest
    value wins (MySQL's "last write"). Deterministic for equal order values
    by preferring ``updates`` — an explicit source flag breaks the tie, not
    just the 0/1 stamping fallback (which only applied when a frame LACKED
    the column). Within one frame, (keys, order_col) must be unique — two
    update rows for the same PK in the same batch have no defined winner
    (same contract as the reference's per-statement upsert).

    Scope note: ``order_col`` is dropped from the output, so last-write-wins
    holds WITHIN a merge; replaying an older batch against a table that
    already absorbed a newer one re-stamps the base at 0 and the old batch
    wins. Replay-safe pipelines must either replay in order (the streaming
    sink's checkpoint guarantees this) or persist their own version column
    in the row payload.

    ``_cluster_by`` (internal: ``write_upsert_partitioned``) hash-clusters
    the union on these columns, which must be a function of ``keys``, and
    ranks within them — the one exchange of a partition-scoped upsert.
    """
    return (
        upsert_annotated(base, updates, keys, order_col,
                         _cluster_by=_cluster_by)
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src", order_col)
    )


def upsert_annotated(base: DataFrame, updates: DataFrame, keys: list[str],
                     order_col: str = "batch_id", *,
                     _cluster_by: list[str] = ()) -> DataFrame:
    """The merge kernel's ranked union, before the winners are filtered:
    ``base ∪ updates`` with ``__src`` (0 = base, 1 = updates) and ``__rn``
    (1 = the last-write-wins winner per PK, same tiebreak as
    ``upsert_frames`` — which is literally ``where __rn = 1`` over this).

    Exposed so the change-data-feed write side (``TxTable._write_merge_cdf``)
    can derive update_pre/update_post/insert rows from the SAME ranked union
    the merge itself uses — one shuffle on the PK, and the two can never
    disagree on a winner.
    """
    if order_col not in base.columns:
        base = base.withColumn(order_col, F.lit(0).cast("long"))
    if order_col not in updates.columns:
        updates = updates.withColumn(order_col, F.lit(1).cast("long"))
    base = base.withColumn("__src", F.lit(0))
    updates = updates.withColumn("__src", F.lit(1))
    unioned = base.unionByName(updates, allowMissingColumns=True)
    if _cluster_by:
        # a window over (cluster columns + keys) is satisfied by a hash
        # partitioning on the cluster columns alone: no second exchange
        unioned = unioned.repartition(*[F.col(c) for c in _cluster_by])
    w = Window.partitionBy(*_cluster_by, *keys).orderBy(
        F.col(order_col).desc(), F.col("__src").desc())
    return unioned.withColumn("__rn", F.row_number().over(w))


def upsert_arrow(base, updates, keys: list[str], order_col: str = "batch_id"):
    """``upsert_frames`` over two ``pyarrow.Table``s on the driver — the
    same last-write-wins rule, tiebreaks included: per PK the highest
    ``order_col`` wins (DESC NULLS LAST), ``updates`` beat ``base`` on a
    tie, a frame lacking the column counts as 0 (base) or 1 (updates), null
    keys compare equal (an all-null key is one group, as in the window),
    and ``order_col`` is dropped. Columns are ``base``'s, then those only
    ``updates`` has (missing values null); rows come out sorted by
    ``keys``, nulls last.

    Shared columns must have one type on both sides (integral order
    columns are widened to int64). Floating ``order_col`` or key columns
    are rejected: Arrow orders NaN last where Spark orders it first, and
    Spark groups NaN keys together."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def stamped(t, default: int, src: int):
        if order_col not in t.column_names:
            t = t.append_column(order_col, pa.array(
                np.full(t.num_rows, default, np.int64)))
        elif pa.types.is_integer(t.schema.field(order_col).type):
            t = t.set_column(t.schema.get_field_index(order_col), order_col,
                             t.column(order_col).cast(pa.int64()))
        return t.append_column("__src", pa.array(
            np.full(t.num_rows, src, np.int8)))

    both = pa.concat_tables([stamped(base, 0, 0), stamped(updates, 1, 1)],
                            promote_options="default")
    for c in (*keys, order_col):
        if pa.types.is_floating(both.schema.field(c).type):
            raise TypeError(f"upsert_arrow: floating column {c!r} cannot be "
                            f"a key or the order column")
    order = pc.sort_indices(
        both, sort_keys=[(k, "ascending") for k in keys]
        + [(order_col, "descending"), ("__src", "descending")],
        null_placement="at_end")
    winners = order.filter(pa.array(
        _group_starts(both.select(keys).take(order), keys)))
    return both.take(winners).drop_columns([order_col, "__src"])


# A merge whose update rows plus touched base rows number at most this runs
# on the driver (``upsert_arrow`` between a pyarrow read and a pyarrow
# write); a larger one keeps the Spark plan. Measured on a 4-vCPU VM, one
# TxTable.merge_upsert of 100 update rows into a (string, date, int,
# double, double) table whose every file it touches, median of 4 runs,
# driver against Spark: 0.23 s against 1.04 s at 2^16 touched rows, 0.31
# against 1.26 at 2^18, 0.78 against 2.70 at 2^20, 1.48 against 4.18 at
# 2^21 and 2.40 against 5.77 at 2^22 — no crossover up to 2^22. The cap
# therefore bounds the driver's memory instead: a merge at 2^20 rows took
# the driver's peak RSS from 172 MB to 325 MB in a fresh process (a run
# up to 2^22 rows peaked at 687 MB).
_DRIVER_MERGE_MAX_ROWS = 1 << 20


def _driver_rows(spark, path: str, df: DataFrame, keys: list[str],
                 order_col: str):
    """The update rows of a merge into the table at ``path`` that the
    driver may run, as a pyarrow Table of ``lake.merge_schema`` — one
    capped collect, the merge's only Spark job — or None, and the merge
    takes the Spark plan: the cap is 0, the table is not local, a key or
    column type is outside ``lake.merge_schema``, the session writes
    parquet the driver cannot match (``lake.parquet_options``), or the
    batch alone is over ``_DRIVER_MERGE_MAX_ROWS``."""
    cap = _DRIVER_MERGE_MAX_ROWS
    if not cap or lake.local_path(path) is None \
            or lake.parquet_options(spark) is None:
        return None
    schema = lake.merge_schema(df.schema, keys, order_col)
    if schema is None:
        return None
    table = df.limit(cap + 1).toArrow()
    return None if table.num_rows > cap else table.cast(schema)


_STAGING, _BACKUP = "__staging", "__backup"


def _publish(spark, df: DataFrame, path: str) -> None:
    """Whole-table publish: stage → ``path``→backup → staging→``path`` → drop
    backup → refresh. The one plain-parquet commit protocol (see
    ``write_upsert``); ``recover_table`` heals a crash at any step."""
    staging, backup = path + _STAGING, path + _BACKUP
    df.write.mode("overwrite").parquet(staging)
    if lake.exists(spark, path):
        lake.rename(spark, path, backup)
    lake.rename(spark, staging, path)
    lake.hadoop_rm(spark, backup)
    # the publish replaced every file under `path`: drop any cached listing
    # so readers in this session don't chase renamed-away part files
    spark.catalog.refreshByPath(path)


def _first_batch(updates: DataFrame, keys: list[str], order_col: str, *,
                 _cluster_by: list[str] = ()) -> DataFrame:
    """The first write's rows: the PK invariant must hold from the first
    batch, so duplicate keys collapse by the same last-write-wins rule the
    merge applies (the reference's INSERT..ON DUPLICATE KEY UPDATE collapses
    them by arrival order).

    ``_cluster_by`` (``write_upsert_partitioned``: the partition columns,
    a function of ``keys``) hash-clusters the rows on these columns and
    dedups within them, so the partitioned write needs no second
    exchange."""
    if _cluster_by:
        updates = updates.repartition(*[F.col(c) for c in _cluster_by])
        keys = [*_cluster_by, *[k for k in keys if k not in _cluster_by]]
    first = dedup_last(updates, keys, [order_col]) \
        if order_col in updates.columns else updates.dropDuplicates(keys)
    return first.drop(order_col)


def recover_table(spark, path: str) -> str:
    """Heal an interrupted ``write_upsert`` commit. Returns the action taken.

    Invariant of the commit protocol below: at every instant either ``path``
    or ``path__backup`` holds a complete, readable copy of the pre-merge
    table. Recovery rolls BACK (restores the backup and discards staging);
    the interrupted batch is simply re-applied by the caller — the merge is
    idempotent (same keys, same batch_id → same result).
    """
    path = path.rstrip("/")
    staging, backup = path + _STAGING, path + _BACKUP
    if lake.exists(spark, path):
        # Commit completed (or never started): staging/backup are stale.
        action = "clean" if (lake.exists(spark, staging)
                             or lake.exists(spark, backup)) else "noop"
        lake.hadoop_rm(spark, staging)
        lake.hadoop_rm(spark, backup)
        return action
    if lake.exists(spark, backup):
        # Crashed between the two publish renames: roll the backup forward.
        lake.rename(spark, backup, path)
        lake.hadoop_rm(spark, staging)
        spark.catalog.refreshByPath(path)
        return "restored"
    # Neither target nor backup: crash during the very first staging write.
    # Clean the orphaned staging dir instead of leaving it for the next write.
    lake.hadoop_rm(spark, staging)
    return "noop"


def write_upsert(spark, updates: DataFrame, path: str, keys: list[str],
                 order_col: str = "batch_id") -> None:
    """Parquet-backed MERGE: read target if it exists, dedup, republish.

    (With a Delta/Iceberg catalog this becomes a real ``MERGE INTO``; plain
    parquet needs the read-union-republish dance. Kept here so tests exercise
    the idempotence property the reference relies on — the per-statement
    atomicity of its ``INSERT … ON DUPLICATE KEY UPDATE``,
    tasks/backend/__init__.py:16-38.)

    Commit protocol (staging + atomic renames — data is written exactly once):
      1. write merged output to ``path__staging``   (crash ⇒ target untouched)
      2. rename ``path`` → ``path__backup``         (atomic metadata op)
      3. rename ``path__staging`` → ``path``        (atomic metadata op)
      4. delete ``path__backup``
    A crash at any point leaves a complete table at ``path`` or at
    ``path__backup``; ``recover_table`` restores it and the batch is replayed.
    The unreadable window is two metadata renames, not a data-sized rewrite.
    Single-writer protocol (the reference's Celery tasks are likewise
    serialized per table); S3-class stores without atomic dir rename should
    publish via a manifest file instead. For MULTI-writer atomicity use
    ``sinks.txlog.TxTable.merge_upsert`` — the same last-write-wins kernel
    under an optimistic-concurrency commit log.

    O(target) per merge by construction (whole-table rewrite); prefer
    ``write_upsert_partitioned`` for anything that grows.
    """
    path = path.rstrip("/")
    recover_table(spark, path)
    # branch on existence, not on read failure: a transient read error on an
    # EXISTING table must propagate, not silently rename staging onto it.
    # The first write is published via staging+rename too, so a crashed
    # initial load can never leave a partial table at the target path.
    out = (upsert_frames(spark.read.parquet(path), updates, keys, order_col)
           if lake.exists(spark, path)
           else _first_batch(updates, keys, order_col))
    _publish(spark, out, path)


def write_upsert_partitioned(spark, updates: DataFrame, path: str,
                             keys: list[str], partition_cols: list[str],
                             order_col: str = "batch_id") -> None:
    """Partition-scoped MERGE — the 100 TB form of the universal upsert sink.

    The target is parquet partitioned by ``partition_cols`` (typically the
    date). Only partitions containing updated keys are read, merged, and
    rewritten; untouched partitions' files are never opened, matching the
    reference's delete-then-insert per-slice refresh
    (tasks/wind/future_reorg/reorg_md_2_db.py:176-193).

    The first write dedups the batch within its partition columns + keys
    after one hash clustering on the partition columns (one exchange).

    A merge small enough for the driver (see the module docstring) starts
    one Spark job, the capped collect of ``updates``, which also names the
    touched partitions; ``_driver_upsert_partitions`` then reads, merges
    and swaps them in. Otherwise the Spark plan:
      1. distinct partition values in ``updates`` (one driver row per
         touched partition — thousands at most; from the collect when the
         merge was too large for the driver only because of its touched
         rows);
      2. the touched slice (``_touched_slice``): a listing of the table
         root decides which touched partition directories exist, and only
         those are read, with ``basePath`` and an explicit schema — data
         columns from one file footer's Spark schema, partition columns
         typed as in ``updates`` — so the table's other partitions are
         never listed and nothing is inferred. Non-local tables, partition
         types other than integral, string and date, and footers without
         Spark's schema read the whole table and filter it, with the
         partition columns still typed as in ``updates``;
      3. per-PK last-write-wins merge over ONE exchange: the union is
         hash-clustered on ``partition_cols`` and ranked by a window over
         ``partition_cols + keys``;
      4. the clustered merge is written with dynamic partition overwrite
         straight onto ``path`` — no second repartition. A dynamic
         overwrite may read its own target, because Spark writes into
         ``.spark-staging-<job>`` and swaps exactly the touched partition
         directories only at job commit, so no staging copy is needed and
         a failed job leaves the table as it was.
    ``partition_cols`` must be a function of the PK (a key never moves
    between partitions), else rows in untouched partitions cannot be
    superseded.
    """
    # branch on existence, not on read failure (the write_upsert rule): a
    # transient read error on an EXISTING table must propagate — the old
    # except-branch took the first-write path, dynamically overwriting
    # every touched partition with ONLY the update rows and destroying the
    # base rows whose keys were not in the batch
    if not lake.exists(spark, path):
        _write_partitions(_first_batch(updates, keys, order_col,
                                       _cluster_by=partition_cols),
                          path, partition_cols)
        return
    parts = StructType([StructField(c, updates.schema[c].dataType, True)
                        for c in partition_cols])
    # Spark stores an empty string partition value as the default (null)
    # partition and reads it back as null: merged as "", an update would
    # not meet its base row there and the key would be stored twice
    updates = updates.withColumns({
        f.name: F.when(F.col(f.name) != "", F.col(f.name))
        for f in parts.fields if f.dataType == StringType()})
    rows = _driver_rows(spark, path, updates, [*partition_cols, *keys],
                        order_col) \
        if all(lake.text_kind(f.dataType) for f in parts.fields) else None
    if rows is None:
        touched = updates.select(*partition_cols).distinct().collect()
    else:
        touched = rows.group_by(partition_cols).aggregate([]).to_pylist()
    layout = _touched_layout(path, parts, touched)
    if rows is not None and layout is not None and _driver_upsert_partitions(
            spark, path, parts, layout, rows, keys, order_col):
        return
    base_slice = _touched_slice(spark, path, parts, layout)
    if base_slice is None:
        # the partition columns take their types from `updates` here too:
        # inferred, a string partition "001" would read back as int 1 and
        # the merge would land in a new directory p=1/
        data = [f for f in spark.read.parquet(path).schema.fields
                if f.name not in partition_cols]
        pred = F.lit(False)
        for row in touched:
            match = F.lit(True)
            for c in partition_cols:
                match = match & F.col(c).eqNullSafe(F.lit(row[c]))
            pred = pred | match
        base_slice = (spark.read.schema(StructType(data + parts.fields))
                      .parquet(path).where(pred))
    merged = upsert_frames(base_slice, updates, keys, order_col,
                           _cluster_by=partition_cols)
    _write_partitions(merged, path, partition_cols)


def _driver_upsert_partitions(spark, path: str, parts: StructType,
                              layout: tuple, updates, keys: list[str],
                              order_col: str) -> bool:
    """The merge of ``write_upsert_partitioned`` on the driver: ``lake``
    reads the touched partitions, ``upsert_arrow`` merges them with the
    collected ``updates``, and each one's merged rows are staged as one
    file and swapped in (``lake.swap_partitions``). False — the caller
    keeps the Spark plan — when update plus touched rows exceed
    ``_DRIVER_MERGE_MAX_ROWS``, a data column's type is outside
    ``lake.merge_type`` or differs from the update's, the updates bring a
    column the table lacks, or a file cannot be read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    root, (existing, footer) = lake.local_path(path), layout
    files = {rel: [os.path.join(root, rel, n)
                   for n in lake.data_files(os.path.join(root, rel))]
             for rel in existing.values()}
    if lake.num_rows([f for fs in files.values() for f in fs]) \
            + updates.num_rows > _DRIVER_MERGE_MAX_ROWS:
        return False
    data = [f for f in footer.fields if f.name not in parts.names]
    names = {f.name for f in data}
    if any(c not in names and c not in parts.names and c != order_col
           for c in updates.column_names):
        return False
    schema = lake.merge_schema(StructType(data), keys, order_col)
    given = dict(zip(updates.column_names, updates.schema.types))
    if schema is None or any(given.get(f.name, f.type) != f.type
                             for f in schema):
        return False
    slices = []
    for values, rel in existing.items():
        try:
            base = lake.read(files[rel], schema)
        except lake.Unreadable:
            return False
        for c, v in zip(parts.names, values):
            t = updates.schema.field(c).type
            const = pa.nulls(base.num_rows, t)
            base = base.append_column(c, const if v is None else
                                      pc.fill_null(const, pa.scalar(v, t)))
        slices.append(base)
    base = pa.concat_tables(slices) if slices else pa.schema(
        [*schema, *map(updates.schema.field, parts.names)]).empty_table()
    merged = upsert_arrow(base, updates, [*parts.names, *[
        k for k in keys if k not in parts.names]], order_col)
    starts = list(np.flatnonzero(_group_starts(merged, parts.names)))
    staged = {}
    for lo, hi in zip(starts, starts[1:] + [merged.num_rows]):
        rel = os.path.join(*[
            lake.partition_dir(c, merged.column(c)[lo].as_py())
            for c in parts.names])
        staged[rel] = merged.slice(lo, hi - lo).select(schema.names)
    lake.swap_partitions(root, staged, lake.parquet_options(spark))
    spark.catalog.refreshByPath(path)
    return True


def _group_starts(table, cols: list[str]):
    """A bool per row of ``table``: True where the row's ``cols`` differ
    from the previous row's (nulls equal to nulls) — the first row of each
    group of a table sorted by ``cols``."""
    import numpy as np
    import pyarrow.compute as pc

    n = table.num_rows
    first = np.ones(n, bool)
    if n > 1:
        first[1:] = False
        for c in cols:
            col = table.column(c)
            prev, cur = col.slice(0, n - 1), col.slice(1)
            same = pc.or_kleene(pc.fill_null(pc.equal(prev, cur), False),
                                pc.and_(pc.is_null(prev), pc.is_null(cur)))
            first[1:] |= ~same.to_numpy(zero_copy_only=False)
    return first


def _touched_layout(path: str, parts: StructType, touched: list):
    """``({values: rel dir} of the touched partitions that exist, the
    table's Spark schema from a footer)``, or None when the table is not
    local, a partition type is not integral, string or date, or no footer
    gives the schema."""
    root = lake.local_path(path)
    if root is None or not all(lake.text_kind(f.dataType)
                               for f in parts.fields):
        return None
    existing = lake.existing_partitions(root, parts.names, touched)
    schema = lake.footer_schema(root, next(iter(existing.values()), ""),
                                len(parts.names))
    return None if schema is None else (existing, schema)


def _touched_slice(spark, path: str, parts: StructType,
                   layout: tuple | None) -> DataFrame | None:
    """The rows of ``layout``'s touched partitions (exactly what a dynamic
    overwrite replaces), read with no discovery or inference job; None
    without a layout (the caller then reads the whole table)."""
    if layout is None:
        return None
    existing, data = layout
    schema = StructType([f for f in data.fields if f.name not in parts.names]
                        + parts.fields)
    if not existing:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).option("basePath", path)
            .parquet(*[os.path.join(path, rel) for rel in existing.values()]))


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Idempotent delete-then-insert refresh per partition key.

    Reference: delete-then-upsert per instrument_type
    (tasks/wind/future_reorg/reorg_md_2_db.py:176-193). Spark-native form is
    dynamic partition overwrite — only the partitions present in ``df`` are
    replaced, so a per-type rebuild never touches other types.

    Rows are repartitioned on the partition columns first, so every
    partition value lands in one task → ONE data file per partition instead
    of one per (input-task × partition) — without this, a 32-partition
    update frame writes 32 small files into every touched date and the
    table needs ``sinks.compact_table`` immediately. Callers with a single
    huge partition value can pre-split by salting before the write.
    """
    _write_partitions(df.repartition(*[F.col(c) for c in partition_cols]),
                      path, partition_cols)


def _write_partitions(df: DataFrame, path: str,
                      partition_cols: list[str]) -> None:
    """The dynamic partition overwrite of ``df``, which must already be
    hash-clustered on ``partition_cols`` (``overwrite_partitions``, or the
    merge of ``write_upsert_partitioned``).

    A first-ever EMPTY write must not leave a ``_SUCCESS``-only directory:
    it passes ``lake.exists()`` but fails every later schema-inferring
    ``spark.read.parquet`` — an all-filtered first micro-batch would brick
    a streaming index path until someone deletes the dir by hand. Checked
    AFTER the write by listing for data files (one metadata listing, never
    a second execution of the upstream pipeline the way an up-front
    ``isEmpty()`` probe would cost); an existing table is never at risk —
    an empty dynamic overwrite replaces nothing.

    Refreshes the session's cached listing of ``path`` afterwards, so
    readers don't chase the replaced partitions' part files.
    """
    spark = df.sparkSession
    fresh = not lake.exists(spark, path)
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols)
       .parquet(path))
    if fresh and not any(lake.hadoop_data_files(spark, path)):
        lake.hadoop_rm(spark, path)
    spark.catalog.refreshByPath(path)


def dedup_last(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep one row per key by explicit ordering (descending on order_cols).

    The PK-rebuild dedup of tick tables (tasks/merge/delete_duplicate_ticks.py:15-67)
    expressed as a window — no table rebuild needed.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))
