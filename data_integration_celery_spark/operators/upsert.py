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
merge kernel (``upsert_frames``; single-code-path contract pinned by
tests/test_txlog.py::test_single_upsert_kernel_contract, value equivalence
by ``test_merge_upsert_matches_upsert_frames`` /
``test_write_upsert_and_txtable_agree_on_disk``):

=====================  ==============================  =======================
concern                ``write_upsert`` (+partitioned)  ``TxTable.merge_upsert``
=====================  ==============================  =======================
writers                ONE per table (staging+rename)  many (optimistic log)
crash safety           ``recover_table`` rollback      log is the truth
readers during write   2-rename unreadable window      snapshot isolation
history                latest only                     time travel, CDC, restore
write amplification    whole table / touched parts     stat-pruned CoW files
metadata cost          none (bare parquet)             commit log + checkpoints
choose it for          single-writer staging, simple   shared tables, streaming
                       exports, scratch outputs        exactly-once, audits
=====================  ==============================  =======================

A pipeline can switch contracts without changing merge semantics: both sinks
resolve conflicts with the same last-write-wins rule, tiebreaks included.
"""

from __future__ import annotations

import json
import os
from datetime import date
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ByteType, DateType, IntegerType, LongType,
                               ShortType, StringType, StructField, StructType)


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


def _fs(spark, path: str):
    """(FileSystem, Path) via the Hadoop FS API — works on any scheme the
    cluster can write (local, HDFS, S3A), unlike shutil."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _hadoop_rm(spark, path: str) -> None:
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


def _exists(spark, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return fs.exists(jpath)


def _has_parquet_files(spark, path: str) -> bool:
    """True if any non-hidden file under ``path`` (recursive — partitioned
    layouts nest) looks like data. One FS listing, no Spark job."""
    fs, jpath = _fs(spark, path)
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith((".", "_")):
            return True
    return False


def _rename(spark, src: str, dst: str) -> None:
    """Directory rename — a single atomic metadata operation on HDFS and
    local filesystems (the commit primitive; on S3 use a manifest instead)."""
    fs, jsrc = _fs(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


_STAGING, _BACKUP = "__staging", "__backup"


def _publish(spark, df: DataFrame, path: str) -> None:
    """Whole-table publish: stage → ``path``→backup → staging→``path`` → drop
    backup → refresh. The one plain-parquet commit protocol (see
    ``write_upsert``); ``recover_table`` heals a crash at any step."""
    staging, backup = path + _STAGING, path + _BACKUP
    df.write.mode("overwrite").parquet(staging)
    if _exists(spark, path):
        _rename(spark, path, backup)
    _rename(spark, staging, path)
    _hadoop_rm(spark, backup)
    # the publish replaced every file under `path`: drop any cached listing
    # so readers in this session don't chase renamed-away part files
    spark.catalog.refreshByPath(path)


def _first_batch(updates: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """The first write's rows: the PK invariant must hold from the first
    batch, so duplicate keys collapse by the same last-write-wins rule the
    merge applies (the reference's INSERT..ON DUPLICATE KEY UPDATE collapses
    them by arrival order)."""
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
    if _exists(spark, path):
        # Commit completed (or never started): staging/backup are stale.
        action = "clean" if (_exists(spark, staging) or _exists(spark, backup)) else "noop"
        _hadoop_rm(spark, staging)
        _hadoop_rm(spark, backup)
        return action
    if _exists(spark, backup):
        # Crashed between the two publish renames: roll the backup forward.
        _rename(spark, backup, path)
        _hadoop_rm(spark, staging)
        spark.catalog.refreshByPath(path)
        return "restored"
    # Neither target nor backup: crash during the very first staging write.
    # Clean the orphaned staging dir instead of leaving it for the next write.
    _hadoop_rm(spark, staging)
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
           if _exists(spark, path) else _first_batch(updates, keys, order_col))
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

    Steps:
      1. distinct partition values in ``updates`` (one driver row per
         touched partition — thousands at most);
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
    if not _exists(spark, path):
        overwrite_partitions(_first_batch(updates, keys, order_col), path,
                             partition_cols)
        return
    parts = StructType([StructField(c, updates.schema[c].dataType, True)
                        for c in partition_cols])
    # Spark stores an empty string partition value as the default (null)
    # partition and reads it back as null: merged as "", an update would
    # not meet its base row there and the key would be stored twice
    updates = updates.withColumns({
        f.name: F.when(F.col(f.name) != "", F.col(f.name))
        for f in parts.fields if f.dataType == StringType()})
    touched = updates.select(*partition_cols).distinct().collect()
    base_slice = _touched_slice(spark, path, parts, touched)
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


def _plain_path(path: str) -> str:
    """The filesystem path of a path string as Hadoop's ``Path`` — and so
    Spark — reads it: a scheme (a colon before the first slash) and an
    authority are dropped, and the rest is taken literally. Hadoop decodes
    no ``%XX`` and knows no query or fragment, so ``/lake/prices#v2`` names
    the directory ``prices#v2``. A TxTable rooted at
    ``hdfs://nn/warehouse/t`` records add-actions relative to this plain
    path, while store I/O keeps the full string (so the right FileSystem
    resolves). A URI Spark reports (``input_file_name()``) is
    percent-encoded instead: see ``_uri_path``."""
    head, sep, rest = path.partition(":")
    if not sep or "/" in head:
        return path
    if rest.startswith("//") and len(rest) > 2:
        end = rest.find("/", 2)
        return rest[end:] if end >= 0 else ""
    return rest


def _local_path(path: str) -> str | None:
    """``_plain_path`` of a path on the local filesystem (no scheme, or
    ``file:``), which the driver can list and read itself; None for every
    other scheme."""
    head, sep, _ = path.partition(":")
    if sep and "/" not in head and head != "file":
        return None
    return _plain_path(path)


def _uri_path(uri: str) -> str:
    """The filesystem path of a percent-encoded URI that Spark reports,
    such as ``input_file_name()``."""
    return unquote(urlparse(uri).path)


_INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


def _text_kind(dtype) -> str | None:
    """"str", "int" or "date" for a column type whose values the driver
    renders as text exactly as Spark does — its ``cast(... as string)`` and
    its partition directory names; None for every other type (callers then
    take a Spark-job path)."""
    if dtype == StringType():  # the default UTF8_BINARY collation only
        return "str"
    if type(dtype) in _INT_BITS:
        return "int"
    if isinstance(dtype, DateType):
        return "date"
    return None


# Spark's partition directory names (ExternalCatalogUtils): these characters
# are written as %XX, and a null or empty value as the default partition
_ESCAPED = frozenset([chr(c) for c in range(0x01, 0x20)]
                     + list('"#%\'*/:=?\\\x7f{[]^'))
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def _partition_dir(col: str, value) -> str:
    """``col=value`` as Spark names the directory of an integral, string or
    date partition value."""
    text = "" if value is None else \
        value.isoformat() if isinstance(value, date) else str(value)
    return (f"{_escape_path_name(col)}="
            f"{_escape_path_name(text) if text else _DEFAULT_PARTITION}")


def _touched_slice(spark, path: str, parts: StructType,
                   touched: list) -> DataFrame | None:
    """The rows of the partitions ``touched`` names — exactly the
    directories a dynamic overwrite of those values replaces — read with
    no partition-discovery and no schema-inference job; None when the
    table is not local, a partition type is not integral, string or date,
    or the footer lacks Spark's schema (the caller then reads the whole
    table).

    Existence is decided from directory listings that RAISE on I/O error:
    a touched partition wrongly taken as absent would be overwritten with
    only the update rows."""
    root = _local_path(path)
    if root is None or not all(_text_kind(f.dataType)
                               for f in parts.fields):
        return None
    listings: dict[str, list[str]] = {}

    def names(rel: str) -> list[str]:
        if rel not in listings:
            listings[rel] = sorted(os.listdir(os.path.join(root, rel)))
        return listings[rel]

    existing = []
    for row in touched:
        rel = ""
        for c in parts.names:
            seg = _partition_dir(c, row[c])
            if seg not in names(rel):
                break
            rel = os.path.join(rel, seg)
        else:
            existing.append(rel)
    data = _footer_schema(root, existing[0] if existing else "",
                          len(parts.names))
    if data is None:
        return None
    schema = StructType([f for f in data.fields if f.name not in parts.names]
                        + parts.fields)
    if not existing:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema).option("basePath", path)
            .parquet(*[os.path.join(path, rel) for rel in existing]))


def _footer_schema(root: str, rel: str, depth: int) -> StructType | None:
    """The Spark schema recorded in the footer of the first data file under
    ``root/rel`` (``depth`` directory levels below ``root``), or None."""
    import pyarrow.parquet as pq

    level = len(rel.split(os.sep)) if rel else 0
    for name in sorted(os.listdir(os.path.join(root, rel))):
        if name.startswith((".", "_")):
            continue
        if level < depth:
            found = _footer_schema(root, os.path.join(rel, name), depth)
            if found is not None:
                return found
            continue
        meta = pq.read_metadata(os.path.join(root, rel, name)).metadata or {}
        if _SPARK_SCHEMA_KEY not in meta:
            return None
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return None


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
    it passes ``_exists()`` but fails every later schema-inferring
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
    fresh = not _exists(spark, path)
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_cols)
       .parquet(path))
    if fresh and not _has_parquet_files(spark, path):
        _hadoop_rm(spark, path)
    spark.catalog.refreshByPath(path)


def dedup_last(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep one row per key by explicit ordering (descending on order_cols).

    The PK-rebuild dedup of tick tables (tasks/merge/delete_duplicate_ticks.py:15-67)
    expressed as a window — no table rebuild needed.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1).drop("__rn"))
