"""Streaming SOURCE over the TxTable commit log — the table as a stream.

``streaming/jobs.txlog_sink`` made the ACID table (sinks/txlog.py) a
streaming *sink*; this module completes the story in the other direction:
``spark.readStream.format("txlog").load(path)`` tails the commit log and
emits each commit's appended rows as a micro-batch, with Spark's own
offset log giving exactly-once replay. This is the published lakehouse
streaming-source design (Delta's table-as-source): offsets are table
versions, a batch is the files added between two versions, and any commit
that CHANGES existing data (remove actions, deletion-vector re-adds,
overwrite/compact/restore) is refused unless ``skipChangeCommits`` is set
— silently re-emitting copy-on-write carry-over rows would duplicate the
stream (reference parity: the Celery pipeline re-polls MySQL tables for
new rows, e.g. tasks/merge/stock.py incremental runs; here downstream
jobs subscribe to the table itself).

Implementation: the Spark 4 Python Data Source API
(``pyspark.sql.datasource``). The reader runs in Python workers WITHOUT a
SparkSession, so it reads the commit log through ``LocalLogStore`` (POSIX
paths; hdfs:///object-store tables stream via their mounted filesystems).
Table states — the schema, the live set behind a snapshot read or a
snapshot-start stream, the pre-overwrite rows of the CDC feed — come
from ``sinks.txlog.replay``, the same checkpointed fold ``TxTable``
reads, so the source and the table can never disagree on what is live;
tailing classifies each new commit on its own. ``read()`` executes ON
EXECUTORS, one partition per added file, and yields the Arrow
RecordBatches of ``lake.read`` (the driver merge's reader too) — the
vectorized path, never row-at-a-time Python. Scale shape: driver work is
one JSON read per new version per trigger (plus one replay for a
snapshot); data movement is executor-side and proportional to the NEW
files only.

Options:
- ``startingVersion`` (default 0): first batch covers versions
  ``startingVersion+1..latest`` — 0 streams the table from its creation
  (the v1 create commit is pure adds, i.e. the initial snapshot).
  ``startingVersion="snapshot"`` instead bootstraps from the CURRENT
  state: the first batch is the DV-applied live file set at the stream's
  start version (merge-on-read applied executor-side — each file minus
  the positions its referenced sidecars retract), then tails new
  commits. This is the mode for tables with compacted-and-vacuumed
  history, where replaying from version 0 would dereference data files
  that no longer exist.
- ``skipChangeCommits`` (default false): skip commits that modify
  existing rows instead of failing the stream. File-layout maintenance
  (compact / compact_dv / coalesce_dv) changes no logical row and is
  always silently emitted as nothing, in BOTH modes — it neither needs
  this flag nor triggers it.
- ``maxVersionsPerTrigger`` (default unbounded): rate limit — each
  micro-batch advances at most N table versions past the reader's floor
  (the configured start at stream birth, then whatever Spark has planned
  or committed), so a subscriber catching up on a long backlog processes
  it in bounded batches instead of one giant one. Restart-safe: the
  floor ratchets to the checkpointed range the moment Spark plans a
  batch (restart-with-backlog covered by test). Note
  ``Trigger.AvailableNow`` falls back to single-batch for Python
  sources, so the cap shows under processingTime triggers — and,
  consequently, an availableNow "drain" advances at most
  ``maxVersionsPerTrigger`` versions per invocation: with a long
  backlog the query terminates with backlog remaining, and draining
  it fully requires repeated runs (or leaving the cap unset for the
  drain).
- ``mode`` (default ``append``): ``cdc`` turns the stream into a change
  feed — the streaming twin of ``TxTable.changes()`` (the published
  change-data-feed design). Rows carry two extra columns, ``_change``
  ('insert' | 'delete' | 'update_pre' | 'update_post') and
  ``_commit_version``. Per commit: create/append/insert-only-merge adds
  stream as inserts; a deletion-vector DELETE streams the newly-marked
  rows as deletes (the commit's own sidecar names their (file, position)
  identities — ``pyarrow.Table.take`` extracts exactly those rows, no
  diffing); a DV UPDATE streams its sidecar rows as update_pre and its
  new files as update_post; compact/coalesce_dv/compact_dv change
  nothing logically and emit nothing (same contract as the batch feed,
  where identical DV-filtered reads cancel). One documented semantic
  difference from the batch feed: this is an OPERATION-level feed (like
  the published CDF) — an UPDATE emits update_pre/update_post for every
  MATCHED row, including rows whose values the assignment left unchanged
  (e.g. ``greatest(x, floor)`` on a row already above the floor), while
  the batch ``changes()`` is a value diff that drops identity updates.
  A CoW merge on a ``change_data_feed`` table streams from the
  change-data files its commit persisted (the CDF write-side,
  sinks/txlog.py ``_write_merge_cdf``); an overwrite streams as derived
  delete(old live set)+insert(new files) with no CDF needed. Commits
  whose per-row change set is NOT recoverable from the log alone
  (pre-CDF copy-on-write merge, restore) fail the stream — or are
  skipped under ``skipChangeCommits`` — with ``TxTable.changes()`` as
  the documented batch fallback for those.

The same DataSource also serves BATCH reads (``spark.read.format(
"txlog")``): the DV-applied live snapshot with ``versionAsOf`` time
travel, and ``mode="cdc"`` as the per-commit batch change feed
(``TxLogBatchReader`` / ``TxTable.table_changes`` — Delta's
``table_changes`` shape), planned by the SAME commit classifier as the
stream.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, InputPartition)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import lake
from ..sinks.txlog import _LOG_DIR, LocalLogStore, log_path, replay

# ops whose adds are guaranteed NEW rows (no existing row modified):
# create is the initial snapshot; append is blind; a merge with an empty
# remove list matched nothing (pure insert). Everything else — and any
# commit with removes or DV re-adds — changes visible data.
_APPEND_OPS = ("create", "append", "merge_upsert")

# ops that change NO logical row: file-layout / sidecar maintenance and
# metadata-only commits (constraints, table properties). Both modes emit
# nothing for them — the same cancellation contract the batch changes()
# feed gets from its (path, dv refs) identity key.
_SILENT_OPS = ("compact", "compact_dv", "coalesce_dv",
               "set_constraint", "drop_constraint", "set_cdf")


def _list_versions(log_dir: str) -> list[int]:
    # driver-side log access reuses the engine's LogStore so the two
    # never drift on layout/suffix rules; only executor-side read()
    # stays store-free (plain parquet I/O)
    return LocalLogStore().list_versions(log_dir)


def _read_commit(log_dir: str, version: int) -> dict:
    return LocalLogStore().read(log_path(log_dir, version))


_CDC_COLS = ("_change", "_commit_version")


class _FilePartition(InputPartition):
    def __init__(self, path: str, kind: str = "insert",
                 version: int | None = None, sidecar: str | None = None,
                 drop_refs: list[str] | None = None):
        self.path = path
        self.kind = kind          # insert | delete | update_pre | update_post
        self.version = version
        self.sidecar = sidecar    # sidecar dir naming this commit's rows
        self.drop_refs = drop_refs  # sidecars whose rows are EXCLUDED
        #   (deletion-vector application for initial-snapshot reads)


class _TxLogReaderCore:
    """Shared commit-classification + executor-side Arrow read path. The
    streaming reader and the batch reader both plan _FilePartitions with
    this logic, so the two feeds can never disagree on what a commit
    means."""

    def _init_core(self, schema: StructType, options: dict,
                   kind: str) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(f"txlog {kind} requires a table path "
                             "(.load(path) or .option('path', ...))")
        self.table_path = path.rstrip("/")
        self.log_dir = os.path.join(self.table_path, _LOG_DIR)
        self.result_schema = schema
        self.skip_change = str(
            options.get("skipchangecommits", "false")).lower() == "true"
        self.mode = str(options.get("mode", "append")).lower()
        if self.mode not in ("append", "cdc"):
            raise ValueError(f"txlog {kind}: unknown mode "
                             f"{self.mode!r} (expected 'append' or 'cdc')")

    def _snapshot_partitions(self, v: int, kind: str = "insert",
                             version: int | None = None
                             ) -> "list[_FilePartition]":
        """The DV-applied live file set at version ``v`` as ``kind``
        partitions stamped with ``version`` (default ``v``) —
        merge-on-read applied executor-side via drop_refs."""
        parts = []
        for a in replay(LocalLogStore(), self.log_dir, v).adds():
            refs = a.get("dv", {}).get("refs") or None
            parts.append(_FilePartition(
                os.path.join(self.table_path, a["path"]), kind,
                v if version is None else version,
                drop_refs=[os.path.join(self.table_path, r)
                           for r in refs] if refs else None))
        return parts

    def _refuse_or_skip(self, v: int, commit: dict, why: str) -> bool:
        """True = skip this commit (skipChangeCommits); else raise."""
        if self.skip_change:
            return True
        raise ValueError(
            f"txlog source: version {v} is a "
            f"'{commit.get('op')}' commit {why}. Set "
            f"skipChangeCommits=true to skip such commits, or consume "
            f"TxTable.changes() for the batch value-diff feed")

    def _append_partitions(self, v: int, commit: dict):
        adds = commit.get("add") or []
        if commit.get("op") in _SILENT_OPS:
            # file-layout maintenance changes no logical row: emit nothing
            # rather than killing every append-mode subscriber of a table
            # under routine compact()/coalesce_dv() care
            return []
        changes_data = (commit.get("op") not in _APPEND_OPS
                        or bool(commit.get("remove"))
                        or any(a.get("dv", {}).get("refs") for a in adds))
        if changes_data:
            if self._refuse_or_skip(
                    v, commit, "that changes existing rows; streaming it "
                    "as appends would corrupt the feed"):
                return []
        return [_FilePartition(os.path.join(self.table_path, a["path"]),
                               "insert", v) for a in adds]

    def _cdc_partitions(self, v: int, commit: dict):
        op, adds = commit.get("op"), commit.get("add") or []
        if op in _SILENT_OPS:
            return []  # logical content unchanged: silent, like changes()
        if commit.get("cdf_files"):
            # CDF write-side (CoW merge on a change_data_feed table): the
            # commit persisted its own row-level changes — serve those
            # files verbatim (their _change column is authoritative);
            # the adds are the rewritten files, NOT change rows
            parts = []
            for d in commit["cdf_files"]:
                full = os.path.join(self.table_path, d)
                parts.extend(_FilePartition(os.path.join(full, fn), "cdf", v)
                             for fn in lake.data_files(full))
            return parts
        if op in _APPEND_OPS and not commit.get("remove") \
                and not any(a.get("dv", {}).get("refs") for a in adds):
            return [_FilePartition(
                os.path.join(self.table_path, a["path"]), "insert", v)
                for a in adds]
        if op == "overwrite":
            # derivable without CDF files (the published CDC treatment of
            # whole-file replacement): every pre-commit live row is a
            # delete (DV-applied — merge-on-read-deleted rows were already
            # gone), every added file an insert
            parts = self._snapshot_partitions(v - 1, "delete", v)
            parts += [_FilePartition(
                os.path.join(self.table_path, a["path"]), "insert", v)
                for a in adds]
            return parts
        sidecars = commit.get("dv_sidecars") or []
        if op in ("delete", "update") and len(sidecars) == 1:
            sidecar = os.path.join(self.table_path, sidecars[0])
            pre_kind = "delete" if op == "delete" else "update_pre"
            parts = []
            for a in adds:
                refs = a.get("dv", {}).get("refs", [])
                path = os.path.join(self.table_path, a["path"])
                if sidecars[0] in refs:
                    # re-added file: THIS commit's sidecar rows are its
                    # newly-retracted (previously live) positions
                    parts.append(_FilePartition(path, pre_kind, v, sidecar))
                else:  # fresh file holding the rewritten rows
                    parts.append(_FilePartition(path, "update_post", v))
            return parts
        if self._refuse_or_skip(
                v, commit, "whose per-row change set is not recoverable "
                "from the commit log alone"):
            return []
        return []  # unreachable: _refuse_or_skip skips or raises

    # --------------------------------------------------------------- read --
    def read(self, partition: _FilePartition):
        """The partition's rows by ``lake.read``: a pre-image keeps the rows
        this commit's sidecar names, a DV-carrying snapshot file drops the
        rows its sidecars retract, a column added later reads as NULL."""
        import pyarrow as pa

        cdc = self.mode == "cdc"
        fields = [f for f in self.result_schema.fields
                  if not (cdc and f.name in _CDC_COLS)]
        if partition.kind == "cdf":
            # change-data file: _change is a real column written at commit
            # time, not a per-partition constant
            fields.append(StructField("_change", StringType()))
        tbl = lake.read([partition.path], lake.arrow_schema(fields),
                        keep=partition.sidecar,
                        drop=partition.drop_refs or ())
        if cdc:
            n = tbl.num_rows
            if partition.kind != "cdf":
                tbl = tbl.append_column(
                    "_change", pa.array([partition.kind] * n, pa.string()))
            tbl = tbl.append_column(
                "_commit_version", pa.array([partition.version] * n,
                                            pa.int64()))
        yield from tbl.to_batches()


class TxLogStreamReader(_TxLogReaderCore, DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._init_core(schema, options, "stream source")
        sv = str(options.get("startingversion", 0)).lower()
        self.snapshot_start = sv == "snapshot"
        self.start_version = 0 if self.snapshot_start else int(sv)
        self.max_versions = int(options.get("maxversionspertrigger", 0))
        if self.max_versions < 0:
            raise ValueError("maxVersionsPerTrigger must be >= 0")
        # floor for the rate-limit cap: the last version this reader
        # planned or Spark committed. Starts at the configured start
        # version so a FRESH subscriber's backlog catch-up is capped from
        # batch one (Spark probes latestOffset before initialOffset);
        # partitions()/commit() ratchet it to the checkpointed truth on
        # restart.
        self._cursor: int | None = None

    # ------------------------------------------------------------ offsets --
    def initialOffset(self) -> dict:
        if self.snapshot_start:
            # Pin the snapshot version to the FIRST probe this reader made:
            # Spark calls latestOffset before initialOffset on a fresh
            # stream, and a commit landing between those two driver calls
            # would otherwise push a freshly-listed snapshot version past
            # the first batch's end offset — that commit's rows would then
            # appear in BOTH the snapshot and the next tail batch.
            if self._cursor is not None:
                v = self._cursor
            else:
                versions = _list_versions(self.log_dir)
                v = versions[-1] if versions else 0
            if v:
                # the first batch must emit the DV-applied live set AT v
                # (not a replay of v's history — which may reference files
                # that compact()+vacuum() already removed), then tail v+1..
                self._cursor = v
                return {"version": v, "snapshot": v}
        self._cursor = self.start_version
        return {"version": self.start_version}

    def _effective_start(self) -> int:
        if self.snapshot_start:
            versions = _list_versions(self.log_dir)
            return versions[-1] if versions else 0
        return self.start_version

    def latestOffset(self) -> dict:
        versions = _list_versions(self.log_dir)
        latest = versions[-1] if versions else self.start_version
        if self.max_versions:
            if self._cursor is None:
                # Spark probes latestOffset BEFORE initialOffset on a
                # fresh stream (observed 4.1 runner order), so the floor
                # self-initializes to what initialOffset would return;
                # on a RESTART partitions() ratchets it to the
                # checkpointed start before any capped value could plan
                # a backward batch (verified by the restart test)
                self._cursor = self._effective_start()
            latest = min(latest, self._cursor + self.max_versions)
        self._cursor = max(self._cursor or 0, latest)
        return {"version": latest}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # ratchet the rate-limit floor to Spark's own (checkpointed) range
        # — on restart this overrides the self-initialized start floor
        # before it could matter
        self._cursor = max(self._cursor or 0, start["version"],
                           end["version"])
        parts: list[InputPartition] = []
        if start.get("snapshot"):
            parts.extend(self._snapshot_partitions(start["snapshot"]))
        for v in range(start["version"] + 1, end["version"] + 1):
            commit = _read_commit(self.log_dir, v)
            if self.mode == "cdc":
                parts.extend(self._cdc_partitions(v, commit))
            else:
                parts.extend(self._append_partitions(v, commit))
        return parts

    def commit(self, end: dict) -> None:
        # Spark's checkpoint offset log is the source of truth for replay;
        # the cursor only feeds the best-effort maxVersionsPerTrigger cap
        self._cursor = max(self._cursor or 0, end.get("version", 0))


class TxLogBatchReader(_TxLogReaderCore, DataSourceReader):
    """Batch reads over the commit log, session-free (the same planner and
    executor-side Arrow path as the stream — the two can never disagree):

    - default mode: the DV-applied live snapshot, with ``versionAsOf``
      time travel (``spark.read.format("txlog").load(path)``) — a table
      read that needs no TxTable object, e.g. from a different
      application that only shares the storage.
    - ``mode="cdc"``: the per-commit change feed between two versions —
      the batch twin of Delta's ``table_changes``. ``startingVersion``
      is EXCLUSIVE (the feed is "changes since v", matching both
      ``TxTable.changes(v_from, ...)`` and the stream's offset
      semantics); ``endingVersion`` inclusive, default latest. Rows
      carry ``_change`` and ``_commit_version`` exactly as the streaming
      CDC mode emits them; non-recoverable commits (pre-CDF CoW merge,
      restore) raise unless ``skipChangeCommits``.
    """

    def __init__(self, schema: StructType, options: dict):
        self._init_core(schema, options, "batch source")
        versions = _list_versions(self.log_dir)
        latest = versions[-1] if versions else 0
        self.start_version = int(options.get("startingversion", 0))
        self.end_version = int(options.get("endingversion", latest))
        self.version_as_of = int(options.get("versionasof", latest))

    def partitions(self) -> "list[InputPartition]":
        if self.mode == "cdc":
            parts: list[InputPartition] = []
            for v in range(self.start_version + 1, self.end_version + 1):
                parts.extend(self._cdc_partitions(
                    v, _read_commit(self.log_dir, v)))
            return parts
        return self._snapshot_partitions(self.version_as_of)


class TxLogStreamDataSource(DataSource):
    """``spark.dataSource.register(TxLogStreamDataSource)`` then
    ``spark.readStream.format("txlog").load(path)`` (stream) or
    ``spark.read.format("txlog").load(path)`` (batch snapshot /
    ``mode="cdc"`` change feed)."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("txlog source requires a table path")
        # time-travel batch read: that version's schema, not today's
        v_as_of = self.options.get("versionasof")
        recorded = replay(LocalLogStore(),
                          os.path.join(path.rstrip("/"), _LOG_DIR),
                          None if v_as_of is None else int(v_as_of)).struct()
        # All fields served nullable: files written before a column was
        # added NULL-fill it, and old logs (pre-r11) may carry widened
        # columns recorded non-nullable from a lit() frame.
        fields = [StructField(f.name, f.dataType, nullable=True,
                              metadata=f.metadata)
                  for f in recorded.fields]
        if str(self.options.get("mode", "append")).lower() == "cdc":
            taken = [f.name for f in fields if f.name in _CDC_COLS]
            if taken:
                raise ValueError(
                    f"cdc mode reserves column names {_CDC_COLS}; "
                    f"the table already has {taken}")
            fields += [StructField("_change", StringType(), False),
                       StructField("_commit_version", LongType(), False)]
        return StructType(fields)

    def streamReader(self, schema: StructType) -> TxLogStreamReader:
        return TxLogStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> TxLogBatchReader:
        return TxLogBatchReader(schema, dict(self.options))


def read_txlog_snapshot(spark, path: str, version: "int | None" = None):
    """Batch snapshot (optionally time-traveled) via the data source —
    session-free parity with ``TxTable.snapshot(version)``."""
    spark.dataSource.register(TxLogStreamDataSource)
    r = spark.read.format("txlog")
    if version is not None:
        r = r.option("versionAsOf", str(version))
    return r.load(path)


def read_txlog_changes(spark, path: str, v_from: int,
                       v_to: "int | None" = None,
                       skip_change_commits: bool = False):
    """Batch per-commit change feed for versions ``v_from+1 .. v_to`` —
    the batch twin of the streaming CDC mode (operation-level, with
    ``_change``/``_commit_version``), vs ``TxTable.changes()`` which is
    the range value-diff."""
    spark.dataSource.register(TxLogStreamDataSource)
    r = (spark.read.format("txlog").option("mode", "cdc")
         .option("startingVersion", str(v_from))
         .option("skipChangeCommits",
                 "true" if skip_change_commits else "false"))
    if v_to is not None:
        r = r.option("endingVersion", str(v_to))
    return r.load(path)


def read_txlog_stream(spark, path: str, starting_version: "int | str" = 0,
                      skip_change_commits: bool = False,
                      mode: str = "append",
                      max_versions_per_trigger: int = 0):
    """Register the source (idempotent) and open the stream DataFrame."""
    spark.dataSource.register(TxLogStreamDataSource)
    return (spark.readStream.format("txlog")
            .option("startingVersion", str(starting_version))
            .option("skipChangeCommits",
                    "true" if skip_change_commits else "false")
            .option("mode", mode)
            .option("maxVersionsPerTrigger", str(max_versions_per_trigger))
            .load(path))
