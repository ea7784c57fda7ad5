"""ACID transaction-log table on plain Parquet — concurrent-writer atomicity.

Closes the one semantic gap ``operators/upsert.py`` documents: the reference's
``INSERT … ON DUPLICATE KEY UPDATE`` sink (/root/reference
tasks/backend/__init__.py:16-38) gets *statement* atomicity from MySQL, and
``write_upsert``'s staging+rename protocol is crash-safe but single-writer.
This module adds the multi-writer half with the standard public design — an
ordered log of immutable commits over immutable data files (the architecture
published for Delta Lake in "Delta Lake: High-Performance ACID Table Storage
over Cloud Object Stores", VLDB 2020) — implemented from scratch on plain
parquet, no table-format dependency.

Layout::

    table/
      _txlog/00000000000000000001.json    # one JSON doc per commit
      _data/<uuid>/part-*.parquet          # immutable data files, never renamed

A commit *is* the atomic creation of ``_txlog/<version>.json`` (put-if-absent:
two writers racing for the same version — exactly one wins). Data files are
written BEFORE the commit under fresh UUID dirs, so a loser's files are simply
never referenced (invisible to readers; ``vacuum`` reclaims them) and a reader
never sees a partial write. Readers replay the log to a version: the live file
set is adds minus removes — snapshot isolation and time travel for free.

Scale notes (the 100 TB shape):

* The log is tiny (one small JSON per commit). ``replay`` is its only
  reader: it folds the commits into one ``TableState`` — version, schema,
  ``stats_cols``, ``bloom``, ``constraints``, ``cdf``, the per-app ``txns``
  high-water marks and the live add-actions — shared by every ``TxTable``
  op, ``last_txn``, the commit retry loop and the txlog source. Every
  ``checkpoint_interval`` commits the writer serialises that state as
  ``<version>.checkpoint.json`` (the same fields, the live set under
  ``add``), and replay resumes from the newest readable checkpoint
  at-or-below the requested version — O(interval) per read regardless of
  table age, the standard log-compaction design. Checkpoints are derived
  data: best-effort, never required for correctness (a missing or corrupt
  checkpoint just means resuming from an older one, or from version 1).
* Every ``add`` carries per-file min/max stats for the declared
  ``stats_cols`` (read from the just-written parquet FOOTERS — O(files)
  driver metadata I/O, no re-read of the data; a Spark
  ``input_file_name()`` aggregation remains as the fallback for stats
  columns whose footer min/max is not provably exact).
  ``merge_upsert`` uses them for FILE-LEVEL pruning: only files whose stat
  range overlaps the update keys are rewritten (copy-on-write), the rest of
  the table is never opened. Batches are ``repartitionByRange`` on
  ``stats_cols`` so ranges are tight and pruning actually bites.
* ``put_if_absent`` maps to ``link(2)`` of a fully written temp file locally
  (``LocalLogStore``: the link fails with EEXIST if the version exists),
  an atomic no-overwrite ``FileContext.rename`` on HDFS (``HadoopLogStore``),
  and a coordination service or conditional-PUT on object stores — the
  LogStore seam is one method.

Concurrency contract (optimistic): blind ``append`` never conflicts — on a
lost race it re-commits at the next version (its files are already on disk;
only the log entry is retried), unless an intervening ``overwrite`` replaced
the table wholesale. ``merge_upsert`` / ``overwrite`` / ``compact`` read the
table, so ANY intervening commit invalidates them → ``ConflictError`` (the
caller re-runs on the new snapshot; serializable, never silently lost).
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_integration_celery_spark import lake
from data_integration_celery_spark.operators import upsert as upsert_mod
from data_integration_celery_spark.operators.upsert import (
    _driver_rows, upsert_annotated, upsert_arrow, upsert_frames)

_LOG_DIR = "_txlog"
_DATA_DIR = "_data"
_VERSION_DIGITS = 20
_CKPT_SUFFIX = ".checkpoint.json"


def log_path(log_dir: str, version: int, suffix: str = ".json") -> str:
    """The commit (or, with ``_CKPT_SUFFIX``, checkpoint) file of a version."""
    return os.path.join(log_dir, f"{version:0{_VERSION_DIGITS}d}{suffix}")


class ConflictError(RuntimeError):
    """Another writer committed between this transaction's read and commit."""


class ConstraintViolation(ValueError):
    """A write contains rows that fail a table CHECK constraint."""


def _is_java_exc(exc: Exception, *class_names: str) -> bool:
    """True iff a py4j error wraps a Java exception whose class (or any of
    its causes, following getCause) is one of ``class_names`` — exception
    identity by CLASS, never by message substring."""
    jexc = getattr(exc, "java_exception", None)
    seen = 0
    while jexc is not None and seen < 16:  # cause chains are short
        try:
            if jexc.getClass().getName() in class_names:
                return True
            jexc = jexc.getCause()
        except Exception:
            return False
        seen += 1
    return False


def _bloom_pos_exprs(col, bits: int, k: int) -> list:
    """k Bloom positions for a value as pure Columns. The value is cast to
    string before hashing, so build and probe agree whenever the probe
    literal stringifies like the stored type — the probe path therefore
    casts literals to the column's schema type first (see
    ``_bloom_positions_batch``), since e.g. int 777 and DOUBLE 777.0
    stringify differently."""
    s = col.cast("string")
    return [F.pmod(F.xxhash64(F.concat(F.lit(f"__bf{i}:"), s)),
                   F.lit(bits)) for i in range(k)]


def _bloom_admits(entry: dict, positions: list[int]) -> bool:
    """True iff the packed filter has every probe bit set (maybe-present).
    Python's arbitrary-precision arithmetic shift makes the signed-int64
    bit test exact for negative words."""
    import base64
    import struct

    nwords = (entry["bits"] + 63) // 64
    dense = struct.unpack(f"<{nwords}q", base64.b64decode(entry["words"]))
    return all((dense[p >> 6] >> (p & 63)) & 1 for p in positions)


# A write batch whose Bloom columns need at most this many hashes (k times
# the distinct non-null values, per file and column, summed over the batch)
# gets its sidecars built on the driver; a larger one keeps the Spark-job
# build. The driver's cost grows with the distinct values it hashes, the
# Spark build's with the rows it explodes, plus a job launch. Measured on a
# 4-vCPU VM, one 8-file batch, bits=65536, k=5, each build timed alone:
# with 5 000 distinct keys the driver took 0.13 s against Spark's 1.33 s at
# 2^20 rows, and 0.25 s against 2.96 s at 2^22 rows; with every key
# distinct it took 0.30 s against 0.83 s at 2^18 rows (1.3 M hashes), 0.63 s
# against 0.84 s at 2^19 (2.6 M), tied at 3 * 2^18 (3.9 M) and lost at 2^20
# (1.26 s against 0.96 s). The cap sits below that crossover, and it also
# bounds the distinct values the driver holds at once.
_DRIVER_BLOOM_MAX_HASHES = 1 << 21
# The date range over which the driver's "yyyy-MM-dd" text is Spark's cast
# and a Spark-written date reads back without calendar rebasing.
_DRIVER_BLOOM_DATES = (date(1582, 10, 15), date(9999, 12, 31))


def _probe_text(value, dtype) -> str | None:
    """The string Spark hashes for a Bloom probe of ``value`` against a
    column of type ``dtype`` (``cast(try_cast(lit(value) as dtype) as
    string)``), or None when the driver cannot prove it (the probe then
    takes the Spark-job path)."""
    if dtype is None:
        kind = "str" if isinstance(value, str) else "int"
    else:
        kind = lake.text_kind(dtype)
    if kind == "str":
        return value if isinstance(value, str) else None
    if kind == "int":
        if type(value) is not int:  # a bool is an int to Python, not Spark
            return None
        half = 1 << (lake.INT_BITS[type(dtype)] - 1 if dtype else 63)
        return str(value) if -half <= value < half else None
    lo, hi = _DRIVER_BLOOM_DATES
    if kind == "date" and type(value) is date and lo <= value <= hi:
        return value.isoformat()  # (type check: a datetime is a date too)
    return None


def _kernel_positions(texts, bits: int, k: int):
    """(k, n) Bloom positions of a pyarrow string array without nulls: the
    driver form of ``_bloom_pos_exprs`` — ``xxhash64("__bf{i}:" + text)``
    by the XXH64 kernel, ``pmod`` by ``bits`` on the signed hash."""
    import numpy as np
    import pyarrow.compute as pc

    from data_integration_celery_spark.functions.xxh64 import xxh64
    return np.stack([xxh64(pc.binary_join_element_wise(f"__bf{i}:", texts, ""))
                     % bits for i in range(k)])


class LocalLogStore:
    """Atomic put-if-absent on a driver-visible filesystem.

    ``link(2)`` is the POSIX atomic create-exclusive primitive here — of N
    processes racing to link the same name, exactly one succeeds, the rest
    get EEXIST. Payload is written to a temp name first and linked into
    place only when complete, so a reader can never observe a half-written
    commit file.
    """

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            # link(2) fails with EEXIST if path exists — atomic publish of a
            # COMPLETE file (O_EXCL on the final name would expose a window
            # where the file exists but is empty).
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def read(self, path: str) -> dict:
        with open(path, "rb") as f:
            return json.loads(f.read())

    def list_versions(self, log_dir: str, suffix: str = ".json") -> list[int]:
        if not os.path.isdir(log_dir):
            return []
        out = []
        for name in os.listdir(log_dir):
            stem = name[:-len(suffix)]
            if name.endswith(suffix) and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def ensure_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    # --- maintenance I/O (vacuum/restore run wherever the driver runs) ---

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def list_files(self, root: str) -> list[tuple[str, float]]:
        """All (abs_path, mtime_seconds) under ``root``, skipping in-flight
        Spark ``_temporary`` staging subtrees."""
        out: list[tuple[str, float]] = []
        for dirpath, dirnames, filenames in os.walk(root):
            if "_temporary" in dirnames:
                dirnames.remove("_temporary")
            for name in filenames:
                p = os.path.join(dirpath, name)
                out.append((p, os.path.getmtime(p)))
        return out

    def prune_empty_dirs(self, root: str, ttl_seconds: float,
                         now: float) -> None:
        """Remove emptied batch dirs older than the TTL (a young empty dir
        is an in-flight writer's staging area, not garbage)."""
        for dirpath, dirnames, filenames in list(
                os.walk(root, topdown=False)):
            if (dirpath != root and not dirnames
                    and not any(map(lake.is_data_file, filenames))
                    and now - os.path.getmtime(dirpath) >= ttl_seconds):
                _rm_dir_quiet(dirpath)


class HadoopLogStore:
    """Atomic put-if-absent via Hadoop's ``FileContext.rename(...,
    Options.Rename.NONE)`` — the published HDFS LogStore design (Armbrust
    et al., "Delta Lake", VLDB 2020, §3.2: write the payload to a unique
    temp name, then an atomic no-overwrite rename publishes it; of N
    writers racing to publish the same version, exactly ONE rename
    succeeds in the NameNode). This is the store that makes ``TxTable``
    cluster-real: commits work on ``hdfs://`` paths from any executor
    host, where ``LocalLogStore``'s ``link(2)`` needs a shared POSIX
    filesystem. The no-overwrite rename is atomic ONLY where the
    filesystem contract makes it so (HDFS serializes it in the NameNode);
    on local/``file://`` paths the default AbstractFileSystem check is
    check-then-act and POSIX rename overwrites — so this store DELEGATES
    those schemes to the link(2) primitive, keeping exactly-one-
    winner on every supported scheme. NOT safe on raw S3A — S3 has no
    atomic no-overwrite rename; an S3 port needs an external coordinator
    (the paper's DynamoDB LogStore), which this seam accommodates as a
    third class.

    Needs a live ``SparkSession`` only for py4j access to the JVM Hadoop
    client; all I/O (read/list/mkdirs) goes through the same
    ``FileSystem``, so a TxTable rooted at an ``hdfs://`` path works
    end-to-end with this store.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        local = lake.local_path(path)
        if local is not None:
            # POSIX rename overwrites, and the local AbstractFileSystem's
            # no-overwrite check is check-then-act — two racers could both
            # "win". link(2) is the atomic primitive there.
            return LocalLogStore().put_if_absent(local, payload)
        fs, dst = lake.fs(self._spark, path)
        _, tmp = lake.fs(self._spark, f"{path}.{uuid.uuid4().hex}.tmp")
        try:
            out = fs.create(tmp, True)
            try:
                out.write(bytearray(payload))
                out.hflush()
            finally:
                out.close()
        except Exception:
            fs.delete(tmp, False)
            raise
        fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri(), self._conf)
        opts = self._gw.new_array(
            self._jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.NONE
        try:
            fc.rename(tmp, dst, opts)
            return True
        except Exception as exc:  # FileAlreadyExistsException → lost race
            fs.delete(tmp, False)
            # Do NOT classify by message text — a transient fault whose
            # message merely contains "already exists" must surface, not
            # read as a lost race (which would send _commit into a busy
            # retry of the same version). The destination's actual state is
            # the authoritative evidence: if a commit file is there, either
            # a rival won (the expected shape, whatever exception class the
            # FS reported) or our own rename landed but the response was
            # lost — disambiguated by content: every commit payload carries
            # a per-writer UUID nonce (_commit's "writer" field), so
            # payload equality uniquely identifies the author even for
            # otherwise byte-identical empty commits.
            if fs.exists(dst):
                try:
                    return self.read(path) == json.loads(payload)
                except Exception:
                    return False  # unreadable rival → treat as lost race
            if _is_java_exc(exc,
                            "org.apache.hadoop.fs.FileAlreadyExistsException",
                            "java.nio.file.FileAlreadyExistsException"):
                # the FS reported the destination taken, but it has since
                # vanished (e.g. swept by maintenance) — a rival DID win
                # the slot; the retry loop re-reads the log and moves on
                return False
            raise

    def read(self, path: str) -> dict:
        fs, p = lake.fs(self._spark, path)
        stream = fs.open(p)
        try:
            raw = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return json.loads(bytes(raw))

    def list_versions(self, log_dir: str, suffix: str = ".json") -> list[int]:
        fs, d = lake.fs(self._spark, log_dir)
        if not fs.exists(d):
            return []
        out = []
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            stem = name[:-len(suffix)]
            if name.endswith(suffix) and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def ensure_dir(self, path: str) -> None:
        fs, p = lake.fs(self._spark, path)
        fs.mkdirs(p)

    # --- maintenance I/O — same contract as LocalLogStore, so vacuum/
    # restore/time-travel work against hdfs:// tables too ---

    def exists(self, path: str) -> bool:
        fs, p = lake.fs(self._spark, path)
        return fs.exists(p)

    def delete(self, path: str) -> None:
        fs, p = lake.fs(self._spark, path)
        fs.delete(p, False)

    def list_files(self, root: str) -> list[tuple[str, float]]:
        fs, r = lake.fs(self._spark, root)
        if not fs.exists(r):
            return []
        out: list[tuple[str, float]] = []
        it = fs.listFiles(r, True)
        while it.hasNext():
            st = it.next()
            p = str(st.getPath())  # full URI — delete() resolves the SAME fs
            if "/_temporary/" in p:
                continue  # in-flight Spark staging
            out.append((p, st.getModificationTime() / 1000.0))
        return out

    def prune_empty_dirs(self, root: str, ttl_seconds: float,
                         now: float) -> None:
        fs, r = lake.fs(self._spark, root)
        if not fs.exists(r):
            return
        # bottom-up: collect dirs, deepest first
        dirs = []
        stack = [r]
        while stack:
            d = stack.pop()
            for st in fs.listStatus(d):
                if st.isDirectory():
                    stack.append(st.getPath())
                    dirs.append(st)
        for st in sorted(dirs, key=lambda s: -len(str(s.getPath()))):
            d = st.getPath()
            try:
                kids = fs.listStatus(d)
                names = [k.getPath().getName() for k in kids]
                if (not any(k.isDirectory() for k in kids)
                        and not any(map(lake.is_data_file, names))
                        and now - st.getModificationTime() / 1000.0
                        >= ttl_seconds):
                    fs.delete(d, True)  # only markers remain
            except Exception:
                pass  # a concurrent writer/vacuum raced in; next pass


class InMemoryConditionalPutClient:
    """Contract-faithful fake of an object store with conditional PUT.

    Models the primitive every major object store now exposes for
    exactly-one-winner creates — S3 ``PutObject`` with ``If-None-Match: *``
    (GA Aug 2024), GCS ``x-goog-if-generation-match: 0``, Azure Blob
    ``If-None-Match: *`` — plus strongly consistent GET/LIST (S3 since
    Dec 2020). ``put_if_none_match`` is an atomic compare-and-create
    under one lock, so of N concurrent writers exactly one succeeds; the
    loser's payload is never partially visible (objects are immutable
    whole-payload puts, there is no half-written state to observe).

    No cloud SDK ships in this environment, so this client IS the third
    storage class's coordinator for tests; a production port swaps the
    constructor for a boto3/gcs wrapper with the same five methods —
    ``ObjectStoreLogStore`` below never sees the difference.
    """

    def __init__(self):
        import threading
        self._objects: dict[str, tuple[bytes, float]] = {}
        self._lock = threading.Lock()

    def put_if_none_match(self, key: str, payload: bytes) -> bool:
        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = (bytes(payload), time.time())
            return True

    def get(self, key: str) -> bytes:
        with self._lock:
            if key not in self._objects:
                raise FileNotFoundError(key)
            return self._objects[key][0]

    def list(self, prefix: str) -> list[tuple[str, float]]:
        with self._lock:
            return sorted((k, m) for k, (_, m) in self._objects.items()
                          if k.startswith(prefix))

    def exists(self, key: str) -> bool:
        with self._lock:
            return key in self._objects

    def delete(self, key: str) -> None:
        with self._lock:
            self._objects.pop(key, None)


class ObjectStoreLogStore:
    """Commit arbitration on an object store via conditional PUT — the
    third storage class after ``LocalLogStore`` (POSIX ``link(2)``) and
    ``HadoopLogStore`` (HDFS no-overwrite rename).

    Raw object stores have no atomic rename, so the Delta paper's S3
    deployment (Armbrust et al., VLDB 2020, §3.2) arbitrates commits
    through an external coordinator (their DynamoDB LogStore). Native
    conditional PUT has since subsumed that: ``If-None-Match: *`` makes
    the object store itself the coordinator, and this store maps
    ``put_if_absent`` straight onto it.

    Plane split, mirroring the production layout:

    - LOG plane (commit + checkpoint JSON under ``_txlog/``) → the
      conditional-PUT ``client``, keyed by path. Atomicity lives here and
      only here.
    - DATA plane (immutable UUID-named parquet written by Spark, vacuum /
      restore maintenance I/O) → ``data_store`` (default
      ``LocalLogStore``, standing in for the s3a/gs connector Spark would
      use against a real bucket). Data files need no atomicity: their
      names are writer-unique UUIDs and only a committed log entry makes
      them visible.
    """

    def __init__(self, client: InMemoryConditionalPutClient,
                 data_store=None):
        self.client = client
        self.data = data_store or LocalLogStore()

    # --- log plane: conditional PUT is the commit arbiter ---

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        return self.client.put_if_none_match(path, payload)

    def read(self, path: str) -> dict:
        return json.loads(self.client.get(path))

    def list_versions(self, log_dir: str, suffix: str = ".json") -> list[int]:
        prefix = log_dir.rstrip("/") + "/"
        out = []
        for key, _mtime in self.client.list(prefix):
            name = key[len(prefix):]
            stem = name[:-len(suffix)]
            if "/" not in name and name.endswith(suffix) and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def ensure_dir(self, path: str) -> None:
        pass  # object stores have no directories; keys appear on first put

    # --- data plane: Spark-written parquet + maintenance I/O ---

    def exists(self, path: str) -> bool:
        return self.data.exists(path)

    def delete(self, path: str) -> None:
        self.data.delete(path)

    def list_files(self, root: str) -> list[tuple[str, float]]:
        return self.data.list_files(root)

    def prune_empty_dirs(self, root: str, ttl_seconds: float,
                         now: float) -> None:
        self.data.prune_empty_dirs(root, ttl_seconds, now)


@dataclass
class TableState:
    """The table as of one log version — what ``replay`` folds the commit
    log into and what a checkpoint stores. Readers need the schema and the
    live add-actions (keyed by path); writers also need the layout
    properties (``stats_cols``, whose first entry is the merge prune key,
    and the ``bloom`` spec), the CHECK ``constraints``, the change-data-feed
    flag and the per-app ``txns`` high-water marks that make txn-stamped
    commits exactly-once."""

    version: int = 0
    schema: str | None = None
    stats_cols: list[str] = field(default_factory=list)
    bloom: dict | None = None
    constraints: dict = field(default_factory=dict)
    cdf: bool = False
    txns: dict[str, int] = field(default_factory=dict)
    live: dict[str, dict] = field(default_factory=dict)

    def apply(self, version: int, commit: dict) -> None:
        """Fold one commit in. A property a commit records replaces the
        carried value (only create/overwrite/compact/restore/set_* commits
        record them); removes drop BEFORE adds land, so a path in both
        resolves to the add (``restore`` relies on it); txn marks only
        rise."""
        self.version = version
        if commit.get("schema"):
            self.schema = commit["schema"]
        if "stats_cols" in commit:
            self.stats_cols = commit["stats_cols"] or []
        if "bloom" in commit:
            self.bloom = commit["bloom"]
        if "constraints" in commit:
            self.constraints = commit["constraints"] or {}
        if "cdf" in commit:
            self.cdf = bool(commit["cdf"])
        txn = commit.get("txn")
        if txn:
            app, batch = txn["app_id"], txn["batch_id"]
            self.txns[app] = max(self.txns.get(app, batch), batch)
        for rel in commit.get("remove") or []:
            self.live.pop(rel, None)
        for add in commit.get("add") or []:
            self.live[add["path"]] = add

    def applied(self, txn: dict | None) -> bool:
        """True iff ``txn`` is at or below its app's committed batch id —
        a replayed writer batch that must not commit again."""
        mark = self.txns.get(txn["app_id"]) if txn else None
        return mark is not None and mark >= txn["batch_id"]

    def struct(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema))

    def adds(self) -> list[dict]:
        return list(self.live.values())

    def to_checkpoint(self) -> dict:
        return {"version": self.version, "schema": self.schema,
                "stats_cols": self.stats_cols, "bloom": self.bloom,
                "constraints": self.constraints, "cdf": self.cdf,
                "txns": self.txns, "add": self.adds()}

    @classmethod
    def from_checkpoint(cls, ck: dict) -> "TableState":
        """Every field is required: a checkpoint missing one (e.g. the
        txn marks) cannot stand in for the commits it covers."""
        return cls(version=ck["version"], schema=ck["schema"],
                   stats_cols=ck["stats_cols"], bloom=ck["bloom"],
                   constraints=ck["constraints"], cdf=ck["cdf"],
                   txns=dict(ck["txns"]),
                   live={a["path"]: a for a in ck["add"]})


def replay(store, log_dir: str, version: int | None = None) -> TableState:
    """The table state at ``version`` (default: latest) — the one place the
    commit log is folded. Resumes from the newest readable checkpoint
    at-or-below the target (a corrupt one falls back to the next older,
    then to version 1) and reads only the commits past it:
    O(checkpoint_interval) reads whatever the table's age. Session-free, so
    the txlog source's Python workers share it with ``TxTable``."""
    versions = store.list_versions(log_dir)
    table = os.path.dirname(log_dir)
    if version is None:
        if not versions:
            raise FileNotFoundError(f"no TxTable at {table}")
        version = versions[-1]
    elif version not in versions:
        raise ValueError(f"version {version} not in log at {table}")
    st = TableState()
    ckpts = store.list_versions(log_dir, suffix=_CKPT_SUFFIX)
    for c in reversed([c for c in ckpts if c <= version]):
        try:
            st = TableState.from_checkpoint(
                store.read(log_path(log_dir, c, _CKPT_SUFFIX)))
            break
        except Exception:
            continue  # corrupt/unreadable checkpoint: try an older one
    for v in versions:
        if st.version < v <= version:
            st.apply(v, store.read(log_path(log_dir, v)))
    return st


def _idempotent(op):
    """Run a txn-stamped write op on the latest state. The one "already
    applied" check: a replayed ``txn`` skips the op (no files written, no
    commit) and returns the current version. ``_commit`` repeats the check
    on the state it rolls forward, so a replayed writer racing itself
    still applies exactly once."""
    @functools.wraps(op)
    def run(self, *args, txn: dict | None = None, **kwargs):
        st = self._state()
        if st.applied(txn):
            return st.version
        return op(self, st, *args, txn=txn, **kwargs)
    return run


class TxTable:
    """A parquet table with an ACID commit log (create/append/merge/overwrite,
    snapshot isolation, time travel, vacuum, compaction)."""

    def __init__(self, spark: SparkSession, path: str,
                 store: "LocalLogStore | HadoopLogStore | "
                        "ObjectStoreLogStore | None" = None,
                 batch_partitions: int | None = None,
                 checkpoint_interval: int = 20):
        """``batch_partitions`` pins the range-partition count per written
        batch; default None lets AQE size files by data volume (the right
        call at scale — tests pin it to exercise multi-file pruning).
        ``checkpoint_interval``: checkpoint the replayed ``TableState``
        every N commits (0 disables); reads replay only the commits past
        the newest checkpoint, so replay cost is bounded for long-lived
        tables."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.store = store or LocalLogStore()
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.batch_partitions = batch_partitions
        self.checkpoint_interval = checkpoint_interval

    # ---------------------------------------------------------------- log --

    def latest_version(self) -> int:
        """0 = table does not exist yet (version numbers start at 1)."""
        versions = self.store.list_versions(self.log_dir)
        return versions[-1] if versions else 0

    def history(self) -> list[dict]:
        return [self.store.read(log_path(self.log_dir, v))
                for v in self.store.list_versions(self.log_dir)]

    # ----------------------------------------------------------- snapshot --

    def _state(self, version: int | None = None) -> TableState:
        return replay(self.store, self.log_dir, version)

    def _write_checkpoint(self, st: TableState) -> None:
        """Serialise ``st`` as the checkpoint of its version — derived data,
        written put-if-absent (racing writers produce byte-identical
        content), and best-effort: any failure leaves reads on the plain
        replay path."""
        try:
            body = json.dumps(st.to_checkpoint(), sort_keys=True).encode()
            self.store.put_if_absent(
                log_path(self.log_dir, st.version, _CKPT_SUFFIX), body)
        except Exception:
            pass

    def snapshot(self, version: int | None = None,
                 prune: dict[str, tuple] | None = None,
                 prune_eq: dict[str, object] | None = None) -> DataFrame:
        """Read the table as of ``version`` (default: latest). Reads ONLY the
        live file set — uncommitted / removed files are invisible.

        ``prune={col: (lo, hi)}`` is log-level data skipping: files whose
        recorded [min,max] for ``col`` cannot intersect [lo,hi] are dropped
        from the scan BEFORE Spark ever lists them — the manifest-level
        pruning a lakehouse format adds on top of parquet's own row-group
        stats, and the reason the commit log pays for itself at 100 TB (a
        date-bounded query on a range-clustered table opens only the
        matching files, no directory listing of the rest). Pruning is a
        pure optimization: callers still apply the real filter (files KEPT
        may contain out-of-range rows). A file with no recorded stats for
        ``col`` is conservatively kept."""
        st = self._state(version)
        schema, adds = st.struct(), st.adds()
        for col, (lo, hi) in (prune or {}).items():
            lo, hi = _widen(lo, -1), _widen(hi, +1)
            adds = [a for a in adds
                    if _overlaps(a.get("stats", {}).get(col), lo, hi)]
        if prune_eq:
            # Bloom point-lookup skipping: a file whose filter lacks any of
            # the probe's bits PROVABLY does not contain the value (no
            # false negatives); kept files may still miss it (bounded FPR),
            # so callers apply the real equality filter — same conservative
            # contract as the range prune. Files without a recorded filter
            # for the column are kept. Probes of the column's own type hash
            # on the driver; the rest, across all columns and filter specs,
            # resolve through ONE local Spark job.
            dtypes = {f.name: f.dataType for f in schema.fields}
            probes: list[tuple] = []  # (col, value, dtype, bits, k)
            for col, value in prune_eq.items():
                for a in adds:  # spec may differ across rewrites
                    e = a.get("bloom", {}).get(col)
                    if e is not None:
                        key = (col, value, dtypes.get(col),
                               e["bits"], e["k"])
                        if key not in probes:
                            probes.append(key)
            pos = dict(zip(probes, self._bloom_positions_batch(probes)))
            for col, value in prune_eq.items():
                adds = [a for a in adds
                        if (e := a.get("bloom", {}).get(col)) is None
                        or _bloom_admits(e, pos[(col, value, dtypes.get(col),
                                                 e["bits"], e["k"])])]
        return self._read_adds(adds, schema)

    def _read_adds(self, adds: list[dict], schema: StructType,
                   with_rowid: bool = False) -> DataFrame:
        """Scan these add-actions, applying deletion vectors (merge-on-read).

        Files WITHOUT a deletion vector take the plain explicit-schema read
        — the zero-DV fast path is byte-for-byte the pre-DV plan. Files
        WITH one anti-join against their referenced DV sidecars on the
        stable row identity (file basename, parquet ``_metadata.row_index``)
        — the published deletion-vector read path (Delta protocol DVs),
        expressed as a Spark join instead of a reader-level bitmap: the DV
        side is exactly the deleted rows, so the anti-join is broadcast-
        sized whenever deletes are a small fraction of the table.

        Explicit schema everywhere: files written before a column was added
        read as NULL for it, and the column order is stable across batches.
        """
        cols = [f.name for f in schema.fields]
        rowid = [F.element_at(F.split(F.col("_metadata.file_path"), "/"),
                              -1).alias("__file"),
                 F.col("_metadata.row_index").alias("__pos")]
        keep = cols + (["__file", "__pos"] if with_rowid else [])
        if adds and not with_rowid \
                and not any(a.get("dv", {}).get("refs") for a in adds):
            # zero-DV fast path: literally the pre-DV plan (no projection
            # at all), so plan-keyed consumers (semanticHash caching,
            # explain-audit patterns) see unchanged lineage
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, a["path"]) for a in adds])
        if not adds:
            empty = self.spark.createDataFrame([], schema)
            if with_rowid:
                empty = empty.withColumn("__file", F.lit(None).cast("string")) \
                             .withColumn("__pos", F.lit(None).cast("bigint"))
            return empty
        dv_adds = [a for a in adds if a.get("dv", {}).get("refs")]
        plain = [a for a in adds if not a.get("dv", {}).get("refs")]
        parts: list[DataFrame] = []
        if plain:
            parts.append(self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, a["path"]) for a in plain])
                .select(*cols, *rowid).select(*keep))
        if dv_adds:
            refs = sorted({r for a in dv_adds for r in a["dv"]["refs"]})
            dv = (self.spark.read.parquet(
                      *[os.path.join(self.path, r) for r in refs])
                  .select("__file", "__pos").dropDuplicates())
            scan = (self.spark.read.schema(schema).parquet(
                        *[os.path.join(self.path, a["path"])
                          for a in dv_adds])
                    .select(*cols, *rowid))
            parts.append(scan.join(dv, ["__file", "__pos"], "left_anti")
                         .select(*keep))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def live_files(self, version: int | None = None) -> list[dict]:
        return self._state(version).adds()

    # -------------------------------------------------------------- write --

    def _write_batch(self, df: DataFrame, stats_cols: list[str],
                     num: int | None = None,
                     layout_by: str | None = None,
                     bloom: dict | None = None) -> list[dict]:
        """Write ``df`` as immutable files under a fresh UUID dir and return
        add-actions with per-file row counts + min/max stats, plus per-file
        Bloom sidecars when ``bloom`` declares columns.

        ``repartitionByRange`` on the stats columns clusters values so each
        file's [min,max] is tight — this is what makes merge-time file
        pruning effective (hash partitioning would smear every value range
        across every file and pruning would degenerate to full rewrite).

        On the local path no Spark job follows the write: stats come from
        the files' footers (``_footer_adds``, through ``lake.footer_stats``)
        and sidecars from a ``lake.read`` of the Bloom columns hashed by the
        XXH64 kernel (``_driver_blooms``). Each falls back to its Spark-job
        form where the driver cannot reproduce Spark's answer exactly; both
        forms give byte-identical add-actions.
        """
        batch = f"{_DATA_DIR}/{uuid.uuid4().hex}"
        batch_dir = os.path.join(self.path, batch)
        out = df
        num = num or self.batch_partitions
        if layout_by is not None:
            # explicit layout column (e.g. a z-order key): cluster + sort by
            # it, then project it away — it orders the files, not the schema
            key = F.col(layout_by)
            out = (out.repartitionByRange(num, key) if num
                   else out.repartitionByRange(key))
            out = out.sortWithinPartitions(layout_by).drop(layout_by)
        elif stats_cols:
            cols = [F.col(c) for c in stats_cols]
            out = (out.repartitionByRange(num, *cols) if num
                   else out.repartitionByRange(*cols))
        elif num:
            out = out.coalesce(num)
        out.write.mode("error").parquet(batch_dir)
        adds = self._footer_adds(batch_dir, batch, df.schema, stats_cols)
        if adds is None:
            # Spark-job fallback (non-POSIX table paths, stats columns
            # whose parquet footer min/max is not provably exact):
            # explicit schema — a 0-row batch writes no part files and
            # inference would fail; with the schema given the scan is
            # just empty
            written = self.spark.read.schema(df.schema).parquet(batch_dir)
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for c in stats_cols:
                aggs.append(F.min(c).alias(f"__min_{c}"))
                aggs.append(F.max(c).alias(f"__max_{c}"))
            per_file = (written.groupBy(F.input_file_name().alias("__file"))
                        .agg(*aggs).collect())  # bounded: one row per file
            adds = []
            for row in per_file:
                rel = os.path.relpath(lake.uri_path(row["__file"]),
                                      lake.plain_path(self.path))
                stats = {c: {"min": _widen(row[f"__min_{c}"], -1),
                             "max": _widen(row[f"__max_{c}"], +1)}
                         for c in stats_cols}
                adds.append({"path": rel, "rows": row["__rows"],
                             "stats": stats})
        self._add_blooms(adds, df.schema, bloom, batch_dir)
        return adds

    def _add_blooms(self, adds: list[dict], schema: StructType,
                    bloom: dict | None, batch_dir: str,
                    tables: dict | None = None) -> None:
        """Attach the declared Bloom sidecars to the add-actions of the
        files under ``batch_dir``: built on the driver (``_driver_blooms``)
        where it can, else by the Spark-job build."""
        if not (bloom and bloom.get("cols")):
            return
        blooms = self._driver_blooms(adds, schema, bloom, tables)
        if blooms is None:
            written = self.spark.read.schema(schema).parquet(batch_dir)
            blooms = self._build_blooms(written, bloom)
        for a in adds:
            if a["path"] in blooms:
                a["bloom"] = blooms[a["path"]]

    def _footer_adds(self, batch_dir: str, batch_rel: str,
                     schema: StructType, stats_cols: list[str]
                     ) -> list[dict] | None:
        """Per-file add-actions (rows + min/max stats) from the FOOTERS of
        the just-written batch (``lake.footer_stats``): O(files) metadata
        I/O, no re-scan by an ``input_file_name()`` aggregation. None — the
        caller takes that Spark-job path, whose add-actions are identical —
        when the table is not local, a stats column is not integral or date
        (parquet stores only those min/max exactly), or a footer is
        unreadable or lacks stats."""
        plain = lake.local_path(batch_dir)
        if plain is None:
            return None
        fields = {f.name: f.dataType for f in schema.fields}
        # integral and date columns: parquet stores their min/max exactly
        if any(lake.text_kind(fields.get(c)) not in ("int", "date")
               for c in stats_cols):
            return None
        adds: list[dict] = []
        try:
            for name in lake.data_files(plain):
                facts = lake.footer_stats(os.path.join(plain, name),
                                          stats_cols)
                if facts is None:
                    return None  # can't prove exactness — fall back
                rows, stats = facts
                if rows:  # the Spark-job path never lists rowless files
                    adds.append({"path": f"{batch_rel}/{name}", "rows": rows,
                                 "stats": {c: {"min": _widen(lo, -1),
                                               "max": _widen(hi, +1)}
                                           for c, (lo, hi) in stats.items()}})
        except Exception:  # ArrowInvalid too, on a corrupt footer: every
            return None  # failure takes the fallback, never fails the commit
        return adds

    def _driver_blooms(self, adds: list[dict], schema: StructType,
                       bloom: dict, tables: dict | None = None
                       ) -> dict | None:
        """``_build_blooms`` without a Spark job: each added file's Bloom
        columns — from ``tables`` (``{rel path: pyarrow Table}`` the caller
        holds), else a ``lake.read`` — lose duplicates and nulls to
        ``pc.unique``, and the XXH64 kernel hashes ``"__bf{i}:" + text`` as
        Spark's ``xxhash64`` does — the same sidecars, byte for byte.

        Returns None — caller keeps the Spark-job build — when the table is
        not on a locally-readable filesystem (the ``_footer_adds``
        condition), when a Bloom column's type is not string, integral or
        date (``lake.text_kind``), when a date lies outside
        ``_DRIVER_BLOOM_DATES``, when the batch needs more than
        ``_DRIVER_BLOOM_MAX_HASHES`` hashes, or when a file cannot be
        read."""
        import base64

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        fields = {f.name: f.dataType for f in schema.fields}
        cols = bloom["cols"]
        root = lake.local_path(self.path)
        if root is None or any(lake.text_kind(fields.get(c)) is None
                               for c in cols):
            return None
        read_as = lake.arrow_schema(schema[c] for c in cols)
        bits, k = int(bloom["bits"]), int(bloom["k"])
        # day numbers: a date after 9999-12-31, which Spark can store, has
        # no Python date
        lo, hi = ((d - date(1970, 1, 1)).days for d in _DRIVER_BLOOM_DATES)
        budget = _DRIVER_BLOOM_MAX_HASHES // k
        distinct: list[tuple] = []
        for a in adds:
            table = (tables or {}).get(a["path"])
            if table is None:
                try:
                    table = lake.read([os.path.join(root, a["path"])],
                                      read_as)
                except lake.Unreadable:
                    return None
            for c in cols:
                vals = pc.unique(table.column(c)).drop_null()
                if not len(vals):
                    continue  # the Spark build lists no all-null file
                budget -= len(vals)
                if budget < 0:
                    return None
                if pa.types.is_date32(vals.type):
                    span = pc.min_max(vals.cast(pa.int32()))
                    if not (lo <= span["min"].as_py()
                            and span["max"].as_py() <= hi):
                        return None
                distinct.append((a["path"], c, vals))
        out: dict[str, dict] = {}
        for rel, c, vals in distinct:
            pos = _kernel_positions(pc.cast(vals, pa.string()), bits,
                                    k).ravel()
            dense = np.zeros((bits + 63) // 64, np.uint64)
            np.bitwise_or.at(dense, pos >> 6,
                             np.left_shift(np.uint64(1),
                                           (pos & 63).astype(np.uint64)))
            blob = base64.b64encode(dense.astype("<u8").tobytes())
            out.setdefault(rel, {})[c] = {
                "bits": bits, "k": k, "words": blob.decode("ascii")}
        return out

    def _build_blooms(self, written: DataFrame, bloom: dict) -> dict:
        """Per-file Bloom sidecars for the declared columns, by Spark jobs:
        one sparse explode → bit_or aggregation per column (rows x k hash
        positions through ONE shuffle — linear in the batch for any filter
        size, where a dense per-word aggregate would need bits/64 aggregate
        expressions). Words are base64-packed little-endian int64.

        The fallback of ``_driver_blooms``, which builds the same sidecars
        on the driver for local tables of string, integral and date Bloom
        columns up to ``_DRIVER_BLOOM_MAX_HASHES`` hashes."""
        import base64
        import struct

        bits, k = int(bloom["bits"]), int(bloom["k"])
        nwords = (bits + 63) // 64
        out: dict[str, dict] = {}
        for c in bloom["cols"]:
            poss = _bloom_pos_exprs(F.col(c), bits, k)
            named = (written.where(F.col(c).isNotNull())
                     .select(F.input_file_name().alias("__file"),
                             *[p.alias(f"__p{i}")
                               for i, p in enumerate(poss)]))
            # shiftleft's shift amount must be a literal int in the Python
            # API — the column-shift form goes through F.expr
            hits = named.select("__file", F.explode(F.array(*[
                F.struct(
                    F.shiftright(F.col(f"__p{i}"), 6).cast("int").alias("w"),
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                           f"CAST(__p{i} % 64 AS INT))").alias("b"))
                for i in range(k)])).alias("x"))
            words = (hits.groupBy("__file", F.col("x.w").alias("w"))
                     .agg(F.bit_or("x.b").alias("bits"))
                     .groupBy("__file")
                     .agg(F.collect_list(F.struct("w", "bits")).alias("wb"))
                     .collect())  # bounded: files x min(rows*k, bits/64)
            for row in words:
                rel = os.path.relpath(lake.uri_path(row["__file"]),
                                      lake.plain_path(self.path))
                dense = [0] * nwords
                for e in row["wb"]:
                    dense[e["w"]] = e["bits"]
                blob = base64.b64encode(
                    struct.pack(f"<{nwords}q", *dense)).decode("ascii")
                out.setdefault(rel, {})[c] = {
                    "bits": bits, "k": k, "words": blob}
        return out

    def _bloom_positions_batch(self, probes: list[tuple]) -> list[list[int]]:
        """Positions for many ``(col, value, dtype, bits, k)`` probes.

        A probe whose value already has the column's type — a ``str``
        against a string column, an in-range ``int`` against an integral
        one, a ``date`` against a date one, or a ``str``/``int`` with
        ``dtype=None`` — is hashed on the driver by the XXH64 kernel, with
        no Spark job (``_probe_text``). Every other probe resolves through
        ONE local Spark job for the whole batch (an N-point-lookup pays one
        job launch, not N).

        ``dtype`` is the probed column's type from the table schema: on the
        Spark path the Python literal is cast to it BEFORE the string cast
        the hash uses, so a cross-typed probe (777 against a DOUBLE column)
        stringifies exactly like the stored values ("777.0") and hashes to
        the bits the build set — without the cast, a type-mismatched probe
        would hash to different positions and reject files that DO contain
        the value (a false negative, violating the pruning contract). A
        probe the type cannot represent try_casts to NULL (an ANSI cast
        would throw), which cannot match any built value — any prune
        outcome is then safe, since the value cannot exist in the column
        either."""
        import pyarrow as pa

        out: list[list[int] | None] = []
        exprs = []
        for j, (_, value, dtype, bits, k) in enumerate(probes):
            text = _probe_text(value, dtype)
            if text is not None:
                pos = _kernel_positions(pa.array([text], pa.string()), bits, k)
                out.append([int(p) for p in pos[:, 0]])
                continue
            out.append(None)
            lit = (F.lit(value).try_cast(dtype) if dtype is not None
                   else F.lit(value))
            exprs.extend(e.alias(f"p{j}_{i}") for i, e
                         in enumerate(_bloom_pos_exprs(lit, bits, k)))
        if exprs:
            row = self.spark.range(1).select(*exprs).collect()[0]
            out = [pos if pos is not None
                   else [int(row[f"p{j}_{i}"]) for i in range(k)]
                   for j, (pos, (_, _, _, _, k)) in enumerate(zip(out, probes))]
        return out

    def last_txn(self, app_id: str) -> int | None:
        """Highest committed writer batch id for ``app_id`` (None if never,
        or if the table does not exist). The idempotence handle for
        exactly-once streaming sinks: a replayed micro-batch with
        batch_id <= last_txn(app) is a no-op. Checkpoint-accelerated:
        O(checkpoint_interval) commit reads, not O(table age)."""
        if not self.latest_version():
            return None
        return self._state().txns.get(app_id)

    def _commit(self, op: str, st: TableState, adds: list[dict],
                removes: list[str], schema_json: str | None = None,
                extra: dict | None = None, blind_append: bool = False,
                txn: dict | None = None) -> int:
        """Optimistic commit on top of ``st``, the state the op read (its
        schema unless ``schema_json`` is given). Returns the committed
        version.

        ``blind_append`` retries through lost races (appends commute with
        appends/merges/compactions); table-reading ops raise ``ConflictError``
        on ANY intervening commit — strict serializability, no lost updates.

        ``txn`` = ``{"app_id": str, "batch_id": int}`` stamps the commit with
        a writer version; a commit whose txn is already at-or-below the
        app's committed mark is skipped (returns the current version) — the
        public idempotent-writer design (Delta's ``txn`` action). The check
        re-runs inside the retry loop so a replayed writer racing itself
        still applies exactly once; a skipped commit's staged files become
        vacuumable orphans.

        Each attempt lists the log once and folds only the commits ``st``
        has not seen into it, so on success ``st`` is the committed
        version's state (the checkpoint, when one is due, serialises it).
        """
        self.store.ensure_dir(self.log_dir)
        read_version = st.version
        schema_json = schema_json or st.schema
        intervening: list[dict] = []
        while True:
            for v in range(st.version + 1, self.latest_version() + 1):
                commit = self.store.read(log_path(self.log_dir, v))
                st.apply(v, commit)
                intervening.append(commit)
            if st.applied(txn):
                return st.version  # replayed batch: already committed
            if intervening:
                if not blind_append:
                    raise ConflictError(
                        f"{op} read version {read_version} of {self.path} but "
                        f"{[c['op'] for c in intervening]} committed "
                        f"version(s) {read_version + 1}..{st.version}; re-run "
                        f"on the new snapshot")
                if any(c["op"] in ("overwrite", "create") for c in intervening):
                    raise ConflictError(
                        f"append lost to a table-replacing commit at {self.path}")
                # carry the NEWEST schema forward: re-committing this append's
                # stale schema after a concurrent widening would regress the
                # table schema for every later reader (files are unaffected —
                # the explicit-schema scan fills missing columns with NULL)
                schema_json = st.schema
            attempt_version = st.version + 1
            payload = {
                "version": attempt_version, "op": op,
                "ts": time.time_ns() // 1_000_000,
                # per-attempt writer nonce: commits with data files are
                # already writer-unique (UUID file names), but empty
                # commits (bootstrap create, empty append) from two
                # writers in the same millisecond would otherwise be
                # byte-identical — HadoopLogStore's rename-race
                # disambiguation compares content, and ObjectStoreLogStore
                # re-reads after a lost conditional PUT; both would tell
                # BOTH writers they won. The nonce makes payload equality
                # imply same-author, closing that (previously implicit)
                # invariant.
                "writer": uuid.uuid4().hex,
                "read_version": read_version, "schema": schema_json,
                "add": adds, "remove": removes,
            }
            if extra:
                payload.update(extra)
            if txn is not None:
                payload["txn"] = txn
            body = json.dumps(payload, sort_keys=True).encode()
            if self.store.put_if_absent(
                    log_path(self.log_dir, attempt_version), body):
                st.apply(attempt_version, payload)
                self.spark.catalog.refreshByPath(self.path)
                if (self.checkpoint_interval
                        and attempt_version % self.checkpoint_interval == 0):
                    self._write_checkpoint(st)
                return attempt_version
            # lost the put-if-absent race for this exact version: the next
            # attempt's listing sees the rival commit and folds it, so the
            # overwrite/create conflict check and the schema carry-forward
            # run before the next slot is picked (skipping them would let
            # the append land after a table replacement, or re-commit a
            # stale schema over a concurrent widening)

    # ---------------------------------------------------------------- ops --

    def create(self, df: DataFrame, stats_cols: list[str] | None = None,
               bloom_cols: list[str] | None = None,
               bloom_bits: int = 65536, bloom_k: int = 5,
               constraints: dict | None = None,
               change_data_feed: bool = False) -> int:
        """Create the table (version 1). Fails if it already exists.

        ``bloom_cols`` declares columns to index with a per-file Bloom
        filter (``bloom_bits`` bits, ``bloom_k`` hashes) — the equality-
        probe complement to min/max range stats: after range clustering or
        z-ordering on OTHER columns, every file's [min,max] for a
        high-cardinality key overlaps every probe, but a point lookup
        (``snapshot(prune_eq=...)``) still opens only the files whose
        filter admits the value. Size ``bloom_bits`` at >= 8-10 bits per
        distinct value per file (the classic ~5% FPR point); a production
        port at 1M-row files would move the sidecars from the commit JSON
        to index files — the add-action dict is the seam. Positions are
        ``pmod(xxhash64("__bf{i}:" + cast(value as string)), bits)`` for
        i < k. For string, integral and date columns of a local table the
        driver computes them with the XXH64 kernel
        (``functions/xxh64.py``) — sidecars after each write
        (``_driver_blooms``) and probes of the column's own type — so
        neither costs a Spark job; other cases run Spark's own
        ``xxhash64``, with identical results.

        ``change_data_feed=True`` enables the CDF write-side (the
        published opt-in table property): copy-on-write merges then write
        change-data files (insert / update_pre / update_post rows) at
        commit time, so the streaming CDC source covers them instead of
        refusing. Toggleable later via ``set_change_data_feed``."""
        if self.latest_version():
            raise FileExistsError(f"TxTable already exists at {self.path}")
        stats_cols = stats_cols or []
        constraints = constraints or {}
        self._enforce(df, constraints)
        bloom = ({"cols": bloom_cols, "bits": int(bloom_bits),
                  "k": int(bloom_k)} if bloom_cols else None)
        adds = self._write_batch(df, stats_cols, bloom=bloom)
        return self._commit("create", TableState(), adds, [],
                            schema_json=df.schema.json(),
                            extra={"stats_cols": stats_cols,
                                   "bloom": bloom,
                                   "constraints": constraints,
                                   "cdf": bool(change_data_feed)})

    def set_change_data_feed(self, enabled: bool) -> int:
        """ALTER TABLE SET the change-data-feed property. Takes effect for
        commits AFTER this version — CoW merges before it wrote no
        change-data files, so the streaming CDC source still refuses them
        (``TxTable.changes()`` is the batch fallback there)."""
        return self._commit("set_cdf", self._state(), [], [],
                            extra={"cdf": bool(enabled)})

    def _enforce(self, df: DataFrame, constraints: dict) -> None:
        """Reject the write if any row fails a CHECK constraint.

        ANSI semantics: a row violates iff the expression evaluates to
        FALSE — UNKNOWN (NULL) passes, as SQL CHECK does. One scan finds
        any violation; per-constraint counts are computed only on the
        failure path."""
        if not constraints:
            return
        oks = {n: F.coalesce(F.expr(sql), F.lit(True))
               for n, sql in constraints.items()}
        combined = None
        for ok in oks.values():
            combined = ok if combined is None else (combined & ok)
        bad = df.where(~combined)
        if bad.isEmpty():
            return
        counts = bad.agg(*[
            F.sum(F.when(~ok, 1).otherwise(0)).alias(n)
            for n, ok in oks.items()]).collect()[0]
        detail = {n: int(counts[n] or 0) for n in oks if counts[n]}
        raise ConstraintViolation(
            f"write to {self.path} violates CHECK constraint(s) "
            f"{detail} (rows failing each named expression)")

    def add_constraint(self, name: str, check_sql: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (check_sql).

        Validates the CURRENT snapshot first (existing data must satisfy a
        new constraint, the lakehouse contract); every subsequent
        append/merge/update/overwrite validates its rows before commit and
        raises ``ConstraintViolation`` instead of writing. Constraints ride
        the commit meta like stats_cols/bloom (checkpoint-carried)."""
        st = self._state()
        cur = dict(st.constraints)
        if name in cur:
            raise ValueError(f"constraint {name!r} already exists "
                             f"({cur[name]!r}); drop it first")
        self._enforce(self._read_adds(st.adds(), st.struct()),
                      {name: check_sql})
        cur[name] = check_sql
        return self._commit("set_constraint", st, [], [],
                            extra={"constraints": cur})

    def drop_constraint(self, name: str) -> int:
        st = self._state()
        cur = dict(st.constraints)
        if name not in cur:
            raise ValueError(f"no constraint {name!r} on {self.path}")
        cur.pop(name)
        return self._commit("drop_constraint", st, [], [],
                            extra={"constraints": cur})

    @_idempotent
    def append(self, st: TableState, df: DataFrame, txn: dict | None = None,
               merge_schema: bool = False) -> int:
        """Blind append — never conflicts (retries through lost races).
        ``txn={"app_id", "batch_id"}`` makes replays idempotent (exactly-once
        for a restarted streaming writer re-emitting a committed batch).

        Columns of ``df`` the table lacks are an ERROR unless
        ``merge_schema=True``, which widens the table schema (new fields
        appended; files written before the widening read as NULL for them —
        the explicit-schema scan makes evolution free, no rewrite). Silently
        dropping unknown columns is the one behavior a sink must never have.
        """
        schema = st.struct()
        known = {f.name for f in schema.fields}
        new_cols = [c for c in df.columns if c not in known]
        if new_cols and not merge_schema:
            raise ValueError(
                f"append has columns the table lacks: {new_cols} — pass "
                f"merge_schema=True to widen the schema, or drop them")
        if new_cols:
            from pyspark.sql.types import StructField
            # a schema-widening column MUST be recorded nullable whatever
            # the incoming frame says (a lit() column is non-nullable):
            # every file written before the widening reads as NULL for it,
            # so a non-nullable record would lie to downstream consumers
            # (observed: the streaming source's arrow null-fill NPE'd in
            # catalyst's UnsafeWriter on the non-nullable claim)
            schema = StructType(
                list(schema.fields)
                + [StructField(c, df.schema[c].dataType, nullable=True,
                               metadata=df.schema[c].metadata)
                   for c in new_cols])
        df = _conform(df, schema)
        self._enforce(df, st.constraints)
        adds = self._write_batch(df, st.stats_cols, bloom=st.bloom)
        return self._commit("append", st, adds, [],
                            schema_json=schema.json() if new_cols else None,
                            blind_append=not new_cols, txn=txn)

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents atomically (readers see old or new).
        The overwrite's schema becomes the table schema; stats columns the
        new frame lacks are dropped from the recorded layout."""
        st = self._state()
        stats_cols = [c for c in st.stats_cols if c in df.columns]
        bloom = st.bloom
        if bloom:
            cols = [c for c in bloom["cols"] if c in df.columns]
            bloom = dict(bloom, cols=cols) if cols else None
        self._enforce(df, st.constraints)
        adds = self._write_batch(df, stats_cols, bloom=bloom)
        return self._commit("overwrite", st, adds, list(st.live),
                            schema_json=df.schema.json(),
                            extra={"stats_cols": stats_cols, "bloom": bloom,
                                   "constraints": st.constraints})

    @_idempotent
    def merge_upsert(self, st: TableState, updates: DataFrame,
                     keys: list[str], order_col: str = "batch_id",
                     txn: dict | None = None) -> int:
        """MERGE: last-write-wins per PK (``upsert_frames`` semantics) as a
        copy-on-write commit — the ACID form of ``write_upsert``.

        File pruning: only live files whose [min,max] stats range overlaps an
        update key value are read+rewritten; files that provably contain no
        updated key stay live untouched. Requires the FIRST stats column to
        be one of ``keys``; otherwise the merge rewrites the whole table
        (still correct, documented degradation). An empty ``updates``
        writes nothing and burns no commit (returns the current version).

        Where it runs: a batch the driver may merge (``_driver_rows``: one
        capped collect of the conformed updates, in place of the bounds
        job; not for tables with CHECK constraints, the change-data feed
        or stats columns other than string, integral and date) prunes by
        its exact prune values, and when its rows plus the touched files'
        rows fit the cap, ``_driver_merge`` writes the merged file. Every
        other merge runs the Spark plan (``upsert_frames``, pruned by the
        batch's [min, max] when it was not collected).
        """
        stats_cols = st.stats_cols
        prune_col = stats_cols[0] if stats_cols and stats_cols[0] in keys else None
        schema = st.struct()
        conformed = _conform(updates, schema, keep=order_col)
        # the driver's stats must be exact: string, integral or date columns
        driver = not (st.cdf or st.constraints) and all(
            lake.text_kind(f.dataType) for f in schema.fields
            if f.name in stats_cols)
        rows = _driver_rows(self.spark, self.path, conformed, keys,
                            order_col) if driver else None
        if rows is None:
            aggs = [F.count(F.lit(1)).alias("n")]
            if prune_col is not None:
                aggs += [F.min(prune_col).alias("lo"),
                         F.max(prune_col).alias("hi")]
            bounds = updates.select(*aggs).collect()[0]  # bounded: one row
            if not bounds["n"]:
                return st.version
            # bounds normalized like the stored stats; Decimal bounds widen
            # OUTWARD so float rounding can only disable pruning, never
            # prune a file that holds an updated key
            values = None if prune_col is None else \
                (_widen(bounds["lo"], -1), _widen(bounds["hi"], +1))
        elif not rows.num_rows:
            return st.version
        else:
            values = None if prune_col is None else \
                rows.column(prune_col).to_pylist()
        touched, kept = _prune(st.adds(), prune_col, values, rows is None)
        extra: dict = {"pruned_files": len(kept)}
        adds = None if rows is None else \
            self._driver_merge(st, touched, rows, keys, order_col)
        if adds is None:
            # DV-aware read: rows deleted merge-on-read must not resurrect
            # through the CoW rewrite of their file
            base = self._read_adds(touched, schema)
            merged = upsert_frames(base, conformed, keys, order_col)
            self._enforce(merged, st.constraints)
            adds = self._write_batch(merged, stats_cols, bloom=st.bloom)
            if st.cdf:
                extra.update(self._write_merge_cdf(base, conformed, keys,
                                                   schema, order_col))
        return self._commit("merge_upsert", st, adds,
                            [a["path"] for a in touched], extra=extra, txn=txn)

    def _driver_merge(self, st: TableState, touched: list[dict], rows,
                      keys: list[str], order_col: str) -> list[dict] | None:
        """The copy-on-write merge on the driver: ``lake.read`` of the
        touched files, ``upsert_arrow`` with the collected ``rows``, and a
        ``lake.write`` of one file. Its add-action carries the row count,
        exact min/max from the Arrow data (strings in byte order, as
        Spark's ``min``/``max``) and sidecars built from the merged table —
        what ``_write_batch`` records for the same rows. None — the caller
        runs the Spark plan — when update plus touched rows exceed
        ``_DRIVER_MERGE_MAX_ROWS``, a touched file has a deletion vector,
        or a file cannot be read."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if (any("rows" not in a or a.get("dv", {}).get("refs")
                for a in touched)
                or rows.num_rows + sum(a["rows"] for a in touched)
                > upsert_mod._DRIVER_MERGE_MAX_ROWS):
            return None
        root = lake.local_path(self.path)
        schema = pa.schema([rows.schema.field(f.name)
                            for f in st.struct().fields])
        try:
            base = lake.read([os.path.join(root, a["path"])
                              for a in touched], schema)
        except lake.Unreadable:
            return None
        merged = upsert_arrow(base, rows, keys, order_col)
        batch = f"{_DATA_DIR}/{uuid.uuid4().hex}"
        rel = f"{batch}/" + os.path.basename(lake.write(
            merged, os.path.join(root, batch),
            lake.parquet_options(self.spark)))
        stats = {}
        for c in st.stats_cols:
            lo, hi = pc.min_max(merged.column(c)).values()
            stats[c] = {"min": _widen(lo.as_py(), -1),
                        "max": _widen(hi.as_py(), +1)}
        adds = [{"path": rel, "rows": merged.num_rows, "stats": stats}]
        self._add_blooms(adds, st.struct(), st.bloom,
                         os.path.join(self.path, batch), {rel: merged})
        return adds

    def _write_merge_cdf(self, base: DataFrame, updates: DataFrame,
                         keys: list[str], schema: StructType,
                         order_col: str = "batch_id") -> dict:
        """Change-data files for a copy-on-write merge — the published CDF
        write-side design (Delta's change-data-feed: DML commits persist
        their row-level changes so CDC readers never diff snapshots).

        Operation-level semantics, like the streaming DV-update feed: a
        key present in both the base and the updates emits an
        update_pre/update_post pair even if last-write-wins kept the base
        values (identity update); a key new to the table emits insert.
        Carried-over rows (keys the merge did not touch) are NOT change
        rows — the file-pruned ``base`` provably holds every possible
        match (kept files' stats ranges exclude all update keys), so the
        scan cost is touched-files + updates, the same shape as the merge
        itself, and the rows written are exactly the changed rows.

        Retention: CDF sidecars are unreferenced by any live set, so
        ``vacuum`` reclaims them after its TTL — a CDC consumer lagging
        past the vacuum horizon loses the feed, the same retention
        contract the batch time-travel read documents.

        Plan shape (optimization r12, guide §2.3/§2.4): the original form
        semi/anti-joined base and merged against ``dropDuplicates`` key
        sets — five joins and two extra key shuffles over touched data.
        All three change classes are decidable per PK group of the SAME
        ranked union the merge itself computes (``upsert_annotated``):
        a group with an update row classifies its base row as update_pre
        and its winner as update_post (key existed) or insert (key new).
        One shuffle on the PK, one window, one explode — the feed applies
        the merge's OWN ranking (``upsert_annotated``), so within the
        upsert contract — (keys, order_col) unique per frame — it always
        names the same winner the merge wrote. (The ranking is re-executed
        in a separate job; inputs that BREAK that contract with ties on
        (order_col, __src) have no defined winner in the merge either, and
        the two executions could then rank differently.) NULL merge keys
        follow the window's null-equality grouping — one group per
        all-null key tuple, emitting update_pre/update_post like any other
        group — whereas a join-based CDF (null never matches) would emit
        nothing for them; this matches the merge's own null semantics."""
        from pyspark.sql import Window
        cols = [f.name for f in schema.fields]
        wk = Window.partitionBy(*keys)
        ann = (upsert_annotated(base, updates, keys, order_col)
               .withColumn("__has_base", F.min("__src").over(wk) == 0)
               .withColumn("__has_upd", F.max("__src").over(wk) == 1))
        # a row can be BOTH (a base row that wins against an older update
        # replay is the group's update_pre AND its update_post), so each
        # row emits 0-2 labeled change rows via a compacted-array explode
        labels = F.array_compact(F.array(
            F.when((F.col("__src") == 0) & F.col("__has_upd"),
                   F.lit("update_pre")),
            F.when((F.col("__rn") == 1) & F.col("__has_upd"),
                   F.when(F.col("__has_base"), F.lit("update_post"))
                    .otherwise(F.lit("insert")))))
        cdf_dir = f"{_DATA_DIR}/cdf_{uuid.uuid4().hex}"
        (ann.select(*cols, F.explode(labels).alias("_change"))
            .write.parquet(os.path.join(self.path, cdf_dir)))
        return {"cdf_files": [cdf_dir]}

    @_idempotent
    def delete_where(self, st: TableState, condition,
                     txn: dict | None = None) -> int:
        """DELETE matching rows WITHOUT rewriting any data file
        (merge-on-read deletion vectors).

        Copy-on-write DELETE pays full write amplification: dropping 0.1%
        of a 1 GB file rewrites the gigabyte. At 100 TB that makes
        small-predicate deletes (GDPR erasure, bad-batch retraction) the
        most expensive operation on the table. Deletion vectors are the
        published lakehouse answer (the Delta protocol's DV feature): mark
        deleted rows in a sidecar keyed by stable row identity and apply
        them at read time; physical removal is deferred to ``compact``.

        Mechanics: one DV-aware scan of the live set evaluates
        ``condition`` (a Column or SQL string) and writes the matched
        (file basename, parquet ``_metadata.row_index``) pairs as a
        parquet sidecar under ``_data/`` — written distributed by Spark,
        never collected to the driver. The commit re-adds each affected
        file with the sidecar appended to its ``dv.refs`` (cumulative
        across deletes; replay's last-add-wins keeps the newest state, and
        checkpoints carry it like stats/bloom). Readers anti-join; files
        without DVs keep the untouched fast path. Table-reading op:
        concurrent commits raise ``ConflictError``. ``compact()``
        materializes the filtered rows and drops the DVs; ``vacuum``
        protects referenced sidecars and reclaims them once unreferenced.

        Returns the committed version (or the current one if nothing
        matched — an empty delete never burns a commit).
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = (self._read_adds(st.adds(), st.struct(), with_rowid=True)
                   .where(cond).select("__file", "__pos"))
        return self._commit_dv_delete(matched, st, txn)

    @_idempotent
    def delete_matching(self, st: TableState, keys_df: DataFrame,
                        keys: list[str], txn: dict | None = None) -> int:
        """DV-delete every row whose key tuple appears in ``keys_df`` — the
        retraction form (a stream of erasure requests, a bad-batch id
        list). Same merge-on-read mechanics as ``delete_where``; the match
        is a left-semi join on ``keys``, so the request set never needs to
        fit in a SQL literal or on the driver."""
        matched = (self._read_adds(st.adds(), st.struct(), with_rowid=True)
                   .join(keys_df.select(*keys).dropDuplicates(), keys,
                         "left_semi")
                   .select("__file", "__pos"))
        return self._commit_dv_delete(matched, st, txn)

    @staticmethod
    def _sized_for_write(df: DataFrame, n_input_files: int,
                         threshold: int = 16) -> DataFrame:
        """REBALANCE (AQE-sized) a DV-sidecar frame before its write when
        its scan reads enough files to produce a small-files problem.

        A selective delete's matched rows inherit the FULL scan's
        partitioning, so a 0.1% delete over a large table would write one
        near-empty sidecar file per scan task (guide §6: small files hurt
        every later snapshot read, coalesce and CDC extraction, which all
        open every sidecar). The rebalance exchange moves only the deleted
        rows and lets AQE size the output files adaptively — the published
        optimized-write design. The trigger is the LIVE FILE COUNT feeding
        the scan — known driver-side from the commit log for free (a
        ``.rdd.getNumPartitions()`` probe would force AQE stage execution)
        and scale-adaptive by construction: a 100 TB table is always far
        above ``threshold`` files, a unit-test table never, and below it
        the un-rebalanced write cannot fan out enough files to matter."""
        return df.hint("rebalance") if n_input_files > threshold else df

    @staticmethod
    def _require_unique_basenames(live: list[dict]) -> None:
        """DV row identity is keyed by file BASENAME: a collision would
        attribute one file's deleted positions to another and silently
        drop its rows. Spark's part-NNNNN-<jobuuid> names make collisions
        impossible today; this is a real check (not an assert stripped
        under -O) because the failure mode is silent corruption."""
        names = [os.path.basename(a["path"]) for a in live]
        if len(set(names)) != len(names):
            raise RuntimeError(
                "DV row identity needs unique file basenames; duplicate "
                "basenames found in the live set")

    def _dv_counts(self, sidecar: str) -> dict[str, int]:
        """Marked rows per file basename in one DV sidecar (bounded: one
        row per affected file)."""
        return {r["__file"]: int(r["n"]) for r in
                self.spark.read.parquet(os.path.join(self.path, sidecar))
                .groupBy("__file").agg(F.count(F.lit(1)).alias("n"))
                .collect()}

    def _write_dv(self, matched: DataFrame, live: list[dict]
                  ) -> tuple[str, int, list[dict]]:
        """Write the matched (file, pos) rows as one DV sidecar. Returns the
        sidecar path, the number of rows it marks, and the re-adds that
        append it to each marked file's cumulative refs — none when nothing
        matched (the orphan sidecar is vacuumable)."""
        self._require_unique_basenames(live)
        sidecar = f"{_DATA_DIR}/dv_{uuid.uuid4().hex}"
        self._sized_for_write(matched, len(live)).write.parquet(
            os.path.join(self.path, sidecar))
        counts = self._dv_counts(sidecar)
        readds = []
        for a in live:
            n = counts.get(os.path.basename(a["path"]))
            if n:
                old = a.get("dv") or {"refs": [], "rows": 0}
                readds.append({**a, "dv": {"refs": old["refs"] + [sidecar],
                                           "rows": old["rows"] + n}})
        return sidecar, sum(counts.values()), readds

    def _commit_dv_delete(self, matched: DataFrame, st: TableState,
                          txn: dict | None) -> int:
        """Write the matched (file, pos) rows as a DV sidecar and commit the
        per-file cumulative refs. Returns the committed version, or the
        current one when nothing matched (no commit burned)."""
        sidecar, n_rows, readds = self._write_dv(matched, st.adds())
        if not n_rows:
            return st.version
        return self._commit(
            "delete", st, readds, [],
            extra={"deleted_rows": n_rows, "dv_sidecars": [sidecar]},
            txn=txn)

    @_idempotent
    def update_where(self, st: TableState, condition, set_exprs: dict,
                     txn: dict | None = None) -> int:
        """UPDATE matching rows merge-on-read: one atomic commit marks the
        originals in a deletion-vector sidecar AND appends the rewritten
        rows as new files — no existing data file is rewritten.

        The copy-on-write alternative rewrites every file containing a
        matched row; at 100 TB a 0.1%-selectivity UPDATE (fix a bad field,
        re-score a cohort) pays table-scale write amplification. Here the
        write cost is exactly the matched rows (sidecar + new files), the
        published DV-update design.

        ``set_exprs`` maps column name → Column or SQL-string expression,
        evaluated against the matched rows (so ``{"price": "price * 2"}``
        works). Updated rows are derived from the SAME sidecar that marks
        the originals (a semi-join against it), so the delete set and the
        re-insert set can never disagree. Readers at the committed version
        see the update atomically; time travel to the prior version sees
        the originals. Table-reading op: concurrent commits raise
        ``ConflictError``; ``txn`` gives replayed writers exactly-once.

        Returns the committed version (current version if nothing matched).
        """
        live, schema = st.adds(), st.struct()
        names = {f.name for f in schema.fields}
        unknown = [c for c in set_exprs if c not in names]
        if unknown:
            raise ValueError(f"update_where sets columns the table lacks: "
                             f"{unknown}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = (self._read_adds(live, schema, with_rowid=True)
                   .where(cond).select("__file", "__pos"))
        sidecar, n_rows, dv_adds = self._write_dv(matched, live)
        if not n_rows:
            return st.version
        # rewritten rows come from the SAME sidecar (semi-join), so the
        # marked set and the re-inserted set cannot diverge; only the
        # files the sidecar actually references are re-scanned (the
        # matched-rows cost shape the docstring promises, not a second
        # full table scan), read with their PRE-commit DV state from
        # ``live`` — the re-adds already carry the new sidecar
        marked = {a["path"] for a in dv_adds}
        upd = (self._read_adds([a for a in live if a["path"] in marked],
                               schema, with_rowid=True)
               .join(self.spark.read.parquet(os.path.join(self.path, sidecar))
                     .select("__file", "__pos"), ["__file", "__pos"],
                     "left_semi"))
        # simultaneous assignment (SQL UPDATE semantics): every set
        # expression evaluates against the ORIGINAL row, so
        # {"a": "b", "b": "a"} swaps — sequential withColumn would feed
        # later expressions already-updated values and depend on dict
        # order
        out_cols = []
        for f in schema.fields:
            if f.name in set_exprs:
                e = set_exprs[f.name]
                e = F.expr(e) if isinstance(e, str) else e
                out_cols.append(e.cast(f.dataType).alias(f.name))
            else:
                out_cols.append(F.col(f.name))
        upd = upd.select(*out_cols)
        self._enforce(upd, st.constraints)
        new_adds = self._write_batch(upd, st.stats_cols, bloom=st.bloom)
        return self._commit(
            "update", st, new_adds + dv_adds, [],
            extra={"updated_rows": n_rows, "dv_sidecars": [sidecar]},
            txn=txn)

    def changes(self, v_from: int, v_to: int | None = None,
                keys: list[str] | None = None) -> DataFrame:
        """Row-level change feed between two committed versions (CDC).

        Returns the table columns plus ``_change`` ∈ {insert, delete,
        update_pre, update_post} (with ``keys``) or {insert, delete}
        (multiset diff without keys).

        Immutability makes this cheap: a file live in BOTH versions is
        byte-identical, so only the symmetric difference of the two live
        sets is ever read. Rows that merely moved files unchanged (CoW
        carry-over, compaction) cancel in the diff; with the PK invariant a
        key resident in a shared file provably did not change. Cost scales
        with the churned files, not the table — the property that makes a
        version-to-version incremental consumer viable at 100 TB.
        """
        v_to = v_to if v_to is not None else self.latest_version()
        if v_from > v_to:
            raise ValueError(
                f"changes() requires v_from <= v_to, got {v_from} > {v_to} "
                f"(a reversed range would silently invert the feed)")
        st_to = self._state(v_to)
        adds_to, adds_from = st_to.adds(), self._state(v_from).adds()
        schema = st_to.struct()

        # a file's CONTENT identity is (path, deletion-vector state): a
        # merge-on-read delete leaves the path live in both versions but
        # changes what a scan of it returns, so it must enter the diff on
        # both sides (its DV-filtered old read vs its DV-filtered new read
        # — the newly-deleted rows fall out as `delete` rows)
        def dvkey(a: dict) -> tuple:
            return (a["path"], tuple(a.get("dv", {}).get("refs", ())))

        from_keyed = {dvkey(a): a for a in adds_from}
        to_keyed = {dvkey(a): a for a in adds_to}
        old = self._read_adds(  # churned-away file states only
            [a for k, a in from_keyed.items() if k not in to_keyed], schema)
        new = self._read_adds(  # churned-in file states only
            [a for k, a in to_keyed.items() if k not in from_keyed], schema)
        if not keys:
            ins = new.exceptAll(old).withColumn("_change", F.lit("insert"))
            dele = old.exceptAll(new).withColumn("_change", F.lit("delete"))
            return ins.unionByName(dele)
        data_cols = [f.name for f in schema.fields if f.name not in keys]
        o = old.select(*keys, F.struct(*data_cols).alias("__o"))
        n = new.select(*keys, F.struct(*data_cols).alias("__n"))
        j = o.join(n, keys, "full_outer")
        unpack_o = [F.col(f"__o.{c}").alias(c) for c in data_cols]
        unpack_n = [F.col(f"__n.{c}").alias(c) for c in data_cols]
        cols = [*keys]
        ins = (j.where(F.col("__o").isNull() & F.col("__n").isNotNull())
               .select(*cols, *unpack_n, F.lit("insert").alias("_change")))
        dele = (j.where(F.col("__n").isNull() & F.col("__o").isNotNull())
                .select(*cols, *unpack_o, F.lit("delete").alias("_change")))
        upd = j.where(F.col("__o").isNotNull() & F.col("__n").isNotNull()
                      & ~F.col("__o").eqNullSafe(F.col("__n")))
        pre = upd.select(*cols, *unpack_o, F.lit("update_pre").alias("_change"))
        post = upd.select(*cols, *unpack_n, F.lit("update_post").alias("_change"))
        return ins.unionByName(dele).unionByName(pre).unionByName(post)

    def table_changes(self, v_from: int, v_to: int | None = None,
                      skip_change_commits: bool = False) -> DataFrame:
        """Per-commit OPERATION-level change feed for versions
        ``v_from+1 .. v_to`` (default latest) — the batch twin of the
        streaming CDC source, published-CDF semantics: rows carry
        ``_change`` and ``_commit_version``; an UPDATE emits pre/post for
        every matched row (identity updates included); CoW merges are
        served from their commit-time change-data files (CDF tables) and
        otherwise raise. ``changes()`` remains the range VALUE-diff
        (collapses intermediate states, drops identity updates) — the two
        answer different questions and are both exact."""
        from ..sources.txlog_stream import read_txlog_changes
        return read_txlog_changes(self.spark, self.path, v_from, v_to,
                                  skip_change_commits=skip_change_commits)

    def coalesce_dv(self, min_refs: int = 2) -> int:
        """Maintenance: rewrite all accumulated DV sidecar refs into ONE
        shared sidecar (r10 verdict item 5 — sidecar coalescing).

        Every ``delete_where``/``delete_matching``/``update_where`` appends
        one sidecar ref per touched file; a table taking thousands of small
        retractions between compactions accumulates thousands of tiny
        sidecar files — the reader stays a single union scan + one
        anti-join, but listing cost and small-file reads grow per commit.
        This op unions the distinct (file, pos) rows of every referenced
        sidecar into one new sidecar and re-points every DV-carrying live
        file at it, so the steady-state sidecar count is 1 regardless of
        retraction history. Logical content is unchanged — the read path
        unions refs and anti-joins on row identity, so N sidecars and
        their union are equivalent by construction — which also makes the
        op CDC-transparent: ``changes()`` keys file identity on
        (path, dv refs), the re-pointed files enter the diff on both sides,
        and their identical DV-filtered reads cancel (same contract as
        compaction). The old sidecars become unreferenced and are
        reclaimed by ``vacuum`` after its TTL (protecting time travel).

        No-op (no commit burned) unless some live file carries
        ``min_refs`` or more refs. Table-reading op: concurrent commits
        raise ``ConflictError``. Returns the committed version.
        """
        st = self._state()
        dv_files = [a for a in st.adds() if a.get("dv", {}).get("refs")]
        if not dv_files or max(len(a["dv"]["refs"])
                               for a in dv_files) < min_refs:
            return st.version
        self._require_unique_basenames(st.adds())
        refs = sorted({r for a in dv_files for r in a["dv"]["refs"]})
        # semi-join against the live DV'd basenames so rows for files that
        # have since been compacted/overwritten away don't ride along
        # forever in the coalesced sidecar
        names = self.spark.createDataFrame(
            [(os.path.basename(a["path"]),) for a in dv_files], "__file string")
        sidecar = f"{_DATA_DIR}/dv_{uuid.uuid4().hex}"
        # rebalanced write: the dedup shuffle leaves shuffle.partitions
        # near-empty reducers; a coalescing op must not itself write a
        # small-file sidecar (the file count it exists to bound)
        (self.spark.read.parquet(*[os.path.join(self.path, r) for r in refs])
             .select("__file", "__pos").dropDuplicates()
             .join(F.broadcast(names), "__file", "left_semi")
             .hint("rebalance")
             .write.parquet(os.path.join(self.path, sidecar)))
        counts = self._dv_counts(sidecar)
        adds = [{**a, "dv": {"refs": [sidecar], "rows": counts.get(
                    os.path.basename(a["path"]), 0)}}
                for a in dv_files]
        return self._commit(
            "coalesce_dv", st, adds, [],
            extra={"coalesced_refs": len(refs), "dv_sidecars": [sidecar]})

    def compact_dv(self, min_ratio: float = 0.1) -> int:
        """Partial compaction: materialize ONLY the files whose deleted
        fraction (``dv.rows / rows``) has reached ``min_ratio``, leaving
        every other file byte-untouched.

        Full ``compact()`` rewrites the whole live set — correct but
        table-scale write amplification when retractions concentrate in a
        few files (the common shape: GDPR erasure hits the cohort's
        ingest window, not the whole table). This targets exactly the
        files where merge-on-read is no longer cheap (every read of a
        50%-deleted file scans 2x its live rows) and rewrites their
        DV-filtered content as new files in one commit; a fully-deleted
        file is simply removed (its materialization is empty). Write cost
        is proportional to the SURVIVING rows of heavy-deleted files, not
        the table. Cleared sidecar refs become vacuumable once no other
        file references them. Complements ``coalesce_dv`` (which bounds
        sidecar COUNT without touching data files); together they keep
        both read amplification and listing cost bounded between full
        compactions.

        No-op (no commit burned) when no file crosses the ratio.
        Table-reading op: concurrent commits raise ``ConflictError``.
        Returns the committed version.
        """
        st = self._state()
        targets = [a for a in st.adds()
                   if a.get("dv", {}).get("rows", 0)
                   >= max(1.0, a.get("rows", 0) * min_ratio)]
        if not targets:
            return st.version
        survivors = self._read_adds(targets, st.struct())  # DV-applied
        adds = self._write_batch(survivors, st.stats_cols, bloom=st.bloom)
        return self._commit(
            "compact_dv", st, adds, [a["path"] for a in targets],
            extra={"rewritten_files": len(targets),
                   "materialized_dv_rows": int(sum(a["dv"]["rows"]
                                                   for a in targets))})

    def compact(self, target_files: int = 1,
                zorder: list[str] | None = None, bits: int = 4) -> int:
        """Rewrite the live set into ``target_files`` files (data unchanged).

        ``zorder=[c1, c2, ...]`` lays the files out along the Morton curve of
        those columns (operators/zorder.py) and records per-file stats for
        ALL of them — after which ``snapshot(prune=...)`` skips files on a
        predicate over ANY interleaved column, not just the primary range
        key. The lakehouse OPTIMIZE ZORDER, as one CoW commit."""
        st = self._state()
        stats_cols = st.stats_cols
        df = self._read_adds(st.adds(), st.struct())
        layout, stat_set = None, list(stats_cols)
        extra = None
        if zorder:
            from ..operators.zorder import with_zorder_key
            df = with_zorder_key(df, zorder, bits)
            layout = "__z"
            # ORDER MATTERS twice over: stats_cols[0] stays the merge prune
            # key, and persisting the widened list via the commit keeps
            # FUTURE batches recording stats for the z-order columns too —
            # without it multi-column skipping silently decays as appends
            # accumulate stat-less files
            stat_set = stats_cols + [c for c in zorder if c not in stats_cols]
            extra = {"zorder": zorder, "stats_cols": stat_set}
        adds = self._write_batch(df, stat_set, num=target_files,
                                 layout_by=layout, bloom=st.bloom)
        return self._commit("compact", st, adds, list(st.live), extra=extra)

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` — as a NEW commit that re-adds
        that version's live set and removes the current one. History is
        append-only (the bad commits stay inspectable; CDC across the
        restore reports the rows that came back); no data is rewritten,
        only manifest pointers, so restore is O(files) driver work at any
        table size. Fails with ConflictError if anything commits
        concurrently; fails fast if ``vacuum`` already reclaimed any of the
        target version's files (the documented time-travel horizon)."""
        cur, old = self._state(), self._state(version)
        old_live = old.adds()
        targets = [a["path"] for a in old_live] + sorted(
            {r for a in old_live for r in a.get("dv", {}).get("refs", [])})
        missing = [p for p in targets
                   if not self.store.exists(os.path.join(self.path, p))]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.path} to v{version}: {len(missing)} "
                f"file(s) already vacuumed, e.g. {missing[0]}")
        return self._commit(
            "restore", cur,
            old_live,  # re-add (shared paths: add wins replay)
            [p for p in cur.live if p not in old.live],
            schema_json=old.schema,
            extra={"restored_version": version,
                   "stats_cols": old.stats_cols, "bloom": old.bloom})

    def vacuum(self, ttl_seconds: float = 7 * 86400) -> list[str]:
        """Delete data files no snapshot references, older than ``ttl_seconds``.

        The TTL protects files an in-flight writer has staged but not yet
        committed, and readers of recent-but-superseded versions; time travel
        earlier than the horizon stops working for vacuumed files (the same
        contract Delta documents for VACUUM).
        """
        live = self.live_files()
        referenced = {a["path"] for a in live}
        dv_dirs = {r for a in live
                   for r in a.get("dv", {}).get("refs", [])}
        data_root = os.path.join(self.path, _DATA_DIR)
        removed: list[str] = []
        now = time.time()
        # all maintenance I/O goes through the LogStore seam, so vacuum
        # (like commit/read) works against hdfs:// tables with
        # HadoopLogStore, not just a driver-local filesystem
        for abs_path, mtime in self.store.list_files(data_root):
            name = os.path.basename(abs_path)
            rel = os.path.relpath(lake.plain_path(abs_path),
                                  lake.plain_path(self.path))
            if rel in referenced or not lake.is_data_file(name) \
                    or any(rel.startswith(d + "/") for d in dv_dirs):
                continue  # live file, marker, or referenced DV sidecar
            if now - mtime >= ttl_seconds:
                self.store.delete(abs_path)
                removed.append(rel)
        # prune emptied batch dirs — same TTL guard as the files: a young
        # empty dir is an in-flight writer's staging area, not garbage
        self.store.prune_empty_dirs(data_root, ttl_seconds, now)
        return removed


def _rm_dir_quiet(path: str) -> None:
    try:
        for name in os.listdir(path):  # only markers (_SUCCESS, .crc) remain
            os.unlink(os.path.join(path, name))
        os.rmdir(path)
    except OSError:
        pass  # a concurrent writer raced in; leave the dir for the next pass


def _json_safe(value):
    """Normalize a stat/bound value for JSON storage AND ordering:

    - int/float/str pass through (numeric compares stay numeric; ISO
      date/timestamp strings compare in value order);
    - Decimal widens CONSERVATIVELY to float (min rounds down, max rounds
      up via ``_widen``) — a lexicographic str() compare would order
      '100' < '90' and prune files that DO contain updated keys, silently
      duplicating primary keys;
    - anything else stringifies (dates/timestamps: ISO, order-preserving).

    ``_overlaps`` additionally refuses to compare mismatched families, so
    an unexpected type can only ever DISABLE pruning, never mis-prune."""
    if value is None or isinstance(value, (int, float, str, bool)):
        return value
    import decimal
    if isinstance(value, decimal.Decimal):
        return float(value)  # callers widen via _widen at the use site
    return str(value)


def _widen(value, direction: int):
    """Nudge a float stat outward so Decimal→float rounding can never make
    a pruning range NARROWER than the true data range (conservative)."""
    import decimal
    import math
    if isinstance(value, decimal.Decimal):
        f = float(value)
        return math.nextafter(f, -math.inf if direction < 0 else math.inf)
    return _json_safe(value)


def _prune(adds: list[dict], col: str | None, values,
           is_range: bool) -> tuple[list[dict], list[dict]]:
    """Split ``adds`` into (touched, kept) for a merge keyed on ``col``:
    a file is touched when its ``col`` stats may hold one of ``values`` —
    the batch's exact prune values, or with ``is_range`` one ``(lo, hi)``
    range. Without ``col`` every file is touched, and so with a null
    among the exact values (stats ignore nulls, and the merge groups null
    keys together)."""
    import bisect

    if col is None or (not is_range and None in values):
        return list(adds), []
    points = None if is_range else sorted({_widen(v, 0) for v in values})
    touched, kept = [], []
    for add in adds:
        st = add.get("stats", {}).get(col)
        if is_range:
            hit = _overlaps(st, *values)
        elif st is None or st.get("min") is None \
                or type(st["min"]) is not type(points[0]):
            hit = True  # the comparison cannot be made: keep the file
        else:
            i = bisect.bisect_left(points, st["min"])
            hit = i < len(points) and points[i] <= st["max"]
        (touched if hit else kept).append(add)
    return touched, kept


def _overlaps(st: dict | None, lo, hi) -> bool:
    """None-aware, type-guarded interval overlap for pruning decisions.
    Returns True (= keep the file) whenever the comparison cannot be made
    safely — pruning must only ever drop files PROVABLY out of range."""
    if st is None or st.get("min") is None:
        return True
    smin, smax = st["min"], st["max"]

    def comparable(a, b):
        num = (int, float)
        return (isinstance(a, num) and isinstance(b, num)) or (
            isinstance(a, str) and isinstance(b, str))

    if lo is not None and comparable(smax, lo) and smax < lo:
        return False
    if hi is not None and comparable(smin, hi) and smin > hi:
        return False
    return True


def _conform(df: DataFrame, schema: StructType,
             keep: str | None = None) -> DataFrame:
    """Project ``df`` onto the table schema (order + missing→NULL), keeping
    ``keep`` (the merge order column) if present."""
    cols = [F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields]
    if keep and keep in df.columns and keep not in [f.name for f in schema.fields]:
        cols.append(F.col(keep))
    return df.select(*cols)
