"""Parquet files on the driver: the one layer that types, reads, writes,
names and lists a table's files without a Spark job, as Delta Kernel owns
a Delta table's. The upsert sink, the txlog table and its stream source
read a file the one way Spark's explicit-schema scan does (``read``) and
write it the one way Spark's writer does (``write``). Imports nothing from
the package; callers use ``lake.<name>``, so one monkeypatch reaches all.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from datetime import date
from urllib.parse import unquote, urlparse

from pyspark.sql.types import (ArrayType, BooleanType, ByteType, DateType,
                               DecimalType, DoubleType, FloatType,
                               IntegerType, LongType, ShortType, StringType,
                               StructField, StructType, TimestampType)

INT_BITS = {ByteType: 8, ShortType: 16, IntegerType: 32, LongType: 64}


@functools.cache
def _arrow_types() -> dict:
    import pyarrow as pa

    return {ByteType: pa.int8(), ShortType: pa.int16(),
            IntegerType: pa.int32(), LongType: pa.int64(),
            FloatType: pa.float32(), DoubleType: pa.float64(),
            StringType: pa.string(), BooleanType: pa.bool_(),
            DateType: pa.date32(), TimestampType: pa.timestamp("us", tz="UTC")}


def arrow_type(dtype):
    """The Arrow type the driver holds a Spark column of type ``dtype`` in
    (timestamps as UTC instants), or None for a type outside the map."""
    import pyarrow as pa

    if isinstance(dtype, DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, ArrayType):
        inner = arrow_type(dtype.elementType)
        return None if inner is None else pa.list_(inner)
    return _arrow_types().get(type(dtype))


def arrow_schema(fields):
    """The Arrow schema of these Spark fields; TypeError for a type
    ``arrow_type`` does not map."""
    import pyarrow as pa

    out = []
    for f in fields:
        t = arrow_type(f.dataType)
        if t is None:
            raise TypeError(f"no Arrow type for {f.name!r}: {f.dataType}")
        out.append(pa.field(f.name, t))
    return pa.schema(out)


def merge_type(dtype, key: bool = False):
    """``arrow_type`` of a column whose merge the driver reproduces exactly
    — string (default UTF8_BINARY collation), integral, date, boolean,
    timestamp, and float/double except as a key (Spark groups floats with
    NaN and -0.0 normalised) — else None: the merge keeps the Spark plan."""
    exact = dtype == StringType() or isinstance(dtype, (
        ByteType, ShortType, IntegerType, LongType, DateType, BooleanType,
        TimestampType))
    floating = not key and isinstance(dtype, (FloatType, DoubleType))
    return arrow_type(dtype) if exact or floating else None


def merge_schema(schema: StructType, keys: list[str], order_col: str):
    """The Arrow schema of a driver merge over ``schema`` (``merge_type``
    per column; the order column, when present, must be integral, date or
    timestamp), or None."""
    import pyarrow as pa

    fields = []
    for f in schema.fields:
        t = merge_type(f.dataType, key=f.name in keys or f.name == order_col)
        if t is None or (f.name == order_col and pa.types.is_boolean(t)):
            return None
        fields.append(pa.field(f.name, t))
    return pa.schema(fields)


def text_kind(dtype) -> str | None:
    """"str", "int" or "date" for a column type whose values the driver
    renders as text exactly as Spark does — its ``cast(... as string)`` and
    its partition directory names; None for every other type (callers then
    take a Spark-job path)."""
    if dtype == StringType():  # the default UTF8_BINARY collation only
        return "str"
    if type(dtype) in INT_BITS:
        return "int"
    if isinstance(dtype, DateType):
        return "date"
    return None


class Unreadable(Exception):
    """A parquet file the driver cannot read as Spark's scan reads it."""


def read(paths: list[str], schema, *, keep: str | None = None,
         drop: list[str] | tuple = ()):
    """The rows of these parquet files as one pyarrow Table of ``schema``
    (an Arrow schema), as Spark's explicit-schema scan reads them: only its
    columns are read, a column a file lacks is null, each is cast to its
    type, and INT96 timestamps read as microseconds (no wrap outside
    1677..2262). Deletion vectors apply per file by the ``(__file,
    __pos)`` rows of sidecar directories: ``keep`` takes exactly the
    positions its sidecar names, in its order; ``drop`` removes those its
    sidecars name. Raises ``Unreadable`` when a file cannot be read, or
    was written with Spark's legacy (rebased) calendar."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tables = []
    for p in paths:
        try:
            f = pq.ParquetFile(p, coerce_int96_timestamp_unit="us")
            if any(k.startswith(b"org.apache.spark.legacy")
                   for k in f.metadata.metadata or {}):
                raise Unreadable(f"{p}: written with Spark's legacy calendar")
            have = set(f.schema_arrow.names)
            t = f.read(columns=[n for n in schema.names if n in have])
            t = pa.table([t.column(fld.name).cast(fld.type)
                          if fld.name in have
                          else pa.nulls(t.num_rows, fld.type)
                          for fld in schema], schema=schema)
            if keep is not None:
                t = t.take(_dv_positions([keep], p))
            elif drop:
                t = t.filter(pc.invert(pc.is_in(
                    pa.array(range(t.num_rows), pa.int64()),
                    value_set=_dv_positions(drop, p))))
        except (OSError, pa.ArrowException) as e:
            raise Unreadable(f"{p}: {e}") from e
        tables.append(t)
    return pa.concat_tables(tables) if tables else schema.empty_table()


def _dv_positions(sidecars: list[str], path: str):
    """The row positions of ``path`` the sidecar directories name (the
    basename filter prunes row groups in the scan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.basename(path)
    return pa.concat_tables([
        pq.read_table(s, columns=["__file", "__pos"],
                      filters=[("__file", "==", base)])
        for s in sidecars]).column("__pos").combine_chunks()


_WRITE_CODECS = {"snappy": "snappy", "gzip": "gzip", "zstd": "zstd",
                 "none": "none", "uncompressed": "none"}


def parquet_options(spark) -> dict | None:
    """The ``write`` options that write what the session's parquet writer
    writes (codec, timestamp encoding), or None when the driver cannot
    match it."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    codec = _WRITE_CODECS.get(codec.lower())
    ts = spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    if codec is None or ts not in ("INT96", "TIMESTAMP_MICROS"):
        return None
    return {"compression": codec,
            "use_deprecated_int96_timestamps": ts == "INT96"}


# parquet-mr decides dictionary encoding on a column's first page, which
# holds at most this many rows
_FIRST_PAGE_ROWS = 20_000
# and it drops a dictionary that outgrows this
_DICTIONARY_MAX_BYTES = 1 << 20


def _dictionary_columns(table, int96: bool) -> list[str]:
    """The columns parquet-mr writes dictionary-encoded: those whose first
    page encodes smaller with the dictionary (ids at the bit width of the
    distinct count, plus the dictionary itself) than plain — the others
    fall back to plain encoding. pyarrow would keep every dictionary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    page = table.slice(0, _FIRST_PAGE_ROWS)
    out = []
    for name, col in zip(page.column_names, page.columns):
        if pa.types.is_boolean(col.type):
            continue  # parquet-mr never dictionary-encodes booleans
        values = col.drop_null()
        distinct = pc.unique(values)
        if pa.types.is_string(col.type):
            plain = 4 * len(values) + (
                pc.sum(pc.binary_length(values)).as_py() or 0)
            dict_bytes = 4 * len(distinct) + (
                pc.sum(pc.binary_length(distinct)).as_py() or 0)
        else:
            width = 12 if int96 and pa.types.is_timestamp(col.type) else \
                col.type.bit_width // 8
            plain, dict_bytes = width * len(values), width * len(distinct)
        ids = (len(values) * max(len(distinct) - 1, 0).bit_length() + 7) // 8
        if ids + dict_bytes < plain and dict_bytes <= _DICTIONARY_MAX_BYTES:
            out.append(name)
    return out


def write(table, directory: str, options: dict) -> str:
    """Write ``table`` as one new file in ``directory`` (made if missing),
    with the session writer's codec, timestamp encoding and dictionary
    choices (``parquet_options``) and no ``ARROW:schema`` key, so it is no
    larger than Spark's; return its path. The name is Spark's without the
    codec, ``part-00000-<uuid>-c000.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"part-00000-{uuid.uuid4()}-c000.parquet")
    pq.write_table(table, path, store_schema=False,
                   use_dictionary=_dictionary_columns(
                       table, options["use_deprecated_int96_timestamps"]),
                   **options)
    return path


def swap_partitions(root: str, staged: dict, options: dict) -> None:
    """Stage each partition's rows (``{rel dir: pyarrow Table}``) as one
    file under a hidden directory in the table, then swap the partitions
    in one by one: old directory renamed aside, staged one in, old one
    deleted. A failure while staging leaves the table as it was; a failure
    in a swap puts that partition's old directory back (every partition
    holds its old or its new rows); either way the staging directory goes.
    A crash between swaps leaves what Spark's dynamic overwrite leaves:
    some partitions swapped, the rest old and staged in the table."""
    stage = os.path.join(root, f".driver-staging-{uuid.uuid4().hex}")
    try:
        for rel, rows in staged.items():
            write(rows, os.path.join(stage, "new", rel), options)
        for rel in staged:
            _swap_partition(root, stage, rel)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _swap_partition(root: str, stage: str, rel: str) -> None:
    final, old = os.path.join(root, rel), os.path.join(stage, "old", rel)
    had = os.path.isdir(final)
    if had:
        os.makedirs(os.path.dirname(old), exist_ok=True)
        os.rename(final, old)
    try:
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(os.path.join(stage, "new", rel), final)
    except BaseException:
        if had:
            os.rename(old, final)
        raise
    if had:
        shutil.rmtree(old)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def num_rows(paths: list[str]) -> int:
    """The rows of these parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def footer_stats(path: str, cols: list[str]) -> tuple[int, dict] | None:
    """``(rows, {col: (min, max)})`` from a file's footer, over its row
    groups (exact for integral and date columns); no stats without rows;
    None when a column is missing or a row group has no min/max for it."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    if not md.num_rows:
        return 0, {}
    idx = {md.row_group(0).column(i).path_in_schema: i
           for i in range(md.num_columns)} if md.num_row_groups else {}
    stats = {}
    for c in cols:
        if c not in idx:
            return None
        found = [md.row_group(r).column(idx[c]).statistics
                 for r in range(md.num_row_groups)]
        if any(s is None or not s.has_min_max for s in found):
            return None
        stats[c] = (min(s.min for s in found), max(s.max for s in found))
    return md.num_rows, stats


def footer_schema(root: str, rel: str, depth: int) -> StructType | None:
    """The Spark schema of the first data file under ``root/rel`` (``depth``
    directory levels below ``root``): the one Spark records in the footer,
    else — a file ``write`` wrote, which carries no key-value metadata —
    the one Spark reads from its parquet types (the inverse of the type
    map); None when there is no file or a type has no such reading."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark_type = {a: s() for s, a in _arrow_types().items()
                  if s is not TimestampType}
    level = len(rel.split(os.sep)) if rel else 0
    for name in data_files(os.path.join(root, rel)):
        if level < depth:
            found = footer_schema(root, os.path.join(rel, name), depth)
            if found is not None:
                return found
            continue
        md = pq.read_metadata(os.path.join(root, rel, name))
        if _SPARK_SCHEMA_KEY in (md.metadata or {}):
            return StructType.fromJson(
                json.loads(md.metadata[_SPARK_SCHEMA_KEY]))
        fields = [StructField(f.name, TimestampType()
                              if pa.types.is_timestamp(f.type)
                              else spark_type.get(f.type), True)
                  for f in md.schema.to_arrow_schema()]
        return None if any(f.dataType is None for f in fields) \
            else StructType(fields)
    return None


def is_data_file(name: str) -> bool:
    """Whether a file or directory name in a table listing is data — as
    Spark lists a table: hidden (``.``) and marker (``_``) names are not."""
    return not name.startswith((".", "_"))


def data_files(directory: str) -> list[str]:
    """The data names in a local directory, sorted; raises on I/O error."""
    return sorted(n for n in os.listdir(directory) if is_data_file(n))


# Spark's partition directory names (ExternalCatalogUtils): these characters
# are written as %XX, and a null or empty value as the default partition
_ESCAPED = frozenset([chr(c) for c in range(0x01, 0x20)]
                     + list('"#%\'*/:=?\\\x7f{[]^'))
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def partition_dir(col: str, value) -> str:
    """``col=value`` as Spark names the directory of an integral, string or
    date partition value."""
    text = "" if value is None else \
        value.isoformat() if isinstance(value, date) else str(value)
    return (f"{_escape_path_name(col)}="
            f"{_escape_path_name(text) if text else _DEFAULT_PARTITION}")


def existing_partitions(root: str, names: list[str], touched: list) -> dict:
    """``{partition values: directory relative to root}`` for the rows of
    ``touched`` (partition value tuples, or rows keyed by ``names``) whose
    partition directory exists, from listings that RAISE on I/O error: a
    touched partition wrongly taken as absent would be overwritten with
    only the update rows."""
    listings: dict[str, list[str]] = {}

    def listed(rel: str) -> list[str]:
        if rel not in listings:
            listings[rel] = os.listdir(os.path.join(root, rel))
        return listings[rel]

    existing = {}
    for row in touched:
        values = tuple(row[c] for c in names)
        rel = ""
        for c, v in zip(names, values):
            seg = partition_dir(c, v)
            if seg not in listed(rel):
                break
            rel = os.path.join(rel, seg)
        else:
            existing[values] = rel
    return existing


def plain_path(path: str) -> str:
    """The filesystem path of a path string as Hadoop's ``Path`` — and so
    Spark — reads it: scheme (a colon before the first slash) and authority
    dropped, the rest literal (no ``%XX`` decoding, no query or fragment:
    ``/lake/prices#v2`` names the directory ``prices#v2``). A URI Spark
    reports (``input_file_name()``) is percent-encoded: see ``uri_path``."""
    head, sep, rest = path.partition(":")
    if not sep or "/" in head:
        return path
    if rest.startswith("//") and len(rest) > 2:
        end = rest.find("/", 2)
        return rest[end:] if end >= 0 else ""
    return rest


def local_path(path: str) -> str | None:
    """``plain_path`` of a path on the local filesystem (no scheme, or
    ``file:``), which the driver can list and read itself; None for every
    other scheme."""
    head, sep, _ = path.partition(":")
    if sep and "/" not in head and head != "file":
        return None
    return plain_path(path)


def uri_path(uri: str) -> str:
    """The filesystem path of a percent-encoded URI that Spark reports,
    such as ``input_file_name()``."""
    return unquote(urlparse(uri).path)


def fs(spark, path: str):
    """(FileSystem, Path) via the Hadoop FS API — works on any scheme the
    cluster can write (local, HDFS, S3A), unlike shutil."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def hadoop_rm(spark, path: str) -> None:
    fsys, jpath = fs(spark, path)
    fsys.delete(jpath, True)


def exists(spark, path: str) -> bool:
    fsys, jpath = fs(spark, path)
    return fsys.exists(jpath)


def hadoop_data_files(spark, path: str):
    """The Hadoop ``FileStatus`` of each data file under ``path``, lazily,
    recursively: one FS listing on any scheme, no Spark job."""
    fsys, jpath = fs(spark, path)
    it = fsys.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if is_data_file(st.getPath().getName()):
            yield st


def rename(spark, src: str, dst: str) -> None:
    """Directory rename — a single atomic metadata operation on HDFS and
    local filesystems (the commit primitive; on S3 use a manifest instead)."""
    fsys, jsrc = fs(spark, src)
    if not fsys.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")
