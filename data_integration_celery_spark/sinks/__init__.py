"""Export sinks (SURVEY S7/S8/S9).

The reference exports to per-code SQLite tables, CSV files, and secondary
MySQL schemas. Spark-native forms: partitioned parquet/csv writes and
JDBC replication with watermark-incremental filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import lake
from ..operators.upsert import _publish, overwrite_partitions, recover_table


def export_per_key(df: DataFrame, path: str, key_col: str,
                   column_map: dict[str, str] | None = None,
                   order_col: str | None = None) -> None:
    """Per-code fan-out export (S7): one directory partition per key value,
    columns renamed per the vendor mapping, sorted within each file.

    Reference: MySQL→SQLite per-ts_code table fan-out with rename maps
    (/root/reference tasks/utils/to_sqlite.py:335-430). partitionBy gives the
    per-code layout without N separate writes; sortWithinPartitions restores
    the per-file date order the reference guaranteed.
    """
    out = df
    if column_map:
        out = out.select(*[F.col(src).alias(dst) for src, dst in column_map.items()])
        key_col = column_map.get(key_col, key_col)
    out = out.repartition(F.col(key_col))
    if order_col:
        out = out.sortWithinPartitions(order_col)
    out.write.mode("overwrite").partitionBy(key_col).parquet(path)


def export_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV export (S8) — continuous-contract/index md csv dumps
    (reorg_md_2_db.py:393-402). ``single_file`` coalesces for the
    one-file-per-table layout the reference wrote."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", "true").csv(path)


def replicate_incremental(spark: SparkSession, source: DataFrame,
                          target_path: str, watermark_col: str,
                          transform=None) -> None:
    """Cross-store replication with high-watermark increments (S9).

    Reference: copy daily/min tables to the vnpy schema, whole-table first
    then `where datetime > (select max(datetime) from target)`
    (tasks/wind/future.py:724-937). Here target is a parquet path (lake-to-
    lake replication); the real-DB path is sinks.jdbc.replicate_jdbc_incremental
    / export_bars_jdbc, exercised end-to-end against embedded Derby in
    tests/test_jdbc_replication.py.
    """
    df = transform(source) if transform else source
    # branch on existence, not on read failure (the upsert rule): a
    # transient read error on an EXISTING target must propagate —
    # swallowing it here would null the watermark and append the ENTIRE
    # source on top of existing rows (silent wholesale duplication)
    if lake.exists(spark, target_path):
        current_max = (spark.read.parquet(target_path)
                       .agg(F.max(watermark_col)).collect()[0][0])
    else:
        current_max = None
    if current_max is not None:
        df = df.where(F.col(watermark_col) > F.lit(current_max))
    df.write.mode("append").parquet(target_path)


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every parquet data file under ``path`` (recursive),
    via the Hadoop FS API so it works on any scheme the cluster reads."""
    return [(st.getPath().toString(), st.getLen())
            for st in lake.hadoop_data_files(spark, path)
            if st.getPath().getName().endswith(".parquet")]


def compact_table(spark: SparkSession, path: str,
                  partition_cols: list[str] | None = None,
                  target_file_mb: int = 128) -> int:
    """S11 maintenance: OPTIMIZE-style small-file compaction for parquet.

    The reference's maintenance pass is ``REPAIR TABLE`` on MyISAM
    (tasks/backend/repair_table.py:15-22); the parquet-lake equivalent problem
    is *small files* — per-micro-batch appends leave thousands of KB-sized
    files whose open/footer cost dominates scans at 100 TB. Delta/Iceberg call
    the fix OPTIMIZE / rewrite_data_files; on plain parquet it is a
    bin-packing rewrite:

    - unpartitioned: repartition to ceil(total_bytes / target) files and
      publish by the ``write_upsert`` staging+backup rename protocol
      (``upsert._publish`` — Spark refuses to overwrite its own input in
      place), so a crash at any instant leaves a complete table at ``path``
      or ``path__backup`` and ``recover_table`` heals it;
    - partitioned: ``upsert.overwrite_partitions`` of the table onto itself —
      each partition's rows land in one task → one file per partition,
      swapped in per partition at job commit (same per-partition atomicity
      caveat as any plain-parquet dynamic overwrite; run in the maintenance
      window).

    ``partition_cols`` defaults to the table's own hive layout (rewriting a
    partitioned table flat would hide its files from the next partitioned
    write); a list that differs from the layout raises ``ValueError``.
    Returns the data-file count after compaction.
    """
    path = path.rstrip("/")
    recover_table(spark, path)  # heal any interrupted earlier commit first
    files = list_data_files(spark, path)
    df = spark.read.parquet(path)  # raises on a table without data files
    # hive layout = the `col=value` directories between the root and a file
    fs, jroot = lake.fs(spark, path)
    rel = files[0][0][len(fs.makeQualified(jroot).toString()):]
    layout = [d.split("=", 1)[0] for d in rel.split("/")[1:-1]]
    if partition_cols is not None and list(partition_cols) != layout:
        raise ValueError(f"partition_cols {partition_cols} differ from the "
                         f"table layout {layout} at {path}")
    if layout:
        overwrite_partitions(df, path, layout)
    else:
        # publish the staged layout by RENAME, not by read-back: a second
        # spark.read would re-split the freshly packed files at
        # maxPartitionBytes (128m), silently discarding the target size
        total = sum(sz for _, sz in files)
        n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        _publish(spark, df.repartition(n), path)
    return len(list_data_files(spark, path))


def backup_table(df: DataFrame, path: str) -> None:
    """S11: point-in-time backup copy (the reference's ``CREATE TABLE LIKE +
    INSERT SELECT`` before risky refreshes, tasks/jqdata/stock/
    available_check/__init__.py:23-48) — a CTAS snapshot the snapshot-diff
    audit (operators.quality.snapshot_diff_audit) compares against."""
    df.write.mode("overwrite").parquet(path)
