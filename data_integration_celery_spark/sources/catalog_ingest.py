"""Catalog-driven multi-series ingestion (the EDB macro-indicator loop).

Reference: tasks/wind/macroeconomy.py:35-115 walks a hand-maintained dict of
~80 EDB indicator codes, fetching each series incrementally from its stored
watermark and upserting into the macro table — one driver loop per series.

Spark-first: the catalog dict becomes a tiny in-memory DataFrame, the
per-series watermark plan is ONE broadcast join against the target's grouped
max (operators.incremental.fetch_ranges), and all series fetch concurrently
inside mapInPandas (sources.vendor.fetch_distributed) — the driver never
loops. Output lands long-format ``(series_id, obs_date, value)`` keyed by
(series_id, obs_date) through the atomic upsert sink; consumers pivot or
window as needed (wide schemas don't scale past pivotMaxValues — SURVEY §4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import incremental, upsert
from . import vendor

SERIES_SCHEMA = "series_id string, obs_date date, value double"


def catalog_frame(spark: SparkSession,
                  catalog: dict[str, dict]) -> DataFrame:
    """Materialise the series catalog dict as the info dimension: one row per
    series with its vendor code and inception date.

    ``catalog``: {series_id: {"vendor_code": str, "start": date}} — the
    Spark form of the reference's indicator dict (macroeconomy.py:35-115).
    """
    rows = [(sid, meta["vendor_code"], meta["start"])
            for sid, meta in sorted(catalog.items())]
    return spark.createDataFrame(
        rows, "series_id string, vendor_code string, start_date date")


def ingest_series_catalog(spark: SparkSession, catalog: dict[str, dict],
                          fetch: vendor.FetchFn, path: str,
                          cutoff: dt.date, batch_id: int = 1) -> DataFrame:
    """One incremental ingestion job for the whole catalog.

    1. Plan: catalog ⟕ per-series max(obs_date) in the target → fetch range
       per series (series already current drop out of the plan).
    2. Fetch: every remaining series pulled executor-side, concurrently,
       retries inside the fetcher (vendor.with_retry).
    3. Land: last-write-wins upsert keyed (series_id, obs_date) through the
       atomic staging+rename commit.

    The fetcher is called with the SERIES id and [date_from, date_to] and
    returns a frame (series_id, obs_date, value); it resolves the vendor
    code from the catalog in its closure — the same dict the reference's
    loop indexes (macroeconomy.py). Returns the landed table reader.
    """
    info = catalog_frame(spark, catalog)
    # branch on existence, not on read failure (the upsert rule): a
    # transient read error on an EXISTING table must propagate — swallowing
    # it would null every watermark and re-plan a full-history refetch of
    # every series against the vendor API
    from .. import lake
    if lake.exists(spark, path):
        existing = spark.read.parquet(path).select("series_id", "obs_date")
    else:
        existing = spark.createDataFrame([], "series_id string, obs_date date")
    plan = incremental.fetch_ranges(
        info, existing, key="series_id", date_col="obs_date",
        start_col="start_date", cutoff=F.lit(cutoff))
    fetched = vendor.fetch_distributed(
        plan.select("series_id", "date_from", "date_to"),
        fetch, SERIES_SCHEMA, code_col="series_id")
    stamped = fetched.withColumn("batch_id", F.lit(batch_id).cast("long"))
    upsert.write_upsert(spark, stamped, path, keys=["series_id", "obs_date"])
    return spark.read.parquet(path)
