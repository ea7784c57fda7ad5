"""The driver XXH64 kernel (functions/xxh64.py) against Spark's xxhash64."""

from __future__ import annotations

import datetime
import random

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from data_integration_celery_spark.functions import xxh64 as X

_ALPHABET = "abcXYZ019 -_/=%:é漢\U0001F600"
_EPOCH = datetime.date(1970, 1, 1)


def xxh64(values):
    """The kernel over Python ``str`` (as UTF-8) or ``bytes`` values."""
    return X.xxh64(pa.array([v.encode() if isinstance(v, str) else v
                             for v in values], pa.binary()))


def _spark_hashes(spark, values, ddl):
    df = spark.createDataFrame([(v,) for v in values], ddl)
    return [r[0] for r in df.select(F.xxhash64(df.columns[0])).collect()]


def test_xxh64_matches_spark_on_strings(spark):
    """2 000+ random strings, multi-byte UTF-8 included, and every length
    around the kernel's 4-, 8- and 32-byte lane boundaries."""
    r = random.Random(7)
    edge = [0, 1, 3, 4, 5, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 65, 90]
    values = ["x" * n for n in edge] + ["".join(
        r.choice(_ALPHABET) for _ in range(r.choice(edge + [r.randint(0, 90)])))
        for _ in range(2000)]
    assert [len(v.encode()) for v in values[:len(edge)]] == edge
    assert list(xxh64(values)) == _spark_hashes(spark, values, "s string")


def test_xxh64_matches_spark_on_negative_longs_and_dates(spark):
    """Fixed-width values hash as their little-endian bytes: int64 rows are
    Spark's LONG hash and int32 day numbers its DATE hash. Their string
    forms — what a Bloom filter hashes — match ``cast(... as string)``."""
    r = random.Random(11)
    longs = [-1, -2 ** 63, 2 ** 63 - 1, 0] + [r.randint(-2 ** 63, -1)
                                             for _ in range(300)]
    as_bytes = [np.array([v], "<i8").tobytes() for v in longs]
    assert list(xxh64(as_bytes)) == _spark_hashes(spark, longs, "v long")
    dates = [datetime.date(1582, 10, 15), datetime.date(1969, 12, 31),
             datetime.date(9999, 12, 31)] + [
        _EPOCH + datetime.timedelta(days=r.randint(-100_000, 100_000))
        for _ in range(300)]
    days = [np.array([(d - _EPOCH).days], "<i4").tobytes() for d in dates]
    assert list(xxh64(days)) == _spark_hashes(spark, dates, "d date")
    for values, ddl, text in ((longs, "v long", str),
                              (dates, "d date", datetime.date.isoformat)):
        df = spark.createDataFrame([(v,) for v in values], ddl)
        col = F.col(df.columns[0]).cast("string")
        want = [row[0] for row in df.select(F.xxhash64(col)).collect()]
        assert list(xxh64([text(v) for v in values])) == want
