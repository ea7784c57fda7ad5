"""Dump .explain("formatted") for registry queries to plans/<tag>/ files.

Usage: python tools/dump_plans.py <outdir> <suffix> [query ...]
       python tools/dump_plans.py plans/r12 before s6g_dv_coalesce

Writes <outdir>/<query>_<suffix>.txt for each named query (all queries when
none named). Building a query's DataFrame runs its fixture machinery (TxTable
creates, stream drains) but never executes the returned plan itself — this is
the measurement artifact the optimization rounds commit so a reviewer can
check plan-shape claims (Exchange counts, join strategies, PushedFilters)
without running Spark.
"""

from __future__ import annotations

import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_integration_celery_spark.queries import QUERIES  # noqa: E402
from data_integration_celery_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(QUERIES)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    failed = []
    for name in names:
        try:
            df = QUERIES[name].spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                jvm_mode.fromString("formatted"))
        except Exception:
            failed.append(name)
            traceback.print_exc()
            continue
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(f"-- {name} ({suffix}) at {SF_DIR}\n{plan}")
        print(f"wrote {name}_{suffix}.txt")
    if failed:
        print(f"FAILED: {failed}")
        sys.exit(1)


if __name__ == "__main__":
    main()
