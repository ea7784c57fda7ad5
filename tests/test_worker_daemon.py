"""The engine's PySpark worker daemon (worker_daemon.py): zip importers
re-read an archive's directory only when the archive changed on disk."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from data_integration_celery_spark.worker_daemon import _invalidate_if_changed

ROOT = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: list[str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for m in modules:
            zf.writestr(f"{m}.py", f"NAME = {m!r}\n")
    os.replace(tmp, path)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    imp = zipimport.zipimporter(str(archive))

    reads = []
    stock_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    _invalidate_if_changed(imp)
    assert len(reads) == 1
    _invalidate_if_changed(imp)
    assert len(reads) == 1  # unchanged archive: no re-read

    _write_zip(archive, ["a", "b"])
    _invalidate_if_changed(imp)
    assert len(reads) == 2
    assert imp.find_spec("b") is not None

    archive.unlink()
    _invalidate_if_changed(imp)  # the stock path: clears, does not raise
    assert len(reads) == 3
    assert imp.find_spec("a") is None


def test_worker_task_rereads_no_unchanged_zip(spark):
    # A stock worker re-reads pyspark.zip's and py4j's zip directory once per
    # zip importer on every invalidate_caches() (16 reads on CPython 3.11).
    # Defined here so it is pickled by value, not by this module's name.
    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        stock_read = zipimport._read_directory
        n = 0

        def counting(path):
            nonlocal n
            n += 1
            return stock_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [n]})

    rows = (spark.range(0, 1, 1, 1).mapInPandas(count_reads, "reads long")
            .collect())
    assert [r.reads for r in rows] == [0]


def test_python_workers_start_from_any_working_directory(tmp_path):
    # `python -m <daemon module>` must find the package although neither the
    # working directory nor PYTHONPATH holds the checkout.
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from data_integration_celery_spark.session import get_spark
        spark = get_spark("cwd-check", master="local[2]",
                          extra_conf={{"spark.ui.enabled": "false"}})
        spark.sparkContext.setLogLevel("ERROR")
        n = (spark.range(8).repartition(2)
             .mapInPandas(lambda it: it, "id long").count())
        spark.stop()
        print("COUNT", n)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="2")
    out = subprocess.run([sys.executable, "-I", "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert "COUNT 8" in out.stdout, out.stderr[-3000:]


def test_workers_inherit_pandas_and_pyarrow_from_the_daemon(tmp_path):
    # In a fresh session, a worker's first task — a plain-RDD one that
    # imports nothing — already finds pandas and pyarrow imported: the
    # daemon imported them before forking, so Arrow tasks do not pay for
    # the imports on each worker.
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from data_integration_celery_spark.session import get_spark
        spark = get_spark("preimport-check", master="local[1]",
                          extra_conf={{"spark.ui.enabled": "false"}})
        spark.sparkContext.setLogLevel("ERROR")
        seen = (spark.sparkContext.parallelize([0], 1)
                .map(lambda _: sorted(m for m in ("pandas", "pyarrow")
                                      if m in sys.modules))
                .collect())
        spark.stop()
        print("SEEN", seen)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="1")
    out = subprocess.run([sys.executable, "-I", "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert "SEEN [['pandas', 'pyarrow']]" in out.stdout, out.stderr[-3000:]
