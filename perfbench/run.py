"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads (closed loops, one client thread):

- ``daily_close``      the end-of-day DAG from an empty lake, reports
                       included (see daily_close.py);
- ``intraday_upserts`` tick files through a running streaming query plus
                       restatement upserts and a read-back (see
                       intraday_upserts.py).

Each workload runs a fixed number of ops (its ``MAX_OPS``; ``--seconds``
caps the loop) after an untimed warm-up; ``op_mean_ms`` is their mean.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics of
``END_TO_END``; ``--trace 1`` runs twice as many ops, traced and untraced
in the order U T T U U T ..., and reports the per-layer metrics of
``PER_LAYER`` from the traced ops; tracing overhead is the traced ops' mean
minus the untraced ops' (the order cancels the ops' speed-up over the run).
Span dumps go to ``.perfbench/traces/``.

Every lake, checkpoint, warehouse and temp file lives under ``.perfbench/``
in the working directory and is removed at exit, so a run leaves the
checkout as it found it (``.perfbench/`` is ignored by git).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from importlib import import_module

import gen
import layers
import spans as tr
from common import Ctx, OpResult, cpu_count

WORKLOADS = ("daily_close", "intraday_upserts")

END_TO_END = {
    "setup_s": "s",
    "op_mean_ms": "ms",
    "retained_mb": "MB",
    "space_amp": "ratio",
}

LAYERS = ("sources", "upsert", "pipelines", "asof", "sinks", "plans",
          "txlog", "streaming", "queries", "catalog", "bench")

PER_LAYER = {
    "session.start_ms": "ms",
    "setup.warmup_ms": "ms",
    "memory.peak_rss_mb": "MB",
    "op.samples": "count",
    "op.plan_ms": "ms",
    "op.force_ms": "ms",
    **{f"self_pct.{layer}": "%" for layer in LAYERS},
    "sources.rows": "count",
    "pipelines.conflict_rows": "count",
    "sinks.files_written": "count",
    "plans.parallelism": "ratio",
    "plans.critical_path_share": "ratio",
    "upsert.partitions_touched": "count",
    "upsert.bytes_rewritten": "bytes",
    "lake.write_amp": "ratio",
    "txlog.files_touched_ratio": "ratio",
    "txlog.commits_per_increment": "count",
    "txlog.files_read_per_lookup": "count",
    "streaming.batches_per_increment": "count",
    "streaming.empty_batches_per_increment": "count",
    "streaming.add_batch_share": "ratio",
    "streaming.planning_share": "ratio",
    "queries.jobs_per_query": "count",
    "queries.tasks_per_query": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.task_busy_share": "ratio",
    "spark.gc_share": "ratio",
    # tracing overhead of the op loop; setup is never traced, memory is a
    # process-wide high-water mark and space_amp depends on the table's age
    "overhead.op_mean_ms": "ms",
}


def configure_env(root: str, work: str) -> dict[str, str]:
    """Process-wide settings, pinned before the JVM starts; returns the Spark
    confs the session is built with."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package (mapInPandas/applyInPandas) and the
    # benchmark's own fetchers by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    for p in (root, here):
        if p not in sys.path:
            sys.path.insert(0, p)
    # the driver heap is the package's own default; only temp and Derby
    # locations are redirected into the run's directory
    java_opts = f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp}"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        # the status REST API must still hold every job of a traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(confs: dict[str, str]):
    from data_integration_celery_spark.session import get_spark
    spark = get_spark("perfbench", extra_conf=confs)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the JVM is up and runs jobs
    return spark


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python driver plus the JVM, in MB."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vmhwm_kb(os.getpid()) + _vmhwm_kb(jvm)) / 1024.0


def retained_mb(spark) -> dict[str, float]:
    """Memory the run holds on to, in MB: this Python driver's peak RSS plus
    what the JVM uses after full GCs (live heap, and non-heap: classes, JIT
    code, buffers).  The JVM's own RSS mostly tracks how far the collector
    let the heap grow, which varies by tens of percent between runs."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    # Spark's context cleaner frees shuffle and broadcast state only after a
    # collection has cleared its weak references, so one GC may still count
    # tens of MB of it
    for _ in range(3):
        mem.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed())
        time.sleep(0.5)
    mb = 2.0 ** 20
    return {"python": _vmhwm_kb(os.getpid()) / 1024.0,
            "heap": min(heap) / mb,
            "non_heap": mem.getNonHeapMemoryUsage().getUsed() / mb}


def run_loop(wl, state, tracer, seconds: float,
             traced: list[bool] | None = None) -> dict:
    """Closed loop: the next op starts when the previous one (and its
    untimed output check) has finished, until ``seconds`` have passed, every
    op has run or an op raised.  ``traced`` says per op whether the tracer
    is on; by default the loop runs the workload's ``MAX_OPS`` ops
    untraced."""
    plan = traced or [False] * wl.MAX_OPS
    res: list[OpResult] = []
    failed = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline and len(res) < len(plan):
        tracer.enabled = plan[len(res)]
        wall0 = time.time()
        try:
            with tracer.span("bench.op"):
                r = wl.op(state, len(res))
        except Exception:  # a failed op counts and ends the loop
            traceback.print_exc(file=sys.stderr)
            res.append(OpResult(0.0, ok=False))
            failed += 1
            break
        r.traced, r.wall = tracer.enabled, (wall0, time.time())
        res.append(r)
        failed += not r.ok
    tracer.enabled = False

    def mean(on: bool) -> float:
        return statistics.fmean(
            [r.ms for r in res if r.ok and r.traced == on] or [0.0])
    # space_amp is read after the loop's first op: copy-on-write versions
    # accumulate, so a later op would make it depend on the loop's length
    amps = [r.space_amp for r in res if r.space_amp is not None]
    return {"results": res, "attempted": len(res), "failed": failed,
            "mean": mean(False), "traced_mean": mean(True),
            "space_amp": amps[0] if amps else 0.0}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_integration_celery_spark",
                                       "__init__.py")):
        print("perfbench: no data_integration_celery_spark package in the "
              "working directory; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    confs = configure_env(root, work)

    wl = import_module(args.workload)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    spark = None
    state = None
    try:
        t0 = time.perf_counter()
        spark = start_session(confs)
        launch_s = time.perf_counter() - t0
        if not gen.self_check(os.path.join(work, "gen-check"), args.seed):
            print("perfbench: input generator is not deterministic",
                  file=sys.stderr)
            return 3
        tracer = tr.Tracer(spark, run_id)
        # setup = launch + build (inputs) + warm-up, each once and untraced:
        # session launch, warm-up and stream start cannot be repeated within
        # a run's time budget
        t = time.perf_counter()
        state = wl.build(Ctx(spark, os.path.join(work, "state"), args.seed,
                             tracer))
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(state)
        warm_s = time.perf_counter() - t
        setup_s = launch_s + build_s + warm_s
        print(f"perfbench: launch {launch_s:.2f}s build {build_s:.2f}s "
              f"warm-up {warm_s:.2f}s", file=sys.stderr)

        # a traced run runs twice the ops (and time), in the order
        # U T T U U T ...: against ops that keep speeding up, traced and
        # untraced ops sit at about the same mean position
        order = ([k % 4 in (1, 2) for k in range(2 * wl.MAX_OPS)]
                 if args.trace else None)
        loop = run_loop(wl, state, tracer,
                        args.seconds * (2 if args.trace else 1), order)
        peak_rss = rss_mb(spark)
        retained = retained_mb(spark)
        print(f"perfbench: peak RSS {peak_rss:.0f} MB, retained " + ", ".join(
            f"{k} {v:.0f}" for k, v in retained.items()) + " MB",
            file=sys.stderr)
        ok_final, final_info = wl.finish(state)
        state = None
        attempted, failed = loop["attempted"], loop["failed"]
        if not ok_final:
            print(f"perfbench: final check failed: {final_info}",
                  file=sys.stderr)
            failed = attempted
        e2e = {"setup_s": setup_s, "op_mean_ms": loop["mean"],
               "retained_mb": sum(retained.values()), "space_amp": loop["space_amp"]}
        print(f"perfbench: op ms {[round(x.ms) for x in loop['results']]}"
              + (f" traced {[x.traced for x in loop['results']]}"
                 if args.trace else ""), file=sys.stderr)
        print(f"perfbench: {args.workload} n={loop['attempted']} " +
              " ".join(f"{k}={v:.4g}" for k, v in e2e.items()),
              file=sys.stderr)
        if args.trace:
            values = layers.per_layer(spark, tracer, loop,
                                      launch_ms=launch_s * 1e3)
            values.update({
                "setup.warmup_ms": warm_s * 1e3,
                "memory.peak_rss_mb": peak_rss,
                "overhead.op_mean_ms": loop["traced_mean"] - loop["mean"],
            })
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tr.dump(os.path.join(base, "traces", f"{run_id}.json"),
                    tracer.spans, {"per_layer": values,
                                   "detail": layers.detail(tracer.spans,
                                                           loop)})
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        out = {"correct": bool(ok_final and failed == 0),
               "attempted": int(attempted), "failed": int(failed),
               "metrics": metrics}
    finally:
        if state is not None:
            try:
                wl.finish(state)
            except Exception:
                traceback.print_exc(file=sys.stderr)
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


def stop_jvm(spark) -> None:
    """Stop the context, then the gateway JVM this process launched, and wait
    for it (Python workers exit with it)."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
