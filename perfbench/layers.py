"""Per-layer metrics of a traced phase.

Only spans under a ``bench.op`` span count, minus the untimed output checks
(``bench.check`` subtrees).  Shares are of the traced ops' wall time; spans
of concurrent DAG jobs overlap, so layer shares can add up to more than
100%.  Spark counters cover every job submitted while a traced op ran,
outside the checks, including the streaming query's own micro-batch jobs.
"""

from __future__ import annotations

from collections import defaultdict

import spans as tr
from common import cpu_count


def _ancestry(spans: list[tr.Span]):
    byid = {s.sid: s for s in spans}

    def chain(s: tr.Span):
        out = [s]
        while out[-1].parent in byid:
            out.append(byid[out[-1].parent])
        return out
    return {s.sid: chain(s) for s in spans}


def per_layer(spark, tracer, phase: dict, launch_ms: float) -> dict:
    spans = tracer.spans
    chains = _ancestry(spans)
    selfs = tr.self_times(spans)
    ops = [s for s in spans if s.name == "bench.op"]
    in_check = {s.sid for s in spans
                if any(a.name == "bench.check" for a in chains[s.sid])}
    in_ops = [s for s in spans if chains[s.sid][-1].name == "bench.op"
              and s.sid not in in_check]
    n_ops = max(len(ops), 1)
    check_ms = sum((s.end - s.start) * 1e3 for s in spans
                   if s.name == "bench.check")
    wall_ms = sum((s.end - s.start) * 1e3 for s in ops) - check_ms

    out: dict[str, float] = {"session.start_ms": launch_ms,
                             "op.samples": len(ops)}
    layer_ms: dict[str, float] = defaultdict(float)
    for s in in_ops:
        layer_ms[s.layer] += selfs[s.sid] * 1e3
    for layer, ms in layer_ms.items():
        out[f"self_pct.{layer}"] = 100.0 * ms / wall_ms
    for kind in ("plan", "force"):
        out[f"op.{kind}_ms"] = sum(
            (s.end - s.start) * 1e3 for s in in_ops
            if s.name.endswith("." + kind)) / n_ops

    # counters the workload measured at its own layer boundaries
    sums: dict[str, list[float]] = defaultdict(list)
    for r in phase["results"]:
        for k, v in r.counters.items():
            if isinstance(v, (int, float)):
                sums[k].append(float(v))
    out.update({k: sum(v) / len(v) for k, v in sums.items()})

    # engine counters from the status REST API
    jobs = tr.spark_jobs(spark)
    check_groups = {s.group for s in spans if s.sid in in_check}
    windows = [r.wall for r in phase["results"] if r.traced]
    in_phase = [j for j in jobs
                if any(t0 <= j["submitted"] <= t1 for t0, t1 in windows)
                and j["group"] not in check_groups]
    tot = defaultdict(float)
    for j in in_phase:
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "run_ms",
                  "gc_ms"):
            tot[k] += j[k]
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}_per_op"] = tot[k] / n_ops
    out["spark.shuffle_bytes_per_op"] = tot["shuffle_bytes"] / n_ops
    out["spark.task_busy_share"] = tot["run_ms"] / (wall_ms * cpu_count())
    out["spark.gc_share"] = tot["gc_ms"] / max(tot["run_ms"], 1.0)

    query_spans = [s for s in in_ops if s.layer == "queries"
                   and s.name.count(".") == 1]
    if query_spans:
        groups = {s.group for s in in_ops if any(
            a.sid in {q.sid for q in query_spans} for a in chains[s.sid])}
        qjobs = [j for j in jobs if j["group"] in groups]
        out["queries.jobs_per_query"] = len(qjobs) / len(query_spans)
        out["queries.tasks_per_query"] = (sum(j["tasks"] for j in qjobs)
                                          / len(query_spans))
    return out


def detail(spans: list[tr.Span], phase: dict) -> dict:
    """Milliseconds per op for every span name (total and self), DAG job
    seconds and op latencies: the breakdown behind the per-layer shares."""
    chains = _ancestry(spans)
    in_ops = [s for s in spans if chains[s.sid][-1].name == "bench.op"]
    n_ops = max(sum(1 for s in spans if s.name == "bench.op"), 1)
    per_op = {name: {"calls_per_op": d["n"] / n_ops,
                     "ms_per_op": d["ms"] / n_ops,
                     "self_ms_per_op": d["self_ms"] / n_ops}
              for name, d in sorted(tr.by_name(in_ops).items())}
    job_s: dict[str, list[float]] = defaultdict(list)
    for r in phase["results"]:
        for name, sec in r.counters.get("plans.job_s", {}).items():
            job_s[name].append(sec)
    return {"spans_per_op": per_op,
            "plans.job_s": {k: sum(v) / len(v) for k, v in job_s.items()},
            "op_ms": [r.ms for r in phase["results"]],
            "op_traced": [r.traced for r in phase["results"]]}
