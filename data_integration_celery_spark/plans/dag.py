"""Minimal DAG runner replacing the reference's Celery orchestration (§2.11).

Reference: Celery chains ``a.s() | b.s()`` and groups ``group([...])``
(/root/reference tasks/__init__.py:102-156, tasks/wind/__init__.py:33-66),
beat cron for scheduling. Here a Job is a named callable taking the
SparkSession; a Pipeline starts each job as soon as its own dependencies have
succeeded, so independent jobs run concurrently on a driver thread pool and
share Spark's FIFO scheduler (Spark is the parallelism layer; no process
pools). A failed job skips its downstream subtree, matching Celery chain
semantics.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Job:
    name: str
    fn: Callable[[SparkSession], object]
    depends_on: list[str] = field(default_factory=list)


@dataclass
class JobResult:
    name: str
    ok: bool
    seconds: float
    error: str | None = None


class Pipeline:
    """chain = dependency edge; group = jobs with no edge between them. A job
    starts when its dependencies succeed and is skipped when one fails."""

    def __init__(self, jobs: list[Job], max_parallel: int = 4):
        self.jobs = {j.name: j for j in jobs}
        if len(self.jobs) != len(jobs):
            raise ValueError("duplicate job names")
        for j in jobs:
            for dep in j.depends_on:
                if dep not in self.jobs:
                    raise ValueError(f"{j.name} depends on unknown job {dep!r}")
        self.max_parallel = max_parallel

    def run(self, spark: SparkSession) -> dict[str, JobResult]:
        results: dict[str, JobResult] = {}

        def run_job(job: Job) -> JobResult:
            t0 = time.perf_counter()
            try:
                job.fn(spark)
                return JobResult(job.name, True, time.perf_counter() - t0)
            except Exception:
                return JobResult(job.name, False, time.perf_counter() - t0,
                                 traceback.format_exc())

        waiting = list(self.jobs.values())
        running = set()
        with ThreadPoolExecutor(max_workers=self.max_parallel) as pool:
            while waiting or running:
                still = []
                for job in waiting:
                    deps = [results.get(d) for d in job.depends_on]
                    if any(r is not None and not r.ok for r in deps):
                        # a skip is itself a failed result, so the skip
                        # reaches the whole subtree over later passes
                        results[job.name] = JobResult(
                            job.name, False, 0.0, "skipped: upstream failed")
                    elif all(r is not None for r in deps):
                        running.add(pool.submit(run_job, job))
                    else:
                        still.append(job)
                progressed, waiting = len(still) < len(waiting), still
                if running:
                    done, running = wait(running, return_when=FIRST_COMPLETED)
                    for f in done:
                        res = f.result()
                        results[res.name] = res
                elif not progressed:
                    # nothing runs and nothing can start or be skipped:
                    # every job left waits on a dependency cycle
                    for job in waiting:
                        results[job.name] = JobResult(
                            job.name, False, 0.0, "dependency cycle")
                    break
        return results
