"""Types and helpers shared by the harness and the workloads."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


class Ctx:
    """What a workload's build gets: the session, a private directory, the
    seed and the tracer."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        os.makedirs(work, exist_ok=True)


@dataclass
class OpResult:
    """One op of a loop: its latency, whether its output checked out, the
    lake's space amplification after it, layer counters (traced ops only),
    whether it was traced and its wall-clock start and end."""
    ms: float
    ok: bool = True
    space_amp: float | None = None
    counters: dict = field(default_factory=dict)
    traced: bool = False
    wall: tuple[float, float] = (0.0, 0.0)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:  # a concurrent writer's temp file
                pass
    return total
