"""Paired comparisons and steadiness checks for the benchmark.

    # parent vs change, ten paired runs per workload, order alternating
    python3 perfbench/compare.py pair PARENT_DIR CHANGE_DIR [--seeds 1-10]

    # two (or more) sets of runs of one checkout must agree within the bounds
    python3 perfbench/compare.py steady DIR [--seeds 1-10] [--sets 2]

DIR is a checkout (the root of a repository copy).  Runs are sequential and
use the ``command``, ``run_seconds``, workloads, metrics and bounds of
BENCHMARK.json in the first DIR; every raw result line is appended to
``.perfbench/compare/<timestamp>.jsonl`` under the working directory.

``pair`` reports, per workload and end-to-end metric, each side's median and
quartiles, the change's win fraction over the pairs (ties count for
neither) and a verdict: ``gain`` when the change wins at least 9/10 of the
pairs and the medians differ by more than the parent's interquartile range;
``regression`` when the change's median is worse than the parent's by more
than the bound; ``unresolved`` when the parent's spread (IQR / median) is
wider than the bound, unless every change run beats every parent run;
``same`` otherwise.

``steady`` runs each set on its own seeds (set k adds 1000·k to each seed)
and reports, per set, each metric's spread (IQR / median) against its bound
and against a third of it, and the drift of each later set's median from the
first set's.  It exits non-zero when a spread or a drift exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


class Runner:
    def __init__(self, bench: dict, log_path: str):
        self.bench = bench
        self.log_path = log_path
        os.makedirs(os.path.dirname(log_path), exist_ok=True)

    def run(self, checkout: str, workload: str, seed: int, tag: str) -> dict:
        cmd = list(self.bench["command"]) + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(self.bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True,
                              text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        result = {"tag": tag, "checkout": os.path.abspath(checkout),
                  "workload": workload, "seed": seed, "rc": proc.returncode,
                  "wall_s": time.time() - t0}
        result["log"] = [ln for ln in proc.stderr.splitlines()
                         if ln.startswith("perfbench:")]
        try:
            result.update(json.loads(lines[-1]))
        except (IndexError, json.JSONDecodeError):
            result["error"] = proc.stderr[-2000:]
        with open(self.log_path, "a") as fh:
            fh.write(json.dumps(result) + "\n")
        status = "ok" if result.get("correct") else "FAILED"
        print(f"  {tag:8s} {workload:18s} seed {seed:3d} {status} "
              f"{result['wall_s']:.0f}s " + " ".join(
                  f"{k}={v['value']:.4g}"
                  for k, v in result.get("metrics", {}).items()),
              file=sys.stderr, flush=True)
        return result


def values(results: list[dict], metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in results
            if metric in r.get("metrics", {})]


def better(a: float, b: float, direction: str) -> bool:
    return a < b if direction == "lower" else a > b


def worse_by(change: float, parent: float, direction: str) -> float:
    """Share of the parent by which the change is worse (negative: better)."""
    if not parent:
        return 0.0
    d = (change - parent) / abs(parent)
    return d if direction == "lower" else -d


def workloads(args, bench: dict) -> list[str]:
    names = [w["name"] for w in bench["workloads"]]
    return [w for w in names if not args.workload or w in args.workload]


def cmd_pair(args, bench: dict, runner: Runner) -> int:
    seeds = parse_seeds(args.seeds)
    rows = []
    for w in workloads(args, bench):
        pairs = []
        for i, seed in enumerate(seeds):
            order = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                order.reverse()
            got = {tag: runner.run(d, w, seed, tag) for tag, d in order}
            pairs.append((got["parent"], got["change"]))
        for m in bench["end_to_end"]:
            name, direction, bound = m["name"], m["better"], m["bound"]
            p = values([a for a, _ in pairs], name)
            c = values([b for _, b in pairs], name)
            wins = sum(better(b["metrics"][name]["value"],
                              a["metrics"][name]["value"], direction)
                       for a, b in pairs
                       if name in a.get("metrics", {})
                       and name in b.get("metrics", {}))
            pq, cq = quartiles(p), quartiles(c)
            win = wins / len(pairs)
            if worse_by(cq[1], pq[1], direction) > bound:
                verdict = "regression"
            elif win >= 0.9 and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            elif spread(p) > bound and not all(
                    better(x, y, direction) for x in c for y in p):
                verdict = "unresolved"
            else:
                verdict = "same"
            failed = sum(r.get("failed", 0) for pr in pairs for r in pr)
            rows.append((w, name, pq, cq, win, verdict, failed))
    print(f"{'workload':18s} {'metric':12s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>5s} verdict")
    for w, name, pq, cq, win, verdict, failed in rows:
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{w:18s} {name:12s} {fmt(pq):>30s} {fmt(cq):>30s} "
              f"{win:5.2f} {verdict}" + (f" ({failed} failed ops)"
                                        if failed else ""))
    return 0


def cmd_steady(args, bench: dict, runner: Runner) -> int:
    seeds = parse_seeds(args.seeds)
    ok = True
    print(f"{'workload':18s} {'metric':12s} {'bound':>6s} "
          + " ".join(f"{'set' + str(k + 1) + ' med/spread':>24s}"
                     for k in range(args.sets)) + "  drift")
    for w in workloads(args, bench):
        sets = [[runner.run(args.dir, w, s + 1000 * k, f"set{k + 1}")
                 for s in seeds] for k in range(args.sets)]
        for m in bench["end_to_end"]:
            name, bound, direction = m["name"], m["bound"], m["better"]
            cells, meds = [], []
            for res in sets:
                v = values(res, name)
                med, sp = statistics.median(v), spread(v)
                meds.append(med)
                flag = "" if sp < bound / 3 else ("~" if sp <= bound else "!")
                if sp > bound:
                    ok = False
                cells.append(f"{med:12.5g}/{sp:6.3f}{flag:1s}")
            drift = max(worse_by(x, meds[0], direction) for x in meds[1:]) \
                if len(meds) > 1 else 0.0
            if drift > bound:
                ok = False
            print(f"{w:18s} {name:12s} {bound:6.2f} "
                  + " ".join(f"{c:>24s}" for c in cells)
                  + f"  {drift:+.3f}")
        failed = sum(r.get("failed", 0) for res in sets for r in res)
        wrong = sum(not r.get("correct") for res in sets for r in res)
        if failed or wrong:
            ok = False
            print(f"{w}: {wrong} incorrect runs, {failed} failed ops")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Paired comparison and steadiness check "
                    "(see the module docstring).")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pair")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--seeds", default="1-10")
    s = sub.add_parser("steady")
    s.add_argument("dir")
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--sets", type=int, default=2)
    for sp in (p, s):
        sp.add_argument("--workload", action="append",
                        help="only this workload (repeatable)")
    args = ap.parse_args(argv)
    first = args.parent if args.cmd == "pair" else args.dir
    with open(os.path.join(first, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    log = os.path.join(".perfbench", "compare",
                       time.strftime("%Y%m%d-%H%M%S") + ".jsonl")
    runner = Runner(bench, log)
    return (cmd_pair if args.cmd == "pair" else cmd_steady)(args, bench,
                                                            runner)


if __name__ == "__main__":
    sys.exit(main())
