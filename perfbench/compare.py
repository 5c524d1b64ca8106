"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records that ``perfbench/run.py`` appends (one JSON
object per run). Every (metric, workload) pair gets its own row: each
side's median, quartiles and run count, the change, and a verdict:

  better      NEW wins at least 9 of 10 runs paired by seed, and the
              medians differ by more than BASE's quartile spread
  worse       NEW's median is worse by more than the metric's bound
  unresolved  BASE's own spread is wider than the bound, and not every
              NEW run beats every BASE run
  same        within the bound

Per-layer metrics (from --trace 1 runs) have no bound; the ones whose
median moved by more than 10% or by more than BASE's spread are listed
as "moved", which names the layer a change acted on.

A gain does not count when NEW is less correct than BASE: each side's
incorrect runs and failed ops are printed per workload, and when NEW
has an incorrect run or more failed ops than BASE, its "better"
verdicts read "void". Exit code 1 when any end-to-end metric is worse
or NEW is less correct.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MOVED = 0.10


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spec() -> dict[str, dict]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def series(records: list[dict], workload: str, trace: int, metric: str) -> dict[int, float]:
    """seed -> value (the last run of each seed wins)."""
    return {
        r["seed"]: r["metrics"][metric]
        for r in records
        if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]
    }


def failures(records: list[dict], workload: str) -> tuple[int, int, int]:
    """(runs, runs whose checks failed, failed ops) of a workload."""
    rs = [r for r in records if r["workload"] == workload]
    return len(rs), sum(not r["correct"] for r in rs), sum(r["failed"] for r in rs)


def verdict(base: dict[int, float], new: dict[int, float], lower_better: bool,
            bound: float | None) -> tuple[str, float]:
    b, n = list(base.values()), list(new.values())
    bq1, bmed, bq3 = quartiles(b)
    _, nmed, _ = quartiles(n)
    change = (nmed - bmed) / bmed if bmed else 0.0
    worse_by = change if lower_better else -change
    if bound is None:
        spread = (bq3 - bq1) / bmed if bmed else 0.0
        return ("moved" if abs(change) > max(MOVED, spread) else ""), change
    pairs = [(base[s], new[s]) for s in base.keys() & new.keys()]
    wins = sum(1 for x, y in pairs if (y < x if lower_better else y > x))
    if pairs and wins >= 0.9 * len(pairs) and abs(nmed - bmed) > bq3 - bq1:
        return "better", change
    if worse_by > bound:
        return "worse", change
    if bmed and (bq3 - bq1) / bmed > bound:
        all_better = (max(n) < min(b)) if lower_better else (min(n) > max(b))
        if not all_better:
            return "unresolved", change
    return "same", change


def _fmt(q: tuple[float, float, float], n: int) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] n={n}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    metrics = spec()
    for side, recs in (("base", base), ("new", new)):
        stamps = sorted({(r["tree_sha"], r["nproc"], r["pyspark"]) for r in recs})
        print(f"# {side}: " + "; ".join(f"tree {t} nproc {c} pyspark {v}" for t, c, v in stamps))
    keys = sorted({(r["workload"], r["trace"]) for r in base} & {(r["workload"], r["trace"]) for r in new})
    any_worse, less_correct = False, {}
    for workload in sorted({w for w, _ in keys}):
        b, n = failures(base, workload), failures(new, workload)
        less_correct[workload] = n[1] > 0 or n[2] > b[2]
        any_worse |= less_correct[workload]
        print(f"# {workload}: runs / incorrect / failed ops: base {b[0]} / {b[1]} / {b[2]}, "
              f"new {n[0]} / {n[1]} / {n[2]}")
    header = f"{'metric':48s} {'workload':13s} {'base median [q1, q3] n':34s} {'new median [q1, q3] n':34s} {'change':>8s}  verdict"
    print(header)
    for workload, trace in keys:
        moved = []
        for name, m in metrics.items():
            b, n = series(base, workload, trace, name), series(new, workload, trace, name)
            if not b or not n:
                continue
            v, change = verdict(b, n, m["better"] == "lower", m.get("bound"))
            if "bound" not in m:
                if v:
                    moved.append(f"{name} {change:+.1%}")
                continue
            if v == "better" and less_correct[workload]:
                v = "void"
            any_worse |= v == "worse"
            bq, nq = quartiles(list(b.values())), quartiles(list(n.values()))
            print(f"{name:48s} {workload:13s} {_fmt(bq, len(b)):34s} "
                  f"{_fmt(nq, len(n)):34s} {change:+8.1%}  {v}")
        if trace:
            print(f"# {workload}: per-layer metrics that moved: "
                  + (", ".join(moved) if moved else "none"))
    return 1 if any_worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
