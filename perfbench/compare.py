"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the lines ``run.py --save FILE`` appends, one per run.
For every workload and end-to-end metric in BENCHMARK.json this prints
each side's median and quartiles (``statistics.quantiles(n=4)``) and
the change of the median, signed so that a positive change is worse,
as a share of the base median. The verdict against the metric's bound:

- ``worse``: the change exceeds the bound;
- ``unresolved``: either side's spread (quartile distance ÷ median)
  exceeds the bound, unless every new run reads better than every
  base run;
- ``better`` / ``within bound`` otherwise.

Traced runs and runs that failed their check are left out and counted.
Where a file also holds traced runs, the tracing overhead is printed
per workload: the median untraced ``docs_per_s`` over the median traced
``trace.traced_docs_per_s``, minus one.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> tuple[dict, int]:
    """{workload: {metric: [values]}} over correct untraced runs, and
    how many runs were left out. Traced runs' metrics go under the
    key ``(workload, "traced")``."""
    vals: dict = defaultdict(lambda: defaultdict(list))
    skipped = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            rec = json.loads(line)
            res = rec["result"]
            if rec["trace"]:
                skipped += 1
                key = (rec["workload"], "traced")
            elif not res["correct"] or res["failed"]:
                skipped += 1
                continue
            else:
                key = rec["workload"]
            for name, m in res["metrics"].items():
                vals[key][name].append(m["value"])
    return vals, skipped


def tracing_overhead(vals: dict, workload: str) -> float | None:
    untraced = vals[workload]["docs_per_s"]
    traced = vals[(workload, "traced")]["trace.traced_docs_per_s"]
    if not untraced or not traced:
        return None
    return statistics.median(untraced) / statistics.median(traced) - 1


def summary(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(base: list[float], new: list[float], better: str, bound: float):
    sign = 1 if better == "lower" else -1
    bq1, bmed, bq3 = summary(base)
    nq1, nmed, nq3 = summary(new)
    worse_by = sign * (nmed - bmed) / bmed
    spread = max((bq3 - bq1) / bmed, (nq3 - nq1) / nmed)
    if better == "lower":
        all_better = max(new) < min(base)
    else:
        all_better = min(new) > max(base)
    if worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse_by < 0:
        v = "better"
    else:
        v = "within bound"
    return (bq1, bmed, bq3), (nq1, nmed, nq3), worse_by, spread, v


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    (base, bskip), (new, nskip) = load(argv[0]), load(argv[1])
    print(f"left out (traced or failed): base {bskip}, new {nskip}")
    print(f"{'workload':16} {'metric':18} {'n':>5} {'base q1/med/q3':>30} "
          f"{'new q1/med/q3':>30} {'worse_by':>9} {'spread':>7} {'bound':>6} verdict")
    for w in bench["workloads"]:
        name = w["name"]
        for m in bench["end_to_end"]:
            b, n = base[name][m["name"]], new[name][m["name"]]
            if not b or not n:
                print(f"{name:16} {m['name']:18} missing runs")
                continue
            bs, ns, worse_by, spread, v = verdict(b, n, m["better"], m["bound"])
            fmt = "/".join
            print(
                f"{name:16} {m['name']:18} {len(b):>2}/{len(n):<2} "
                f"{fmt(f'{x:.4g}' for x in bs):>30} {fmt(f'{x:.4g}' for x in ns):>30} "
                f"{worse_by:>+9.3f} {spread:>7.3f} {m['bound']:>6} {v}"
            )
    for side, vals in (("base", base), ("new", new)):
        for w in bench["workloads"]:
            o = tracing_overhead(vals, w["name"])
            if o is not None:
                print(f"tracing overhead {side} {w['name']}: {o:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
