"""Compare two sets of untraced benchmark reports, metric by metric.

    python3 perfbench/compare.py 'perfbench/out/base/*.json' 'perfbench/out/new/*.json'

For each workload and end-to-end metric it prints both sides' medians and
quartiles and the change of the median as a share of the base median,
against the metric's bound in ``BENCHMARK.json``. It refuses sets whose
runs had different core counts: the core count changes store layouts, so
such numbers are not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(pattern: str) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for path in glob.glob(pattern):
        with open(path) as f:
            rep = json.load(f)
        if rep["stamp"]["trace"]:
            continue
        out[rep["stamp"]["workload"]]["nproc"].append(rep["stamp"]["nproc"])
        for k, v in rep["end_to_end"].items():
            if v is not None:
                out[rep["stamp"]["workload"]][k].append(v)
    return out


def main() -> int:
    base, new = load(sys.argv[1]), load(sys.argv[2])
    cores = {n for side in (base, new) for wl in side.values() for n in wl["nproc"]}
    if len(cores) > 1:
        print(f"compare: refused, runs used different core counts {sorted(cores)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    for wl in sorted(set(base) & set(new)):
        for metric, bound in bounds.items():
            a, b = base[wl].get(metric), new[wl].get(metric)
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            qa = statistics.quantiles(a, n=4) if len(a) > 1 else [ma] * 3
            qb = statistics.quantiles(b, n=4) if len(b) > 1 else [mb] * 3
            change = (mb - ma) / ma
            verdict = "worse" if change > bound else "ok"
            print(
                f"{wl:14s} {metric:12s} base {ma:.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(a)}  "
                f"new {mb:.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(b)}  "
                f"change {change:+.1%} (bound {bound:.0%}) {verdict}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
