"""Fast self-check of the benchmark, at a small input scale with one short
window per workload:

- every metric ``BENCHMARK.json`` names is printed, with its unit, by the
  untraced (end-to-end) and traced (per-layer) runs of every workload;
- every span of the traced runs has a parent that resolves;
- the correctness gate fails (exit code and ``"correct": false``) when it
  is fed a wrong expected value.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, str | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", SF, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    report = next((ln.split(" ", 2)[2] for ln in lines if ln.startswith("perfbench: report ")), None)
    return p.returncode, json.loads(lines[-1]) if lines else {}, report


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, out, report = run(wl, trace)
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            if code != 0 or not out.get("correct"):
                problems.append(f"{wl} trace={trace}: exit {code}, result {out}")
            if got != want[trace]:
                diff = set(got.items()) ^ set(want[trace].items())
                problems.append(f"{wl} trace={trace}: metrics/units differ: {sorted(diff)}")
            if trace and report:
                with open(report.replace(".json", ".spans.json")) as f:
                    spans = json.load(f)["spans"]
                ids = {s["id"] for s in spans}
                bad = [s for s in spans if s["parent"] is not None and s["parent"] not in ids]
                if not spans or bad:
                    problems.append(f"{wl}: {len(spans)} spans, {len(bad)} with unresolved parents")
        code, out, _ = run(wl, 0, "--corrupt-expected")
        if code == 0 or out.get("correct") is not False:
            problems.append(f"{wl}: a wrong expected value passed the gate (exit {code})")
        print(f"selfcheck: {wl} done", flush=True)
    for p in problems:
        print(f"selfcheck: FAIL {p}")
    print("selfcheck: OK" if not problems else f"selfcheck: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
