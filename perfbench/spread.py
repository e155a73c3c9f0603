"""Run the benchmark once per seed and summarize each metric over the runs.

Usage, from the repository root::

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10

Each run is its own process, ``python3 perfbench/run.py ... --seconds
<run_seconds>`` with ``run_seconds`` from ``BENCHMARK.json``.  Per run it
prints the seed, the process wall and the metrics; then, per metric, the
sample count, the median, the first and third quartiles
(``statistics.quantiles(n=4)``) and the spread (quartile distance / median)
next to the metric's bound.  The last line is the same summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = p.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", "0"]
        t = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, check=False)
        walls.append(time.time() - t)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        ok = proc.returncode == 0 and res.get("correct") is True
        failed += not ok
        metrics = {k: v["value"] for k, v in res.get("metrics", {}).items()}
        print(f"seed {seed}: {walls[-1]:.1f} s, {'ok' if ok else 'FAILED'}, "
              + ", ".join(f"{k}={v:.4g}" for k, v in metrics.items()), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)

    summary = {"workload": args.workload, "runs": len(walls), "failed": failed,
               "wall_s_max": max(walls), "metrics": {}}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        summary["metrics"][k] = {"n": len(vs), "median": med, "q1": q1, "q3": q3,
                                 "spread": spread, "bound": bounds.get(k)}
        print(f"{k}: n={len(vs)} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={spread:.4f} bound={bounds.get(k)}")
    print(f"process wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(json.dumps(summary), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
