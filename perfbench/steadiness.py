"""Run a workload over several seeds and report each metric's median,
quartiles and interquartile spread (as a share of the median).

    python3 perfbench/steadiness.py --workload serve --seeds 1-10 [--trace 1]

Run from the repository root.  Runs are sequential, one process each, with
run_seconds from BENCHMARK.json.  Raw result lines are appended to
--log (one JSON object per run) so two sets can be compared later.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(runs: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "iqr_share": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", default=None, help="append raw results here")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        detail = [ln for ln in lines if ln.startswith("detail: ")]
        res.update(seed=seed, workload=args.workload, wall_s=wall,
                   detail=json.loads(detail[-1][len("detail: "):]) if detail else None)
        runs.append(res)
        print(f"seed {seed}: {wall:.1f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            if not args.trace or k.startswith("trace.")), flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps(res) + "\n")
    for name, s in summarize(runs).items():
        print(f"{name:40s} median={s['median']:.4g} q1={s['q1']:.4g} "
              f"q3={s['q3']:.4g} iqr/median={s['iqr_share']:.3f}")
    print(f"wall per run: median={statistics.median(r['wall_s'] for r in runs):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
