"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones; with --trace 1 each layer
call also runs under its own Spark job group and the metrics are the
per-layer ones.  The line before it ("detail: {...}") carries the
workload's own named figures.  Exits non-zero when an answer disagrees
with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _hygienic_env(root: str) -> dict[str, str] | None:
    """Environment the run needs; None when the current one already fits.
    Python workers import joie_spark, so the root goes on PYTHONPATH; a
    fixed hash seed makes set and dict order in this process repeat."""
    env = dict(os.environ)
    paths = [root, HERE]
    env["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                 if p and p not in paths])
    env["PYTHONHASHSEED"] = "0"
    return env if any(os.environ.get(k) != v for k, v in env.items()) else None


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every descendant
    process (the JVM and its Python workers) has exited."""
    from observe import descendants

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while live := descendants(os.getpid()):
        if time.time() > deadline:
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def main() -> int:
    process_t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
    args = _parse_args()
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "joie_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (joie_spark/ not found)",
              file=sys.stderr)
        return 2
    env = _hygienic_env(root)
    if env is not None:
        env["PERFBENCH_T0"] = repr(process_t0)
        os.execve(sys.executable, [sys.executable] + sys.argv, env)
    sys.path[:0] = [root, HERE]

    import observe
    import workloads

    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # shuffle scratch and temp files stay inside the checkout
    os.environ["JOIE_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    steal0 = observe.steal_seconds()
    peak = observe.PeakRss()
    out = workloads.Outcome()
    spark = None
    try:
        spark, get_spark_s = workloads.start_spark(os.environ["TMPDIR"])
        peak.sample()
        out.phase("spark")
        workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, bool(args.trace), work, process_t0, peak, out)
        peak.sample()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out.phase("teardown")

    steal_s = observe.steal_seconds() - steal0
    if args.trace:
        layers = dict.fromkeys(workloads.per_layer_names(), 0.0)
        layers.update(out.layers)
        layers["session.get_spark_s"] = get_spark_s
        layers["host.steal_s"] = steal_s
        for m in workloads.END_TO_END:
            layers[f"trace.{m}"] = out.e2e[m]
        metrics = {k: layers[k] for k in workloads.per_layer_names()}
    else:
        metrics = {k: out.e2e[k] for k in workloads.END_TO_END}
    detail = dict(out.detail, peak_rss_mb=peak.mb(), steal_s=steal_s,
                  error_share=out.failed / out.attempted, problems=out.problems,
                  phase_s=out.phases)
    print("detail: " + json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0 if out.failed == 0 else 1


_UNIT_BY_SUFFIX = [("throughput_per_s", "1/s"), ("_bytes", "bytes"), ("_ms_per_item", "ms"),
                   ("_ms", "ms"), ("_ms_p50", "ms"), ("_us_p50", "us"), ("_s", "s")]


def _unit(name: str) -> str:
    return next((u for suffix, u in _UNIT_BY_SUFFIX if name.endswith(suffix)), "count")


if __name__ == "__main__":
    sys.exit(main())
