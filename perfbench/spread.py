"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload olap_mix --seeds 1 2 3 4 5 6 7 8 9 10
    python3 perfbench/spread.py --workload olap_mix --seeds 1 2 3 --overhead

For every end-to-end metric, and the wall-clock metrics of the REPORT
line, it prints the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound in
BENCHMARK.json. With ``--overhead`` each seed runs untraced and
traced, and the tracing overhead per op is the traced run's median op
wall time minus the untraced run's ``op_p50_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import iqr_share  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """The final result line and the REPORT line of one run."""
    # To a file, not a pipe: a process that outlives the run and still holds
    # the pipe would make this wait for it, and hide it from ``spawned_by_runs``.
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spread-{workload}-seed{seed}-trace{trace}.txt")
    with open(path, "w") as f:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, stdout=f, stderr=subprocess.DEVNULL, timeout=300, check=True)
    with open(path) as f:
        out = f.read().strip().splitlines()
    return json.loads(out[-1]), json.loads(out[-2].removeprefix("REPORT "))


def spawned_by_runs() -> set[int]:
    """Processes that ``run.py`` started: their environment holds the
    ``SPARK_LOCAL_DIRS`` it sets under ``perfbench/_work``."""
    mark = ("SPARK_LOCAL_DIRS=" + os.path.join(HERE, "_work") + os.sep).encode()
    out = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if any(v.startswith(mark) for v in env):
            out.add(int(entry))
    return out


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()

    results, overhead, correct = [], [], []
    for seed in args.seeds:
        r, rep = run_once(args.workload, seed, args.seconds, 0)
        metrics = {**r["metrics"], **rep["wall_clock"]}
        left = sorted(spawned_by_runs())
        if left:
            sys.exit(f"seed {seed}: processes left running after the run: {left}")
        results.append(metrics)
        correct.append(r["correct"])
        line = {"seed": seed, "correct": r["correct"], "failed": r["failed"],
                "steal": round(rep["samples"]["host_steal_share"], 3),
                **{k: round(v["value"], 4) for k, v in metrics.items()}}
        if args.overhead:
            t, _ = run_once(args.workload, seed, args.seconds, 1)
            line["trace.op_wall_s"] = t["metrics"]["trace.op_wall_s"]["value"]
            overhead.append(line["trace.op_wall_s"] - metrics["op_p50_s"]["value"])
        print(json.dumps(line), flush=True)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':<14}{'median':>12}{'spread':>9}{'bound':>7}")
    for name in results[0]:
        vals = [m[name]["value"] for m in results]
        spread = iqr_share(vals) if len(vals) > 1 and statistics.median(vals) else 0.0
        bound = f"{bounds[name]:>7.2f}" if name in bounds else "      -"
        print(f"{name:<14}{statistics.median(vals):>12.4f}{spread:>9.3f}{bound}")
    if overhead:
        print(f"tracing overhead per op: median {statistics.median(overhead):.4f} s "
              f"over {len(overhead)} seeds")
    return 0 if all(correct) else 1


if __name__ == "__main__":
    sys.exit(main())
