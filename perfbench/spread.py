"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads pact,curation --seeds 1-10
    python3 perfbench/spread.py --workloads curation --seeds 1-3 --trace both

For each workload and metric: median, quartiles and the quartile spread
(Q3 - Q1) / median over the seeds, next to the bound in BENCHMARK.json,
and how long each run took. With ``--trace both`` it also reports the
tracing overhead: traced ``trace.wall_s`` minus untraced ``wall_s``
(medians over the seeds). Runs are sequential, one process at a time,
with workloads interleaved within each seed; each run's standard output
is kept in .perfbench/spread/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench", "spread")


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    took = time.monotonic() - t0
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{workload}-trace{trace}-seed{seed}.txt"), "w") as f:
        f.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), took


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    workloads = args.workloads.split(",")
    # Workloads and modes alternate within each seed, so that a drift in the
    # machine's speed during the runs lands on every workload and on both
    # sides of the tracing overhead, rather than on one workload's set.
    values: dict[tuple[str, int], dict[str, list[float]]] = {}
    took: dict[tuple[str, int], list[float]] = {}
    bad: dict[tuple[str, int], int] = {}
    for seed in _seeds(args.seeds):
        for workload in workloads:
            for trace in modes:
                key = (workload, trace)
                result, secs = run_one(bench, workload, seed, trace)
                took.setdefault(key, []).append(secs)
                bad[key] = bad.get(key, 0) + result["failed"]
                for k, v in result["metrics"].items():
                    values.setdefault(key, {}).setdefault(k, []).append(v["value"])
                print(f"{workload} trace={trace} seed={seed} {secs:.1f}s failed={result['failed']}",
                      flush=True)
    for workload in workloads:
        medians = {}
        for trace in modes:
            key = (workload, trace)
            print(f"== {workload} trace={trace}: {len(took[key])} runs, run wall "
                  f"median {statistics.median(took[key]):.1f}s max {max(took[key]):.1f}s, "
                  f"failed {bad[key]}")
            for k, vals in values[key].items():
                if len(vals) < 2:
                    continue
                med, q1, q3, sp = spread(vals)
                medians[k] = med
                bound = bounds.get(k)
                flag = "" if bound is None else f"  bound {bound} ({'ok' if sp < bound / 3 else 'WIDE'})"
                print(f"  {k:32s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  spread {sp:6.3f}{flag}")
                print(f"  {'':32s} " + " ".join(f"{v:.4g}" for v in vals))
        if "wall_s" in medians and "trace.wall_s" in medians:
            print(f"  tracing overhead: {medians['trace.wall_s'] - medians['wall_s']:.3f} s per pass "
                  f"({medians['trace.wall_s'] / medians['wall_s'] - 1:+.1%})")
    print(f"total run wall {sum(sum(v) for v in took.values()):.0f}s over "
          f"{sum(len(v) for v in took.values())} runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
