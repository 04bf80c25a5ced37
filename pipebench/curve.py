"""Records the warm-up curve behind each workload's fixed warm-pass count.

One long session per seed of ``SEEDS``: set up, the cold pass, then
``PASSES`` passes, each recorded with its wall and CPU time, the host
steal during it, the JVM's committed heap and its cumulative JIT compile
time. The curves go to ``WARMUP.json`` beside this file, with their
median at each pass index and the pass index from which that median CPU
time has levelled off. A single session is not enough evidence on a
shared host: a neighbour's load can lift a whole stretch of passes.

Usage::

    python3 pipebench/curve.py --workload ingest_write
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

import layers
import run as bench

EVIDENCE = os.path.join(bench.HERE, "WARMUP.json")
SEEDS = (1, 2, 3)
PASSES = 14
LEVEL = 1.05  # within 5 % of the tail median counts as levelled off
FIELDS = ("pass_cpu_s", "pass_s", "steal_s", "heap_committed_mb", "jit_s")


def plateau_from(times: list[float]) -> int:
    """First index whose next three passes have a median within
    ``LEVEL`` of the median of the last third of the curve."""
    tail = statistics.median(times[-max(3, len(times) // 3):])
    for i in range(len(times)):
        if statistics.median(times[i:i + 3]) <= LEVEL * tail:
            return i
    return len(times)


def record(workload: str, seed: int, passes: int) -> dict:
    run_dir = os.path.join(bench.WORK, f"curve-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        run = bench.open_run(workload, seed, run_dir)
        try:
            cold_s, checks = run.runner.cold_pass()
            curve = []
            for _ in range(passes):
                steal0 = layers.steal_s()
                seconds = run.runner.run_pass()
                jvm = run.counters.jvm()
                curve.append({
                    "pass_s": round(seconds, 4),
                    "pass_cpu_s": round(run.runner.cpu_s[-1], 3),
                    "steal_s": round(layers.steal_s() - steal0, 2),
                    "heap_committed_mb": round(jvm["heap_committed_mb"], 1),
                    "jit_s": round(jvm["jit_s"], 3),
                })
        finally:
            run.close()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "seed": seed,
        "setup_s": round(run.setup_cpu_s, 3),
        "setup_wall_s": round(run.create_s + run.warmup_s, 3),
        "cold_pass_cpu_s": round(run.runner.cpu_s[0], 3),
        "cold_pass_wall_s": round(cold_s, 3),
        "correct": all(c["ok"] for c in checks),
        "passes_after_cold": curve,
    }


def summarise(workload: str, runs: list[dict]) -> dict:
    median_curve = {
        key: [
            round(statistics.median(r["passes_after_cold"][i][key] for r in runs), 3)
            for i in range(len(runs[0]["passes_after_cold"]))
        ]
        for key in FIELDS
    }
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "median_curve": median_curve,
        "plateau_from_pass": plateau_from(median_curve["pass_cpu_s"]),
        "warm_passes_used": bench.WORKLOADS[workload].warm_passes,
        "runs": runs,
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    args = parser.parse_args(argv)
    if not bench.program_present():
        print(f"rdsa_utils_spark not found under {bench.ROOT}", file=sys.stderr)
        return 2
    runs = [record(args.workload, seed, PASSES) for seed in SEEDS]
    entry = summarise(args.workload, runs)
    evidence = {}
    if os.path.exists(EVIDENCE):
        with open(EVIDENCE) as fh:
            evidence = json.load(fh)
    evidence[args.workload] = entry
    with open(EVIDENCE, "w") as fh:
        json.dump(evidence, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({args.workload: {k: v for k, v in entry.items() if k != "runs"}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
