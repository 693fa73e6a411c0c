#!/usr/bin/env python
"""Scaling-efficiency evidence for BENCH/BASELINE.md.

Runs the identical validation job (same input, warm-measured) at two
parallelism levels — N and 4N local cores — in separate JVMs, several trials
each, and reports throughput + efficiency = thr(4N) / (4 · thr(N)).

The sandbox has no cluster; per the driver instruction this stands in for
the north rule's two-cluster-size criterion. Host co-tenancy note: this box
runs other tenants (load average fluctuates 7-23 of 32 cores), so the N/4N
pair must leave headroom — pairs are configurable; results record the host
load alongside each trial.

Usage: python tools/bench_scaling.py --data-dir /tmp/lad_scale \
           --pairs 2:8,8:32 --trials 2 --write-md
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


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(data_dir: str, cores: int) -> dict:
    out_dir = f"/tmp/lad_scaling_out_{cores}_{int(time.time()*1000)}"
    load_before = loadavg()
    r = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "run_validation.py"),
            "--data-dir", data_dir, "--out", out_dir,
            "--master", f"local[{cores}]", "--warmup",
        ],
        capture_output=True, text=True, check=True,
    )
    line = r.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    subprocess.run(["rm", "-rf", out_dir], check=False)
    return {
        "cores": cores,
        "rows": d["rows_validated"],
        "wall_sec": d["wall_sec"],
        "rows_per_sec": d["rows_per_sec"],
        "job_secs": d["job_secs"],
        "host_load_before": load_before,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--pairs", default="2:8,8:32")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--run-name", default=None,
                    help="merge results under this key in scaling.json instead of overwriting")
    args = ap.parse_args()

    cores_needed = sorted(
        {int(c) for pair in args.pairs.split(",") for c in pair.split(":")}
    )
    trials: dict[int, list[dict]] = {c: [] for c in cores_needed}
    for t in range(args.trials):
        for c in cores_needed:  # interleave so load drift hits all configs
            r = run_once(args.data_dir, c)
            trials[c].append(r)
            print(
                f"trial {t} local[{c}]: {r['rows_per_sec']:.0f} rows/s "
                f"({r['wall_sec']}s, host load {r['host_load_before']})",
                flush=True,
            )

    best = {c: max(rs, key=lambda r: r["rows_per_sec"]) for c, rs in trials.items()}
    results = {"trials": trials, "best": best, "pairs": {}}
    for pair in args.pairs.split(","):
        n, n4 = (int(x) for x in pair.split(":"))
        eff = best[n4]["rows_per_sec"] / ((n4 / n) * best[n]["rows_per_sec"])
        # per-trial paired efficiency: both legs of one trial ran in the same
        # load window, so the best paired trial is the fairer headline when
        # co-tenant load fluctuates between trials
        paired = [
            round(
                trials[n4][t]["rows_per_sec"]
                / ((n4 / n) * trials[n][t]["rows_per_sec"]),
                3,
            )
            for t in range(min(len(trials[n]), len(trials[n4])))
        ]
        # headline = MEDIAN paired efficiency: the best pair overstates
        # scaling on a noisy co-tenanted host; per-trial values stay recorded
        # as supporting evidence (with host load, below in "trials").
        med = statistics.median(paired) if paired else None
        results["pairs"][pair] = {
            "thr_n": best[n]["rows_per_sec"],
            "thr_4n": best[n4]["rows_per_sec"],
            "factor": n4 / n,
            "efficiency_best_of_sides": round(eff, 3),
            "efficiency_paired_trials": paired,
            "efficiency_best_pair": max(paired) if paired else None,
            "efficiency": med,
        }
        print(
            f"pair {pair}: paired efficiencies {paired} "
            f"(median {med} | best pair {max(paired) if paired else None} "
            f"| best-of-sides {eff:.3f})"
        )

    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    out_path = os.path.join(ROOT, "BENCH", "scaling.json")
    if args.run_name:
        # merge as a named run next to previous rounds' evidence
        merged = {}
        if os.path.exists(out_path):
            with open(out_path) as f:
                merged = json.load(f)
            if "trials" in merged:  # legacy flat layout
                merged = {"run_legacy": merged}
        merged[args.run_name] = results
        results = merged
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    print("wrote BENCH/scaling.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
