"""Run one workload on several seeds, one run after another, and print each
end-to-end metric's median, quartiles, tail and spread over the runs.

    python3 perfbench/spread.py --workload parse_induce --seeds 101-110

Spread is (q3 - q1) / median, the quartiles as ``statistics.quantiles(n=4)``
gives them: the figure a metric's bound in BENCHMARK.json must cover.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    bad = 0
    for seed in seed_list(args.seeds):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        ok = result.get("correct") and not result.get("failed")
        bad += not ok
        print(
            f"seed {seed}: rc {proc.returncode} correct {bool(ok)} "
            f"elapsed {time.time() - t:.1f} s "
            f"load {detail.get('host', {}).get('loadavg_before')} "
            + " ".join(f"{k}={m['value']:.4g}" for k, m in result.get("metrics", {}).items()),
            flush=True,
        )
        for k, m in result.get("metrics", {}).items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    print(f"{'metric':<14} {'unit':<7} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7}")
    for k, v in values.items():
        s = stats.summary(v)
        print(
            f"{k:<14} {units[k]:<7} {s['n']:>3} {s['median']:>10.4g} {s['q1']:>10.4g} "
            f"{s['q3']:>10.4g} {(s['q3'] - s['q1']) / s['median']:>7.3f}"
        )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
