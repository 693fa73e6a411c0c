#!/usr/bin/env python
"""Composed-curation-lifecycle 2:8 scaling evidence (tools/curate_docs.py):
run the full curate() pipeline at two parallelism levels in separate JVMs,
interleaved trials, paired efficiencies, merged into BENCH/scaling.json
under --run-name — same protocol as tools/bench_query_scaling.py.

Each trial is a FRESH session and a fresh temp output dir (the lifecycle
writes quarantine + kept corpora; CacheManager subplan substitution makes
same-session timing meaningless — CLAUDE.md).

Usage: python tools/bench_curate_scaling.py --data-dir /tmp/lad_docs2m \
           --pair 2:8 --trials 2 --run-name r7_curate_2m
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, shutil, sys, tempfile
sys.path.insert(0, {root!r})
sys.path.insert(0, {root!r} + "/tools")
from log_anomaly_detector_spark.session import get_spark, quiesce
from curate_docs import curate

spark = get_spark("curate_scale", master="local[{cores}]")
out_dir = tempfile.mkdtemp(prefix="curate_scale_")
try:
    m = curate(spark, {data_dir!r}, out_dir, eval_dir=None)
finally:
    quiesce(spark)
    spark.stop()
shutil.rmtree(out_dir, ignore_errors=True)
with open({out_path!r}, "w") as f:
    json.dump({{"curate_full": m["wall_sec"], "kept": m["kept_docs"],
               "input": m["input_docs"]}}, f)
"""


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(data_dir: str, cores: int) -> dict:
    fd, out_path = tempfile.mkstemp(prefix="cscale_")
    os.close(fd)
    load_before = loadavg()
    code = _WORKER.format(root=ROOT, cores=cores, data_dir=data_dir,
                          out_path=out_path)
    try:
        r = subprocess.run([sys.executable, "-c", code],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            raise RuntimeError(
                f"curate scaling worker (local[{cores}]) exited "
                f"{r.returncode}; stderr tail above"
            )
        with open(out_path) as f:
            res = json.load(f)
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass
    return {
        "cores": cores,
        "walls": {"curate_full": res["curate_full"]},
        "kept": res["kept"],
        "input": res["input"],
        "host_load_before": load_before,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--pair", default="2:8")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--run-name", required=True)
    args = ap.parse_args()

    n, n4 = (int(x) for x in args.pair.split(":"))
    trials: dict[int, list[dict]] = {n: [], n4: []}
    partial_path = os.path.join(ROOT, "BENCH", f".{args.run_name}.partial.json")
    for t in range(args.trials):
        for c in (n, n4):  # interleave so load drift hits both configs
            r = run_once(args.data_dir, c)
            trials[c].append(r)
            print(f"trial {t} local[{c}]: {r['walls']} "
                  f"(host load {r['host_load_before']})", flush=True)
            with open(partial_path, "w") as f:
                json.dump(trials, f, indent=2)

    paired = [
        round(trials[n][t]["walls"]["curate_full"]
              / ((n4 / n) * trials[n4][t]["walls"]["curate_full"]), 3)
        for t in range(args.trials)
    ]
    med = statistics.median(paired)
    results = {
        "data_dir": args.data_dir,
        "pair": args.pair,
        "trials": trials,
        "queries": {
            "curate_full": {
                "wall_n_median": statistics.median(
                    r["walls"]["curate_full"] for r in trials[n]
                ),
                "wall_4n_median": statistics.median(
                    r["walls"]["curate_full"] for r in trials[n4]
                ),
                "efficiency_paired_trials": paired,
                "efficiency": med,
            }
        },
    }
    print(f"curate_full: paired efficiencies {paired} (median {med})")

    out_path = os.path.join(ROOT, "BENCH", "scaling.json")
    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged[args.run_name] = results
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    try:
        os.unlink(partial_path)
    except OSError:
        pass
    print("wrote BENCH/scaling.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
