#!/usr/bin/env python
"""Per-query scaling evidence (the dedup/ANN tier's analogue of
tools/bench_scaling.py): run contract queries warm-measured at two
parallelism levels in separate JVMs, interleaved trials, paired
efficiencies, merged into BENCH/scaling.json under --run-name.

Efficiency for a query = wall(N) / ((4N/N) · wall(4N)) — identical rows at
both levels, so the wall ratio IS the throughput ratio. Same co-tenancy
protocol as the engine harness: interleave, record host load, headline the
MEDIAN paired trial.

Usage: python tools/bench_query_scaling.py --data-dir /tmp/lad_docs500k \
           --queries jaccard_near_dup,minhash_lsh_pairs,ann_lsh \
           --pair 2:8 --trials 3 --run-name r3_dedup_ann
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, sys, time
sys.path.insert(0, {root!r})
from log_anomaly_detector_spark.session import get_spark
from log_anomaly_detector_spark.operators import all_queries
from log_anomaly_detector_spark.operators.similarity import (
    q_embedding_near_dup_production,
)
spark = get_spark("qscale", master="local[{cores}]")
qs = all_queries()
# scaling-only shapes that are deliberately NOT contract queries (no
# oracle key, so they must not widen the driver registry): the
# production-regime near-dup parameterization — the contract fixture's
# low-τ/2-plane regime is quadratic by design on a large corpus
qs["embedding_near_dup_production"] = q_embedding_near_dup_production
out = {{}}
for name in {queries!r}:
    qs[name](spark, {data_dir!r}).write.format("noop").mode("overwrite").save()
    t0 = time.time()
    qs[name](spark, {data_dir!r}).write.format("noop").mode("overwrite").save()
    out[name] = round(time.time() - t0, 3)
with open({out_path!r}, "w") as f:
    json.dump(out, f)
spark.stop()
"""


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(data_dir: str, cores: int, queries: list[str]) -> dict:
    fd, out_path = tempfile.mkstemp(prefix="qscale_")
    os.close(fd)
    load_before = loadavg()
    code = _WORKER.format(
        root=ROOT, cores=cores, queries=queries, data_dir=data_dir,
        out_path=out_path,
    )
    try:
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
        )
        if r.returncode != 0:
            # surface the child JVM's actual failure — a bare
            # CalledProcessError would discard the Spark traceback a
            # multi-hour run died with
            sys.stderr.write(r.stderr[-4000:])
            raise RuntimeError(
                f"scaling worker (local[{cores}]) exited {r.returncode}; "
                "stderr tail above"
            )
        with open(out_path) as f:
            walls = json.load(f)
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass
    return {"cores": cores, "walls": walls, "host_load_before": load_before}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--pair", default="2:8")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--run-name", required=True)
    args = ap.parse_args()

    queries = args.queries.split(",")
    n, n4 = (int(x) for x in args.pair.split(":"))
    trials: dict[int, list[dict]] = {n: [], n4: []}
    partial_path = os.path.join(ROOT, "BENCH", f".{args.run_name}.partial.json")
    for t in range(args.trials):
        for c in (n, n4):  # interleave so load drift hits both configs
            r = run_once(args.data_dir, c, queries)
            trials[c].append(r)
            print(
                f"trial {t} local[{c}]: {r['walls']} "
                f"(host load {r['host_load_before']})",
                flush=True,
            )
            with open(partial_path, "w") as f:  # survive an outer timeout
                json.dump(trials, f, indent=2)

    results: dict = {
        "data_dir": args.data_dir,
        "pair": args.pair,
        "trials": trials,
        "queries": {},
    }
    for q in queries:
        paired = [
            round(
                trials[n][t]["walls"][q]
                / ((n4 / n) * trials[n4][t]["walls"][q]),
                3,
            )
            for t in range(args.trials)
        ]
        med = statistics.median(paired)
        results["queries"][q] = {
            "wall_n_median": statistics.median(r["walls"][q] for r in trials[n]),
            "wall_4n_median": statistics.median(
                r["walls"][q] for r in trials[n4]
            ),
            "efficiency_paired_trials": paired,
            "efficiency": med,
        }
        print(f"{q}: paired efficiencies {paired} (median {med})")

    out_path = os.path.join(ROOT, "BENCH", "scaling.json")
    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
        if "trials" in merged:  # legacy flat layout
            merged = {"run_legacy": merged}
    merged[args.run_name] = results
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    try:  # checkpoint served its purpose — the merged run is durable now
        os.unlink(partial_path)
    except OSError:
        pass
    print("wrote BENCH/scaling.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
