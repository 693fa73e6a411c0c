#!/usr/bin/env python
"""Streaming ingest-gate throughput + 2:8 scaling evidence
(streaming/quality_stream.py): drain a document corpus through the
stateless quality gate at two parallelism levels in separate JVMs,
interleaved trials, paired efficiencies, merged into BENCH/scaling.json
under --run-name — same protocol as tools/bench_query_scaling.py.

Each timed drain is COLD for the stream (fresh checkpoint + sinks in a
temp dir) so every trial processes the full corpus; the session is fresh
per trial (CacheManager subplan substitution, CLAUDE.md). The stream input
(doc_id, ts, text) is derived deterministically from the corpus dir's
documents.parquet on first use and cached beside it.

Usage: python tools/bench_stream_gate.py --data-dir /tmp/lad_docs500k \
           --pair 2:8 --trials 2 --run-name r6_stream_gate_500k
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
import json, shutil, sys, tempfile, time
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from log_anomaly_detector_spark.session import get_spark, quiesce
from log_anomaly_detector_spark.operators.relational import _hash_bucket
from log_anomaly_detector_spark.operators.text import (
    DECONTAM_EVAL_PCT, DECONTAM_SEED,
)
from log_anomaly_detector_spark.streaming.quality_stream import (
    build_eval_grams, run_quality_gate_once,
)

spark = get_spark("sgate", master="local[{cores}]")
data_dir = {data_dir!r}
stream_in = data_dir.rstrip("/") + "_stream_in"
docs = spark.read.parquet(f"{{data_dir}}/documents.parquet")
import os
n_docs_src = docs.count()

def _stream_in_rows():
    try:
        return spark.read.parquet(stream_in).count()
    except Exception:
        return -1  # absent, partial write, foreign files — all mean rebuild

if _stream_in_rows() != n_docs_src:
    # rebuild whenever the cache doesn't exactly mirror the source corpus
    # (a stale dir from a regenerated --data-dir, or a crashed partial
    # write, would otherwise be drained while n_docs/docs_per_sec are
    # computed from the NEW corpus — the record would describe data the
    # drain never touched). FIXED 16-way layout regardless of worker
    # cores: the micro-batch's parallelism follows the input file splits,
    # so a layout written by the small-core worker would starve the
    # large-core leg and the pair would measure file count, not the gate.
    docs.select(
        "doc_id",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("doc_id") % 86_400
        ).alias("ts"),
        "text",
    ).repartition(16, "doc_id").write.mode("overwrite").parquet(stream_in)

eval_grams = build_eval_grams(
    spark,
    docs.filter(_hash_bucket(F.col("doc_id"), DECONTAM_SEED) < DECONTAM_EVAL_PCT),
).persist()
eval_grams.count()  # one-time setup, materialized OUTSIDE the timed drain
n_docs = n_docs_src

work = tempfile.mkdtemp(prefix="sgate_")
t0 = time.time()
kept = run_quality_gate_once(
    spark, stream_in, eval_grams,
    f"{{work}}/ckpt", f"{{work}}/kept", f"{{work}}/quarantine",
)
n_kept = kept.count()
wall = round(time.time() - t0, 3)
shutil.rmtree(work, ignore_errors=True)
with open({out_path!r}, "w") as f:
    json.dump({{"gate_drain": wall, "n_docs": n_docs, "n_kept": n_kept,
               "docs_per_sec": round(n_docs / wall, 1)}}, f)
quiesce(spark)
spark.stop()
"""


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(data_dir: str, cores: int) -> dict:
    fd, out_path = tempfile.mkstemp(prefix="sgate_")
    os.close(fd)
    load_before = loadavg()
    code = _WORKER.format(root=ROOT, cores=cores, data_dir=data_dir, out_path=out_path)
    try:
        r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            raise RuntimeError(f"stream-gate worker (local[{cores}]) exited {r.returncode}")
        with open(out_path) as f:
            res = json.load(f)
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass
    return {"cores": cores, "walls": {"gate_drain": res["gate_drain"]},
            "n_docs": res["n_docs"], "n_kept": res["n_kept"],
            "docs_per_sec": res["docs_per_sec"], "host_load_before": load_before}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--pair", default="2:8")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--run-name", required=True)
    args = ap.parse_args()

    n, n4 = (int(x) for x in args.pair.split(":"))
    trials: dict[int, list[dict]] = {n: [], n4: []}
    for t in range(args.trials):
        for c in (n, n4):  # interleave so load drift hits both configs
            r = run_once(args.data_dir, c)
            trials[c].append(r)
            print(
                f"trial {t} local[{c}]: {r['walls']['gate_drain']}s "
                f"({r['docs_per_sec']} docs/s, kept {r['n_kept']}/{r['n_docs']}, "
                f"host load {r['host_load_before']})",
                flush=True,
            )

    paired = [
        round(
            trials[n][t]["walls"]["gate_drain"]
            / ((n4 / n) * trials[n4][t]["walls"]["gate_drain"]),
            3,
        )
        for t in range(args.trials)
    ]
    med = statistics.median(paired)
    results = {
        "data_dir": args.data_dir,
        "pair": args.pair,
        "trials": trials,
        "queries": {
            "stream_quality_gate": {
                "wall_n_median": statistics.median(
                    r["walls"]["gate_drain"] for r in trials[n]
                ),
                "wall_4n_median": statistics.median(
                    r["walls"]["gate_drain"] for r in trials[n4]
                ),
                "efficiency_paired_trials": paired,
                "efficiency": med,
            }
        },
    }
    print(f"stream_quality_gate: paired efficiencies {paired} (median {med})")

    out_path = os.path.join(ROOT, "BENCH", "scaling.json")
    merged = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            merged = json.load(f)
    merged[args.run_name] = results
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    print("wrote BENCH/scaling.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
