#!/usr/bin/env python
"""spark-submit entrypoint for the validation engine.

Cluster usage (the packaging contract from BASELINE.json north_star)::

    python make_pyfiles.py                      # → dist/engine.zip
    spark-submit --master <cluster> --py-files dist/engine.zip \
        run_validation.py --data-dir /path/to/tables --out /path/to/run

Sandbox usage (synthesize the input first, then validate it)::

    python run_validation.py --materialize /tmp/lad_data --n-docs 2000000
    python run_validation.py --data-dir /tmp/lad_data --out /tmp/lad_run \
        --master 'local[32]'

``--data-dir`` layout: ``sequences/`` (parquet, partitioned by part_id),
``snapshot/`` (parquet), ``allowed_sources.parquet``, ``baseline.json``.
Prints ONE metrics JSON line on completion.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--data-dir", default=None, help="read pre-materialized tables")
    ap.add_argument("--materialize", default=None, help="write tables here and exit")
    ap.add_argument("--out", default="/tmp/lad_run")
    ap.add_argument("--n-docs", type=int, default=1_000_000)
    ap.add_argument("--n-parts", type=int, default=32)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--batch-parts", type=int, default=None)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--warmup",
        action="store_true",
        help="run the full suite once into a throwaway dir first (JIT/codegen "
        "warm), then measure — for benchmarking",
    )
    ap.add_argument("--seq-threshold", type=float, default=None)
    args = ap.parse_args()

    from log_anomaly_detector_spark.config import DEFAULT_CONFIG, RuleConfig
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_baseline_profile,
        gen_reference_snapshot,
        gen_sequences,
    )
    from log_anomaly_detector_spark.engine import run_validation
    from log_anomaly_detector_spark.session import get_spark, quiesce

    cfg = DEFAULT_CONFIG
    if args.seq_threshold is not None:
        cfg = RuleConfig(seq_threshold=args.seq_threshold)

    spark = get_spark("lad-validation", master=args.master)
    spec = GenSpec(n_docs=args.n_docs, n_parts=args.n_parts, seed=args.seed)

    from log_anomaly_detector_spark import storage

    if args.materialize:
        d = args.materialize
        t0 = time.time()
        # primary layout: partitioned by part_id (pruning/resume) AND bucketed
        # by doc_id (shuffle-free snapshot join + uniqueness) — the local
        # analogue of Iceberg `identity(part_id)` + `bucket(N, doc_id)`.
        storage.write_bucketed(
            gen_sequences(spark, spec),
            "mat_sequences",
            os.path.join(d, "sequences_bucketed"),
            n_buckets=args.n_buckets,
            partition_col="part_id",
        )
        storage.write_bucketed(
            gen_reference_snapshot(spark, spec),
            "mat_snapshot",
            os.path.join(d, "snapshot_bucketed"),
            n_buckets=args.n_buckets,
        )
        gen_allowed_sources(spark).write.mode("overwrite").parquet(
            os.path.join(d, "allowed_sources.parquet")
        )
        with open(os.path.join(d, "baseline.json"), "w") as f:
            json.dump(gen_baseline_profile(spark, spec, cfg), f)
        with open(os.path.join(d, "spec.json"), "w") as f:
            json.dump(spec.__dict__, f)
        print(
            json.dumps(
                {"materialized": d, "n_docs": spec.n_docs, "sec": round(time.time() - t0, 1)}
            )
        )
        quiesce(spark)
        spark.stop()
        return 0

    part_ids = None
    if args.data_dir:
        d = args.data_dir
        bucketed = os.path.isdir(os.path.join(d, "sequences_bucketed"))
        seq_name, snap_name = (
            ("sequences_bucketed", "snapshot_bucketed")
            if bucketed
            else ("sequences", "snapshot")
        )
        # partition identity from storage metadata (hive dir listing) — no
        # data-scan job just to plan the run
        part_ids = storage.list_partitions(os.path.join(d, seq_name))
        if bucketed:
            seqs = storage.register_bucketed(
                spark, "sequences", storage.SEQ_DDL, os.path.join(d, seq_name),
                n_buckets=args.n_buckets, partition_col="part_id",
            )
            snap = storage.register_bucketed(
                spark, "snapshot", storage.SNAP_DDL, os.path.join(d, snap_name),
                n_buckets=args.n_buckets,
            )
        else:  # plain parquet layout
            seqs = spark.read.parquet(os.path.join(d, seq_name))
            snap = spark.read.parquet(os.path.join(d, snap_name))
        allowed = spark.read.parquet(os.path.join(d, "allowed_sources.parquet"))
        with open(os.path.join(d, "baseline.json")) as f:
            baseline = json.load(f)
        # keyed on the input files' metadata, not the dir path: an in-place
        # rewrite re-validates instead of resuming stale verdicts
        input_digest = "files:" + storage.input_fingerprint(
            d, [seq_name, snap_name, "allowed_sources.parquet", "baseline.json"]
        )
    else:
        seqs = gen_sequences(spark, spec)
        snap = gen_reference_snapshot(spark, spec)
        allowed = gen_allowed_sources(spark)
        baseline = gen_baseline_profile(spark, spec, cfg)
        input_digest = f"gen:{spec}"

    if args.warmup:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="lad_warmup_")
        run_validation(
            spark, seqs, snap, allowed, baseline, wdir, cfg,
            input_digest=input_digest,
        )
        shutil.rmtree(wdir, ignore_errors=True)

    res = run_validation(
        spark,
        seqs,
        snap,
        allowed,
        baseline,
        args.out,
        cfg,
        input_digest=input_digest,
        batch_parts=args.batch_parts,
        part_ids=part_ids,
    )
    summary = dict(res.metrics)
    summary["labels"] = {str(v["part_id"]): v["label"] for v in res.verdicts}
    print(json.dumps(summary))
    quiesce(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
