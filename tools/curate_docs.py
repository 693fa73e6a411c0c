#!/usr/bin/env python
"""Corpus-curation CLI — the training-data-prep lifecycle as one
spark-submit-able entrypoint, composing the contract operators end to end:

  exact dedup (content fingerprint, keep the smallest doc_id per fp)
    → intra-doc repetition gate (Gopher-style dup/top 3-gram ppm thresholds)
    → quality gate (stopword/length score buckets)
    → decontamination (5-gram overlap vs a benchmark table, when given)
    → near-dup cluster resolution (3-gram-Jaccard PPJoin pairs → connected
      components), deduping the GATE-SURVIVORS: each cluster keeps its
      smallest member that passed every gate, so a cluster whose canonical
      doc is gate-dropped still contributes its best surviving member

    python tools/curate_docs.py --data-dir /dir/with/documents.parquet \
        --out /tmp/curated [--eval-dir /dir/with/benchmark docs] \
        [--master local[8]]

Outputs under --out (all parquet):
  documents.parquet   the curated corpus (same schema as the input)
  quarantine/         (doc_id, stage) — every dropped doc, attributed to the
                      FIRST stage that dropped it (stage order above)
  manifest.json       per-stage drop counts + wall
and prints ONE metrics JSON line.

Every stage is the corresponding contract operator's plan (oracle-verified
at the driver gate), so the CLI adds composition, not new semantics:
exact dedup keys on `functions.text_funcs.fingerprint`, near-dup on
`operators.dedup_clusters.q_dedup_clusters`, the gates on
`q_repetition_filter` / `q_quality_score` keep flags, decontamination on
`operators.text.flag_contamination` against `build_eval_grams` of the
external benchmark (the same pair q_decontaminate runs). Scale
shape: each stage emits a (doc_id, stage) drop table — shuffles carry ids
and hashes, never document text; the single text-bearing pass is the final
anti-join writing the curated corpus.

Reference parity: the reference's data prep dedupes blocks with an
in-memory set and drops rows by content predicates in one pandas pass
(HDFS/data_process.py); this is that stage generalized to the gates a
100 TB training-data pipeline runs, each as the audited Spark plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ("exact_dup", "near_dup", "repetition", "quality", "decontam")


def curate(spark, data_dir: str, out_dir: str, eval_dir: str | None = None) -> dict:
    """Run the curation pipeline; returns the manifest dict (also written to
    ``out_dir/manifest.json``)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.functions.text_funcs import fingerprint
    from log_anomaly_detector_spark.operators.dedup_clusters import (
        q_dedup_clusters,
    )
    from log_anomaly_detector_spark.operators.text import (
        build_eval_grams,
        flag_contamination,
        q_quality_score,
        q_repetition_filter,
    )

    t0 = time.time()
    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))

    # each stage → a (doc_id, stage) drop table; stage attribution is
    # first-wins in STAGES order via min(rank) at the end
    drops = []

    # 1. exact dedup: full-content fingerprint, keep the smallest doc_id.
    # NULL-text docs are excluded here (fingerprint(NULL) is NULL and
    # groupBy collates NULL keys, which would quarantine all content-less
    # docs as "duplicates" of each other — ADVICE r6); they fall through to
    # the quality gate, which is the stage that owns empty content.
    fps = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", fingerprint(F.col("text")).alias("_fp")
    )
    keepers = fps.groupBy("_fp").agg(F.min("doc_id").alias("_keep"))
    drops.append(
        fps.join(keepers, "_fp")
        .filter(F.col("doc_id") != F.col("_keep"))
        .select("doc_id", F.lit("exact_dup").alias("stage"))
    )

    # 3. intra-doc repetition gate
    drops.append(
        q_repetition_filter(spark, data_dir)
        .filter(~F.col("keep"))
        .select("doc_id", F.lit("repetition").alias("stage"))
    )

    # 4. quality-score gate
    drops.append(
        q_quality_score(spark, data_dir)
        .filter(F.col("bucket") == "drop")
        .select("doc_id", F.lit("quality").alias("stage"))
    )

    # 5. decontamination vs the external benchmark (optional)
    if eval_dir:
        bench = spark.read.parquet(os.path.join(eval_dir, "documents.parquet"))
        drops.append(
            flag_contamination(docs, build_eval_grams(bench))
            .filter(F.col("contaminated"))
            .select("doc_id", F.lit("decontam").alias("stage"))
        )

    # 2. near-dup clusters, AFTER the text gates are known: drop the
    # non-representative members among the cluster's GATE-SURVIVORS — a
    # cluster whose canonical doc fails a later gate must still keep its
    # smallest surviving member, not lose its content entirely (dropping
    # on q_dedup_clusters' raw keep flag would discard clean members of a
    # cluster whose canonical is itself dropped). Exact dedup needs no such
    # promotion: byte-identical copies share every text-derived gate
    # outcome, so the kept copy survives iff any copy would.
    gate_ids = reduce(lambda a, b: a.unionByName(b), drops).select(
        "doc_id"
    ).distinct()
    survivors = (
        q_dedup_clusters(spark, data_dir)
        .join(gate_ids, "doc_id", "left_anti")
    )
    reps = survivors.groupBy("component_id").agg(
        F.min("doc_id").alias("_rep")
    )
    drops.append(
        survivors.join(reps, "component_id")
        .filter(F.col("doc_id") != F.col("_rep"))
        .select("doc_id", F.lit("near_dup").alias("stage"))
    )

    all_drops = reduce(lambda a, b: a.unionByName(b), drops)
    rank = F.array_position(F.lit(list(STAGES)), F.col("stage")).cast("int")
    quarantine = (
        all_drops.withColumn("_rank", rank)
        .groupBy("doc_id")
        .agg(F.min("_rank").alias("_rank"))
        .select(
            "doc_id",
            F.element_at(F.lit(list(STAGES)), F.col("_rank")).alias("stage"),
        )
    )
    quarantine.write.mode("overwrite").parquet(
        os.path.join(out_dir, "quarantine")
    )
    q_saved = spark.read.parquet(os.path.join(out_dir, "quarantine"))
    stage_counts = {
        r["stage"]: r["n"]
        for r in q_saved.groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    docs.join(q_saved.select("doc_id"), "doc_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "documents.parquet"))
    n_in = docs.count()
    n_kept = spark.read.parquet(
        os.path.join(out_dir, "documents.parquet")
    ).count()

    metrics = {
        "input_docs": n_in,
        "kept_docs": n_kept,
        "dropped_docs": n_in - n_kept,
        "dropped_by_stage": {s: stage_counts.get(s, 0) for s in STAGES},
        "decontam_ran": bool(eval_dir),
        "wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True,
                    help="directory holding documents.parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--eval-dir", default=None,
                    help="directory holding the benchmark documents.parquet;"
                         " decontamination is skipped when absent")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from log_anomaly_detector_spark.session import get_spark, quiesce

    spark = get_spark("curate_docs", master=args.master)
    metrics = curate(spark, args.data_dir, args.out, args.eval_dir)
    print(json.dumps(metrics))
    quiesce(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
