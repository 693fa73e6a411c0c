"""The correctness gate: the Spark engine must agree 100% per partition with
the independent pandas/NumPy golden implementation (FIXTURES.md F5) —
per-rule pass/fail, exact (part_id, doc_id, rule_id) violation sets, labels
and 6dp scores."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_anomaly_detector_spark.config import DEFAULT_CONFIG as CFG
from log_anomaly_detector_spark.datagen import (
    GenSpec,
    gen_allowed_sources,
    gen_baseline_profile,
    gen_reference_snapshot,
    gen_sequences,
)
from log_anomaly_detector_spark.engine import run_validation
from log_anomaly_detector_spark.golden import (
    golden_labels,
    golden_partition_verdicts,
    golden_row_violations,
)

SPEC = GenSpec(n_docs=8_000, n_parts=8, seed=42)
SPEC_B = GenSpec(n_docs=6_000, n_parts=6, seed=7)
# 499 docs per partition puts id 998 (a DUP_MOD duplicate of id 997) in part 2
# and its original in part 1 — the pair straddles checkpoint batches of two
SPEC_STRADDLE = GenSpec(n_docs=3_992, n_parts=8, seed=42)
BATCH_PARTS = 2


# (spec, batch_parts): one batch over every partition, or checkpoint batches,
# whose uniqueness counts come from the run-global duplicate-key job
@pytest.fixture(
    scope="module",
    params=[(SPEC, None), (SPEC_B, None), (SPEC_STRADDLE, BATCH_PARTS)],
    ids=["seed42", "seed7", "straddle-batch2"],
)
def world(spark, tmp_path_factory, request):
    spec, batch_parts = request.param
    seqs = gen_sequences(spark, spec).cache()
    snap = gen_reference_snapshot(spark, spec).cache()
    allowed = gen_allowed_sources(spark)
    baseline = gen_baseline_profile(spark, spec, CFG)
    out = str(tmp_path_factory.mktemp("engine_out"))
    res = run_validation(
        spark, seqs, snap, allowed, baseline, out, CFG, input_digest="t1",
        batch_parts=batch_parts,
    )
    return spec, seqs, snap, allowed, baseline, res, out


def test_straddle_world_has_cross_batch_duplicate(spark):
    """The batched world's fixture premise: a duplicated doc_id spans two
    checkpoint batches."""
    seqs = gen_sequences(spark, SPEC_STRADDLE)
    straddling = (
        seqs.groupBy("doc_id")
        .agg(F.countDistinct(F.floor(F.col("part_id") / BATCH_PARTS)).alias("batches"))
        .filter(F.col("batches") > 1)
        .count()
    )
    assert straddling >= 1


def test_violation_sets_match_golden(spark, world):
    spec, seqs, snap, allowed, baseline, res, out = world
    seq_pdf = seqs.toPandas()
    snap_pdf = snap.toPandas()
    allowed_set = {r["source"] for r in allowed.collect()}
    gold = golden_row_violations(seq_pdf, snap_pdf, allowed_set)
    gold_set = set(map(tuple, gold.values))

    eng = spark.read.parquet(f"{out}/violations").select(
        "part_id", "doc_id", "rule_id"
    )
    eng_set = {(r["part_id"], r["doc_id"], r["rule_id"]) for r in eng.collect()}
    assert gold_set, "fixture must plant violations"
    assert eng_set == gold_set


def test_partition_rule_verdicts_match_golden(spark, world):
    spec, seqs, snap, allowed, baseline, res, out = world
    seq_pdf = seqs.toPandas()
    sources = sorted(r["source"] for r in allowed.collect())
    gold = golden_partition_verdicts(seq_pdf, baseline, CFG, sources)
    gold_map = {
        (r.part_id, r.rule_id): (r.passed, r.observed_stat)
        for r in gold.itertuples(index=False)
    }
    part_scope = set(CFG.partition_rules)
    eng = [r for r in res.rule_verdicts if r["rule_id"] in part_scope]
    assert len(eng) == len(gold_map)
    for r in eng:
        g_pass, g_stat = gold_map[(r["part_id"], r["rule_id"])]
        assert r["passed"] == g_pass, (r, g_pass, g_stat)
        assert abs(r["observed_stat"] - g_stat) < 1e-9, (r, g_stat)


def test_labels_and_scores_match_golden(spark, world):
    spec, seqs, snap, allowed, baseline, res, out = world
    seq_pdf = seqs.toPandas()
    snap_pdf = snap.toPandas()
    sources = sorted(r["source"] for r in allowed.collect())
    allowed_set = set(sources)
    gold_v = golden_row_violations(seq_pdf, snap_pdf, allowed_set)
    gold_pv = golden_partition_verdicts(seq_pdf, baseline, CFG, sources)
    gold = golden_labels(seq_pdf, gold_v, gold_pv, CFG)
    gold_map = {r.part_id: (r.label, r.score) for r in gold.itertuples(index=False)}

    assert len(res.verdicts) == len(gold_map)
    for v in res.verdicts:
        lbl, score = gold_map[v["part_id"]]
        assert v["label"] == lbl, (v, lbl)
        assert abs(v["score"] - score) < 1e-9

    # the fixture is designed to exercise both labels and the drift rules
    labels = {v["part_id"]: v["label"] for v in res.verdicts}
    assert labels[spec.heavy_part] == "Anomaly"
    drift_fail = {
        r["part_id"]
        for r in res.rule_verdicts
        if r["rule_id"].startswith("drift") and not r["passed"]
    }
    assert spec.drift_part in drift_fail
    assert "Normal" in labels.values()


def test_verdict_table_written(spark, world):
    spec, *_, res, out = world
    verd = spark.read.parquet(f"{out}/verdicts")
    assert verd.count() == spec.n_parts
    assert {r["part_id"]: r["label"] for r in verd.collect()} == {
        v["part_id"]: v["label"] for v in res.verdicts
    }


def test_baseline_matches_reference_bucket_rule(spark):
    """The engine's drift inputs and the baseline both come from
    ``stats_pass``, so pin the baseline independently: its histogram is the
    golden bucket rule (``floor((n_tok - lo) / width)`` clipped to the bucket
    range) over the clean, drift-free generation's n_tok, and its source
    counts are that generation's ``value_counts``."""
    import numpy as np

    spec = GenSpec(n_docs=3_000, n_parts=4, seed=11)
    clean = GenSpec(
        n_docs=spec.n_docs, n_parts=spec.n_parts, seed=spec.seed,
        violations=False, drift=False, heavy=False,
    )
    pdf = gen_sequences(spark, clean).select("n_tok", "source").toPandas()
    width = (CFG.hist_hi - CFG.hist_lo) / CFG.hist_buckets
    b = np.clip(
        np.floor((pdf["n_tok"].to_numpy() - CFG.hist_lo) / width).astype(int),
        0,
        CFG.hist_buckets - 1,
    )
    baseline = gen_baseline_profile(spark, spec, CFG)
    assert baseline["hist"] == np.bincount(b, minlength=CFG.hist_buckets).tolist()
    assert baseline["source_counts"] == pdf["source"].value_counts().to_dict()
    assert baseline["n"] == len(pdf)
