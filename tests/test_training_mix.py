"""Packing/mix semantics beyond the value oracle: structural invariants of
the bin layout and the mix rates."""

from __future__ import annotations

from collections import defaultdict

from log_anomaly_detector_spark.operators.training_mix import (
    MIX_WEIGHTS,
    PACK_BUDGET,
    q_pack_sequences,
    q_source_mix,
)

SF = "/root/testdata/sf0.001"


def test_pack_layout_invariants(spark):
    rows = q_pack_sequences(spark, SF).collect()
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["pack_bucket"]].append(r)
    assert len(by_bucket) > 1  # buckets actually spread
    for bucket, docs in by_bucket.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_bin = 0
        for r in docs:
            # offset/bin are exactly the running token count in bucket order
            assert r["bin_id"] == cum // PACK_BUDGET, (bucket, r)
            assert r["tok_offset"] == cum % PACK_BUDGET, (bucket, r)
            assert r["bin_id"] >= prev_bin  # bins fill forward, never skip back
            prev_bin = r["bin_id"]
            cum += r["n_tok"]


def test_pack_parallelism_sized_buckets(spark, monkeypatch):
    """The documented layout-parameter story, executably: packing with
    n_buckets = the cluster's parallelism keeps every window PARTITIONED
    (per-bucket, never the warn-worthy global shape) and actually spreads
    work across that many independent packing streams — the config a real
    deployment would run, not just the 8-bucket contract pin."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators import training_mix
    from log_anomaly_detector_spark.operators.relational import t
    from plan_audit import unpartitioned_windows

    par = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(training_mix, "PACK_BUCKETS", par)
    packed = training_mix.pack_documents(t(spark, SF, "documents"))
    assert unpartitioned_windows(packed) == 0
    buckets = packed.agg(
        F.countDistinct("pack_bucket").alias("n"),
        F.max("pack_bucket").alias("mx"),
        F.min("pack_bucket").alias("mn"),
    ).collect()[0]
    # 500 docs over `par` md5 buckets: every bucket occupied w.h.p., ids in range
    assert buckets["n"] == par, (buckets, par)
    assert 0 <= buckets["mn"] and buckets["mx"] < par


def test_source_mix_rates(spark):
    got = {r["lang"]: r for r in q_source_mix(spark, SF).collect()}
    for lang, r in got.items():
        want = MIX_WEIGHTS.get(lang, 0)
        assert r["rate_pct"] == want
        assert 0 <= r["n_kept"] <= r["n_total"]
        if want == 0:
            assert r["n_kept"] == 0
        # md5 coin ≈ rate: binomial tolerance on small strata
        if r["n_total"] >= 30 and want > 0:
            frac = 100.0 * r["n_kept"] / r["n_total"]
            assert abs(frac - want) < 30, (lang, frac, want)
