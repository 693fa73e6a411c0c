"""Ingest quality gate (streaming/quality_stream.py): row-local metric
parity with the batch gates, kept/quarantine routing, checkpoint resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_anomaly_detector_spark.streaming.quality_stream import (
    build_eval_grams,
    run_quality_gate_once,
)


def _stream_input(spark, rows, d):
    spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias(
            "ts"
        ),
        "text",
    ).write.mode("overwrite").parquet(str(d))


def test_quality_stream_parity_routing_resume(spark, tmp_path):
    """One drain over a planted corpus: repetition metrics must equal the
    batch q_repetition_filter per doc (same fold, different plan shape);
    the contamination flag must equal the batch q_decontaminate flag on the
    same eval slice; keep/quarantine must partition the input; a re-run on
    the same checkpoint must process nothing new."""
    from log_anomaly_detector_spark.operators.relational import _hash_bucket
    from log_anomaly_detector_spark.operators.text import (
        DECONTAM_EVAL_PCT,
        DECONTAM_SEED,
        q_decontaminate,
        q_repetition_filter,
    )

    rows = [
        (11, "alpha beta gamma delta epsilon zeta"),  # eval slice (md5 coin)
        (1, "xx alpha beta gamma delta epsilon yy"),  # contaminated train doc
        (2, "a b a b a b"),                           # repetitive → quarantine
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  # clean → kept
        (4, "x y"),                                   # too short to score → kept
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(f"{tmp_path}/batch/documents.parquet")

    eval_docs = docs.filter(
        _hash_bucket(F.col("doc_id"), DECONTAM_SEED) < DECONTAM_EVAL_PCT
    )
    assert [r["doc_id"] for r in eval_docs.collect()] == [11]
    eval_grams = build_eval_grams(spark, eval_docs)

    train_rows = [r for r in rows if r[0] != 11]
    _stream_input(spark, train_rows, tmp_path / "in")
    kept = run_quality_gate_once(
        spark,
        str(tmp_path / "in"),
        eval_grams,
        str(tmp_path / "ckpt"),
        str(tmp_path / "kept"),
        str(tmp_path / "quarantine"),
    )

    got_kept = {r["doc_id"] for r in kept.collect()}
    quarantine = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(str(tmp_path / "quarantine")).collect()
    }
    # routing: kept ∪ quarantine == train input, disjoint
    assert got_kept == {3, 4}
    assert sorted(quarantine) == [1, 2]
    assert quarantine[1]["contaminated"] is True
    assert quarantine[2]["keep"] is False

    # repetition metric parity with the batch query (docs with >=3 words)
    batch_rep = {
        r["doc_id"]: r.asDict()
        for r in q_repetition_filter(spark, f"{tmp_path}/batch").collect()
    }
    streamed = {
        **{r["doc_id"]: r.asDict() for r in kept.collect()},
        **quarantine,
    }
    for did, b in batch_rep.items():
        if did == 11:  # eval doc never enters the stream
            continue
        s = streamed[did]
        for col in ("n_3grams", "dup_3gram_ppm", "top_3gram_ppm"):
            assert s[col] == b[col], (did, col, s[col], b[col])
    # short doc: unscorable → NULL metrics, kept
    short = {r["doc_id"]: r for r in kept.collect()}[4]
    assert short["n_3grams"] == 0
    assert short["dup_3gram_ppm"] is None

    # decontamination parity with the batch query: positional gram and hit
    # counts, not just the flag
    batch_decon = {
        r["doc_id"]: r.asDict()
        for r in q_decontaminate(spark, f"{tmp_path}/batch").collect()
    }
    for did, b in batch_decon.items():
        for col in ("n_5grams", "eval_hits", "contaminated"):
            assert streamed[did][col] == b[col], (did, col)

    # resume: same checkpoint, no new input → nothing re-processed
    n_kept_files = len(spark.read.parquet(str(tmp_path / "kept")).collect())
    run_quality_gate_once(
        spark,
        str(tmp_path / "in"),
        eval_grams,
        str(tmp_path / "ckpt"),
        str(tmp_path / "kept"),
        str(tmp_path / "quarantine"),
    )
    assert (
        len(spark.read.parquet(str(tmp_path / "kept")).collect())
        == n_kept_files
    )


def test_quality_stream_empty_drain_and_empty_eval(spark, tmp_path):
    """Zero input → typed empty result (kept dir never created: foreachBatch
    sinks are plain parquet, no _spark_metadata); an EMPTY eval set must
    gate nothing as contaminated."""
    _stream_input(spark, [], tmp_path / "in")
    eval_grams = build_eval_grams(
        spark, spark.createDataFrame([], "doc_id long, text string")
    )
    kept = run_quality_gate_once(
        spark,
        str(tmp_path / "in"),
        eval_grams,
        str(tmp_path / "ckpt"),
        str(tmp_path / "kept"),
        str(tmp_path / "quarantine"),
    )
    assert kept.collect() == []

    # long enough that the top-3-gram share (1/10) clears the pinned
    # threshold — a 5-word doc's single-gram share (1/3) legitimately fails
    # it, same as the batch flag
    _stream_input(
        spark,
        [(7, "alpha beta gamma delta epsilon w6 w7 w8 w9 w10 w11 w12")],
        tmp_path / "in2",
    )
    kept2 = run_quality_gate_once(
        spark,
        str(tmp_path / "in2"),
        eval_grams,
        str(tmp_path / "ckpt2"),
        str(tmp_path / "kept2"),
        str(tmp_path / "q2"),
    )
    rows = kept2.collect()
    assert [r["doc_id"] for r in rows] == [7]
    assert rows[0]["contaminated"] is False
    assert rows[0]["eval_hits"] == 0


def test_rep_fold_matches_multiset_stats_property(spark):
    """Property: for ANY gram multiset, the row-local sorted fold's
    (distinct, max run) equal the multiset's (distinct count, max
    multiplicity) — the quantities the batch explode→groupBy computes.
    One Spark job over a batch of hypothesis-style random cases (drawn with
    a fixed-seed RNG; a @given-per-example would pay a Spark job per case)."""
    import random
    from collections import Counter

    from log_anomaly_detector_spark.streaming.quality_stream import _rep_fold

    rng = random.Random(20260818)
    cases = []
    for i in range(300):
        vocab = [f"g{k}" for k in range(rng.randint(1, 6))]
        grams = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        cases.append((i, grams))
    df = spark.createDataFrame(cases, "case_id long, grams array<string>")
    folded = df.select(
        "case_id", _rep_fold(F.col("grams")).alias("_rep")
    ).select(
        "case_id",
        F.col("_rep.n_distinct").alias("n_distinct"),
        F.col("_rep.max_run").alias("max_run"),
    )
    got = {r["case_id"]: (r["n_distinct"], r["max_run"]) for r in folded.collect()}
    for cid, grams in cases:
        c = Counter(grams)
        want = (len(c), max(c.values()) if c else 0)
        assert got[cid] == want, (cid, grams, got[cid], want)


def test_rep_keep_flag_exact_at_floored_ppm_boundary(spark):
    """The keep decision must use exact integer cross-multiplication, never
    the floored ppm columns: n=100003 with 30001 excess-duplicate positions
    floors to dup_3gram_ppm == 300000 (not > MAX), yet the exact batch flag
    drops it (30001e6 > 300000*100003). Drive the shared metric projections
    with synthetic fold states on both sides of the boundary."""
    from log_anomaly_detector_spark.streaming.quality_stream import (
        _rep_metric_cols,
    )

    rows = [
        # (case, n_3grams, n_distinct, max_run)
        (1, 100003, 70002, 2),   # dup ppm floors to 300000 but exact > max
        (2, 100003, 70003, 2),   # exactly 30000*... below: 30000e6 <= 300000*100003
        (3, 10, 7, 2),           # dup 0.3 exactly → keep
        (4, 10, 6, 2),           # dup 0.4 → drop
        (5, 0, 0, 0),            # unscorable → NULL flag
    ]
    df = spark.createDataFrame(
        [
            (c, n, {"prev": None, "run": 0, "max_run": m, "n_distinct": d})
            for c, n, d, m in rows
        ],
        "case_id long, n_3grams long, _rep struct<prev:string,run:long,"
        "max_run:long,n_distinct:long>",
    )
    got = {
        r["case_id"]: (r["dup_3gram_ppm"], r["_rep_ok"])
        for r in df.select("case_id", *_rep_metric_cols()).collect()
    }
    assert got[1] == (300000, False)  # floored ppm alone would keep it
    assert got[2] == (299991, True)
    assert got[3] == (300000, True)
    assert got[4] == (400000, False)
    assert got[5] == (None, None)


def test_quality_stream_batches_survive_static_overwrite_mode(spark, tmp_path):
    """Per-batch idempotency must not depend on the session conf: with
    ``partitionOverwriteMode=static`` a plain overwrite of the sink would
    wipe every earlier batch's ``_batch_id`` partition. Two micro-batches
    (two drains on one checkpoint) must both survive in both sinks."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "static")
    try:
        eval_grams = build_eval_grams(
            spark, spark.createDataFrame([], "doc_id long, text string")
        )
        clean = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
        dirs = [str(tmp_path / d) for d in ("ckpt", "kept", "quarantine")]
        for rows, sub in (
            ([(1, clean), (2, "a b a b a b")], "b0"),
            ([(3, clean), (4, "c d c d c d")], "b1"),
        ):
            _stream_input(spark, rows, tmp_path / "in" / sub)
            kept = run_quality_gate_once(
                spark, str(tmp_path / "in" / "*"), eval_grams, *dirs
            )
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
        for path, ids in ((dirs[1], [(1, 0), (3, 1)]), (dirs[2], [(2, 0), (4, 1)])):
            got = spark.read.parquet(path).select("doc_id", "_batch_id").collect()
            assert sorted((r["doc_id"], r["_batch_id"]) for r in got) == ids
    finally:
        spark.conf.set(conf, prev)
