"""Curation CLI (tools/curate_docs.py): planted corpus through the full
stage chain — exact dedup, near-dup clusters, repetition, quality,
decontamination — with first-wins stage attribution and manifest counts."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from curate_docs import STAGES, curate  # noqa: E402


def _good_body(i: int, n_triples: int = 30) -> str:
    """~90 words, stopword-rich, all 3-grams distinct: survives every gate."""
    return " ".join(f"the u{i}x{k} of" for k in range(n_triples))


def _write_docs(spark, rows, d):
    # real documents schema carries n_chars (quality_score reads it)
    spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars int",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")


def _planted(spark, tmp_path):
    """The planted corpus and its benchmark; returns (corpus dir, benchmark
    dir)."""
    rows = [
        (1, _good_body(1)),                       # kept (canonical exact dup)
        (21, _good_body(1)),                      # exact_dup of 1
        (2, _good_body(2) + " tail ends here"),   # kept (canonical near dup)
        (22, _good_body(2) + " tail ends there"), # near_dup of 2
        (3, "a b a b a b a b"),                   # repetition (also low quality)
        (4, "zz yy xx ww vv uu tt ss"),           # quality drop
        (5, _good_body(5)),                       # kept
        (6, _good_body(6) + " alpha beta gamma delta epsilon"),  # contaminated
        # near-dup pair where the CANONICAL (8) is contaminated: with the
        # benchmark given, 88 must be PROMOTED to cluster representative
        # (naive keep-the-canonical would silently lose the whole cluster)
        (8, _good_body(8) + " alpha beta gamma delta epsilon"),
        (88, _good_body(8) + " v1 v2 v3 v4 v5"),
    ]
    _write_docs(spark, rows, tmp_path / "corpus")
    _write_docs(
        spark, [(100, "alpha beta gamma delta epsilon zeta")], tmp_path / "bench"
    )
    return str(tmp_path / "corpus"), str(tmp_path / "bench")


def test_curate_planted_corpus(spark, tmp_path):
    corpus, bench = _planted(spark, tmp_path)

    # without a benchmark: decontamination skipped, doc 6 survives
    m1 = curate(spark, corpus, str(tmp_path / "out1"))
    assert m1["decontam_ran"] is False
    assert m1["dropped_by_stage"] == {
        "exact_dup": 1, "near_dup": 2, "repetition": 1, "quality": 1,
        "decontam": 0,
    }
    kept1 = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "out1" / "documents.parquet")
        ).collect()
    }
    assert kept1 == {1, 2, 5, 6, 8}
    quarantine = {
        r["doc_id"]: r["stage"]
        for r in spark.read.parquet(
            str(tmp_path / "out1" / "quarantine")
        ).collect()
    }
    # first-wins attribution: 21 is BOTH an exact dup and a jaccard-1.0
    # near-dup of doc 1; 3 fails BOTH repetition and quality
    assert quarantine == {
        21: "exact_dup", 22: "near_dup", 88: "near_dup",
        3: "repetition", 4: "quality",
    }
    # manifest written and consistent
    disk = json.loads((tmp_path / "out1" / "manifest.json").read_text())
    assert disk["kept_docs"] == m1["kept_docs"] == 5
    assert disk["input_docs"] == 10

    # with the benchmark: docs 6 and 8 share a 5-gram → decontam drops;
    # 88 is PROMOTED to its cluster's representative (canonical 8 fell)
    m2 = curate(spark, corpus, str(tmp_path / "out2"), eval_dir=bench)
    assert m2["decontam_ran"] is True
    assert m2["dropped_by_stage"]["decontam"] == 2
    assert m2["dropped_by_stage"]["near_dup"] == 1
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "out2" / "documents.parquet")
        ).collect()
    }
    assert kept2 == {1, 2, 5, 88}


def test_curate_job_count(spark, tmp_path, job_ids):
    """Every count rides the write that produces its rows, and the
    quarantine is re-read with its known schema. Measured 37 in the
    local[8] test session; re-reading and counting the written tables made
    it 45."""
    corpus, bench = _planted(spark, tmp_path)
    with job_ids("curate-jobs") as ids:
        m = curate(spark, corpus, str(tmp_path / "out"), eval_dir=bench)
    assert m["kept_docs"] == 4
    assert len(ids) <= 37, len(ids)


def test_curate_observed_counts_equal_written_tables(spark, tmp_path):
    """The manifest's observed counts equal the counts of the tables it
    describes: on the planted corpus with and without the benchmark, and on
    a clean corpus whose quarantine is empty. The clean corpus carries a
    NULL doc_id, which no quarantine id matches, so it is kept."""
    corpus, bench = _planted(spark, tmp_path)
    clean = tmp_path / "clean"
    _write_docs(spark, [(i, _good_body(i)) for i in (1, 2, 3)], clean)
    spark.createDataFrame(
        [(None, _good_body(4), len(_good_body(4)))],
        "doc_id long, text string, n_chars int",
    ).write.mode("append").parquet(f"{clean}/documents.parquet")

    cases = {"plain": (corpus, None), "bench": (corpus, bench),
             "clean": (str(clean), None)}
    for name, (data, eval_dir) in cases.items():
        out = tmp_path / f"out-{name}"
        m = curate(spark, data, str(out), eval_dir=eval_dir)
        stages = dict(
            spark.read.parquet(str(out / "quarantine"))
            .groupBy("stage").count().collect()
        )
        assert m["dropped_by_stage"] == {s: stages.get(s, 0) for s in STAGES}, name
        assert m["input_docs"] == spark.read.parquet(
            f"{data}/documents.parquet"
        ).count(), name
        kept = spark.read.parquet(str(out / "documents.parquet"))
        assert m["kept_docs"] == kept.count(), name
        assert m["dropped_docs"] == sum(stages.values()), name
        if name == "clean":
            assert stages == {}
            assert m["kept_docs"] == m["input_docs"] == 4
            assert kept.filter("doc_id IS NULL").count() == 1
