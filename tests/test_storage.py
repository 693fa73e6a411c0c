"""Storage protocol + datagen determinism regression tests."""

from __future__ import annotations

import os

from log_anomaly_detector_spark import storage
from log_anomaly_detector_spark.datagen import GenSpec, gen_sequences


def test_overwrite_partitions_clears_stale_rows(spark, tmp_path):
    """A rerun that produces ZERO rows for a previously-violating partition
    must clear the stale rows (the delete+insert idempotency primitive)."""
    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, 0), (2, 1)], "x int, part_id int")
    storage.overwrite_partitions(a, path, [0, 1])
    assert spark.read.parquet(path).count() == 2
    empty = spark.createDataFrame([], "x int, part_id int")
    storage.overwrite_partitions(empty, path, [0])
    left = spark.read.parquet(path).collect()
    assert [(r["x"], r["part_id"]) for r in left] == [(2, 1)]


def test_datagen_deterministic_across_parallelism(spark):
    """The generator is a pure function of the row id: identical content at
    any partitioning (regression guard for the hash-based design)."""
    spec = GenSpec(n_docs=5_000, n_parts=4, seed=99)
    h = (
        gen_sequences(spark, spec)
        .selectExpr(
            "bit_xor(xxhash64(doc_id, cast(tokens as string), n_tok, source, part_id)) h"
        )
        .first()["h"]
    )
    h2 = (
        gen_sequences(spark, spec)
        .repartition(7)
        .selectExpr(
            "bit_xor(xxhash64(doc_id, cast(tokens as string), n_tok, source, part_id)) h"
        )
        .first()["h"]
    )
    assert h == h2


def test_input_fingerprint_tracks_in_place_rewrites(spark, tmp_path):
    """The ``--data-dir`` resume key comes from file metadata alone (no scan,
    no ``spec.json``): rewriting one input file in place changes it, while
    re-reading the same files or moving the whole dir does not."""
    d = tmp_path / "data"
    spark.createDataFrame([(1, 0), (2, 1)], "x int, part_id int").write.partitionBy(
        "part_id"
    ).parquet(str(d / "sequences"))
    (d / "baseline.json").write_text('{"hist": []}')
    names = ["sequences", "snapshot", "baseline.json"]  # no snapshot, no spec.json
    assert not (d / "spec.json").exists()

    fp = storage.input_fingerprint(str(d), names)
    assert fp == storage.input_fingerprint(str(d), names)

    moved = tmp_path / "moved"
    os.rename(d, moved)
    assert storage.input_fingerprint(str(moved), names) == fp

    # same-size in-place rewrite of one data file, one second later
    victim = sorted((moved / "sequences").rglob("*.parquet"))[0]
    st = victim.stat()
    victim.write_bytes(victim.read_bytes())
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    fp2 = storage.input_fingerprint(str(moved), names)
    assert fp2 != fp

    # a size change is caught even at an unchanged mtime
    st = (moved / "baseline.json").stat()
    (moved / "baseline.json").write_text('{"hist": [1]}')
    os.utime(moved / "baseline.json", ns=(st.st_atime_ns, st.st_mtime_ns))
    assert storage.input_fingerprint(str(moved), names) not in (fp, fp2)
