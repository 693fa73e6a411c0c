"""Storage protocol + datagen determinism regression tests."""

from __future__ import annotations

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
