"""Storage protocol + datagen determinism regression tests."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from log_anomaly_detector_spark import storage
from log_anomaly_detector_spark.datagen import GenSpec, gen_sequences
from log_anomaly_detector_spark.engine import VERDICT_SCHEMA

VERDICTS = [
    {"part_id": 0, "label": "Normal", "score": 0.005, "n_rows": 1000,
     "violating_docs": 5, "failed_rules": []},
    {"part_id": 1, "label": "Anomaly", "score": 0.484, "n_rows": 1000,
     "violating_docs": 484, "failed_rules": ["approx_distinct", "drift_source"]},
    {"part_id": 2, "label": "Anomaly", "score": None, "n_rows": 0,
     "violating_docs": 0, "failed_rules": None},
]


def _entries(path: str) -> dict[int, list[str]]:
    """Every directory entry (dot-files included) per ``part_id=N`` dir."""
    return {
        int(d.split("=", 1)[1]): sorted(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("part_id=")
    }


def _sorted(rows) -> list[tuple]:
    """Verdict rows (Spark rows or dicts) as sorted tuples."""
    cols = ("part_id", "label", "score", "n_rows", "violating_docs", "failed_rules")
    return sorted(tuple(r[c] for c in cols) for r in rows)


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


def test_local_partition_file_schema_is_the_ddl(spark, tmp_path):
    """The driver-written file carries the DDL minus ``part_id`` (which is
    only the directory name): same types and nullability as the file
    Spark's writer produces for the same rows."""
    path = str(tmp_path / "local")
    storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1, 2])
    expected = pa.schema([
        pa.field("label", pa.string(), nullable=True),
        pa.field("score", pa.float64(), nullable=True),
        pa.field("n_rows", pa.int64(), nullable=True),
        pa.field("violating_docs", pa.int64(), nullable=True),
        pa.field("failed_rules", pa.list_(pa.field("element", pa.string())),
                 nullable=True),
    ])
    spark_path = str(tmp_path / "spark")
    storage.overwrite_partitions(
        spark.createDataFrame([tuple(r.values()) for r in VERDICTS], VERDICT_SCHEMA),
        spark_path,
        [0, 1, 2],
    )
    for p, files in _entries(path).items():
        (name,) = files
        got = pq.read_schema(os.path.join(path, f"part_id={p}", name))
        assert got.equals(expected, check_metadata=False), got
        (spark_name,) = [
            f for f in _entries(spark_path)[p] if f.endswith(".parquet")
        ]
        written = pq.read_schema(os.path.join(spark_path, f"part_id={p}", spark_name))
        assert got.equals(written, check_metadata=False)


def test_local_partition_rewrite_leaves_one_file_and_no_temp(spark, tmp_path):
    path = str(tmp_path / "t")
    for _ in range(2):
        storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1, 2])
    entries = _entries(path)
    assert sorted(entries) == [0, 1, 2]
    for files in entries.values():
        assert len(files) == 1
        assert files[0].endswith(".parquet") and not files[0].startswith(".")
    assert _sorted(spark.read.parquet(path).collect()) == _sorted(VERDICTS)


def test_local_partition_rewrite_keeps_unlisted_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1, 2])
    kept = {p: _entries(path)[p] for p in (1, 2)}
    again = [dict(VERDICTS[0], label="Anomaly", failed_rules=["null_rate"])]
    storage.overwrite_local_partitions(again, VERDICT_SCHEMA, path, [0])
    assert {p: _entries(path)[p] for p in (1, 2)} == kept
    assert _sorted(spark.read.parquet(path).collect()) == _sorted(
        again + VERDICTS[1:]
    )


def test_local_partition_with_zero_rows_is_cleared(spark, tmp_path):
    """A listed partition with no rows loses its stale file, as in
    ``overwrite_partitions``."""
    path = str(tmp_path / "t")
    storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1, 2])
    storage.overwrite_local_partitions(VERDICTS[1:2], VERDICT_SCHEMA, path, [0, 1])
    assert sorted(_entries(path)) == [1, 2]
    assert _sorted(spark.read.parquet(path).collect()) == _sorted(VERDICTS[1:])
    with pytest.raises(ValueError, match="unlisted partition 2"):
        storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1])


def test_local_partition_write_runs_no_spark_job(tmp_path, job_ids):
    with job_ids("local-write") as ids:
        storage.overwrite_local_partitions(
            VERDICTS, VERDICT_SCHEMA, str(tmp_path / "t"), [0, 1, 2]
        )
    assert ids == []


def test_local_partition_crash_mid_write_leaves_nothing_readable(
    spark, tmp_path, monkeypatch
):
    """A write that dies before its rename leaves only a dot-file, which
    neither Spark nor pyarrow reads."""
    path = str(tmp_path / "t")
    storage.overwrite_local_partitions(VERDICTS, VERDICT_SCHEMA, path, [0, 1, 2])

    def crash(src, dst):
        raise OSError("killed")

    monkeypatch.setattr(storage.os, "replace", crash)
    with pytest.raises(OSError, match="killed"):
        storage.overwrite_local_partitions(VERDICTS[:1], VERDICT_SCHEMA, path, [0])
    (leftover,) = _entries(path)[0]
    assert leftover.startswith(".")
    assert _sorted(spark.read.parquet(path).collect()) == _sorted(VERDICTS[1:])
    assert pq.read_table(path, partitioning="hive").num_rows == 2


def test_table_mixing_spark_and_local_partitions_reads_as_one(spark, tmp_path):
    """A resume across versions: one partition from Spark's writer, the
    others from the driver writer, read back as one table by Spark and by
    pyarrow's hive dataset."""
    path = str(tmp_path / "mixed")
    storage.overwrite_partitions(
        spark.createDataFrame([tuple(VERDICTS[0].values())], VERDICT_SCHEMA), path, [0]
    )
    storage.overwrite_local_partitions(VERDICTS[1:], VERDICT_SCHEMA, path, [1, 2])
    df = spark.read.parquet(path)
    assert df.schema.simpleString() == (
        "struct<label:string,score:double,n_rows:bigint,violating_docs:bigint,"
        "failed_rules:array<string>,part_id:int>"
    )
    assert _sorted(df.collect()) == _sorted(VERDICTS)
    declared = storage.read_table(spark, path, VERDICT_SCHEMA)
    assert _sorted(declared.collect()) == _sorted(VERDICTS)

    table = pq.read_table(path, partitioning="hive")
    assert table.schema.names == [
        "label", "score", "n_rows", "violating_docs", "failed_rules", "part_id"
    ]
    assert _sorted(table.to_pylist()) == _sorted(VERDICTS)


def test_read_table_with_schema_runs_no_job(spark, tmp_path, job_ids):
    """A known DDL skips the footer-inference job; the inferred read and
    the DDL read agree."""
    path = str(tmp_path / "t")
    storage.overwrite_partitions(
        spark.createDataFrame([tuple(r.values()) for r in VERDICTS], VERDICT_SCHEMA),
        path,
        [0, 1, 2],
    )
    jobs = {}
    for group, schema in (("inferred", None), ("declared", VERDICT_SCHEMA)):
        with job_ids(group) as jobs[group]:
            df = storage.read_table(spark, path, schema)
        assert _sorted(df.collect()) == _sorted(VERDICTS)
    assert jobs["inferred"]  # premise: inference is a job
    assert jobs["declared"] == []
    assert storage.read_table(spark, str(tmp_path / "none"), VERDICT_SCHEMA) is None


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
