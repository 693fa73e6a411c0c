"""Storage layer: partitioned parquet tables + a JSONL checkpoint manifest.

Idempotent writes are explicit delete+insert over hive-style partition
directories — exactly the reference's idempotency primitive (per-block
DELETE then batch INSERT, ``database/upsert_log_line.py:27-52``). A
row-sized table goes through Spark's writer; a driver-sized one (a few rows
per partition) is written from the driver, as the reference upserts its
verdicts from the service process in one batched ``executemany``
(``database/upsert_anomaly_sequence.py:16-26``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def overwrite_partitions(df: DataFrame, path: str, part_ids: list[int]) -> None:
    """Idempotently replace exactly ``part_ids`` of the target table with the
    contents of ``df`` (which must only contain those partitions).

    Explicit delete+insert rather than relying on dynamic partition overwrite
    alone: a rerun that produces ZERO rows for a previously-violating
    partition must still clear the stale rows.
    """
    for pid in part_ids:
        shutil.rmtree(os.path.join(path, f"part_id={pid}"), ignore_errors=True)
    df.write.mode("append").partitionBy("part_id").parquet(path)


def write_local_table(rows: list[dict], schema: StructType, path: str) -> None:
    """Replace the unpartitioned table at ``path`` with one parquet file of
    driver ``rows`` (written when empty too), with no Spark job. The file
    is written under a dot-prefixed name and renamed into place; Spark and
    pyarrow both skip dot-files, so a crash mid-write leaves nothing
    readable behind."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    name = f"part-00000-{uuid.uuid4()}.snappy.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def overwrite_local_partitions(
    rows: list[dict], ddl: str, path: str, part_ids: list[int]
) -> None:
    """``overwrite_partitions`` for driver rows, with no Spark job: each
    listed partition directory is removed, and one that has rows is
    rewritten by ``write_local_table`` with ``ddl`` minus ``part_id``
    (which only names the directory, as in Spark's hive layout). ``rows``
    must only contain listed partitions."""
    schema = StructType(
        [f for f in StructType.fromDDL(ddl).fields if f.name != "part_id"]
    )
    by_part: dict[int, list[dict]] = {pid: [] for pid in part_ids}
    for r in rows:
        if r["part_id"] not in by_part:
            raise ValueError(f"row for unlisted partition {r['part_id']}")
        by_part[r["part_id"]].append(r)
    for pid, part_rows in by_part.items():
        pdir = os.path.join(path, f"part_id={pid}")
        if part_rows:
            write_local_table(part_rows, schema, pdir)
        else:
            shutil.rmtree(pdir, ignore_errors=True)


def list_partitions(path: str) -> list[int] | None:
    """part_ids from storage METADATA (hive-style ``part_id=N`` directory
    listing — the Iceberg analogue is the ``.partitions`` metadata table).
    Returns None when the layout is not partitioned by part_id, in which case
    the engine falls back to a distinct scan. Listing is O(partitions) driver
    work and launches NO Spark job — at 10^12 rows a ``select distinct
    part_id`` would be a full-column scan just to plan the run."""
    if not os.path.isdir(path):
        return None
    parts = [
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("part_id=")
    ]
    return sorted(parts) if parts else None


def read_table(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Read a partitioned parquet table; None if nothing written yet.

    A known ``schema`` (DDL, ``part_id`` included) skips schema inference,
    which is one footer-reading Spark job per read."""
    if not os.path.isdir(path) or not any(
        e.startswith("part_id=") for e in os.listdir(path)
    ):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


# --- bucketed tables (the Iceberg bucket-transform analogue) ---------------
#
# Both big tables bucketed by doc_id makes the snapshot join and the
# uniqueness aggregation SHUFFLE-FREE (storage-co-located). Bucket metadata
# lives in the session catalog, so a fresh session re-registers the existing
# files with CREATE TABLE ... CLUSTERED BY ... LOCATION.

SEQ_DDL = "doc_id string, tokens array<int>, n_tok int, source string, part_id int"
SNAP_DDL = "doc_id string, ref_tokens array<int>"


def write_bucketed(
    df: DataFrame,
    name: str,
    location: str,
    n_buckets: int = 32,
    partition_col: str | None = None,
) -> None:
    w = df.write.option("path", location).mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.bucketBy(n_buckets, "doc_id").sortBy("doc_id").saveAsTable(name)


def register_bucketed(
    spark: SparkSession,
    name: str,
    ddl_cols: str,
    location: str,
    n_buckets: int = 32,
    partition_col: str | None = None,
) -> DataFrame:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    part = f"PARTITIONED BY ({partition_col})" if partition_col else ""
    spark.sql(
        f"CREATE TABLE {name} ({ddl_cols}) USING PARQUET {part} "
        f"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )
    if partition_col:
        spark.sql(f"MSCK REPAIR TABLE {name}")
    return spark.table(name)


# --- manifest (per-partition completion checkpoint, R10) ------------------


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.jsonl")


def read_manifest(out_dir: str) -> list[dict]:
    """Parse the manifest, skipping an unparseable (torn) trailing line: a
    crash mid-append must degrade to 'that batch gets revalidated', never to
    'resume is permanently broken'. A torn line anywhere but the tail is
    still surfaced (it means external corruption, not a crashed append)."""
    p = manifest_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        lines = [ln for ln in f if ln.strip()]
    out: list[dict] = []
    for i, ln in enumerate(lines):
        try:
            out.append(json.loads(ln))
        except json.JSONDecodeError:
            if i == len(lines) - 1:
                continue  # torn tail from a crashed append — revalidate
            raise
    return out


def append_manifest(out_dir: str, records: list[dict]) -> None:
    """Append all records in ONE os-level write (serialize first, then a
    single f.write + flush): a crash can tear at most the final line, which
    read_manifest tolerates. Each record is one self-describing JSON line
    (last write wins per part_id)."""
    os.makedirs(out_dir, exist_ok=True)
    payload = "".join(json.dumps(r, sort_keys=True) + "\n" for r in records)
    with open(manifest_path(out_dir), "a") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


def input_fingerprint(root: str, names: list[str]) -> str:
    """Resume key for the input tables at ``root``/``names``: a hash of every
    file's relative path, size and mtime_ns — storage metadata only, no data
    scan. Rewriting any input file in place changes it, so the next run
    re-validates instead of resuming stale verdicts; moving the whole dir
    does not. Missing names contribute nothing."""
    h = hashlib.sha256()
    for name in sorted(names):
        top = os.path.join(root, name)
        files = [top] if os.path.isfile(top) else []
        for dirpath, _, fnames in os.walk(top):
            files += [os.path.join(dirpath, f) for f in fnames]
        for p in sorted(files):
            st = os.stat(p)
            h.update(
                f"{os.path.relpath(p, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode()
            )
    return h.hexdigest()[:16]


def completed_partitions(out_dir: str, input_digest: str, rule_versions: dict) -> set[int]:
    """part_ids whose latest manifest entry is 'done' for THIS input snapshot
    and THIS rule-pack version set — anything else is recomputed."""
    latest: dict[int, dict] = {}
    for r in read_manifest(out_dir):
        latest[r["part_id"]] = r
    return {
        pid
        for pid, r in latest.items()
        if r.get("status") == "done"
        and r.get("input_digest") == input_digest
        and r.get("rule_versions") == rule_versions
    }
