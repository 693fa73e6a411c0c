"""Uniqueness on doc_id (R4) with explicit skew defusal.

Reference analogue: ``block_id`` is a PRIMARY KEY and collisions are handled
by upsert-on-conflict (``database/migration/...init_schema.sql:12``,
``database/upsert_log_block.py:24-29``). At 10^12 rows a naive
``groupBy(doc_id)`` would send every copy of a pathologically hot key to one
reducer, so the check is two-phase:

1. **salted partial count** — ``groupBy(doc_id, salt)`` where the salt is the
   input split id, so identical keys scattered across the table are first
   collapsed *within* their split (map-side combine reduces each key to at
   most one row per task before any shuffle; the salt keeps even a
   billion-copy key spread over ``salt_buckets`` reducers);
2. **final count** — ``groupBy(doc_id)`` over the already-collapsed partials
   (≤ buckets rows per key), then ``filter(cnt > 1)``.

The engine computes this key set once per run over the FULL table, and the
fused row pass (``rules/fused.py``) joins it back to flag every offending
row; AQE picks a broadcast build side when it is small and a skew-split
shuffle join when it is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_anomaly_detector_spark.config import RuleConfig


def duplicate_keys(df: DataFrame, cfg: RuleConfig) -> DataFrame:
    """(doc_id, dup_cnt) for every doc_id appearing more than once.

    ``direct`` mode is a plain groupBy — when the input table is bucketed by
    doc_id Catalyst plans it with NO exchange at all; ``salted`` (default) is
    the layout-agnostic two-phase variant described in the module docstring.
    """
    # NULL doc_ids are a null-rate violation (R1), never "duplicates of each
    # other" — pinned; the golden pandas impl (value_counts dropna) agrees.
    df = df.filter(F.col("doc_id").isNotNull())
    if cfg.uniqueness_mode == "direct":
        return (
            df.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dup_cnt"))
            .filter(F.col("dup_cnt") > 1)
        )
    salt = F.pmod(F.spark_partition_id(), F.lit(cfg.uniqueness_salt_buckets)).alias(
        "salt"
    )
    partial = df.select("doc_id", salt).groupBy("doc_id", "salt").count()
    return (
        partial.groupBy("doc_id")
        .agg(F.sum("count").alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )

