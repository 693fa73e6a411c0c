"""Uniqueness on doc_id (R4): one grouped count.

Reference analogue: ``block_id`` is a PRIMARY KEY and collisions are handled
by upsert-on-conflict (``database/migration/...init_schema.sql:12``,
``database/upsert_log_block.py:24-29``). The check is ``groupBy(doc_id)``
then ``filter(cnt > 1)``. A pathologically hot key does not reach one
reducer as a flood: the map-side partial aggregate collapses every key to at
most one row per task before the shuffle, so a billion-copy key arrives as
one row per input split. On a table bucketed by doc_id Catalyst plans the
count with no Exchange at all.

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

    ``cfg`` is unused: perfbench and ``bench.py`` pass it, and direction 1's
    benchmark PR (ROADMAP) deletes it with ``RuleConfig.uniqueness_mode``.
    """
    # NULL doc_ids are a null-rate violation (R1), never "duplicates of each
    # other" — pinned; the golden pandas impl (value_counts dropna) agrees.
    return (
        df.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )
