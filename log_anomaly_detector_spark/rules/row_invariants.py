"""Row-scope invariants: n_tok consistency (R6) + referential integrity (R5)
as standalone per-rule frames (the streaming gate's shape; the batch engine
evaluates the same predicates inside ``rules/fused.py``).

Both are shuffle-free: the consistency check is a pure column expression, the
referential check is a broadcast anti-join against the (tiny) allowed-sources
dimension — reference semantics: unmapped EventId is skipped/flagged
(``api/detect_anomaly_sequence.py:84-85``, ``logparser/Drain.py:367-377``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def ntok_consistency_violations(df: DataFrame) -> DataFrame:
    """Rows where the declared length disagrees with the array (reference:
    ``has_data = len(event_sequence) > 0``, detect_anomaly_sequence_v2.py:129-131)."""
    return (
        df.filter(~(F.col("n_tok") == F.size("tokens")))
        .select(
            "part_id",
            "doc_id",
            F.lit("n_tok_consistency").alias("rule_id"),
            F.concat(F.lit("n_tok="), F.col("n_tok").cast("string")).alias("observed"),
            F.concat(F.lit("size(tokens)="), F.size("tokens").cast("string")).alias(
                "expected"
            ),
        )
    )


def referential_violations(df: DataFrame, allowed: DataFrame) -> DataFrame:
    """Broadcast LEFT ANTI join: rows whose non-null source is not in the
    dimension. NULL sources are a null-rate matter (R1), not referential."""
    return (
        df.filter(F.col("source").isNotNull())
        .join(F.broadcast(allowed.select("source")), "source", "left_anti")
        .select(
            "part_id",
            "doc_id",
            F.lit("referential").alias("rule_id"),
            F.col("source").alias("observed"),
            F.lit("member of allowed_sources").alias("expected"),
        )
    )
