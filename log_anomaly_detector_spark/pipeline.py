"""The reference's detection lifecycle as ONE Spark dataflow.

``run_induction_pipeline`` mirrors ``run_pipeline_v2``
(``api/detect_anomaly_sequence_v2.py:197-306``) with LEARNED templates:
parse the raw text (`sources.read_structured_logs`, a codegen'd regex scan),
induce the template dim with ``operators.template_induction`` as a
driver-local table, flag every line whose template had to be founded this
run, and score each block by its share of flagged lines — the line-level
ratio v2 itself uses to override the BERT score
(``detect_anomaly_sequence_v2.py:237-241``). The line flags are one
broadcast join computed and cached once, and the verdicts aggregate that
cached table. Every cached table has its own ``tracked_persist`` slot, so
repeated calls in one session hold one copy each.

Every result is a DataFrame, so each can be written as a table — the
reference's upserts (S10-S12) are ``tools/parse_logs.py``'s overwrites.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.caching import tracked_persist
from log_anomaly_detector_spark.sources.logtext import (
    DEFAULT_LOGFORMAT,
    read_structured_logs,
)


@dataclass
class InductionPipelineResult:
    structured: DataFrame     # per-line records + is_anomaly flag
    templates: DataFrame      # event_id, template, occurrences, is_new
    new_templates: DataFrame  # the is_new slice — the v2 dim upsert payload
    verdicts: DataFrame       # block_id, n_lines, anomaly_score, label


def run_induction_pipeline(
    spark: SparkSession,
    raw_log_path: str,
    warm_templates: DataFrame | None = None,
    st: float = 0.5,
    depth: int = 4,
    seq_threshold: float = 0.2,
    logformat: str = DEFAULT_LOGFORMAT,
) -> InductionPipelineResult:
    """The reference's v2 lifecycle (``parse_and_store_log_lines``,
    Drain.py:329-423) with LEARNED templates: warm-start the dim from the DB
    (Drain.py:343-354), route every line through the tree, and a line whose
    template had to be FOUNDED this run — i.e. not reachable from the warm
    dim — is anomalous (Drain.py:367-377); per-block score = anomalous
    lines / total lines (detect_anomaly_sequence_v2.py:237-241), label at
    ``>= seq_threshold`` rounded 6dp (:245-246, upsert_log_block.py:32).
    ``new_templates`` is exactly the slice v2 persists back to the dim.
    """
    from log_anomaly_detector_spark.operators.template_induction import (
        induce_templates,
    )

    structured = tracked_persist(
        "induction_structured", read_structured_logs(spark, raw_log_path, logformat)
    )
    # reference tokenization: preprocess(Content).strip().split()
    # (Drain.py:301) — EventTemplate IS the preprocessed content here
    lines = structured.filter("_parsed").select(
        F.col("LineId").alias("line_id"),
        F.split(F.trim("EventTemplate"), " +").alias("tokens"),
    )
    res = induce_templates(
        lines, st=st, depth=depth, warm_templates=warm_templates
    )
    flags = res.assignments.join(
        F.broadcast(res.templates.select("event_id", "is_new")), "event_id", "left"
    ).select(
        F.col("line_id").alias("LineId"),
        "event_id",
        # unmatched lines (no event_id) are anomalous too — they fit nothing
        F.coalesce("is_new", F.lit(True)).alias("is_anomaly"),
    )
    # computed once: the structured write and the verdict aggregate both
    # read this copy instead of re-running the broadcast join
    structured_flagged = tracked_persist(
        "induction_flagged", structured.join(F.broadcast(flags), "LineId", "left")
    )

    # per-block verdicts from line flags (block ids extracted at parse time)
    per_block = (
        structured_flagged.select(
            F.explode("BlockIds").alias("block_id"), "is_anomaly"
        )
        .groupBy("block_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_anomaly").cast("int")).alias("n_anomalous"),
        )
    )
    score = F.round(F.col("n_anomalous") / F.col("n_lines"), 6)
    verdicts = per_block.select(
        "block_id",
        "n_lines",
        score.alias("anomaly_score"),
        F.when(score >= F.lit(seq_threshold), F.lit("Anomaly"))
        .otherwise(F.lit("Normal"))
        .alias("label"),
    )
    return InductionPipelineResult(
        structured=structured_flagged,
        templates=res.templates,
        new_templates=res.templates.filter(F.col("is_new")),
        verdicts=verdicts,
    )
