"""The reference's detection lifecycle as ONE Spark dataflow.

Mirrors ``run_pipeline_v2`` (``api/detect_anomaly_sequence_v2.py:197-306``)
stage for stage — with the imperative per-line/per-block loops replaced by
declarative plans, and the BERT scorer replaced by the line-level ratio that
v2 itself uses to override the model score when anomalous lines exist
(``detect_anomaly_sequence_v2.py:237-241``):

| stage | reference | here |
| --- | --- | --- |
| parse          | Drain per-line loop (``logparser/Drain.py:329-423``) | `sources.read_structured_logs` (regex scan, codegen) |
| line flags     | no-template-match ⇒ ``is_anomaly`` (``Drain.py:367-377``) | unparseable ⇒ flagged violation line |
| template dim   | ``outputResult`` value_counts (``Drain.py:201-239``) | groupBy(EventTemplate).count + md5-8 id |
| warm start     | ``load_previous_clusters`` (``Drain.py:260-279``) | union previous dim + dropDuplicates |
| mapping        | rank by occurrences (``HDFS/data_process.py:33-40``) | row_number window, tie-break by EventId |
| sequences      | per-block int lists (``HDFS/data_process.py:86-94``) | explode block ids → broadcast mapping join → ordered collect |
| verdict        | score ≥ threshold ⇒ 'Anomaly' (``:245-246``), score = anomalous/total (``:237-241``), round 6dp (``upsert_log_block.py:32``) | same, as column expressions |

Every stage returns a DataFrame, so any of them can be written to a table —
the reference's upserts (S10-S12) become idempotent partition overwrites via
``storage.overwrite_partitions``.

``run_induction_pipeline`` is the v2 lifecycle with LEARNED templates: the
dim comes from ``operators.template_induction`` as a driver-local table, the
line flags are one broadcast join computed and cached once, and the verdicts
aggregate that cached table. Every cached table has its own
``tracked_persist`` slot, so repeated calls in one session hold one copy each.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.caching import tracked_persist
from log_anomaly_detector_spark.sources.logtext import read_structured_logs

UNMAPPED = -1  # the reference's sentinel for unknown events (data_process.py:84)


@dataclass
class PipelineResult:
    structured: DataFrame   # per-line records + flags (log_line analogue)
    templates: DataFrame    # EventId, EventTemplate, Occurrences (event dim)
    mapping: DataFrame      # EventId → event_int rank (event_mapping dim)
    sequences: DataFrame    # block_id, tokens, n_tok (log_block analogue)
    verdicts: DataFrame     # block_id, anomaly_score, label (anomaly_sequence)


def run_detection_pipeline(
    spark: SparkSession,
    raw_log_path: str,
    previous_templates: DataFrame | None = None,
    seq_threshold: float = 0.2,
    logformat: str = "<Date> <Time> <Pid> <Level> <Component>: <Content>",
) -> PipelineResult:
    structured = tracked_persist(
        "detection_structured", read_structured_logs(spark, raw_log_path, logformat)
    )

    # [1] template dimension (+ warm start)
    templates = (
        structured.filter("_parsed")
        .groupBy("EventId", "EventTemplate")
        .agg(F.count(F.lit(1)).alias("Occurrences"))
    )
    if previous_templates is not None:
        templates = (
            templates.unionByName(
                previous_templates.select("EventId", "EventTemplate", "Occurrences")
            )
            .groupBy("EventId", "EventTemplate")
            .agg(F.sum("Occurrences").alias("Occurrences"))
        )

    # [2] occurrence-ranked mapping; ties pinned by EventId (FIXTURES.md).
    # Input is the post-aggregation template dim (dim-sized) — the constant
    # non-foldable key keeps the bounded window off the warn-worthy
    # unpartitioned path (see operators.relational.one_part)
    from log_anomaly_detector_spark.operators.relational import one_part

    w = Window.partitionBy(one_part(F.col("Occurrences"))).orderBy(
        F.desc("Occurrences"), F.asc("EventId")
    )
    mapping = templates.withColumn("event_int", F.row_number().over(w))

    # [3] block sequences: one row per (line, block) then ordered collect.
    # The reference loops blocks and re-queries per block (N+1 queries,
    # detect_anomaly_sequence_v2.py:159-167); here it is one explode + one
    # broadcast join + one agg.
    lines = (
        structured.filter("_parsed")
        .select(
            "LineId",
            "EventId",
            F.explode("BlockIds").alias("block_id"),
        )
        .join(
            F.broadcast(mapping.select("EventId", "event_int")), "EventId", "left"
        )
        .withColumn("event_int", F.coalesce("event_int", F.lit(UNMAPPED)))
    )
    sequences = (
        lines.groupBy("block_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("LineId", "event_int"))),
                lambda x: x["event_int"],
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens"))
    )

    # [4] verdicts: line-ratio score (anomalous = unmapped here), 6dp, >=
    score = F.round(
        F.size(F.filter(F.col("tokens"), lambda t: t == UNMAPPED)) / F.col("n_tok"), 6
    )
    verdicts = sequences.select(
        "block_id",
        "n_tok",
        score.alias("anomaly_score"),
        F.when(score >= F.lit(seq_threshold), F.lit("Anomaly"))
        .otherwise(F.lit("Normal"))
        .alias("label"),
    )
    return PipelineResult(structured, templates, mapping, sequences, verdicts)


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
    logformat: str = "<Date> <Time> <Pid> <Level> <Component>: <Content>",
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
