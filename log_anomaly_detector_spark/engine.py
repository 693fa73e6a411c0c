"""The validation engine: plan → rule passes → verdicts + violations →
manifest checkpoint + lineage.

One run executes a fixed number of jobs regardless of row count (the shape
that survives 10^12 rows): one run-global duplicate-key pass, then three
passes per checkpoint batch, each over row-sized input, and a driver
commit. AQE splits each shuffle into query-stage jobs, so the three passes
run as 8 Spark jobs per batch (a job-group probe on the bucketed layout,
200k docs, 8 parts × 32 buckets, ``batch_parts=1``, local[4]: stats 2,
fused pass + violations write 3, rollup 3; once per run, the sources
collect 1 and the duplicate keys 3):

0. (once per run) duplicate keys over the full table — global PK semantics,
   so duplicates straddling checkpoint batches are caught;
1. the single stats scan (partial+final hash agg → one tiny row/partition);
2. the fused row-rule pass (``rules/fused.py``: snapshot join, uniqueness
   count from job 0's keys or a doc_id window, column exprs with referential
   as a literal ``isin`` over the driver's source set, Catalyst
   first-mismatch on the candidates) — one plan with no persist on every
   layout, zero Exchange on the doc_id-bucketed one — written straight to
   the violations table (no driver round-trip of row data);
3. a tiny aggregate over the *written* violations, read with their known
   schema (no inference job): distinct violating docs per partition and
   rule; the uniqueness rows/docs also make the R3 distinct doc_id count
   exact without a distinct aggregate in job 1;
4. the verdict/manifest commit, driver-side and O(partitions): the verdict
   rows go to parquet through ``storage.overwrite_local_partitions`` (no
   Spark job, as the reference upserts them in one batched ``executemany``,
   ``database/upsert_anomaly_sequence.py:16-26``), then the manifest line.

All jobs run sequentially in the caller's thread, so a job group or other
local property the caller sets covers every job of the run.

Verdict semantics pinned to the reference (config.py): per-partition label is
``'Anomaly'`` iff round(score, 6) >= seq_threshold
(``api/detect_anomaly_sequence_v2.py:245-246``) or any partition-scope rule
failed; per-rule exceedance is strict ``>`` (``bert_pytorch/predict_log.py:16-29``).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark import RULE_VERSIONS
from log_anomaly_detector_spark.config import DEFAULT_CONFIG, RuleConfig
from log_anomaly_detector_spark import storage
from log_anomaly_detector_spark.rules.column_stats import stats_pass, stats_verdicts
from log_anomaly_detector_spark.rules.drift import drift_verdicts
from log_anomaly_detector_spark.rules.fused import fused_row_violations
from log_anomaly_detector_spark.rules.uniqueness import duplicate_keys

VERDICT_SCHEMA = (
    "part_id int, label string, score double, n_rows long, "
    "violating_docs long, failed_rules array<string>"
)
VIOLATION_SCHEMA = (
    "part_id int, doc_id string, rule_id string, observed string, expected string"
)


@dataclass
class ValidationResult:
    verdicts: list[dict] = field(default_factory=list)       # one per partition
    rule_verdicts: list[dict] = field(default_factory=list)  # per (part, rule)
    metrics: dict = field(default_factory=dict)


def run_validation(
    spark: SparkSession,
    seqs: DataFrame,
    snapshot: DataFrame,
    allowed: DataFrame,
    baseline: dict,
    out_dir: str,
    cfg: RuleConfig = DEFAULT_CONFIG,
    input_digest: str = "",
    batch_parts: int | None = None,
    max_batches: int | None = None,
    part_ids: list[int] | None = None,
) -> ValidationResult:
    """Validate all partitions of ``seqs`` not yet checkpointed as done.

    ``batch_parts`` controls checkpoint granularity (partitions per commit);
    default = all pending in one batch. ``max_batches`` stops early (used by
    the resume test to simulate a killed run). ``part_ids`` is the partition
    list from storage METADATA (``storage.list_partitions`` on hive layouts /
    the Iceberg ``.partitions`` table) — callers with a path should pass it so
    planning the run launches no data-scan job; the distinct scan below is
    only the fallback for ad-hoc DataFrames with no storage layout.
    """
    os.makedirs(out_dir, exist_ok=True)
    # the dim is a set: repeated and NULL rows name no source (one job, no
    # distinct shuffle)
    sources = sorted(
        {r["source"] for r in allowed.select("source").collect()} - {None}
    )

    t_all = time.time()
    all_parts = (
        sorted(part_ids)
        if part_ids is not None
        else sorted(r["part_id"] for r in seqs.select("part_id").distinct().collect())
    )
    done = storage.completed_partitions(out_dir, input_digest, RULE_VERSIONS)
    pending = [p for p in all_parts if p not in done]
    if batch_parts is None:
        batch_parts = max(len(pending), 1)
    batches = [pending[i : i + batch_parts] for i in range(0, len(pending), batch_parts)]
    if max_batches is not None:
        batches = batches[:max_batches]

    result = ValidationResult()
    viol_path = os.path.join(out_dir, "violations")
    verd_path = os.path.join(out_dir, "verdicts")
    total_rows = 0

    job_secs: dict[str, float] = {
        "dup_keys": 0.0, "stats": 0.0, "violations": 0.0, "agg": 0.0
    }
    # job 0 (once per run, not per batch): duplicate keys over the FULL table
    # — doc_id is a global PRIMARY KEY in the reference (init_schema.sql:12),
    # so duplicates spanning checkpoint batches or a done-vs-resumed partition
    # pair must still be caught. On the bucketed layout this groupBy has no
    # Exchange; the (normally empty) result is persisted so per-batch
    # attribution joins don't rescan the table. SHORTCUT: when the run is ONE
    # batch covering every partition (the common cold full run), the in-batch
    # uniqueness computation is already table-global — skip the extra job.
    dups = None
    n_dup_keys = -1  # -1 = not separately computed (single full batch)
    single_full_batch = (
        len(batches) == 1 and not done and set(batches[0]) == set(all_parts)
    )
    try:
        if batches and not single_full_batch:
            t_dup = time.time()
            dups = duplicate_keys(seqs, cfg).persist()
            n_dup_keys = dups.count()
            job_secs["dup_keys"] = time.time() - t_dup

        for batch in batches:
            t0 = time.time()
            # partition pruning: on Iceberg/hive layouts this filter prunes files
            sub = seqs.filter(F.col("part_id").isin([int(p) for p in batch]))

            # job 1: the stats scan. Jobs 1 and 2 run one after the other in
            # the caller's thread, so they keep its job group and local
            # properties (a thread pool's jobs would lose both).
            t1 = time.time()
            stats_rows = [r.asDict() for r in stats_pass(sub, cfg, sources).collect()]
            stats_by_part = {r["part_id"]: r for r in stats_rows}
            job_secs["stats"] += time.time() - t1

            # job 2: row rules → violations table (delete+insert, idempotent)
            t1 = time.time()
            viol, _ = fused_row_violations(sub, snapshot, sources, dups)
            # violations are tiny — coalesce the writers so each partition dir
            # gets one file instead of one per upstream task
            storage.overwrite_partitions(viol.repartition("part_id"), viol_path, batch)
            job_secs["violations"] += time.time() - t1
            t2 = time.time()

            # job 3: ONE rollup agg over written violations gives the
            # per-(part, rule) doc counts, the per-part "any rule" doc count,
            # and the uniqueness (rows, docs) the exact distinct rule needs
            written = storage.read_table(spark, viol_path, VIOLATION_SCHEMA)
            vio_stats = (
                written.filter(F.col("part_id").isin([int(p) for p in batch]))
                .rollup("part_id", "rule_id")
                .agg(
                    F.countDistinct("doc_id").alias("docs"),
                    F.count(F.lit(1)).alias("rows"),
                )
                .filter(F.col("part_id").isNotNull())
                .collect()
                if written is not None
                else []
            )
            docs_by_part_rule: dict[tuple[int, str], int] = {}
            any_docs: dict[int, int] = {}
            null_tokens_rows: dict[int, int] = {}
            uniq: dict[int, tuple[int, int]] = {}
            for r in vio_stats:
                if r["rule_id"] is None:
                    any_docs[r["part_id"]] = r["docs"]
                else:
                    docs_by_part_rule[(r["part_id"], r["rule_id"])] = r["docs"]
                    if r["rule_id"] == "null_tokens":
                        null_tokens_rows[r["part_id"]] = r["rows"]
                    elif r["rule_id"] == "uniqueness":
                        uniq[r["part_id"]] = (r["rows"], r["docs"])
            job_secs["agg"] += time.time() - t2

            # verdict assembly (driver-side, O(partitions))
            rule_rows = stats_verdicts(stats_rows, cfg, null_tokens_rows, uniq)
            rule_rows += drift_verdicts(stats_rows, baseline, cfg, sources)
            dp = cfg.score_round_dp
            for pid in batch:
                n = stats_by_part[pid]["n_rows"] if pid in stats_by_part else 0
                for rid in cfg.row_rules:
                    docs = docs_by_part_rule.get((pid, rid), 0)
                    ratio = round(docs / n, dp) if n else 0.0
                    rule_rows.append(
                        {
                            "part_id": pid,
                            "rule_id": rid,
                            "passed": docs == 0,
                            "observed_stat": ratio,
                            "threshold": 0.0,
                        }
                    )

            wall = time.time() - t0
            batch_rows = sum(stats_by_part[p]["n_rows"] for p in batch if p in stats_by_part)
            total_rows += batch_rows
            failed_by_part: dict[int, list[str]] = {}
            for r in rule_rows:
                if not r["passed"] and r["rule_id"] in cfg.partition_rules:
                    failed_by_part.setdefault(r["part_id"], []).append(r["rule_id"])
            batch_verdicts, manifest_records = [], []
            for pid in batch:
                n = stats_by_part[pid]["n_rows"] if pid in stats_by_part else 0
                vdocs = any_docs.get(pid, 0)
                score = round(vdocs / n, dp) if n else 0.0
                failed = sorted(failed_by_part.get(pid, []))
                label = (
                    "Anomaly" if (score >= cfg.seq_threshold or failed) else "Normal"
                )
                batch_verdicts.append(
                    {
                        "part_id": pid,
                        "label": label,
                        "score": score,
                        "n_rows": n,
                        "violating_docs": vdocs,
                        "failed_rules": failed,
                    }
                )
                stats_digest = hashlib.sha256(
                    json.dumps(
                        {k: str(v) for k, v in sorted(stats_by_part.get(pid, {}).items())},
                        sort_keys=True,
                    ).encode()
                ).hexdigest()[:16]
                manifest_records.append(
                    {
                        "part_id": pid,
                        "status": "done",
                        "label": label,
                        "score": score,
                        "n_rows": n,
                        "input_digest": input_digest,
                        "rule_versions": RULE_VERSIONS,
                        "stats_digest": stats_digest,
                        "batch_wall_sec": round(wall, 3),
                        "batch_rows_per_sec": round(batch_rows / wall, 1) if wall else None,
                    }
                )
            result.rule_verdicts.extend(rule_rows)
            result.verdicts.extend(batch_verdicts)

            # persist verdicts (partitioned, idempotent like violations): a
            # few rows per batch, written from the driver with no Spark job
            storage.overwrite_local_partitions(
                batch_verdicts, VERDICT_SCHEMA, verd_path, batch
            )
            storage.append_manifest(out_dir, manifest_records)
    finally:
        # release on failure too: a failed write must not leave the
        # duplicate-key set pinned in a long-lived session
        if dups is not None:
            dups.unpersist()
    wall_all = time.time() - t_all
    result.metrics = {
        "partitions_total": len(all_parts),
        "partitions_skipped": len(done),
        "duplicate_keys_global": n_dup_keys,
        "partitions_validated": sum(len(b) for b in batches),
        "rows_validated": total_rows,
        "wall_sec": round(wall_all, 3),
        "rows_per_sec": round(total_rows / wall_all, 1) if wall_all else None,
        "job_secs": {k: round(v, 3) for k, v in job_secs.items()},
    }
    return result
