"""Partition-scope column statistics — ONE scan, one tiny shuffle.

Computes, per partition, in a single ``groupBy(part_id).agg(...)``:

* row count and per-column null counts (R1 — reference analogue: unparseable
  lines silently dropped, ``logparser/Drain.py:518-530``; we surface the rate)
* min / max / mean of ``n_tok`` (R2 — reference gates ``min_len=10`` at
  ``bert_pytorch/dataset/sample.py:25-26``, caps ``seq_len=512``)
* NOT the distinct doc_id count (R3 — reference keeps a first-seen block-id
  registry, ``logparser/Drain.py:386-390``): it is exact and comes from the
  engine's rollup over the written uniqueness violations (``stats_verdicts``'s
  ``uniq``), so this scan carries no distinct aggregate of any kind
* the fixed-bucket ``n_tok`` histogram and per-source frequency counts that
  feed the drift pack (R8) — as conditional sums so NO second scan is needed.
  Summed over a clean generation, the same columns are the drift baseline
  (``datagen.gen_baseline_profile``), so the bucket rule is written once.

Catalyst plans this as partial (map-side) + final hash aggregation: each task
reduces its rows to one partial row per partition key, so the shuffle moves
O(tasks × partitions) tiny rows regardless of table size — this is the shape
that survives 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_anomaly_detector_spark.config import RuleConfig


def stats_pass(df: DataFrame, cfg: RuleConfig, sources: list[str]) -> DataFrame:
    """One aggregate over the table → one row per part_id with every stat.

    ``sources`` is the (tiny) allowed-sources dimension, used to pivot the
    per-source frequency counts into fixed columns driver-side.
    """
    width = (cfg.hist_hi - cfg.hist_lo) / cfg.hist_buckets
    bucket = F.least(
        F.greatest(
            F.floor((F.col("n_tok") - F.lit(cfg.hist_lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(cfg.hist_buckets - 1),
    )
    # NOTE: no aggregate here reads `tokens` — the fat column stays out of
    # this scan entirely (ReadSchema: doc_id, n_tok, source, part_id). The
    # tokens null count comes from the fused row-rule scan (rules/fused.py
    # 'null_tokens'), which reads tokens regardless.
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("null_doc_id"),
        F.sum(F.when(F.col("n_tok").isNull(), 1).otherwise(0)).alias("null_n_tok"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).alias("null_source"),
        F.min("n_tok").alias("n_tok_min"),
        F.max("n_tok").alias("n_tok_max"),
        F.avg("n_tok").alias("n_tok_mean"),
    ]
    # n_tok histogram buckets (drift input) — conditional sums, same scan
    aggs += [
        F.sum(F.when(bucket == F.lit(b), 1).otherwise(0)).alias(f"hist_{b}")
        for b in range(cfg.hist_buckets)
    ]
    # per-dimension-source frequencies (chi-square input), same scan
    aggs += [
        F.sum(F.when(F.col("source") == F.lit(s), 1).otherwise(0)).alias(f"src_{i}")
        for i, s in enumerate(sources)
    ]
    return df.groupBy("part_id").agg(*aggs)


def stats_verdicts(
    stats_rows: list[dict],
    cfg: RuleConfig,
    null_tokens_rows: dict[int, int] | None = None,
    uniq: dict[int, tuple[int, int]] | None = None,
) -> list[dict]:
    """Driver-side: turn collected stats rows (one per partition — tiny) into
    per-(part_id, rule_id) verdicts. Strict ``>`` at the rule layer, stats
    rounded to 6dp first (pinned semantics, config.py).

    ``null_tokens_rows``: per-partition count of NULL-tokens rows, sourced
    from the row-rule scan (so this pass never reads the tokens column).

    ``uniq``: per-partition ``(rows, docs)`` of the uniqueness violations —
    rows whose non-NULL doc_id occurs more than once in the whole table, and
    their distinct doc_ids. Every repeat of a doc_id within a partition is
    such a row, so the exact distinct count is
    ``(n_rows - null_doc_id) - rows + docs`` at any batching.
    """
    out = []
    dp = cfg.score_round_dp
    null_tokens_rows = null_tokens_rows or {}
    uniq = uniq or {}
    for r in stats_rows:
        pid, n = r["part_id"], r["n_rows"]
        null_rates = [
            r[c] / n for c in ("null_doc_id", "null_n_tok", "null_source")
        ] + [null_tokens_rows.get(pid, 0) / n]
        max_null = round(max(null_rates), dp)
        out.append(
            {
                "part_id": pid,
                "rule_id": "null_rate",
                "passed": not (max_null > cfg.max_null_rate),
                "observed_stat": max_null,
                "threshold": cfg.max_null_rate,
            }
        )
        if r["n_tok_mean"] is None:
            # all-NULL n_tok partition: min/max/mean aggregates are NULL —
            # that's a failed n_tok_stats rule, not a crash (the null_rate
            # rule flags the same partition independently).
            mean = float("nan")
            stats_ok = False
        else:
            mean = round(float(r["n_tok_mean"]), dp)
            stats_ok = (
                r["n_tok_min"] >= cfg.n_tok_min_allowed
                and r["n_tok_max"] <= cfg.n_tok_max_allowed
                and cfg.n_tok_mean_lo <= mean <= cfg.n_tok_mean_hi
            )
        out.append(
            {
                "part_id": pid,
                "rule_id": "n_tok_stats",
                "passed": stats_ok,
                "observed_stat": mean,
                "threshold": cfg.n_tok_mean_hi,
            }
        )
        dup_rows, dup_docs = uniq.get(pid, (0, 0))
        distinct = n - r["null_doc_id"] - dup_rows + dup_docs
        ratio = round(distinct / n, dp) if n else 1.0
        out.append(
            {
                "part_id": pid,
                "rule_id": "approx_distinct",
                "passed": not (ratio < cfg.min_distinct_ratio),
                "observed_stat": ratio,
                "threshold": cfg.min_distinct_ratio,
            }
        )
    return out
