"""Engine configuration: rule thresholds and pinned semantics.

Threshold semantics are pinned to the reference (SURVEY.md §2.9 R9):

* per-partition verdict label uses ``>=`` — ``score >= seq_threshold →
  'Anomaly'`` (reference: ``api/detect_anomaly_sequence_v2.py:245-246``);
* per-sequence / per-rule exceedance uses strict ``>`` (reference:
  ``bert_pytorch/predict_log.py:16-29`` ``compute_anomaly``);
* scores are rounded to 6 decimal places before comparison (reference:
  ``database/upsert_log_block.py:32``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class RuleConfig:
    # --- column statistics (R1-R3) -------------------------------------
    # max tolerated null rate per column (reference drops unparseable lines
    # silently, Drain.py:518-530; we surface the rate and gate it).
    max_null_rate: float = 0.02
    # n_tok bounds: reference gates min_len=10 (sample.py:25-26) and caps
    # seq_len=512 (HDFS/logbert.py:31-32).
    n_tok_min_allowed: int = 1
    n_tok_max_allowed: int = 512
    n_tok_mean_lo: float = 8.0
    n_tok_mean_hi: float = 200.0
    # approx distinct(doc_id)/count must exceed this (dup tolerance).
    min_distinct_ratio: float = 0.95

    # --- uniqueness (R4) ------------------------------------------------
    # Read by nothing: rules/uniqueness.py has one plan. perfbench and
    # bench.py still pass uniqueness_mode="direct"; direction 1's benchmark
    # PR (ROADMAP) deletes the field.
    uniqueness_mode: str = "direct"

    # --- drift (R8) -------------------------------------------------------
    # fixed n_tok histogram bucket edges (pinned; width 16 up to 512).
    hist_lo: int = 0
    hist_hi: int = 512
    hist_buckets: int = 32
    psi_threshold: float = 0.2        # industry-standard "significant shift"
    ks_threshold: float = 0.1         # max ECDF distance D
    chi2_threshold: float = 0.15      # normalized chi2 stat (sum((o-e)^2/e)/N)

    # --- verdict (R9) -----------------------------------------------------
    # partition label = 'Anomaly' iff round(violation_ratio,6) >= seq_threshold
    # OR any partition-scope rule fails. API default 0.2 (main.py:127).
    seq_threshold: float = 0.2
    score_round_dp: int = 6

    # row-scope rules contributing docs to the violation ratio
    row_rules: tuple[str, ...] = (
        "uniqueness",
        "referential",
        "n_tok_consistency",
        "token_equality",
        "null_tokens",
    )
    # partition-scope rules whose failure alone flips the label
    partition_rules: tuple[str, ...] = (
        "null_rate",
        "n_tok_stats",
        "approx_distinct",
        "drift_psi",
        "drift_ks",
        "drift_chi2",
    )


DEFAULT_CONFIG = RuleConfig()
