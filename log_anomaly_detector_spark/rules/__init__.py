"""Rule packs for the validation engine.

Scopes (SURVEY.md §2.9):

* **partition scope** — one verdict row per (part_id, rule_id):
  column stats (null rate, n_tok min/max/mean, distinct doc_id ratio) and the
  drift pack (PSI, KS, chi-square vs a pinned baseline profile).
* **row scope** — violation rows (part_id, doc_id, rule_id, observed,
  expected): uniqueness, referential integrity, n_tok consistency, NULL
  tokens, token-array equality vs the reference snapshot.

The engine evaluates all partition-scope stats in ONE scan
(`column_stats.stats_pass`) and all row-scope rules in ONE fused pass
(`fused.fused_row_violations`), the package's only row-rule pack: the same
plan on every layout; only the snapshot join and the uniqueness count
shuffle, and neither does on the doc_id-bucketed layout.
"""

from log_anomaly_detector_spark.rules.column_stats import stats_pass  # noqa: F401
from log_anomaly_detector_spark.rules.fused import fused_row_violations  # noqa: F401
from log_anomaly_detector_spark.rules.drift import drift_verdicts  # noqa: F401
