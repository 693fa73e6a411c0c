"""log_anomaly_detector_spark — a PySpark-native schema + constraint validation engine.

A brand-new engine (not a port) with the data-processing capabilities of the
reference ``nongnong10/log-anomaly-detector``: it validates tables of
pre-tokenized training sequences ``(doc_id string, tokens array<int>,
n_tok int, source string)`` with declarative rule packs (column statistics,
uniqueness, referential integrity, row invariants, token-array equality,
distribution drift), emits per-partition pass/fail verdicts and violation
rows, and checkpoints per-partition completion so reruns resume.

Everything is built on the public PySpark DataFrame/SQL API — Catalyst plans
the physical execution; the engine's rules are built-in expressions only (no
Python UDF), and the operator library uses pandas/Arrow UDFs only where
built-in expressions cannot express the semantics.
"""

__version__ = "0.1.0"

# Rule-pack versions recorded into lineage (bump when semantics change).
RULE_VERSIONS = {
    "null_rate": "1.0",
    "n_tok_stats": "1.0",
    "approx_distinct": "1.1",
    "uniqueness": "1.0",
    "referential": "1.0",
    "n_tok_consistency": "1.0",
    "null_tokens": "1.0",
    "token_equality": "1.1",
    "drift_psi": "1.0",
    "drift_ks": "1.0",
    "drift_chi2": "1.0",
}
