"""Golden oracle: an independent plain-pandas/NumPy implementation of every
rule (FIXTURES.md F5). Deliberately written in the simplest obviously-correct
style (per-row loops are fine here — it runs on small fixtures only); the
Spark engine must agree 100% per partition.

Semantics pinned identically to config.py: strict ``>`` per rule, ``>=`` at
the verdict layer, scores rounded to 6dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from log_anomaly_detector_spark.config import RuleConfig
from log_anomaly_detector_spark.rules.drift import chi2_norm, ks_d, psi


def golden_row_violations(
    seq: pd.DataFrame, snap: pd.DataFrame, allowed: set[str]
) -> pd.DataFrame:
    """(part_id, doc_id, rule_id) for every row-scope violation."""
    out: list[tuple[int, str, str]] = []
    dup_counts = seq["doc_id"].value_counts()
    dups = set(dup_counts[dup_counts > 1].index)
    ref = dict(zip(snap["doc_id"], snap["ref_tokens"]))
    for row in seq.itertuples(index=False):
        toks = None if row.tokens is None else list(row.tokens)
        if toks is None:
            out.append((row.part_id, row.doc_id, "null_tokens"))
        elif row.n_tok is not None and row.n_tok != len(toks):
            out.append((row.part_id, row.doc_id, "n_tok_consistency"))
        if row.source is not None and not (
            isinstance(row.source, float) and np.isnan(row.source)
        ):
            if row.source not in allowed:
                out.append((row.part_id, row.doc_id, "referential"))
        if row.doc_id in dups:
            out.append((row.part_id, row.doc_id, "uniqueness"))
        rt = ref.get(row.doc_id)
        if toks is not None and rt is not None and list(rt) != toks:
            out.append((row.part_id, row.doc_id, "token_equality"))
    return pd.DataFrame(out, columns=["part_id", "doc_id", "rule_id"]).drop_duplicates()


def golden_partition_verdicts(
    seq: pd.DataFrame, baseline: dict, cfg: RuleConfig, sources: list[str]
) -> pd.DataFrame:
    """(part_id, rule_id, passed, observed_stat) for partition-scope rules."""
    dp = cfg.score_round_dp
    base_hist = np.asarray(baseline["hist"], dtype=np.float64)
    base_src = np.asarray(
        [baseline["source_counts"].get(s, 0) for s in sources], dtype=np.float64
    )
    width = (cfg.hist_hi - cfg.hist_lo) / cfg.hist_buckets
    rows = []
    for pid, g in seq.groupby("part_id"):
        n = len(g)
        null_rates = [
            g["doc_id"].isna().sum() / n,
            g["tokens"].isna().sum() / n,
            g["n_tok"].isna().sum() / n,
            g["source"].isna().sum() / n,
        ]
        max_null = round(max(null_rates), dp)
        rows.append((pid, "null_rate", not (max_null > cfg.max_null_rate), max_null))

        mean = round(float(g["n_tok"].mean()), dp)
        ok = (
            g["n_tok"].min() >= cfg.n_tok_min_allowed
            and g["n_tok"].max() <= cfg.n_tok_max_allowed
            and cfg.n_tok_mean_lo <= mean <= cfg.n_tok_mean_hi
        )
        rows.append((pid, "n_tok_stats", bool(ok), mean))

        ratio = round(g["doc_id"].nunique() / n, dp)
        rows.append((pid, "approx_distinct", not (ratio < cfg.min_distinct_ratio), ratio))

        b = np.clip(
            np.floor((g["n_tok"].to_numpy() - cfg.hist_lo) / width).astype(int),
            0,
            cfg.hist_buckets - 1,
        )
        hist = np.bincount(b, minlength=cfg.hist_buckets).astype(np.float64)
        src = np.asarray(
            [(g["source"] == s).sum() for s in sources], dtype=np.float64
        )
        for rid, stat, th in (
            ("drift_psi", psi(hist, base_hist), cfg.psi_threshold),
            ("drift_ks", ks_d(hist, base_hist), cfg.ks_threshold),
            ("drift_chi2", chi2_norm(src, base_src), cfg.chi2_threshold),
        ):
            rows.append((pid, rid, not (round(stat, dp) > th), round(stat, dp)))
    return pd.DataFrame(rows, columns=["part_id", "rule_id", "passed", "observed_stat"])


def golden_labels(
    seq: pd.DataFrame,
    violations: pd.DataFrame,
    part_verdicts: pd.DataFrame,
    cfg: RuleConfig,
) -> pd.DataFrame:
    """(part_id, label, score): 'Anomaly' iff round(score,6) >= seq_threshold
    or any partition-scope rule failed (reference: `>=` at the verdict layer,
    api/detect_anomaly_sequence_v2.py:245-246)."""
    dp = cfg.score_round_dp
    rows = []
    row_rules = set(cfg.row_rules)
    for pid, g in seq.groupby("part_id"):
        n = len(g)
        vdocs = violations[
            (violations["part_id"] == pid) & (violations["rule_id"].isin(row_rules))
        ]["doc_id"].nunique()
        score = round(vdocs / n, dp) if n else 0.0
        failed = part_verdicts[
            (part_verdicts["part_id"] == pid)
            & (~part_verdicts["passed"])
            & (part_verdicts["rule_id"].isin(set(cfg.partition_rules)))
        ]
        label = "Anomaly" if (score >= cfg.seq_threshold or len(failed)) else "Normal"
        rows.append((pid, label, score))
    return pd.DataFrame(rows, columns=["part_id", "label", "score"])
