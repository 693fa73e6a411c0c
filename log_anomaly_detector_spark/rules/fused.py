"""The engine's row-rule plan: every row-scope rule in one fused pass.

One plan over ``seqs`` ⟕ snapshot evaluates the whole row-scope rule pack:
snapshot join → uniqueness count → one exploded projection → one filter.

* the snapshot join is a sort-merge on doc_id — storage-co-located (no
  Exchange) when sequences AND snapshot are bucketed+sorted by doc_id, one
  doc_id shuffle of each side otherwise;
* the uniqueness count is either a join against the run-global duplicate-key
  set (``dups``) or a `Window.partitionBy(doc_id)`; both reuse the snapshot
  join's doc_id partitioning (no extra Exchange on the row side);
* n_tok consistency, NULL tokens, the token-equality *candidate* flag and
  referential are column expressions in the same projection, exploded into
  violation rows. Referential is a literal ``source IN (…)`` over the
  driver's allowed-source set: the dim is never re-read, joined or
  broadcast;
* after the explode (rows ≈ violations only) the candidate rows, and only
  they, get the first-mismatch expression (``first_mismatch``), and
  candidates whose arrays turn out equal are filtered away. Nothing is
  persisted: the big scan runs once, in the write's own job.

Token equality (R7) is exact array equality against the reference snapshot,
the model-free analogue of the reference's per-masked-slot top-k check of the
true token (``bert_pytorch/predict_log.py:95-108``), reported as the first
mismatching position with its (observed, expected) values. The whole plan is
built-in Catalyst expressions: no row crosses into Python.

On the doc_id-bucketed layout the whole plan has zero shuffle Exchanges
(pinned in tests).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_CAND = "_token_eq_candidate"


def first_mismatch(a: str, b: str) -> Column:
    """``struct<idx, obs, exp>`` of the first position where array columns
    ``a`` and ``b`` differ; ``idx`` is -1 when they are equal or either is
    NULL.

    Elements compare NULL-safe (NULL = NULL, NULL ≠ any int), and when the
    lengths differ the first missing slot is a mismatch. ``zip_with`` pads
    the shorter array with NULL, which a NULL element would match, so only a
    mismatch inside the common prefix is taken from it. A missing or NULL
    value reads as -1; ``F.get`` (not ``element_at``) returns NULL for a
    missing slot instead of raising under ANSI mode.
    """
    la, lb = F.size(a), F.size(b)
    common = F.least(la, lb)
    pos = F.array_position(F.zip_with(a, b, lambda x, y: x.eqNullSafe(y)), False)
    idx = (
        F.when((pos > 0) & (pos <= common), pos - 1)
        .when(la != lb, common)
        .otherwise(-1)
        .cast("int")
    )
    return F.struct(
        idx.alias("idx"),
        F.coalesce(F.get(a, idx), F.lit(-1)).alias("obs"),
        F.coalesce(F.get(b, idx), F.lit(-1)).alias("exp"),
    )


def fused_row_violations(
    seqs: DataFrame,
    snapshot: DataFrame,
    sources: Iterable[str] | DataFrame,
    dups: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (violations, rows): ``rows`` is the exploded projection
    before the token-equality filter, with the ``_token_eq_candidate`` rows.

    ``sources`` is the allowed-source set; a NULL or repeated entry changes
    nothing. ``dups`` (doc_id, dup_cnt), when given, is the duplicate-key set
    computed over the FULL table (engine job 0) so duplicates spanning
    checkpoint batches are caught; on the doc_id-bucketed layout that join is
    co-located (no Exchange) just like the snapshot join. Without ``dups``
    the count is a window over ``seqs`` itself — table-global when ``seqs``
    is the whole table (the engine's single full batch).
    """
    if isinstance(sources, DataFrame):
        # the dim itself, as perfbench's replay passes it; this goes when the
        # replay reads the engine's own spans (ROADMAP direction 1)
        sources = [r["source"] for r in sources.select("source").collect()]
    allowed = sorted(set(sources) - {None})
    joined = seqs.join(snapshot.select("doc_id", "ref_tokens"), "doc_id", "left")
    if dups is None:
        # window computed as its own projection first — Spark cannot resolve
        # a window expression nested inside the explode/filter lambda below
        joined = joined.withColumn(
            "_dup_cnt", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    else:
        joined = joined.join(
            dups.select("doc_id", F.col("dup_cnt").alias("_dup_cnt")),
            "doc_id",
            "left",
        )
    dup_cnt = F.col("_dup_cnt")

    def v(cond, rule_id, observed, expected):
        return F.when(
            cond,
            F.struct(
                F.lit(rule_id).alias("rule_id"),
                observed.alias("observed"),
                expected.alias("expected"),
            ),
        )

    viols = F.array(
        v(
            ~(F.col("n_tok") == F.size("tokens")),
            "n_tok_consistency",
            F.concat(F.lit("n_tok="), F.col("n_tok").cast("string")),
            F.concat(F.lit("size(tokens)="), F.size("tokens").cast("string")),
        ),
        v(
            F.col("source").isNotNull() & ~F.col("source").isin(allowed),
            "referential",
            F.col("source"),
            F.lit("member of allowed_sources"),
        ),
        v(
            F.col("tokens").isNull(),
            "null_tokens",
            F.lit("tokens=NULL"),
            F.lit("non-null tokens"),
        ),
        v(
            F.col("doc_id").isNotNull() & (dup_cnt > 1),
            "uniqueness",
            F.concat(F.lit("count="), dup_cnt.cast("string")),
            F.lit("count=1"),
        ),
        v(
            F.col("ref_tokens").isNotNull()
            & ~F.col("tokens").eqNullSafe(F.col("ref_tokens")),
            _CAND,
            F.lit(""),
            F.lit(""),
        ),
    )
    rows = joined.select(
        "part_id",
        "doc_id",
        "tokens",
        "ref_tokens",
        F.explode(F.filter(viols, lambda x: x.isNotNull())).alias("v"),
    ).select("part_id", "doc_id", "tokens", "ref_tokens", "v.*")

    # Catalyst HOFs do not codegen: the guard keeps zip_with off every
    # non-candidate row. A non-candidate's ``m`` is NULL and is kept.
    cand = F.col("rule_id") == _CAND
    m = F.col("m")
    viol = (
        rows.withColumn("m", F.when(cand, first_mismatch("tokens", "ref_tokens")))
        .filter(F.coalesce(m.idx, F.lit(0)) >= 0)
        .select(
            "part_id",
            "doc_id",
            F.when(cand, F.lit("token_equality"))
            .otherwise(F.col("rule_id"))
            .alias("rule_id"),
            F.when(
                cand,
                F.concat(
                    F.lit("tokens["),
                    m.idx.cast("string"),
                    F.lit("]="),
                    m.obs.cast("string"),
                ),
            ).otherwise(F.col("observed")).alias("observed"),
            F.when(cand, F.concat(F.lit("ref="), m.exp.cast("string")))
            .otherwise(F.col("expected"))
            .alias("expected"),
        )
    )
    return viol, rows
