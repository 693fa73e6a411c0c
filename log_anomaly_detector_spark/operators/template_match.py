"""Drain-style fuzzy template matching as a Spark similarity join (J8).

The reference's core algorithm: a new log line is routed through a prefix
tree keyed on token count + leading tokens (``logparser/Drain.py:65-91
treeSearch``), then matched to the most-similar known template by positional
token overlap (``seqDist``, ``Drain.py:151-165``: similarity = #identical
positions / length, wildcards ``<*>`` excluded from the numerator), accepted
when similarity ≥ ``st`` (``fastMatch``, ``Drain.py:167-184``); otherwise the
line founds a new template (→ flagged anomalous in v2, ``Drain.py:367-377``).

Spark lift: the prefix tree becomes the join key — candidates are generated
by an equi-join on ``(token_count, first_non_wildcard_token)`` exactly like
the tree's first two levels, so each line only scores a handful of templates
instead of all of them (the reference's maxChild cap plays the same role).
``seqDist`` is a ``zip_with`` + ``aggregate`` column expression; argmax per
line is a window over the (small) candidate set. No Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

WILDCARD = "<*>"


def _seq_sim(line_toks, tmpl_toks):
    """(similarity, n_wildcards) — Drain.py:151-165 semantics: equal position
    counts 1, template wildcard counts as parameter (never similarity, even
    when the line token is itself the literal '<*>')."""
    eq = F.zip_with(
        line_toks, tmpl_toks, lambda a, b: ((a == b) & (b != WILDCARD)).cast("int")
    )
    n_eq = F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
    n_par = F.size(F.filter(tmpl_toks, lambda t: t == F.lit(WILDCARD)))
    return n_eq / F.size(line_toks), n_par


def match_templates(
    lines: DataFrame,
    templates: DataFrame,
    st: float = 0.5,
) -> DataFrame:
    """For each line, the best template with similarity ≥ st, else NULL
    (= new template / anomaly flag, Drain.py:367-377).

    Input: ``lines`` (line_id, tokens), ``templates`` (template_id,
    template_tokens). Output: (line_id, matched_template_id nullable,
    similarity double).
    Tie-break: highest similarity, then most wildcards (the reference prefers
    the template with more parameters on ties, Drain.py:176-181), then
    template_id asc (pinned).
    """
    l = lines.select(
        F.col("line_id").alias("_lid"),
        F.col("tokens").alias("_ltok"),
        F.size("tokens").alias("_n"),
        F.element_at("tokens", 1).alias("_first"),
    )
    t = templates.select(
        F.col("template_id").alias("_tid"),
        F.col("template_tokens").alias("_ttok"),
        F.size("template_tokens").alias("_n"),
        F.element_at("template_tokens", 1).alias("_tfirst"),
    )
    # prefix-tree analogue: same length AND (first tokens equal OR template
    # starts with a wildcard) — level-1/level-2 of Drain's tree
    cand = l.join(
        t,
        (l["_n"] == t["_n"])
        & ((l["_first"] == t["_tfirst"]) | (t["_tfirst"] == WILDCARD)),
        "left",
    )
    sim, n_par = _seq_sim(F.col("_ltok"), F.col("_ttok"))
    scored = cand.select(
        "_lid",
        "_tid",
        F.when(F.col("_ttok").isNotNull(), F.round(sim, 6)).alias("_sim"),
        F.when(F.col("_ttok").isNotNull(), n_par).alias("_npar"),
    )
    w = Window.partitionBy("_lid").orderBy(
        F.desc_nulls_last("_sim"), F.desc_nulls_last("_npar"), F.asc("_tid")
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_lid").alias("line_id"),
            F.when(F.col("_sim") >= st, F.col("_tid")).alias("matched_template_id"),
            F.col("_sim").alias("similarity"),
        )
    )
    return best
