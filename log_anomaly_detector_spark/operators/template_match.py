"""Drain-style fuzzy template matching as a Spark similarity join (J8).

The reference's core algorithm: a new log line is routed through a prefix
tree keyed on token count + leading tokens (``logparser/Drain.py:65-91
treeSearch``), then matched to the most-similar known template by positional
token overlap (``seqDist``, ``Drain.py:151-165``: similarity = #identical
positions / length, wildcards ``<*>`` excluded from the numerator), accepted
when similarity ≥ ``st`` (``fastMatch``, ``Drain.py:167-184``); otherwise the
line founds a new template (→ flagged anomalous in v2, ``Drain.py:367-377``).

Spark lift: the template dim is collected to the driver and travels to the
lines as ONE broadcast row (``_dim_row``): the templates in tie-break order
plus a map from token count to their ordinals — the tree's length level.
Each line looks up its own bucket, keeps the templates that pass the
first-token rule (the tree's second level), and takes the best as
``array_max`` over (similarity, wildcards, -ordinal) structs. No join of
the line side beyond the one-row dim, no window, no shuffle; ``seqDist`` is
a ``zip_with`` + ``aggregate`` column expression. No Python in the loop.

This module also holds the pieces the Spell matcher and Drain induction
share: ``WILDCARD``, ``_local`` and the seqDist scorer ``_seq_sim``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

WILDCARD = "<*>"


def _local(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """Driver rows as a LocalRelation (the Arrow path; a list of tuples
    would become an RDD scan): a projection over it folds on the driver, so
    collecting one runs no Spark job."""
    schema = DataType.fromDDL(ddl)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


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


def _dim_row(templates: DataFrame, rank, keys, key_type: str) -> DataFrame:
    """The (template_id, template_tokens) dim as ONE local row. ``_dim`` holds
    the templates with non-NULL tokens sorted by ``rank(tokens)``, then by
    template_id as Spark sorts it (NULL first), so the smaller ordinal wins a
    tie; ``_cand`` maps each key in ``keys(tokens)`` to the ordinals of the
    templates that have it."""
    tid_type = templates.schema["template_id"].dataType.simpleString()
    rows = templates.select("template_id", "template_tokens").collect()
    dim = sorted(
        ((t, list(k)) for t, k in rows if k is not None),
        key=lambda d: (rank(d[1]), d[0] is not None, d[0]),
    )
    cand: dict = {}
    for o, (_, toks) in enumerate(dim):
        for k in keys(toks):
            cand.setdefault(k, []).append(o)
    return _local(
        templates.sparkSession,
        [
            {
                "_dim": [{"tid": t, "tokens": toks} for t, toks in dim],
                "_cand": list(cand.items()),
            }
        ],
        f"_dim array<struct<tid: {tid_type}, tokens: array<string>>>, "
        f"_cand map<{key_type}, array<int>>",
    )


def _tmpl(o):
    """The dim template at ordinal ``o``: struct(tid, tokens)."""
    return F.get("_dim", o)


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
    Candidates: same token count AND (first tokens equal OR the template
    starts with a wildcard) — level-1/level-2 of Drain's tree.
    Tie-break: highest similarity, then most wildcards (the reference prefers
    the template with more parameters on ties, Drain.py:176-181), then
    template_id asc (pinned).
    """
    dim = _dim_row(templates, lambda toks: 0, lambda toks: [len(toks)], "int")

    def on_path(o):
        first = F.get(_tmpl(o)["tokens"], 0)
        return (first == F.get("tokens", 0)) | (first == WILDCARD)

    def score(o):
        sim, npar = _seq_sim(F.col("tokens"), _tmpl(o)["tokens"])
        return F.struct(
            F.round(sim, 6).alias("sim"),
            npar.alias("npar"),
            (-o).alias("neg_ord"),
            _tmpl(o)["tid"].alias("tid"),
        )

    bucket = F.element_at("_cand", F.size("tokens"))  # NULL: no such length
    best = F.array_max(F.transform(F.filter(bucket, on_path), score))
    return (
        lines.select("line_id", "tokens")
        .crossJoin(F.broadcast(dim))
        .select("line_id", best.alias("_b"))
        .select(
            "line_id",
            F.when(F.col("_b.sim") >= st, F.col("_b.tid")).alias(
                "matched_template_id"
            ),
            F.col("_b.sim").alias("similarity"),
        )
    )
