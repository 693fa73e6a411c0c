"""Drain-style fuzzy template matching as a Spark similarity join (J8).

The reference's core algorithm: a new log line is routed through a prefix
tree keyed on token count + leading tokens (``logparser/Drain.py:65-91
treeSearch``), then matched to the most-similar known template by positional
token overlap (``seqDist``, ``Drain.py:151-165``: similarity = #identical
positions / length, wildcards ``<*>`` excluded from the numerator), accepted
when similarity ≥ ``st`` (``fastMatch``, ``Drain.py:167-184``); otherwise the
line founds a new template (→ flagged anomalous in v2, ``Drain.py:367-377``).

Spark lift: one step serves all three matchers (this one, ``spell_match``
and Drain induction). The dim is held on the driver and travels to the
lines as ONE broadcast row (``_dim_row``): the templates in tie-break order
plus ``_cand``, a map from candidate keys to their ordinals. Each line
looks up its own probe keys and takes the best ordinal they hit as
``array_max`` over its matcher's score structs (``_best``). Here the keys
are tree paths (``_drain_pick``): token count, then the first token or
``<*>``; the score is (similarity, wildcards, -ordinal). No join of the
line side beyond the one-row dim, no window, no shuffle; ``seqDist`` is a
``zip_with`` + ``aggregate`` column expression. No Python in the loop.

This module also holds ``_local``, the seqDist scorer ``_seq_sim`` and
``_prefix_fixture``, both matcher queries' input.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from log_anomaly_detector_spark.functions.text_funcs import WILDCARD


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


def _collect_dim(templates: DataFrame) -> tuple[list, str]:
    """The (template_id, template_tokens) dim on the driver as
    [(tid, tokens)], NULL-token templates dropped, and the id's type."""
    rows = templates.select("template_id", "template_tokens").collect()
    return (
        [(t, list(k)) for t, k in rows if k is not None],
        templates.schema["template_id"].dataType.simpleString(),
    )


def _dim_row(
    spark: SparkSession, dim: list, tid_type: str, rank, keys, key_type: str
) -> DataFrame:
    """The driver dim [(tid, tokens)] as ONE local row. ``_dim`` holds the
    templates sorted by ``rank(tokens)``, then by tid as Spark sorts it (NULL
    first), so the smaller ordinal wins a tie; ``_cand`` maps each key in
    ``keys(tokens)`` to the ordinals of the templates that have it."""
    dim = sorted(dim, key=lambda d: (rank(d[1]), d[0] is not None, d[0]))
    cand: dict = {}
    for o, (_, toks) in enumerate(dim):
        for k in keys(toks):
            cand.setdefault(k, []).append(o)
    return _local(
        spark,
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


def _best(probes, score, keep=None):
    """The step every matcher shares: the ordinals a line's ``probes`` hit in
    ``_cand``, those that pass ``keep``, and the best of them as
    ``array_max`` over their ``score`` structs (NULL: no candidate)."""
    hits = F.transform(
        probes,
        lambda p: F.coalesce(F.element_at("_cand", p), F.array().cast("array<int>")),
    )
    cands = F.array_distinct(F.flatten(hits))
    if keep is not None:
        cands = F.filter(cands, keep)
    return F.array_max(F.transform(cands, score))


def _pick(lines: DataFrame, dim: DataFrame, best, *cols) -> DataFrame:
    """(line_id, *cols, _b): each line's ``best`` struct, computed against
    the broadcast one-row ``dim`` — no join of the lines beyond it."""
    return (
        lines.select("line_id", "tokens")
        .crossJoin(F.broadcast(dim))
        .select("line_id", *cols, best.alias("_b"))
    )


def _drain_pick(lines, dim, tid_type, nk, key, rounded, st, *cols):
    """(line_id, *cols, template_id, similarity): Drain's pick (fastMatch,
    Drain.py:167-184) among the templates on the line's tree paths
    (treeSearch, Drain.py:65-91). A template's path is its token count, then
    ``key`` of each of its first ``nk`` tokens (None past its end; a NULL
    level or an empty template has no path); a line probes its own token and
    the ``<*>`` child per level, both explored. Best = max (sim, npar,
    -ordinal): similarity (6dp when ``rounded``), then more wildcards, then
    the smaller ordinal; matched iff sim ≥ st."""

    def path(toks):
        ks = [key(toks[i] if i < len(toks) else None) for i in range(nk)]
        return [] if not toks or None in ks else [(str(len(toks)), *ks)]

    row = _dim_row(
        lines.sparkSession, dim, tid_type, lambda toks: 0, path, "array<string>"
    )
    n = F.size("tokens").cast("string")
    levels = [(F.get("tokens", i), F.lit(WILDCARD)) for i in range(nk)]
    probes = F.array(*[F.array(n, *p) for p in itertools.product(*levels)])

    def score(o):
        sim, npar = _seq_sim(F.col("tokens"), _tmpl(o)["tokens"])
        return F.struct(
            (F.round(sim, 6) if rounded else sim).alias("sim"),
            npar.alias("npar"),
            (-o).alias("neg_ord"),
            _tmpl(o)["tid"].alias("tid"),
        )

    return _pick(lines, row, _best(probes, score), *cols).select(
        "line_id",
        *cols,
        F.when(F.col("_b.sim") >= st, F.col("_b.tid")).alias("template_id"),
        F.col("_b.sim").alias("similarity"),
    )


def _prefix_fixture(spark: SparkSession, sf_dir: str):
    """(lines, templates) of the two matcher queries: every document's
    5-word prefix is a line, and the first 25 documents' prefixes with
    position 3 wildcarded are the templates."""
    from log_anomaly_detector_spark.functions.text_funcs import words
    from log_anomaly_detector_spark.operators.relational import t, widen

    docs = t(spark, sf_dir, "documents")
    # every line is scored against the dim, so the single-split line scan
    # is widened; the 25-row template side keeps the plain scan (its
    # doc_id<25 predicate pushes down)
    lines = widen(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id").alias("line_id"),
        F.slice(words(F.col("text")), 1, 5).alias("tokens"),
    )
    templates = docs.filter(F.col("doc_id") < 25).select(
        F.concat(F.lit("T"), F.col("doc_id").cast("string")).alias("template_id"),
        F.expr(
            "concat(slice(split(trim(text), ' +'), 1, 2), array('<*>'), "
            "slice(split(trim(text), ' +'), 4, 2))"
        ).alias("template_tokens"),
    )
    return lines, templates


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
    dim, tid_type = _collect_dim(templates)
    return _drain_pick(
        lines, dim, tid_type, 1, lambda tok: tok, True, st
    ).withColumnRenamed("template_id", "matched_template_id")
