"""Spell-style LCS template matching as a Spark similarity join — the
reference's SECOND parser family (logparser/Spell.py), completing J8's
parenthetical citation.

Reference semantics being reproduced (logparser/Spell.py):

* ``LCS`` (Spell.py:59-81) — classic O(n·m) longest-common-subsequence DP
  between the token sequence and a template's token list; tokens compare
  literally (a template ``<*>`` never equals a word);
* ``LCSMatch`` (Spell.py:112-133) — candidate prefilter: skip templates whose
  DISTINCT-token overlap with the sequence is < 0.5·|seq|; best = max LCS
  length, ties prefer the SHORTER template; accept iff
  ``lcs_len >= tau · |seq|``;
* the sequential loop (Spell.py:245-266) tries PrefixTreeMatch →
  SimpleLoopMatch → LCSMatch; the tree/loop tiers are pure short-circuit
  OPTIMIZATIONS of the same decision — the matcher below implements the
  authoritative LCS tier.

Spark lift: the step all three matchers share (``template_match._dim_row``
+ ``_best``). The dim is held on the driver and travels to the lines as ONE
broadcast row: the templates sorted by (length, id), plus a map from each
distinct template token to their ordinals. The set-overlap prefilter uses
the PREFIX PRINCIPLE: a line's first |distinct|−⌈len/2⌉+1 canonical-order
distinct tokens must hit any qualifying template, so each line looks up
only those probe tokens in the map and runs the exact overlap check on
what they return. LCS itself
is a pure Catalyst fold: ``aggregate`` over the line's tokens with the DP row
as the accumulator. One step of the classic recurrence

    L[i][j] = max(L[i-1][j-1] + eq(i,j), L[i-1][j], L[i][j-1])

is computed as ``u[j] = eq ? row[j-1]+1 : row[j]`` followed by a prefix-max
(valid because adjacent DP cells differ by ≤ 1); the prefix-max is an
O(m²) ``transform`` + ``array_max`` — m is a log-template length (tens), so
the whole score is a few hundred JVM-side integer ops per candidate, no
Python anywhere. The best template is ``array_max`` over the line's
(lcs_len, -ordinal) structs, so the tie-break is pinned (desc lcs_len, asc
template length, asc template_id — the reference scans insertion order,
which a distributed argmax cannot reproduce; the pinned order is
deterministic at any parallelism). The line side joins nothing but the
one-row dim: no window, no shuffle of its own.

The identical integer DP is expressible in DuckDB as a recursive CTE
(one iteration per line token, same prefix-max trick), so the operator gets
a HARD value oracle — see ``_SPELL_SQL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.template_match import (
    _best,
    _collect_dim,
    _dim_row,
    _pick,
    _prefix_fixture,
    _tmpl,
)

TAU = 0.5  # Spell's default tau (Spell.py:49) — accept iff lcs >= tau·|seq|


def lcs_length(a: Column, b: Column) -> Column:
    """LCS length of two array<string> columns as a JVM-side integer fold
    (Spell.py:59-81 semantics: literal token equality)."""
    m = F.size(b)
    init = F.array_repeat(F.lit(0), m + 1)

    def step(row: Column, tok: Column) -> Column:
        # u[j] = eq(tok, b[j]) ? row[j-1] + 1 : row[j]   (1-based j over b)
        prev_cur = F.zip_with(
            F.slice(row, 1, m),
            F.slice(row, 2, m),
            lambda p, c: F.struct(p.alias("p"), c.alias("c")),
        )
        u = F.zip_with(
            prev_cur,
            b,
            lambda st, tb: F.when(tok == tb, st["p"] + 1).otherwise(st["c"]),
        )
        # new row = [0] ++ prefix-max(u)  (adjacent DP cells differ ≤ 1, so
        # the running max IS the full recurrence)
        return F.concat(
            F.array(F.lit(0)),
            F.transform(
                F.sequence(F.lit(1), m), lambda j: F.array_max(F.slice(u, 1, j))
            ),
        )

    return F.when((F.size(a) == 0) | (m == 0), F.lit(0)).otherwise(
        F.element_at(F.aggregate(a, init, step), -1)
    )


def spell_match(lines: DataFrame, templates: DataFrame) -> DataFrame:
    """For each line, the best template by Spell's LCSMatch (Spell.py:112-133),
    else NULL (= the line would found a new cluster, Spell.py:252-255).

    Input: ``lines`` (line_id, tokens), ``templates`` (template_id,
    template_tokens). Output: (line_id, matched_template_id nullable,
    lcs_len nullable int).
    Candidates: distinct-token overlap ≥ 0.5·|seq| (the reference's set
    prefilter — templates outside it can never win anyway for tau ≥ 0.5,
    since lcs_len ≤ distinct-overlap is false in general with duplicate
    tokens, but the reference applies exactly this filter and so do we).
    Accept: lcs_len ≥ TAU·|seq|. Tie-break: desc lcs_len, asc |template|,
    asc template_id (pinned; reference: insertion order, Spell.py:124-127).
    Templates with NULL tokens never match.
    """
    # the dim in tie-break order, its distinct tokens mapped to ordinals
    dim, tid_type = _collect_dim(templates)
    row = _dim_row(
        templates.sparkSession, dim, tid_type, len, lambda k: set(k) - {None}, "string"
    )
    n = F.size("tokens")
    # ---- candidates via the prefix principle. The reference's prefilter is
    # |distinct(A) ∩ B| ≥ 0.5·len(A) (raw length!). Any probe set of the
    # first |distinct(A)| − ⌈len(A)/2⌉ + 1 canonical-order distinct tokens
    # must hit a qualifying template: if it misses, the overlap is
    # ≤ ⌈len(A)/2⌉ − 1 < 0.5·len(A). So each line looks up only its probe
    # tokens in the dim's token map, then applies the exact filter. ---------
    dset = F.array_sort(F.array_distinct("tokens"))
    probe_len = F.size(dset) - F.ceil(n / 2).cast("int") + 1
    probes = F.slice(dset, 1, F.greatest(probe_len, F.lit(0)))

    def score(o, lcs):
        return F.struct(
            lcs.alias("lcs"), (-o).alias("neg_ord"), _tmpl(o)["tid"].alias("tid")
        )

    # zero-token lines: the probe finds nothing, but the reference's LCSMatch
    # arithmetic matches them to the SHORTEST template (every lcs is 0,
    # prefilter 0 < 0.5·0 never skips, accept 0 ≥ tau·0 holds; our pinned
    # tie-break → min (len, id)) — ordinal 0 of the sorted dim
    best = F.when(
        (n == 0) & (F.size("_dim") > 0), score(F.lit(0), F.lit(0))
    ).otherwise(
        _best(
            probes,
            lambda o: score(o, lcs_length(F.col("tokens"), _tmpl(o)["tokens"])),
            keep=lambda o: (
                F.size(F.array_intersect("tokens", _tmpl(o)["tokens"])) >= 0.5 * n
            ),
        )
    )
    return _pick(lines, row, best, n.alias("_n")).select(
        "line_id",
        F.when(F.col("_b.lcs") >= TAU * F.col("_n"), F.col("_b.tid")).alias(
            "matched_template_id"
        ),
        F.col("_b.lcs").cast("int").alias("lcs_len"),
    )


# --- driver-contract entry: the same fixture as q_template_match
# (template_match._prefix_fixture), scored with Spell's LCS semantics instead
# of Drain's positional similarity — the two parser families are directly
# comparable on identical inputs. ---------------------------------------------
def q_spell_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spell_match(*_prefix_fixture(spark, sf_dir))


_SPELL_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents
), lines AS (
  SELECT doc_id AS line_id, list_slice(w, 1, 5) AS ltok, len(list_slice(w, 1, 5)) AS n
  FROM toks
), tmpl AS (
  SELECT 'T' || doc_id AS tid,
         list_concat(list_concat(list_slice(w, 1, 2), ['<*>']), list_slice(w, 4, 5)) AS ttok
  FROM toks WHERE doc_id < 25
), cand AS (
  SELECT l.line_id, l.ltok, l.n, t.tid, t.ttok, len(t.ttok) AS m
  FROM lines l LEFT JOIN tmpl t
    ON len(list_filter(list_distinct(l.ltok), x -> list_contains(t.ttok, x)))
       >= 0.5 * l.n
), dp AS (
  SELECT line_id, ltok, n, tid, ttok, m, 0 AS i,
         list_transform(range(0, coalesce(m, 0) + 1), x -> 0) AS row
  FROM cand
  UNION ALL
  SELECT line_id, ltok, n, tid, ttok, m, i + 1,
         list_prepend(0, list_transform(range(1, m + 1),
           j -> list_max(list_transform(range(1, j + 1),
                  k -> CASE WHEN ltok[i + 1] = ttok[k]
                            THEN row[k] + 1 ELSE row[k + 1] END))))
  FROM dp WHERE tid IS NOT NULL AND i < n
), lcs AS (
  SELECT line_id, n, tid, m, row[m + 1] AS lcs_len
  FROM dp WHERE tid IS NOT NULL AND i = n
  UNION ALL
  SELECT line_id, n, NULL AS tid, NULL AS m, NULL AS lcs_len
  FROM cand WHERE tid IS NULL
)
SELECT line_id,
       CASE WHEN lcs_len >= {TAU} * n THEN tid END AS matched_template_id,
       cast(lcs_len AS int) AS lcs_len
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY line_id
    ORDER BY lcs_len DESC NULLS LAST, m ASC NULLS LAST, tid
  ) AS rn
  FROM lcs
) WHERE rn = 1
"""

QUERIES = {"spell_match": q_spell_match}
ORACLES = {"spell_match": _SPELL_SQL}
