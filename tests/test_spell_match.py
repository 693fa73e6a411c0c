"""Spell LCS matcher semantics: the Catalyst fold must agree with an
independent sequential LCS, and spell_match must reproduce the reference's
LCSMatch decision rules (prefilter, max-LCS, shorter-template tie, tau
accept) on planted cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.spell_match import (
    lcs_length,
    q_spell_match,
    spell_match,
)
from log_anomaly_detector_spark.operators.template_induction import _match
from log_anomaly_detector_spark.operators.text import q_template_match
from plan_audit import formatted_plan

SF = "/root/testdata/sf0.001"


def _lcs_ref(a: list[str], b: list[str]) -> int:
    # independent sequential DP (full-matrix formulation, written fresh —
    # intentionally not the rolling-row used by the Spark fold)
    n, m = len(a), len(b)
    L = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            L[i][j] = (
                L[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(L[i - 1][j], L[i][j - 1])
            )
    return L[n][m]


CASES = [
    (["a", "b", "c", "d"], ["a", "c", "d"]),          # plain subsequence
    (["a", "b", "c"], ["x", "y", "z"]),               # disjoint
    (["a", "a", "b", "a"], ["a", "b", "a", "a"]),     # duplicates
    (["recv", "block", "<*>"], ["recv", "block", "<*>"]),  # wildcard literal
    (["recv", "block", "42"], ["recv", "block", "<*>"]),   # wildcard ≠ word
    (["a"], ["a", "b", "c", "d", "e"]),               # short vs long
    (["x", "a", "x", "b", "x", "c"], ["a", "b", "c"]),  # interleaved
    ([], ["a", "b"]),                                  # empty line
    (["a", "b"], []),                                  # empty template
]


def test_lcs_fold_matches_sequential_dp(spark):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(CASES)],
        "i int, a array<string>, b array<string>",
    )
    got = {
        r["i"]: r["lcs"]
        for r in df.select(
            "i", lcs_length(F.col("a"), F.col("b")).alias("lcs")
        ).collect()
    }
    for i, (a, b) in enumerate(CASES):
        assert got[i] == _lcs_ref(a, b), (a, b, got[i])


def test_spell_match_reference_decisions(spark):
    """Planted LCSMatch decisions (Spell.py:112-133): best by max LCS, tie →
    SHORTER template, accept iff lcs >= tau·|seq|; below-threshold and
    prefilter-excluded lines stay unmatched (they would found new clusters,
    Spell.py:252-255)."""
    templates = spark.createDataFrame(
        [
            ("T1", ["recv", "block", "<*>", "from", "<*>"]),
            ("T2", ["recv", "block", "<*>", "from"]),       # shorter: wins ties
            ("T3", ["delete", "block", "<*>"]),
            ("T4", None),                                   # never matches
        ],
        "template_id string, template_tokens array<string>",
    )
    lines = spark.createDataFrame(
        [
            # lcs(T1)=3 ('recv block from'), lcs(T2)=3 → tie → T2 (shorter)
            (0, ["recv", "block", "b42", "from", "n7"]),
            # lcs(T3)=2 ≥ 0.5·3 → T3 (T1/T2 prefiltered out: overlap 1 < 1.5)
            (1, ["delete", "block", "b42"]),
            # no template overlaps ≥ 0.5·|seq| → unmatched
            (2, ["totally", "novel", "line", "here"]),
            # shares 'recv block' but 2 < 0.5·5 → below tau either way
            (3, ["recv", "block", "x", "y", "z"]),
            # zero tokens: reference arithmetic matches the SHORTEST template
            # (all lcs 0, accept 0 >= tau·0) — T3 is the 3-token dim minimum;
            # T4's NULL tokens must not hide it
            (4, []),
        ],
        "line_id long, tokens array<string>",
    )
    got = {
        r["line_id"]: (r["matched_template_id"], r["lcs_len"])
        for r in spell_match(lines, templates).collect()
    }
    assert got[0] == ("T2", 3)
    assert got[1] == ("T3", 2)
    assert got[2] == (None, None)
    assert got[3][0] is None
    assert got[4] == ("T3", 0)


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _induction_match(spark, sf_dir):
    from test_template_induction import _PLANTED_DIM, _PLANTED_LINES, _lines_df

    return _match(_lines_df(spark, _PLANTED_LINES), _PLANTED_DIM, 0.5, 5)


@pytest.mark.parametrize(
    "query, shuffles",
    [
        (q_spell_match, ["REPARTITION_BY_NUM"]),
        (q_template_match, ["REPARTITION_BY_NUM"]),
        (_induction_match, []),
    ],
    ids=["spell_match", "template_match", "template_induction"],
)
def test_match_plan_joins_lines_to_one_dim_row(spark, query, shuffles):
    """All three matchers join the line side to nothing but the one-row
    template dim: no window, no cartesian product, no shuffle but widen's
    repartition (the two queries widen their line scan; induction's lines
    are given), and the one nested-loop join builds from a one-row
    LocalTableScan."""
    df = query(spark, SF)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    nodes = list(_nodes(df._jdf.queryExecution().executedPlan().executedPlan()))
    exchanges = [n for n in nodes if n.nodeName() == "Exchange"]
    assert [str(n.shuffleOrigin()) for n in exchanges] == shuffles
    (join,) = [n for n in nodes if n.nodeName() == "BroadcastNestedLoopJoin"]
    build = join.right() if str(join.buildSide()) == "BuildRight" else join.left()
    assert build.nodeName() == "BroadcastExchange"
    assert build.child().nodeName() == "LocalTableScan"
    assert build.child().rows().size() == 1


def test_spell_match_job_count(spark, job_ids):
    """Built and collected on sf0.001 from cold caches, q_spell_match runs at
    most 5 Spark jobs (counted by job group): the dim collect plus the one
    pass over the lines."""
    from log_anomaly_detector_spark.operators.caching import release_all

    release_all()
    with job_ids("spell-match-jobs") as ids:
        assert len(q_spell_match(spark, SF).collect()) > 0
    assert len(ids) <= 5
