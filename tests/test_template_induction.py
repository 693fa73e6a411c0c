"""Drain template induction (J8 completion) gates:

* hand fixture: founding + wildcard merging + occurrences;
* warm start: known templates absorb their lines, never-seen lines found
  NEW templates flagged ``is_new`` (the v2 anomaly path, Drain.py:367-377);
* golden gate: the Spark fixpoint agrees with an independent SEQUENTIAL
  implementation of the published Drain semantics on deterministic fixtures;
* per-line argmax: the tree-path ``array_max`` match agrees with the
  join + ``Window`` formulation it replaced (kept here as the reference);
  its plan is checked beside the other two matchers' in test_spell_match;
* driver-local output dim: a local scan with NOT NULL occurrences/is_new,
  occurrences equal to the assignment counts, Spark-equal md5-8 ids;
* HDFS-format fixture: lines synthesized from the reference's own 47-template
  dim (output/hdfs/HDFS.log_templates.csv) are re-parsed into EXACTLY that
  dim (the judge's parity check; skipped when the reference tree is absent).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.template_induction import (
    WILDCARD,
    _event_id,
    _match,
    _n_key_tokens,
    _route as _spark_route,
    induce_templates,
)

REF_TEMPLATES = "/root/reference/output/hdfs/HDFS.log_templates.csv"


# --- independent sequential golden (one line at a time, exactly the
# published Drain loop: route → best-match ≥ st → merge, else found) ---------
def _has_digit(s: str) -> bool:
    return any(c.isdigit() for c in s)


def _route(tok: str) -> str:
    return "<*>" if (_has_digit(tok) or tok == "<*>") else tok


def _key(tokens: list[str], depth: int) -> tuple:
    nk = max(depth - 3, 0)
    return (len(tokens),) + tuple(
        _route(tokens[i]) if i < len(tokens) else None for i in range(nk)
    )


def _sim(line: list[str], tmpl: list[str]) -> tuple[float, int]:
    n_eq = sum(1 for a, b in zip(line, tmpl) if b != "<*>" and a == b)
    n_par = sum(1 for b in tmpl if b == "<*>")
    return n_eq / len(line), n_par


def golden_drain(lines: list[list[str]], st: float, depth: int) -> set[str]:
    """Sequential Drain; returns the final template-string set."""
    clusters: dict[tuple, list[list[str]]] = {}
    for toks in lines:
        k = _key(toks, depth)
        # candidates: same length, key tokens equal or wildcard (both the
        # literal and the '<*>' branch, matching the Spark join)
        cands = []
        for ck, group in clusters.items():
            if ck[0] != k[0]:
                continue
            if all(a == b or a == "<*>" for a, b in zip(ck[1:], k[1:])):
                cands.extend(group)
        best, best_sim, best_par = None, -1.0, -1
        for c in cands:
            s, p = _sim(toks, c)
            if s > best_sim or (s == best_sim and p > best_par):
                best, best_sim, best_par = c, s, p
        if best is not None and best_sim >= st:
            merged = [a if a == b else "<*>" for a, b in zip(best, toks)]
            if merged != best:
                best[:] = merged
        else:
            clusters.setdefault(k, []).append(list(toks))
    return {
        " ".join(c) for group in clusters.values() for c in group
    }


def _lines_df(spark, rows: list[tuple[int, list[str]]]):
    return spark.createDataFrame(rows, "line_id long, tokens array<string>")


def test_founding_and_merge(spark):
    rows = [
        (1, ["Receiving", "block", "blk_1", "src", "10.0.0.1"]),
        (2, ["Receiving", "block", "blk_2", "src", "10.0.0.2"]),
        (3, ["Receiving", "block", "blk_3", "src", "10.0.0.3"]),
        (4, ["Deleting", "block", "blk_9", "file", "f1"]),
        (5, ["Deleting", "block", "blk_8", "file", "f2"]),
        (6, ["totally", "different", "line"]),
    ]
    res = induce_templates(_lines_df(spark, rows), st=0.5, depth=4)
    got = {
        r["template"]: r["occurrences"] for r in res.templates.collect()
    }
    assert got == {
        "Receiving block <*> src <*>": 3,
        "Deleting block <*> file <*>": 2,
        "totally different line": 1,
    }
    assert res.templates.filter(~F.col("is_new")).count() == 0
    # every line assigned, event ids are md5-8
    a = res.assignments.collect()
    assert len(a) == 6 and all(len(r["event_id"]) == 8 for r in a)
    # golden agreement on the same fixture
    assert set(got) == golden_drain([r[1] for r in rows], st=0.5, depth=4)


def test_warm_start_marks_new_templates_anomalous(spark):
    warm = spark.createDataFrame(
        [("Receiving block <*> src <*>",)], "template string"
    )
    rows = [
        (1, ["Receiving", "block", "blk_7", "src", "10.9.9.9"]),
        (2, ["Exception", "while", "serving", "blk_5"]),
        (3, ["Exception", "while", "serving", "blk_6"]),
    ]
    res = induce_templates(
        _lines_df(spark, rows), st=0.5, depth=4, warm_templates=warm
    )
    by_t = {r["template"]: r for r in res.templates.collect()}
    assert by_t["Receiving block <*> src <*>"]["is_new"] is False
    assert by_t["Receiving block <*> src <*>"]["occurrences"] == 1
    assert by_t["Exception while serving <*>"]["is_new"] is True
    assert by_t["Exception while serving <*>"]["occurrences"] == 2


def test_refinement_wildcards_disagreeing_positions(spark):
    # founder keeps literal at pos 4; later member disagrees → '<*>' after
    # refinement, and the merged dim stays a single cluster
    rows = [
        (1, ["PacketResponder", "1", "for", "block", "terminating"]),
        (2, ["PacketResponder", "2", "for", "block", "terminating"]),
        (3, ["PacketResponder", "3", "for", "block", "exception"]),
    ]
    res = induce_templates(_lines_df(spark, rows), st=0.5, depth=4)
    got = {r["template"]: r["occurrences"] for r in res.templates.collect()}
    assert got == {"PacketResponder <*> for block <*>": 3}
    assert set(got) == golden_drain([r[1] for r in rows], st=0.5, depth=4)


@pytest.mark.skipif(
    not os.path.exists(REF_TEMPLATES), reason="reference tree not present"
)
def test_hdfs_dim_reproduced(spark):
    """Lines synthesized from the reference's 47 HDFS templates re-parse to
    EXACTLY that dim (test_drain_my_log.py:85-98 semantics: st=0.5, depth=5,
    params pre-masked by the preprocessing rex)."""
    import pandas as pd

    ref = sorted(str(t) for t in pd.read_csv(REF_TEMPLATES)["EventTemplate"])
    rows, lid = [], 0
    lines_py = []
    for ti, tmpl in enumerate(ref):
        for j in range(5):
            # preprocessed-line fidelity: EMBEDDED wildcards (blk_<*>,
            # /<*>:50010) are rex artifacts identical on every raw line —
            # keep them verbatim; only WHOLE-token <*> (cluster-created
            # params) vary per line, filled with distinct digit values
            toks = [
                str(10_000 + 97 * ti + j) if tok == "<*>" else tok
                for tok in tmpl.split()
            ]
            lid += 1
            rows.append((lid, toks))
            lines_py.append(toks)
    res = induce_templates(_lines_df(spark, rows), st=0.5, depth=5)
    got = sorted(r["template"] for r in res.templates.collect())
    assert got == ref, (
        f"induced {len(got)} templates vs reference {len(ref)}"
    )
    occ = {r["template"]: r["occurrences"] for r in res.templates.collect()}
    assert all(v == 5 for v in occ.values())
    # sequential golden agrees on the same fixture
    assert set(got) == golden_drain(lines_py, st=0.5, depth=5)


@pytest.mark.skipif(
    not os.path.exists(REF_TEMPLATES), reason="reference tree not present"
)
def test_hdfs_warm_start_half_dim(spark):
    """v2 warm start at dim scale: seed with HALF the reference dim — known
    shapes absorb their lines (is_new=False), the other half is founded this
    run and flagged is_new (the v2 anomaly/persistence slice)."""
    import pandas as pd

    ref = sorted(str(t) for t in pd.read_csv(REF_TEMPLATES)["EventTemplate"])
    warm_set, cold_set = ref[::2], ref[1::2]
    rows, lid = [], 0
    for ti, tmpl in enumerate(ref):
        for j in range(3):
            toks = [
                str(10_000 + 97 * ti + j) if tok == "<*>" else tok
                for tok in tmpl.split()
            ]
            lid += 1
            rows.append((lid, toks))
    warm = spark.createDataFrame([(t,) for t in warm_set], "template string")
    res = induce_templates(
        _lines_df(spark, rows), st=0.5, depth=5, warm_templates=warm
    )
    got = {r["template"]: r["is_new"] for r in res.templates.collect()}
    assert sorted(got) == ref
    assert {t for t, new in got.items() if not new} == set(warm_set)
    assert {t for t, new in got.items() if new} == set(cold_set)


def test_template_poor_input_caps_driver_state(spark):
    """Adversarial high-cardinality input (every line a distinct sequence —
    natural text, high-entropy ids): the driver-side dim would become
    row-count-sized, so the capped collects must fail with a CLEAR error,
    never an opaque driver OOM."""
    lines = spark.createDataFrame(
        [(i, [f"u{i}a", f"u{i}b", f"u{i}c"]) for i in range(200)],
        "line_id long, tokens array<string>",
    )
    with pytest.raises(ValueError, match="max_dim_rows"):
        induce_templates(lines, max_founding_rounds=0, max_dim_rows=50)


def test_warm_template_internal_whitespace_not_flagged_new(spark):
    """A warm template containing a run of internal spaces must re-match its
    normalized form and stay is_new=False (round-2 advisory: the dim
    tokenized with split() but the is_new join compared the RAW warm string,
    so such templates were spuriously flagged new)."""
    warm = spark.createDataFrame(
        [("recv  block   <*>",)], "template string"
    )
    lines = spark.createDataFrame(
        [(1, ["recv", "block", "b77"]), (2, ["recv", "block", "b78"])],
        "line_id long, tokens array<string>",
    )
    res = induce_templates(lines, warm_templates=warm, st=0.5)
    out = {r["template"]: r["is_new"] for r in res.templates.collect()}
    assert out == {"recv block <*>": False}


# --- per-line argmax vs the join + Window formulation it replaced ----------
def _window_match(lines, templates, st: float, depth: int):
    """Reference: every tree-key candidate joined to its line, best one by
    ``row_number`` over (sim desc, npar desc, template_id asc)."""
    from pyspark.sql import Window

    nk = _n_key_tokens(depth)
    l = lines.select(
        F.col("line_id").alias("_lid"),
        F.col("tokens").alias("_ltok"),
        F.size("tokens").alias("_n"),
        *[F.element_at("tokens", i + 1).alias(f"_lk{i}") for i in range(nk)],
    )
    tm = templates.select(
        F.col("template_id").alias("_tid"),
        F.col("tokens").alias("_ttok"),
        F.size("tokens").alias("_tn"),
        *[
            _spark_route(F.element_at("tokens", i + 1)).alias(f"_tk{i}")
            for i in range(nk)
        ],
    )
    cond = l["_n"] == tm["_tn"]
    for i in range(nk):
        cond = cond & (
            (tm[f"_tk{i}"] == l[f"_lk{i}"]) | (tm[f"_tk{i}"] == WILDCARD)
        )
    cand = l.join(F.broadcast(tm), cond, "left")
    eq = F.zip_with(
        F.col("_ltok"),
        F.col("_ttok"),
        lambda a, b: ((a == b) & (b != WILDCARD)).cast("int"),
    )
    sim = F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.size("_ltok")
    npar = F.size(F.filter(F.col("_ttok"), lambda x: x == WILDCARD))
    scored = cand.select(
        "_lid",
        "_tid",
        F.when(F.col("_ttok").isNotNull(), sim).alias("_sim"),
        F.when(F.col("_ttok").isNotNull(), npar).alias("_npar"),
    )
    w = Window.partitionBy("_lid").orderBy(
        F.desc_nulls_last("_sim"), F.desc_nulls_last("_npar"), F.asc("_tid")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_lid").alias("line_id"),
            F.when(F.col("_sim") >= st, F.col("_tid")).alias("template_id"),
            F.col("_sim").alias("similarity"),
        )
    )


# planted dim: (tid, tokens); -1 is a warm-start id
_PLANTED_DIM = [
    (-1, ["close", "<*>", "c7"]),
    (10, ["open", "file", "<*>", "y"]),
    (11, ["open", "file", "<*>", "<*>"]),
    (12, ["open", "file", "b2", "z"]),
    (20, ["close", "conn", "<*>"]),
    (21, ["<*>", "conn", "c7"]),
    (30, ["disk", "<*>", "on", "x"]),
    (60, ["recv", "ack", "p1", "ok"]),
    (61, ["recv", "<*>", "<*>", "ok"]),
    (62, ["recv", "pkt9", "p1", "ok"]),
]
_PLANTED_LINES = [
    (1, ["open", "file", "a1", "x"]),  # sim 0.5 = st for 10/11/12: npar decides
    (2, ["close", "conn", "c7"]),  # 2/3 for -1, 20, 21: smallest id decides
    (3, ["disk", "full", "on", "d9"]),  # 0.5 = st exactly: matched
    (4, ["disk", "bad", "at", "d9"]),  # 0.25 < st: no template, sim kept
    (5, ["only", "two"]),  # no template of this length
    (6, ["recv", "pkt", "p1", "ok"]),  # second key token decides at depth 5
]
# (template_id, similarity) per planted line and depth
_PLANTED_EXPECTED = {
    4: {1: (11, 0.5), 2: (-1, 2 / 3), 3: (30, 0.5), 4: (None, 0.25),
        5: (None, None), 6: (60, 0.75)},
    5: {1: (11, 0.5), 2: (-1, 2 / 3), 3: (30, 0.5), 4: (None, 0.25),
        5: (None, None), 6: (62, 0.75)},
}


def _random_case(seed: int):
    import random

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d1", "e2", WILDCARD]

    def seq():
        return [rng.choice(vocab) for _ in range(rng.randint(2, 4))]

    dim = [(tid, seq()) for tid in range(-5, 25) if tid != 0]
    return dim, [(100 + i, seq()) for i in range(300)]


def _by_line(df) -> dict:
    return {
        r["line_id"]: (r["template_id"], r["similarity"]) for r in df.collect()
    }


@pytest.mark.parametrize("depth", [4, 5])
def test_match_argmax_equals_window_reference(spark, depth):
    """Per-row bucket filter + ``array_max`` picks the same template and
    similarity as the join + ``Window`` it replaced, on planted ties, a
    boundary similarity, an unmatched length, two key tokens (depth 5) and
    a random small-vocabulary dim."""
    cases = [(_PLANTED_DIM, _PLANTED_LINES)] + [_random_case(s) for s in (1, 2)]
    for dim, rows in cases:
        lines = _lines_df(spark, rows)
        got = _by_line(_match(lines, dim, 0.5, depth))
        want = _by_line(
            _window_match(
                lines,
                spark.createDataFrame(
                    dim, "template_id long, tokens array<string>"
                ),
                0.5,
                depth,
            )
        )
        assert got == want
    planted = _match(_lines_df(spark, _PLANTED_LINES), _PLANTED_DIM, 0.5, depth)
    assert _by_line(planted) == _PLANTED_EXPECTED[depth]


def test_templates_plan_is_local_scan(spark):
    from plan_audit import formatted_plan

    res = induce_templates(_lines_df(spark, _PLANTED_LINES), st=0.5, depth=4)
    plan = formatted_plan(res.templates)
    assert "LocalTableScan" in plan
    assert "Aggregate" not in plan


_REFINE_ROWS = [
    (1, ["PacketResponder", "1", "for", "block", "terminating"]),
    (2, ["PacketResponder", "2", "for", "block", "terminating"]),
    (3, ["PacketResponder", "3", "for", "block", "exception"]),
    (4, ["Deleting", "block", "blk_9", "file", "f1"]),
    (5, ["Deleting", "block", "blk_8", "file", "f2"]),
    (6, ["Verify", "succeeded", "for", "blk_7"]),
]


@pytest.mark.parametrize("passes", [8, 1], ids=["converged", "capped"])
def test_occurrences_equal_assignment_counts(spark, passes):
    """Occurrences come from the converged pass's member counts, or from a
    grouped count when the pass cap stops a dim that still changes; both
    equal the assignment counts."""
    lines = _lines_df(spark, _REFINE_ROWS)
    res = induce_templates(lines, st=0.5, depth=4, max_refine_passes=passes)
    if passes == 1:
        # premise: pass 1 changed the dim, so the cap ended the refinement
        assert induce_templates(lines, st=0.5, depth=4).refine_passes > 1
        assert res.refine_passes == 1
    occ = {r["event_id"]: r["occurrences"] for r in res.templates.collect()}
    counted = {
        r["event_id"]: r["count"]
        for r in res.assignments.groupBy("event_id").count().collect()
    }
    assert occ == counted
    assert sum(occ.values()) == len(_REFINE_ROWS)


def test_event_id_matches_spark_md5(spark):
    warm = spark.createDataFrame(
        [("Receiving block <*> src <*>",), ("Blöck grüße für <*>",)],
        "template string",
    )
    res = induce_templates(
        _lines_df(spark, [(1, ["Blöck", "grüße", "für", "x1"])]),
        warm_templates=warm,
    )
    rows = res.templates.select(
        "event_id", F.substring(F.md5("template"), 1, 8).alias("spark_id"),
        "template",
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["event_id"] == r["spark_id"] == _event_id(r["template"])


def test_depth5_lines_shorter_than_the_key(spark):
    """At depth 5 the tree reads two key tokens; a one-token line has no
    second one, routes to the wildcard child and still founds (ANSI
    ``element_at`` would raise on the missing slot)."""
    rows = [
        (1, ["shutdown"]),
        (2, ["shutdown"]),
        (3, ["Verify", "blk_1", "ok"]),
        (4, ["Verify", "blk_2", "ok"]),
    ]
    res = induce_templates(_lines_df(spark, rows), st=0.5, depth=5)
    got = {r["template"]: r["occurrences"] for r in res.templates.collect()}
    assert got == {"shutdown": 2, "Verify <*> ok": 2}
    assert set(got) == golden_drain([r[1] for r in rows], st=0.5, depth=5)
