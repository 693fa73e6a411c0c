"""Drain-style fuzzy template matching (J8) — golden cases mirroring
logparser/Drain.py seqDist/fastMatch semantics."""

from __future__ import annotations

from log_anomaly_detector_spark.operators.template_match import match_templates

TEMPLATES = [
    ("T1", ["Receiving", "block", "<*>", "src:", "<*>"]),
    ("T2", ["Receiving", "block", "<*>", "dest:", "<*>"]),
    ("T3", ["PacketResponder", "<*>", "terminating"]),
    ("T4", ["<*>", "served", "request"]),
    ("T6", None),
]


def _run(spark, lines):
    ldf = spark.createDataFrame(lines, "line_id string, tokens array<string>")
    tdf = spark.createDataFrame(
        TEMPLATES, "template_id string, template_tokens array<string>"
    )
    return {
        r["line_id"]: (r["matched_template_id"], r["similarity"])
        for r in match_templates(ldf, tdf, st=0.5).collect()
    }


def test_exact_and_fuzzy_match(spark):
    got = _run(
        spark,
        [
            ("l1", ["Receiving", "block", "b1", "src:", "10.0.0.1"]),   # T1 3/5
            ("l2", ["Receiving", "block", "b2", "dest:", "10.0.0.9"]),  # T2 3/5
            ("l3", ["PacketResponder", "7", "terminating"]),            # T3 2/3
            ("l4", ["totally", "novel", "event", "shape", "here"]),     # no match
            ("l5", ["node9", "served", "request"]),                     # T4 wildcard first
            ("l6", None),                                               # NULL tokens
        ],
    )
    assert got["l1"][0] == "T1"
    assert got["l2"][0] == "T2"
    assert got["l3"] == ("T3", round(2 / 3, 6))
    assert got["l4"][0] is None  # new template → anomaly flag (Drain.py:367-377)
    assert got["l5"][0] == "T4"
    assert got["l6"] == (None, None)


def test_threshold_gate(spark):
    # similarity 2/5 = 0.4 < st=0.5 → no match even though a candidate exists
    got = _run(spark, [("lx", ["Receiving", "block", "x", "y", "z"])])
    assert got["lx"][0] is None
    assert got["lx"][1] == 0.4  # best candidate similarity still reported


def test_tie_prefers_more_wildcards(spark):
    # T1 (2 wildcards) and T5 (1 wildcard) both score 3/5 → the reference
    # prefers the template with more parameters (Drain.py:176-181)
    from log_anomaly_detector_spark.operators.template_match import match_templates

    tdf = spark.createDataFrame(
        TEMPLATES + [("T5", ["Receiving", "block", "<*>", "src:", "10.0.0.1"])],
        "template_id string, template_tokens array<string>",
    )
    ldf = spark.createDataFrame(
        [("lt", ["Receiving", "block", "b1", "src:", "other"])],
        "line_id string, tokens array<string>",
    )
    got = {
        r["line_id"]: (r["matched_template_id"], r["similarity"])
        for r in match_templates(ldf, tdf, st=0.5).collect()
    }
    assert got["lt"] == ("T1", 0.6)
