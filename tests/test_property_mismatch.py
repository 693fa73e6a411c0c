"""Property-based test: the Catalyst first-mismatch expression
(``rules/fused.py first_mismatch``) vs a plain Python reference, over
arbitrary list pairs with NULL elements and NULL arrays (Hypothesis). Each
example sends all of its pairs through one DataFrame."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from log_anomaly_detector_spark.rules.fused import first_mismatch

tokens = st.none() | st.lists(st.none() | st.integers(0, 5), max_size=8)
# ≥ 100 pairs per example × 60 examples: at least 6,000 pairs per run
pairs = st.lists(st.tuples(tokens, tokens), min_size=100, max_size=300)


def _value(x: int | None) -> int:
    return -1 if x is None else x


def _reference(a: list | None, b: list | None) -> tuple[int, int, int]:
    """First index where ``a`` and ``b`` differ (None = None, None ≠ int; a
    missing slot differs), with the values there; (-1, -1, -1) when equal or
    when either array is missing."""
    if a is None or b is None:
        return -1, -1, -1
    for i in range(min(len(a), len(b))):
        if a[i] != b[i]:
            return i, _value(a[i]), _value(b[i])
    if len(a) != len(b):
        i = min(len(a), len(b))
        return i, (_value(a[i]) if len(a) > len(b) else -1), (
            _value(b[i]) if len(b) > len(a) else -1
        )
    return -1, -1, -1


@settings(max_examples=60, deadline=None)
@given(pairs)
def test_first_mismatch_matches_reference(spark, rows):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i int, a array<int>, b array<int>",
    )
    got = {
        r["i"]: (r["m"]["idx"], r["m"]["obs"], r["m"]["exp"])
        for r in df.select("i", first_mismatch("a", "b").alias("m")).collect()
    }
    for i, (a, b) in enumerate(rows):
        assert got[i] == _reference(a, b), (i, a, b)
