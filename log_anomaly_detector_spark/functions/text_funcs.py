"""Text scalar helpers: stopword lists, normalization, fingerprints.

All built-in-expression based (JVM-side, codegen) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny pinned stopword list (quality scoring + langid heuristic)
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def words(text: Column) -> Column:
    """Whitespace tokenization (reference: ' '.join/split round-trips,
    logparser/Drain.py:301,451)."""
    return F.split(F.trim(text), " +")


def normalized(text: Column) -> Column:
    """Normalization for fingerprinting: lowercase, collapse whitespace."""
    return F.lower(F.regexp_replace(F.trim(text), " +", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint = md5 of normalized text
    (reference: md5(template)[:8] EventId, logparser/Drain.py:209,236)."""
    return F.md5(normalized(text))


def stopword_count(ws: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """# of stopword tokens — array higher-order filter, JVM-side."""
    return F.size(F.filter(ws, lambda w: w.isin(*stopwords)))


def rep_fold(grams: Column) -> Column:
    """struct(prev, run, max_run, n_distinct) from ONE sequential fold over
    the sorted gram array — per-row multiset statistics (distinct count =
    number of runs; max multiplicity = max run length) with NO shuffle: the
    row-local shape the repetition query (operators.text.q_repetition_filter)
    computes its metrics from (the explode → two-hash-agg alternative
    shuffles ~n_grams× the corpus row count). O(n) interpreted steps per
    row, bounded by document length; equality with the multiset view pinned
    by a property test (tests/test_operators.py)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("max_run"),
        F.lit(0).cast("long").alias("n_distinct"),
    )

    def step(s: Column, x: Column) -> Column:
        same = s["prev"].eqNullSafe(x)  # NULL prev (first gram) → new run
        run = F.when(same, s["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(s["max_run"], run).alias("max_run"),
            (
                s["n_distinct"] + F.when(same, F.lit(0)).otherwise(F.lit(1))
            ).alias("n_distinct"),
        )

    return F.aggregate(F.array_sort(grams), init, step)


def word_ngrams(ws: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams over a token array — empty when
    the doc has fewer than ``n`` words (CaseWhen is lazy per-row, so the
    sequence/element_at branch never evaluates on short or NULL docs — under
    ANSI mode an unguarded ``sequence(1, size-k)`` on a 1-word doc would step
    DOWNWARD through index 0 and error). Pure JVM, per-row bounded: the
    shapes built on this shuffle n-gram/doc_id rows, never document text.

    CALLER CONTRACT: pass ``ws`` as a PROJECTED column (``.select(split(...)
    .alias("_ws"))`` first), never an inline ``words(text)`` expression —
    higher-order-function lambdas are interpreted and re-evaluate their
    argument expression at EVERY element reference, so an inlined split runs
    n× per gram position (measured 15.1s vs 0.51s per sf0.1 corpus pass).
    The projected alias is safe structurally: CollapseProject refuses to
    re-inline an alias referenced more than once."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + k) for k in range(n)]
        ),
    )
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
