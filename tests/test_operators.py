"""Operator-level correctness: every queries() entry vs its DuckDB oracle at
sf0.001 (the driver runs the same gate at sf0.01), plus plan-shape audits."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from log_anomaly_detector_spark.oracle_check import compare_one, duck_connection
from log_anomaly_detector_spark.operators.relational import (
    q_broadcast_join_revenue,
    q_filter_pack,
    q_pricing_summary,
)
from log_anomaly_detector_spark.plans import plan_facts, unpartitioned_windows

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
# the induction golden is sf-specific: the driver contract carries the
# sf0.01 literal; this gate runs sf0.001, so swap in that sf's golden
from log_anomaly_detector_spark.operators._induction_golden import (  # noqa: E402
    INDUCTION_GOLDEN_SQL_SF0001,
)

ORACLES = {**ORACLES, "template_induction": INDUCTION_GOLDEN_SQL_SF0001}


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, duck, name):
    problems = compare_one(
        spark, duck, name, QUERIES[name], ORACLES.get(name), SF_DIR
    )
    assert problems == [], problems


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty_c" in df.columns


def test_every_query_has_oracle():
    """Round 3: zero rows-only entries remain — hll_distinct carries a
    tolerance-band contract and template_induction a checked-in
    deterministic golden."""
    assert set(QUERIES) - set(ORACLES) == set()


# --- plan-shape audits: not just correct, the plan we WANT ------------------
def test_filter_pushdown(spark):
    facts = plan_facts(q_filter_pack(spark, SF_DIR))
    assert facts["pushed_filters"], "filters must reach the parquet scan"


def test_broadcast_join_selected(spark):
    facts = plan_facts(q_broadcast_join_revenue(spark, SF_DIR))
    assert facts["broadcast_join"], "dimension join must be broadcast"


def test_agg_is_codegen(spark):
    facts = plan_facts(q_pricing_summary(spark, SF_DIR), execute=True)
    assert facts["codegen_stages"] >= 1
    assert facts["partial_agg"]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unpartitioned_window(spark, name):
    """No contract query may plan a zero-partition Window (Spark's own
    "moving all data to a single partition" warning): bounded inputs get an
    explicit constant key, unbounded rankings are two-phase."""
    n = unpartitioned_windows(QUERIES[name](spark, SF_DIR))
    assert n == 0, f"{name} plans {n} unpartitioned Window node(s)"


def test_pagination_is_top_k_not_global_window(spark):
    """W4 fix: page N plans as TakeOrderedAndProject (parallel partial top-k)
    — never a full-table single-partition row_number."""
    from log_anomaly_detector_spark.operators.relational import q_pagination
    from log_anomaly_detector_spark.plans import formatted_plan

    plan = formatted_plan(q_pagination(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_embedding_pair_queries_never_theta_join(spark):
    """Near-dup and ANN candidates come from keyed bucket joins — the plan
    must contain no cartesian/nested-loop join of two unbounded sides.
    (cosine_topk is the deliberate brute-force oracle baseline and is
    exempt — its query side is bounded by N_QUERIES.)"""
    from log_anomaly_detector_spark.operators.similarity import (
        q_ann_ivf,
        q_ann_lsh,
        q_embedding_near_dup,
    )
    from log_anomaly_detector_spark.plans import formatted_plan

    for q in (q_embedding_near_dup, q_ann_lsh, q_ann_ivf):
        plan = formatted_plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_no_forced_full_corpus_broadcast(spark):
    """Round-2 verdict #1: the ANN verify stages must never FORCE a broadcast
    of the unfiltered embeddings table (`F.broadcast(corpus)` is an OOM at
    10^12 vectors by definition). Explicit hints are allowed only on bounded
    sides — query slices, candidate-id sets. Runtime AQE broadcasts (which
    adapt away as the table grows) are exempt by construction: the audit sees
    only ResolvedHint nodes."""
    from log_anomaly_detector_spark.operators.similarity import (
        q_ann_ivf,
        q_ann_lsh,
        q_cosine_topk,
        q_embedding_near_dup,
    )
    from log_anomaly_detector_spark.plans import forced_raw_broadcasts

    for q in (q_embedding_near_dup, q_ann_lsh, q_ann_ivf, q_cosine_topk):
        n = forced_raw_broadcasts(q(spark, SF_DIR), "embedding")
        assert n == 0, f"{q.__name__} forces {n} raw-corpus broadcast(s)"


def test_forced_raw_broadcast_detector_catches_bad_plan(spark):
    """The audit itself must fire on the known-bad shape (a hinted broadcast
    of the raw corpus) and stay quiet on a hinted bounded side."""
    from pyspark.sql import functions as F
    from log_anomaly_detector_spark.plans import forced_raw_broadcasts

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = emb.select(F.col("vec_id").alias("id_a"))
    bad = pairs.join(
        F.broadcast(emb.select(F.col("vec_id").alias("id_a"), "label")), "id_a"
    )
    assert forced_raw_broadcasts(bad, "embedding") == 1
    good = pairs.join(
        F.broadcast(
            emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("id_a"), "label"
            )
        ),
        "id_a",
    )
    assert forced_raw_broadcasts(good, "embedding") == 0
    # laundering shape: a Filter on a SIBLING branch of the hinted subtree
    # must not bound the RAW branch — the bounding node has to sit on the
    # path between the hint and the relation itself
    laundered = pairs.join(
        F.broadcast(
            emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("id_a"), "label")
            .unionByName(emb.select(F.col("vec_id").alias("id_a"), "label"))
        ),
        "id_a",
    )
    assert forced_raw_broadcasts(laundered, "embedding") == 1


def test_jaccard_hot_shingle_pair_found(spark, tmp_path):
    """Planted regression for the round-2 recall hole: a TRUE near-dup pair
    whose ONLY shared shingle is the hottest in the corpus (df > 1000 — above
    the old SHINGLE_DF_CAP) must still be reported. With the frequency-
    ascending PPJoin order the hot shingle sorts to the back of every filler
    doc's set (their prefixes hold their rare unique shingles instead), so
    the candidate group for the hot shingle contains exactly the planted
    pair — recall AND skew defusal, no cap."""
    from log_anomaly_detector_spark.operators.text import q_jaccard_near_dup

    rows = [(i, f"hot shingle base u{i} v{i} w{i}") for i in range(1100)]
    rows += [(1100, "hot shingle base"), (1101, "hot shingle base")]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q_jaccard_near_dup(spark, str(tmp_path)).collect()
    }
    assert got == {(1100, 1101): 1.0}


def test_two_phase_rank_matches_local_sort(spark):
    """_two_phase_rank (vocab's scalable global enumeration) must equal a
    driver-side sort at ANY partitioning — including heavy-tie inputs."""
    from log_anomaly_detector_spark.operators.relational import _two_phase_rank
    from pyspark.sql import functions as F

    rows = [(f"w{i:05d}", (i * 7919) % 97) for i in range(5_000)]
    df = spark.createDataFrame(rows, "word string, freq long").repartition(13)
    ranked = {
        r["word"]: r["rank"]
        for r in _two_phase_rank(
            df, [F.desc("freq"), F.asc("word")], "rank", n_parts=8
        ).collect()
    }
    want = {
        w: i + 1
        for i, (w, f) in enumerate(
            sorted(rows, key=lambda x: (-x[1], x[0]))
        )
    }
    assert ranked == want


def test_two_phase_rank_interleaved_builds_stay_consistent(spark):
    """Two _two_phase_rank builds followed by materializing the FIRST: the
    ranks must still be an exact permutation. (Regression: a shared cache
    key let the second build evict the first's ranged layout; recompute
    re-sampled repartitionByRange boundaries and silently paired the old
    offsets with a new layout — duplicated/gapped ranks. localCheckpoint
    makes that recompute impossible.)"""
    from pyspark.sql import functions as F
    from log_anomaly_detector_spark.operators.relational import _two_phase_rank

    df1 = spark.createDataFrame(
        [(f"a{i:05d}", i % 13) for i in range(4_000)], "word string, freq long"
    ).repartition(11)
    df2 = spark.createDataFrame(
        [(f"b{i:05d}", i % 7) for i in range(4_000)], "word string, freq long"
    ).repartition(9)
    r1 = _two_phase_rank(df1, [F.desc("freq"), F.asc("word")], "rank", n_parts=8)
    _two_phase_rank(df2, [F.desc("freq"), F.asc("word")], "rank", n_parts=8)
    ranks = sorted(r["rank"] for r in r1.collect())
    assert ranks == list(range(1, 4_001))


def test_kmv_topk_is_partial_window_group_limit(spark):
    """KMV's per-group k-th minimum must plan a PARTIAL WindowGroupLimit —
    tasks keep only their local k smallest per group before the shuffle, so
    the window never materializes a whole group."""
    from log_anomaly_detector_spark.operators.relational import q_kmv_distinct
    from log_anomaly_detector_spark.plans import formatted_plan

    plan = formatted_plan(q_kmv_distinct(spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_repetition_filter_planted_metrics(spark, tmp_path):
    """Planted repetition semantics: a 6-word doc of alternating tokens has
    4 3-gram positions over 2 distinct 3-grams (dup = top = 0.5 → drop); a
    12-distinct-word doc has 10 unique 3-grams (dup 0, top 0.1 → keep);
    <3-word and NULL docs have no 3-grams and are excluded by definition."""
    from log_anomaly_detector_spark.operators.text import q_repetition_filter

    spark.createDataFrame(
        [
            (1, "a b a b a b"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
            (3, "x y"),
            (4, None),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["doc_id"]: r.asDict()
        for r in q_repetition_filter(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == [1, 2]
    assert got[1] == {
        "doc_id": 1, "n_3grams": 4, "n_distinct_3grams": 2,
        "dup_3gram_ppm": 500000, "top_3gram_ppm": 500000, "keep": False,
    }
    assert got[2] == {
        "doc_id": 2, "n_3grams": 10, "n_distinct_3grams": 10,
        "dup_3gram_ppm": 0, "top_3gram_ppm": 100000, "keep": True,
    }


def test_rep_fold_matches_multiset_stats_property(spark):
    """Property: for ANY gram multiset, the row-local sorted fold's
    (distinct, max run) equal the multiset's (distinct count, max
    multiplicity) — the quantities the explode→groupBy oracle computes.
    One Spark job over a batch of hypothesis-style random cases (drawn with
    a fixed-seed RNG; a @given-per-example would pay a Spark job per case)."""
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.functions.text_funcs import rep_fold

    rng = random.Random(20260818)
    cases = []
    for i in range(300):
        vocab = [f"g{k}" for k in range(rng.randint(1, 6))]
        grams = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        cases.append((i, grams))
    df = spark.createDataFrame(cases, "case_id long, grams array<string>")
    folded = df.select(
        "case_id", rep_fold(F.col("grams")).alias("_rep")
    ).select(
        "case_id",
        F.col("_rep.n_distinct").alias("n_distinct"),
        F.col("_rep.max_run").alias("max_run"),
    )
    got = {r["case_id"]: (r["n_distinct"], r["max_run"]) for r in folded.collect()}
    for cid, grams in cases:
        c = Counter(grams)
        want = (len(c), max(c.values()) if c else 0)
        assert got[cid] == want, (cid, grams, got[cid], want)


def test_rep_keep_flag_exact_at_floored_ppm_boundary(spark):
    """The keep decision must use exact integer cross-multiplication, never
    the floored ppm columns: n=100003 with 30001 excess-duplicate positions
    floors to dup_3gram_ppm == 300000 (not > MAX), yet the exact flag drops
    it (30001e6 > 300000*100003). Drive q_repetition_filter's own metric
    projections with synthetic fold states on both sides of the boundary."""
    from log_anomaly_detector_spark.operators.text import _rep_metric_cols

    rows = [
        # (case, n_3grams, n_distinct, max_run)
        (1, 100003, 70002, 2),   # dup ppm floors to 300000 but exact > max
        (2, 100003, 70003, 2),   # 30000e6 <= 300000*100003 → keep
        (3, 10, 7, 2),           # dup 0.3 exactly → keep
        (4, 10, 6, 2),           # dup 0.4 → drop
    ]
    df = spark.createDataFrame(
        [
            (c, n, {"prev": None, "run": 0, "max_run": m, "n_distinct": d})
            for c, n, d, m in rows
        ],
        "case_id long, n_3grams long, _rep struct<prev:string,run:long,"
        "max_run:long,n_distinct:long>",
    )
    got = {
        r["case_id"]: (r["dup_3gram_ppm"], r["keep"])
        for r in df.select("case_id", "n_3grams", *_rep_metric_cols()).collect()
    }
    assert got[1] == (300000, False)  # floored ppm alone would keep it
    assert got[2] == (299991, True)
    assert got[3] == (300000, True)
    assert got[4] == (400000, False)


def test_decontaminate_planted_overlap(spark, tmp_path):
    """Planted contamination: doc_id 11 hashes into the eval slice (md5 coin,
    seed 97, 2%); a train doc sharing one of its 5-grams is flagged with the
    exact hit count, a disjoint train doc and a <5-word train doc (zero
    grams, kept via explode_outer) are not; the eval doc never appears."""
    from log_anomaly_detector_spark.operators.text import q_decontaminate

    spark.createDataFrame(
        [
            (11, "alpha beta gamma delta epsilon zeta"),   # eval slice
            (1, "xx alpha beta gamma delta epsilon yy"),   # shares one 5-gram
            (2, "p q r s t u"),                            # disjoint
            (3, "hi there"),                               # no 5-grams
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["doc_id"]: r.asDict()
        for r in q_decontaminate(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == [1, 2, 3]
    assert got[1] == {
        "doc_id": 1, "n_5grams": 3, "eval_hits": 1, "contaminated": True,
    }
    assert got[2] == {
        "doc_id": 2, "n_5grams": 2, "eval_hits": 0, "contaminated": False,
    }
    assert got[3] == {
        "doc_id": 3, "n_5grams": 0, "eval_hits": 0, "contaminated": False,
    }


def test_decontaminate_empty_eval_contaminates_nothing(spark):
    """An EMPTY eval set marks no doc as contaminated: every doc, including
    one with 5-grams and one with none, comes back with zero hits."""
    from log_anomaly_detector_spark.operators.text import (
        build_eval_grams,
        flag_contamination,
    )

    docs = spark.createDataFrame(
        [
            (7, "alpha beta gamma delta epsilon w6 w7 w8 w9 w10 w11 w12"),
            (8, "hi there"),
        ],
        "doc_id long, text string",
    )
    no_eval = build_eval_grams(spark.createDataFrame([], "doc_id long, text string"))
    flagged = flag_contamination(docs, no_eval).collect()
    assert sorted(r["doc_id"] for r in flagged) == [7, 8]
    assert all(r["eval_hits"] == 0 and r["contaminated"] is False for r in flagged)


def test_repetition_filter_plan_shape(spark):
    """Repetition metrics are computed ROW-LOCALLY: per-doc multiset
    statistics via the sorted fold — no join, no aggregation. The ONLY
    allowed exchange is the round-7 input-widening repartition of the raw
    (doc_id, text) rows (single-row-group testdata parquet = one scan task
    otherwise); the fold itself must never induce a shuffle."""
    from log_anomaly_detector_spark.operators.text import q_repetition_filter
    from log_anomaly_detector_spark.plans import formatted_plan, plan_facts

    df = q_repetition_filter(spark, SF_DIR)
    facts = plan_facts(df)
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert facts["shuffle_exchanges"] <= 1


def test_decontaminate_plan_shape(spark):
    """The eval shingle set is benchmark-sized by construction — the overlap
    join must be a BroadcastHashJoin (never sort-merge on the exploded train
    grams) and the only row shuffles are the eval distinct + the doc_id
    aggregation."""
    from log_anomaly_detector_spark.operators.text import q_decontaminate
    from log_anomaly_detector_spark.plans import plan_facts

    facts = plan_facts(q_decontaminate(spark, SF_DIR))
    assert facts["broadcast_join"]
    assert not facts["sort_merge_join"]
    # eval distinct + doc_id aggregation + up to two round-7 input-widening
    # repartitions of the RAW doc rows (one per branch off the single-split
    # scan) — the shuffles still never carry exploded gram rows
    assert facts["shuffle_exchanges"] <= 4
