"""Unit tests for each rule pack on tiny handcrafted DataFrames."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_anomaly_detector_spark.config import DEFAULT_CONFIG as CFG
from log_anomaly_detector_spark.rules.drift import chi2_norm, ks_d, psi
from log_anomaly_detector_spark.rules.fused import first_mismatch, fused_row_violations
from log_anomaly_detector_spark.rules.uniqueness import duplicate_keys

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string, part_id int"
SNAP_SCHEMA = "doc_id string, ref_tokens array<int>"

# the two ways the fused pass counts uniqueness: a doc_id window over its own
# input (single full batch) or a join against run-global duplicate keys
DUPS_VARIANTS = ("window", "dups")


def _row_rules(spark, df, snap=None, sources=("s",), dups=None):
    """Collect the fused row pass over ``df`` (empty snapshot and allowed
    source "s" by default)."""
    snap = snap if snap is not None else spark.createDataFrame([], SNAP_SCHEMA)
    viol, _ = fused_row_violations(df, snap, sources, dups)
    return viol.collect()


def _dups(df, variant):
    return None if variant == "window" else duplicate_keys(df, CFG)


def test_ntok_consistency(spark):
    df = spark.createDataFrame(
        [("a", [1, 2], 2, "s", 0), ("b", [1, 2, 3], 2, "s", 0), ("c", [], 0, "s", 1)],
        SEQ_SCHEMA,
    )
    viol = _row_rules(spark, df)
    assert {r["rule_id"] for r in viol} == {"n_tok_consistency"}
    got = {r["doc_id"]: r for r in viol}
    assert set(got) == {"b"}
    assert got["b"]["observed"] == "n_tok=2" and got["b"]["expected"] == "size(tokens)=3"


def test_referential(spark):
    df = spark.createDataFrame(
        [("a", [1], 1, "ok", 0), ("b", [1], 1, "bad", 0), ("c", [1], 1, None, 0)],
        SEQ_SCHEMA,
    )
    # a NULL source is a null-rate matter (R1), not referential
    got = _row_rules(spark, df, sources=("ok",))
    assert [(r["doc_id"], r["rule_id"], r["observed"], r["expected"]) for r in got] == [
        ("b", "referential", "bad", "member of allowed_sources")
    ]
    # an empty dim: every non-NULL source is referential, a NULL one still not
    got = _row_rules(spark, df, sources=())
    assert sorted((r["doc_id"], r["rule_id"], r["observed"]) for r in got) == [
        ("a", "referential", "ok"),
        ("b", "referential", "bad"),
    ]


def test_uniqueness(spark):
    df = spark.createDataFrame(
        [("a", [1], 1, "s", 0), ("a", [1], 1, "s", 1), ("b", [1], 1, "s", 0)],
        SEQ_SCHEMA,
    )
    for variant in DUPS_VARIANTS:
        got = _row_rules(spark, df, dups=_dups(df, variant))
        assert sorted((r["doc_id"], r["part_id"]) for r in got) == [("a", 0), ("a", 1)]
        assert all(
            (r["rule_id"], r["observed"], r["expected"])
            == ("uniqueness", "count=2", "count=1")
            for r in got
        ), variant


def test_token_equality_first_mismatch(spark):
    """First-mismatch strings for value, length and NULL-element mismatches,
    and the mismatch index agrees with the JVM's array equality decision."""
    rows = [
        ("eq", [1, 2, 3], 3, "s", 0),
        ("val_mismatch", [1, 9, 3], 3, "s", 0),
        ("a_longer", [1, 2, 3, 4], 4, "s", 0),
        ("b_longer", [1, 2], 2, "s", 0),
        ("first_tok", [9, 2, 3], 3, "s", 0),
        ("empty_vs", [], 0, "s", 0),
        ("null_eq_then_val", [1, None, 4], 3, "s", 0),
        ("null_vs_val", [1, None, 3], 3, "s", 0),
        ("null_extra_slot", [1], 1, "s", 0),
        ("null_elems_eq", [None, 2], 2, "s", 0),
        ("empty_vs_null", [], 0, "s", 0),
    ]
    snap_rows = [
        ("eq", [1, 2, 3]),
        ("val_mismatch", [1, 2, 3]),
        ("a_longer", [1, 2, 3]),
        ("b_longer", [1, 2, 3]),
        ("first_tok", [1, 2, 3]),
        ("empty_vs", [1]),
        ("null_eq_then_val", [1, None, 5]),
        ("null_vs_val", [1, 2, 3]),
        ("null_extra_slot", [1, None]),
        ("null_elems_eq", [None, 2]),
        ("empty_vs_null", [None, 1]),
        ("not_in_seqs", [7]),
    ]
    df = spark.createDataFrame(rows, SEQ_SCHEMA)
    snap = spark.createDataFrame(snap_rows, SNAP_SCHEMA)

    viol = _row_rules(spark, df, snap)
    assert {r["rule_id"] for r in viol} == {"token_equality"}
    got = {r["doc_id"]: (r["observed"], r["expected"]) for r in viol}
    assert set(got) == {
        "val_mismatch", "a_longer", "b_longer", "first_tok", "empty_vs",
        "null_eq_then_val", "null_vs_val", "null_extra_slot", "empty_vs_null",
    }
    assert got["val_mismatch"] == ("tokens[1]=9", "ref=2")
    assert got["first_tok"] == ("tokens[0]=9", "ref=1")
    assert got["a_longer"] == ("tokens[3]=4", "ref=-1")   # extra slot in observed
    assert got["b_longer"] == ("tokens[2]=-1", "ref=3")   # missing slot
    assert got["empty_vs"] == ("tokens[0]=-1", "ref=1")
    # NULL elements: NULL = NULL, NULL ≠ int, and a NULL value reads as -1
    assert got["null_eq_then_val"] == ("tokens[2]=4", "ref=5")
    assert got["null_vs_val"] == ("tokens[1]=-1", "ref=2")
    # a length mismatch whose extra slots hold NULL is still a mismatch, at
    # the first missing slot
    assert got["null_extra_slot"] == ("tokens[1]=-1", "ref=-1")
    assert got["empty_vs_null"] == ("tokens[0]=-1", "ref=-1")

    # cross-check: the mismatch index is found exactly where the JVM's
    # NULL-safe array equality says the arrays differ
    decisions = (
        df.join(snap, "doc_id")
        .select(
            "doc_id",
            (~F.col("tokens").eqNullSafe(F.col("ref_tokens"))).alias("neq"),
            (first_mismatch("tokens", "ref_tokens").idx >= 0).alias("found"),
        )
        .collect()
    )
    assert len(decisions) == len(rows)
    for r in decisions:
        assert r["neq"] == r["found"], r


def test_null_tokens_row_rule_and_stats_pruning(spark):
    """NULL tokens are flagged by the row-rule scan, and the stats scan never
    reads the fat tokens column (its ReadSchema must exclude it)."""
    import tempfile

    from log_anomaly_detector_spark.rules.column_stats import stats_pass
    from plan_audit import formatted_plan

    df = spark.createDataFrame(
        [("a", None, 1, "ok", 0), ("b", [1], 1, "ok", 0)], SEQ_SCHEMA
    )
    snap = spark.createDataFrame([("a", [1]), ("b", [1])], SNAP_SCHEMA)
    got = {
        (r["doc_id"], r["rule_id"], r["observed"], r["expected"])
        for r in _row_rules(spark, df, snap, sources=("ok",))
    }
    # NULL tokens vs a non-NULL snapshot row is a null_tokens violation, not
    # also a token_equality one (first_mismatch finds no index in a NULL array)
    assert got == {("a", "null_tokens", "tokens=NULL", "non-null tokens")}

    # pruning must survive a real parquet scan
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d)
    plan = formatted_plan(stats_pass(spark.read.parquet(d), CFG, ["ok"]))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "tokens" not in read_schema[0], read_schema


def test_stats_plan_has_no_exact_distinct(spark):
    """The stats scan carries no distinct aggregate of any kind — neither an
    exact count(distinct ...) (a full shuffle of the key universe at 100 TB)
    nor an HLL sketch: the engine's R3 distinct count is exact and comes from
    the rollup over the written uniqueness violations
    (``stats_verdicts``'s ``uniq``)."""
    from plan_audit import formatted_plan
    from log_anomaly_detector_spark.rules.column_stats import stats_pass

    df = spark.createDataFrame(
        [("a", [1], 1, "ok", 0), ("b", [1], 1, "ok", 0)], SEQ_SCHEMA
    )
    plan = formatted_plan(stats_pass(df, CFG, ["ok"])).lower()
    for agg in ("distinct", "hyperloglog", "approx_count"):
        assert agg not in plan, (agg, plan)


def test_exact_distinct_from_uniqueness_counts():
    """``distinct = (n_rows - null_doc_id) - rows + docs``; a part with no
    uniqueness violations defaults to (0, 0)."""
    from log_anomaly_detector_spark.rules.column_stats import stats_verdicts

    def row(pid, n, null_doc_id):
        return {
            "part_id": pid, "n_rows": n, "null_doc_id": null_doc_id,
            "null_n_tok": 0, "null_source": 0,
            "n_tok_min": 20, "n_tok_max": 20, "n_tok_mean": 20.0,
        }

    # part 0: 100 rows, 2 NULL doc_ids, one doc_id 4x and one 3x in this
    # part, plus 2 rows whose doc_id repeats only in another part →
    # distinct = 98 - 9 + 4 = 93; part 1 has no uniqueness violations
    out = stats_verdicts([row(0, 100, 2), row(1, 10, 0)], CFG, None, {0: (9, 4)})
    got = {r["part_id"]: r for r in out if r["rule_id"] == "approx_distinct"}
    assert got[0]["observed_stat"] == 0.93 and got[0]["passed"] is False
    assert got[1]["observed_stat"] == 1.0 and got[1]["passed"] is True


def test_uniqueness_ignores_null_doc_ids(spark):
    """Two NULL doc_ids are NOT duplicates of each other (they are R1
    null-rate violations) — pinned semantics matching the golden impl."""
    df = spark.createDataFrame(
        [(None, [1], 1, "s", 0), (None, [2], 1, "s", 0), ("a", [1], 1, "s", 0)],
        SEQ_SCHEMA,
    )
    for variant in DUPS_VARIANTS:
        assert _row_rules(spark, df, dups=_dups(df, variant)) == [], variant


def test_uniqueness_pathological_skew(spark):
    """One doc_id duplicated 200k times must not break the uniqueness count
    in either variant: the one duplicate-key plan survives the hot key
    because its map-side partial aggregate collapses the copies to one row
    per task before the key shuffle, and the window variant streams the hot
    key's rows through one spillable window partition."""
    hot = spark.range(200_000).select(
        F.lit("blk_hot").alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    cold = spark.range(10_000).select(
        F.concat(F.lit("blk_"), F.col("id").cast("string")).alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
        F.lit(0).cast("int").alias("part_id"),
    )
    df = hot.unionByName(cold)
    snap = spark.createDataFrame([], SNAP_SCHEMA)
    for variant in DUPS_VARIANTS:
        viol, _ = fused_row_violations(df, snap, ["s"], _dups(df, variant))
        got = (
            viol.groupBy("rule_id", "doc_id", "observed")
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("part_id"))
            .collect()
        )
        assert [tuple(r) for r in got] == [
            ("uniqueness", "blk_hot", "count=200000", 200_000, 4)
        ], variant


@pytest.fixture(scope="module")
def bucketed_copies(spark, tmp_path_factory):
    """A small generated input written bucketed by doc_id (4 buckets), read
    both through its bucketed table and as plain parquet: (seqs, snap,
    plain_seqs, plain_snap, sources)."""
    from log_anomaly_detector_spark import storage
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_reference_snapshot,
        gen_sequences,
    )

    d = tmp_path_factory.mktemp("bucketed")
    spec = GenSpec(n_docs=2_000, n_parts=2, seed=5)
    storage.write_bucketed(
        gen_sequences(spark, spec), "t_seqb", str(d / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    storage.write_bucketed(
        gen_reference_snapshot(spark, spec), "t_snapb", str(d / "snapb"),
        n_buckets=4,
    )
    seqs = storage.register_bucketed(
        spark, "t_seqb_r", storage.SEQ_DDL, str(d / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    snap = storage.register_bucketed(
        spark, "t_snapb_r", storage.SNAP_DDL, str(d / "snapb"), n_buckets=4
    )
    sources = [r["source"] for r in gen_allowed_sources(spark).collect()]
    plain_seqs = spark.read.parquet(str(d / "seqb"))
    plain_snap = spark.read.parquet(str(d / "snapb"))
    return seqs, snap, plain_seqs, plain_snap, sources


def test_duplicate_keys_is_one_grouped_count(bucketed_copies):
    """The duplicate-key plan is one groupBy(doc_id) count: one shuffle
    Exchange over plain parquet, none over the doc_id-bucketed table."""
    from plan_audit import plan_facts

    seqs, _, plain_seqs, _, _ = bucketed_copies
    assert plan_facts(duplicate_keys(plain_seqs, CFG))["shuffle_exchanges"] == 1
    assert plan_facts(duplicate_keys(seqs, CFG))["shuffle_exchanges"] == 0


def test_bucketed_join_is_shuffle_free(spark, bucketed_copies):
    """The engine's key layout claim: on doc_id-bucketed tables the fused row
    pass — snapshot join, uniqueness count and the duplicate-key job — has
    ZERO shuffle Exchanges with either uniqueness variant, while the same plan
    over the plain parquet copy does shuffle (so the count is not vacuous).
    No row of it crosses into a Python worker."""
    from plan_audit import formatted_plan, plan_facts

    seqs, snap, plain_seqs, plain_snap, sources = bucketed_copies

    def fused_facts(s, sn, variant):
        viol, rows = fused_row_violations(s, sn, sources, _dups(s, variant))
        facts = plan_facts(rows)
        assert facts["sort_merge_join"], "snapshot join must not broadcast here"
        assert "EvalPython" not in formatted_plan(viol), "a Python UDF ran"
        return facts["shuffle_exchanges"], plan_facts(viol)["shuffle_exchanges"], (
            viol.filter(F.col("rule_id") == "token_equality").count()
        )

    # force the big-big join shape (at real scale neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the window count, then the duplicate-key job
        for variant in DUPS_VARIANTS:
            pass_x, viol_x, n_tok = fused_facts(seqs, snap, variant)
            assert (pass_x, viol_x) == (0, 0), f"{variant}: bucketed pass shuffles"
            assert n_tok > 0  # planted edits found
            plain_x, _, plain_tok = fused_facts(plain_seqs, plain_snap, variant)
            assert plain_x > 0 and plain_tok == n_tok, variant
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_drift_stats_math():
    p = np.array([10.0, 20, 30, 40])
    q = np.array([10.0, 20, 30, 40])
    assert psi(p, q) == 0.0
    assert ks_d(p, q) == 0.0
    assert chi2_norm(p, q) == 0.0
    p2 = np.array([40.0, 30, 20, 10])
    # hand-computed: shares p=[.4,.3,.2,.1], q=[.1,.2,.3,.4]
    ps, qs = p2 / 100.0, q / 100.0
    assert abs(psi(p2, q) - float(np.sum((ps - qs) * np.log(ps / qs)))) < 1e-12
    assert abs(ks_d(p2, q) - 0.4) < 1e-12  # cum p=[.4,.7,.9,1], q=[.1,.3,.6,1]
    assert abs(chi2_norm(p2, q) - float(np.sum((ps - qs) ** 2 / qs))) < 1e-12
