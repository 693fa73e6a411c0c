"""Hardening gates from the round-1 advice:

* uniqueness is GLOBAL (PK semantics, init_schema.sql:12) — duplicates that
  straddle checkpoint batches, or a done partition vs a resumed one, are
  still detected;
* a crash mid-manifest-append leaves at most a torn trailing line, which
  read_manifest tolerates instead of permanently breaking resume (R10);
* an all-NULL n_tok partition fails the n_tok_stats rule instead of raising;
* partition planning comes from storage metadata, not a data scan;
* every job of a run carries the caller's job group;
* the allowed-sources dim is a set: a NULL or repeated row changes nothing,
  and an empty one makes every non-NULL source referential;
* one batch's fused pass + violations write runs a pinned number of jobs.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from log_anomaly_detector_spark import storage
from log_anomaly_detector_spark.config import DEFAULT_CONFIG as CFG
from log_anomaly_detector_spark.datagen import (
    GenSpec,
    gen_allowed_sources,
    gen_baseline_profile,
    gen_reference_snapshot,
    gen_sequences,
)
from log_anomaly_detector_spark.engine import VIOLATION_SCHEMA, run_validation
from log_anomaly_detector_spark.golden import (
    golden_labels,
    golden_partition_verdicts,
    golden_row_violations,
)
from log_anomaly_detector_spark.rules.column_stats import stats_verdicts
from log_anomaly_detector_spark.rules.fused import fused_row_violations
from log_anomaly_detector_spark.rules.uniqueness import duplicate_keys

SPEC = GenSpec(n_docs=2_000, n_parts=4, seed=11)


@pytest.fixture(scope="module")
def world(spark):
    seqs = gen_sequences(spark, SPEC)
    # plant a CROSS-BATCH duplicate: copy one clean doc from part 0 into the
    # last partition (datagen's own DUP_MOD duplicates are always adjacent
    # ids in the same partition, which a batch-scoped check would also catch)
    victim = seqs.filter(
        (F.col("part_id") == 0) & F.col("doc_id").endswith("000042")
    ).limit(1)
    planted = victim.withColumn("part_id", F.lit(SPEC.n_parts - 1))
    seqs = seqs.unionByName(planted).cache()
    snap = gen_reference_snapshot(spark, SPEC).cache()
    allowed = gen_allowed_sources(spark)
    baseline = gen_baseline_profile(spark, SPEC, CFG)
    victim_id = victim.first()["doc_id"]
    return seqs, snap, allowed, baseline, victim_id


def test_cross_batch_duplicate_detected(spark, world, tmp_path):
    """batch_parts=1 → the two copies are validated in DIFFERENT batches;
    both must still be flagged by the uniqueness rule, and the whole
    violation set (the fused pass's duplicate-key-join branch) must equal the
    golden implementation's."""
    seqs, snap, allowed, baseline, victim_id = world
    out = str(tmp_path / "out")
    res = run_validation(
        spark, seqs, snap, allowed, baseline, out, CFG,
        input_digest="x", batch_parts=1,
    )
    assert res.metrics["duplicate_keys_global"] >= 1
    viol = spark.read.parquet(f"{out}/violations")
    hits = {
        (r["part_id"], r["rule_id"])
        for r in viol.filter(F.col("doc_id") == victim_id).collect()
    }
    assert (0, "uniqueness") in hits, "original copy (batch 0) not flagged"
    assert (SPEC.n_parts - 1, "uniqueness") in hits, "planted copy not flagged"

    gold = golden_row_violations(
        seqs.toPandas(), snap.toPandas(), {r["source"] for r in allowed.collect()}
    )
    eng = {tuple(r) for r in viol.select("part_id", "doc_id", "rule_id").collect()}
    assert eng == set(map(tuple, gold.values))


def test_failed_write_releases_caches(spark, world, tmp_path, monkeypatch):
    """A violations write that dies mid-batch must not leave the fused pass's
    cache or the run-global duplicate-key set pinned in the session."""
    seqs, snap, allowed, baseline, _ = world
    seqs.count(), snap.count()  # the fixture's own caches are not the run's
    jsc = spark.sparkContext._jsc  # noqa: SLF001

    def persisted():
        return set(jsc.getPersistentRDDs().keys())

    def failing_write(df, path, part_ids):
        df.count()  # the fused cache is materialized before the failure
        raise OSError("disk full")

    before = persisted()
    monkeypatch.setattr(storage, "overwrite_partitions", failing_write)
    with pytest.raises(OSError, match="disk full"):
        run_validation(
            spark, seqs, snap, allowed, baseline, str(tmp_path / "out"), CFG,
            input_digest="x", batch_parts=1,
        )
    assert persisted() == before


def test_cross_batch_duplicate_detected_on_resume(spark, world, tmp_path):
    """Kill after batch 0 (victim's home partition committed as done), resume:
    the resumed run must still flag the planted copy in the last partition."""
    seqs, snap, allowed, baseline, victim_id = world
    out = str(tmp_path / "resumed")
    run_validation(
        spark, seqs, snap, allowed, baseline, out, CFG,
        input_digest="x", batch_parts=1, max_batches=1,
    )
    res = run_validation(
        spark, seqs, snap, allowed, baseline, out, CFG, input_digest="x"
    )
    assert res.metrics["partitions_skipped"] == 1
    viol = spark.read.parquet(f"{out}/violations")
    planted_hits = viol.filter(
        (F.col("doc_id") == victim_id)
        & (F.col("part_id") == SPEC.n_parts - 1)
        & (F.col("rule_id") == "uniqueness")
    ).count()
    assert planted_hits == 1


@pytest.mark.parametrize("batch_parts", [None, 2], ids=["one_batch", "batch2"])
def test_run_jobs_keep_callers_job_group(
    spark, world, tmp_path, batch_parts, job_ids
):
    """Every job a run starts belongs to the job group its caller set, so a
    caller can attribute (or cancel) the whole run."""
    seqs, snap, allowed, baseline, _ = world
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))  # jobs without a group
    with job_ids(f"validation-{batch_parts}") as ids:
        run_validation(
            spark, seqs, snap, allowed, baseline, str(tmp_path / "out"), CFG,
            input_digest="x", batch_parts=batch_parts,
        )
    assert ids
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_violation_schema_is_the_fused_output(spark, world):
    """The rollup reads the violations table with ``VIOLATION_SCHEMA``
    instead of inferring it, so the DDL must name what the fused pass
    writes."""
    seqs, snap, allowed, _, _ = world
    # the dim DataFrame, as perfbench's replay passes it, not the driver set
    viol, _ = fused_row_violations(seqs, snap, allowed)
    assert viol.schema.simpleString() == (
        StructType.fromDDL(VIOLATION_SCHEMA).simpleString()
    )


def test_fused_write_job_count(spark, tmp_path, job_ids):
    """One batch's fused pass + violations write on the doc_id-bucketed
    layout runs 4 Spark jobs (counted by job group; the UI is off). A plan
    that persists the exploded rows, unions two branches of that cache and
    joins the allowed-sources dim runs 7 here."""
    spec = GenSpec(n_docs=2_000, n_parts=2, seed=5)
    storage.write_bucketed(
        gen_sequences(spark, spec), "j_seqb", str(tmp_path / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    storage.write_bucketed(
        gen_reference_snapshot(spark, spec), "j_snapb", str(tmp_path / "snapb"),
        n_buckets=4,
    )
    seqs = storage.register_bucketed(
        spark, "j_seqb_r", storage.SEQ_DDL, str(tmp_path / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    snap = storage.register_bucketed(
        spark, "j_snapb_r", storage.SNAP_DDL, str(tmp_path / "snapb"), n_buckets=4
    )
    sources = [r["source"] for r in gen_allowed_sources(spark).collect()]
    dups = duplicate_keys(seqs, CFG).persist()
    dups.count()
    try:
        with job_ids("fused-write") as ids:
            sub = seqs.filter(F.col("part_id") == 0)
            viol, _ = fused_row_violations(sub, snap, sources, dups)
            storage.overwrite_partitions(
                viol.repartition("part_id"), str(tmp_path / "viol"), [0]
            )
    finally:
        dups.unpersist()
    assert len(ids) == 4
    assert spark.read.parquet(str(tmp_path / "viol")).count() > 0


def test_manifest_tolerates_torn_tail(tmp_path):
    out = str(tmp_path)
    storage.append_manifest(out, [{"part_id": 0, "status": "done"}])
    storage.append_manifest(out, [{"part_id": 1, "status": "done"}])
    # simulate a crash mid-append: torn, unparseable trailing line
    with open(storage.manifest_path(out), "a") as f:
        f.write('{"part_id": 2, "sta')
    recs = storage.read_manifest(out)
    assert [r["part_id"] for r in recs] == [0, 1]
    # torn line NOT at the tail = external corruption → still raised
    with open(storage.manifest_path(out), "a") as f:
        f.write('\n{"part_id": 3, "status": "done"}\n')
    with pytest.raises(json.JSONDecodeError):
        storage.read_manifest(out)


def test_all_null_n_tok_fails_rule_not_run():
    rows = [
        {
            "part_id": 0,
            "n_rows": 10,
            "null_doc_id": 0,
            "null_n_tok": 10,
            "null_source": 0,
            "n_tok_min": None,
            "n_tok_max": None,
            "n_tok_mean": None,
        }
    ]
    verdicts = {r["rule_id"]: r for r in stats_verdicts(rows, CFG)}
    assert verdicts["n_tok_stats"]["passed"] is False
    assert verdicts["n_tok_stats"]["observed_stat"] != verdicts["n_tok_stats"][
        "observed_stat"
    ]  # NaN
    assert verdicts["null_rate"]["passed"] is False  # 100% null n_tok


def test_list_partitions_metadata(tmp_path, spark):
    df = spark.range(10).select(
        F.col("id").alias("x"), (F.col("id") % 3).cast("int").alias("part_id")
    )
    path = str(tmp_path / "tbl")
    df.write.partitionBy("part_id").parquet(path)
    assert storage.list_partitions(path) == [0, 1, 2]
    assert storage.list_partitions(str(tmp_path / "missing")) is None
    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    assert storage.list_partitions(flat) is None


def test_non_ascii_scrub(spark, tmp_path):
    """Spell.py:297 — runs of non-ASCII chars become one <NASCII> sentinel."""
    from log_anomaly_detector_spark.sources.logtext import read_structured_logs

    p = str(tmp_path / "log.txt")
    with open(p, "w", encoding="utf-8") as f:
        f.write("081109 203615 143 INFO dfs.DataNode: Received block café±\n")
    df = read_structured_logs(
        spark, p, logformat="<Date> <Time> <Pid> <Level> <Component>: <Content>"
    )
    row = df.first()
    assert row["Content"] == "Received block caf<NASCII>"
    assert row["_parsed"]


def test_all_null_n_tok_partition_end_to_end(spark, world, tmp_path):
    """A partition whose n_tok is entirely NULL must fail n_tok_stats (and
    null_rate) and label Anomaly — never crash the run (NULL aggregates)."""
    seqs, snap, allowed, baseline, _ = world
    nulled = seqs.withColumn(
        "n_tok",
        F.when(F.col("part_id") == 0, F.lit(None).cast("int")).otherwise(
            F.col("n_tok")
        ),
    )
    out = str(tmp_path / "nulled")
    res = run_validation(
        spark, nulled, snap, allowed, baseline, out, CFG, input_digest="z"
    )
    v0 = next(v for v in res.verdicts if v["part_id"] == 0)
    assert v0["label"] == "Anomaly"
    failed0 = {
        r["rule_id"]
        for r in res.rule_verdicts
        if r["part_id"] == 0 and not r["passed"]
    }
    assert {"n_tok_stats", "null_rate"} <= failed0


def test_default_master_uses_host_cores(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, the session runs on the cores this
    process may use — not a fixed count that oversubscribes a small host."""
    from pyspark.sql import SparkSession

    from log_anomaly_detector_spark.session import get_spark

    class Captured(Exception):
        pass

    def capture_master(self, master):
        raise Captured(master)

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "master", capture_master)
    with pytest.raises(Captured) as exc:
        get_spark()
    assert exc.value.args == (f"local[{len(os.sched_getaffinity(0))}]",)


@pytest.mark.parametrize(
    "master, partitions",
    [
        (None, 5),
        ("local", 5),
        ("local[3]", 3),
        ("local[*]", 5),
        ("local[4,2]", 4),
        ("local[*,3]", 5),
        ("local-cluster[2,1,1024]", 2),
        ("spark://host:7077", 5),
    ],
)
def test_master_forms_set_shuffle_partitions(monkeypatch, master, partitions):
    """Every master form Spark accepts sizes the shuffle: the first bracket
    field when it is a count, else the core hint (SPARK_GRAFT_CPUS=5 here)."""
    from pyspark.sql import SparkSession

    from log_anomaly_detector_spark.session import get_spark

    class Captured(Exception):
        pass

    config = SparkSession.Builder.config

    def capture_partitions(self, key=None, value=None, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            raise Captured(value)
        return config(self, key, value, *args, **kwargs)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setattr(SparkSession.Builder, "config", capture_partitions)
    with pytest.raises(Captured) as exc:
        get_spark(master=master)
    assert exc.value.args == (str(partitions),)


def test_default_driver_memory_fits_the_host(monkeypatch):
    """With SPARK_DRIVER_MEMORY unset, the driver heap is half of physical
    RAM in whole GiB, floored at 1g — not a fixed size beyond a small host."""
    from pyspark.sql import SparkSession

    from log_anomaly_detector_spark import session

    class Captured(Exception):
        pass

    config = SparkSession.Builder.config

    def capture_heap(self, key=None, value=None, *args, **kwargs):
        if key == "spark.driver.memory":
            raise Captured(value)
        return config(self, key, value, *args, **kwargs)

    def heap():
        with pytest.raises(Captured) as exc:
            session.get_spark()
        return exc.value.args[0]

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "config", capture_heap)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap() == f"{max(ram // 2**31, 1)}g"
    monkeypatch.setattr(session.os, "sysconf", lambda name: 1024)
    assert heap() == "1g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert heap() == "3g"


def test_allowed_sources_is_a_set(spark, tmp_path):
    """A NULL row and a repeated row in the allowed-sources dim change no
    verdict and no violation row: the same run as over the clean dim, and
    the golden implementation's sets and labels."""
    spec = GenSpec(n_docs=2_000, n_parts=2, seed=3)
    seqs = gen_sequences(spark, spec).cache()
    snap = gen_reference_snapshot(spark, spec).cache()
    clean = gen_allowed_sources(spark)
    first = clean.orderBy("source").limit(1)
    dirty = clean.unionByName(first).unionByName(
        spark.createDataFrame([(None, "no source")], clean.schema)
    )
    assert dirty.count() == clean.count() + 2
    baseline = gen_baseline_profile(spark, spec, CFG)

    def run(allowed, name):
        out = str(tmp_path / name)
        res = run_validation(
            spark, seqs, snap, allowed, baseline, out, CFG, input_digest="x"
        )
        viol = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{out}/violations")
            .select("part_id", "doc_id", "rule_id", "observed", "expected")
            .collect()
        )
        return res, viol

    res_c, viol_c = run(clean, "clean")
    res_d, viol_d = run(dirty, "dirty")
    assert viol_d == viol_c
    assert res_d.verdicts == res_c.verdicts
    assert res_d.rule_verdicts == res_c.rule_verdicts

    seq_pdf, snap_pdf = seqs.toPandas(), snap.toPandas()
    sources = sorted(r["source"] for r in clean.collect())
    gold_v = golden_row_violations(seq_pdf, snap_pdf, set(sources))
    assert {(p, d, r) for p, d, r, *_ in viol_d} == set(map(tuple, gold_v.values))
    gold_pv = golden_partition_verdicts(seq_pdf, baseline, CFG, sources)
    gold = golden_labels(seq_pdf, gold_v, gold_pv, CFG)
    assert {v["part_id"]: (v["label"], v["score"]) for v in res_d.verdicts} == {
        r.part_id: (r.label, r.score) for r in gold.itertuples(index=False)
    }
    seqs.unpersist()
    snap.unpersist()


def test_empty_allowed_sources(spark, world, tmp_path):
    """A zero-row allowed-sources dim makes every non-NULL source a
    referential violation; violations and labels equal the golden ones."""
    seqs, snap, allowed, baseline, _ = world
    out = str(tmp_path / "out")
    res = run_validation(
        spark, seqs, snap, allowed.limit(0), baseline, out, CFG, input_digest="x"
    )
    seq_pdf, snap_pdf = seqs.toPandas(), snap.toPandas()
    gold_v = golden_row_violations(seq_pdf, snap_pdf, set())
    viol = spark.read.parquet(f"{out}/violations")
    eng = {tuple(r) for r in viol.select("part_id", "doc_id", "rule_id").collect()}
    assert eng == set(map(tuple, gold_v.values))
    assert (gold_v["rule_id"] == "referential").any()
    gold = golden_labels(
        seq_pdf, gold_v, golden_partition_verdicts(seq_pdf, baseline, CFG, []), CFG
    )
    assert {v["part_id"]: (v["label"], v["score"]) for v in res.verdicts} == {
        r.part_id: (r.label, r.score) for r in gold.itertuples(index=False)
    }
