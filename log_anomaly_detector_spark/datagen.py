"""Deterministic synthetic data for the validation engine.

Everything is a pure function of the row id through ``xxhash64`` — generation
runs entirely JVM-side (``spark.range`` + built-in expressions), so the same
seed yields byte-identical tables at any parallelism, any scale, with no
driver-side bottleneck. This mirrors the reference's fixed HDFS-v1 frequency
profile (``output/hdfs/HDFS.log_templates.csv``: a few very hot templates)
including planted violations for every rule (FIXTURES.md F1-F4):

* duplicated ``doc_id`` rows           → uniqueness (R4)
* sources missing from the dimension   → referential integrity (R5)
* NULL sources                         → null-rate (R1)
* ``n_tok != size(tokens)``            → consistency (R6)
* single-token edits vs the snapshot   → token equality (R7)
* one drifted partition (longer seqs,
  shifted source mix)                  → drift pack (R8)
* one heavily-corrupted partition
  (~30% token edits, extra NULLs)      → 'Anomaly' verdict (R9)

Violation sites are chosen by distinct prime moduli of the row id so they are
deterministic, spread across partitions, and composable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.rules.column_stats import stats_pass

VOCAB_SIZE = 48          # reference: 48 templates (HDFS.log_templates.csv)
N_SOURCES = 12
SOURCES = [f"source_{i:02d}" for i in range(N_SOURCES)]  # the clean dimension

# prime moduli for planted violations (composable, low collision)
DUP_MOD = 997            # id % DUP_MOD == 1  → exact duplicate of id-1
EDIT_MOD = 991           # eff % EDIT_MOD == 11 → one-token edit vs snapshot
ROGUE_MOD = 1009         # eff % ROGUE_MOD == 3 → source not in dimension
NULL_MOD = 1013          # eff % NULL_MOD == 7 → NULL source
NTOK_MOD = 1019          # eff % NTOK_MOD == 9 → n_tok = size(tokens)+2


@dataclass(frozen=True)
class GenSpec:
    n_docs: int = 100_000
    n_parts: int = 8
    seed: int = 42
    violations: bool = True
    drift: bool = True        # last partition gets a shifted distribution
    heavy: bool = True        # second-to-last partition ~30% corrupt

    @property
    def docs_per_part(self) -> int:
        return -(-self.n_docs // self.n_parts)

    @property
    def drift_part(self) -> int | None:
        return self.n_parts - 1 if self.drift and self.n_parts >= 2 else None

    @property
    def heavy_part(self) -> int | None:
        return self.n_parts - 2 if self.heavy and self.n_parts >= 3 else None


def _u(col, seed: int, salt: int):
    """Deterministic uniform [0,1) from a column + salt (JVM-side)."""
    return F.pmod(F.xxhash64(col, F.lit(seed + salt)), F.lit(1 << 20)) / F.lit(
        float(1 << 20)
    )


def _base(spark: SparkSession, spec: GenSpec) -> DataFrame:
    """id, part_id, eff (effective id after dup aliasing), gen_part, n_len,
    tokens_clean, src_clean, doc_id — the clean generation incl. drift."""
    s = spec.seed
    df = spark.range(0, spec.n_docs).withColumn(
        "part_id", (F.col("id") / F.lit(spec.docs_per_part)).cast("int")
    )

    if spec.violations:
        is_dup = (F.col("id") % DUP_MOD == 1) & (F.col("id") > 0)
        df = df.withColumn("eff", F.when(is_dup, F.col("id") - 1).otherwise(F.col("id")))
    else:
        df = df.withColumn("eff", F.col("id"))
    # distribution knobs follow the *effective* row's partition
    df = df.withColumn("gen_part", (F.col("eff") / F.lit(spec.docs_per_part)).cast("int"))

    u1, u2, u3, u4 = (_u(F.col("eff"), s, k) for k in (1, 2, 3, 4))
    base_len = F.lit(10) + F.floor(F.pow(u1, F.lit(2.0)) * F.lit(120)).cast("int")
    n_len = F.when(u2 < F.lit(0.008), (F.floor(u3 * F.lit(9)) + F.lit(1)).cast("int")).otherwise(
        base_len
    )
    if spec.drift_part is not None:
        n_len = F.when(
            F.col("gen_part") == F.lit(spec.drift_part),
            F.least(F.floor(n_len * F.lit(1.35)).cast("int"), F.lit(512)),
        ).otherwise(n_len)
    df = df.withColumn("n_len", n_len.cast("int"))

    # skewed token draw: pow(u, 3) concentrates mass on low token ids —
    # the hot-template profile of the reference (exercises skew handling).
    df = df.withColumn(
        "tokens_clean",
        F.expr(
            f"transform(sequence(1, n_len), i -> "
            f"cast(pow(pmod(xxhash64(eff, i, {s + 9}), 1048576) / 1048576.0, 3.0)"
            f" * {VOCAB_SIZE} as int) + 1)"
        ),
    )

    src_idx = F.floor(F.pow(u4, F.lit(2.0)) * F.lit(N_SOURCES)).cast("int")
    if spec.drift_part is not None:
        src_idx = F.when(
            F.col("gen_part") == F.lit(spec.drift_part),
            F.floor(F.pow(u4, F.lit(0.5)) * F.lit(N_SOURCES)).cast("int"),
        ).otherwise(src_idx)
    df = df.withColumn(
        "src_clean", F.concat(F.lit("source_"), F.lpad(src_idx.cast("string"), 2, "0"))
    )

    # digits-only block id in the reference's `blk_-\d+` shape; uniqueness of
    # the clean id is guaranteed by embedding eff in the low digits.
    df = df.withColumn(
        "doc_id",
        F.concat(
            F.lit("blk_-"),
            (
                F.pmod(F.xxhash64(F.col("eff"), F.lit(s + 5)), F.lit(90_000))
                * F.lit(1_000_000_000_000)
                + F.col("eff")
            ).cast("string"),
        ),
    )
    return df


def gen_sequences(spark: SparkSession, spec: GenSpec) -> DataFrame:
    """The primary input table: (doc_id, tokens, n_tok, source, part_id)."""
    s = spec.seed
    df = _base(spark, spec)

    if spec.violations:
        is_edit = F.col("eff") % EDIT_MOD == 11
        if spec.heavy_part is not None:
            is_edit = is_edit | (
                (F.col("gen_part") == F.lit(spec.heavy_part))
                & (F.pmod(F.xxhash64(F.col("eff"), F.lit(s + 77)), F.lit(100)) < 30)
            )
        # flip the first token to a guaranteed-different in-vocab value
        df = df.withColumn(
            "tokens",
            F.when(
                is_edit,
                F.expr(
                    f"concat(array(tokens_clean[0] % {VOCAB_SIZE} + 1), "
                    f"slice(tokens_clean, 2, size(tokens_clean) - 1))"
                ),
            ).otherwise(F.col("tokens_clean")),
        )

        source = F.when(
            F.col("eff") % ROGUE_MOD == 3,
            F.concat(F.lit("rogue_"), (F.col("eff") % 5).cast("string")),
        ).otherwise(F.col("src_clean"))
        is_null = F.col("eff") % NULL_MOD == 7
        if spec.heavy_part is not None:
            is_null = is_null | (
                (F.col("gen_part") == F.lit(spec.heavy_part))
                & (F.pmod(F.xxhash64(F.col("eff"), F.lit(s + 88)), F.lit(100)) < 5)
            )
        df = df.withColumn("source", F.when(is_null, F.lit(None)).otherwise(source))

        n_tok = F.when(
            F.col("eff") % NTOK_MOD == 9, F.size("tokens") + F.lit(2)
        ).otherwise(F.size("tokens"))
        df = df.withColumn("n_tok", n_tok.cast("int"))
    else:
        df = (
            df.withColumn("tokens", F.col("tokens_clean"))
            .withColumn("source", F.col("src_clean"))
            .withColumn("n_tok", F.size("tokens").cast("int"))
        )

    return df.select("doc_id", "tokens", "n_tok", "source", "part_id")


def gen_reference_snapshot(spark: SparkSession, spec: GenSpec) -> DataFrame:
    """Token-equality oracle: the clean (pre-edit) tokens per doc_id (F3).

    One row per original id; duplicated sequence rows join to the same
    snapshot row, exactly like the reference's warm-start template snapshot
    (logparser/Drain.py:260-279).
    """
    clean = GenSpec(
        n_docs=spec.n_docs,
        n_parts=spec.n_parts,
        seed=spec.seed,
        violations=False,
        drift=spec.drift,
        heavy=False,
    )
    return _base(spark, clean).select(
        "doc_id", F.col("tokens_clean").alias("ref_tokens")
    )


def gen_allowed_sources(spark: SparkSession) -> DataFrame:
    """Referential dimension (F2) — tiny; the engine collects it once into a
    driver set."""
    rows = [(s, f"synthetic component {i}") for i, s in enumerate(SOURCES)]
    return spark.createDataFrame(rows, "source string, description string")


def gen_baseline_profile(spark: SparkSession, spec: GenSpec, cfg) -> dict:
    """Pinned drift baseline (F4): the engine's own drift inputs — the
    ``stats_pass`` n_tok histogram and per-source counts — over a clean,
    drift-free generation at the same seed, summed across partitions on the
    driver (the reference's analogue is the warm-start template occurrence
    profile, Drain.py:233-239). One aggregate, and no second copy of the
    bucket rule.

    Returns {"hist": [counts per bucket], "source_counts": {source: n},
    "n": total} — tiny, driver-held, JSON-serializable. Sources the clean
    generation never draws are left out of ``source_counts``.
    """
    clean = GenSpec(
        n_docs=min(spec.n_docs, 200_000),
        n_parts=spec.n_parts,
        seed=spec.seed,
        violations=False,
        drift=False,
        heavy=False,
    )
    rows = stats_pass(gen_sequences(spark, clean), cfg, SOURCES).collect()
    hist = [sum(r[f"hist_{b}"] for r in rows) for b in range(cfg.hist_buckets)]
    counts = {s: sum(r[f"src_{i}"] for r in rows) for i, s in enumerate(SOURCES)}
    return {
        "hist": hist,
        "source_counts": {s: n for s, n in counts.items() if n},
        "n": int(sum(hist)),
    }
