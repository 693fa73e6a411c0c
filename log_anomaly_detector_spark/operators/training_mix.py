"""Training-mix construction ops: sequence PACKING (documents → fixed
token-budget bins, the LLM sample-packing step) and WEIGHTED SOURCE MIXING
(per-stratum deterministic sampling rates — how a training mix reweights
languages/sources).

Both are pure hash/window arithmetic — no RNG, no Python — so each carries
a bit-exact DuckDB oracle (the same md5-coin construction as seeded_sample /
mask_tokens).

Reference anchors: packing generalizes the reference's fixed ``seq_len``
sample assembly (bert_pytorch/dataset/dataset.py:8-44 — documents sliced
and concatenated to a token budget per training row); mixing generalizes
its ratio-based train/test sampling (``generate_train_test``,
HDFS/data_process.py:98-116 — `.sample(frac=...)` per stratum) with
deterministic hash coins instead of engine RNG.

Scale shapes:
* packing — a TRUE global first-fit pack is inherently sequential; the
  scalable variant packs within ``n_buckets`` independent md5-hash buckets
  (window partitioned by bucket, never global). The bucket count is a
  LAYOUT PARAMETER of the output, not a runtime tuning knob: changing it
  changes every bin assignment, so it is fixed at pipeline-config time —
  set it ≈ the cluster's target parallelism so each window partition
  (corpus/n_buckets rows) is executor-sized. ``pack_documents`` reads it
  from ``PACK_BUCKETS``, which the contract query's SQL oracle pins to 8
  for the driver fixture. A document whose start falls inside a bin is assigned to it
  even if it overruns the budget (streaming-pack semantics: the consumer
  truncates/wraps at bin boundaries).
* mixing — one scan, a per-row md5 coin against the stratum's rate; the
  weight table is a literal (config-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.functions.text_funcs import words
from log_anomaly_detector_spark.operators.relational import _hash_bucket, t

PACK_BUCKETS = 8
PACK_BUDGET = 256  # tokens per training bin
PACK_SEED = 31

# per-language keep-rate (percent) — the mix recipe
MIX_WEIGHTS = {"en": 90, "fr": 50, "es": 25, "de": 10}
MIX_SEED = 37


def pack_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, pack_bucket, bin_id, tok_offset, n_tok): which training bin
    each document lands in and at what token offset, packing greedily in
    doc_id order within each of ``PACK_BUCKETS`` md5-hash buckets (see
    module docstring for the layout-parameter semantics of the count).
    Reference analogue: fixed seq_len sample assembly,
    bert_pytorch/dataset/dataset.py:8-44."""
    n_tok = F.size(words(F.col("text")))
    # a 48-bit hash reduced mod n directly: the 0-99 coin reduced mod n would
    # leave buckets ≥ 100 empty and skew the rest whenever n does not divide 100
    bucket = _hash_bucket(F.col("doc_id"), PACK_SEED, PACK_BUCKETS, digits=12).cast("int")
    base = docs.select(
        "doc_id", bucket.alias("pack_bucket"), n_tok.alias("n_tok")
    )
    w = Window.partitionBy("pack_bucket").orderBy("doc_id")
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("_start")
    return base.select("doc_id", "pack_bucket", "n_tok", start).select(
        "doc_id",
        "pack_bucket",
        F.floor(F.col("_start") / PACK_BUDGET).cast("int").alias("bin_id"),
        (F.col("_start") % PACK_BUDGET).cast("int").alias("tok_offset"),
        "n_tok",
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract entry for pack_documents over the driver's documents table
    (n_buckets=8, budget=256 pinned to match the SQL oracle). Output columns
    (doc_id, pack_bucket, bin_id, tok_offset, n_tok) alias both sides.
    Reference analogue: fixed seq_len sample assembly,
    bert_pytorch/dataset/dataset.py:8-44."""
    return pack_documents(t(spark, sf_dir, "documents"))


_PACK_SQL = f"""
WITH base AS (
  SELECT doc_id,
         cast(('0x' || substr(md5(doc_id || ':{PACK_SEED}'), 1, 12))::bigint
              % {PACK_BUCKETS} AS int) AS pack_bucket,
         len(string_split_regex(trim(text), ' +')) AS n_tok
  FROM documents
), cum AS (
  SELECT doc_id, pack_bucket, n_tok,
         sum(n_tok) OVER (PARTITION BY pack_bucket ORDER BY doc_id) - n_tok AS start
  FROM base
)
SELECT doc_id, pack_bucket,
       cast(floor(start / {PACK_BUDGET}) AS int) AS bin_id,
       cast(start % {PACK_BUDGET} AS int) AS tok_offset,
       cast(n_tok AS int) AS n_tok
FROM cum
"""


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically sample each language at its mix weight and report
    the per-language kept/total counts — the reweighting audit a mix builder
    emits. Unlisted languages default to rate 0 (dropped). Reference
    analogue: ratio-based stratum sampling in generate_train_test,
    HDFS/data_process.py:98-116 (engine RNG `.sample(frac=...)` there →
    deterministic md5 coins here)."""
    docs = t(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lg, F.lit(r))
            for lg, r in sorted(MIX_WEIGHTS.items())
        ],
        F.lit(0),
    )
    kept = (_hash_bucket(F.col("doc_id"), MIX_SEED) < rate).cast("int")
    return (
        docs.select("lang", kept.alias("_k"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("_k").alias("n_kept"),
        )
        .withColumn("rate_pct", rate)
    )


_MIX_CASE = " ".join(
    f"WHEN lang = '{lg}' THEN {r}" for lg, r in sorted(MIX_WEIGHTS.items())
)
_MIX_SQL = f"""
SELECT lang, count(*) AS n_total,
       cast(sum(CASE WHEN ('0x' || substr(md5(doc_id || ':{MIX_SEED}'), 1, 6))::bigint % 100
                          < (CASE {_MIX_CASE} ELSE 0 END)
                     THEN 1 ELSE 0 END) AS bigint) AS n_kept,
       CASE {_MIX_CASE} ELSE 0 END AS rate_pct
FROM documents GROUP BY lang
"""

QUERIES = {"pack_sequences": q_pack_sequences, "source_mix": q_source_mix}
ORACLES = {"pack_sequences": _PACK_SQL, "source_mix": _MIX_SQL}
