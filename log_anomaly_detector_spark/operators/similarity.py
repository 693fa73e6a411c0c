"""Similarity search over the `embeddings` table (array<float> column).

* brute-force cosine top-k — the exactness baseline: every vector is a
  candidate of every query;
* LSH-bucketed ANN — the scale path: deterministic random-hyperplane
  signatures, candidates only within matching buckets;
* IVF ANN — the other scale path: K inverted lists, search probes only the
  nprobe nearest lists;
* embedding near-dup — LSH-bucket candidates + exact verify (never an
  all-pairs theta join).

The three top-k queries are ONE search (`_topk_search`): collect the
N_QUERIES query rows on the driver, one `mapInPandas` scoring pass over the
corpus (`_topk_scorer`), one per-query top-k window. A query only supplies
its candidate rule — every row, a shared LSH bucket, or a probed IVF list.

Scale shapes (the parts that must survive 10^12 vectors):
* LSH bucketing is a SINGLE narrow projection: the hyperplane matrix is a
  deterministic driver-side constant, and each row computes all of its
  table-buckets within its Arrow batch — zero extra shuffles, zero row
  blowup (the previous posexplode(dim) + two-groupBy formulation shuffled
  dim× the table twice).
* IVF assignment is the same trick: the K×dim centroid matrix is driver
  state and the argmax is computed WITHIN the batch, instead of
  crossJoin(K) + a per-vector window (K× row blowup + shuffle).
* The only shuffles anywhere are keyed joins on bucket/list ids and the
  top-k window over the skinny scored stream.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.relational import t, widen

TOP_K = 5
N_QUERIES = 5


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _vq_col(name: str) -> Column:
    """array<int> of floor(x·1e6) over the array<double> column ``name`` —
    the shared quantization, computed JVM-SIDE so the Arrow kernels receive
    4-byte ints instead of 8-byte doubles (halves the Python-worker
    transfer, which profiling showed is the binding cost of the
    corpus-sized kernel passes: ~1 GB of float64 per 2M×64 pass before
    this). floor(double·1e6) is the identical IEEE multiply+floor numpy
    applies (`_quantize`), so kernel outputs are unchanged bit-for-bit. A
    component past int32 (|x| ≳ 2147; embedding components are O(1)) raises
    an error naming the column and the limit, not an opaque ANSI
    CAST_OVERFLOW."""
    msg = (
        f"embedding column '{name}' has a component outside the quantization "
        "range: floor(x*1e6) must fit int32, i.e. -2147.483648 <= x < 2147.483648"
    )

    def q(x: Column) -> Column:
        fx = F.floor(x * 1e6)
        bad = (fx < -(2**31)) | (fx > 2**31 - 1)
        return F.when(bad, F.raise_error(F.lit(msg))).otherwise(fx.cast("int"))

    return F.transform(F.col(name), q)


def _quantize(x) -> np.ndarray:
    """int64 floor(x·1e6) of float64 rows — the kernel-side quantization,
    the identical IEEE multiply+floor as `_vq_col` and the DuckDB oracles.
    The search kernels quantize in-kernel: they need the float64 vectors
    for the cosine anyway, so shipping a vq column would only add Arrow
    bytes."""
    return np.floor(np.asarray(x, dtype=np.float64) * 1e6).astype(np.int64)


def _cos(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _seq_fold(mat: "np.ndarray") -> "np.ndarray":
    """Left-fold row sums with float64 rounding at EVERY step — i.e. the
    bit-identical value of Catalyst's `aggregate(zip_with(a,b,*), 0.0, +)`
    and DuckDB's `list_dot_product` sequential accumulation. np.cumsum is a
    plain sequential loop per row (no pairwise blocking, unlike np.sum /
    np.dot), so cumsum[…, -1] reproduces ((0+p0)+p1)+… exactly; 0.0+p0 == p0
    in IEEE, so omitting the explicit zero seed changes nothing."""
    return np.cumsum(mat, axis=1)[:, -1]


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v array<double>) over the non-NULL embedding rows. NULL
    vectors have no cosine, signature or centroid, so neither a driver-side
    collect nor an Arrow kernel ever sees None."""
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
    )


# contract output schema of the top-k queries / the near-dup pair query —
# the empty-corpus short-circuit must return exactly these
_TOPK_SCHEMA = "q_id bigint, c_id bigint, cosine double, rank int"
_PAIRS_SCHEMA = "id_a bigint, id_b bigint, cosine double"


def _topk_scorer(qids: np.ndarray, Q: np.ndarray, rule):
    """The ONE scoring kernel of the top-k queries: a mapInPandas pass over
    (vec_id, v) emitting the skinny (q_id, c_id, raw cosine) stream.

    ``qids``/``Q`` are the driver-side query ids and float64 vectors (row j
    is query j); ``rule(V)`` maps a batch's float64 vectors to a bool
    candidate mask broadcastable to queries × batch rows. Each candidate
    pair except the self-pair is scored with the `_seq_fold` sequential
    cosine — bit-identical to the Catalyst `_cos` fold and the DuckDB
    oracles. Norms are folded only for rows some query keeps. The corpus
    ships through Arrow once, never once per query; closure state is
    nq×dim plus whatever the rule holds."""
    qn = np.sqrt(_seq_fold(Q * Q))

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            keep = rule(V) & (ids[None, :] != qids[:, None])
            rows = keep.any(axis=0)
            if not rows.any():
                continue
            Vr = V[rows]
            cn = np.zeros(len(ids))
            cn[rows] = np.sqrt(_seq_fold(Vr * Vr))
            frames = []
            for j in np.flatnonzero(keep.any(axis=1)):
                m = keep[j]
                cos = _seq_fold(Q[j] * V[m]) / (qn[j] * cn[m])
                frames.append(
                    pd.DataFrame({"q_id": qids[j], "c_id": ids[m], "cosine": cos})
                )
            yield pd.concat(frames, ignore_index=True)

    return score


def _topk_search(
    emb: DataFrame, rule_for, corpus: DataFrame | None = None
) -> DataFrame:
    """The shared top-k query: collect the query rows (vec_id < N_QUERIES)
    of ``emb`` on the driver, build the candidate rule ``rule_for(Q)``, score
    ``corpus`` (default ``emb``) in one `_topk_scorer` pass, and keep the
    TOP_K per query by (cosine desc, c_id). No query-range ids → an empty
    result in the contract schema."""
    qrows = {
        r["vec_id"]: list(r["v"])
        for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()
    }
    if not qrows:
        return emb.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    qids = np.array(sorted(qrows), dtype=np.int64)
    Q = np.array([qrows[q] for q in qids], dtype=np.float64)
    scored = (emb if corpus is None else corpus).mapInPandas(
        _topk_scorer(qids, Q, rule_for(Q)),
        schema="q_id long, c_id long, cosine double",
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.select("q_id", "c_id", F.round(F.col("cosine"), 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors: every
    vector is a candidate. Acceptable at scale only because the query side
    is bounded (N_QUERIES); the full-corpus paths are q_ann_lsh / q_ann_ivf."""
    return _topk_search(_embeddings(spark, sf_dir), lambda Q: lambda V: True)


_COSINE_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, c_id, cosine,
       cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS int) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


# --- random-hyperplane LSH ---------------------------------------------------
# multi-table construction: L independent tables of P planes each; candidates
# are the union over tables (P(match per table) = (1 - θ/π)^P). (L=24, P=4)
# measures recall 0.92 vs exact top-5 at sf0.01 (tests gate ≥ 0.5; this
# synthetic corpus has far neighbors — cosine ~0.3 — so recall costs more
# tables than a real embedding corpus would need).
N_TABLES = 24
PLANES_PER_TABLE = 4


def _plane_signs(n_tables: int, planes: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane matrix, flattened [tbl][plane][dim] —
    md5-parity seeded, identical on every run/driver. Tiny (L×P×dim) and
    embedded in the plan as ONE array literal."""
    return [
        1.0 if int(hashlib.md5(f"{t}:{k}:{i}".encode()).hexdigest(), 16) % 2 else -1.0
        for t in range(n_tables)
        for k in range(planes)
        for i in range(dim)
    ]


def _bucket_array(v: Column, dim: int, n_tables: int, planes: int) -> Column:
    """array<bigint> of length n_tables: per-table LSH bucket for vector `v`,
    computed entirely within the row (bucket = Σ_k [v·plane_k > 0]·2^k).
    The plane matrix literal appears ONCE in the expression tree.

    The projection is taken over QUANTIZED components (±floor(x·1e6) integer
    sum): integer addition is order-free, so the bucket is bit-identical at
    any parallelism AND across engines — which is what makes the whole ANN
    query DuckDB-oracle-checkable (same rationale as the engine's money
    aggregates).

    This is the pure-Catalyst REFERENCE formulation (kept for the equivalence
    tests); the hot paths use `_signer` — the same integer arithmetic as
    ONE numpy matmul per Arrow batch, measured ~40× faster than the
    interpreted higher-order-function chain."""
    flat = F.lit(_plane_signs(n_tables, planes, dim))
    vq = F.transform(v, lambda x: F.floor(x * 1e6).cast("long"))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda tt: F.aggregate(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            F.lit(0).cast("long"),
            lambda acc, kk: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        vq,
                        F.slice(flat, tt * (planes * dim) + kk * dim + 1, dim),
                        lambda xq, s: xq * s.cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                > 0,
                F.pow(F.lit(2.0), kk).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def _signer(dim: int, n_tables: int, planes: int):
    """The hyperplane-signature kernel as a numpy function: batch × dim
    int64 quantized rows (`_quantize` / `_vq_col`) → batch × n_tables bucket
    ids, one integer matmul. Same quantized-integer projection as
    `_bucket_array` (|component| ≤ ~1e6, 64-term sums ≤ ~6.4e7, far inside
    int64); integer arithmetic is order-free, so the buckets are
    bit-identical to the Catalyst formulation AND to the DuckDB oracle at
    any parallelism. The sign matrix is built once per call, not per
    batch."""
    signs = (
        np.array(_plane_signs(n_tables, planes, dim), dtype=np.int64)
        .reshape(n_tables * planes, dim)
        .T
    )  # dim × (L·P)
    pw = 2 ** np.arange(planes, dtype=np.int64)

    def sign(vq: np.ndarray) -> np.ndarray:
        return ((vq @ signs > 0).reshape(len(vq), n_tables, planes) * pw).sum(axis=2)

    return sign


def _bucket_udf(dim: int, n_tables: int, planes: int):
    """`_signer` as a pandas UDF column — the sanctioned Pandas-UDF
    exception: built-ins express this only as an interpreted per-plane fold
    (measured seconds for thousands of rows).

    Input is the PRE-QUANTIZED `_vq_col` array<int> (the floor happens
    JVM-side), so each corpus pass ships half the Arrow bytes of the former
    float64 feed; callers pass ``_vq_col("v")``."""
    sign = _signer(dim, n_tables, planes)

    @F.pandas_udf("array<long>")
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # np.stack raises on empty — guard the batch shape
            return pd.Series([], dtype=object)
        return pd.Series(list(sign(np.stack(vs.to_numpy()).astype(np.int64))))

    return buckets


_ANN_LSH_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
planes AS (
  SELECT t.t AS tbl, k.k AS k, i.i AS i,
         CASE WHEN strpos('13579bdf',
                          substr(md5(t.t || ':' || k.k || ':' || i.i), 32, 1)) > 0
              THEN 1 ELSE -1 END AS s
  FROM range(0, {N_TABLES}) t(t), range(0, {PLANES_PER_TABLE}) k(k), range(0, 64) i(i)
),
proj AS (
  SELECT e.vec_id, p.tbl, p.k,
         sum(cast(floor(e.v[p.i + 1] * 1e6) AS bigint) * p.s) AS pr
  FROM emb e, planes p
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, tbl,
         cast(sum(CASE WHEN pr > 0 THEN cast(pow(2, k) AS bigint) ELSE 0 END) AS bigint) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS c_id
  FROM buckets qb JOIN buckets cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
  WHERE qb.vec_id < {N_QUERIES} AND qb.vec_id <> cb.vec_id
),
scored AS (
  SELECT q_id, c_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cosine
  FROM cand JOIN emb q ON q.vec_id = q_id JOIN emb c ON c.vec_id = c_id
)
SELECT q_id, c_id, cosine,
       cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS int) AS rank
FROM scored QUALIFY rank <= {TOP_K}
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH → union of bucket candidates → exact cosine
    rerank top-k. Approximate vs exact brute force (recall gated in tests),
    but fully DETERMINISTIC (md5 planes + integer-quantized projections), so
    the query itself is DuckDB-oracle-verified end to end. The oracle pins
    dim=64 (the driver tables); the Spark side reads dim from the query rows.

    Candidate rule: a vector is a candidate of a query iff ANY table's
    bucket equals the query's bucket in that table. Each corpus vector's
    buckets are computed once, in the scoring pass, so the cross-table
    union is structural (one row per candidate, no distinct shuffle); the
    only shuffle is the top-k window on skinny rows. The query rows come
    straight off the scan (the vec_id predicate pushes to parquet)."""
    emb = _embeddings(spark, sf_dir)

    def rule_for(Q: np.ndarray):
        sign = _signer(Q.shape[1], N_TABLES, PLANES_PER_TABLE)
        qb = sign(_quantize(Q))  # nq × L

        def rule(V: np.ndarray) -> np.ndarray:
            return (sign(_quantize(V))[None, :, :] == qb[:, None, :]).any(axis=2)

        return rule

    return _topk_search(emb, rule_for, corpus=widen(emb))


# --- A9: per-dimension mean over vectors (hypersphere center = mean of
# embeddings, bert_pytorch/train_log.py:160-181) — posexplode + grouped avg;
# sums taken per-row-scaled-integer for oracle determinism (see
# q_pricing_summary note). ---------------------------------------------------
def q_embedding_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    # slice BEFORE exploding: the former posexplode-then-filter generated
    # corpus×dim rows and kept corpus×8 (generators can't take pushed
    # predicates) — slicing explodes only the 8 kept components. The agg
    # still combines map-side, so the shuffle is (labels×8) partials.
    comp = emb.select(
        "label",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, 8)
        ).alias("dim", "x"),
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.floor(F.col("x") * 1e6)) / 1e6 / F.count(F.lit(1)), 6
            ).alias("mean_x"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EMB_MEAN_SQL = """
SELECT label, cast(i - 1 AS int) AS dim,
       round(sum(cast(floor(x * 1e6) AS bigint)) / 1e6 / count(*), 6) AS mean_x,
       count(*) AS n
FROM (
  SELECT label,
         generate_subscripts(embedding::DOUBLE[], 1) AS i,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
)
WHERE i <= 8
GROUP BY 1, 2
"""


# --- embedding-cosine near-dup dedup: all pairs above a cosine threshold
# (the embedding analogue of MinHash near-dup). BUCKET-FIRST: candidates come
# from a dedicated LSH family (more tables, fewer planes — tuned so recall at
# τ=0.45 is 1.0: P(miss) = (1-(1-θ/π)^2)^ND_TABLES ≈ 2e-6 per true pair at the
# threshold, vanishing above it — ND_TABLES=24 is what that exponent assumes).
# Verified exactly within buckets; the DuckDB oracle is the brute-force cross
# join, so exactness of the bucketed plan is checked at every sf the driver
# runs. The Spark plan never theta-joins two unbounded sides, NEVER
# broadcasts the corpus, and never builds a candidate-pair stream:
#   * ONE membership shuffle keyed by (tbl, bucket) folds each bucket into a
#     kernel group; Arrow traffic is O(corpus·tables) in, O(result) out;
#   * pair dedup is IN-KERNEL: a colliding pair is emitted only by the FIRST
#     table where its signatures agree, so no dropDuplicates shuffle exists;
#   * kernel groups are bounded by MEASURED bucket sizes (`_bucket_groups`):
#     a bucket past the budget is verified as bounded block pairs.
# Bucket selectivity is corpus-dependent: this synthetic far-neighbor corpus
# (bulk cosine ~0.3 vs τ=0.45) makes most pairs candidates — a real embedding
# corpus with separated clusters prunes far harder at the same guarantees. ----
ND_THRESHOLD = 0.45
ND_TABLES = 24
ND_PLANES = 2


# per-kernel-group flattened-vector budget (rows·dim·8B): bounds the
# collect_list row and the kernel's per-group scratch. 256 MB ⇒ ~500k
# 64-dim vectors per group. Buckets are sized against it by measurement, not
# by the corpus/2^planes average: near-dup corpora put duplicate-heavy
# clusters into ONE bucket by construction.
_GROUPED_MAX_BUCKET_BYTES = 1 << 28
# in-kernel pair-block budget: bounds eq/prod scratch to ~128 MB worst-case
_PAIR_BLOCK = 1 << 18


def _grouped_verify_udf(
    dim: int, n_tables: int, threshold: float, pair_block: int = _PAIR_BLOCK
):
    """mapInPandas kernel over (tbl, ids, vflat, sigflat, nleft) kernel-group
    rows (`_bucket_groups`): emits every first-hit candidate pair of the
    group with its RAW cosine. ``nleft == 0`` marks a whole bucket (every
    i<j pair); ``nleft > 0`` marks a block pair of a split bucket, whose
    first ``nleft`` members (the left block) pair with the rest.

    Two phases per group. (1) PREFILTER: every candidate pair is scored by
    ONE int64 matmul per row block over the floor(x·1e6) quantization — the
    same exact-integer trick as the IVF kernels (products ≤ dim·(1e6·‖x‖∞)²
    stay under 2^53 for ‖x‖∞ ≲ 11; corpora outside that envelope skip the
    prefilter for that group and degrade to the all-pairs flow below). A
    pair survives iff its quantized cosine COULD reach threshold−1e−6 under
    a rigorous error bound: |raw_dot − dq·1e−12| ≤ (Σ|vqa|+Σ|vqb|+dim)·1e−12
    (components are (vq+f)/1e6 with f∈[0,1)), plus a 4·dim·eps margin for
    the float rounding of the dot-space comparison itself — so no pair the
    exact path would emit is ever dropped, and false survivors are killed by
    phase 2. (2) EXACT on the survivor set (result-sized, not pair-sized):
    first-collision dedup — group (tbl, bucket) emits (i, j) iff tbl is the
    FIRST table where their full signatures agree, exactly-once across
    groups, no distinct shuffle — then the sequential-fold cosine: norms
    are sqrt(cumsum(C·C)), dots the sequential fold of the elementwise
    product, cosine dot/(na·nb) — the identical IEEE ops as Catalyst's
    `_cos` fold and the DuckDB oracle, so rows are byte-equal to the
    brute-force reference (pinned by tests/test_similarity.py).

    The final filter is raw cosine ≥ threshold−1e−6 (any value that could
    round up to the 6dp threshold survives; the exact half-up round +
    compare happens JVM-side), so the Arrow return stream is result-sized,
    not candidate-sized."""
    slack = threshold - 1e-6
    eps = float(np.finfo(np.float64).eps)
    # quantized-component ceiling keeping dim·max|vq|² < 2^53 (with margin)
    pf_max = math.sqrt(2.0**53 / dim) * 0.9

    def kernel(batches):
        for pdf in batches:
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            out_c: list[np.ndarray] = []
            for tbl, ids, vflat, sigflat, nleft in zip(
                pdf["tbl"], pdf["ids"], pdf["vflat"], pdf["sigflat"], pdf["nleft"]
            ):
                g = len(ids)
                if g < 2:
                    continue
                ids = np.asarray(ids, dtype=np.int64)
                C = np.asarray(vflat, dtype=np.float64).reshape(g, dim)
                S = np.asarray(sigflat, dtype=np.int64).reshape(g, n_tables)
                norms = np.sqrt(_seq_fold(C * C))
                VQ = np.floor(C * 1e6).astype(np.int64)
                prefilter = np.abs(VQ).max(initial=0) <= pf_max
                if prefilter:
                    sa = np.abs(VQ).sum(axis=1)  # per-row Σ|vq| dot bound
                    # float64 copy for the dot matmul: BLAS GEMM is ~4× the
                    # int64 kernel, and under the pf_max gate it is EXACT —
                    # every product and every partial sum is an integer with
                    # |·| ≤ dim·max|vq|² < 2^53, exactly representable in
                    # float64 at any accumulation order (verified
                    # array_equal vs the int64 matmul)
                    VQf = VQ.astype(np.float64)
                # rows [0, row_end) pair with the columns from c0 on: a whole
                # bucket pairs each row with every later row, a block pair
                # pairs the left block's rows with the right block's rows
                row_end = nleft if nleft else g - 1
                # row blocks of b rows × ≤g cols bound scratch to ~pair_block
                b = max(1, pair_block // g)
                for r0 in range(0, row_end, b):
                    r1 = min(r0 + b, row_end)
                    c0 = nleft if nleft else r0 + 1
                    if prefilter:
                        dq = VQf[r0:r1] @ VQf[c0:].T  # exact (see above)
                        lhs = dq * 1e-12
                        err = (sa[r0:r1, None] + sa[None, c0:] + dim) * 1e-12
                        rhs = slack * (norms[r0:r1, None] * norms[None, c0:])
                        keep = (
                            lhs + err + 4.0 * dim * eps * (np.abs(lhs) + np.abs(rhs))
                            >= rhs
                        )
                    else:
                        keep = np.ones((r1 - r0, g - c0), dtype=bool)
                    if not nleft:
                        rl = np.arange(r1 - r0, dtype=np.int64)  # block-local row
                        cl = np.arange(g - c0, dtype=np.int64)  # cols r0+1..
                        keep &= cl[None, :] >= rl[:, None]  # ⟺ j > i globally
                    ri, ci = np.nonzero(keep)
                    if ri.size == 0:
                        continue
                    ii = ri + r0
                    jj = ci + c0
                    # first table where the signatures agree == this group's
                    # table ⟺ this group owns the pair (argmax finds the
                    # first True; membership guarantees S[·, tbl] matches)
                    first = np.argmax(S[ii] == S[jj], axis=1)
                    m = first == tbl
                    if not m.any():
                        continue
                    ia, ja = ii[m], jj[m]
                    dots = _seq_fold(C[ia] * C[ja])
                    with np.errstate(invalid="ignore"):  # 0/0 → NaN is handled
                        cos = dots / (norms[ia] * norms[ja])
                    # NaN parity with the oracle: Spark (and DuckDB) order NaN
                    # ABOVE every double, so a zero-norm pair's 0/0 cosine
                    # passes `cosine >= τ` there; numpy's comparison would
                    # silently drop it (ADVICE r6)
                    keep2 = (cos >= slack) | np.isnan(cos)
                    if not keep2.any():
                        continue
                    ia, ja, cos = ia[keep2], ja[keep2], cos[keep2]
                    out_a.append(np.minimum(ids[ia], ids[ja]))
                    out_b.append(np.maximum(ids[ia], ids[ja]))
                    out_c.append(cos)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return kernel


def _flat_members(m: Column) -> list[Column]:
    """(ids, vflat, sigflat) kernel columns from a collected member array."""
    return [
        F.transform(m, lambda s: s["vec_id"]).alias("ids"),
        F.flatten(F.transform(m, lambda s: s["v"])).alias("vflat"),
        F.flatten(F.transform(m, lambda s: s["sig"])).alias("sigflat"),
    ]


def _bucket_groups(
    emb: DataFrame, n_tables: int, planes: int, dim: int, n_rows: int
) -> DataFrame:
    """(tbl, ids, vflat, sigflat, nleft) kernel groups for
    `_grouped_verify_udf`, each holding at most `_GROUPED_MAX_BUCKET_BYTES`
    of flattened vectors.

    A bucket within the budget is ONE group (nleft = 0): one membership
    shuffle keyed by (tbl, bucket), members folded into parallel flat
    arrays JVM-side. Buckets are sized by one grouped count over the
    signatures; a corpus of at most one budget of rows (``n_rows``) cannot
    hold an oversized bucket, so then the count is skipped.

    An oversized bucket is cut into blocks of half the budget by vec_id
    rank, and each block pair (lo ≤ hi) is a group, left block first, so
    every pair of rows is examined by exactly one group. First-hit dedup
    still holds: the kernel decides ownership from the signatures
    (`first == tbl`), not from the group. Repartitioning by the full group
    key spreads one skewed bucket's block pairs over tasks."""
    udf = _bucket_udf(dim, n_tables, planes)
    memb = emb.select("vec_id", "v", udf(_vq_col("v")).alias("sig")).select(
        "vec_id", "v", "sig", F.posexplode("sig").alias("tbl", "bucket")
    )
    cap = max(2, _GROUPED_MAX_BUCKET_BYTES // (dim * 8))  # rows per group
    block = cap // 2
    big = []
    if n_rows > cap:
        counts = memb.groupBy("tbl", "bucket").count()
        big = [
            (r["tbl"], r["bucket"], -(-r["count"] // block))
            for r in counts.filter(F.col("count") > cap).collect()
        ]
    if not big:
        return (
            memb.groupBy("tbl", "bucket")
            .agg(F.collect_list(F.struct("vec_id", "v", "sig")).alias("m"))
            .select("tbl", *_flat_members(F.col("m")), F.lit(0).alias("nleft"))
        )
    sizes = emb.sparkSession.createDataFrame(big, "tbl int, bucket long, nblk int")
    rank = F.row_number().over(Window.partitionBy("tbl", "bucket").orderBy("vec_id"))
    # buckets within the budget (no sizes row) stay whole: one block, 0
    blk = F.when(F.col("nblk").isNotNull(), ((rank - 1) / block).cast("int"))
    nblk = F.coalesce("nblk", F.lit(1))
    keyed = (
        memb.join(F.broadcast(sizes), ["tbl", "bucket"], "left")
        .withColumn("blk", blk.otherwise(0))
        # a row of block p joins the groups (min(p, q), max(p, q)) for all q
        .withColumn("q", F.explode(F.sequence(F.lit(0), nblk - 1)))
        .withColumns({"lo": F.least("blk", "q"), "hi": F.greatest("blk", "q")})
        .repartition("tbl", "bucket", "lo", "hi")
    )
    # (blk, vec_id) is unique, so the sort never compares payloads
    members = F.array_sort(F.collect_list(F.struct("blk", "vec_id", "v", "sig")))
    left = F.size(F.filter("m", lambda s: s["blk"] == F.col("lo")))
    return (
        keyed.groupBy("tbl", "bucket", "lo", "hi")
        .agg(members.alias("m"))
        .select(
            "tbl",
            *_flat_members(F.col("m")),
            F.when(F.col("lo") < F.col("hi"), left).otherwise(0).alias("nleft"),
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = ND_THRESHOLD,
    n_tables: int = ND_TABLES,
    planes: int = ND_PLANES,
    *,
    dim: int,
    n_rows: int,
) -> DataFrame:
    """All (id_a < id_b, cosine) pairs with cosine ≥ threshold over
    ``emb(vec_id, v array<double>)`` — LSH-bucket candidates + exact verify.

    Parameterized for the full regime spectrum: the contract fixture runs
    τ=0.45 / 2 planes / 24 tables (per-pair miss ≈ 2e-6 at the threshold —
    but τ this low sits in hyperplane LSH's no-pruning regime, so most pairs
    are candidates on a far-neighbor corpus); production near-dup dedup runs
    τ ≥ 0.8-0.9 where MORE planes per table prune hard (random pairs match a
    p-plane table with prob ~2^-p) and the table count for recall stays
    modest (miss/table = 1-(1-θ/π)^p, tables chosen so miss^L is
    negligible).

    Verify is the grouped bucket kernel (`_grouped_verify_udf`) over
    size-bounded bucket groups (`_bucket_groups`). Kernel traffic is
    O(corpus·tables), never O(candidate-pairs): a pair-stream verify moved
    15 GB in 117 s for the production regime's 14.6M candidates at 100k
    vectors (0.5 GB grouped), and took 111 s vs ~10 s for the contract
    regime at sf1.0.

    ``dim`` is the vector length and ``n_rows`` the corpus row count (or
    any upper bound): a corpus within one group budget skips the bucket
    sizing job. `_near_dup_corpus` reads both in one aggregate."""
    raw = _bucket_groups(emb, n_tables, planes, dim, n_rows).mapInPandas(
        _grouped_verify_udf(dim, n_tables, threshold),
        schema="id_a long, id_b long, cosine double",
    )
    # 6dp half-up round + compare, as the oracle. The coalesce restores
    # zero-norm NaNs: pandas→Arrow treats NaN as the missing-value sentinel,
    # so the kernel's 0/0 cosines arrive as NULL — and NULL is the ONLY way
    # the kernel's float64 column loses a value, so mapping it back to NaN
    # is exact (Spark orders NaN above every double, keeping the pair
    # exactly like the oracle).
    cos = F.round(F.coalesce(F.col("cosine"), F.lit(float("nan"))), 6)
    return raw.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _near_dup_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, int] | None:
    """(emb, dim, n_rows) for the near-dup queries, or None for an empty
    corpus. testdata parquet arrives as ONE split; the cheap id repartition
    (`widen`) parallelizes the signature kernel, and a corpus already split
    across the session's cores keeps its scan. The dim and the row count
    (which lets `_bucket_groups` skip bucket sizing) come from ONE cheap
    aggregate over the raw scan (pre-repartition — probing the shuffled
    side would run the whole shuffle-map stage for one row)."""
    raw = _embeddings(spark, sf_dir)
    probe = raw.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size("v"), ignorenulls=True).alias("d"),
    ).first()
    if probe is None or probe["d"] is None:
        return None
    return widen(raw, "vec_id"), probe["d"], probe["n"]


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _near_dup_corpus(spark, sf_dir)
    if corpus is None:  # empty corpus → contract schema
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    emb, dim, n_rows = corpus
    return embedding_near_dup_pairs(emb, dim=dim, n_rows=n_rows)


# production-regime parameterization (see q_embedding_near_dup_production)
PROD_ND_THRESHOLD = 0.85
PROD_ND_TABLES = 8
PROD_ND_PLANES = 12


def q_embedding_near_dup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_near_dup_pairs` in the production regime (τ=0.85, 12
    planes × 8 tables — a random pair collides with prob ~2^-12 per table,
    so LSH actually prunes). NOT a contract query / no ORACLES entry ON
    PURPOSE: the driver registry stays at the 52 oracle-verified queries,
    and the contract `q_embedding_near_dup` already hard-verifies the exact
    same plan against the brute-force oracle at low τ. This entry exists for
    per-query SCALING evidence and as the parameterization real near-dup
    dedup should copy — the contract regime is quadratic by design at
    corpus scale (2 planes ⇒ 4 buckets/table ⇒ every bucket holds a
    quarter of the corpus), so measuring it at 500k vectors would benchmark
    a misconfiguration.
    Planted-duplicate recall 1.0 pinned by
    tests/test_similarity.py::test_embedding_near_dup_production_regime.
    Reference near-dup semantics citation as for q_embedding_near_dup."""
    corpus = _near_dup_corpus(spark, sf_dir)
    if corpus is None:
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    emb, dim, n_rows = corpus
    return embedding_near_dup_pairs(
        emb,
        threshold=PROD_ND_THRESHOLD,
        n_tables=PROD_ND_TABLES,
        planes=PROD_ND_PLANES,
        dim=dim,
        n_rows=n_rows,
    )


_EMB_NEARDUP_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= {ND_THRESHOLD}
"""


# --- IVF ANN: the other scale path for similarity search. Deterministic
# build: K seed centroids (md5-min-K sample of the corpus) + ONE Lloyd
# refinement. The centroid matrix lives on the driver (K×dim — tiny by
# construction), so ASSIGNMENT IS A PER-BATCH ARGMAX (`_nearest_list`) —
# no crossJoin row blowup, no per-vector window, zero added shuffle. The
# Lloyd update is one grouped agg (per-dim sums as K×dim tiny partials).
# Search probes the nprobe nearest inverted lists only — at 10^12 vectors
# the exact scoring touches ~nprobe/K of the table instead of all of it. ---
N_CENTROIDS = 16
N_PROBE = 4


def _centroid_sims_q(v: Column, cents: list[list[float]]) -> Column:
    """array<double> of QUANTIZED similarity(v, centroid_c), computed within
    the row — the pure-Catalyst REFERENCE formulation (the hot paths use
    `_centroid_sims`, the same arithmetic as one numpy integer matmul per
    batch; equivalence is pinned by test).

    sim = idot(vq, cq) / (sqrt(idot(vq, vq)) · sqrt(idot(cq, cq))) over
    floor(x·1e6) int64 components: every dot is an EXACT integer (≤ ~6.4e13
    for 64 dims, inside both int64 and double's 2^53 — so even an engine
    that sums in doubles is exact and ORDER-FREE), and the only float ops
    are two sqrts, one multiply, one divide — single IEEE operations that
    are bit-identical across Python/numpy/JVM/DuckDB. This replaces the
    raw-float cosine argmax, whose fold-order-sensitive sums matched the
    oracle only because the fixtures never produced a near-tie."""
    k, dim = len(cents), len(cents[0])
    cq = _quantize(cents).tolist()
    flatq = F.lit([x for c in cq for x in c])
    cnorms = F.lit([math.sqrt(float(sum(x * x for x in c))) for c in cq])
    vq = F.transform(v, lambda x: F.floor(x * 1e6).cast("long"))
    vdot = F.aggregate(
        F.zip_with(vq, vq, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(vdot.cast("double"))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda cc: F.aggregate(
            F.zip_with(
                vq, F.slice(flatq, cc * dim + 1, dim), lambda a, b: a * b
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / (vnorm * F.element_at(cnorms, cc + 1)),
    )


def _centroid_sims(vq: np.ndarray, C: np.ndarray) -> np.ndarray:
    """rows × K quantized similarities of int64 quantized rows ``vq`` to the
    int64 quantized centroids ``C`` — the `_centroid_sims_q` arithmetic as
    one exact int64 matmul (the Catalyst formulation is an interpreted K×dim
    fold per row: measured 139 s for ONE pass over 2M×64-dim vectors on 8
    cores; the matmul does the same pass in seconds). Exactness argument in
    `_centroid_sims_q`'s docstring."""
    d = (vq @ C.T).astype(np.float64)
    vn = np.sqrt((vq * vq).sum(axis=1).astype(np.float64))
    cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    return d / (vn[:, None] * cn[None, :])


def _nearest_list(vq: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Each row's inverted list: the argmax of `_centroid_sims`; np.argmax
    takes the FIRST max, matching the `ties → lowest cid` rule."""
    return np.argmax(_centroid_sims(vq, C), axis=1)


def _probe_lists(C: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """nq × N_PROBE centroid ids per query row of ``Q`` (float64), nearest
    first, ties → lowest cid: the `_centroid_sims` similarities sorted like
    the Catalyst array_sort(struct(-sim, cid)) slice (equivalence test pins
    parity). Queries and centroids are both driver-side constants, so this
    is O(nq·K·dim) driver work — no reason to round-trip 5 rows through a
    plan."""
    sims = _centroid_sims(_quantize(Q), C)
    return np.argsort(-sims, axis=1, kind="stable")[:, :N_PROBE]


def _lloyd_partials(cents: list[list[float]]):
    """Fused assign + partial-sum pass for the Lloyd step: one mapInPandas
    over the float64 `v` column (quantized in-kernel, `_quantize`) that (a)
    assigns each vector to its nearest centroid (`_nearest_list`, the same
    argmax the search's IVF rule runs) and (b) scatter-adds the int64
    component sums and member counts per cid, emitting only K×dim rows PER
    PARTITION. Replaces a corpus-sized kernel output + corpus×dim
    posexplode shuffle with dim-sized partials; int64 sums of floor(x·1e6)
    components are order-free (global sums bounded by rows·1e6·max|x| ≪
    2^63), so the aggregated (cid, i, s, n) table is bit-identical to the
    exploded-agg formulation at any parallelism. Empty cids emit NO rows
    (callers fall back to the seed centroid), so a zero count can never
    reach the mean's division."""
    C = _quantize(cents)  # K × dim
    K, dim = C.shape

    def partials(it):
        S = np.zeros((K, dim), dtype=np.int64)
        N = np.zeros(K, dtype=np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            vq = _quantize(np.stack(pdf["v"].to_numpy()))
            cid = _nearest_list(vq, C)
            counts = np.bincount(cid, minlength=K)
            # K masked sums beat np.add.at (unbuffered per-element fallback)
            for k in np.flatnonzero(counts):
                S[k] += vq[cid == k].sum(axis=0)
            N += counts
        nz = np.flatnonzero(N)
        if len(nz):
            yield pd.DataFrame(
                {
                    "cid": np.repeat(nz, dim).astype("int32"),
                    "i": np.tile(np.arange(dim, dtype="int32"), len(nz)),
                    "s": S[nz].reshape(-1),
                    "n": np.repeat(N[nz], dim),
                }
            )

    return partials


def build_ivf(emb: DataFrame) -> list[list[float]]:
    """The trained coarse quantizer of ``emb(vec_id, v)``: K×dim centroids
    as driver-side floats (cid = row index). Centroid collection is
    O(K×dim) driver data, which IS driver/broadcast state in any IVF
    system; the search assigns rows to lists in its own scoring pass, so no
    index table is built.

    Seeding is a deterministic md5-min-K sample (the `kmv_distinct` trick):
    the K corpus vectors with the smallest md5(vec_id) hex strings, cid =
    rank in that order. No assumption about id range or density — any
    non-empty corpus seeds; md5 parity across Spark/DuckDB keeps the seed
    set (and therefore the whole index) oracle-checkable. The global
    orderBy+limit plans as TakeOrdered (per-task top-K, K×dim driver data).
    The dim is read off the seeds."""
    seeds = (
        emb.filter(F.col("v").isNotNull())
        .select("vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(N_CENTROIDS)
        .collect()
    )
    seeds.sort(key=lambda r: (r["h"], r["vec_id"]))  # pin order off-plan too
    c0 = [list(r["v"]) for r in seeds]
    if not c0:
        raise ValueError(
            "build_ivf: empty embeddings corpus — an IVF index needs seed "
            "centroids (contract queries short-circuit empty corpora before "
            "this point)"
        )
    dim = len(c0[0])
    # one Lloyd step: per-dim mean of each cluster — K×dim tiny partial aggs.
    # Sums are over QUANTIZED floor(x·1e6) integers: order-free, so the
    # centroids (and therefore the whole index) are bit-identical at any
    # parallelism and across engines — IVF becomes oracle-checkable.
    # Shape: ONE fused mapInPandas pass per partition that assigns c0 AND
    # scatter-adds the integer partial sums in numpy, emitting only K×dim
    # rows per partition (`_lloyd_partials`) — no corpus×dim posexplode
    # shuffle (128M exploded rows at 2M×64). The final (cid, i) sums and
    # counts match the exploded-agg formulation bit-for-bit (equivalence
    # test pins this). The per-(cid, i) `n` is the cluster size repeated per
    # component, summed across partitions like `s`.
    sums = (
        emb.select("v")
        .mapInPandas(_lloyd_partials(c0), schema="cid int, i int, s long, n long")
        .groupBy("cid", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    comp: dict[int, dict[int, int]] = {}
    n_by_cid: dict[int, int] = {}
    for r in sums.collect():  # K×dim rows, one action
        comp.setdefault(r["cid"], {})[r["i"]] = r["s"]
        n_by_cid[r["cid"]] = r["n"]
    # cid is an INDEX into c0 (argmax position), so the centroid count is
    # len(c0) — a corpus with fewer than N_CENTROIDS seed rows (sparse ids,
    # null vectors among the seeds) simply trains a smaller quantizer
    return [
        [comp[c][i] / 1e6 / n_by_cid[c] for i in range(dim)]
        if c in comp
        else c0[c]
        for c in range(len(c0))
    ]


_IVF_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b})))"
)
# quantized similarity for ASSIGNMENT and PROBE SELECTION (mirrors
# _centroid_sims_q / _centroid_sims exactly): floor(x·1e6) components, exact
# order-free integer dots (≤2^53 so double-typed sums are still exact), two
# sqrts + multiply + divide as the only float ops. `scored` keeps the raw
# 6dp-rounded cosine — that is the OUTPUT value, not a discrete decision.
_IVF_Q = "list_transform({v}, x -> floor(x * 1e6))"
_IVF_QSIM = (
    f"list_dot_product({_IVF_Q.format(v='{a}')}, {_IVF_Q.format(v='{b}')})"
    f" / (sqrt(list_dot_product({_IVF_Q.format(v='{a}')}, {_IVF_Q.format(v='{a}')}))"
    f" * sqrt(list_dot_product({_IVF_Q.format(v='{b}')}, {_IVF_Q.format(v='{b}')})))"
)
_ANN_IVF_SQL = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
c0 AS (
  -- md5-min-K seed sample, cid = rank in md5 order (mirrors build_ivf;
  -- same md5(cast(id AS varchar)) parity the kmv_distinct oracle relies on)
  SELECT cast(rn - 1 AS int) AS cid, cv FROM (
    SELECT v AS cv,
           row_number() OVER (ORDER BY md5(cast(vec_id AS varchar)), vec_id) AS rn
    FROM emb
  ) WHERE rn <= {N_CENTROIDS}
),
a0 AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_IVF_QSIM.format(a="e.v", b="c.cv")} DESC, c.cid
           ) AS rn
    FROM emb e CROSS JOIN c0 c
  ) WHERE rn = 1
),
comp AS (
  SELECT cid, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM a0
),
sums AS (
  SELECT cid, i, sum(cast(floor(x * 1e6) AS bigint)) AS s
  FROM comp GROUP BY 1, 2
),
cnt AS (SELECT cid, count(*) AS n FROM a0 GROUP BY 1),
c1 AS (
  SELECT s.cid, list(s.s / 1e6 / c.n ORDER BY s.i) AS cv
  FROM sums s JOIN cnt c USING (cid) GROUP BY s.cid, c.n
),
c1full AS (
  SELECT cid, cv FROM c1
  UNION ALL
  SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT cid FROM c1)
),
idx AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_IVF_QSIM.format(a="e.v", b="c.cv")} DESC, c.cid
           ) AS rn
    FROM emb e CROSS JOIN c1full c
  ) WHERE rn = 1
),
probes AS (
  SELECT q_id, cid FROM (
    SELECT e.vec_id AS q_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_IVF_QSIM.format(a="e.v", b="c.cv")} DESC, c.cid
           ) AS rn
    FROM emb e CROSS JOIN c1full c
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE rn <= {N_PROBE}
),
scored AS (
  SELECT p.q_id, a.vec_id AS c_id,
         round({_IVF_COS.format(a="q.v", b="a.v")}, 6) AS cosine
  FROM probes p
  JOIN idx a USING (cid)
  JOIN emb q ON q.vec_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, c_id, cosine,
       cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS int) AS rank
FROM scored QUALIFY rank <= {TOP_K}
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: probe the N_PROBE nearest centroids per query, exact cosine
    within those lists only. Approximate vs brute force (recall gated in
    tests) but fully DETERMINISTIC (seeded centroids, integer-quantized Lloyd
    sums) — the query is DuckDB-oracle-verified end to end.

    Candidate rule: a vector is a candidate of a query iff its nearest c1
    list (`_nearest_list`, computed in the scoring pass) is one the query
    probes (`_probe_lists`). The corpus is repartitioned only when
    under-split (`widen`; nothing downstream needs a partitioning, so a
    well-split corpus skips the vector-payload shuffle — ~1.5 GB at 2M×64)
    and tracked-persisted: the query collect, the seed collect, the Lloyd
    pass and the search pass all read it (MEMORY_AND_DISK: spills, never
    OOMs). The cache holds only (vec_id, v); every kernel quantizes
    in-kernel."""
    from log_anomaly_detector_spark.operators.caching import tracked_persist

    emb = tracked_persist("ivf_emb", widen(_embeddings(spark, sf_dir)))

    def rule_for(Q: np.ndarray):
        C = _quantize(build_ivf(emb))
        probe = np.zeros((len(Q), len(C)), dtype=bool)
        np.put_along_axis(probe, _probe_lists(C, Q), True, axis=1)
        return lambda V: probe[:, _nearest_list(_quantize(V), C)]

    return _topk_search(emb, rule_for)


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "embedding_mean": q_embedding_mean,
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "cosine_topk": _COSINE_SQL,
    "ann_lsh": _ANN_LSH_SQL,
    "ann_ivf": _ANN_IVF_SQL,
    "embedding_mean": _EMB_MEAN_SQL,
    "embedding_near_dup": _EMB_NEARDUP_SQL,
}
