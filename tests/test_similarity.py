"""ANN quality: LSH and IVF candidates must recover most of the exact
brute-force top-k (recall gate), and near-dup methods agree on the planted
pairs."""

from __future__ import annotations

import pytest

from log_anomaly_detector_spark.operators.similarity import (
    q_ann_ivf,
    q_ann_lsh,
    q_cosine_topk,
)
from log_anomaly_detector_spark.operators.text import (
    q_jaccard_near_dup,
    q_minhash_lsh_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def exact(spark):
    return {(r["q_id"], r["c_id"]) for r in q_cosine_topk(spark, SF).collect()}


def test_lsh_recall(spark, exact):
    lsh = {(r["q_id"], r["c_id"]) for r in q_ann_lsh(spark, SF).collect()}
    assert len(exact & lsh) / len(exact) >= 0.5


def test_ivf_recall(spark, exact):
    """Floor gate on the CONTRACT corpus — which is structureless (random
    far vectors, bulk cosine ~0.3), so honest IVF recall here is bounded
    near the probed fraction nprobe/K = 0.25 (measured 0.44-0.48 across
    sfs — the Lloyd step beats the random-partition floor, nothing more).
    Rounds ≤5 read 0.84 ONLY because the old first-K seeding used the query
    vectors themselves (vec_id < 16 ⊇ queries 0-4) as centroid anchors —
    an index that memorizes its queries. The md5-min-K seeding removed that
    artifact; the REAL recall property (≥0.8 at fraction 0.25) is gated on
    a corpus with cluster structure in test_ivf_recall_clustered_corpus."""
    ivf = {(r["q_id"], r["c_id"]) for r in q_ann_ivf(spark, SF).collect()}
    assert len(exact & ivf) / len(exact) >= 0.35


def test_ivf_recall_clustered_corpus(spark, tmp_path):
    """IVF's reason to exist: on a corpus WITH cluster structure (the shape
    of real embedding corpora), probing nprobe/K = 1/4 of the lists must
    recover ≥0.8 of the exact top-k — neighbors share a cluster, clusters
    map to inverted lists. 16 Gaussian clusters × 40 members in 64-dim;
    queries are members of clusters 0-4 (vec_id < N_QUERIES)."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # queries first: one perturbed member of clusters 0..4 gets vec_id 0..4
    for c in range(5):
        w = centers[c] + rng.normal(scale=0.15, size=64)
        rows.append((c, [float(x) for x in w / np.linalg.norm(w)], c))
    vid = 5
    for c in range(16):
        for _ in range(40):
            w = centers[c] + rng.normal(scale=0.15, size=64)
            rows.append((vid, [float(x) for x in w / np.linalg.norm(w)], c))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    exact = {
        (r["q_id"], r["c_id"]) for r in q_cosine_topk(spark, str(tmp_path)).collect()
    }
    ivf = {(r["q_id"], r["c_id"]) for r in q_ann_ivf(spark, str(tmp_path)).collect()}
    assert len(exact & ivf) / len(exact) >= 0.8, (len(exact & ivf), len(exact))


def test_topk_query_job_counts(spark, job_ids):
    """Built and collected on sf0.001 from cold caches, cosine_topk, ann_lsh
    and ann_ivf run at most 4, 5 and 9 Spark jobs (counted by job group;
    the UI is off). The three share one query collect, one scoring pass
    and one top-k window, and the ANN queries read the dim off the query
    rows; a separate dim probe per ANN query makes it 4, 6 and 10."""
    from log_anomaly_detector_spark.operators.caching import release_all

    for q, limit in ((q_cosine_topk, 4), (q_ann_lsh, 5), (q_ann_ivf, 9)):
        release_all()
        with job_ids(f"topk-jobs-{q.__name__}") as ids:
            assert len(q(spark, SF).collect()) > 0
        assert len(ids) <= limit, q.__name__
    release_all()


def test_bucket_kernel_matches_catalyst_reference(spark):
    """The signature kernel (_signer, numpy integer matmul) must be
    bit-identical to the pure-Catalyst reference formulation (_bucket_array)
    — the equivalence guard the reference implementation exists for — both
    as the _bucket_udf column over the JVM-quantized vq (near-dup buckets)
    and on numpy-quantized rows (the ann_lsh query buckets and candidate
    rule)."""
    import numpy as np
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        N_TABLES,
        PLANES_PER_TABLE,
        _bucket_array,
        _bucket_udf,
        _quantize,
        _signer,
        _vq_col,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .limit(60)
    )
    rows = sorted((r["vec_id"], list(r["v"])) for r in emb.collect())
    ids = [i for i, _ in rows]
    V = np.array([v for _, v in rows], dtype=np.float64)
    for n_tables, planes in ((24, 2), (8, 4), (N_TABLES, PLANES_PER_TABLE)):
        ref = {
            r["vec_id"]: list(r["sig"])
            for r in emb.select(
                "vec_id", _bucket_array(F.col("v"), 64, n_tables, planes).alias("sig")
            ).collect()
        }
        got = {
            r["vec_id"]: list(r["sig"])
            for r in emb.select(
                "vec_id",
                _bucket_udf(64, n_tables, planes)(_vq_col("v")).alias("sig"),
            ).collect()
        }
        assert got == ref, (n_tables, planes)
        sig = _signer(64, n_tables, planes)(_quantize(V))
        assert dict(zip(ids, sig.tolist())) == ref, (n_tables, planes)


def test_query_buckets_match_lsh_buckets(spark):
    """Driver-side query bucketing (`_signer` over numpy-`_quantize`d query
    rows, as q_ann_lsh's candidate rule builds it) must equal the Spark-side
    bucket column (`_bucket_udf` over the JVM-quantized vq) per (table,
    bucket) — the guard for q_ann_lsh's fused search pass."""
    import numpy as np
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        N_TABLES,
        PLANES_PER_TABLE,
        _bucket_udf,
        _quantize,
        _signer,
        _vq_col,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .filter(F.col("vec_id") < 5)
    )
    ref = {
        r["vec_id"]: list(r["sig"])
        for r in emb.select(
            "vec_id",
            _bucket_udf(64, N_TABLES, PLANES_PER_TABLE)(_vq_col("v")).alias("sig"),
        ).collect()
    }
    qrows = {r["vec_id"]: list(r["v"]) for r in emb.collect()}
    qids = sorted(qrows)
    Q = np.array([qrows[q] for q in qids], dtype=np.float64)
    qb = _signer(64, N_TABLES, PLANES_PER_TABLE)(_quantize(Q))
    assert qb.shape == (len(qids), N_TABLES)
    assert dict(zip(qids, qb.tolist())) == ref


def test_allpairs_score_kernel_matches_catalyst_fold_bitwise(spark):
    """The shared top-k scoring kernel (_topk_scorer) under cosine_topk's
    every-row rule must equal the Catalyst _cos fold EXACTLY — not
    approximately: np.cumsum's sequential accumulation reproduces
    aggregate(zip_with(...), 0.0, +)'s per-step float64 rounding, so raw
    (unrounded) cosines are required to be bit-identical. This is the guard
    that lets the similarity queries swap the interpreted fold for kernels
    without touching the DuckDB oracles."""
    import numpy as np
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        _cos,
        _topk_scorer,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .limit(200)
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    qrows = {r["q_id"]: list(r["qv"]) for r in q.collect()}
    qids = np.array(sorted(qrows), dtype=np.int64)
    Q = np.array([qrows[i] for i in qids], dtype=np.float64)
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    pairs = q.join(c, F.col("q_id") != F.col("c_id"))
    ref = {
        (r["q_id"], r["c_id"]): r["cos"]
        for r in pairs.select(
            "q_id", "c_id", _cos(F.col("qv"), F.col("cv")).alias("cos")
        ).collect()
    }
    got = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in emb.repartition(3)
        .mapInPandas(
            _topk_scorer(qids, Q, lambda V: True),
            schema="q_id long, c_id long, cosine double",
        )
        .collect()
    }
    assert got == ref  # exact float equality, no tolerance


def test_probe_lists_match_catalyst_formulation(spark):
    """Driver-side probe selection (_probe_lists, numpy on exact integer
    dots) must pick the SAME top-N_PROBE centroid ids in the SAME
    order as the Catalyst reference (_centroid_sims_q → array_sort(struct(
    -sim, cid)) → slice) — the guard for q_ann_ivf's fused search pass."""
    from pyspark.sql import functions as F

    import numpy as np

    from log_anomaly_detector_spark.operators.similarity import (
        N_PROBE,
        _centroid_sims_q,
        _probe_lists,
        _quantize,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    cents = [list(r["v"]) for r in emb.orderBy("vec_id").limit(9).collect()]
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    ref = {
        r["q_id"]: list(r["cids"])
        for r in q.withColumn("_sims", _centroid_sims_q(F.col("qv"), cents))
        .select(
            "q_id",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_sims"),
                            lambda s, i: F.struct((-s).alias("neg"), i.alias("cid")),
                        )
                    ),
                    1,
                    N_PROBE,
                ),
                lambda st: st["cid"],
            ).alias("cids"),
        )
        .collect()
    }
    qids = sorted(ref)
    qrows = {r["q_id"]: list(r["qv"]) for r in q.collect()}
    Q = np.array([qrows[i] for i in qids], dtype=np.float64)
    got = _probe_lists(_quantize(cents), Q)
    assert dict(zip(qids, got.tolist())) == ref


def _catalyst_nearest(v, cents):
    """Nearest-centroid index by the pure-Catalyst quantized similarity
    (_centroid_sims_q + first-max argmax)."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import _centroid_sims_q

    sims = _centroid_sims_q(v, cents)
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def test_lloyd_partials_match_exploded_agg_bitwise(spark):
    """The fused mapInPandas Lloyd pass (_lloyd_partials: assign +
    scatter-add partials per partition) must produce the EXACT (cid, i, s, n)
    table of the reference formulation (Catalyst _centroid_sims_q argmax →
    posexplode of the JVM-quantized vq → groupBy agg) — int64 sums of
    quantized components are order-free, so the equality is exact, not
    approximate."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        _lloyd_partials,
        _vq_col,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .limit(300)
        .repartition(4)  # force multiple partitions → multiple partials
    )
    cents = [list(r["v"]) for r in emb.orderBy("vec_id").limit(6).collect()]
    ref = {
        (r["cid"], r["i"]): (r["s"], r["n"])
        for r in emb.select(
            _catalyst_nearest(F.col("v"), cents).alias("cid"),
            F.posexplode(_vq_col("v")).alias("i", "x"),
        )
        .groupBy("cid", "i")
        .agg(
            F.sum(F.col("x").cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {
        (r["cid"], r["i"]): (r["s"], r["n"])
        for r in emb.select("v")
        .mapInPandas(_lloyd_partials(cents), schema="cid int, i int, s long, n long")
        .groupBy("cid", "i")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    }
    assert got == ref


def test_ivf_assign_kernel_matches_catalyst_reference(spark):
    """The IVF assignment argmax (_nearest_list, numpy int64 matmul +
    argmax on numpy-quantized rows — what the Lloyd pass and ann_ivf's
    candidate rule run) must be bit-identical to the pure-Catalyst
    quantized-sim reference (_centroid_sims_q + first-max argmax) — the
    equivalence guard the reference formulation exists for (same
    convention as the LSH signature kernel)."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        _nearest_list,
        _quantize,
    )

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("v").isNotNull())
        .limit(80)
    )
    cents = [list(r["v"]) for r in emb.orderBy("vec_id").limit(16).collect()]
    ref = {
        r["vec_id"]: r["cid"]
        for r in emb.select(
            "vec_id", _catalyst_nearest(F.col("v"), cents).alias("cid")
        ).collect()
    }
    rows = emb.collect()
    got = _nearest_list(_quantize([list(r["v"]) for r in rows]), _quantize(cents))
    assert dict(zip([r["vec_id"] for r in rows], got.tolist())) == ref


def test_near_dup_high_threshold_regime(spark):
    """embedding_near_dup_pairs in the PRODUCTION regime (τ=0.9, 6 planes ×
    16 tables — real bucket pruning): on a
    corpus of random far vectors + planted near-identical pairs, the LSH
    plan must reproduce the brute-force pair set exactly (per-true-pair miss
    at cosine ≥ 0.98 is ~1e-8 with this config)."""
    import numpy as np

    from log_anomaly_detector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(50, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = {i: base[i] for i in range(50)}
    for k in range(5):  # planted dups: 100+k ≈ copy of k (cosine > 0.99)
        w = base[k] + rng.normal(scale=0.01, size=64)
        vecs[100 + k] = w / np.linalg.norm(w)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, v array<double>",
    ).repartition(5)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    ids = sorted(vecs)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if round(cos(vecs[a], vecs[b]), 6) >= 0.9
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, n_tables=16, planes=6, dim=64, n_rows=len(vecs)
        ).collect()
    }
    assert truth == {(k, 100 + k) for k in range(5)}  # fixture sanity
    assert got == truth


def test_minhash_finds_jaccard_pairs(spark):
    """MinHash-LSH candidates must cover most true 3-gram-Jaccard near-dups."""
    truth = {
        (r["doc_a"], r["doc_b"]) for r in q_jaccard_near_dup(spark, SF).collect()
    }
    mh = {(r["doc_a"], r["doc_b"]) for r in q_minhash_lsh_pairs(spark, SF).collect()}
    if truth:
        assert len(truth & mh) / len(truth) >= 0.8
    else:
        pytest.skip("no planted near-dups at this sf")


def test_tracked_persist_honors_storage_level(spark):
    """A second persist of the same plan under the same key hands back the
    warm MEMORY_AND_DISK handle instead of rebuilding it."""
    from pyspark.storagelevel import StorageLevel

    from log_anomaly_detector_spark.operators.caching import (
        release_all,
        tracked_persist,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    a = tracked_persist("_lvl_test", df)
    b = tracked_persist("_lvl_test", spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert b is a  # same plan — warm handle reused
    assert a.storageLevel == StorageLevel.MEMORY_AND_DISK
    release_all()


def test_ann_queries_tolerate_null_vectors(spark, tmp_path):
    """A corpus containing NULL embedding rows (even among the IVF seed ids)
    must not crash any ANN query — null vectors have no similarity and are
    excluded; the remaining corpus is processed normally."""
    import numpy as np
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        q_ann_ivf,
        q_ann_lsh,
        q_cosine_topk,
        q_embedding_near_dup,
    )

    rows = []
    for i in range(60):
        if i in (3, 7, 40):  # nulls, two inside the seed range
            rows.append((i, None, 0))
        else:
            # 0.1 floor keeps every vector's norm strictly positive (a zero
            # vector has no cosine and would ANSI-divide-by-zero)
            vec = [0.1 + float(np.cos(i * (j + 1)) % 0.9) for j in range(8)]
            rows.append((i, vec, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    for q in (q_ann_lsh, q_ann_ivf, q_cosine_topk, q_embedding_near_dup):
        out = q(spark, str(tmp_path)).collect()
        ids = {r[0] for r in out} | {r[1] for r in out}
        assert not ({3, 7, 40} & ids), (q.__name__, ids)


def test_embedding_near_dup_production_regime(spark, tmp_path):
    """The production parameterization (τ=0.85, 12 planes × 8 tables) must
    find every EXACT-duplicate pair (identical vectors collide in every
    table — recall 1.0 by construction) and, via the exact verify stage,
    emit nothing below the threshold. Random 64-dim vectors have pairwise
    cosine ~N(0, 1/8)-ish, so τ=0.85 admits only the planted dups."""
    import numpy as np

    from log_anomaly_detector_spark.operators.similarity import (
        q_embedding_near_dup_production,
    )

    rng_rows = []
    for i in range(200):
        if i in (51, 103):  # planted exact duplicates of the previous id
            rng_rows.append((i, rng_rows[i - 1][1], 0))
        else:
            vec = [float(np.sin(0.7 * i * (j + 3)) % 1.0) - 0.5 for j in range(64)]
            rng_rows.append((i, vec, 0))
    spark.createDataFrame(
        rng_rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = q_embedding_near_dup_production(spark, str(tmp_path)).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert {(50, 51), (102, 103)} <= got, got
    for r in out:
        assert r["cosine"] >= 0.85


def test_near_dup_regimes_do_not_thrash_persist_slots(spark):
    """Both near-dup regimes run the grouped verify, which reads every table
    exactly once and must register NO persist at all — a cache would hold
    corpus-sized vector payloads hostage for a single-pass plan."""
    from log_anomaly_detector_spark.operators.caching import _LIVE, release_all
    from log_anomaly_detector_spark.operators.similarity import (
        q_embedding_near_dup,
        q_embedding_near_dup_production,
    )

    release_all()
    q_embedding_near_dup(spark, SF).collect()
    q_embedding_near_dup_production(spark, SF).collect()
    live = set(_LIVE)
    assert not any(k.startswith("embnd_") for k in live), live
    release_all()


def _near_dup_reference(df, tau, n_tables, planes):
    """Brute-force reference for embedding_near_dup_pairs: every i<j pair
    that shares a bucket in some table (the LSH candidate rule; the
    signature kernel is pinned to the Catalyst `_bucket_array` by
    test_bucket_kernel_matches_catalyst_reference), scored with the
    Catalyst `_cos` fold, rounded to 6dp and filtered like the operator.
    ANSI Spark raises on x/0, so a zero-norm pair is scored NaN
    explicitly, as DuckDB does."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.similarity import (
        _bucket_udf,
        _cos,
        _dot,
        _vq_col,
    )

    dim = len(df.first()["v"])
    sig = _bucket_udf(dim, n_tables, planes)(_vq_col("v"))
    sigs = df.select("vec_id", "v", sig.alias("sig"))
    a = sigs.toDF("id_a", "va", "sa")
    b = sigs.toDF("id_b", "vb", "sb")
    va, vb = F.col("va"), F.col("vb")
    denom = F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb))
    cos = F.round(F.when(denom != 0, _cos(va, vb)).otherwise(F.lit(float("nan"))), 6)
    rows = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.array_contains(F.zip_with("sa", "sb", lambda x, y: x == y), True))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= tau)
        .collect()
    )
    return _sorted_pairs(rows)


def _sorted_pairs(rows):
    import numpy as np

    # NaN != NaN would break tuple equality; map it to a sentinel
    return sorted(
        (r["id_a"], r["id_b"], "NaN" if np.isnan(r["cosine"]) else r["cosine"])
        for r in rows
    )


def test_grouped_verify_matches_brute_force_bitwise(spark):
    """The grouped bucket verify must emit EXACTLY the brute-force
    reference's rows on a corpus with planted duplicate clusters, with
    byte-equal cosines (the sequential-fold kernel evaluates the identical
    IEEE ops as the Catalyst fold, so this is exact tuple equality, never a
    tolerance), across three regimes and the zero-norm NaN edge."""
    import numpy as np

    from log_anomaly_detector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = {i: base[i] for i in range(60)}
    for k in range(8):  # planted clusters: two near-copies of each of 0..7
        for rep in (1, 2):
            w = base[k] + rng.normal(scale=0.01, size=64)
            vecs[100 * rep + k] = w / np.linalg.norm(w)
    # zero-norm vectors (ADVICE r6): cosine is 0/0 = NaN; Spark and DuckDB
    # order NaN above every double so the `cosine >= τ` filter KEEPS such
    # pairs — the kernel must agree with the reference on that, byte-for-byte
    vecs[900] = np.zeros(64)
    vecs[901] = np.zeros(64)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, v array<double>",
    ).repartition(5)

    #          wide signature   low-τ, many pairs   many tables
    for nt, pl, tau in ((8, 12, 0.85), (4, 8, 0.15), (16, 9, 0.5)):
        got = _sorted_pairs(
            embedding_near_dup_pairs(df, tau, nt, pl, dim=64, n_rows=len(vecs)).collect()
        )
        ref = _near_dup_reference(df, tau, nt, pl)
        assert got == ref, (nt, pl, tau, got[:5], ref[:5])
        # the zero-norm pair collides in every table (all-zero buckets) and
        # must survive as a NaN row
        assert (900, 901, "NaN") in got, (nt, pl, tau)
        if tau <= 0.15:  # the low-τ config must actually emit pairs
            assert len(got) > 20, len(got)


def test_near_dup_skewed_bucket_is_split_bounded(spark, monkeypatch):
    """A duplicate-heavy corpus puts one cluster into ONE bucket of every
    table. With the group budget forced below that bucket's size, the
    bucket must be verified as bounded block pairs: the output still equals
    the brute-force reference (every identical pair exactly once), and no
    kernel group holds more than two blocks' worth of rows. A second,
    smaller cluster (negated vector: a different bucket in every table)
    fills a bucket past one block but within the budget, which must stay
    ONE group in the same plan."""
    import numpy as np
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators import similarity
    from log_anomaly_detector_spark.operators.similarity import (
        _bucket_groups,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    same = rng.normal(size=64)
    rows = [(i, [float(x) for x in same]) for i in range(40)]
    rows += [(200 + i, [float(-x) for x in same]) for i in range(8)]
    rows += [(100 + i, [float(x) for x in rng.normal(size=64)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>").repartition(4)

    cap = 12  # rows per kernel group; blocks are half of it
    monkeypatch.setattr(similarity, "_GROUPED_MAX_BUCKET_BYTES", cap * 64 * 8)
    groups = _bucket_groups(df, 24, 2, 64, n_rows=len(rows)).select(
        F.size("ids").alias("g"), "nleft"
    ).collect()
    assert max(r["g"] for r in groups) <= 2 * (cap // 2)
    assert any(r["nleft"] > 0 for r in groups)  # the bucket WAS split

    got = _sorted_pairs(
        embedding_near_dup_pairs(df, 0.45, 24, 2, dim=64, n_rows=len(rows)).collect()
    )
    assert got == _near_dup_reference(df, 0.45, 24, 2)
    ident = {(a, b) for a, b, _ in got if b < 40 or a >= 200}
    assert ident == {
        (a, b) for lo, n in ((0, 40), (200, 8)) for a in range(lo, lo + n)
        for b in range(a + 1, lo + n)
    }


def test_vq_quantization_out_of_range_raises_named_error(spark):
    """A component past the int32 quantization range (|x| ≳ 2147) must
    fail with the named quantization error — naming the column and the
    limit — not an opaque CAST_OVERFLOW from inside the signature kernel."""
    from log_anomaly_detector_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rows = [(i, [0.1 * (i + 1), -0.2, 0.3, 0.4]) for i in range(6)]
    rows.append((6, [0.1, 2500.0, 0.3, 0.4]))  # the planted bad component
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    with pytest.raises(Exception, match=r"embedding column 'v'.*2147\.483648"):
        embedding_near_dup_pairs(df, dim=4, n_rows=len(rows)).collect()


def test_grouped_verify_kernel_chunking_is_invariant(monkeypatch):
    """Pure-Python kernel unit test (no Spark): splitting the i<j pair
    enumeration into tiny blocks must not change a single emitted row —
    the block loop only bounds scratch memory. A block-pair group (nleft >
    0) must emit exactly the left×right subset of the whole-bucket rows.
    Also pins first-hit exactly-once across tables: with every vector
    sharing one bucket in BOTH tables, table 0 owns every pair and table 1
    none."""
    import numpy as np
    import pandas as pd

    from log_anomaly_detector_spark.operators import similarity
    from log_anomaly_detector_spark.operators.similarity import (
        _grouped_verify_udf,
    )

    rng = np.random.default_rng(3)
    g, dim, n_tables = 40, 16, 2
    C = rng.normal(size=(g, dim))
    ids = np.arange(1000, 1000 + g, dtype=np.int64)
    sig = np.zeros((g, n_tables), dtype=np.int64)  # all-collide, both tables

    def run(tbl, block, nleft=0):
        pdf = pd.DataFrame(
            {
                "tbl": [tbl],
                "ids": [ids],
                "vflat": [C.reshape(-1)],
                "sigflat": [sig.reshape(-1)],
                "nleft": [nleft],
            }
        )
        monkeypatch.setattr(similarity, "_PAIR_BLOCK", block)
        k = _grouped_verify_udf(dim, n_tables, -2.0)
        out = list(k(iter([pdf])))
        return (
            pd.concat(out).sort_values(["id_a", "id_b"]).reset_index(drop=True)
            if out
            else pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        )

    full = run(0, 1 << 18)
    tiny = run(0, 3)
    assert len(full) == g * (g - 1) // 2
    pd.testing.assert_frame_equal(full, tiny)  # byte-equal, incl. cosines
    assert len(run(1, 1 << 18)) == 0  # table 1 owns no first hits
    cross = full[(full.id_a < 1015) & (full.id_b >= 1015)].reset_index(drop=True)
    pd.testing.assert_frame_equal(run(0, 3, nleft=15), cross)


def test_grouped_verify_prefilter_fallback_and_boundary():
    """Pure-Python kernel unit tests for the quantized-matmul PREFILTER:

    (a) components outside the int64-exactness envelope (|floor(x·1e6)| >
    sqrt(2^53/dim)·0.9) must disable the prefilter for that bucket and fall
    back to scoring every i<j pair — output must equal a brute-force
    reimplementation of the kernel's exact ops (seq-fold norms/dots);

    (b) pairs whose exact cosine sits EXACTLY at the emit boundary
    (identical vectors, threshold 1.0 ⇒ cosine 1.0 ≥ slack) must survive
    the prefilter — the rigorous error bound may only ADD candidates,
    never drop a true one."""
    import math

    import numpy as np
    import pandas as pd

    from log_anomaly_detector_spark.operators.similarity import (
        _grouped_verify_udf,
        _seq_fold,
    )

    def run_kernel(C, threshold, dim, n_tables=1):
        g = len(C)
        pdf = pd.DataFrame(
            {
                "tbl": [0],
                "ids": [np.arange(g, dtype=np.int64)],
                "vflat": [C.reshape(-1)],
                "sigflat": [np.zeros(g * n_tables, dtype=np.int64)],
                "nleft": [0],
            }
        )
        out = list(_grouped_verify_udf(dim, n_tables, threshold)(iter([pdf])))
        return (
            pd.concat(out).sort_values(["id_a", "id_b"]).reset_index(drop=True)
            if out
            else pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        )

    def brute(C, threshold, dim):
        g = len(C)
        norms = np.sqrt(_seq_fold(C * C))
        rows = []
        for i in range(g - 1):
            for j in range(i + 1, g):
                cos = _seq_fold((C[i] * C[j])[None, :])[0] / (norms[i] * norms[j])
                if cos >= threshold - 1e-6:
                    rows.append((i, j, cos))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "cosine"]).astype(
            {"id_a": np.int64, "id_b": np.int64}
        )

    # (a) big components — prefilter must be OFF for this bucket; output
    # still exact. Scale chosen so |vq| clearly exceeds the envelope.
    rng = np.random.default_rng(7)
    dim = 16
    C = rng.normal(scale=100.0, size=(30, dim))
    assert np.abs(np.floor(C * 1e6)).max() > math.sqrt(2.0**53 / dim) * 0.9
    got = run_kernel(C, 0.3, dim)
    pd.testing.assert_frame_equal(got, brute(C, 0.3, dim))
    assert len(got) > 0  # the fixture must actually exercise emission

    # (b) threshold-1.0 boundary: 4 identical unit-ish vectors among noise —
    # all 6 identical pairs (cosine exactly 1.0) must be emitted.
    base = rng.uniform(-1.0, 1.0, size=dim)
    noise = rng.uniform(-1.0, 1.0, size=(20, dim))
    C2 = np.vstack([np.tile(base, (4, 1)), noise])
    got2 = run_kernel(C2, 1.0, dim)
    ident = got2[(got2.id_a < 4) & (got2.id_b < 4)]
    assert len(ident) == 6 and (ident.cosine == 1.0).all()
    pd.testing.assert_frame_equal(got2, brute(C2, 1.0, dim))


def test_similarity_oracle_parity_with_null_vectors(spark, tmp_path):
    """Both engines must pin the SAME null-vector semantics: the oracle SQLs
    carry `WHERE embedding IS NOT NULL` mirroring the Spark-side filter, so a
    fixture WITH nulls still hash-matches (r4 ADVICE: parity previously held
    only because the shipped fixtures had zero NULL embeddings)."""
    import duckdb
    import numpy as np

    from log_anomaly_detector_spark.operators.similarity import ORACLES, QUERIES
    from log_anomaly_detector_spark.oracle_check import compare_one_counted

    rows = []
    for i in range(60):
        if i in (3, 7, 40):
            rows.append((i, None, 0))
        else:
            vec = [0.1 + float(np.cos(i * (j + 1)) % 0.9) for j in range(8)]
            rows.append((i, vec, 0))
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY — DuckDB's view needs the part glob
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    for name in ("cosine_topk", "embedding_near_dup", "ann_lsh", "ann_ivf"):
        problems, _ = compare_one_counted(
            spark, con, name, QUERIES[name], ORACLES[name], str(tmp_path)
        )
        assert problems == [], (name, problems)
