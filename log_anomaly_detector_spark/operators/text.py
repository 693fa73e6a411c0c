"""Text-analysis + deduplication pack over the `documents` table — the
operations a large-scale training-data pipeline needs (token counting,
quality scoring, language-ID heuristic, fingerprinting, exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash).

Everything scales as explode → hash-agg → (self-)join on tiny keys: the
shuffles are on words/shingles/band-hashes, never on full documents, and the
candidate-verify pattern keeps the quadratic step bounded to LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.functions.text_funcs import (
    EN_STOPWORDS,
    fingerprint,
    normalized,
    rep_fold,
    stopword_count,
    word_ngrams,
    words,
)
from log_anomaly_detector_spark.operators.relational import (
    _hash_bucket,
    md5_int,
    t,
    widen,
)

_STOP_SQL = ", ".join(f"'{s}'" for s in EN_STOPWORDS)


# --- token counting: whitespace + a BPE-ish regex tokenizer ------------------
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0)).alias(
            "n_re_tokens"
        ),
        F.col("n_chars"),
    )


_TOKCOUNT_SQL = r"""
SELECT doc_id,
       cast(len(string_split_regex(trim(text), ' +')) AS int) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS int) AS n_re_tokens,
       n_chars
FROM documents
"""


# --- quality scoring: length / stopword / word-length features --------------
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    n_words = F.size(ws)
    # quality is computed from the UNROUNDED ratio: rounding first can land
    # the combined score on an exact decimal half, where Spark (half-up) and
    # DuckDB (half-even) disagree at the last digit.
    raw_stop = stopword_count(ws) / n_words
    stop_ratio = F.round(raw_stop, 6)
    avg_wlen = F.round(
        (F.col("n_chars") - (n_words - 1)) / n_words, 6
    )  # single-space-separated text
    score = F.round(raw_stop * 0.5 + F.least(n_words / 200.0, F.lit(1.0)) * 0.5, 6)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        avg_wlen.alias("avg_word_len"),
        score.alias("quality"),
        F.when(score >= 0.3, F.lit("keep")).otherwise(F.lit("drop")).alias("bucket"),
    )


_QUALITY_SQL = f"""
SELECT doc_id,
       cast(len(string_split_regex(trim(text), ' +')) AS int) AS n_words,
       round(len(list_filter(string_split_regex(trim(text), ' +'),
                             w -> w IN ({_STOP_SQL})))
             / len(string_split_regex(trim(text), ' +')), 6) AS stop_ratio,
       round((n_chars - (len(string_split_regex(trim(text), ' +')) - 1))
             / len(string_split_regex(trim(text), ' +')), 6) AS avg_word_len,
       round(len(list_filter(string_split_regex(trim(text), ' +'),
                             w -> w IN ({_STOP_SQL})))
             / len(string_split_regex(trim(text), ' +')) * 0.5
             + least(len(string_split_regex(trim(text), ' +')) / 200.0, 1.0) * 0.5,
             6) AS quality,
       CASE WHEN round(len(list_filter(string_split_regex(trim(text), ' +'),
                                       w -> w IN ({_STOP_SQL})))
                       / len(string_split_regex(trim(text), ' +')) * 0.5
                       + least(len(string_split_regex(trim(text), ' +')) / 200.0, 1.0) * 0.5,
                       6) >= 0.3
            THEN 'keep' ELSE 'drop' END AS bucket
FROM documents
"""


# --- language-ID heuristic (n-gram/stopword hits) ----------------------------
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    hits = stopword_count(ws)
    return docs.select(
        "doc_id",
        "lang",
        hits.alias("en_stopword_hits"),
        F.when(hits >= 3, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


_LANGID_SQL = f"""
SELECT doc_id, lang,
       cast(len(list_filter(string_split_regex(trim(text), ' +'),
                            w -> w IN ({_STOP_SQL}))) AS int) AS en_stopword_hits,
       CASE WHEN len(list_filter(string_split_regex(trim(text), ' +'),
                                 w -> w IN ({_STOP_SQL}))) >= 3
            THEN 'en' ELSE 'other' END AS lang_pred
FROM documents
"""


# --- document fingerprint + exact dedup (hash-groupBy) ------------------------
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


_FP_SQL = """
SELECT doc_id, md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS fp
FROM documents
"""


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup on a 5-word prefix fingerprint: hash → groupBy →
    having count > 1 (the scalable exact-dedup shape: one shuffle on the
    hash, never on document text). NOT widened: one md5 of a 5-word prefix
    per doc is too light to pay a repartition for (A/B: widening cost
    +0.3 s at sf0.1 vs −0.3 s at sf1.0 — a wash that loses at the
    round-over-round comparison scale)."""
    docs = t(spark, sf_dir, "documents")
    pfx = F.md5(F.array_join(F.slice(words(F.col("text")), 1, 5), " "))
    return (
        docs.select("doc_id", pfx.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


_EXACTDUP_SQL = """
SELECT prefix_fp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM (
  SELECT doc_id,
         md5(array_to_string(list_slice(string_split_regex(trim(text), ' +'), 1, 5), ' ')) AS prefix_fp
  FROM documents
)
GROUP BY prefix_fp HAVING count(*) > 1
"""


# --- intra-document repetition filter (Gopher-style quality signal) ----------
# pinned keep/drop thresholds (ppm)
REP_DUP_PPM_MAX = 300_000
REP_TOP_PPM_MAX = 200_000


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics in the Gopher family (Rae et al. 2021,
    "Scaling Language Models", Table A1 repetition filters): the EXCESS-
    duplicate share of 3-gram positions — positions beyond the first
    occurrence of their gram, (n − n_distinct)/n, which is 0 for an
    all-unique doc and →1 as one gram dominates; NOT Gopher's
    all-positions-of-duplicated-grams fraction, which double-counts the
    first occurrences — and the share taken by the single most frequent
    3-gram, plus a keep/drop flag at the pinned thresholds (excess-dup ≤
    0.30, top ≤ 0.20). The reference's quality gates are
    row-local ratio filters (HDFS/data_process.py:60-75 drops rows by
    content predicates); this is the same shape lifted to the metric the
    LLM-data literature actually gates on.

    Scale shape: SHUFFLE-FREE — the metrics are per-document multiset
    statistics of the doc's own 3-grams, so one sorted sequential fold in
    the projection (`functions.text_funcs.rep_fold`: distinct = number of
    runs, max count = max run length) computes them row-locally; no
    explode, no aggregation, no join, no Python. (The explode → two-hash-agg
    formulation this replaces shuffled ~n_grams× the corpus row count —
    value equality is pinned by the multiset property test, wall A/B
    recorded in BENCH/BASELINE.md.) Ratios are emitted as exact INTEGER
    parts-per-million ((a*1e6) DIV b on longs) so the oracle comparison
    never meets engine float rounding (CLAUDE.md:
    round-half ties diverge between Spark and DuckDB); the keep flag is
    integer-exact cross-multiplication for the same reason. Docs with <3
    words have no 3-grams and are excluded by definition."""
    # the fold is row-local (shuffle-free by design) but the single-split
    # scan ran it on one core — the widening repartition is the one exchange
    # this plan has, and it carries raw (doc_id, text) only
    docs = widen(t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    base = docs.select(
        "doc_id", words(F.col("text")).alias("_ws")
    ).filter(F.size("_ws") >= 3)
    # project the fold ONCE, extract fields in the NEXT projection
    # (CollapseProject never re-inlines a multiply-referenced alias, so the
    # fold runs once per row, not once per metric)
    folded = base.select(
        "doc_id",
        (F.size("_ws") - 2).cast("long").alias("n_3grams"),
        rep_fold(word_ngrams(F.col("_ws"), 3)).alias("_rep"),
    )
    return folded.select("doc_id", "n_3grams", *_rep_metric_cols())


def _rep_metric_cols() -> list[F.Column]:
    """q_repetition_filter's metric and keep projections over (n_3grams,
    _rep), split out so the boundary test can drive them with synthetic fold
    states. The keep flag is EXACT integer cross-multiplication, never a
    test on the floored ppm columns: at n_3grams > ~100k a doc whose dup
    share lies strictly between 300000/1e6 and its floor would pass
    `ppm <= MAX` while the exact flag drops it."""
    return [
        F.col("_rep.n_distinct").alias("n_distinct_3grams"),
        F.expr(
            "(n_3grams - _rep.n_distinct) * 1000000 DIV n_3grams"
        ).alias("dup_3gram_ppm"),
        F.expr("_rep.max_run * 1000000 DIV n_3grams").alias("top_3gram_ppm"),
        F.expr(
            f"(n_3grams - _rep.n_distinct) * 1000000"
            f" <= {REP_DUP_PPM_MAX} * n_3grams"
            f" AND _rep.max_run * 1000000 <= {REP_TOP_PPM_MAX} * n_3grams"
        ).alias("keep"),
    ]


_REPETITION_SQL = """
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS w
  FROM documents WHERE text IS NOT NULL
), g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
         i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))) AS gram
  FROM ws WHERE len(w) >= 3
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
), d AS (
  SELECT doc_id, cast(sum(cnt) AS bigint) AS n_3grams,
         cast(count(*) AS bigint) AS n_distinct_3grams,
         cast(max(cnt) AS bigint) AS max_cnt
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_3grams, n_distinct_3grams,
       (n_3grams - n_distinct_3grams) * 1000000 // n_3grams AS dup_3gram_ppm,
       max_cnt * 1000000 // n_3grams AS top_3gram_ppm,
       ((n_3grams - n_distinct_3grams) * 1000000 <= 300000 * n_3grams
        AND max_cnt * 1000000 <= 200000 * n_3grams) AS keep
FROM d
"""


# --- train/eval decontamination (5-gram overlap flagging) ---------------------
DECONTAM_SEED = 97
DECONTAM_EVAL_PCT = 2


def build_eval_grams(eval_docs: DataFrame) -> DataFrame:
    """Distinct 5-gram set (gram) of an eval table (doc_id, text) — the one
    construction of the eval side of decontamination: q_decontaminate feeds
    it the md5-coin eval slice, tools/curate_docs.py an external benchmark
    table."""
    # word_ngrams requires the token array PROJECTED to an alias — an
    # inlined words(text) re-evaluates the split per element_at reference
    # inside the interpreted transform lambda (measured 15.1s vs 0.51s on
    # sf0.1); flag_contamination goes through the same projected form
    return (
        eval_docs.filter(F.col("text").isNotNull())
        .select(words(F.col("text")).alias("_ws"))
        .select(F.explode(word_ngrams(F.col("_ws"), 5)).alias("gram"))
        .distinct()
    )


def flag_contamination(
    train_docs: DataFrame, eval_grams: DataFrame
) -> DataFrame:
    """(doc_id, n_5grams, eval_hits, contaminated) for every train doc with
    non-NULL text, against a distinct (gram) set from build_eval_grams — the
    one positional hit count, shared by q_decontaminate and
    tools/curate_docs.py. explode_outer keeps a NULL-gram row for zero-gram
    docs, so every doc gets a row with counts 0. The eval side is broadcast
    (benchmark-sized by contract — corpus-derived eval slices that scale
    with the corpus belong in a shuffle join instead)."""
    grams = (
        train_docs.filter(F.col("text").isNotNull())
        .select("doc_id", words(F.col("text")).alias("_ws"))
        .select(
            "doc_id", F.explode_outer(word_ngrams(F.col("_ws"), 5)).alias("gram")
        )
    )
    return (
        grams.join(
            F.broadcast(eval_grams.withColumn("_hit", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("gram").alias("n_5grams"),
            F.count("_hit").alias("eval_hits"),
        )
        .withColumn("contaminated", F.col("eval_hits") > 0)
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag every training document sharing a
    5-gram with the held-out eval slice (the GPT-3/Llama-style n-gram-overlap
    contamination check). The eval slice is carved deterministically with the
    same md5 key-hash coin as seeded_sample (reference pins RNG seeds for its
    splits, HDFS/sample.py:93-96) so the whole check is oracle-verifiable;
    in a real pipeline the eval side is a separate benchmark table of the
    same (tiny) shape.

    Scale shape: the eval 5-gram set is benchmark-sized BY CONSTRUCTION, so
    it broadcasts; the training side is one scan → explode_outer → broadcast
    left join → hash agg on doc_id. No shuffle ever carries document text,
    and short/edge docs (<5 words, zero grams) stay in the output with
    n_5grams=0 via explode_outer. Duplicate grams in one doc each count one
    hit position (the eval side is distinct, so the join never fans out)."""
    docs = widen(
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull()),
        "doc_id",
    )
    is_eval = _hash_bucket(F.col("doc_id"), DECONTAM_SEED) < DECONTAM_EVAL_PCT
    return flag_contamination(
        docs.filter(~is_eval), build_eval_grams(docs.filter(is_eval))
    )


_DECONTAM_SQL = f"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS w,
         ('0x' || substr(md5(doc_id || ':{DECONTAM_SEED}'), 1, 6))::int % 100
           < {DECONTAM_EVAL_PCT} AS is_eval
  FROM documents WHERE text IS NOT NULL
), b AS (
  SELECT doc_id, is_eval,
         CASE WHEN len(w) >= 5 THEN list_transform(range(1, len(w) - 3),
              i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))
         ELSE [] END AS grams
  FROM ws
), eg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM b WHERE is_eval
), tg AS (
  SELECT doc_id, unnest(CASE WHEN len(grams) = 0
                             THEN [CAST(NULL AS VARCHAR)] ELSE grams END) AS gram
  FROM b WHERE NOT is_eval
)
SELECT tg.doc_id,
       cast(count(tg.gram) AS bigint) AS n_5grams,
       cast(count(eg.gram) AS bigint) AS eval_hits,
       count(eg.gram) > 0 AS contaminated
FROM tg LEFT JOIN eg ON tg.gram = eg.gram
GROUP BY tg.doc_id
"""


# --- n-gram (3-word shingle) Jaccard near-dup: PREFIX-FILTERED set-
# similarity join (the PPJoin family's prefix principle): order every doc's
# shingle set by ONE global canonical order, index only the first
# ⌊(1−J)·|set|⌋+1 shingles — any pair with Jaccard ≥ J MUST collide inside
# those prefixes, for ANY fixed total order — then verify candidates exactly
# on their full shingle sets (array_intersect, a per-row expression). This
# prunes the candidate join quadratically vs joining on every shingle.
#
# The canonical order is ASCENDING CORPUS DOCUMENT FREQUENCY (ties by
# shingle text) — the textbook PPJoin choice, and it is what defuses
# hot-shingle skew EXACTLY: a boilerplate 3-gram shared by millions of docs
# sorts to the BACK of every set, so it enters a prefix only for documents
# with nothing rarer to offer, and the candidate join groups stay rare-keyed.
# Round 2 used a random (hash) order plus a df>cap drop, which silently lost
# any true pair whose shared prefix shingles were all hot; the frequency
# order removes the cap and the recall hole together (planted regression:
# tests/test_operators.py::test_jaccard_hot_shingle_pair_found). Computing
# df costs one extra shuffle (shingle-keyed count + join) — the price of
# exactness, and at 100 TB the df table is vocabulary-sized while the join
# it feeds shrinks quadratically.
#
# Round 7 adds the K=2 PREFIX SCHEME (Xiao et al.'s k-prefix generalization)
# because profiling at sf1.0 (50k docs sharing a 28k-shingle vocabulary)
# showed the 1-prefix candidate set is ~30M pairs of which ~95% share exactly
# ONE prefix shingle — and the exact verify (two array fetch joins +
# array_intersect per pair) was 132 of the query's 173 seconds. Lemma: if
# raw jaccard(A,B) ≥ τ' then |A∩B| =: o ≥ ceil(τ'·|A|), and the k smallest
# common shingles (canonical order) all sit within the first |A|-o+k tokens
# of A (everything after the k-th common token includes the other o-k common
# tokens) — symmetrically for B. So with per-doc prefix length
# floor((1-τ)·sz)+3 (= sz-ceil(τ·sz)+3 ≥ sz-o+2 even when ceil(τ'·sz) =
# ceil(τ·sz)-1 on exact-integer boundaries), every qualifying pair shares
# ≥ 2 prefix shingles — EXCEPT pairs where a side has a single-shingle set
# (o=1), kept via the minsz≤2 escape. Candidates = grouped emission count
# ≥ 2 (or minsz ≤ 2), after a size-ratio pre-filter (jac ≤ min/max, so
# min ≥ τ'·max for any emitting pair). All bounds use τ' = τ−5e−7 (any raw
# value that 6dp-half-up-rounds to τ must survive), so the candidate set
# still superset-covers the exact result and the verify stays byte-identical
# to the 1-prefix formulation (sf1.0: candidates 29.6M → ~2M, verify 132s →
# seconds; oracle untouched). -------------------------------------------------
JACCARD_THRESHOLD = 0.7
_J_SLACK = JACCARD_THRESHOLD - 5e-7  # 6dp round-half-up admission boundary


def shingles(text_col) -> "F.Column":
    """Distinct 3-word shingles (whole doc if < 3 words)."""
    w = words(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 3), " "),
        )
    )


def q_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_anomaly_detector_spark.operators.caching import tracked_persist

    docs = widen(t(spark, sf_dir, "documents"), "doc_id")
    # ^ testdata parquet arrives as ONE split; the cheap doc_id repartition
    # parallelizes the shingle explosion (raw text rows are small). Persist
    # (tracked — one live handle per session): the set table is read by the
    # prefix side and by the verify side.
    sets_ = tracked_persist(
        "jaccard_sets",
        docs.select("doc_id", shingles(F.col("text")).alias("shs")),
    )
    # the exploded token table is read TWICE (the df count below and the
    # prefix join back onto it) — persist it too, or the shingle explosion
    # runs once per consumer
    toks = tracked_persist(
        "jaccard_toks",
        sets_.select(
            "doc_id", F.size("shs").alias("sz"), F.explode("shs").alias("sh")
        ),
    )
    # corpus document frequency per shingle — one grouped count; the join
    # back is shingle-keyed (AQE broadcasts it while it is small)
    df_tbl = toks.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "sh")
    # k=2 prefix: TWO extra tokens past the 1-prefix length (header note: +3
    # total covers the ceil boundary of the τ' slack) — qualifying pairs are
    # then guaranteed ≥ 2 common prefix shingles, so the grouped count below
    # prunes the share-exactly-one majority BEFORE any array is fetched
    pfx = (
        toks.join(df_tbl, "sh")
        .withColumn("_rn", F.row_number().over(wdoc))
        .filter(
            F.col("_rn")
            <= (F.floor(F.col("sz") * (1 - JACCARD_THRESHOLD)) + 3).cast("int")
        )
        .select("doc_id", "sz", "sh")
    )
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # size-ratio filter (jac ≤ min_sz/max_sz): sound under the τ' slack,
        # applied per emission before the pair shuffle
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= _J_SLACK * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.least(F.col("a.sz"), F.col("b.sz")).alias("_minsz"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_npfx"), F.min("_minsz").alias("_minsz"))
        # single-shingle sets (o=1) cannot satisfy the ≥2-common-prefix lemma
        .filter((F.col("_npfx") >= 2) | (F.col("_minsz") <= 2))
        .select("doc_a", "doc_b")
    )
    # exact verify on the full shingle sets, intersected WITHIN the row
    sa = sets_.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    sb = sets_.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = F.round(inter / (F.size("shs_a") + F.size("shs_b") - inter), 6)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# one row per distinct word 3-gram of a doc — the oracles' `shingles`
_SHINGLE_EXPR = """unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(trim(text), ' +')) - 2, 1) + 1),
           i -> array_to_string(list_slice(string_split_regex(trim(text), ' +'), i, i + 2), ' ')
         )))"""

_JACCARD_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SHINGLE_EXPR} AS sh
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM toks a JOIN toks b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.7
"""


# --- MinHash + LSH near-dup (shingle → minhash → band → bucket-join) ----------
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) — min over md5-derived h(shingle:k) per k.
    One explode + one hash-agg; zero Python. md5 construction (vs xxhash64)
    so the whole sketch evaluates identically in DuckDB → hard oracle."""
    toks = docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("w"))
    mins = [
        F.min(md5_int(F.concat(F.col("w"), F.lit(f":{k}")), 15)).alias(f"h{k}")
        for k in range(N_HASHES)
    ]
    sig = toks.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{k}") for k in range(N_HASHES)]).alias("sig")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs verified by signature similarity — md5-seeded so
    the ENTIRE sketch (signatures, band buckets, estimate) has a bit-exact
    DuckDB oracle. Scale shape: band-hash shuffle + per-bucket pairing only,
    never all-pairs."""
    from log_anomaly_detector_spark.operators.caching import tracked_persist

    docs = widen(t(spark, sf_dir, "documents"), "doc_id")
    # ^ single-split testdata: parallelize the shingle explosion. The
    # signature table (doc_id + 16 longs — vocabulary-free, dim-per-doc) is
    # read THREE times now (band explosion + the two candidate fetch joins),
    # and rebuilding it means re-running the 16-way md5 sketch over every
    # shingle — persist the narrow result once per session.
    sig = tracked_persist("minhash_sig", minhash_signatures(docs))
    rows_per_band = N_HASHES // N_BANDS
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ":",
                                *[
                                    F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    # SKINNY candidate dedup (round 7): the former plan carried BOTH
    # 16-element signature arrays through the cross-band dropDuplicates,
    # which Spark executes as Sort + SortAggregate (first() over array
    # columns is not hash-aggregable) — pair payloads sorted to dedup pair
    # KEYS. Dedup the bare (doc_a, doc_b) pairs with a hash aggregate, then
    # re-attach signatures via keyed joins (AQE broadcasts the dim-sized sig
    # table at bench scale; shuffles, never OOMs, at corpus scale) — the
    # guide-§8 rule: every shuffle but the last moves keys, not payloads.
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(N_HASHES)),
        6,
    )
    return cand.select("doc_a", "doc_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= 0.5
    )


_RPB = N_HASHES // N_BANDS
_MINHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SHINGLE_EXPR} AS w FROM documents
), sig AS (
  SELECT doc_id,
         {", ".join(f"min(('0x' || substr(md5(w || ':{k}'), 1, 15))::bigint) AS h{k}" for k in range(N_HASHES))}
  FROM toks GROUP BY doc_id
), bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, md5(concat_ws(':', "
      + ", ".join(f"h{b * _RPB + r}" for r in range(_RPB))
      + ")) AS bh FROM sig"
      for b in range(N_BANDS)
  )}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(({" + ".join(f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_HASHES))}) / {float(N_HASHES)}, 6) AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE ({" + ".join(f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_HASHES))}) / {float(N_HASHES)} >= 0.5
"""


# --- SimHash (16-bit) bucketing ------------------------------------------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-bit SimHash per doc: per-word hash bit votes summed
    JVM-side (16 conditional aggregates), assembled into an int. md5-derived
    bits → bit-exact DuckDB oracle. The md5-per-word projection is the
    heaviest scan-side compute in the pack (sf1.0: 31 s on the single-split
    scan, seconds once widened)."""
    docs = widen(t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("w")).withColumn(
        "h", md5_int(F.col("w"), 15)
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("int").alias("simhash16"))


_SIMHASH_SQL = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::bigint AS h FROM w
), v AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(16))}
  FROM h GROUP BY doc_id
)
SELECT doc_id,
       cast({" + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))} AS int) AS simhash16
FROM v
"""


# --- masked-token / label build (bert_pytorch/dataset/log_dataset.py:50-96
# random_item: mask_ratio of tokens → <mask>=4 with label = original token,
# unmasked → label 0). Randomness is replaced by a deterministic md5-based
# per-(doc, position) coin so the op is reproducible at any parallelism AND
# oracle-checkable — the reference itself pins seeds for the same reason
# (dataset/utils.py:13-19 seed_everything). All JVM-side expressions. --------
MASK_PCT = 65  # mask_ratio=0.65, output/hdfs/bert/parameters.txt:38


def q_mask_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    ws = words(F.col("text"))
    toks = F.transform(ws, lambda w: F.length(w).cast("int"))  # word-length ids

    def coin(i):
        key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string"))
        return md5_int(key, 4) % 100 < MASK_PCT

    masked = F.transform(toks, lambda x, i: F.when(coin(i), F.lit(4)).otherwise(x))
    labels = F.transform(toks, lambda x, i: F.when(coin(i), x).otherwise(F.lit(0)))
    return docs.select(
        "doc_id",
        F.array_join(F.slice(masked, 1, 12).cast("array<string>"), " ").alias(
            "masked_prefix"
        ),
        F.array_join(F.slice(labels, 1, 12).cast("array<string>"), " ").alias(
            "labels_prefix"
        ),
        F.size(F.filter(masked, lambda x: x == 4)).alias("n_masked"),
    )


_MASK_SQL = f"""
WITH w AS (
  SELECT doc_id,
         generate_subscripts(string_split_regex(trim(text), ' +'), 1) AS i,
         unnest(string_split_regex(trim(text), ' +')) AS word
  FROM documents
), m AS (
  SELECT doc_id, i,
         CASE WHEN (('0x' || substr(md5(doc_id || ':' || (i - 1)), 1, 4))::int % 100) < {MASK_PCT}
              THEN 4 ELSE length(word) END AS masked,
         CASE WHEN (('0x' || substr(md5(doc_id || ':' || (i - 1)), 1, 4))::int % 100) < {MASK_PCT}
              THEN length(word) ELSE 0 END AS label
  FROM w
)
SELECT doc_id,
       string_agg(CASE WHEN i <= 12 THEN cast(masked AS varchar) END, ' ' ORDER BY i) AS masked_prefix,
       string_agg(CASE WHEN i <= 12 THEN cast(label AS varchar) END, ' ' ORDER BY i) AS labels_prefix,
       cast(sum(CASE WHEN masked = 4 THEN 1 ELSE 0 END) AS int) AS n_masked
FROM m GROUP BY doc_id
"""


# --- J8 driver-contract entry: Drain-style fuzzy template matching over
# documents-derived lines/templates (operators/template_match.py). Templates
# are the 5-word prefixes of the first 25 docs with position 3 wildcarded;
# every doc's 5-word prefix is a line. The candidate join + positional
# similarity + argmax is ANSI-expressible (list lambdas + QUALIFY) → hard
# DuckDB oracle; semantics additionally golden-tested in
# tests/test_template_match.py. ----------------------------------------------
def q_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_anomaly_detector_spark.operators.template_match import (
        _prefix_fixture,
        match_templates,
    )

    return match_templates(*_prefix_fixture(spark, sf_dir), st=0.6)


_TMATCH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents
), lines AS (
  SELECT doc_id AS line_id, list_slice(w, 1, 5) AS ltok FROM toks
), tmpl AS (
  SELECT 'T' || doc_id AS tid,
         list_concat(list_concat(list_slice(w, 1, 2), ['<*>']), list_slice(w, 4, 5)) AS ttok
  FROM toks WHERE doc_id < 25
), scored AS (
  SELECT l.line_id,
         t.tid,
         CASE WHEN t.ttok IS NOT NULL THEN
           round(len(list_filter(range(1, len(l.ltok) + 1),
                                 i -> t.ttok[i] != '<*>' AND l.ltok[i] = t.ttok[i]))
                 / len(l.ltok), 6)
         END AS sim,
         CASE WHEN t.ttok IS NOT NULL THEN
           len(list_filter(t.ttok, x -> x = '<*>'))
         END AS npar
  FROM lines l LEFT JOIN tmpl t
    ON len(t.ttok) = len(l.ltok)
   AND (t.ttok[1] = l.ltok[1] OR t.ttok[1] = '<*>')
)
SELECT line_id,
       CASE WHEN sim >= 0.6 THEN tid END AS matched_template_id,
       sim AS similarity
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY line_id
    ORDER BY sim DESC NULLS LAST, npar DESC NULLS LAST, tid
  ) AS rn
  FROM scored
) WHERE rn = 1
"""


QUERIES = {
    "token_count": q_token_count,
    "mask_tokens": q_mask_tokens,
    "template_match": q_template_match,
    "quality_score": q_quality_score,
    "langid": q_langid,
    "doc_fingerprint": q_fingerprint,
    "exact_dup_groups": q_exact_dup_groups,
    "jaccard_near_dup": q_jaccard_near_dup,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "repetition_filter": q_repetition_filter,
    "decontaminate": q_decontaminate,
}

ORACLES = {
    "token_count": _TOKCOUNT_SQL,
    "mask_tokens": _MASK_SQL,
    "template_match": _TMATCH_SQL,
    "quality_score": _QUALITY_SQL,
    "langid": _LANGID_SQL,
    "doc_fingerprint": _FP_SQL,
    "exact_dup_groups": _EXACTDUP_SQL,
    "jaccard_near_dup": _JACCARD_SQL,
    "minhash_lsh_pairs": _MINHASH_SQL,
    "simhash": _SIMHASH_SQL,
    "repetition_filter": _REPETITION_SQL,
    "decontaminate": _DECONTAM_SQL,
}
