"""Relational operator pack — SURVEY.md §2 inventory over the testdata
tables. Every query is a declarative DataFrame plan (Catalyst handles
pushdown/pruning/join selection); each has a DuckDB oracle in ORACLES.

Reference citations (file:line) are on each function so parity can be
checked against the operator inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.functions.text_funcs import WILDCARD


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def widen(df: DataFrame, *keys) -> DataFrame:
    """Repartition an under-split scan to session parallelism.

    Every testdata parquet is ONE row group, so its scan is one task, and a
    query whose per-row work is heavy runs that work on one core. The keyed
    repartition of the raw rows spreads it at the cost of one shuffle. What
    decides is the work per row, not the scan's size, so each query opts in
    by measurement. On a 4-core host (local[4], warm walls, sf0.1's 594 KB
    `documents`) it made the heavy queries (`spell_match`, `param_extract`,
    `simhash`, `repetition_filter`, `decontaminate`, the near-dup family)
    17–140% faster and the light ones (`token_count`, `quality_score`,
    `langid`, `vocab_build`) up to 16% slower, up to 54% on 2k docs;
    widening every scan made 46 of 54 queries slower. A well-split table
    passes through. Keys must be deterministic columns (hash partitioning is
    stable under retries; guide §2.5 warns off rand-derived keys)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)


def collect_capped(df: DataFrame, cap: int) -> list | None:
    """The rows of ``df`` if it has at most ``cap`` of them, else None.

    The one "fits on the driver" decision: ``limit(cap + 1)`` bounds what
    the driver receives, and the one collect both measures and delivers."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def one_part(col) -> "F.Column":
    """Constant-valued but NON-foldable window partition key (``pmod(col,1)``
    is 0 for every row). Used to number inputs that are KNOWN BOUNDED (post
    ``limit`` / dim-sized aggregates): the rows legitimately fit one task, and
    an explicit key keeps Catalyst from eliminating the partition spec and
    planning the warn-worthy unpartitioned Window (a foldable ``lit(0)`` gets
    constant-folded away)."""
    return F.pmod(col, F.lit(1))


def md5_int(s, digits: int) -> "F.Column":
    """The first ``digits`` hex digits of ``md5(s)`` as a non-negative
    bigint — the engine-portable key hash behind every coin and sketch here:
    DuckDB's ``('0x' || substr(md5(s), 1, digits))::bigint`` is the same
    number, so each oracle matches bit for bit."""
    return F.conv(F.substring(F.md5(s), 1, digits), 16, 10).cast("bigint")


# --------------------------------------------------------------------------
# flagship: TPC-H-Q1-shaped pricing summary (A4/A5 aggregate family; the
# reference's summary step detect_anomaly_sequence.py:162-173 lifted to the
# canonical OLAP shape). Whole-stage-codegen single scan, 8 aggregates.
# --------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE on float determinism (applies to every money aggregate here):
    # a parallel sum of doubles is order-sensitive, so oracle comparison
    # would be flaky. Sums are therefore taken over per-row `floor(x*scale)`
    # integers — per-row IEEE double ops are bitwise identical across
    # engines, and integer sums are exact and order-free.
    li = t(spark, sf_dir, "lineitem")
    qty_c = F.floor(F.col("l_quantity") * 100)
    base_c = F.floor(F.col("l_extendedprice") * 100)
    disc_c = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
    charge_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * 10000
    )
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1995-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_c"),
            F.sum(base_c).alias("sum_base_price_c"),
            F.sum(disc_c).alias("sum_disc_price_c"),
            F.sum(charge_c).alias("sum_charge_c"),
            F.round(F.sum(qty_c) / 100.0 / n, 6).alias("avg_qty"),
            F.round(F.sum(base_c) / 100.0 / n, 6).alias("avg_price"),
            F.round(F.sum(F.floor(F.col("l_discount") * 10000)) / 10000.0 / n, 6).alias(
                "avg_disc"
            ),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(floor(l_quantity * 100) AS bigint)) AS bigint) AS sum_qty_c,
       cast(sum(cast(floor(l_extendedprice * 100) AS bigint)) AS bigint) AS sum_base_price_c,
       cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000) AS bigint)) AS bigint) AS sum_disc_price_c,
       cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS bigint)) AS bigint) AS sum_charge_c,
       round(sum(cast(floor(l_quantity * 100) AS bigint)) / 100.0 / count(*), 6) AS avg_qty,
       round(sum(cast(floor(l_extendedprice * 100) AS bigint)) / 100.0 / count(*), 6) AS avg_price,
       round(sum(cast(floor(l_discount * 10000) AS bigint)) / 10000.0 / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1995-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- A1: order-preserving group-collect (HDFS/data_process.py:86-91 —
# block_id → [event…] in LineId order; Spark collect_list is unordered so the
# order is pinned via array_sort over (ts, event_id) structs) ---------------
def q_group_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project to the agg's columns BEFORE the widening shuffle (guide §2.3),
    # and key it by the GROUP key so the aggregation reuses the partitioning
    # (no second exchange); the heavy struct-collect partials then build on
    # every core instead of the scan's single split
    ev = widen(
        t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type"),
        "user_id",
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        " ",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("event_seq"), F.count(F.lit(1)).alias("n_events")
    )


_A1_SQL = """
SELECT user_id,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


# --- A2: template frequency count (Drain.py:233-237 value_counts) ----------
def q_template_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )


_A2_SQL = "SELECT event_type, count(*) AS occurrences FROM events GROUP BY event_type"


# --- A3/W2: occurrence-ranked dense enumeration (HDFS/data_process.py:33-40;
# ties broken by event_type asc — pinned secondary key, FIXTURES.md).
# The window input is the POST-AGGREGATION template dimension (the reference's
# is 48 rows) — dim-sized by construction, so a single-partition window is the
# right plan; the constant partition key documents that and keeps the plan off
# the unpartitioned-window path. For unbounded inputs see q_vocab_build's
# two-phase ranking. ---------------------------------------------------------
def q_ranked_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = q_template_frequency(spark, sf_dir)
    w = Window.partitionBy(one_part(F.col("occurrences"))).orderBy(
        F.desc("occurrences"), F.asc("event_type")
    )
    return counts.withColumn("mapping_id", F.row_number().over(w))


_A3_SQL = """
SELECT event_type, count(*) AS occurrences,
       cast(row_number() OVER (ORDER BY count(*) DESC, event_type) AS int) AS mapping_id
FROM events GROUP BY event_type
"""


# --- A4/A5/A6 + R9: conditional counts, ratio score, threshold verdict
# (compute_anomaly predict_log.py:16-29 strict >; verdict label uses >=,
# detect_anomaly_sequence_v2.py:245-246; round 6dp upsert_log_block.py:32) ---
def q_threshold_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)).alias("n_high"),
    )
    score = F.round(F.col("n_high") / F.col("n_total"), 6)
    return agg.select(
        "user_id",
        "n_total",
        "n_high",
        score.alias("anomaly_score"),
        F.when(score >= 0.2, F.lit("Anomaly")).otherwise(F.lit("Normal")).alias("label"),
    )


_A456_SQL = """
SELECT user_id, count(*) AS n_total,
       cast(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS bigint) AS n_high,
       round(cast(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS bigint) / count(*), 6) AS anomaly_score,
       CASE WHEN round(cast(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS bigint) / count(*), 6) >= 0.2
            THEN 'Anomaly' ELSE 'Normal' END AS label
FROM events GROUP BY user_id
"""


# --- A10: exact quantile (pretrain.py:210-213 radius quantile) --------------
def q_quantile_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"))
    )


_A10_SQL = """
SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median_value
FROM events GROUP BY event_type
"""


# --- A11: exact distinct (Drain.py:235 unique()); HLL++ variant is
# q_hll_distinct (tolerance-band verified) ------------------------------------
def q_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_A11_SQL = (
    "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"
)

HLL_RSD = 0.01


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=1%) — approximate distinct at scale.

    The sketch internals are engine-specific, so the raw estimate can never
    hash-match another engine; the contract output is therefore the BOUNDED
    CHECK itself: per group, the exact distinct (hard-compared against
    DuckDB's) plus ``hll_within_3rsd`` = |HLL−exact|/exact ≤ 3·rsd, which the
    oracle pins to TRUE — an out-of-band sketch flips the boolean and fails
    the value hash. The PORTABLE sketch with a bit-exact oracle is
    q_kmv_distinct.

    CONTRACT-ONLY COST: the exact ``countDistinct`` here exists purely as the
    check's yardstick. The ENGINE's R3 stats scan carries no distinct
    aggregate at all (asserted by
    tests/test_rules.py::test_stats_plan_has_no_exact_distinct): its exact
    count comes from the uniqueness violations the engine already writes
    (rules/column_stats.py ``stats_verdicts``), so a 100 TB validation run
    never pays a distinct shuffle.

    SPLIT-PASS SHAPE (round 7): combining the exact and the sketch in ONE
    agg makes Spark's distinct-rewrite allocate a partial HLL buffer per
    (event_type, user_id) GROUP — a million sketches whose only job is to be
    merged away (A/B at sf1.0: 3.9 s combined vs 1.1 s split). Two cheap
    passes instead: the exact distinct as a plain two-level dedup, the
    sketch as a normal single-pass aggregate (per-task partials, group-count
    many sketches), joined on the group key. HLL registers are max-merged,
    so sketch-over-multiset == merge-of-partials — the estimate is
    value-identical either way."""
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", HLL_RSD).alias("_approx")
    )
    # null-safe key: a NULL event_type is a legitimate group in both passes
    # (a plain equi-join would silently drop it — pinned by the null sweep)
    agg = exact.join(
        approx.withColumnRenamed("event_type", "_et"),
        F.col("event_type").eqNullSafe(F.col("_et")),
    ).drop("_et")
    # zero guard: a group whose user_id values are all NULL has exact = 0 —
    # 0/0 would be NaN (≤ always false) and fail the gate on a DATA shape,
    # not a sketch regression; exact 0 is in-band iff the sketch also says 0
    ok = F.when(
        F.col("n_users_exact") == 0, F.col("_approx") == 0
    ).otherwise(
        F.abs(F.col("_approx") - F.col("n_users_exact"))
        / F.col("n_users_exact")
        <= 3 * HLL_RSD
    )
    return agg.select("event_type", "n_users_exact", ok.alias("hll_within_3rsd"))


_HLL_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
       TRUE AS hll_within_3rsd
FROM events GROUP BY event_type
"""


# --- A11 portable sketch: K-minimum-values distinct estimator. Same
# approximate-distinct job as HLL++, but built from engine-portable pieces
# (md5-derived 60-bit hashes + per-group k-th minimum), so the ESTIMATES
# themselves are bit-identical across engines → hard DuckDB oracle. Scale
# shape: dedup + per-group keyed window (never a global one); the classic
# KMV estimate (k-1)·M/h_(k), exact count when a group has < k values. ------
KMV_K = 32


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    h = md5_int(F.col("user_id").cast("string"), 15)
    hashes = ev.select("event_type", h.alias("h")).dropDuplicates(
        ["event_type", "h"]
    )
    counts = hashes.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_hashes"))
    # rank-filter ADJACENT to the window so Catalyst's InferWindowGroupLimit
    # plans a PARTIAL WindowGroupLimit: every task keeps only its local k
    # smallest per group before the shuffle — the window never materializes a
    # whole group (plan-asserted in tests)
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    hk = topk.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk")
    )
    per_group = counts.join(hk, "event_type")
    est = F.when(
        F.col("n_hashes") < KMV_K, F.col("n_hashes").cast("double")
    ).otherwise(
        F.floor((KMV_K - 1) * F.pow(F.lit(2.0), 60) / F.col("hk")).cast("double")
    )
    return per_group.select("event_type", est.alias("kmv_distinct"))


_KMV_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(cast(user_id AS varchar)), 1, 15))::bigint AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes
), per_group AS (
  SELECT event_type, count(*) AS n_hashes,
         max(CASE WHEN rn = {KMV_K} THEN h END) AS hk
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       CASE WHEN n_hashes < {KMV_K} THEN cast(n_hashes AS double)
            ELSE floor(({KMV_K} - 1) * pow(2, 60) / hk) END AS kmv_distinct
FROM per_group
"""


# --- J1: broadcast hash join to a small dimension (HDFS/data_process.py:99-106
# label-dict lookup) ----------------------------------------------------------
def q_broadcast_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
            ).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_J1_SQL = """
SELECT p_brand,
       cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000) AS bigint)) AS bigint) AS revenue_c,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --- J2: broadcast left join + default (event_num.get(x, -1),
# HDFS/data_process.py:82-84 → join + coalesce, never a Python UDF) ----------
def q_left_join_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left")
        .select(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_J2_SQL = """
SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment, count(*) AS n_events
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


# --- J3: anti join — NOT IN (api/log_sequences.py:62) -----------------------
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    ev = t(spark, sf_dir, "events")
    return (
        cust.join(ev, cust.c_custkey == ev.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


_J3_SQL = """
SELECT c_mktsegment, count(*) AS n_inactive FROM customer
WHERE c_custkey NOT IN (SELECT user_id FROM events)
GROUP BY c_mktsegment
"""


# --- J4: semi join — IN (api/log_sequences.py:60) ---------------------------
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_J4_SQL = """
SELECT c_mktsegment, count(*) AS n_customers FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


# --- J5: inner join + count (api/log_sequences.py:65-70) ---------------------
def q_inner_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_price_c"),
        )
    )


_J5_SQL = """
SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
       cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS total_price_c
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


# --- J6/A1: keyed fetch-and-stitch — reference does two queries + a Python
# dict merge (api/log_sequences.py:95-148); ours is one join + ordered
# group-collect ---------------------------------------------------------------
def q_stitch_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    # project lineitem to the two join/agg columns at the scan (guide §2.3 —
    # the collect shuffle then carries 12 B/row). A widening repartition was
    # A/B-tested here and LOST (3.9 s vs 5.7 s at sf1.0): the partial
    # collect_list barely reduces rows, so a pre-shuffle only adds a second
    # full exchange of the same payload.
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    # plain-int collect: the sort key IS the whole element, so the
    # single-field struct wrapper the multi-key collects need (see
    # q_group_collect_ordered) is pure per-element overhead here — A/B at
    # sf1.0: 2.9 s → 2.2 s, byte-identical output
    lines = F.array_join(
        F.transform(
            F.array_sort(F.collect_list("l_linenumber")),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(lines.alias("line_numbers"), F.count(F.lit(1)).alias("n_lines"))
    )


_J6_SQL = """
SELECT o_orderkey,
       string_agg(cast(l_linenumber AS varchar), ',' ORDER BY l_linenumber) AS line_numbers,
       count(*) AS n_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey
"""


# --- P2/P4/P7: filters — label split, IN-list, min-length gate
# (HDFS/data_process.py:108; api/log_lines.py:44-49; sample.py:25-26) --------
def q_filter_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.filter(
            (F.col("n_chars") >= 200)
            & F.col("lang").isin("en", "de")
            & F.col("source").isin("src0", "src1", "src2", "src3")
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


_P_SQL = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE n_chars >= 200 AND lang IN ('en','de') AND source IN ('src0','src1','src2','src3')
"""


# --- W1/D7: fixed-size sequence chunking (sample.py:21-55 fixed_window) ------
def q_fixed_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positions from split() are dense 0..n-1, so per-chunk counts are pure
    arithmetic: chunk i of a doc with n words holds min(32, n - 32*i). The
    plan explodes one row per CHUNK (n/32 rows, never one per word) and has
    NO aggregation — a narrow map over the scan, zero shuffle at any scale.
    NULL text: size→NULL→sequence→NULL→explode drops the row, matching the
    word-explode shape the null sweep pins."""
    docs = t(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        n.alias("_n"),
        F.explode(
            F.sequence(F.lit(0), F.floor((n - F.lit(1)) / F.lit(32)).cast("int"))
        ).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id"),
        F.least(F.lit(32), F.col("_n") - F.col("chunk_id") * F.lit(32))
        .cast("bigint")
        .alias("n_words"),
    )


_W1_SQL = """
SELECT doc_id, cast((i - 1) // 32 AS int) AS chunk_id, count(*) AS n_words
FROM (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
) GROUP BY 1, 2
"""


# --- W4: pagination window — LIMIT/OFFSET over ordered rows
# (api/log_sequences.py:71-76). Scale shape: orderBy().limit(hi) plans as
# TakeOrderedAndProject — every task keeps only its local top-`hi`, the
# driver merges O(tasks × hi) rows — then row numbers are assigned over the
# already-bounded (≤ hi rows) slice. The naive global row_number() window
# funnels the WHOLE table through one task (Spark itself warns); this plan
# never materializes more than the page bound anywhere. --------------------
def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    page_lo, page_hi = 101, 200
    orders = t(spark, sf_dir, "orders")
    top = (
        orders.select("o_orderdate", "o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(page_hi)  # TakeOrderedAndProject: parallel partial top-k
    )
    # numbering the ≤ page_hi surviving rows is dim-sized work by
    # construction; the constant partition key keeps the window off the
    # unpartitioned-window path
    w = Window.partitionBy(one_part(F.col("o_orderkey"))).orderBy(
        F.desc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        top.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(page_lo, page_hi))
        .select("rn", "o_orderkey", "o_totalprice")
    )


_W4_SQL = """
SELECT rn, o_orderkey, o_totalprice FROM (
  SELECT cast(row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey) AS int) AS rn,
         o_orderkey, o_totalprice
  FROM orders
) WHERE rn BETWEEN 101 AND 200
"""


# --- top-K per group (predict_log.py:95-108 top-k candidates, lifted to the
# relational shape) -------------------------------------------------------------
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


_TOPK_SQL = """
SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         cast(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS int) AS rank
  FROM orders
) WHERE rank <= 3
"""


# --- W3: sort by length desc (predict_log.py:140-144) --------------------------
def q_sort_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(50)
        .select("doc_id", "n_chars")
    )


_W3_SQL = """
SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50
"""


# --- set ops: union + dedup (Drain.py:290-295 warm-start ∪ new, seen-set
# dedup Drain.py:270-275) --------------------------------------------------------
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en").select("doc_id", "source")
    b = docs.filter(F.col("n_chars") > 300).select("doc_id", "source")
    return a.unionByName(b).dropDuplicates(["doc_id"]).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_UNION_SQL = """
SELECT source, count(*) AS n_docs FROM (
  SELECT DISTINCT ON (doc_id) doc_id, source FROM (
    SELECT doc_id, source FROM documents WHERE lang = 'en'
    UNION SELECT doc_id, source FROM documents WHERE n_chars > 300
  ) ORDER BY doc_id
) GROUP BY source
"""


# --- scalar regex/hash family: regexp_extract (Drain.py:553-562 findall),
# regexp_replace preprocessing (Drain.py:507-510), md5-8 EventId
# (Drain.py:209,236 — bit-exact in both engines) ---------------------------------
def q_regex_hash_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int").alias("k"),
        F.regexp_replace(F.col("props"), r"\d+", WILDCARD).alias("props_template"),
        F.substring(F.md5(F.col("event_type")), 1, 8).alias("type_hash8"),
        F.upper(F.col("event_type")).alias("type_upper"),
    )


_REGEX_SQL = """
SELECT event_id,
       cast(regexp_extract(props, '"k": (\\d+)', 1) AS int) AS k,
       regexp_replace(props, '\\d+', '<*>', 'g') AS props_template,
       substr(md5(event_type), 1, 8) AS type_hash8,
       upper(event_type) AS type_upper
FROM events
"""


# --- §2.7 ParameterList extraction (get_parameter_list, Drain.py:553-562):
# recover the parameter values a matched template masked out of a line. The
# reference builds a per-template regex (escape literals, '<*>' → '(.*?)')
# and findall()s it; for Drain-matched (line, template) pairs — which have
# IDENTICAL token counts by construction — that is equivalent to POSITIONAL
# extraction: at every template token containing '<*>', take the line token
# with the template token's literal prefix/suffix stripped. Positional form
# is a pure zip_with column expression (no per-row regex compilation, no
# Python) and is ANSI-expressible, so it gets a hard DuckDB oracle.
# Divergence (documented): ≥2 wildcards inside ONE token yield one combined
# param (the reference yields one per wildcard); no such token exists in the
# reference's own HDFS dim. --------------------------------------------------
def parameter_list(content, template) -> "F.Column":
    """array<string> of parameters of ``content`` under ``template``."""
    # reference first normalizes short angle tokens ("<NUM>") to '<*>'
    # (Drain.py:554) — applied PER TOKEN here: the reference's string-level
    # greedy `<.{1,5}>` can swallow the space between ADJACENT wildcards
    # ("blk_<*> <*>" → "blk_<*>"), which breaks token alignment; per-token
    # normalization keeps the intended effect without the cross-token merge
    tmpl_toks = F.transform(
        F.split(template, " "),
        lambda tk: F.regexp_replace(tk, r"<.{1,5}>", WILDCARD),
    )
    pairs = F.zip_with(
        tmpl_toks,
        F.split(content, " "),
        lambda tk, c: F.struct(tk.alias("tk"), c.alias("c")),
    )
    def strip(p):
        prefix = F.substring_index(p["tk"], WILDCARD, 1)
        suffix = F.substring_index(p["tk"], WILDCARD, -1)
        return F.substring(
            p["c"],
            F.length(prefix) + 1,
            F.length(p["c"]) - F.length(prefix) - F.length(suffix),
        )
    return F.transform(
        F.filter(pairs, lambda p: p["tk"].contains(WILDCARD)), strip
    )


def q_param_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three regex passes per event — parallelize the single-split scan
    # (projected to the two columns the query reads)
    ev = widen(t(spark, sf_dir, "events").select("event_id", "props"), "event_id")
    template = F.regexp_replace(F.col("props"), r"\d+", WILDCARD)
    params = parameter_list(F.col("props"), template)
    return ev.select(
        "event_id",
        template.alias("template"),
        F.array_join(params, "|").alias("params"),
        F.size(params).alias("n_params"),
    )


_PARAM_SQL = r"""
SELECT event_id,
       regexp_replace(props, '\d+', '<*>', 'g') AS template,
       array_to_string(
         list_transform(
           list_filter(
             list_zip(list_transform(string_split(regexp_replace(props, '\d+', '<*>', 'g'), ' '),
                                     tk -> regexp_replace(tk, '<.{1,5}>', '<*>', 'g')),
                      string_split(props, ' ')),
             p -> contains(p[1], '<*>')),
           p -> substring(p[2],
                          length(string_split(p[1], '<*>')[1]) + 1,
                          length(p[2])
                            - length(string_split(p[1], '<*>')[1])
                            - length(string_split(p[1], '<*>')[len(string_split(p[1], '<*>'))]))
         ), '|') AS params,
       cast(len(list_filter(list_transform(string_split(regexp_replace(props, '\d+', '<*>', 'g'), ' '),
                                           tk -> regexp_replace(tk, '<.{1,5}>', '<*>', 'g')),
                            tk -> contains(tk, '<*>'))) AS int) AS n_params
FROM events
"""


# --- D6/A7: vocab build — freq-sorted token enumeration with reserved
# specials (vocab.py:51-57, 93-101: <pad>=0 <unk>=1 <eos>=2 <sos>=3 <mask>=4).
#
# Scale shape: the vocabulary of a 100 TB corpus is billions of rows, so the
# global enumeration is TWO-PHASE (the DataFrame analogue of RDD
# zipWithIndex): range-partition on the sort key, rank locally within each
# range, then add per-range offsets (an O(partitions) driver-side list).
# No window ever sees more than |vocab|/N rows. The ranged layout is
# localCheckpoint-ed so the offset job and the rank job see the SAME rows —
# a persist would NOT pin it: repartitionByRange re-samples its boundaries
# on any recompute (see _two_phase_rank's docstring). -------------------------
VOCAB_RANK_PARTS = 32


def _two_phase_rank(
    df: DataFrame, order: list, rank_alias: str, n_parts: int = VOCAB_RANK_PARTS
) -> DataFrame:
    """Exact global row_number() over ``order`` without a single-partition
    window: repartitionByRange + local rank + per-range offsets.

    The ranged layout is ``localCheckpoint``-ed (LAZY), NOT persisted: the
    offsets collected below are only valid against the exact partitioning
    they were counted on, and repartitionByRange RE-SAMPLES its boundaries
    on any recompute (different RDD id → different sampling seed) — a
    recomputed persist/cache would silently pair old offsets with a new
    layout and produce duplicated/gapped ranks. A checkpoint stores the
    rows themselves: recompute is impossible, lost blocks fail loudly, and
    the storage is released when the DataFrame is garbage-collected (no
    tracked-handle bookkeeping needed). ``eager=False`` folds the
    materialization into the sizes-collect job right below (the checkpoint
    happens as a side effect of the FIRST action over the plan), so the
    rank costs two jobs, not three — the eager variant paid one full extra
    pass per call (round-5 A/B: 1.0s → 0.8s at sf0.1)."""
    ranged = (
        df.repartitionByRange(n_parts, *order)
        .withColumn("_rpid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    sizes = {
        r["_rpid"]: r["n"]
        for r in ranged.groupBy("_rpid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = ranged.sparkSession.createDataFrame(offsets, "_rpid int, _off long")
    wloc = Window.partitionBy("_rpid").orderBy(*order)
    return (
        ranged.withColumn("_lrn", F.row_number().over(wloc))
        .join(F.broadcast(off_df), "_rpid")
        .withColumn(rank_alias, F.col("_lrn") + F.col("_off"))
        .drop("_rpid", "_lrn", "_off")
    )


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word")).filter(
        F.length("word") > 0
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    ranked = _two_phase_rank(counts, [F.desc("freq"), F.asc("word")], "rank")
    return ranked.select(
        "word", "freq", (F.col("rank") + F.lit(4)).cast("int").alias("token_id")
    )


_VOCAB_SQL = """
SELECT word, freq, cast(row_number() OVER (ORDER BY freq DESC, word) + 4 AS int) AS token_id
FROM (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0
  GROUP BY word
)
"""


# --- D6/to_seq: map words → vocab ids with <unk>=1, append <eos>=2, truncate
# to seq_len, pad with <pad>=0 (bert_pytorch/dataset/vocab.py:93-101 specials,
# 134-154 to_seq). Vocabulary = top-20 words by frequency (broadcast join;
# never a Python dict lookup UDF). ------------------------------------------
SEQ_LEN = 16
TOP_WORDS = 20


def q_to_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # only the top-TOP_WORDS matter: push the top-k down as orderBy().limit()
    # (TakeOrderedAndProject — parallel partial top-k) and number the ≤ k
    # survivors, instead of ranking the ENTIRE vocabulary through one window
    # partition just to discard all but k rows.
    top = counts.orderBy(F.desc("freq"), F.asc("word")).limit(TOP_WORDS)
    wv = Window.partitionBy(one_part(F.col("freq"))).orderBy(
        F.desc("freq"), F.asc("word")
    )
    vocab = top.withColumn(
        "token_id", (F.row_number().over(wv) + F.lit(4)).cast("int")
    )
    # only the first SEQ_LEN-1 positions can survive the truncation, so the
    # id-mapping join explodes a SLICED array (bounded rows per doc) instead
    # of every word — the full explode above exists solely for the global
    # vocab counts. The raw token count rides along as size(split(...)),
    # which is what size(collect_list(...)) computed the long way before.
    short = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_raw"),
        F.posexplode(
            F.slice(F.split(F.col("text"), " "), 1, SEQ_LEN - 1)
        ).alias("pos", "word"),
    )
    mapped = short.join(F.broadcast(vocab.select("word", "token_id")), "word", "left")
    ids = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
        lambda x: F.coalesce(x["token_id"], F.lit(1)),  # <unk>=1
    )
    seq = F.concat(F.slice(ids, 1, SEQ_LEN - 1), F.array(F.lit(2)))  # <eos>=2
    padded = F.concat(
        seq, F.array_repeat(F.lit(0), F.lit(SEQ_LEN) - F.size(seq))  # <pad>=0
    )
    return mapped.groupBy("doc_id").agg(
        F.array_join(padded, " ").alias("token_seq"),
        F.first("n_raw").alias("n_raw_tokens"),
    )


_TOSEQ_SQL = f"""
WITH w AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
), vocab AS (
  SELECT word, cast(row_number() OVER (ORDER BY count(*) DESC, word) + 4 AS int) AS token_id
  FROM w GROUP BY word
  QUALIFY token_id < 5 + {TOP_WORDS}
), mapped AS (
  SELECT w.doc_id, w.pos, coalesce(v.token_id, 1) AS tid
  FROM w LEFT JOIN vocab v USING (word)
), seqs AS (
  SELECT doc_id, list(tid ORDER BY pos) AS ids FROM mapped GROUP BY doc_id
)
SELECT doc_id,
       array_to_string(
         list_transform(range(1, {SEQ_LEN} + 1),
           i -> CASE WHEN i <= len(list_concat(ids[1:{SEQ_LEN - 1}], [2]))
                     THEN list_concat(ids[1:{SEQ_LEN - 1}], [2])[i]
                     ELSE 0 END),
         ' ') AS token_seq,
       cast(len(ids) AS int) AS n_raw_tokens
FROM seqs
"""


# --- A8: threshold grid-search aggregate (find_best_threshold,
# bert_pytorch/predict_log.py:32-49 — P/R/F1 over a threshold grid). The
# driver-side loop becomes a crossJoin against the (tiny) grid + one grouped
# agg; "anomalous" ground truth = event_type='error'. ------------------------
def q_threshold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0)) / F.count(F.lit(1))).alias(
            "score"
        ),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("truth"),
    )
    grid = spark.range(1, 10).select((F.col("id") / 20.0).alias("th"))
    j = per_user.crossJoin(grid)
    pred = (F.col("score") > F.col("th")).cast("int")  # strict >, predict_log.py:16-29
    agg = j.groupBy("th").agg(
        F.sum(pred * F.col("truth")).alias("tp"),
        F.sum(pred * (1 - F.col("truth"))).alias("fp"),
        F.sum((1 - pred) * F.col("truth")).alias("fn"),
    )
    f1 = F.round(
        2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
    )
    return agg.select("th", "tp", "fp", "fn", f1.alias("f1"))


_GRID_SQL = """
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) / count(*) AS score,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS truth
  FROM events GROUP BY user_id
), grid AS (SELECT i / 20.0 AS th FROM range(1, 10) t(i))
SELECT th,
       cast(sum(cast(score > th AS int) * truth) AS bigint) AS tp,
       cast(sum(cast(score > th AS int) * (1 - truth)) AS bigint) AS fp,
       cast(sum((1 - cast(score > th AS int)) * truth) AS bigint) AS fn,
       round(2 * sum(cast(score > th AS int) * truth)
             / (2 * sum(cast(score > th AS int) * truth)
                + sum(cast(score > th AS int) * (1 - truth))
                + sum((1 - cast(score > th AS int)) * truth)), 6) AS f1
FROM per_user CROSS JOIN grid
GROUP BY th
"""


# --- seeded sample / split (HDFS/data_process.py:109 sample(frac,seed);
# sample.py:93-96 train_test_split(seed)). The reference pins an RNG seed for
# reproducibility; the Spark-first equivalent is a KEY-HASH sampler
# (md5(key:seed) mod 100): same deterministic-subset contract, but stable
# under ANY parallelism/partitioning (engine RNG sampling is split-order-
# dependent) and engine-portable — which also makes it oracle-checkable.
# DataFrame .sample()/.randomSplit() remain available where per-run RNG is
# wanted. ---------------------------------------------------------------------
SAMPLE_SEED = 20
SPLIT_SEED = 1234


def _hash_bucket(key, seed: int, n: int = 100, digits: int = 6) -> "F.Column":
    """Deterministic 0..n-1 bucket: ``md5_int(key ':' seed, digits) mod n``.
    The defaults are the 0-99 seeded coin (sample, split, decontaminate,
    source mix); pack's bucket takes more digits so any ``n`` is uniform."""
    return md5_int(F.concat(key.cast("string"), F.lit(f":{seed}")), digits) % n


def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.filter(
        _hash_bucket(F.col("o_orderkey"), SAMPLE_SEED) < 10
    ).select("o_orderkey", "o_totalprice")


_SAMPLE_SQL = f"""
SELECT o_orderkey, o_totalprice FROM orders
WHERE ('0x' || substr(md5(o_orderkey || ':{SAMPLE_SEED}'), 1, 6))::int % 100 < 10
"""


def q_seeded_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    split = F.when(
        _hash_bucket(F.col("o_orderkey"), SPLIT_SEED) < 80, F.lit("train")
    ).otherwise(F.lit("test"))
    return orders.groupBy(split.alias("split")).agg(F.count(F.lit(1)).alias("n"))


_SPLIT_SQL = f"""
SELECT CASE WHEN ('0x' || substr(md5(o_orderkey || ':{SPLIT_SEED}'), 1, 6))::int % 100 < 80
            THEN 'train' ELSE 'test' END AS split,
       count(*) AS n
FROM orders GROUP BY 1
"""


# --- R1-R3 shape: the engine's single-scan column-stats pack, expressed over
# the documents table so the driver's DuckDB gate verifies the exact
# semantics (rules/column_stats.py mirrors this over sequences). -------------
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return docs.groupBy("source").agg(
        n.alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.sum("n_chars") / n, 6).alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("doc_id").alias("distinct_docs"),
    )


_COLSTATS_SQL = """
SELECT source, count(*) AS n_rows,
       cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_text,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(cast(sum(n_chars) AS bigint) / count(*), 6) AS mean_chars,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT doc_id) AS distinct_docs
FROM documents GROUP BY source
"""


# --- R8 shape: the drift pack's fixed-bucket histogram aggregate (the input
# to PSI / KS-D / chi-square in rules/drift.py), over documents n_chars. -----
def q_drift_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 64).cast("int"), F.lit(15))
    return (
        docs.groupBy("lang", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_DRIFTHIST_SQL = """
SELECT lang, cast(least(n_chars // 64, 15) AS int) AS bucket, count(*) AS n
FROM documents GROUP BY 1, 2
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "to_seq": q_to_seq,
    "threshold_grid": q_threshold_grid,
    "seeded_sample": q_seeded_sample,
    "seeded_split": q_seeded_split,
    "column_stats": q_column_stats,
    "drift_hist": q_drift_hist,
    "group_collect_ordered": q_group_collect_ordered,
    "template_frequency": q_template_frequency,
    "ranked_mapping": q_ranked_mapping,
    "threshold_verdict": q_threshold_verdict,
    "quantile_median": q_quantile_median,
    "distinct_exact": q_distinct_exact,
    "hll_distinct": q_hll_distinct,
    "kmv_distinct": q_kmv_distinct,
    "broadcast_join_revenue": q_broadcast_join_revenue,
    "left_join_default": q_left_join_default,
    "anti_join": q_anti_join,
    "semi_join": q_semi_join,
    "inner_join_count": q_inner_join_count,
    "stitch_lines": q_stitch_lines,
    "filter_pack": q_filter_pack,
    "fixed_window_chunks": q_fixed_window_chunks,
    "pagination": q_pagination,
    "topk_per_group": q_topk_per_group,
    "sort_by_length": q_sort_by_length,
    "union_dedup": q_union_dedup,
    "regex_hash_pack": q_regex_hash_pack,
    "param_extract": q_param_extract,
    "vocab_build": q_vocab_build,
}

ORACLES = {
    "pricing_summary": _Q1_SQL,
    "to_seq": _TOSEQ_SQL,
    "threshold_grid": _GRID_SQL,
    "seeded_sample": _SAMPLE_SQL,
    "seeded_split": _SPLIT_SQL,
    "column_stats": _COLSTATS_SQL,
    "drift_hist": _DRIFTHIST_SQL,
    "group_collect_ordered": _A1_SQL,
    "template_frequency": _A2_SQL,
    "ranked_mapping": _A3_SQL,
    "threshold_verdict": _A456_SQL,
    "quantile_median": _A10_SQL,
    "distinct_exact": _A11_SQL,
    "kmv_distinct": _KMV_SQL,
    # hll_distinct: sketch internals are engine-specific, so the contract
    # output is the bounded check itself (exact distinct hash-compared +
    # within-3·rsd boolean the oracle pins TRUE)
    "hll_distinct": _HLL_SQL,
    "broadcast_join_revenue": _J1_SQL,
    "left_join_default": _J2_SQL,
    "anti_join": _J3_SQL,
    "semi_join": _J4_SQL,
    "inner_join_count": _J5_SQL,
    "stitch_lines": _J6_SQL,
    "filter_pack": _P_SQL,
    "fixed_window_chunks": _W1_SQL,
    "pagination": _W4_SQL,
    "topk_per_group": _TOPK_SQL,
    "sort_by_length": _W3_SQL,
    "union_dedup": _UNION_SQL,
    "regex_hash_pack": _REGEX_SQL,
    "param_extract": _PARAM_SQL,
    "vocab_build": _VOCAB_SQL,
}
