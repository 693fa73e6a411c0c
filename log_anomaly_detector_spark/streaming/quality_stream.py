"""Ingest-time quality gating of a document stream — the streaming lift of
the batch training-data gates (``operators/text.py`` q_repetition_filter /
q_decontaminate): every landing document is scored ROW-LOCALLY for intra-doc
repetition and checked against a static eval-shingle set, then routed to the
kept corpus or a quarantine sink within the same micro-batch.

Two-stage design, each stage in its scale-correct shape:

* repetition — the batch metrics are per-document multiset statistics of the
  doc's own 3-grams, so they need NO streaming aggregation state: the SAME
  sorted sequential fold the batch query projects
  (`functions.text_funcs.rep_fold`) runs inside the stream projection
  (parity pinned per-doc by test + property test). No watermark, no state
  store.
* decontamination — a per-micro-batch BATCH broadcast join inside
  ``foreachBatch`` (explode → broadcast-left-join the eval gram set → count
  hits per doc): the broadcast hash table is built once per task and probed
  per gram. The tempting alternative — shipping the eval set as one
  broadcast ARRAY row and using ``array_intersect`` per document — rebuilds
  the eval-side hash set PER ROW (expression-level, no caching across rows);
  at a 450k-gram eval set over 500k docs that is ~10^11 set-insertions and
  the drain never finishes. Measured the hard way; join, don't intersect,
  whenever the static side is bigger than a benchmark.

The gate is stateless end to end: resumable purely from the file-source
checkpoint, bounded memory at any throughput.

Reference parity: the reference gates quality row-locally during data prep
too (content-predicate drops, HDFS/data_process.py:60-75); this is that
stage lifted to the metrics the LLM-data literature actually gates on
(Gopher repetition, GPT-3-style eval-overlap), applied at ingest. The
emitted metrics and flags match the batch queries exactly: repetition ppm
per doc, POSITIONAL eval hit counts, same pinned thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.functions.text_funcs import (
    rep_fold,
    word_ngrams,
    words,
)
from log_anomaly_detector_spark.operators.text import (
    REP_DUP_PPM_MAX as DUP_PPM_MAX,
)
from log_anomaly_detector_spark.operators.text import (
    REP_TOP_PPM_MAX as TOP_PPM_MAX,
)

DOC_STREAM_SCHEMA = "doc_id long, ts timestamp, text string"

# the sorted-fold multiset statistics live in functions.text_funcs.rep_fold —
# ONE implementation shared with the batch q_repetition_filter (their
# equality is the parity contract, not a convention)
_rep_fold = rep_fold


def build_eval_grams(spark: SparkSession, benchmark_docs: DataFrame) -> DataFrame:
    """Distinct 5-gram set of a benchmark table (doc_id, text) — the static
    side of the ingest gate. Same construction as the batch
    q_decontaminate eval slice."""
    base = benchmark_docs.filter(F.col("text").isNotNull()).select(
        words(F.col("text")).alias("_ws")
    )
    return (
        base.select(word_ngrams(F.col("_ws"), 5).alias("grams"))
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )


def scored_doc_stream(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str = DOC_STREAM_SCHEMA,
) -> DataFrame:
    """readStream → row-local repetition metrics, 5-gram array retained for
    the per-batch decontamination join → (doc_id, ts, n_3grams,
    dup_3gram_ppm, top_3gram_ppm, _g5). Stateless stream projection.

    Docs too short to score (<3 words → no 3-grams) carry NULL repetition
    metrics — absence of evidence is not a drop reason; the batch query
    simply excludes them, and the parity test covers both conventions."""
    stream = spark.readStream.schema(schema_ddl).parquet(input_dir)
    # word_ngrams caller contract: PROJECT the token array first — an
    # inlined split re-evaluates per element reference inside the
    # interpreted lambda (functions/text_funcs.py)
    toks = stream.select(
        "doc_id", "ts", words(F.col("text")).alias("_ws")
    )
    grammed = toks.select(
        "doc_id",
        "ts",
        word_ngrams(F.col("_ws"), 3).alias("_g3"),
        word_ngrams(F.col("_ws"), 5).alias("_g5"),
    )
    # project the fold ONCE, extract fields in the NEXT projection (same
    # CollapseProject protection: a multiply-referenced alias is never
    # re-inlined, so the fold runs once per row, not once per metric)
    folded = grammed.select(
        "doc_id", "ts", "_g5", F.size("_g3").cast("long").alias("n_3grams"),
        _rep_fold(F.col("_g3")).alias("_rep"),
    )
    return folded.select("doc_id", "ts", "_g5", "n_3grams", *_rep_metric_cols())


def _rep_metric_cols() -> list:
    """Metric/flag projections over (n_3grams, _rep) — split out so the
    boundary test can drive them with synthetic fold states. The keep
    decision uses EXACT integer cross-multiplication — the same expression
    as the batch flag — never the floored ppm columns: at n_3grams > ~100k
    a doc whose dup share lands strictly between 300000/1e6 and its floor
    would pass a `ppm > MAX` test while the batch flag drops it."""
    return [
        F.expr(
            "CASE WHEN n_3grams > 0 THEN"
            " (n_3grams - _rep.n_distinct) * 1000000 DIV n_3grams END"
        ).alias("dup_3gram_ppm"),
        F.expr(
            "CASE WHEN n_3grams > 0 THEN"
            " _rep.max_run * 1000000 DIV n_3grams END"
        ).alias("top_3gram_ppm"),
        F.expr(
            f"CASE WHEN n_3grams > 0 THEN"
            f" (n_3grams - _rep.n_distinct) * 1000000 <= {DUP_PPM_MAX} * n_3grams"
            f" AND _rep.max_run * 1000000 <= {TOP_PPM_MAX} * n_3grams END"
        ).alias("_rep_ok"),
    ]


def _gate_batch(batch_df: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Decontaminate + flag one micro-batch (plain BATCH plan): explode the
    retained 5-gram array and count POSITIONAL hits per doc through the
    SHARED `operators.text.count_eval_hits` core (identical counts to the
    batch q_decontaminate by construction), then join back to the metrics
    row — inner join: explode_outer guarantees every doc one gram row, so
    every doc has a hits row — and derive the keep flag. NULL `_rep_ok`
    (doc too short to score) passes the repetition gate: absence of
    evidence is not a drop reason."""
    from log_anomaly_detector_spark.operators.text import count_eval_hits

    hits = count_eval_hits(
        batch_df.select("doc_id", F.explode_outer("_g5").alias("gram")),
        eval_grams,
    )
    return (
        batch_df.drop("_g5")
        .join(hits, "doc_id")
        .select(
            "doc_id",
            "ts",
            "n_3grams",
            "dup_3gram_ppm",
            "top_3gram_ppm",
            "n_5grams",
            "eval_hits",
            "contaminated",
            (
                F.coalesce("_rep_ok", F.lit(True)) & ~F.col("contaminated")
            ).alias("keep"),
        )
    )


def run_quality_gate_once(
    spark: SparkSession,
    input_dir: str,
    eval_grams: DataFrame,
    checkpoint: str,
    kept_dir: str,
    quarantine_dir: str,
    schema_ddl: str = DOC_STREAM_SCHEMA,
) -> DataFrame:
    """Drain all available input through the gate, routing each micro-batch
    to TWO parquet sinks in one pass (foreachBatch: kept corpus +
    quarantine with full metrics for audit), then return the kept rows.

    The eval gram set is persisted for the drain so the static side is
    scanned once, not once per micro-batch. Both sinks are IDEMPOTENT
    per batch (round 7, ADVICE r6): rows land under a ``_batch_id``
    partition written with dynamic partition overwrite, so a batch retried
    after a mid-write failure REPLACES its own partition instead of
    double-appending — the returned kept rows are exact counts, not
    at-least-once counts. The dynamic mode is a per-write option, so the
    contract holds under a session whose ``partitionOverwriteMode`` is
    ``static`` (which would wipe every earlier batch's partition)."""
    eval_grams = eval_grams.persist()

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        gated = (
            _gate_batch(batch_df, eval_grams)
            .withColumn("_batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            for rows, path in (
                (gated.filter(F.col("keep")).drop("keep"), kept_dir),
                (gated.filter(~F.col("keep")), quarantine_dir),
            ):
                rows.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("_batch_id").parquet(path)
        finally:
            gated.unpersist()

    q = (
        scored_doc_stream(spark, input_dir, schema_ddl)
        .writeStream.foreachBatch(_route)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        eval_grams.unpersist()
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(kept_dir).drop("_batch_id")
    except AnalysisException as ex:
        cond = (
            ex.getCondition()
            if hasattr(ex, "getCondition")
            else ex.getErrorClass()
        )
        # foreachBatch sinks are PLAIN parquet dirs (no _spark_metadata): an
        # empty drain leaves NO directory (PATH_NOT_FOUND), and a drain
        # whose batches all kept zero rows leaves the bare partition root a
        # dynamic-overwrite write created with no files under it
        # (UNABLE_TO_INFER_SCHEMA) — both mean "zero kept rows"; anything
        # else surfaces
        if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return spark.createDataFrame(
            [],
            "doc_id long, ts timestamp, n_3grams long, dup_3gram_ppm long,"
            " top_3gram_ppm long, n_5grams long, eval_hits long,"
            " contaminated boolean",
        )
