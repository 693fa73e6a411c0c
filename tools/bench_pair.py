#!/usr/bin/env python
"""Paired-trial scaling harness: one driver loop, one plugin per workload.

Runs a workload at each level of ``--pair`` (default ``1:4`` — local[1] vs
local[4]) in a fresh child process per trial, levels interleaved so host-load
drift hits every level alike, and merges the result into BENCH/scaling.json
under ``--run-name``. A fresh process per trial is required: Spark's
CacheManager substitutes matching subplans from any persisted DataFrame, so
a second timing in one session measures the cache (CLAUDE.md).

Paired efficiency of trial t = wall_n[t] / (k · wall_kn[t]), k = kn / n:
both levels process identical rows, so the wall ratio is the throughput
ratio, and both legs of one trial share a load window, so the headline is
the median paired trial, with min and max beside it. A single level
(``--pair 4``) records walls only — for queries, each query's cold wall
(its own cache builds included) and warm wall in a fresh session.

Usage: python tools/bench_pair.py --workload WORKLOAD --data-dir DIR \\
           --run-name NAME [--pair 1:4] [--trials 2] [--queries a,b]

``engine`` reads a ``run_validation.py --materialize`` dir, ``curate`` and
``stream_gate`` a ``tools/gen_scale_docs.py`` corpus, ``queries`` any dir
its queries read (default: bench.py's BENCH_QUERIES). A trial's child is
``python tools/bench_pair.py --worker <plugin> --cores C --data-dir DIR``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
BENCH_DIR = os.path.join(ROOT, "BENCH")

from bench import BENCH_QUERIES, _load1  # noqa: E402


# ---------------------------------------------------------------- plugins
# Each runs inside the child process and returns {"walls": {name: sec}, ...}
# plus any per-trial extras worth recording (row and kept counts).


@contextlib.contextmanager
def _session(master: str):
    from log_anomaly_detector_spark.session import get_spark, quiesce

    spark = get_spark("bench_pair", master=master)
    try:
        yield spark
    finally:
        quiesce(spark)
        spark.stop()


def engine(args, master: str) -> dict:
    """``run_validation.py --warmup``: the timed pass after a warm-up pass."""
    import run_validation

    out_dir = tempfile.mkdtemp(prefix="bench_pair_engine_")
    sys.argv = [
        "run_validation.py", "--data-dir", args.data_dir, "--out", out_dir,
        "--master", master, "--warmup",
    ]
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            run_validation.main()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    d = json.loads(buf.getvalue().strip().splitlines()[-1])
    return {
        "walls": {"engine": d["wall_sec"]},
        "rows": d["rows_validated"],
        "rows_per_sec": d["rows_per_sec"],
        "job_secs": d["job_secs"],
    }


def queries(args, master: str) -> dict:
    """Per query: a cold pass, then the timed warm pass (noop sinks)."""
    from log_anomaly_detector_spark.operators import all_queries
    from log_anomaly_detector_spark.operators.caching import release_all
    from log_anomaly_detector_spark.operators.similarity import (
        q_embedding_near_dup_production,
    )

    qs = all_queries()
    # scaling-only shape, deliberately NOT a contract query (no oracle key,
    # so it must not widen the driver registry): the production-regime
    # near-dup parameterization — the contract fixture's low-τ regime is
    # quadratic by design on a large corpus
    qs["embedding_near_dup_production"] = q_embedding_near_dup_production
    names = args.queries.split(",") if args.queries else BENCH_QUERIES
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    with _session(master) as spark:
        for name in names:
            release_all()  # the cold wall pays for this query's own caches
            spark.sparkContext.setJobDescription(f"bench_pair:{name}")
            for walls in (cold, warm):
                t0 = time.time()
                qs[name](spark, args.data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                walls[name] = round(time.time() - t0, 3)
    return {"walls": warm, "cold": cold}


def curate(args, master: str) -> dict:
    """The full ``tools/curate_docs.py`` lifecycle into a throwaway dir."""
    from curate_docs import curate as run_curate

    out_dir = tempfile.mkdtemp(prefix="bench_pair_curate_")
    try:
        with _session(master) as spark:
            m = run_curate(spark, args.data_dir, out_dir, eval_dir=None)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return {"walls": {"curate_full": m["wall_sec"]}, "kept": m["kept_docs"],
            "input": m["input_docs"]}


def stream_gate(args, master: str) -> dict:
    """A cold drain (fresh checkpoint and sinks) of the streaming quality gate.

    The stream input (doc_id, ts, text) and the eval grams are built outside
    the timed drain; the input is derived from the corpus's
    documents.parquet and cached beside it as ``<data-dir>_stream_in``.
    """
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.operators.relational import _hash_bucket
    from log_anomaly_detector_spark.operators.text import DECONTAM_EVAL_PCT, DECONTAM_SEED
    from log_anomaly_detector_spark.streaming.quality_stream import (
        build_eval_grams,
        run_quality_gate_once,
    )

    stream_in = args.data_dir.rstrip("/") + "_stream_in"
    work = tempfile.mkdtemp(prefix="bench_pair_sgate_")
    try:
        with _session(master) as spark:
            docs = spark.read.parquet(f"{args.data_dir}/documents.parquet")
            n_docs = docs.count()
            try:
                cached_rows = spark.read.parquet(stream_in).count()
            except Exception:  # absent, partial write, foreign files
                cached_rows = -1
            if cached_rows != n_docs:
                # rebuild unless the cache mirrors the corpus exactly, or the
                # record would describe data the drain never touched. FIXED
                # 16-way layout regardless of cores: a micro-batch's
                # parallelism follows the input file splits, so a layout
                # written by the small leg would starve the large one.
                docs.select(
                    "doc_id",
                    F.timestamp_seconds(
                        F.lit(1_700_000_000) + F.col("doc_id") % 86_400
                    ).alias("ts"),
                    "text",
                ).repartition(16, "doc_id").write.mode("overwrite").parquet(
                    stream_in
                )
            in_eval = _hash_bucket(F.col("doc_id"), DECONTAM_SEED) < DECONTAM_EVAL_PCT
            eval_grams = build_eval_grams(spark, docs.filter(in_eval)).persist()
            eval_grams.count()
            t0 = time.time()
            kept = run_quality_gate_once(
                spark, stream_in, eval_grams,
                f"{work}/ckpt", f"{work}/kept", f"{work}/quarantine",
            )
            n_kept = kept.count()
            wall = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"walls": {"stream_quality_gate": wall}, "n_docs": n_docs,
            "n_kept": n_kept, "docs_per_sec": round(n_docs / wall, 1)}


PLUGINS = {f.__name__: f for f in (engine, queries, curate, stream_gate)}


# ----------------------------------------------------------- driver loop


def run_trial(args, cores: int) -> dict:
    """One trial of ``args.workload`` at local[cores] in a fresh process."""
    load = _load1()
    # run from the repo root (Spark's Python workers import the package from
    # their cwd) on an absolute data dir (the engine registers its input as
    # tables, whose relative locations resolve against the warehouse dir)
    cmd = [sys.executable, os.path.abspath(__file__), "--worker", args.workload,
           "--cores", str(cores), "--data-dir", os.path.abspath(args.data_dir),
           "--queries", args.queries]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        # surface the child's Spark traceback, not a bare exit code
        sys.stderr.write(r.stderr[-4000:])
        raise RuntimeError(
            f"{args.workload} worker (local[{cores}]) exited {r.returncode}; "
            "stderr tail above"
        )
    res = json.loads(r.stdout.strip().splitlines()[-1])
    return {"cores": cores, "host_load_before": load, **res}


def summarize(trials: dict[int, list[dict]], levels: list[int]) -> dict:
    """Per wall name: medians per level and, for a pair, paired efficiency."""
    n = levels[0]
    out = {}
    for name in trials[n][0]["walls"]:
        walls = {c: [t["walls"][name] for t in trials[c]] for c in levels}
        rec: dict = {"wall_n_median": statistics.median(walls[n])}
        if len(levels) == 2:
            kn = levels[1]
            paired = [
                round(a / ((kn / n) * b), 3) for a, b in zip(walls[n], walls[kn])
            ]
            rec.update(
                wall_4n_median=statistics.median(walls[kn]),
                efficiency_paired_trials=paired,
                efficiency=statistics.median(paired),
                efficiency_min=min(paired),
                efficiency_max=max(paired),
            )
        out[name] = rec
    return out


def read_runs(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def merge_run(path: str, run_name: str, results: dict) -> None:
    """Add one named run; every other run's bytes stay as they were."""
    runs = read_runs(path)
    runs[run_name] = results
    with open(path, "w") as f:
        f.write(json.dumps(runs, indent=2) + "\n")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLUGINS))
    ap.add_argument("--data-dir", required=True)
    ap.add_argument(
        "--run-name", required=True,
        help="new key for this run in BENCH/scaling.json",
    )
    ap.add_argument(
        "--pair", default="1:4",
        help="local core levels n:kn, or one level n for walls only",
    )
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument(
        "--queries", default="",
        help="comma-separated query names (queries workload)",
    )
    args = ap.parse_args(argv)
    if not re.fullmatch(r"\d+(:\d+)?", args.pair) or args.trials < 1:
        ap.error("--pair takes one or two core levels, --trials at least 1")
    args.levels = [int(c) for c in args.pair.split(":")]
    return args


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--worker"]:
        wp = argparse.ArgumentParser(prog="bench_pair.py --worker")
        wp.add_argument("--worker", required=True, choices=sorted(PLUGINS))
        wp.add_argument("--cores", type=int, required=True)
        wp.add_argument("--data-dir", required=True)
        wp.add_argument("--queries", default="")
        w = wp.parse_args(argv)
        print(json.dumps(PLUGINS[w.worker](w, f"local[{w.cores}]")))
        return 0

    args = parse_args(argv)
    out_path = os.path.join(BENCH_DIR, "scaling.json")
    if args.run_name in read_runs(out_path):
        raise SystemExit(f"run {args.run_name!r} already in {out_path}")
    partial_path = os.path.join(BENCH_DIR, f".{args.run_name}.partial.json")
    trials: dict[int, list[dict]] = {c: [] for c in args.levels}
    for t in range(args.trials):
        for c in args.levels:
            r = run_trial(args, c)
            trials[c].append(r)
            print(
                f"trial {t} local[{c}]: {r['walls']} "
                f"(host load {r['host_load_before']})",
                flush=True,
            )
            with open(partial_path, "w") as f:  # survive an outer timeout
                json.dump(trials, f, indent=2)

    summary = summarize(trials, args.levels)
    for name, rec in summary.items():
        print(f"{name}: {rec}")
    merge_run(out_path, args.run_name, {
        "workload": args.workload,
        "data_dir": args.data_dir,
        "pair": args.pair,
        "trials": trials,
        "queries": summary,
    })
    os.unlink(partial_path)  # the merged run is durable now
    print(f"wrote {args.run_name} to BENCH/scaling.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
