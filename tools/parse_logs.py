#!/usr/bin/env python
"""Batch log-parsing CLI — the reference's offline lifecycle (`main.py` +
`HDFS/data_process.py` + `logparser/Drain.py parse/parse_and_store_log_lines`)
as one spark-submit-able entrypoint.

    python tools/parse_logs.py --input /path/raw_logs_dir_or_file \
        --out /tmp/parsed [--warm-templates /path/templates.parquet] \
        [--st 0.5] [--depth 4] [--seq-threshold 0.2]

Outputs under --out (all parquet):
  structured/      per-line records + event_id + is_anomaly flag
  templates/       learned dim: event_id, template, occurrences, is_new
  new_templates/   the is_new slice — the v2 dim-upsert payload
  verdicts/        per-block anomaly score + label
and prints ONE metrics JSON line.

A user of the reference runs `parser.parse(log)` then data_process then the
detector; here the whole lifecycle is one Spark dataflow (pipeline.py
run_induction_pipeline) — templates are LEARNED (Drain founding + merge),
never-seen-before lines are flagged, and every output is a table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, functions as F  # noqa: E402

from log_anomaly_detector_spark.sources.logtext import DEFAULT_LOGFORMAT  # noqa: E402
from log_anomaly_detector_spark.storage import write_local_table  # noqa: E402


def write_outputs(res, out: str) -> dict:
    """Write an ``InductionPipelineResult``'s four tables under ``out`` and
    return the printed counts, each observed on the write of its rows. The
    template dim is driver-local: collecting it runs no job, and both dim
    tables are written from the driver."""
    lines, blocks = Observation("lines"), Observation("blocks")
    res.structured.observe(
        lines, F.count(F.lit(1)).alias("n"), F.count_if("is_anomaly").alias("bad")
    ).write.mode("overwrite").parquet(f"{out}/structured")
    dim = res.templates.drop("tokens")
    rows = [r.asDict() for r in dim.collect()]
    new = [r for r in rows if r["is_new"]]
    for name, table in (("templates", rows), ("new_templates", new)):
        write_local_table(table, dim.schema, f"{out}/{name}")
    is_anomaly = F.col("label") == "Anomaly"
    res.verdicts.observe(
        blocks, F.count(F.lit(1)).alias("n"), F.count_if(is_anomaly).alias("bad")
    ).write.mode("overwrite").parquet(f"{out}/verdicts")
    return {
        "lines": lines.get["n"],
        "templates": len(rows),
        "new_templates": len(new),
        "anomalous_lines": lines.get["bad"],
        "blocks": blocks.get["n"],
        "anomalous_blocks": blocks.get["bad"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="raw log file or directory")
    ap.add_argument("--out", required=True)
    ap.add_argument("--warm-templates", default=None,
                    help="parquet with a `template` string column")
    ap.add_argument("--st", type=float, default=0.5)
    ap.add_argument("--depth", type=int, default=4)
    ap.add_argument("--seq-threshold", type=float, default=0.2)
    ap.add_argument("--logformat", default=DEFAULT_LOGFORMAT)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from log_anomaly_detector_spark.pipeline import run_induction_pipeline
    from log_anomaly_detector_spark.session import get_spark, quiesce

    spark = get_spark("parse_logs", master=args.master)
    warm = spark.read.parquet(args.warm_templates) if args.warm_templates else None
    t0 = time.time()
    res = run_induction_pipeline(
        spark,
        args.input,
        warm_templates=warm,
        st=args.st,
        depth=args.depth,
        seq_threshold=args.seq_threshold,
        logformat=args.logformat,
    )
    counts = write_outputs(res, args.out)
    wall = time.time() - t0
    counts["wall_sec"] = round(wall, 3)
    counts["lines_per_sec"] = round(counts["lines"] / wall, 1) if wall else None
    print(json.dumps(counts))
    quiesce(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
