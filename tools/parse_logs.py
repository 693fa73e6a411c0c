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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="raw log file or directory")
    ap.add_argument("--out", required=True)
    ap.add_argument("--warm-templates", default=None,
                    help="parquet with a `template` string column")
    ap.add_argument("--st", type=float, default=0.5)
    ap.add_argument("--depth", type=int, default=4)
    ap.add_argument("--seq-threshold", type=float, default=0.2)
    ap.add_argument(
        "--logformat", default="<Date> <Time> <Pid> <Level> <Component>: <Content>"
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.pipeline import run_induction_pipeline
    from log_anomaly_detector_spark.session import get_spark, quiesce

    spark = get_spark("parse_logs", master=args.master)
    warm = (
        spark.read.parquet(args.warm_templates) if args.warm_templates else None
    )
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
    res.structured.write.mode("overwrite").parquet(f"{args.out}/structured")
    res.templates.drop("tokens").write.mode("overwrite").parquet(
        f"{args.out}/templates"
    )
    res.new_templates.drop("tokens").write.mode("overwrite").parquet(
        f"{args.out}/new_templates"
    )
    res.verdicts.write.mode("overwrite").parquet(f"{args.out}/verdicts")
    # the flagged lines are cached and the dim is a driver-local table, so
    # the counts cost one pass over that cache and one over the verdicts
    lines = res.structured.agg(
        F.count(F.lit(1)).alias("n"), F.count_if("is_anomaly").alias("anomalous")
    ).first()
    n_lines = lines["n"]
    wall = time.time() - t0
    is_new = [r["is_new"] for r in res.templates.select("is_new").collect()]
    blocks = res.verdicts.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("label") == "Anomaly").alias("anomalous"),
    ).first()
    print(
        json.dumps(
            {
                "lines": n_lines,
                "templates": len(is_new),
                "new_templates": sum(is_new),
                "anomalous_lines": lines["anomalous"],
                "blocks": blocks["n"],
                "anomalous_blocks": blocks["anomalous"],
                "wall_sec": round(wall, 3),
                "lines_per_sec": round(n_lines / wall, 1) if wall else None,
            }
        )
    )
    quiesce(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
