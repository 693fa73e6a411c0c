"""Parse CLI (tools/parse_logs.py): the four tables ``write_outputs``
writes, the counts it observes on those writes, its Spark job budget, and a
warm start from the template dim it writes from the driver."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

TOOLS = Path(__file__).resolve().parent.parent / "tools"
sys.path.insert(0, str(TOOLS))

from parse_logs import write_outputs  # noqa: E402

from log_anomaly_detector_spark.pipeline import run_induction_pipeline  # noqa: E402


def _gen_log(path: Path, n_lines: int) -> str:
    subprocess.run(
        [sys.executable, str(TOOLS / "gen_scale_logs.py"), "--out", str(path),
         "--n-lines", str(n_lines)],
        check=True, capture_output=True,
    )
    return str(path)


def _mixed_log(spark, tmp_path):
    """4 lines of a warm template on blk_100, 2 novel lines on blk_200 and
    one line the log format does not parse, with the warm dim."""
    lines = [
        f"081109 2036{i:02d} 143 INFO dfs.DataNode: Receiving block blk_100 src 10.0.0.{i}"
        for i in range(4)
    ] + [
        f"081109 2037{i:02d} 143 WARN dfs.DataNode: Corrupt frame {i}77 detected on blk_200"
        for i in range(2)
    ] + ["garbage line that matches nothing"]
    log = tmp_path / "mixed.log"
    log.write_text("\n".join(lines) + "\n")
    warm = spark.createDataFrame(
        [("Receiving block blk_<*> src <*>",)], "template string"
    )
    return str(log), warm


def test_parse_lifecycle_job_count(spark, tmp_path, job_ids):
    """Pipeline plus writes on a generated log: no job only counts or
    re-reads a written table, and the dim tables are written from the
    driver. Measured 21 in the local[8] test session; the CLI's previous
    count queries and Spark-written dims made it 28."""
    log = _gen_log(tmp_path / "gen.log", 2_000)
    with job_ids("parse-lifecycle") as ids:
        res = run_induction_pipeline(spark, log)
        counts = write_outputs(res, str(tmp_path / "out"))
    assert counts["lines"] == counts["anomalous_lines"] == 2_000
    assert len(ids) <= 21, len(ids)


def test_observed_counts_equal_written_tables(spark, tmp_path):
    log, warm = _mixed_log(spark, tmp_path)
    out = tmp_path / "out"
    counts = write_outputs(
        run_induction_pipeline(spark, log, warm_templates=warm), str(out)
    )
    structured = spark.read.parquet(str(out / "structured"))
    verdicts = spark.read.parquet(str(out / "verdicts"))
    reread = {
        "lines": structured.count(),
        "templates": spark.read.parquet(str(out / "templates")).count(),
        "new_templates": spark.read.parquet(str(out / "new_templates")).count(),
        "anomalous_lines": structured.filter("is_anomaly").count(),
        "blocks": verdicts.count(),
        "anomalous_blocks": verdicts.filter(F.col("label") == "Anomaly").count(),
    }
    assert counts == reread
    assert (counts["lines"], counts["anomalous_lines"]) == (7, 2)
    assert (counts["blocks"], counts["anomalous_blocks"]) == (2, 1)
    assert (counts["templates"], counts["new_templates"]) == (2, 1)


def test_warm_start_from_driver_written_templates(spark, tmp_path):
    """The ``--warm-templates`` loop: a re-parse warm-started from the
    ``templates/`` a cold run wrote learns nothing new and flags nothing."""
    log = _gen_log(tmp_path / "gen.log", 500)
    cold = write_outputs(run_induction_pipeline(spark, log), str(tmp_path / "cold"))
    assert cold["new_templates"] == cold["templates"] > 0
    warm = spark.read.parquet(str(tmp_path / "cold" / "templates"))
    again = write_outputs(
        run_induction_pipeline(spark, log, warm_templates=warm),
        str(tmp_path / "warm"),
    )
    assert again["templates"] == cold["templates"]
    assert again["new_templates"] == again["anomalous_lines"] == 0
    assert again["anomalous_blocks"] == 0
    assert again["lines"] == cold["lines"] == 500
