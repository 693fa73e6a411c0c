"""End-to-end induction pipeline (reference run_pipeline_v2 lifecycle with
learned templates) on synthetic HDFS-shaped logs."""

from __future__ import annotations

RAW = """081109 203615 148 INFO dfs.DataNode$PacketResponder: PacketResponder 1 for block blk_100 terminating
081109 203616 149 INFO dfs.DataNode$PacketResponder: PacketResponder 2 for block blk_100 terminating
081109 203617 150 INFO dfs.FSNamesystem: BLOCK* ask 10.1.1.1:50010 to replicate blk_100 to 10.1.1.2:50010
081109 203618 151 INFO dfs.DataNode$PacketResponder: PacketResponder 1 for block blk_200 terminating
081109 203619 152 WARN dfs.FSNamesystem: BLOCK* weird unparseable-template-free event for blk_200 zz9
garbage line that matches nothing
"""


def test_induction_pipeline_end_to_end(spark, tmp_path):
    """v2 lifecycle with LEARNED templates (parse_and_store_log_lines,
    Drain.py:329-423): warm templates absorb their lines; novel lines found
    new templates, are flagged anomalous, and their blocks go Anomaly; the
    new-template slice is the dim-upsert payload."""
    from log_anomaly_detector_spark.pipeline import run_induction_pipeline

    log = tmp_path / "raw.log"
    lines = []
    # 4 known-shape lines on blk_100 (warm template matches)
    for i in range(4):
        lines.append(
            f"081109 2036{i:02d} 143 INFO dfs.DataNode: "
            f"Receiving block blk_100 src 10.0.0.{i}"
        )
    # 2 novel lines on blk_200 → new template → anomalous block
    for i in range(2):
        lines.append(
            f"081109 2037{i:02d} 143 WARN dfs.DataNode: "
            f"Corrupt frame {i}77 detected on blk_200"
        )
    log.write_text("\n".join(lines) + "\n")
    warm = spark.createDataFrame(
        [("Receiving block blk_<*> src <*>",)], "template string"
    )
    res = run_induction_pipeline(spark, str(log), warm_templates=warm, depth=4)

    t = {r["template"]: r for r in res.templates.collect()}
    assert t["Receiving block blk_<*> src <*>"]["is_new"] is False
    assert t["Receiving block blk_<*> src <*>"]["occurrences"] == 4
    new = [r["template"] for r in res.new_templates.collect()]
    assert new == ["Corrupt frame <*> detected on blk_<*>"]

    flags = {
        r["LineId"]: r["is_anomaly"] for r in res.structured.collect()
    }
    assert [flags[i] for i in range(6)] == [False] * 4 + [True] * 2

    v = {r["block_id"]: r["label"] for r in res.verdicts.collect()}
    assert v == {"blk_100": "Normal", "blk_200": "Anomaly"}


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_induction_dim_parquet_keeps_not_null(spark, tmp_path):
    """The templates and new_templates tables `tools/parse_logs.py` writes
    keep `occurrences` and `is_new` NOT NULL."""
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    from log_anomaly_detector_spark.pipeline import run_induction_pipeline

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from parse_logs import write_outputs

    log = tmp_path / "raw.log"
    log.write_text(RAW)
    write_outputs(run_induction_pipeline(spark, str(log)), str(tmp_path))
    for name in ("templates", "new_templates"):
        parts = list((tmp_path / name).glob("*.parquet"))
        assert parts
        for part in parts:
            schema = pq.read_schema(part)
            assert not schema.field("occurrences").nullable
            assert not schema.field("is_new").nullable


def test_repeated_pipeline_calls_hold_one_cache_handle_each(spark, tmp_path):
    """Each cached table has one tracked slot: a second call releases the
    first call's copies instead of leaking one line-sized cache per call."""
    from log_anomaly_detector_spark.operators import caching
    from log_anomaly_detector_spark.pipeline import run_induction_pipeline

    logs = []
    for i, text in enumerate((RAW, RAW + "garbage line two\n")):
        logs.append(tmp_path / f"raw{i}.log")
        logs[-1].write_text(text)

    first, second = (run_induction_pipeline(spark, str(p)) for p in logs)
    second.verdicts.collect()
    assert not _cached(first.structured)
    assert caching._LIVE["induction_flagged"] is second.structured
    assert _cached(second.structured)
    assert _cached(caching._LIVE["induction_structured"])
