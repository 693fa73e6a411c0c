"""Sources: raw-log regex scan."""

from __future__ import annotations

from log_anomaly_detector_spark.sources import (
    generate_logformat_regex,
    read_structured_logs,
)

LOG_LINES = [
    "081109 203615 148 INFO dfs.DataNode$PacketResponder: "
    "PacketResponder 1 for block blk_38865049064139660 terminating",
    "081109 203807 222 INFO dfs.DataNode$PacketResponder: "
    "Received block blk_-1608999687919862906 of size 91178 from /10.250.10.6",
    "this line does not match the format",
]


def test_logformat_regex():
    headers, pattern = generate_logformat_regex(
        "<Date> <Time> <Pid> <Level> <Component>: <Content>"
    )
    assert headers == ["Date", "Time", "Pid", "Level", "Component", "Content"]
    import re

    m = re.match(pattern, LOG_LINES[0])
    assert m and m.group(1) == "081109" and m.group(5) == "dfs.DataNode$PacketResponder"


def test_read_structured_logs(spark, tmp_path):
    p = tmp_path / "raw.log"
    p.write_text("\n".join(LOG_LINES) + "\n")
    df = read_structured_logs(spark, str(p)).cache()
    parsed = df.filter("_parsed")
    assert parsed.count() == 2
    rows = {r["Date"]: r for r in parsed.collect()}
    r = rows["081109"]
    assert r["Level"] == "INFO"
    assert len(r["EventId"]) == 8
    assert "<*>" in df.filter("_parsed").collect()[1]["EventTemplate"]
    blocks = sorted(
        b for row in parsed.collect() for b in row["BlockIds"]
    )
    assert blocks == ["blk_-1608999687919862906", "blk_38865049064139660"]
    assert df.filter("NOT _parsed").count() == 1

    # digits → <*> collapses the three PacketResponder lines to one template
    q = tmp_path / "packet.log"
    q.write_text(
        "".join(
            f"081109 20361{i} 14{i} INFO dfs.DataNode$PacketResponder: "
            f"PacketResponder {n} for block blk_{b} terminating\n"
            for i, (n, b) in enumerate(((1, 100), (2, 100), (1, 200)))
        )
    )
    packet = read_structured_logs(spark, str(q)).collect()
    assert [r["EventTemplate"] for r in packet] == [
        "PacketResponder <*> for block blk_<*> terminating"
    ] * 3


def test_structure_lines_record_separator_slow_path(spark):
    """A line containing the ASCII record separator (the byte the fast
    single-pass packer uses internally) must still extract every header
    exactly — it takes the per-group regexp_extract fallback row-wise."""
    from pyspark.sql import functions as F

    from log_anomaly_detector_spark.sources.logtext import structure_lines

    rs = "\x1e"
    raw = spark.createDataFrame(
        [
            (0, f"081109 203615 148 INFO comp.A: payload with{rs}rs byte"),
            (1, "081109 203616 149 WARN comp.B: clean payload"),
            (2, ""),  # empty trailing-group edge: Content = ''
        ],
        "LineId long, value string",
    )
    got = {r["LineId"]: r for r in structure_lines(raw).collect()}
    assert got[0]["_parsed"] and got[0]["Content"] == f"payload with{rs}rs byte"
    assert got[0]["Component"] == "comp.A"
    assert got[1]["_parsed"] and got[1]["Content"] == "clean payload"
    assert not got[2]["_parsed"] and got[2]["Content"] == ""

