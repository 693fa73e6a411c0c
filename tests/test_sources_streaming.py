"""Sources: raw-log regex scan, sequence file, pinned-schema CSV."""

from __future__ import annotations

from log_anomaly_detector_spark.sources import (
    generate_logformat_regex,
    read_sequence_file,
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


def test_read_sequence_file(spark, tmp_path):
    p = tmp_path / "seq.txt"
    p.write_text("1 2 3\n10 20\n\n7\n")
    df = read_sequence_file(spark, str(p))
    toks = sorted(tuple(r["tokens"]) for r in df.collect())
    assert toks == [(1, 2, 3), (7,), (10, 20)]


def test_csv_pinned_and_sequence_sink_roundtrip(spark, tmp_path):
    from log_anomaly_detector_spark.sources.tabular import (
        read_csv_pinned,
        write_sequence_text,
    )

    csv = tmp_path / "in.csv"
    csv.write_text("id,name,score\n1,a,0.5\n2,b,\n")
    df = read_csv_pinned(spark, str(csv), "id int, name string, score double")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] == 0.5 and rows[2]["score"] is None
    assert df.schema.simpleString() == "struct<id:int,name:string,score:double>"

    seqs = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [9])], "doc_id string, tokens array<int>"
    )
    out = str(tmp_path / "seq_out")
    write_sequence_text(seqs, out)
    back = read_sequence_file(spark, out)
    assert sorted(tuple(r["tokens"]) for r in back.collect()) == [(1, 2, 3), (9,)]
