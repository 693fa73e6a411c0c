"""Raw log-text sources — the reference's parse front-end, Spark-first.

* S2 ``generate_logformat_regex``: compile a ``'<Date> <Time> <Pid> <Level>
  <Component>: <Content>'`` format string into a named-group regex
  (reference: ``logparser/Drain.py:536-551``) — driver-side helper.
* S1 ``read_structured_logs``: ``spark.read.text`` + SINGLE-PASS header
  extraction — one ``rlike`` + one group-packing ``regexp_replace`` + split
  (per-group ``regexp_extract`` only as the exact row-wise fallback for
  lines containing the pack separator); the naive per-header extract form
  ran the backtracking format regex N+1 times per line and dominated the
  16M-line scan wall (reference: row-by-row ``log_to_dataframe``,
  ``logparser/Drain.py:512-534``). Malformed lines are *surfaced* via
  ``_parsed`` instead of silently dropped (``Drain.py:526-529`` swallows
  them); callers filter. Adds the reference's derived columns: the
  template (digits → ``<*>``, ``Drain.py:507-510`` preprocessing) and the
  md5-8 EventId (``Drain.py:209,236``), plus extracted block ids
  (``HDFS/data_process.py:88`` ``(blk_-?\\d+)``).

Everything is whole-stage-codegen'd built-in expressions — at 100 TB of raw
logs this is a single parallel scan with no Python in the loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.functions.text_funcs import WILDCARD


def generate_logformat_regex(logformat: str) -> tuple[list[str], str]:
    """Compile a log-format string to (headers, regex with one group per
    header). Mirrors Drain.py:536-551 semantics: literal chunks have their
    spaces relaxed to ``\\s+``; ``<Header>`` becomes a capture group."""
    headers: list[str] = []
    parts: list[str] = []
    for k, part in enumerate(re.split(r"(<[^<>]+>)", logformat)):
        if k % 2 == 0:
            # literal chunk: relax runs of spaces (same as the reference)
            parts.append(re.sub(" +", r"\\s+", part))
        else:
            headers.append(part.strip("<>"))
            parts.append("(.*?)")
    regex = "".join(parts)
    # last group greedy so it consumes the rest of the line
    idx = regex.rfind("(.*?)")
    if idx != -1:
        regex = regex[:idx] + "(.*)" + regex[idx + 5 :]
    return headers, f"^{regex}$"


DEFAULT_LOGFORMAT = "<Date> <Time> <Pid> <Level> <Component>: <Content>"
# the reference's preprocessing: IPs (with port), then digit runs → <*>
CONTENT_REXES = (r"(\d+\.){3}\d+(:\d+)?", r"\d+")


def structure_lines(raw: DataFrame, logformat: str = DEFAULT_LOGFORMAT) -> DataFrame:
    """Structure a DataFrame of raw lines (columns: LineId, value) — the
    core of ``read_structured_logs``, callable on lines from any source."""
    headers, pattern = generate_logformat_regex(logformat)
    # non-ASCII scrub BEFORE header extraction — reference replaces runs of
    # non-ASCII bytes with the <NASCII> sentinel on the raw line
    # (logparser/Spell.py:297)
    raw = raw.withColumn(
        "value", F.regexp_replace(F.col("value"), r"[^\x00-\x7F]+", "<NASCII>")
    )
    # strip trailing line terminators (a caller's own DataFrame can deliver
    # CRLF payloads; read.text never does): Java's `$` matches BEFORE a final
    # '\r', so the packing replace below would otherwise leave the '\r'
    # appended to the last field — where a per-group regexp_extract excludes
    # it. Stripping first keeps the two forms exactly equivalent.
    raw = raw.withColumn(
        "value", F.regexp_replace(F.col("value"), r"[\r\n]+$", "")
    )
    # SINGLE-PASS header extraction: one regexp_extract per header runs the
    # backtracking format regex N+1 times per line — measured as the
    # dominant scan cost at 16M lines. Instead: match once (rlike), pack all
    # groups with the ASCII record separator (one regexp_replace), split.
    # Lines that natively contain RS (never seen in logs — it's the control
    # byte DESIGNED as a field separator) take the exact per-group slow path
    # row-wise, so semantics are unchanged for every input.
    RS = "\x1e"
    parsed = F.col("value").rlike(pattern)
    has_rs = F.col("value").contains(RS)
    # materialized as a REAL column first: expressions inside `when` branches
    # are excluded from codegen subexpression elimination, so inlining the
    # pack into each header column would re-run the replace+split per header
    # — exactly the N-pass cost this rewrite removes
    packed = F.when(
        parsed & ~has_rs,
        F.split(
            F.regexp_replace(
                F.col("value"),
                pattern,
                RS.join(f"${i + 1}" for i in range(len(headers))),
            ),
            RS,
            -1,
        ),
    )
    # `_parsed` is also materialized here: referencing the rlike expression
    # again downstream would run the backtracking regex a third time per line
    staged = raw.select(
        "LineId", "value", packed.alias("_packed"), parsed.alias("_parsed")
    )
    cols = [
        F.when(F.col("_packed").isNotNull(), F.element_at("_packed", i + 1))
        .when(F.col("_parsed"), F.regexp_extract(F.col("value"), pattern, i + 1))
        .otherwise(F.lit(""))
        .alias(h)
        for i, h in enumerate(headers)
    ]
    df = staged.select("LineId", F.col("value"), *cols, "_parsed")
    template = F.col("Content")
    for rex in CONTENT_REXES:
        template = F.regexp_replace(template, rex, WILDCARD)
    return (
        df.withColumn("EventTemplate", template)
        .withColumn("EventId", F.substring(F.md5(F.col("EventTemplate")), 1, 8))
        .withColumn(
            "BlockIds",
            F.array_distinct(
                F.regexp_extract_all(F.col("Content"), F.lit(r"(blk_-?\d+)"), 1)
            ),
        )
        .drop("value")
    )


def read_structured_logs(
    spark: SparkSession,
    path: str,
    logformat: str = DEFAULT_LOGFORMAT,
) -> DataFrame:
    """Structured-log DataFrame from raw text: one column per format header
    + LineId, _parsed flag, EventTemplate, EventId (md5-8), BlockIds."""
    raw = spark.read.text(path).withColumn(
        "LineId", F.monotonically_increasing_id()
    )
    return structure_lines(raw, logformat)
