"""Audit helpers over Catalyst physical plans — Catalyst IS the planner;
these only *audit* the plans it produces, so tests can assert the plans we
*want*: filters pushed to the parquet scan, columns pruned, small sides
broadcast, whole-stage codegen covering the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_facts(df: DataFrame, execute: bool = False) -> dict[str, bool | int]:
    """Cheap structural facts about the physical plan.

    With AQE the codegen stages only appear in the *final* plan, so pass
    ``execute=True`` when asserting on WholeStageCodegen spans.
    """
    import re

    if execute:
        df.collect()
        # final AQE plan: `*(n)` prefixes mark whole-stage-codegen spans
        exec_plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        codegen = len(set(re.findall(r"\*\((\d+)\)", exec_plan)))
    else:
        codegen = 0
    plan = formatted_plan(df)
    return {
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        "shuffle_exchanges": plan.count("Exchange (") - plan.count("BroadcastExchange ("),
        "codegen_stages": codegen,
        "partial_agg": "partial_" in plan or "HashAggregate" in plan,
    }


def _top_level_groups(s: str) -> int:
    """Count top-level [...] groups in a node's Arguments string."""
    depth = 0
    groups = 0
    for ch in s:
        if ch in "[(":
            if ch == "[" and depth == 0:
                groups += 1
            depth += 1
        elif ch in "])":
            depth = max(depth - 1, 0)
    return groups


def forced_raw_broadcasts(df: DataFrame, relation_col: str) -> int:
    """Number of EXPLICIT broadcast hints whose subtree is the raw (unfiltered,
    unaggregated, unjoined) scan of the relation owning a column named
    ``relation_col`` — the 100×-scale killer shape: ``F.broadcast(corpus)``
    ships the whole table to every executor no matter how big it grows.

    The relation is identified by a column name unique to it (the analyzed
    plan prints ``Relation [vec_id#0L,embedding#1,...] parquet`` without the
    file path). Hints are audited in the ANALYZED logical plan
    (``ResolvedHint`` nodes exist only for explicit hints), so a runtime
    AQE/stats broadcast — which adapts away when the table outgrows the
    threshold — never counts. A hint is FINE when its subtree filters, joins,
    or aggregates before the relation (the broadcast side is then bounded by
    construction, e.g. a candidate-id set or a query slice)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    lines = analyzed.splitlines()

    def _depth(ln: str) -> int:
        i = 0
        while i < len(ln) and ln[i] in "+-: ":
            i += 1
        return i

    bounding = ("Filter", "Join", "Aggregate", "Limit")
    n = 0
    for idx, ln in enumerate(lines):
        if "ResolvedHint" not in ln:
            continue
        d = _depth(ln)
        sub: list[str] = []
        for nxt in lines[idx + 1 :]:
            if _depth(nxt) <= d and nxt.strip():
                break
            sub.append(nxt)
        # a bounding node must sit ON THE PATH between the hint and the
        # Relation that owns relation_col (an ancestor in the indented tree:
        # the chain of closest preceding lines with strictly smaller depth) —
        # a Filter/Join elsewhere in the subtree bounds some OTHER branch and
        # must not launder a raw-corpus broadcast past the audit
        raw_path = False
        for j, s in enumerate(sub):
            if f"{relation_col}#" not in s or "Relation" not in s:
                continue
            bounded = False
            cur = _depth(s)
            for anc in reversed(sub[:j]):
                if not anc.strip():
                    continue
                ad = _depth(anc)
                if ad < cur:
                    cur = ad
                    if any(k in anc for k in bounding):
                        bounded = True
                        break
            if not bounded:
                raw_path = True
        if raw_path:
            n += 1
    return n


def unpartitioned_windows(df: DataFrame) -> int:
    """Number of Window nodes with an EMPTY partition spec — the plan shape
    Spark itself warns about ("No Partition Defined ... moving all data to a
    single partition"). A healthy contract query has zero: bounded inputs get
    an explicit constant key (operators.relational.one_part), unbounded ones
    a real key or two-phase ranking.

    Detection: in the formatted plan a Window node's Arguments are
    ``[windowExprs], [partitionSpec], [orderSpec]`` — the partition group is
    simply MISSING (2 top-level groups) when empty."""
    plan = formatted_plan(df)
    sections = plan.split("\n\n")
    n = 0
    for sec in sections:
        lines = sec.strip().splitlines()
        if not lines:
            continue
        # exact node name match — "WindowGroupLimit" (top-k pushdown) takes
        # [partition], [order] (2 groups) and must not false-positive
        header = lines[0]
        if not header.split() or header.split()[-1] != "Window":
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments:")), "")
        if _top_level_groups(args) < 3:
            n += 1
    return n
