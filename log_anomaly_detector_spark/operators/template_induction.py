"""Drain template INDUCTION + merge — the reference's core parser learning
loop (J8 completion), as an iterative Spark fixpoint.

Reference semantics being reproduced (logparser/Drain.py):

* tree routing — a line is routed by token count then its first
  ``depth-3`` tokens; digit-bearing tokens route to the ``<*>`` child
  (``addSeqToPrefixTree``, Drain.py:93-148; ``treeSearch``, Drain.py:65-91);
* matching — best template by positional similarity ``#equal / len`` with
  template wildcards counted as parameters, accepted iff ``sim >= st``; ties
  prefer more wildcards (``seqDist`` Drain.py:151-165, ``fastMatch``
  Drain.py:167-184);
* founding — an unmatched line founds a new cluster with its own tokens as
  the template (Drain.py:306-309; flagged anomalous in v2, Drain.py:367-377);
* merging — a matched template is generalized by wildcarding every position
  where the member disagrees (``getTemplate``, Drain.py:186-199);
* warm start — known templates are loaded as initial clusters
  (``load_previous_clusters``, Drain.py:260-279; v2 DB warm start
  Drain.py:343-354);
* output — template id = md5-8 of the template string, occurrences = member
  count (``outputResult``, Drain.py:201-239).

Spark lift: the prefix tree becomes a per-row lookup, through the step
all three matchers share (``template_match._dim_row`` + ``_best``). The
dim travels as ONE broadcast row whose map sends each tree path (token
count, then the ``_route``d first ``depth-3`` tokens, computed on the
driver) to its templates; a line probes its own token and the ``<*>``
child per level and takes the best template as ``array_max`` over
(similarity, wildcards, -ordinal) structs, so matching needs no join
fan-out, window or shuffle. Similarity is a ``zip_with``+``aggregate``
column expression. The sequential one-line-at-a-time loop becomes a
FIXPOINT: (a) founding rounds
— match all unmatched lines against the current dim, elect ONE founder per
leaf among the still-unmatched (min line_id — deterministic at any
parallelism), repeat until every line matches; (b) refinement passes —
recompute each template as the positional AGREEMENT of its members
(getTemplate's fold is associative/commutative: a position survives iff
ALL members agree), re-match, repeat until stable.

Scale shape: the template dim is dim-sized (thousands) and lives on the
driver end to end: it is rebuilt as a flat local relation each round, and
the output dim (md5-8 ids via ``hashlib``, occurrences from the converged
pass's member counts) is one local relation too. Lines are scanned once
per round and rounds are bounded by the deepest leaf's template count, not
by row count; founder election and agreement are grouped aggregations. No
Python in the loop; driver state is O(dim) per round.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from log_anomaly_detector_spark.functions.text_funcs import WILDCARD
from log_anomaly_detector_spark.operators.template_match import _drain_pick, _local

_HAS_DIGIT = "[0-9]"

_DIM_DDL = "template_id long, tokens array<string>"
_TEMPLATES_DDL = (
    "event_id string, template string, tokens array<string>, "
    "occurrences long NOT NULL, is_new boolean NOT NULL"
)
_EVENT_IDS_DDL = "template_id long, event_id string"


def _dim_local(spark: SparkSession, dim: list) -> DataFrame:
    return _local(
        spark, [{"template_id": t, "tokens": k} for t, k in dim], _DIM_DDL
    )


def _event_id(template: str) -> str:
    """md5-8 of the template string (outputResult, Drain.py:201-239) —
    Spark's ``substring(md5(template), 1, 8)`` over the UTF-8 bytes."""
    return hashlib.md5(template.encode("utf-8")).hexdigest()[:8]


def _route(tok):
    """Drain tree routing for one token: digit-bearing tokens (and wildcards)
    live under the '<*>' child (hasNumbers, Drain.py:62-63, 116-142)."""
    return F.when(
        tok.isNull() | tok.rlike(_HAS_DIGIT) | (tok == WILDCARD), F.lit(WILDCARD)
    ).otherwise(tok)


def _n_key_tokens(depth: int) -> int:
    """Tokens consumed by the tree below the length level: Drain descends
    while currentDepth < depth-2 (Drain.py:52 ``self.depth = depth - 2``,
    :74-85), i.e. the first ``depth-3`` tokens."""
    return max(depth - 3, 0)


def _route_key(tok):
    """``_route`` on the driver, for one dim token: the same rule, with the
    same ``[0-9]`` pattern (Java's ``rlike`` and Python's ``re.search`` both
    find any ASCII digit)."""
    if tok is None or tok == WILDCARD or re.search(_HAS_DIGIT, tok):
        return WILDCARD
    return tok


def _match(lines: DataFrame, dim: list, st: float, depth: int) -> DataFrame:
    """(line_id, tokens, template_id nullable, similarity) — best template
    per line with sim >= st, else NULL template_id.

    Candidates are the templates on the line's tree paths: equal token
    count, and per key level the template's routed token equals the line's
    token or is the wildcard child — exactly treeSearch's literal-then-'<*>'
    descent (Drain.py:79-84), except both branches are explored (a fixpoint
    can't depend on insertion order; strictly more candidates than the
    reference's first-fit descent, never fewer). The best candidate has the
    highest raw similarity, then more wildcards, then the smaller id: the
    dim row is sorted by id, so that is the smaller ordinal.
    """
    return _drain_pick(
        lines, dim, "bigint", _n_key_tokens(depth), _route_key, False, st, "tokens"
    )


def _leaf_key_cols(depth: int) -> list:
    nk = _n_key_tokens(depth)
    return [F.size("tokens").alias("_kn")] + [
        _route(F.get("tokens", i)).alias(f"_k{i}") for i in range(nk)
    ]


def _elect_founders(unmatched: DataFrame, depth: int) -> DataFrame:
    """ONE new template per tree leaf per round: the unmatched line with the
    smallest line_id (deterministic founder — the sequential reference founds
    with the FIRST unmatched line it sees, Drain.py:306-309)."""
    keyed = unmatched.select("line_id", "tokens", *_leaf_key_cols(depth))
    nk = _n_key_tokens(depth)
    return (
        keyed.groupBy("_kn", *[f"_k{i}" for i in range(nk)])
        .agg(F.min_by(F.struct("line_id", "tokens"), "line_id").alias("f"))
        .select(
            F.col("f.line_id").alias("template_id"), F.col("f.tokens").alias("tokens")
        )
    )


def _bulk_founders(unmatched: DataFrame) -> DataFrame:
    """Terminal founding: one template per DISTINCT token sequence. Used when
    per-leaf rounds stop paying off (template-free data — e.g. natural text —
    where nothing matches anything, so every distinct sequence must found
    anyway). Lines that would have merged into an earlier founder in the
    sequential reference may over-split here; bounded-round + bulk is the
    deterministic, scan-bounded compromise."""
    return (
        unmatched.groupBy("tokens")
        .agg(F.min("line_id").alias("template_id"))
        .select("template_id", "tokens")
    )


def _agreement_templates(assigned: DataFrame) -> DataFrame:
    """getTemplate (Drain.py:186-199) folded over every member: a position
    keeps its token iff ALL members agree there (the fold is associative &
    commutative, so a grouped min/max aggregation computes it exactly).
    ``members`` counts them: every member of a template has its length, so
    each position sees all of them."""
    pos = assigned.select(
        "template_id", F.posexplode("tokens").alias("pos", "tok")
    )
    agreed = pos.groupBy("template_id", "pos").agg(
        F.when(F.min("tok") == F.max("tok"), F.min("tok"))
        .otherwise(F.lit(WILDCARD))
        .alias("tok"),
        F.count(F.lit(1)).alias("n"),
    )
    return agreed.groupBy("template_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
        ).alias("tokens"),
        F.max("n").alias("members"),
    )


@dataclass
class InductionResult:
    templates: DataFrame            # (event_id, template, tokens, occurrences, is_new)
    assignments: DataFrame          # (line_id, event_id, similarity)
    founding_rounds: int = 0
    refine_passes: int = 0
    metrics: dict = field(default_factory=dict)


def induce_templates(
    lines: DataFrame,
    st: float = 0.5,
    depth: int = 4,
    warm_templates: DataFrame | None = None,
    max_founding_rounds: int = 8,
    max_refine_passes: int = 8,
    max_dim_rows: int = 50_000,
) -> InductionResult:
    """Learn the template dim from ``lines`` (line_id long, tokens
    array<string>), optionally warm-started from a known dim
    (``warm_templates``: template string per row, column ``template``).

    Returns md5-8 event ids + occurrences exactly like the reference's
    ``_templates.csv`` (outputResult, Drain.py:201-239); ``is_new`` marks
    templates not reachable from the warm dim (the v2 anomaly flag for
    never-seen-before lines, Drain.py:367-377).

    Driver-state bound: the template dim lives driver-side end to end
    (dim-sized by construction — the reference holds the whole cluster list in
    memory, Drain.py:286); each round re-creates it as a FLAT local relation,
    since an iterative plan that re-references itself doubles its logical
    tree every round, and ``templates`` is one local relation too. On template-POOR input (natural text, high-entropy
    ids) bulk founding could make the dim row-count-sized; every collect that
    grows the dim is therefore capped at ``max_dim_rows`` and overflow raises
    a clear ``ValueError`` instead of silently OOMing the driver. Raise the
    cap only if your template dim is genuinely that large.
    """
    from log_anomaly_detector_spark.operators.caching import tracked_persist

    spark = lines.sparkSession
    # one cached copy of the token table feeds EVERY round (founding matches,
    # refine matches, the final assignment) — tracked so repeated inductions
    # in one session hold a single live handle; recompute is deterministic
    lines = tracked_persist(
        "induction_lines", lines.filter(F.size("tokens") > 0)
    )

    def _collect_capped(df: DataFrame, have: int, what: str) -> list:
        budget = max_dim_rows - have
        rows = df.limit(budget + 1).collect() if budget >= 0 else []
        if budget < 0 or len(rows) > budget:
            raise ValueError(
                f"template dim would exceed max_dim_rows={max_dim_rows} while "
                f"collecting {what} (current dim: {have} templates). The input "
                "looks template-poor (near-distinct token sequences) — Drain "
                "induction is for templated log data; raise max_dim_rows only "
                "if the dim is genuinely this large, or pre-mask high-entropy "
                "tokens before induction."
            )
        return rows

    # warm templates get NEGATIVE internal ids in dim order → they win the
    # pinned tie-break (asc id) like the reference's insertion-order scan,
    # and survive as "not new" in the output
    if warm_templates is not None:
        # normalize whitespace runs NOW (' '.join(split)): the dim tokenizes
        # with split() but the final is_new lookup matches the re-joined
        # single-space template string — un-normalized warm strings with
        # consecutive internal spaces would never re-match and be wrongly
        # flagged is_new
        warm_strs = sorted(
            {
                " ".join(str(r["template"]).split())
                for r in _collect_capped(warm_templates, 0, "warm templates")
            }
        )
        dim = [(-(i + 1), s.split()) for i, s in enumerate(warm_strs)]
    else:
        warm_strs = []
        dim = []

    # ---- founding rounds: match → elect one founder per leaf → repeat;
    # when the round budget runs out (template-free data where nothing
    # matches anything), bulk-found the remainder per distinct sequence.
    # ONE action per round: the founder collect doubles as the convergence
    # probe (every unmatched line lives in some leaf, so zero founders ⟺
    # zero unmatched lines — no separate count job). ----
    remaining = lines
    rounds = 0
    while True:
        if not dim:
            # empty dim (cold start): every line is unmatched BY DEFINITION —
            # matching against nothing and persisting the filter result would
            # copy the full table into the cache for zero information (at
            # 16M lines that copy dominated the round's wall)
            unmatched = remaining
        else:
            m = _match(remaining, dim, st, depth)
            unmatched = m.filter(F.col("template_id").isNull()).select(
                "line_id", "tokens"
            ).persist(StorageLevel.MEMORY_AND_DISK)
        if rounds >= max_founding_rounds:
            bulk = _collect_capped(  # empty ⟺ already converged — no-op then
                _bulk_founders(unmatched), len(dim), "bulk founders"
            )
            dim = dim + [(r["template_id"], list(r["tokens"])) for r in bulk]
            if remaining is not lines:
                remaining.unpersist()
            if unmatched is not lines:
                unmatched.unpersist()
            break
        founders = _collect_capped(  # ≤ leaves rows; materializes unmatched
            _elect_founders(unmatched, depth), len(dim), "leaf founders"
        )
        if remaining is not lines and remaining is not unmatched:
            remaining.unpersist()
        if not founders:
            if unmatched is not lines:
                unmatched.unpersist()
            break
        dim = dim + [(r["template_id"], list(r["tokens"])) for r in founders]
        remaining = unmatched
        rounds += 1

    # ---- refinement passes: members → agreement template → re-match ----
    passes = 0
    last_assign, last_dim, members = None, None, {}
    while passes < max_refine_passes:
        templates = _dim_local(spark, dim)
        assign = tracked_persist("induction_assign", _match(lines, dim, st, depth))
        last_assign, last_dim = assign, dim
        matched = assign.filter(F.col("template_id").isNotNull())
        # the template itself is a virtual member: getTemplate merges the
        # line WITH the current template, so a position once '<*>' stays
        # '<*>' forever (wildcarding is monotone in the reference too)
        members_df = matched.select("template_id", "tokens").unionByName(
            templates
        )
        refined = _agreement_templates(members_df)
        # refinement can orphan lines (template generalized away from them) —
        # they re-found deterministically. ONE action per pass: the refined
        # dim and the orphan founders come back in a single tagged union
        # collect (both dim-sized; the cap covers their sum).
        orphans = assign.filter(F.col("template_id").isNull()).select(
            "line_id", "tokens"
        )
        combined = refined.withColumn("_orphan", F.lit(False)).unionByName(
            _bulk_founders(orphans)
            .withColumn("members", F.lit(0).cast("long"))
            .withColumn("_orphan", F.lit(True))
        )
        all_rows = _collect_capped(combined, 0, "refined dim + orphan founders")
        # assign stays cached (tracked, one handle): if this pass converges
        # with the dim EXACTLY unchanged it doubles as the final assignment
        refined_rows = [r for r in all_rows if not r["_orphan"]]
        members = {r["template_id"]: r["members"] for r in refined_rows}
        orphan_rows = sorted(
            (r for r in all_rows if r["_orphan"]),
            key=lambda r: r["template_id"],
        )
        # orphan founders get FRESH ids above every existing one (their
        # founding line may already own a live template from an earlier
        # round): deterministic, and newer clusters lose ties — matching the
        # reference's insertion-order scan
        next_id = (
            max(
                [tid for tid, _ in dim]
                + [r["template_id"] for r in refined_rows]
                + [0]
            )
            + 1
        )
        rows = [(r["template_id"], list(r["tokens"])) for r in refined_rows]
        for r in orphan_rows:
            rows.append((next_id, list(r["tokens"])))
            next_id += 1
        # two clusters can refine to the SAME template string — collapse them
        # keeping the smallest id (the reference dedupes by EventTemplate at
        # output, Drain.py:233-236)
        by_str: dict[str, tuple[int, list[str]]] = {}
        for tid, toks in rows:
            s = " ".join(toks)
            if s not in by_str or tid < by_str[s][0]:
                by_str[s] = (tid, toks)
        new_dim = sorted(by_str.values())
        changed = {s for s in by_str} != {" ".join(tk) for _, tk in dim}
        dim = new_dim
        passes += 1
        if not changed:
            break

    # ---- final output: md5-8 ids + occurrences (outputResult semantics) ----
    if last_assign is not None and sorted(last_dim) == sorted(dim):
        # the converged pass matched against this exact dim (same ids AND
        # tokens; order is irrelevant — matching ties break by template_id):
        # its cached assignment IS the final one, and its agreement
        # aggregate already counted each template's members (the matched
        # lines plus the template itself)
        final_assign = last_assign
        occurrences = {tid: members[tid] - 1 for tid, _ in dim}
    else:
        # no pass matched against the final dim (the pass cap ended the
        # refinement before it converged): one more match, counted by a
        # capped grouped collect
        final_assign = tracked_persist(
            "induction_assign", _match(lines, dim, st, depth)
        )
        counted = _collect_capped(
            final_assign.filter(F.col("template_id").isNotNull())
            .groupBy("template_id")
            .count(),
            0,
            "occurrences",
        )
        occurrences = {r["template_id"]: r["count"] for r in counted}
    # The lazy localCheckpoint BOUNDS a recompute trap: a SUBSEQUENT
    # induce_templates call in the same session replaces the tracked
    # 'induction_assign' slot, and without the checkpoint a caller who
    # hadn't yet materialized this result would recompute the whole match on
    # EVERY later action (correct — _match is deterministic — but
    # unbounded). With it, the caller's first action pins the rows: from the
    # still-warm cache when it runs before the next call (the normal path,
    # zero extra cost), or via AT MOST ONE recompute when the next call won
    # the race — never per-action. (An eager checkpoint would close even
    # that one recompute, but would charge every normal caller a full extra
    # materialization pass — the wrong trade for a line-count-sized table.)
    final_assign = final_assign.localCheckpoint(eager=False)
    warm_set = set(warm_strs)
    out_rows, event_ids = [], []
    for tid, toks in dim:
        template = " ".join(toks)
        eid = _event_id(template)
        event_ids.append({"template_id": tid, "event_id": eid})
        out_rows.append(
            {
                "event_id": eid,
                "template": template,
                "tokens": toks,
                "occurrences": occurrences.get(tid, 0),
                "is_new": template not in warm_set,
            }
        )
    assignments = final_assign.join(
        F.broadcast(_local(spark, event_ids, _EVENT_IDS_DDL)),
        "template_id",
        "left",
    ).select("line_id", "event_id", "similarity")
    return InductionResult(
        templates=_local(spark, out_rows, _TEMPLATES_DDL),
        assignments=assignments,
        founding_rounds=rounds,
        refine_passes=passes,
    )


# --- driver-contract entry: induce templates over documents-derived lines.
# Iterative fixpoint (data-dependent round count) → not ANSI-SQL-expressible
# → rows-only driver check; semantics are golden-gated against a sequential
# reference implementation in tests/test_template_induction.py. --------------
def q_template_induction(spark, sf_dir: str) -> DataFrame:
    from log_anomaly_detector_spark.functions.text_funcs import words
    from log_anomaly_detector_spark.operators.relational import t

    docs = t(spark, sf_dir, "documents")
    lines = docs.select(
        F.col("doc_id").cast("long").alias("line_id"),
        F.slice(words(F.col("text")), 1, 8).alias("tokens"),
    )
    # natural text is template-poor — one founding round demonstrates the
    # elect-per-leaf path, then bulk founding absorbs the rest (round 2 of 3
    # only re-matched ~7% of lines on this fixture, pure contract-wall cost);
    # log-like data converges before any cap regardless of budget
    res = induce_templates(
        lines, st=0.5, depth=4, max_founding_rounds=1, max_refine_passes=2
    )
    return res.templates.select(
        "event_id", "template", "occurrences", "is_new"
    ).orderBy(F.desc("occurrences"), "template")
