"""Near-dup cluster resolution: pair graph → connected components →
canonical document per cluster.

The reference dedupes at two granularities — exact duplicate drop during
data prep (HDFS/data_process.py's set-based block dedup) and template-level
merging (Drain/Spell cluster upkeep). A training-data pipeline needs the
step BETWEEN pair generation and keep-one-per-group: near-dup pairs
(Jaccard/MinHash/embedding — all implemented in this repo) are edges of a
graph whose CONNECTED COMPONENTS are the duplicate clusters; the canonical
doc is the minimum id in each component (keep it, drop the rest).

Spark lift: iterative min-label propagation —

    label(v) ← min(label(v), min over neighbors' labels)

converges in graph-diameter rounds (duplicate clusters are shallow by
construction: near-dup similarity is almost-transitive, so diameters are
small). Each round is one keyed join + one grouped min; per-round driver
state is ONE scalar (the changed-label count), and the label DataFrame is
``localCheckpoint``-ed every round — an iterative plan that re-references
itself doubles its logical tree per round and melts the analyzer (see
CLAUDE.md). Rounds are capped with a clear error, not an unbounded loop.

Scale shape: edges shuffle once per round keyed by node; components never
materialize driver-side; the big-data analogue (large-star/small-star) has
the same per-round shape — this is the diameter-bounded variant, the right
trade for dedup graphs. Deterministic (min over ids) → HARD DuckDB oracle
via a recursive-CTE transitive closure over the same Jaccard pair query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_anomaly_detector_spark.operators.relational import collect_capped
from log_anomaly_detector_spark.operators.text import _JACCARD_SQL

# total rounds of the iterative path (connected_components)
_MAX_ROUNDS = 20
# the most edges resolved driver-side by union-find
_COLLECT_BUDGET = 1_000_000


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component_id) for every node of the (doc_a, doc_b) edges in
    ``pairs``; component_id = the minimum node id reachable from it.

    SIZE-DISPATCHED (round 7): the pair graph of a near-dup pass is
    RESULT-sized (edges exist only between actual duplicates), and at bench
    scale it is a few thousand rows — but the iterative propagation still
    paid diameter+1 rounds of fixed job overhead (join + grouped min +
    checkpoint ≈ 0.4 s/round) to resolve it. When ``collect_capped`` brings
    back the (persisted) edges within ``_COLLECT_BUDGET`` rows — one job
    that both measures and delivers them — the components are resolved
    DRIVER-side with union-find over them, O(edges·α) work on a dim-sized
    list, the same driver-state pattern as template_induction's dim, and
    returned as one createDataFrame with byte-identical (node,
    min-reachable-id) semantics (pinned by the fast-vs-iterative parity
    test). Larger graphs (the 100 TB regime) keep the distributed iterative
    path below; tests force it with ``_COLLECT_BUDGET = 0``.

    Iterative path: ONE Spark action per round — each node's OLD label rides
    through the grouped min as a second aggregate (own rows are tagged, and
    a node owns exactly one label row), so the changed-count comes out of
    the same aggregation instead of a separate join-and-count job, and the
    per-round checkpoint is LAZY — the convergence-probe aggregate
    materializes it.

    ``_MAX_ROUNDS`` bounds TOTAL rounds of the iterative path, including the
    final quiet round that observes changed==0 — a component of diameter D
    needs up to D propagation rounds plus that confirmation, so the deepest
    resolvable diameter is ``_MAX_ROUNDS - 1``. Exceeding it raises (a
    duplicate graph with diameter ≥ 20 means the pair generator is linking
    non-duplicates — fail loudly, don't spin)."""
    # the symmetrizing union reads ``pairs`` twice — without a persist that
    # is two full executions of the (expensive) pair-generation plan inside
    # the edge checkpoint; cache it for the one action that builds edges,
    # then drop it (rounds only ever touch the checkpointed edge table)
    pairs_c = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        # a pair with a NULL endpoint is no edge: NULL is never a node
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .persist()
    )
    # symmetrized edges; the union types nodes as the wider endpoint type
    sym = pairs_c.unionByName(
        pairs_c.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    rows = collect_capped(pairs_c, _COLLECT_BUDGET)
    if rows is not None:
        pairs_c.unpersist(blocking=False)
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r["s"], r["d"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id: the root IS the component id, so the
                # min-reachable-node contract holds by construction
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(n, find(n)) for n in parent]
        node_t = sym.schema["s"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            out, f"node {node_t}, component_id {node_t}"
        )
    edges = sym.distinct().localCheckpoint()  # eager: pairs_c can release
    pairs_c.unpersist(blocking=False)
    labels = edges.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_MAX_ROUNDS):
        nbr = edges.join(
            labels.withColumnRenamed("node", "d").select("d", "label"), "d"
        ).select(F.col("s").alias("node"), "label", F.lit(False).alias("_own"))
        new_labels = (
            labels.select("node", "label", F.lit(True).alias("_own"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
            # truncate lineage (flat plan every round); lazy — the changed
            # aggregate below is the round's single materializing action
            .localCheckpoint(eager=False)
        )
        # coalesce: sum over ZERO rows is NULL — an empty pair graph must
        # read as converged (0 changes), not spin to the round cap
        changed = new_labels.agg(
            F.coalesce(
                F.sum((F.col("label") != F.col("_old")).cast("int")), F.lit(0)
            ).alias("n")
        ).collect()[0]["n"]
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component_id"))
    raise ValueError(
        f"connected_components did not converge within _MAX_ROUNDS={_MAX_ROUNDS} "
        f"rounds (diameter cap {_MAX_ROUNDS - 1} plus one confirmation round) — "
        "the pair graph has a longer diameter than any plausible duplicate "
        "cluster; check the pair generator's threshold."
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the exact 3-gram-Jaccard near-dup pairs:
    (doc_id, component_id, keep) — keep=True on the canonical (minimum)
    doc of each cluster, False on the members a dedup pass would drop."""
    from log_anomaly_detector_spark.operators.text import q_jaccard_near_dup

    pairs = q_jaccard_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component_id",
        (F.col("node") == F.col("component_id")).alias("keep"),
    )


_CLUSTERS_SQL = f"""
WITH RECURSIVE jacc AS ({_JACCARD_SQL}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM jacc
  UNION
  SELECT doc_b AS s, doc_a AS d FROM jacc
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id,
       least(s, min(d)) AS component_id,
       s = least(s, min(d)) AS keep
FROM reach GROUP BY s
"""

QUERIES = {"dedup_clusters": q_dedup_clusters}
ORACLES = {"dedup_clusters": _CLUSTERS_SQL}
