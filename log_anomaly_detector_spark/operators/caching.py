"""Tracked intra-query caches.

Some contract queries persist an intermediate that two branches of the SAME
plan share (e.g. the shingle-set table feeds both the candidate and the
verify side of the Jaccard join). The query function returns a LAZY
DataFrame, so it cannot unpersist before the caller materializes — but an
untracked ``persist()`` then leaks across invocations (bench loops and the
oracle harness re-build the query many times; Spark logs "Asked to cache
already cached data" and the executor store fills with dead plans).

``tracked_persist(key, df)`` keeps exactly ONE live handle per key: the next
invocation under the same key unpersists the previous handle (blocking=False
— Spark drops the blocks asynchronously) before registering the new one.
Long sessions therefore hold at most one cached copy per query, and
``release_all()`` drops everything (tests / session teardown).

SAFETY CONTRACT: only use this for intermediates whose recompute is
DETERMINISTIC (pure expressions over stable inputs, like the Jaccard
shingle sets) — eviction means a later materialization may recompute the
plan from scratch. It is NOT safe for re-sampled layouts: a
``repartitionByRange`` re-samples its boundaries on recompute, so anything
that pairs collected metadata with that layout must ``localCheckpoint``
instead (see relational._two_phase_rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[str, DataFrame] = {}


def tracked_persist(key: str, df: DataFrame) -> DataFrame:
    prev = _LIVE.pop(key, None)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                # identical canonicalized plan (sameSemantics is exact, not a
                # hash) — hand back the already-warm handle instead of paying
                # a rebuild; queries that compose other queries (e.g. cluster
                # resolution re-deriving the jaccard pair plan) hit this
                _LIVE[key] = prev
                return prev
        except Exception:  # session gone / plan not comparable — replace
            pass
        try:
            prev.unpersist(blocking=False)
        except Exception:  # session gone — nothing to release
            pass
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE[key] = out
    return out


def release_all() -> None:
    for key in list(_LIVE):
        df = _LIVE.pop(key)
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
