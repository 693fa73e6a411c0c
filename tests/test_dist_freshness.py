"""Freshness gate for the spark-submit artifact (dist/engine.zip).

Round-5 verdict found the packaged similarity.py was pre-round-3 (no Arrow
kernels) and the packaged multimodal.py still carried the NULL-payload crash:
a stale zip is invisible to every test that imports from the tree. This gate
asserts every zip member's bytes match the tree AND the zip has no extra or
missing members, so the `spark-submit --py-files dist/engine.zip` lifecycle
(SURVEY §3.4, README) can never silently ship old code again.

Rebuild with `python make_pyfiles.py`; check standalone with
`python make_pyfiles.py --check`.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import make_pyfiles  # noqa: E402


def test_engine_zip_matches_tree():
    diffs = make_pyfiles.staleness()
    assert not diffs, (
        "dist/engine.zip is stale — run `python make_pyfiles.py`:\n  "
        + "\n  ".join(diffs)
    )


def test_engine_zip_covers_hot_modules():
    """The members that rotted in round 5 must be present and non-trivial."""
    tree = make_pyfiles.tree_members()
    for mod in (
        "log_anomaly_detector_spark/operators/similarity.py",
        "log_anomaly_detector_spark/operators/multimodal.py",
        "log_anomaly_detector_spark/engine.py",
    ):
        assert mod in tree, f"{mod} missing from package walk"
    # The round-5 defect signature: packaged similarity.py had zero Arrow
    # kernels. Guard the tree copy actually contains them (so byte-equality
    # above transfers the property to the zip).
    sim = tree["log_anomaly_detector_spark/operators/similarity.py"]
    assert b"pandas_udf" in sim, "similarity.py lost its Arrow kernels"
    mm = tree["log_anomaly_detector_spark/operators/multimodal.py"]
    assert b"isNotNull" in mm, "multimodal.py lost the NULL-payload guard"


def test_every_packaged_module_imports():
    """Every zip member imports, so a deletion that leaves a dangling import
    (a stale ``__init__`` re-export) fails here, not at its first caller."""
    import importlib

    for arcname in sorted(make_pyfiles.tree_members()):
        name = arcname[: -len(".py")].replace("/", ".").removesuffix(".__init__")
        importlib.import_module(name)
