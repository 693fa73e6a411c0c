"""Spans around calls into the program's layers, with Spark job/task counts.

Each span runs under its own Spark job group, so the status tracker
attributes every job the span's calls trigger to it exactly. Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Yield the span's ``counts`` dict; callers add their own counts
        (rows, bytes, ...) to it. ``jobs`` and ``tasks`` are filled in here."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": f"{self.run_id}.{len(self.spans)}",
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            jobs = self._tracker.getJobIdsForGroup(rec["id"])
            tasks = 0
            for jid in jobs:
                info = self._tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = self._tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["counts"]["jobs"] = len(jobs)
            rec["counts"]["tasks"] = tasks

    def self_times(self, root_id: str) -> dict[str, float]:
        """Self time per span name under ``root_id`` (summed over repeats):
        a span's duration minus the time its direct children cover."""
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(span: dict) -> None:
            covered = sum(c["end"] - c["start"] for c in children.get(span["id"], []))
            out[span["name"]] = out.get(span["name"], 0.0) + (
                span["end"] - span["start"] - covered
            )
            for c in children.get(span["id"], []):
                walk(c)

        for s in self.spans:
            if s["id"] == root_id:
                walk(s)
        return out

    def counts(self, root_id: str) -> dict[str, dict[str, float]]:
        """Counts per span name under ``root_id``, summed over repeats."""
        by_parent: dict[str, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out: dict[str, dict[str, float]] = {}
        todo = [s for s in self.spans if s["id"] == root_id]
        while todo:
            s = todo.pop()
            agg = out.setdefault(s["name"], {})
            for k, v in s["counts"].items():
                agg[k] = agg.get(k, 0) + v
            todo.extend(by_parent.get(s["id"], []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
