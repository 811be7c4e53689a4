"""Spans around calls into the engine, with Spark job counts per span.

Each span sets its own Spark job group, so `statusTracker` attributes
every job started inside it to that span. Spans are held in memory and
written out by the caller at the end of the run. With `enabled=False`
only top-level spans set a job group (the untraced runs still count
jobs, tasks and failures for `ok_share`) and no span records are kept.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.totals = {"jobs": 0, "jobs_failed": 0, "stages": 0, "tasks": 0,
                       "tasks_failed": 0}

    def rebind(self, sc) -> None:
        """Follow a restarted SparkContext (the 1 -> 4 scaling row)."""
        self.sc = sc

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        out = {"jobs": 0, "jobs_failed": 0, "stages": 0, "tasks": 0,
               "tasks_failed": 0}
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            out["jobs_failed"] += info.status == "FAILED"
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                # stages skipped through shuffle reuse ran no task
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
                out["tasks_failed"] += stage.numFailedTasks
        return out

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled and self._stack:
            # untraced: only top-level phases set a job group
            yield None
            return
        self._seq += 1
        group = f"{self.run_id}-{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "id": self._seq, "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "group": group, "attrs": attrs}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["own"] = self._counts(group)
            for k, v in rec["own"].items():
                self.totals[k] += v
            if self.enabled:
                self.spans.append(rec)

    def subtree(self, rec: dict) -> dict:
        """Counts and self time of a span including all its descendants."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        counts = dict(rec["own"])
        child_time = 0.0
        for kid in kids:
            sub = self.subtree(kid)
            for k in counts:
                counts[k] += sub[k]
            child_time += kid["end"] - kid["start"]
        counts["s"] = rec["end"] - rec["start"]
        counts["self_s"] = counts["s"] - child_time
        return counts

    def report(self) -> list[dict]:
        out = []
        for rec in self.spans:
            sub = self.subtree(rec)
            out.append({"name": rec["name"], "id": rec["id"],
                        "parent": rec["parent"], "run_id": rec["run_id"],
                        "start": rec["start"], "end": rec["end"],
                        "attrs": rec["attrs"], **sub})
        return out
