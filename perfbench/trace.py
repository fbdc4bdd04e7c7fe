"""In-memory spans around calls into the engine's public functions.

A span records name, start, end, parent and the run id, and the number of
Spark jobs the call started: every span sets its own job group
(``<run id>:<span index>``), so the status tracker can count the group's
jobs and the event log can attribute stages to the traced pass.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import time


class Tracer:
    def __init__(self, sc, run_id):
        self.sc = sc
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        """Time the body; yields the span dict, where the caller may add
        counts (``rows_out`` and the like)."""
        rec = {"name": name, "run": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None}
        rec["group"] = "{}:{}".format(self.run_id, rec["id"])
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spark_jobs"] = len(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def find(self, name):
        return [s for s in self.spans if s["name"] == name]

    def busy_s(self, name):
        return sum(s["end"] - s["start"] for s in self.find(name))

    def jobs(self, name):
        """Jobs started inside every span of this name, children included."""
        ids = {s["id"] for s in self.find(name)}
        total = 0
        for s in self.spans:
            p, anc = s, False
            while p is not None:
                if p["id"] in ids:
                    anc = True
                    break
                p = self.spans[p["parent"]] if p["parent"] is not None else None
            if anc:
                total += s["spark_jobs"]
        return total
