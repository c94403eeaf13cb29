"""Spans recorded from outside the program, around calls into its modules.

A span has a name, a start, an end and a parent.  Spans are kept in memory
and written as JSON when the run ends.  Each span also records the Spark
jobs launched while it was open, read from ``SparkContext.statusTracker()``
(works with ``spark.ui.enabled=false``), and, once the traced phase is
over, their stage count.
No job group is set, so every job is counted under the null group; the
benchmark runs one client at a time, so the jobs launched while a span is
open are that span's, whichever thread launched them.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(None))

    def count_stages(self) -> None:
        """Give every span its ``spark_jobs`` and ``spark_stages`` counts.
        Called once the traced phase is over, so that looking up each job's
        stages adds nothing to the spans' times."""
        stages = {}
        for s in self.spans:
            for j in s["job_ids"]:
                if j not in stages:
                    info = self._tracker.getJobInfo(j)
                    stages[j] = len(info.stageIds) if info is not None else 0
            s["spark_jobs"] = len(s["job_ids"])
            s["spark_stages"] = sum(stages[j] for j in s["job_ids"])

    @contextmanager
    def span(self, name: str, **attrs):
        before = self._job_ids()
        record = {"id": len(self.spans), "name": name,
                  "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(record)
        self._stack.append(record["id"])
        start = time.perf_counter()
        try:
            yield record
        finally:
            end = time.perf_counter()
            self._stack.pop()
            record.update(start=start, end=end,
                          job_ids=sorted(self._job_ids() - before))

    def wrap(self, name: str, fn):
        """Return ``fn`` with every call recorded as a span ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def total(self, name: str, field: str = "dur", since: float = 0.0) -> float:
        """Summed duration (or ``field``) of the ``name`` spans opened at or
        after ``since``."""
        return sum(s["end"] - s["start"] if field == "dur" else s[field]
                   for s in self.named(name, since))

    def top_level_s(self, since: float) -> float:
        """Summed duration of the parentless spans opened at or after
        ``since``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None and s["start"] >= since)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def span(tracer: Tracer | None, name: str, **attrs):
    """``tracer.span(name)``, or a no-op context when not tracing."""
    return tracer.span(name, **attrs) if tracer else nullcontext()
