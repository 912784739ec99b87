"""In-memory spans around the benchmark's calls into the package's modules.

A span has a name, start, end, parent and op id. Spans are recorded only in
a traced run, kept in a list and written out once at exit. Spark work is
counted per op through ``SparkContext.statusTracker``: a service request runs
on the server's thread, so its jobs are the ungrouped job ids that appear
between sending it and its response.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost = 0.0  # seconds spent in tracing itself (bookkeeping + extra calls)

    @contextmanager
    def span(self, name: str, op_id: str | None = None, extra: bool = False, **attrs):
        """Record ``name`` around the block (no-op when tracing is off).

        The span's op id defaults to its parent's. ``extra``: the block is a
        call only traced runs make, so its whole time counts as tracing cost."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op_id}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.cost += time.perf_counter() - (rec["start"] if extra else rec["end"])

    @contextmanager
    def off(self):
        """Leave the block untraced (a warm-up inside a traced run)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def spark_work(self, job_ids: list[int]) -> dict[str, int]:
        """Jobs, executed stages and completed tasks of ``job_ids``."""
        from perfbench.session import drain_listener

        drain_listener(self.spark)
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def ungrouped_jobs(self) -> set[int]:
        t0 = time.perf_counter()
        ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        self.cost += time.perf_counter() - t0
        return ids

    def self_times(self, name: str) -> list[float]:
        """Self time of each ``name`` span: its duration minus the part its
        direct children cover (children of one span run one after another)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            s["end"] - s["start"] - kids.get(s["id"], 0.0)
            for s in self.spans
            if s["name"] == name
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
