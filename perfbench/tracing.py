"""Spans around the benchmark's calls into each layer, and Spark's own
per-stage runtime statistics for every call.

Spans (name, start, end, parent, run id) are kept in memory and written
out once, when the run ends. Stage totals come from the status store
(``sc._jsc.sc().statusStore()``), which Spark keeps even with the UI
disabled. Each call gets a job group id unique to the run: reusing a
group name would accumulate the jobs of earlier calls.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "input_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    adds no Spark calls, so untraced runs measure the program alone."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StageCollector:
    """Runs a call under a fresh job group and sums the stage statistics
    of the jobs it launched."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.run_id = run_id
        self._seq = itertools.count()

    @contextmanager
    def group(self, label: str):
        gid = f"{self.run_id}:{next(self._seq)}:{label}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=False)
        try:
            yield gid
        finally:
            self.sc.setJobGroup("", "")

    def job_ids(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def totals(self, job_ids) -> dict:
        """Stage totals for ``job_ids``; stages skipped because their
        shuffle output was reused have no attempt and count as zero."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = 0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            stages += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["stages"] = stages
        return out
