"""In-memory spans around the benchmark's calls into the program.

A span records name, start, end, parent span and op id, plus the Spark
jobs, stages and tasks that ran inside it (attributed with a job group
per span and read back from the public status tracker; work Spark runs
under its own group, such as a stream's micro-batches under the query's
run id, is added with `attribute`). Spans are kept
in memory and written as JSON lines when the run ends. Self time is a
span's duration minus the time its children cover.

With tracing off, `span()` records nothing and never touches Spark, so
untraced runs carry no tracing cost.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int = -1):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-span-{s.id}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.attribute(s, group)
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-span-{outer.id}", outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def attribute(self, s: Span, group: str) -> None:
        """Add the jobs, stages and tasks of job group `group` to `s`."""
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks

    # -- summaries ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids[s.id], key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = s.dur - covered
        return out

    def by_layer(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name, over spans of the given ops: summed duration,
        self time and Spark job/stage/task counts (own spans only)."""
        self_t = self.self_times()
        agg: dict[str, dict[str, float]] = defaultdict(
            lambda: {"busy_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
        )
        for s in self.spans:
            if s.op not in ops:
                continue
            a = agg[s.name]
            a["busy_s"] += s.dur
            a["self_s"] += self_t[s.id]
            a["jobs"] += s.jobs
            a["stages"] += s.stages
            a["tasks"] += s.tasks
        return dict(agg)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        self_t = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["self"] = self_t[s.id]
                f.write(json.dumps(d) + "\n")
