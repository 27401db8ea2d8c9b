"""Spans recorded around calls into the engine's public functions.

With tracing off a span only reads the clock twice. With tracing on it
also gives the Spark work it launches a job group of its own; the jobs,
stages and tasks of each group are read back from ``statusTracker`` once
the run is over (the status store is filled asynchronously, so reading it
right after an action can miss that action's last job).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: int | None = None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: int | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, 0.0, parent=parent, qid=qid)
        self.spans.append(s)
        self._stack.append(idx)
        if self.traced and self.sc is not None:
            s.group = f"perfbench-{idx}"
            self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.traced and self.sc is not None:
                # later jobs of the enclosing span land in its own group
                outer = self.spans[parent] if parent is not None else None
                self.sc.setJobGroup(
                    outer.group if outer else "perfbench-idle",
                    outer.name if outer else "idle",
                )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def resolve_counters(self, settle_s: float = 1.0) -> None:
        """Fill jobs/stages/tasks of every span from the status store."""
        if not (self.traced and self.sc is not None):
            return
        time.sleep(settle_s)  # let the listener bus drain
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            job_ids = st.getJobIdsForGroup(s.group)
            stage_ids = set()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s.jobs = len(job_ids)
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                # a stage whose shuffle output was reused is listed by its
                # job but skipped: it ran no task
                if info is not None and info.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += info.numCompletedTasks

    def totals(self, span: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of a span including its descendants."""
        out = [span.jobs, span.stages, span.tasks]
        idx = self.spans.index(span)
        for s in self.spans:
            if s.parent == idx:
                for i, v in enumerate(self.totals(s)):
                    out[i] += v
        return tuple(out)

    def _root(self, s: Span) -> Span:
        while s.parent is not None:
            s = self.spans[s.parent]
        return s

    def self_seconds(self, roots: tuple[str, ...]) -> dict[str, float]:
        """Per layer: span time not covered by the span's children, over
        the trees under root spans named in ``roots``."""
        out: dict[str, float] = {}
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.dur
        for s, covered in zip(self.spans, child_time):
            if self._root(s).name in roots:
                out[s.layer] = out.get(s.layer, 0.0) + s.dur - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1
            )
