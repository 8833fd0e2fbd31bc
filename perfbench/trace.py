"""Operation timing, Spark job accounting and in-memory spans.

``Recorder`` times each benchmark operation, and asks Spark's status
tracker how many jobs, stages and tasks the operation ran.  With
tracing on it also keeps spans (name, start, end, parent, op id) in
memory and writes them to a JSON file when the run ends; per-layer
self time is computed from those spans afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class OpRecord:
    op: int
    kind: str  # "read" or "write"
    name: str
    latency_s: float
    ok: bool = True
    error: str | None = None
    slot: int = 0  # position in its cycle
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Recorder:
    spark: object
    tracing: bool
    spans: list[Span] = field(default_factory=list)
    ops: list[OpRecord] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    _stack: list[int] = field(default_factory=list)
    _op: int | None = None
    _seen_jobs: set[int] = field(default_factory=set)

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call into one layer (no-op when tracing is off)."""
        if not self.tracing:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.tracing:
            self.counters[name] += n

    # -- Spark job accounting -------------------------------------------

    def _all_job_ids(self) -> set[int]:
        # the program sets no job groups, so every job of the
        # single-client loop is in the ungrouped set
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def mark_jobs(self) -> None:
        """Forget every job so far (set-up and warm-up jobs)."""
        self._seen_jobs = self._all_job_ids()

    def _new_job_counts(self) -> tuple[int, int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        now = self._all_job_ids()
        new = now - self._seen_jobs
        self._seen_jobs = now
        stages = tasks = 0
        for jid in new:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for st in info.stageIds:
                sinfo = tracker.getStageInfo(st)
                if sinfo is None:  # skipped stage: nothing ran
                    continue
                stages += 1
                tasks += sinfo.numTasks
        return len(new), stages, tasks

    # -- operations -----------------------------------------------------

    def run_op(self, kind: str, name: str, fn):
        """Run one operation; returns (record, result).  An exception
        marks the operation failed instead of ending the run."""
        op_id = len(self.ops)
        self._op = op_id
        result = None
        err = None
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                result = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is data
            err = f"{type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        self._op = None
        rec = OpRecord(op_id, kind, name, latency, err is None, err)
        rec.jobs, rec.stages, rec.tasks = self._new_job_counts()
        self.ops.append(rec)
        return rec, result

    # -- reporting ------------------------------------------------------

    def self_times(self) -> dict[str, tuple[float, int]]:
        """{span name: (total self seconds, calls)} where self time is a
        span's duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children[s.sid], key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            rec = out[s.name]
            rec[0] += max(0.0, (s.end - s.start) - covered)
            rec[1] += 1
        return {k: (v[0], int(v[1])) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "ops": [o.__dict__ for o in self.ops],
                    "counters": dict(self.counters),
                },
                fh,
            )
