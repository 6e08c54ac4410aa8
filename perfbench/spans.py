"""Span capture around calls into the program, Spark job/stage/task
counts per span, self time, and the process-tree RSS sampler.

Spans are recorded only from the benchmark's own files, around the
public calls it makes; nothing inside the program is instrumented.
Each span records name, start, end, parent span and run id, is held in
memory, and is written out once when the run ends.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


COUNT_WAIT_S = 5.0


def _stage_settled(st, job_status: str) -> bool:
    """No task of the stage is running, and its counts are final: every
    task finished, none ran (a skipped stage), or the job failed (the
    stage's remaining tasks were killed)."""
    if st is None:
        return True
    if st.numActiveTasks:
        return False
    done = st.numCompletedTasks + st.numFailedTasks
    return done == 0 or done >= st.numTasks or job_status == "FAILED"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    run_id: str
    phase: str
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = field(default=0.0)


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.

    While a span is open, its own Spark job group is set on the calling
    thread, so the status tracker can attribute every job the call
    launched to exactly one span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.overhead_s = {"setup": 0.0, "timed": 0.0}  # own bookkeeping

    def bind(self, sc) -> None:
        self._sc = sc

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), parent=parent.id if parent else None, name=name,
            start=0.0, end=0.0, run_id=self.run_id, phase=self.phase,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._sc
        if sc is not None:
            sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        self.overhead_s[sp.phase] += sp.start - t_in
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._count(sc, sp)
                if parent is not None:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s[sp.phase] += time.perf_counter() - sp.end

    def _count(self, sc, sp: Span) -> None:
        """Jobs, stages and tasks the span launched. The status tracker
        is fed asynchronously by the listener bus, so first wait (up to
        COUNT_WAIT_S each) for the bus to drain and until every job of
        the group has ended and no stage still has running tasks or an
        unflushed task count."""
        try:
            # every job's end event is posted before its action returns,
            # so once the bus is drained the tracker holds the whole span
            sc._jsc.sc().listenerBus().waitUntilEmpty(int(COUNT_WAIT_S * 1000))
        except Exception as e:  # internal API: fall back to polling alone
            print(f"# listener bus wait failed: {type(e).__name__}", file=sys.stderr)
        tracker = sc.statusTracker()
        group = self._group(sp)
        deadline = time.perf_counter() + COUNT_WAIT_S
        while True:
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            jobs = [j for j in jobs if j is not None]
            stages = {}  # a shuffle stage reused by a later job is listed by both
            for job in jobs:
                for sid in job.stageIds:
                    stages[sid] = (tracker.getStageInfo(sid), job.status)
            if all(j.status in ("SUCCEEDED", "FAILED") for j in jobs) and all(
                _stage_settled(st, status) for st, status in stages.values()
            ):
                break
            if time.perf_counter() >= deadline:
                print(f"# span {sp.name}: Spark counts still moving after "
                      f"{COUNT_WAIT_S}s, counted as they stand", file=sys.stderr)
                break
            time.sleep(0.005)
        sp.jobs = len(jobs)
        for st, _ in stages.values():
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped after its job ended: shuffle output reused
            sp.stages += 1
            sp.tasks += st.numCompletedTasks
            sp.failed_tasks += st.numFailedTasks

    def finish(self) -> None:
        """Compute each span's self time: its duration minus the part
        of that interval its child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            covered, cursor = 0.0, sp.start
            for ch in sorted(children.get(sp.id, ()), key=lambda c: c.start):
                lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            sp.self_s = (sp.end - sp.start) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")

    def calls(self, name: str, phase: str = "timed") -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == phase]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = stat[stat.rindex(")") + 2 :].split()
    return out


def descendants(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """``root`` and every process below it."""
    stats = _proc_stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and every descendant process."""
    return sum(_rss_kb(pid) for pid in descendants(root))


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
