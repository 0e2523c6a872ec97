"""Spans around the benchmark's calls into each layer, Spark status-store
counters attributed to those spans, and process-tree resource use.

Tracing is off for the end-to-end runs (``Tracer(enabled=False)`` makes
``span`` a bare ``yield``).  When on, each span records name, start,
end, parent span and, for serving, the request id; spans stay in memory
and are written out once at the end.  Counters come from Spark's own
status store (``sc._jsc.sc().statusStore()``), read once after the
workload: a job belongs to the request whose id is its job group, or
else to the innermost sequential span whose interval holds the job's
submission time.  Reading the store after the fact keeps py4j traffic
out of the timed region; what tracing does inside it (span bookkeeping,
setting job groups) is summed into ``overhead_s``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    request_id: str | None = None
    jobs: int = 0
    stages: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, spark=None, request_id: str | None = None, **attrs):
        """Time one layer call.  With ``request_id`` the span's Spark
        jobs are tagged with it as their job group (``spark`` needed)."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        sp = Span(
            next(self._ids), name, time.time(),
            parent=stack[-1].span_id if stack else None,
            request_id=request_id, attrs=dict(attrs),
        )  # fmt: skip
        if request_id is not None:
            spark.sparkContext.setJobGroup(request_id, name)
        stack.append(sp)
        book = time.perf_counter() - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            if request_id is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += book + (time.perf_counter() - t_out)

    # ── after the workload ─────────────────────────────────────────

    def attribute_counters(self, spark) -> None:
        """Read every retained job and stage from the status store and
        add its counters to the span that caused it."""
        if not self.enabled:
            return
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_request = {s.request_id: s for s in self.spans if s.request_id}
        sequential = sorted(
            (s for s in self.spans if s.request_id is None),
            key=lambda s: s.duration,
        )  # innermost (shortest) first
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            owner = by_request.get(group.get()) if group.isDefined() else None
            if owner is None:
                sub = job.submissionTime()
                if not sub.isDefined():
                    continue
                t = sub.get().getTime() / 1000.0
                owner = next(
                    (s for s in sequential if s.start <= t <= s.end), None
                )
            if owner is None:
                continue
            owner.jobs += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Exception:  # stage evicted or never submitted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                owner.stages += 1
                owner.input_bytes += st.inputBytes()
                owner.output_bytes += st.outputBytes()
                owner.shuffle_bytes += st.shuffleWriteBytes()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus what child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(c.duration for c in children.get(s.span_id, []))
            out[s.name] = out.get(s.name, 0.0) + max(s.duration - covered, 0.0)
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = {
            "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)],
            "self_times_s": self.self_times(),
            "overhead_s": self.overhead_s,
            **extra,
        }
        path.write_text(json.dumps(doc, indent=1, default=str))


# ── process tree ───────────────────────────────────────────────────

def _descendants(root: int) -> list[int]:
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parents[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        frontier += kids
    return out


def process_tree_usage(root: int | None = None) -> dict[str, float]:
    """CPU seconds (user+system, reaped children included) and summed
    peak RSS in MB of this process and every live descendant — in
    local mode that is the Python driver, the JVM and its Python
    workers."""
    root = os.getpid() if root is None else root
    tck = float(os.sysconf("SC_CLK_TCK"))
    cpu, rss_kb = 0.0, 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            cpu += sum(int(x) for x in fields[11:15]) / tck
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss_kb += int(line.split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return {"cpu_s": cpu, "peak_rss_mb": rss_kb / 1024.0}


def live_descendants(root: int | None = None) -> list[int]:
    return _descendants(os.getpid() if root is None else root)
