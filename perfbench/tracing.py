"""Benchmark-side tracing: spans around calls into the program's public
functions, each carrying the Spark stage counters of the work it caused.

Wrappers are installed on the imported module attributes at run start and
removed at the end; the program's source is untouched. Spans are kept in
memory and summarized when the run ends. Counters come from Spark's
status store (available with the UI disabled): the stages a span covers
are the stage ids allocated between its start and its end.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

from stats import self_times

# StageData fields summed into a span's counters
_COUNTERS = (
    ("tasks", "numCompleteTasks"),
    ("executor_cpu_ns", "executorCpuTime"),
    ("input_bytes", "inputBytes"),
    ("input_records", "inputRecords"),
    ("output_bytes", "outputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("memory_spill_bytes", "memoryBytesSpilled"),
    ("disk_spill_bytes", "diskBytesSpilled"),
)
COUNTER_NAMES = ("stages",) + tuple(name for name, _ in _COUNTERS)


class SparkCounters:
    """Reads per-stage metrics of one SparkContext from its status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._cache: dict[int, dict[str, int]] = {}

    def next_stage_id(self) -> int:
        return int(self._jsc.dagScheduler().nextStageId())

    def between(self, first: int, end: int) -> dict[str, int]:
        """Summed counters of the stages with ids in [first, end)."""
        if end > first:
            self._jsc.listenerBus().waitUntilEmpty()
        total = dict.fromkeys(COUNTER_NAMES, 0)
        for sid in range(first, end):
            stage = self._stage(sid)
            for k, v in stage.items():
                total[k] += v
        return total

    def _stage(self, sid: int) -> dict[str, int]:
        if sid not in self._cache:
            row = dict.fromkeys(COUNTER_NAMES, 0)
            try:
                attempts = self._jsc.statusStore().stageData(sid, False, None, False, self._empty)
            except Exception:  # stage never submitted (skipped reuse) or evicted
                attempts = None
            if attempts is not None:
                it = attempts.iterator()
                while it.hasNext():
                    d = it.next()
                    if d.status().toString() == "SKIPPED":
                        continue
                    row["stages"] += 1
                    for name, field in _COUNTERS:
                        row[name] += int(getattr(d, field)())
            self._cache[sid] = row
        return self._cache[sid]


class Tracer:
    """Collects spans. ``enabled`` can be flipped between operations, so one
    run can interleave traced and untraced operations."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.counters: SparkCounters | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._installed: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key=None, parent: int | None = None, **attrs):
        """Record a span. ``parent`` defaults to the innermost open span of
        this thread; ``key`` (batch or request id) defaults to the parent's."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        top = stack[-1] if stack else None
        if parent is None and top is not None:
            parent = top["id"]
        if key is None and top is not None:
            key = top["key"]
        s = {"id": next(self._ids), "name": name, "parent": parent, "key": key, **attrs}
        first = self.counters.next_stage_id() if self.counters else None
        stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            if self.counters is not None:
                s.update(self.counters.between(first, self.counters.next_stage_id()))
            with self._lock:
                self.spans.append(s)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``, keeping the original for ``uninstall``."""
        self._installed.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span named
        ``name``; ``on_result(span, result)`` may attach attributes."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                result = original(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, result)
                return result

        self.patch(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._installed):
            setattr(module, attr, original)
        self._installed.clear()

    def summary(self) -> list[dict]:
        """Spans with their self time, ordered by start."""
        st = self_times(self.spans)
        return [dict(s, self_s=st[s["id"]]) for s in sorted(self.spans, key=lambda s: s["start"])]
