"""What the three workloads share: operation bookkeeping, failure
accounting and the summaries every workload reports."""

from __future__ import annotations

import time
from pathlib import Path

from env import cpu_steal_ticks, tree_cpu_seconds
from stats import median, percentile, tail_percentile
from tracing import COUNTER_NAMES

# set-ups per run; setup_s is their median
SETUP_REPS = 2


class Clock:
    """Wall-clock time, process-tree CPU time and the host's steal share of
    a timed region. Entering it again adds to the totals, so one clock can
    time a region made of several pieces."""

    def __init__(self):
        self.s = 0.0
        self.cpu_s = 0.0
        self._steal = [0, 0]

    def __enter__(self):
        self._steal0 = cpu_steal_ticks()
        self._cpu0 = tree_cpu_seconds()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s += time.perf_counter() - self._t0
        self.cpu_s += tree_cpu_seconds() - self._cpu0
        steal, total = cpu_steal_ticks()
        self._steal[0] += steal - self._steal0[0]
        self._steal[1] += total - self._steal0[1]
        return False

    @property
    def steal(self) -> float:
        return self._steal[0] / max(1, self._steal[1])

    def sample(self, kind: str, key, units: int, **extra) -> dict:
        return {
            "kind": kind,
            "key": key,
            "units": units,
            "s": self.s,
            "cpu_s": self.cpu_s,
            "steal": self.steal,
            **extra,
        }


class Workload:
    """One workload: set up (repeatable into fresh directories), then a
    closed loop of operations, then output checks.

    ``op`` returns a sample made by ``Clock.sample`` or raises; a raised or
    failed operation counts against ``failed``.
    """

    name = ""
    op_span = ""  # the root span of one operation
    op_label = ""
    primary_kinds: set[str] = set()  # the samples the metrics are taken over
    min_ops = 1
    # a traced run needs traced and untraced operations to compare
    min_traced_ops = 2

    def __init__(self, seed: int, area, tracer):
        self.seed = seed
        self.area = area
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- hooks -------------------------------------------------------------
    def install(self, tracer) -> None:
        """Install the traced-run wrappers."""

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def after_setup(self, spark) -> None:
        """One-time work between set-up and measurement (not timed)."""

    def op(self, spark, i: int, traced: bool) -> dict:
        raise NotImplementedError

    def traced_op(self, i: int) -> bool:
        """Whether operation ``i`` of a traced run is traced: every other one,
        so traced and untraced operations can be compared."""
        return i % 2 == 1

    def finish(self, spark) -> None:
        """Output checks after measurement."""

    def close(self) -> None:
        """Release what set-up started."""

    def per_layer(self, spark, spans: list[dict], samples: list[dict]) -> dict[str, float]:
        return {}

    def details(self, samples: list[dict]) -> list[str]:
        """Extra lines for the run's report."""
        return []

    # -- helpers -----------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)



def latency_summary(values_s: list[float]) -> tuple[float, float, int]:
    """(p50 ms, tail ms, tail percentile) of operation latencies."""
    p = tail_percentile(len(values_s))
    return (
        median(values_s) * 1000.0,
        percentile(values_s, p) * 1000.0,
        p,
    )


def count_files(table: Path) -> int:
    return sum(1 for _ in Path(table).rglob("*.parquet"))


def span_median(spans: list[dict], name: str, field: str = "dur") -> float:
    """Median over operations (span keys) of the summed ``field`` of the
    spans called ``name``; ``dur`` is the span's duration."""
    totals: dict[object, float] = {}
    for s in spans:
        if s["name"] == name:
            v = s["end"] - s["start"] if field == "dur" else s[field]
            totals[s["key"]] = totals.get(s["key"], 0.0) + v
    return median(list(totals.values())) if totals else 0.0


def root_spans(spans: list[dict]) -> list[dict]:
    return [s for s in spans if s["parent"] is None]


def op_counters(spans: list[dict], op_span: str) -> dict[str, float]:
    """Per-operation medians of the Spark counters of the root spans named
    ``op_span``, summed per operation key."""
    per_op: dict[object, dict[str, float]] = {}
    for s in root_spans(spans):
        if s["name"] == op_span:
            acc = per_op.setdefault(s["key"], {})
            for k in COUNTER_NAMES:
                acc[k] = acc.get(k, 0) + s.get(k, 0)
    roots = list(per_op.values())
    if not roots:
        return dict.fromkeys(
            (
                "spark.stages_per_op",
                "spark.tasks_per_op",
                "spark.executor_cpu_s_per_op",
                "spark.input_bytes_per_op",
                "spark.shuffle_bytes_per_op",
                "spark.spill_bytes_per_op",
            ),
            0.0,
        )

    def med(fn):
        return median([fn(s) for s in roots])

    return {
        "spark.stages_per_op": med(lambda s: s.get("stages", 0)),
        "spark.tasks_per_op": med(lambda s: s.get("tasks", 0)),
        "spark.executor_cpu_s_per_op": med(lambda s: s.get("executor_cpu_ns", 0) / 1e9),
        "spark.input_bytes_per_op": med(lambda s: s.get("input_bytes", 0)),
        "spark.shuffle_bytes_per_op": med(
            lambda s: s.get("shuffle_read_bytes", 0) + s.get("shuffle_write_bytes", 0)
        ),
        "spark.spill_bytes_per_op": med(
            lambda s: s.get("memory_spill_bytes", 0) + s.get("disk_spill_bytes", 0)
        ),
    }
