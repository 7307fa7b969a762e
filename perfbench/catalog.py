"""catalog_headline: the nine ``bench=True`` catalog queries on the shipped
sf0.01 tables, each executed through the noop sink, in a seeded order."""

from __future__ import annotations

import random
import shutil
import time

import oracle
from stats import median
from workload import Clock, Workload, op_counters

PLAN_COUNTS = {
    "shuffles": "Exchange hashpartitioning",
    "plan_breaks": "ExistingRDD",
    "roundrobin_exchanges": "Exchange RoundRobinPartitioning",
}


def headline_queries():
    from spectraplex_spark.plans import CATALOG

    return sorted((q for q in CATALOG.values() if q.bench), key=lambda q: q.name)


def drop_cached(spark) -> None:
    """Let the scheduler drain, then drop every cached artifact, so each
    query starts cold and leftovers do not pressure later queries."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    deadline = time.time() + 5.0
    while (tracker.getActiveJobsIds() or tracker.getActiveStageIds()) and time.time() < deadline:
        time.sleep(0.05)
    spark.catalog.clearCache()
    for jrdd in list(sc._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


class CatalogHeadline(Workload):
    name = "catalog_headline"
    op_span = "catalog_headline.query"  # a pass is nine of these
    op_label = "pass over the nine queries; units are queries"
    primary_kinds = {"pass"}
    min_ops = 1

    def __init__(self, seed, area, tracer):
        super().__init__(seed, area, tracer)
        self.queries = headline_queries()
        self.rng = random.Random(f"{seed}:order")
        self.plans: dict[str, str] = {}

    def install(self, tracer) -> None:
        from spectraplex_spark.plans import ext, reference_surface, relational

        for mod in (relational, reference_surface, ext):
            tracer.wrap(mod, "table", "plans.registry.table")

    def setup(self, spark, rep: int) -> None:
        self.dir = self.area.table_dir(f"catalog-{rep}")
        for f in sorted(oracle.DATA_DIR.glob("*.parquet")):
            shutil.copyfile(f, self.dir / f.name)
            spark.read.parquet(str(self.dir / f.name)).schema  # footer probe

    def after_setup(self, spark) -> None:
        """Each query against its DuckDB oracle, once, outside timing; this
        is also the first execution of every query."""
        stored = oracle.load()
        for q in self.queries:
            try:
                got = oracle.digest(q.builder(spark, str(self.dir)).toPandas())
                self.check(
                    got == oracle.expected_digest(q.name, q.oracle, stored),
                    f"{q.name}: result differs from its DuckDB oracle",
                )
            except Exception as e:
                self.check(False, f"{q.name}: {type(e).__name__}: {str(e)[:200]}")
            drop_cached(spark)

    def op(self, spark, i: int, traced: bool) -> dict:
        order = list(self.queries)
        self.rng.shuffle(order)
        clock, times = Clock(), {}
        for q in order:
            df = None
            t0 = clock.s
            with clock, self.tracer.span(self.op_span, key=i):
                try:
                    with self.tracer.span(f"plans.{q.name}.build"):
                        df = q.builder(spark, str(self.dir))
                    with self.tracer.span(f"plans.{q.name}.run"):
                        df.write.format("noop").mode("overwrite").save()
                    self.check(True, q.name)
                except Exception as e:
                    self.check(False, f"{q.name}: {type(e).__name__}: {str(e)[:200]}")
            times[q.name] = clock.s - t0
            if traced and df is not None:
                self.plans[q.name] = df._jdf.queryExecution().executedPlan().toString()
            drop_cached(spark)
        return clock.sample("pass", i, len(times), queries=times)

    def details(self, samples):
        return [
            f"pass {s['key']}: " + " ".join(f"{n}={t:.3f}" for n, t in s["queries"].items())
            for s in samples
        ]

    def per_layer(self, spark, spans, samples):
        out = {}
        passes = {s["key"] for s in spans if s["name"] == self.op_span}

        def per_pass(name, fn):
            vals = [sum(fn(s) for s in spans if s["name"] == name and s["key"] == k) for k in passes]
            return median(vals) if vals else 0.0

        def dur(s):
            return s["end"] - s["start"]

        for q in self.queries:
            b, r = f"plans.{q.name}.build", f"plans.{q.name}.run"
            out[f"plans.{q.name}.build_s"] = per_pass(b, dur)
            out[f"plans.{q.name}.run_s"] = per_pass(r, dur)
            shuffle = lambda s: s.get("shuffle_read_bytes", 0) + s.get("shuffle_write_bytes", 0)  # noqa: E731
            out[f"plans.{q.name}.shuffle_bytes"] = per_pass(b, shuffle) + per_pass(r, shuffle)
            out[f"plans.{q.name}.tasks"] = per_pass(b, lambda s: s.get("tasks", 0)) + per_pass(
                r, lambda s: s.get("tasks", 0)
            )
            plan = self.plans.get(q.name, "")
            for metric, needle in PLAN_COUNTS.items():
                out[f"plans.{q.name}.{metric}"] = plan.count(needle)
        out["plans.registry.table_s"] = per_pass("plans.registry.table", dur)
        out.update(op_counters(spans, self.op_span))
        return out
