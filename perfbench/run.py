"""Repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload ledger_land --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
import traceback

from env import ROOT, RunArea, driver_memory, machine_cores, peak_rss_mb, restart_session
from env import cpu_steal_ticks, shutdown, start_session
from stats import median
from tracing import SparkCounters, Tracer
from workload import SETUP_REPS, Clock, latency_summary

MAX_OPS = 100_000


def workload_classes():
    from api import WalletApi
    from catalog import CatalogHeadline
    from land import LedgerLand

    return {c.name: c for c in (LedgerLand, WalletApi, CatalogHeadline)}



def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def op_metrics(samples: list[dict]) -> tuple[dict[str, float], dict[str, float], str]:
    """The end-to-end operation metric (median CPU time), the client's
    wall-clock view of the same operations for the traced run, and a
    report line."""
    wall = [s["s"] for s in samples]
    units = sum(s["units"] for s in samples)
    p50, tail, p = latency_summary(wall)
    e2e = {"op_cpu_ms": median([s["cpu_s"] for s in samples]) * 1000.0}
    client = {
        "client.op_p50_ms": p50,
        "client.op_tail_ms": tail,
        "client.throughput_per_s": units / sum(wall),
    }
    line = (
        f"samples={len(samples)} wall p50={p50:.1f} ms p{p}={tail:.1f} ms "
        f"throughput={client['client.throughput_per_s']:.3f}/s | cpu p50={e2e['op_cpu_ms']:.0f} ms"
    )
    return e2e, client, line


def trace_metrics(tracer: Tracer, samples: list[dict], workload) -> tuple[dict[str, float], str]:
    """Tracing overhead (traced vs untraced operations of the same run), and
    how much of the traced operations' time the layer spans under their
    root spans cover. A root span's own self time is time no layer wrapper
    accounts for: the harness around the calls, or a call nobody wraps."""
    spans = tracer.summary()
    roots = [s for s in spans if s["parent"] is None and s["name"] == workload.op_span]
    total = sum(s["end"] - s["start"] for s in roots)
    unattributed: dict[object, float] = {}
    for s in roots:
        unattributed[s["key"]] = unattributed.get(s["key"], 0.0) + s["self_s"]
    prim = [s for s in samples if s["kind"] in workload.primary_kinds]
    on = [s["s"] for s in prim if s["traced"]]
    off = [s["s"] for s in prim if not s["traced"]]
    metrics = {
        "trace.overhead_share": median(on) / median(off) - 1.0 if on and off else 0.0,
        "trace.attributed_share": 1.0 - sum(unattributed.values()) / total if total else 0.0,
        "trace.unattributed_ms": median(list(unattributed.values())) * 1000 if roots else 0.0,
        "trace.spans": len(spans),
    }
    line = (
        f"trace: layer spans cover {metrics['trace.attributed_share']:.1%} of "
        f"{len(unattributed)} traced operations; unattributed per operation: "
        + " ".join(f"{v * 1000:.0f}" for v in unattributed.values())
        + " ms"
    )
    return metrics, line


def run(args) -> dict:
    classes = workload_classes()
    if args.workload not in classes:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(classes)}")
    area = RunArea()
    area.configure_env()
    tracer = Tracer()
    workload = classes[args.workload](args.seed, area, tracer)
    spark = None
    info: list[str] = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"cores={machine_cores()} driver_memory={driver_memory()}"
    ]
    area.capture_stderr()
    try:
        if args.trace:
            workload.install(tracer)
        setups = []
        for rep in range(SETUP_REPS):
            with Clock() as clock:
                spark = start_session() if spark is None else restart_session(spark)
                workload.setup(spark, rep)
            setups.append(clock)
        workload.after_setup(spark)
        if args.trace:
            tracer.counters = SparkCounters(spark)

        samples: list[dict] = []
        steal0 = cpu_steal_ticks()
        t_start = time.perf_counter()
        min_ops = workload.min_traced_ops if args.trace else workload.min_ops
        i = 0
        while (time.perf_counter() - t_start < args.seconds or i < min_ops) and i < MAX_OPS:
            traced = bool(args.trace) and workload.traced_op(i)
            tracer.enabled = traced
            try:
                sample = workload.op(spark, i, traced)
                sample["traced"] = traced
                samples.append(sample)
            except Exception:
                workload.fail(f"op {i}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
            finally:
                tracer.enabled = False
            i += 1
        wall_s = time.perf_counter() - t_start
        steal1 = cpu_steal_ticks()
        workload.finish(spark)

        plain = [s for s in samples if not s["traced"] and s["kind"] in workload.primary_kinds]
        metrics, client, line = op_metrics(plain)
        metrics["setup_s"] = median([c.cpu_s for c in setups])
        layer = {}
        if args.trace:
            layer = workload.per_layer(spark, tracer.summary(), samples)
            trace, trace_line = trace_metrics(tracer, samples, workload)
            layer.update(trace)
            layer.update(client)
            layer["memory.peak_rss_mb"] = peak_rss_mb(spark)
            info.append(trace_line)
        info.append(f"op: {workload.op_label}; measured_s={wall_s:.2f} ops={i}")
        info.append(line)
        info.append(
            "set-ups (the first starts the JVM); setup_s is the median CPU time: "
            + " ".join(f"wall={c.s:.3f}s cpu={c.cpu_s:.3f}s steal={c.steal:.1%};" for c in setups)
        )
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        info.append(f"cpu steal while measuring: {steal:.1%}")
        info.extend(workload.details(samples))
        info.append("steal per op: " + " ".join(f"{s['steal']:.1%}" for s in samples))
        info.append("cpu_s per op: " + " ".join(f"{s['cpu_s']:.2f}" for s in samples))
        info.append("wall_s per op: " + " ".join(f"{s['s']:.2f}" for s in samples))
        tables = getattr(workload, "tables", None)
        if tables is not None:
            from gen import traffic_shares

            shares = traffic_shares(tables.batches, tables.gen)
            info.append("traffic: " + " ".join(f"{k}={v}" for k, v in shares.items()))
    finally:
        try:
            workload.close()
            tracer.uninstall()
            shutdown(spark)
        finally:
            area.restore_stderr()
            logs = area.log_counts()
            tail = area.log_tail()
            area.remove()
    info.append(
        f"failed_share={workload.failed}/{workload.attempted}"
        + "".join(f"\n  failed: {f}" for f in workload.failures)
    )
    info.append(
        f"driver log: error_lines={logs['error_lines']} "
        f"benign_accumulator_race={logs['benign_accumulator_race']} (filtered by message)"
    )
    if logs["error_lines"]:
        info.append("driver log tail:\n" + tail)
    if args.trace:
        layer["log.error_lines"] = logs["error_lines"]
        layer["log.benign_accumulator_race"] = logs["benign_accumulator_race"]
    return {
        "info": info,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "values": layer if args.trace else metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its run area
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "spectraplex_spark").is_dir() or not bench_file.exists():
        print(f"{ROOT} holds no spectraplex_spark package to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    bench = json.loads(bench_file.read_text())
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    try:
        out = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    values = out["values"]
    unknown = sorted(set(values) - set(units))
    if unknown:
        print(f"metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
        return 1
    for line in out["info"]:
        print(line)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
