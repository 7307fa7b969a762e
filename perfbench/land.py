"""ledger_land: seeded bronze batches land through ``write_bronze`` and then
``land_with_quarantine`` (bronze -> silver with a dead-letter lane)."""

from __future__ import annotations

from contextlib import nullcontext
from decimal import Decimal

import gen
from workload import SETUP_REPS, Clock, Workload, count_files, op_counters, span_median


def audit_ts():
    """Ledger rows are stamped with their transaction's block time, so
    silver's entry_date partitions follow the traffic's time span and
    the output is reproducible."""
    from pyspark.sql import functions as F

    return F.timestamp_seconds(F.col("timestamp"))


class Tables:
    """Bronze, silver and quarantine tables of one landing stream, plus the
    inbox its JSONL batches arrive in, and what they must hold."""

    def __init__(self, root, seed: int):
        self.bronze = str(root / "bronze")
        self.silver = str(root / "silver")
        self.quarantine = str(root / "quarantine")
        self.inbox = root / "inbox"
        self.inbox.mkdir()
        self.gen = gen.BronzeGenerator(seed)
        self.expected = gen.Expected()
        self.batches: list[gen.Batch] = []

    def land(self, spark, batch: gen.Batch, check, region=nullcontext) -> dict:
        """Land one batch; returns its sample. ``check(ok, what)`` records
        whether the sinks appended exactly what the batch must add. The
        batch's JSONL file is written first; the timed region, entered
        together with ``region()``, starts at reading it."""
        from spectraplex_spark.sources import io as sio

        path = self.inbox / f"batch-{batch.index:05d}.jsonl"
        gen.write_jsonl(batch, str(path))
        with Clock() as clock, region():
            df = sio.read_bronze_jsonl(spark, str(path))
            n_bronze = sio.write_bronze(df, self.bronze)
            n_silver, n_bad = sio.land_with_quarantine(
                df, self.silver, self.quarantine, audit_ts=audit_ts()
            )
        if batch.is_replay:
            want = (0, 0, 0)
        else:
            want = (len(batch.rows), len(batch.entries), len(batch.bad_ids))
        got = (n_bronze, n_silver, n_bad)
        check(got == want, f"batch {batch.index}: appended {got}, expected {want}")
        self.expected.add(batch)
        self.batches.append(batch)
        return clock.sample(
            "replay" if batch.is_replay else "fresh",
            batch.index,
            len(batch.rows),
            offered=len(batch.rows) + len(batch.entries) + len(batch.bad_ids),
            appended=n_bronze + n_silver + n_bad,
            bronze=n_bronze,
            silver=n_silver,
            quarantined=n_bad,
            df=df,
        )


def verify_tables(spark, t: Tables, check) -> None:
    """Silver count and per-(wallet, asset) sums, bronze ids, quarantine
    ids and epoch manifests against what the generator planted."""
    from pyspark.sql import functions as F

    from spectraplex_spark.sources import commit

    silver = spark.read.parquet(t.silver)
    sums = {
        (r["wallet_address"], r["asset_symbol"]): (r["total"], r["n"])
        for r in silver.groupBy("wallet_address", "asset_symbol")
        .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_silver = sum(n for _, n in sums.values())
    check(
        n_silver == t.expected.n_entries,
        f"silver holds {n_silver} entries, expected {t.expected.n_entries}",
    )
    got = {k: Decimal(v) for k, (v, _) in sums.items()}
    want = {k: v for k, v in t.expected.sums.items()}
    bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    check(not bad, f"{len(bad)} (wallet, asset) sums differ, e.g. {bad[:1]}")
    bronze_ids = {r["id"] for r in spark.read.parquet(t.bronze).select("id").collect()}
    check(bronze_ids == t.expected.bronze_ids, "bronze ids differ from the landed batches")
    if t.expected.bad_ids:
        quarantined = {r["id"] for r in spark.read.parquet(t.quarantine).select("id").collect()}
    else:
        quarantined = set()
    check(quarantined == t.expected.bad_ids, "quarantine differs from the planted bad rows")
    for table in (t.bronze, t.silver):
        try:
            state = commit.validate_epochs(table)
            check(not state["uncommitted"], f"{table}: uncommitted files {state['uncommitted'][:3]}")
        except commit.TableInconsistentError as e:
            check(False, f"validate_epochs: {e}")


class LedgerLand(Workload):
    name = "ledger_land"
    op_span = "ledger_land.batch"
    op_label = "fresh batch landed; units are transactions"
    primary_kinds = {"fresh"}
    min_ops = 2  # one replay and one fresh batch
    min_traced_ops = 3

    def install(self, tracer) -> None:
        import importlib

        from spectraplex_spark.sources import commit

        # the package re-exports the function under the module's name
        nmod = importlib.import_module("spectraplex_spark.operators.normalize")
        from spectraplex_spark.sources import io as sio

        def appended(span, n):
            span["rows"] = n

        tracer.wrap(sio, "read_bronze_jsonl", "sources.io.read_bronze_jsonl")
        tracer.wrap(sio, "write_bronze", "sources.io.write_bronze", appended)
        tracer.wrap(sio, "land_with_quarantine", "sources.io.land_with_quarantine")
        tracer.wrap(sio, "write_silver", "sources.io.write_silver", appended)
        tracer.wrap(sio, "idempotent_append", "sources.io.idempotent_append", appended)
        tracer.wrap(commit, "commit_append_epoch", "sources.commit.commit_append_epoch")
        tracer.wrap(nmod, "normalize", "operators.normalize.normalize")
        tracer.wrap(nmod, "parse_failures", "operators.normalize.parse_failures")

    def setup(self, spark, rep: int) -> None:
        """Each set-up lands the stream's next batch after the session
        restart: the first onto empty tables, the second through the
        anti-join against landed rows, so both write paths run once before
        measuring."""
        if rep == 0:
            self.tables = Tables(self.area.table_dir("ledger"), self.seed)
        self.tables.land(spark, self.tables.gen.next_batch(), self.check)

    def traced_op(self, i: int) -> bool:
        """Trace every replay and every other fresh batch, starting with the
        second fresh one, so a short run has both kinds traced."""
        gen = self.tables.gen
        if gen.next_is_replay():
            return True
        fresh_done = sum(not b.is_replay for b in self.tables.batches) - SETUP_REPS
        return fresh_done % 2 == 1

    def op(self, spark, i: int, traced: bool) -> dict:
        batch = self.tables.gen.next_batch()
        sample = self.tables.land(
            spark, batch, self.check, lambda: self.tracer.span(self.op_span, key=batch.index)
        )
        df = sample.pop("df")
        if traced and not batch.is_replay:
            from spectraplex_spark.operators.normalize import normalize

            # normalize on its own, into the noop sink, outside the batch
            with self.tracer.span("operators.normalize.isolated", key=batch.index):
                normalize(df, audit_ts=audit_ts()).write.format("noop").mode("overwrite").save()
        return sample

    def finish(self, spark) -> None:
        verify_tables(spark, self.tables, self.check)

    def per_layer(self, spark, spans, samples):
        from spectraplex_spark.sources import commit

        t = self.tables
        fresh_keys = {s["key"] for s in samples if s["kind"] == "fresh"}
        fresh_spans = [s for s in spans if s["key"] in fresh_keys]
        offered = sum(s["offered"] for s in samples)
        fresh = [s for s in samples if s["kind"] == "fresh"]
        replays = [s["s"] for s in samples if s["kind"] == "replay"]
        epochs = 0
        for table in (t.bronze, t.silver, t.quarantine):
            try:
                epochs += commit.validate_epochs(table)["epochs"]
            except commit.TableInconsistentError:
                pass  # reported by the output checks
        out = {
            "operators.normalize.normalize_s": span_median(spans, "operators.normalize.isolated"),
            "operators.normalize.entries_per_tx": sum(s["silver"] for s in fresh)
            / max(1, sum(s["bronze"] for s in fresh)),
            "sources.io.write_bronze_s": span_median(fresh_spans, "sources.io.write_bronze"),
            "sources.io.land_with_quarantine_s": span_median(
                fresh_spans, "sources.io.land_with_quarantine"
            ),
            "sources.io.idempotent_append_s": span_median(
                fresh_spans, "sources.io.idempotent_append", "self_s"
            ),
            "sources.io.append_ratio": sum(s["appended"] for s in samples) / max(1, offered),
            "sources.io.quarantined_rows": sum(s["quarantined"] for s in samples),
            "sources.io.replay_batch_s": sorted(replays)[len(replays) // 2] if replays else 0.0,
            "sources.commit.commit_append_epoch_s": span_median(
                fresh_spans, "sources.commit.commit_append_epoch"
            ),
            "sources.commit.epochs": epochs,
            "sources.layout.bronze_files": count_files(t.bronze),
            "sources.layout.silver_files": count_files(t.silver),
        }
        out.update(op_counters(fresh_spans, self.op_span))
        return out


