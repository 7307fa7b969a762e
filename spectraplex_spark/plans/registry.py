"""Query registry + table loading shared by the catalog modules."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB ANSI SQL; None → rows-only check
    bench: bool = False  # part of the bench.py headline set
    doc: str = ""


CATALOG: dict[str, Query] = {}


def query(name: str, oracle: str | None, bench: bool = False, doc: str = ""):
    """Decorator registering a builder in the catalog. A name registers
    once: a second registration raises instead of replacing the first."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in CATALOG:
            raise ValueError(f"query {name!r} is already registered")
        CATALOG[name] = Query(name=name, builder=fn, oracle=oracle, bench=bench, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver-provided parquet table (TESTDATA.md). Parquet scans
    get Catalyst column pruning + predicate pushdown for free; at 100 TB
    these would be partitioned datasets and the same reads partition-prune.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) (which Spark's
    vectorized reader surfaces as raw nanos under the ``nanosAsLong``
    legacy conf) and as plain ``timestamp[us]`` across test-data
    generations.  We keep the conf set so a nanos file still loads, then
    guard the nanos→micros truncation on the dtype actually read: only a
    ``LongType`` column needs the rewrite.  DuckDB truncates nanos the
    same way, so oracle comparisons stay exact either way.
    """
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # Set the legacy conf for THIS footer probe, and restore it
        # whenever the file turns out not to need it: leaving it set
        # session-globally leaked nanos-as-long semantics into every
        # later parquet read — a TIMESTAMP(NANOS) column in a checkpoint
        # read-back or user file would silently surface as raw int64
        # nanos far from this code (r14 review finding).  When the file
        # IS a nanos generation, the conf must stay set: the vectorized
        # reader consults it at EXECUTION time, so restoring it would
        # break the (lazy) scan later — that one necessary leak is the
        # documented trade, paid only on nanos-generation test data.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        nanos = False
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            nanos = isinstance(df.schema["ts"].dataType, T.LongType)
            if nanos:
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        finally:
            if not nanos:
                if prior is None:
                    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
                else:
                    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
