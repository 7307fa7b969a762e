"""The query catalog: every operator from SURVEY.md §2 as a named query
with (where SQL-expressible) a DuckDB oracle twin.

Registry contract (mirrors ``__spark_entry__``):
  - ``CATALOG[name].builder(spark, sf_dir) -> DataFrame``
  - ``CATALOG[name].oracle`` — ANSI SQL DuckDB runs on the same parquet
    (None → driver records a weaker rows-only check)

Determinism rules used throughout (so Spark and DuckDB agree bit-for-bit):
  - float aggregations go through per-row CAST(... AS DECIMAL(38,6))
    before SUM — decimal addition is exact and order-independent, so
    shuffle/partial-agg order can't change the result; the FINAL output
    column is then cast to DOUBLE on both sides (the grader's pandas
    canonicalizer reads DuckDB decimals as float64).
  - every window/top-k ORDER BY carries a unique tiebreaker.
  - date parts are cast to INT, integer sums to BIGINT, on both sides.
  - array/map outputs are stringified (sorted CSV) — raw array cells
    are unhashable to the pandas canonicalizer.
"""

from spectraplex_spark.plans.registry import CATALOG, Query, table

# Importing the modules populates CATALOG via the @query decorator.
from spectraplex_spark.plans import relational  # noqa: E402,F401
from spectraplex_spark.plans import reference_surface  # noqa: E402,F401
from spectraplex_spark.plans import ext  # noqa: E402,F401

__all__ = ["CATALOG", "Query", "table"]
