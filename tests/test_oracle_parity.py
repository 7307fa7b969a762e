"""Local mirror of the driver's correctness gate.

Canonicalizes EXACTLY the way the driver does (learned from round 1's
CORRECTNESS_r01.json failures):
  - Spark results via ``toPandas()`` — DECIMAL columns materialize as
    ``decimal.Decimal`` objects, arrays as Python lists;
  - DuckDB results via ``.df()`` — DECIMAL columns materialize as
    float64, HUGEINT as float64;
  - both frames: columns sorted by name, every cell must be hashable
    (lists raise ``unhashable type: 'list'`` — exactly the driver's
    canonicalizer error), rows sorted, then compared type-strictly.

Type-strict means a ``decimal.Decimal`` on the Spark side never equals a
float64 on the DuckDB side even when numerically identical (Python's
``Decimal(2.5) == 2.5`` is True — the driver hashes, so it is NOT).
Any pass here therefore implies a driver hash match; a final decimal or
array output column fails here exactly as it fails in the driver.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from spectraplex_spark.plans import CATALOG
from spectraplex_spark.schemas import TESTDATA_TABLES

from tests.conftest import SF_DIR_ORACLE

ORACLE_QUERIES = sorted(name for name, q in CATALOG.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, q in CATALOG.items() if q.oracle is None)


def _key(v):
    """Driver-faithful cell canonicalization: type-tagged, hash-required.

    Unhashable cells (lists/arrays/dicts) raise TypeError just like the
    driver's pandas canonicalizer. Decimal and float get DIFFERENT tags
    so numeric equality across types does not count as a match.
    """
    hash(v)  # driver requirement: every cell must be hashable
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("float", "nan") if math.isnan(f) else ("float", f)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    return (type(v).__name__, v)


def _canon(pdf: pd.DataFrame):
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_key(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=repr)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, ddb, name):
    q = CATALOG[name]
    spark_pdf = q.builder(spark, SF_DIR_ORACLE).toPandas()
    duck_pdf = ddb.execute(q.oracle).df()

    spark_pdf.columns = [c.lower() for c in spark_pdf.columns]
    duck_pdf.columns = [c.lower() for c in duck_pdf.columns]
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column names differ"
    )
    assert len(spark_pdf) == len(duck_pdf), f"{name}: row counts differ"
    a = _canon(spark_pdf)
    b = _canon(duck_pdf)
    for i, (ra, rb) in enumerate(zip(a, b)):
        assert ra == rb, f"{name}: first differing row #{i}:\n spark={ra}\n duck ={rb}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, name):
    """No-oracle ops must at least execute, return a stable schema, and
    produce driver-canonicalizable cells (no raw arrays/maps)."""
    df = CATALOG[name].builder(spark, SF_DIR_ORACLE)
    assert df.columns
    pdf = df.toPandas()
    for row in pdf.head(5).itertuples(index=False):
        for v in row:
            _key(v)


def test_gate_is_driver_faithful(spark, ddb):
    """Regression for round 1's blind spot: a decimal-typed Spark output
    vs a DuckDB decimal (float64 via .df()) MUST mismatch here."""
    sdf = spark.sql("SELECT CAST(1.5 AS DECIMAL(38,6)) AS v")
    ddf = ddb.execute("SELECT CAST(1.5 AS DECIMAL(38,6)) AS v").df()
    a = _canon(sdf.toPandas())
    b = _canon(ddf)
    assert a != b, "gate failed to distinguish Decimal from float64"
    with pytest.raises(TypeError):
        _canon(pd.DataFrame({"v": [[1, 2]]}))
