"""DuckDB oracle answers for the headline catalog queries.

Each query's Spark result is compared with its DuckDB twin under the
canonicalization of ``tests/test_oracle_parity.py``. The
DuckDB side is deterministic for a fixed oracle SQL and fixed tables, so
its canonical answer is stored as a digest in ``oracle_digests.json``,
keyed by the SQL text; a query whose SQL no longer matches its stored key
is answered by DuckDB live. Answering all nine live takes about 14 s on
4 vCPUs, 11 to 13 s of it for corpus_prep_pipeline's oracle, which would
add a third to a catalog run.

Refresh the stored digests after an oracle or data change:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA_DIR = HERE / "data" / "sf0.01"
DIGESTS = HERE / "oracle_digests.json"


def _canon_fn():
    from tests.test_oracle_parity import _canon

    return _canon


def digest(pdf) -> str:
    """Digest of a result frame: lower-cased column names plus the
    canonical rows of tests/test_oracle_parity.py."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    rows = _canon_fn()(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def duckdb_digest(sql: str, data_dir: Path = DATA_DIR) -> str:
    import duckdb

    from spectraplex_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return digest(con.execute(sql).df())
    finally:
        con.close()


def load() -> dict:
    return json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}


def expected_digest(name: str, sql: str, stored: dict) -> str:
    entry = stored.get(name)
    if entry and entry["sql_sha256"] == sql_key(sql):
        return entry["answer_sha256"]
    return duckdb_digest(sql)


def refresh() -> None:
    from catalog import headline_queries

    out = {}
    for q in headline_queries():
        out[q.name] = {"sql_sha256": sql_key(q.oracle), "answer_sha256": duckdb_digest(q.oracle)}
        print(q.name, out[q.name]["answer_sha256"][:12], flush=True)
    DIGESTS.write_text(json.dumps(out, indent=2, sort_keys=True) + "\n")


if __name__ == "__main__":
    sys.path.insert(0, str(HERE.parent))
    refresh()
