"""Serving/read surface (SURVEY §3.3): the reference API's read paths as
engine functions over the medallion Parquet tables.

Reference mapping (api/src/main.rs:36-37,115-131):
  - GET /v1/transactions/:wallet → ``transactions_by_wallet``
    (repo.rs:73-107: WHERE wallet_address=$1 ORDER BY timestamp ASC)
  - GET /v1/ledger/:wallet → ``ledger_by_wallet``
    (repo.rs:109-149: same shape, ORDER BY created_at ASC — the
    denormalized-wallet "Optimized" read the add_wallet migration
    bought)
  - JSON array responses (K4, api/src/main.rs:121,130) → ``to_json_rows``

Scale notes: every Parquet read opens the table's committed epoch
snapshot (``sources.io.open_source``), reused while no epoch commits,
so a repeated read neither re-lists the table nor re-infers its schema,
and files of a torn append are never served. The wallet predicate is
pushed to the Parquet reader, but it prunes almost nothing today: the
sinks cluster no wallet's rows, and a landed file is one row group
holding many wallets, so a read scans the whole table. Bronze is
partitioned by (chain, ingest_date) and silver by entry_date, so only a
date bound prunes partitions. The bounded, sorted result collects as
one TakeOrderedAndProject stage (``to_json_rows``). The reference
needed four covering indexes for these paths (init.sql:17-19,34-35);
here a wallet-clustered layout would have to do that job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spectraplex_spark.sources.io import open_source


def transactions_by_wallet(
    spark: SparkSession,
    bronze_source: str,
    wallet: str,
    since_ts: int | None = None,
    until_ts: int | None = None,
    table: str = "transactions",
    **jdbc_options,
) -> DataFrame:
    """S4: bronze rows for a wallet, oldest first. Optional time bounds
    map onto the (wallet, timestamp) access path (init.sql:18).

    ``bronze_source`` is a Parquet path or a ``jdbc:`` URL (the
    reference's actual Postgres deployment, repo.rs:73-107) — the wallet
    and time predicates push down either way (Parquet reader filters vs
    SQL WHERE)."""
    df = open_source(spark, bronze_source, table, **jdbc_options).filter(
        F.col("wallet_address") == wallet
    )
    if since_ts is not None:
        df = df.filter(F.col("timestamp") >= since_ts)
    if until_ts is not None:
        df = df.filter(F.col("timestamp") < until_ts)
    return df.orderBy("timestamp", "id")


def ledger_by_wallet(
    spark: SparkSession,
    silver_source: str,
    wallet: str,
    table: str = "ledger_entries",
    **jdbc_options,
) -> DataFrame:
    """S5: ledger entries for a wallet, oldest ingest first (parquet
    path or jdbc: URL, repo.rs:109-149)."""
    return (
        open_source(spark, silver_source, table, **jdbc_options)
        .filter(F.col("wallet_address") == wallet)
        .orderBy("created_at", "id")
    )


def recent_transactions(
    spark: SparkSession,
    bronze_source: str,
    limit: int = 50,
    table: str = "transactions",
    **jdbc_options,
) -> DataFrame:
    """O3: top-K most recent (the API's hardcoded 50, api/src/main.rs:75).
    Plans as TakeOrderedAndProject — no global sort."""
    return (
        open_source(spark, bronze_source, table, **jdbc_options)
        .orderBy(F.desc("timestamp"), F.asc("id"))
        .limit(limit)
    )


def wallet_balances(
    spark: SparkSession,
    silver_source: str,
    wallet: str,
    table: str = "ledger_entries",
    **jdbc_options,
) -> DataFrame:
    """The tax-report aggregate the reference schema anticipates
    (init.sql:34-35): current balance per asset for a wallet."""
    return (
        open_source(spark, silver_source, table, **jdbc_options)
        .filter(F.col("wallet_address") == wallet)
        .groupBy("asset_symbol")
        .agg(
            F.sum("amount").alias("balance"),
            F.count(F.lit(1)).alias("n_entries"),
            F.max("created_at").alias("last_entry_at"),
        )
    )


def to_json_rows(df: DataFrame, limit: int = 1000) -> list[str]:
    """K4: serialize a (bounded) result to JSON strings for the serving
    edge. The limit is mandatory by design — an unbounded collect at the
    HTTP edge is the reference's inline-ingest anti-pattern (SURVEY
    §4.2) in read form."""
    return [r[0] for r in _json_frame(df, limit).collect()]


def _json_frame(df: DataFrame, limit: int) -> DataFrame:
    """``to_json_rows``' frame: the first ``limit`` rows as one JSON
    string column. Serialized by ``to_json`` (the JSON options
    ``DataFrame.toJSON`` uses, so the text is the same) rather than
    ``toJSON``, whose Python RDD plans a sorted limit as a range sort (a
    sampling job and an exchange); here it plans as one
    TakeOrderedAndProject stage."""
    return df.limit(limit).select(F.to_json(F.struct("*")))
