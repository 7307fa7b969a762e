"""Serving reads (S4/S5/O3/K4) + ingest conformance (S1) + CLI parity."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from spectraplex_spark import serving
from spectraplex_spark.sources.ingest import RAW_FETCH_SCHEMA, conform_to_bronze
from spectraplex_spark.sources.io import write_bronze, write_silver
from spectraplex_spark.operators.normalize import normalize
from tests.test_normalize_golden import WALLET, bronze_row, solana_tx


def _mk_medallion(spark, tmp_path):
    from spectraplex_spark.schemas import BRONZE_SCHEMA

    rows = [
        bronze_row(
            solana_tx(
                pre_balances=[(10 + i) * 10**9, 0], post_balances=[9 * 10**9, 10**9]
            ),
            tx_hash=f"sig{i}",
        )
        for i in range(5)
    ]
    bronze = spark.createDataFrame(rows, BRONZE_SCHEMA)
    bp, sp = str(tmp_path / "bronze"), str(tmp_path / "silver")
    write_bronze(bronze, bp)
    write_silver(
        normalize(bronze, audit_ts=F.lit("2026-01-02 03:04:05").cast("timestamp")), sp
    )
    return bp, sp


def test_serving_reads(spark, tmp_path):
    bp, sp = _mk_medallion(spark, tmp_path)
    tx = serving.transactions_by_wallet(spark, bp, WALLET)
    assert tx.count() == 5
    assert serving.transactions_by_wallet(spark, bp, "nobody").count() == 0

    led = serving.ledger_by_wallet(spark, sp, WALLET)
    assert led.count() == 5
    assert all(r.asset_symbol == "SOL" for r in led.collect())

    top = serving.recent_transactions(spark, bp, limit=3).collect()
    assert len(top) == 3

    bal = serving.wallet_balances(spark, sp, WALLET).collect()
    assert len(bal) == 1 and bal[0].n_entries == 5

    rows = serving.to_json_rows(led, limit=2)
    assert len(rows) == 2 and json.loads(rows[0])["wallet_address"] == WALLET
    assert rows == led.limit(2).toJSON().collect()  # same JSON text as toJSON


def test_ingest_conformance(spark):
    raw_rows = [
        (WALLET, "sigA", solana_tx(pre_balances=[10**9], post_balances=[0]), "solana"),
        (WALLET, "sigB", None, "solana"),  # fetch error → dropped by default
    ]
    raw = spark.createDataFrame(raw_rows, RAW_FETCH_SCHEMA)
    bronze = conform_to_bronze(raw)
    got = bronze.collect()
    assert len(got) == 1
    assert got[0].tx_hash == "sigA"
    assert got[0].timestamp == 1672531200  # blockTime extracted
    assert got[0].user_id == "00000000-0000-0000-0000-000000000000"
    # deterministic id: same fetch → same id
    again = conform_to_bronze(raw).collect()
    assert got[0].id == again[0].id
    # errors kept when policy says so
    assert conform_to_bronze(raw, drop_fetch_errors=False).count() == 2


def test_cli_end_to_end(spark, tmp_path, capsys):
    """The reference CLI workflow: ingest → normalize → read."""
    from spectraplex_spark.__main__ import main

    raw_path = tmp_path / "raw.jsonl"
    with open(raw_path, "w") as f:
        for i in range(3):
            f.write(
                json.dumps(
                    {
                        "wallet_address": WALLET,
                        "signature": f"cli-sig{i}",
                        "response_json": solana_tx(
                            pre_balances=[(5 + i) * 10**9, 0],
                            post_balances=[4 * 10**9, 10**9],
                        ),
                        "chain": "solana",
                    }
                )
                + "\n"
            )
    bp, sp = str(tmp_path / "bronze"), str(tmp_path / "silver")

    assert main(["ingest", "--input", str(raw_path), "--bronze", bp]) == 0
    assert "ingested 3 new" in capsys.readouterr().out
    # re-ingest → idempotent
    assert main(["ingest", "--input", str(raw_path), "--bronze", bp]) == 0
    assert "ingested 0 new" in capsys.readouterr().out

    assert main(["normalize", "--input", bp, "--output", sp]) == 0
    assert "3 ledger entries" in capsys.readouterr().out
    # --jsonl counts the entries through its write
    jp = str(tmp_path / "silver_jsonl")
    assert main(["normalize", "--input", bp, "--output", jp, "--jsonl"]) == 0
    assert "3 ledger entries" in capsys.readouterr().out
    assert spark.read.json(jp).count() == 3

    assert main(["read", "--silver", sp, "--wallet", WALLET, "--limit", "10"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3
    assert {x["asset_symbol"] for x in lines} == {"SOL"}


def test_fiat_enrichment_asof(spark):
    """fiat_value = amount x latest prior price per asset (reference
    declares the column, never fills it — models.rs:43)."""
    from decimal import Decimal

    from spectraplex_spark.operators.temporal import enrich_fiat_value
    from spectraplex_spark.schemas import BRONZE_SCHEMA

    rows = [
        bronze_row(
            solana_tx(pre_balances=[(10 + i) * 10**9, 0], post_balances=[9 * 10**9, 10**9]),
            tx_hash=f"fx{i}",
        )
        for i in range(2)
    ]
    silver = normalize(
        spark.createDataFrame(rows, BRONZE_SCHEMA),
        audit_ts=F.lit("2026-01-05 00:00:00").cast("timestamp"),
    )
    prices = spark.createDataFrame(
        [
            ("SOL", "2026-01-01 00:00:00", 100.0),
            ("SOL", "2026-01-04 00:00:00", 150.0),  # latest prior → used
            ("SOL", "2026-01-06 00:00:00", 999.0),  # future → ignored
        ],
        "asset_symbol string, price_ts string, price double",
    ).withColumn("price_ts", F.col("price_ts").cast("timestamp"))
    out = enrich_fiat_value(silver, prices).collect()
    assert len(out) == 2
    assert set(silver.columns) == set(out[0].asDict().keys())
    for r in out:
        # amounts are -(1+i) SOL; price 150 → fiat = amount * 150
        assert r.fiat_value == (r.amount * Decimal(150)).quantize(Decimal("1e-18"))


def test_fiat_enrichment_no_price_stays_null(spark):
    from spectraplex_spark.operators.temporal import enrich_fiat_value
    from spectraplex_spark.schemas import BRONZE_SCHEMA

    rows = [bronze_row(solana_tx(pre_balances=[2 * 10**9, 0], post_balances=[10**9, 0]))]
    silver = normalize(
        spark.createDataFrame(rows, BRONZE_SCHEMA),
        audit_ts=F.lit("2026-01-05 00:00:00").cast("timestamp"),
    )
    prices = spark.createDataFrame(
        [("OTHER_ASSET", "2026-01-01 00:00:00", 5.0)],
        "asset_symbol string, price_ts string, price double",
    ).withColumn("price_ts", F.col("price_ts").cast("timestamp"))
    out = enrich_fiat_value(silver, prices).collect()
    assert len(out) == 1 and out[0].fiat_value is None


def test_serving_reads_jdbc_parity(spark, tmp_path):
    """S4/S5 over a real JDBC database (embedded Derby — the JDBC engine
    Spark ships): publish the medallion tables via write_jdbc, serve via
    the same functions with a jdbc: URL, and assert result parity with
    the parquet path plus predicate pushdown into the database. The
    reference's actual deployment (Postgres, repo.rs:73-149) is the same
    code path with a different URL."""
    from spectraplex_spark.sources.io import write_jdbc

    bp, sp = _mk_medallion(spark, tmp_path)
    url = f"jdbc:derby:{tmp_path}/derby/db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Derby-specific DDL: Spark's Derby dialect maps StringType to CLOB
    # (not comparable/pushdown-able) and Derby caps DECIMAL at precision
    # 31 — the reference's own migrations pin VARCHAR(255)/NUMERIC the
    # same way (init.sql:9-13,28).
    write_jdbc(
        spark.read.parquet(bp).drop("ingest_date"),
        url,
        "transactions",
        mode="overwrite",
        # values are Spark SQL types; columns omitted here (raw_metadata)
        # take the dialect default (CLOB on Derby — fine, never filtered)
        createTableColumnTypes=(
            "id VARCHAR(128), user_id VARCHAR(64), wallet_address VARCHAR(255), "
            "tx_hash VARCHAR(128), chain VARCHAR(50)"
        ),
        **drv,
    )
    silver = spark.read.parquet(sp).drop("entry_date").withColumn(
        "amount", F.col("amount").cast("decimal(31,18)")
    ).withColumn("fiat_value", F.col("fiat_value").cast("decimal(31,18)"))
    write_jdbc(
        silver,
        url,
        "ledger_entries",
        mode="overwrite",
        createTableColumnTypes=(
            "id VARCHAR(128), transaction_id VARCHAR(128), user_id VARCHAR(64), "
            "wallet_address VARCHAR(255), asset_symbol VARCHAR(64), "
            "amount DECIMAL(31,18), fiat_value DECIMAL(31,18), entry_type VARCHAR(50)"
        ),
        **drv,
    )

    tx_pq = serving.transactions_by_wallet(spark, bp, WALLET).drop("ingest_date")
    tx_db = serving.transactions_by_wallet(spark, url, WALLET, **drv)
    assert sorted(r.id for r in tx_db.collect()) == sorted(r.id for r in tx_pq.collect())
    assert serving.transactions_by_wallet(spark, url, "nobody", **drv).count() == 0
    # the wallet predicate reaches the database, not Spark-side filtering
    plan = tx_db._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "wallet_address" in plan

    led_db = serving.ledger_by_wallet(spark, url, WALLET, **drv)
    led_pq = serving.ledger_by_wallet(spark, sp, WALLET)
    assert sorted(r.id for r in led_db.collect()) == sorted(r.id for r in led_pq.collect())

    bal_db = serving.wallet_balances(spark, url, WALLET, **drv).collect()
    assert len(bal_db) == 1 and bal_db[0].n_entries == 5


def test_cli_corpus_prep(spark, tmp_path, capsys):
    """corpus-prep subcommand: documents parquet in, cleaned corpus out,
    per-stage stats on stdout; the near-dup twin must be removed."""
    import duckdb

    from spectraplex_spark.__main__ import main

    words = "the quick brown fox jumps over lazy dogs and then runs far away home".split()
    # six mutually-distinct docs: each rotates the vocabulary differently,
    # so cross-doc shingle overlap stays far below the 0.8 threshold
    rows = [
        (i, " ".join(words[i % len(words):] + words[: i % len(words)]) * 4)
        for i in range(6)
    ]
    rows.append((100, rows[0][1] + " suffix twin"))  # near-dup of doc 0
    rows.append((101, "zz"))  # fails quality gate (too short)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "docs")
    out = str(tmp_path / "clean")
    docs.write.parquet(src)
    rc = main(["corpus-prep", "--input", src, "--output", out])
    assert rc == 0
    got = capsys.readouterr().out
    assert "corpus-prep:" in got and "clean" in got
    kept = sorted(
        r[0] for r in duckdb.sql(f"SELECT doc_id FROM '{out}/*.parquet'").fetchall()
    )
    assert kept == [0, 1, 2, 3, 4, 5]  # twin 100 removed, junk 101 gated


def test_cli_corpus_prep_with_eval_docs(spark, tmp_path, capsys):
    """--eval-docs appends the decontamination gate: the doc embedding a
    benchmark n-gram is dropped and the stats line records the stage."""
    import duckdb

    from spectraplex_spark.__main__ import main

    # topically-disjoint docs (rotations of one vocabulary would share
    # CYCLIC 8-grams across every doc and all would be flagged)
    rows = [
        (0, "the cat sat on the mat and watched the birds outside the window all day long"),
        (1, "a dog ran through the park while children played near the fountain in the sunshine"),
        (2, "the ship sailed across the ocean carrying goods from distant lands to the harbor"),
        (3, "music filled the hall as the orchestra played a symphony for the waiting audience"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, rows[2][1])], "eval_doc_id long, text string"
    )  # doc 2's text verbatim
    src, ev, out = (str(tmp_path / d) for d in ("docs", "eval", "clean"))
    docs.write.parquet(src)
    bench.write.parquet(ev)
    rc = main(["corpus-prep", "--input", src, "--output", out, "--eval-docs", ev])
    assert rc == 0
    assert "decontaminated" in capsys.readouterr().out
    kept = sorted(
        r[0] for r in duckdb.sql(f"SELECT doc_id FROM '{out}/*.parquet'").fetchall()
    )
    assert kept == [0, 1, 3]


def test_cli_init_tables_then_full_workflow(spark, tmp_path, capsys):
    """The DOCUMENTED workflow order — init-tables FIRST, then ingest →
    normalize → read (module docstring lines 3-6).  The old init wrote
    flat readable empty tables whose layout the sinks' guards then
    rejected (TableInconsistentError on the very first ingest); init now
    creates the targets in the sinks' partitioned layout, and reads on a
    still-empty table serve zero rows instead of a schema-inference
    stack trace (r14 review finding)."""
    from spectraplex_spark.__main__ import main

    bp, sp = str(tmp_path / "bronze"), str(tmp_path / "silver")
    assert main(["init-tables", "--bronze", bp, "--silver", sp]) == 0
    assert "initialized" in capsys.readouterr().out

    # a read on the freshly-initialized (zero-row) tables serves nothing
    assert main(["read", "--bronze", bp, "--wallet", WALLET]) == 0
    assert capsys.readouterr().out.strip() == ""
    assert main(["read", "--silver", sp, "--wallet", WALLET]) == 0
    assert capsys.readouterr().out.strip() == ""

    # init is idempotent and non-destructive
    assert main(["init-tables", "--bronze", bp, "--silver", sp]) == 0
    capsys.readouterr()

    raw_path = tmp_path / "raw.jsonl"
    with open(raw_path, "w") as f:
        f.write(
            json.dumps(
                {
                    "wallet_address": WALLET,
                    "signature": "init-sig0",
                    "response_json": solana_tx(
                        pre_balances=[5 * 10**9, 0],
                        post_balances=[4 * 10**9, 10**9],
                    ),
                    "chain": "solana",
                }
            )
            + "\n"
        )
    # the first ingest into the initialized table must NOT raise
    assert main(["ingest", "--input", str(raw_path), "--bronze", bp]) == 0
    assert "ingested 1 new" in capsys.readouterr().out
    assert main(["normalize", "--input", bp, "--output", sp]) == 0
    assert "1 ledger entries" in capsys.readouterr().out
    assert main(["read", "--silver", sp, "--wallet", WALLET]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 1 and rows[0]["asset_symbol"] == "SOL"
