"""CLI entry point mirroring the reference's clap CLI (cli/src/main.rs:9-55):

  python -m spectraplex_spark init-tables --bronze P --silver P
  python -m spectraplex_spark ingest    --input raw.jsonl --bronze P
  python -m spectraplex_spark normalize --input P(.jsonl|parquet dir) --output P [--jsonl]
  python -m spectraplex_spark read      --bronze|--silver P --wallet W [--limit N]

Reference command mapping: InitDb → init-tables (schema'd empty Parquet
datasets instead of sqlx migrations, cli/src/main.rs:70-78); Ingest →
ingest (JSONL of fetched RPC rows → conformed bronze, :80-113);
Normalize with the db:/file dispatch → normalize over a parquet dir or
a .jsonl file (:115-178); the API read paths → read (api/src/main.rs:115-131).
"""

from __future__ import annotations

import argparse
import sys

# No module-level pyspark import: every command defers it so
# `--help` / argparse errors don't pay the multi-second pyspark cost
# (r14 review finding: one stray eager import defeated the design).


def _spark():
    from spectraplex_spark.session import get_spark

    return get_spark("spectraplex_cli")


def cmd_init_tables(args) -> int:
    """InitDb → init-tables: create the medallion targets in the SINKS'
    layout (bronze partitioned by chain/ingest_date, silver by
    entry_date — the same partition_by write_bronze/write_silver use).

    Parquet is schema-on-write: a zero-row partitioned dataset is a
    directory + _SUCCESS with no footers, and the schema materializes
    on the first append (contrast the reference's sqlx migrations,
    cli/src/main.rs:70-78, which create typed empty tables — a
    metastore's job, not a file format's).  The old form wrote FLAT
    readable empty tables, which the sinks' schema/layout guards then
    rejected on the first real ingest (TableInconsistentError) — the
    documented init→ingest workflow was unusable (r14 review finding,
    regression-tested in tests/test_serving_cli.py)."""
    from pyspark.sql import functions as F

    from spectraplex_spark.schemas import BRONZE_SCHEMA, SILVER_SCHEMA

    spark = _spark()
    bronze = spark.createDataFrame([], BRONZE_SCHEMA).withColumn(
        "ingest_date", F.to_date(F.from_unixtime(F.col("timestamp")))
    )
    bronze.write.mode("ignore").partitionBy("chain", "ingest_date").parquet(args.bronze)
    silver = spark.createDataFrame([], SILVER_SCHEMA).withColumn(
        "entry_date", F.to_date(F.col("created_at"))
    )
    silver.write.mode("ignore").partitionBy("entry_date").parquet(args.silver)
    print(f"initialized bronze={args.bronze} silver={args.silver}")
    return 0


def cmd_ingest(args) -> int:
    from spectraplex_spark.sources.ingest import RAW_FETCH_SCHEMA, conform_to_bronze
    from spectraplex_spark.sources.io import write_bronze

    spark = _spark()
    raw = spark.read.schema(RAW_FETCH_SCHEMA).json(args.input)
    n = write_bronze(conform_to_bronze(raw), args.bronze)
    print(f"ingested {n} new transactions into {args.bronze}")
    return 0


def cmd_normalize(args) -> int:
    from pyspark.sql import Observation, functions as F

    from spectraplex_spark.operators.normalize import normalize, parse_failures
    from spectraplex_spark.sources.io import read_bronze_jsonl, write_jsonl, write_silver

    spark = _spark()
    # the reference's db:/file source dispatch (cli/src/main.rs:118-124)
    if args.input.endswith(".jsonl") or args.input.endswith(".json"):
        bronze = read_bronze_jsonl(spark, args.input)
    else:
        bronze = spark.read.parquet(args.input)
    # persist: the parse_failures count and the silver write each read
    # bronze, and without the cache the expensive JSON parse would run
    # once for each. The silver write counts its rows through an
    # observation on the write itself, so normalize runs once.
    bronze = bronze.persist()
    try:
        silver = normalize(bronze)
        n_bad = parse_failures(bronze).count()
        if args.jsonl:
            seen = Observation()
            write_jsonl(silver.observe(seen, F.count(F.lit(1)).alias("n")), args.output)
            n = seen.get["n"]
        else:
            n = write_silver(silver, args.output)
    finally:
        bronze.unpersist()
    print(f"normalized -> {n} ledger entries into {args.output} ({n_bad} unparseable rows skipped)")
    return 0


def cmd_read(args) -> int:
    from spectraplex_spark import serving

    spark = _spark()
    if args.silver:
        df = serving.ledger_by_wallet(spark, args.silver, args.wallet)
    else:
        df = serving.transactions_by_wallet(spark, args.bronze, args.wallet)
    for line in serving.to_json_rows(df, limit=args.limit):
        print(line)
    return 0


def cmd_corpus_prep(args) -> int:
    """The LLM-training-data extension surface, CLI-reachable: language
    gate → quality gate → exact dedup → transitive near-dup removal →
    optional benchmark decontamination (--eval-docs) → cleaned corpus
    parquet (+ per-stage stats unless --no-stats)."""
    from spectraplex_spark.operators.corpus import prepare_corpus

    spark = _spark()
    docs = spark.read.parquet(args.input)
    clean, stats = prepare_corpus(
        docs,
        keep_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        jaccard_threshold=args.jaccard,
        collect_stats=not args.no_stats,
        eval_docs=(
            spark.read.parquet(args.eval_docs) if getattr(args, "eval_docs", None) else None
        ),
    )
    clean.write.mode("overwrite").parquet(args.output)
    if stats is not None:
        print(
            f"corpus-prep: {stats.n_input} in -> {stats.n_after_lang} lang "
            f"-> {stats.n_after_quality} quality -> {stats.n_after_exact_dedup} "
            f"exact-dedup -> {stats.n_after_neardup} near-dup"
            + (
                f" -> {stats.n_after_decontam} decontaminated"
                if stats.n_after_decontam >= 0
                else ""
            )
            + f" clean ({stats.total_tokens} tokens) into {args.output}"
        )
    else:
        print(f"corpus-prep: cleaned corpus written to {args.output}")
    return 0


def cmd_serve(args) -> int:
    from spectraplex_spark.serving_http import AppState, serve_forever

    state = AppState(_spark(), bronze_path=args.bronze, silver_path=args.silver)
    serve_forever(state, host=args.host, port=args.port)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spectraplex_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_init = sub.add_parser("init-tables", help="create empty schema'd medallion tables")
    p_init.add_argument("--bronze", required=True)
    p_init.add_argument("--silver", required=True)
    p_init.set_defaults(fn=cmd_init_tables)

    p_ing = sub.add_parser("ingest", help="conform fetched RPC JSONL to bronze")
    p_ing.add_argument("--input", required=True)
    p_ing.add_argument("--bronze", required=True)
    p_ing.set_defaults(fn=cmd_ingest)

    p_norm = sub.add_parser("normalize", help="bronze -> silver ledger entries")
    p_norm.add_argument("--input", required=True, help=".jsonl file or bronze parquet dir")
    p_norm.add_argument("--output", required=True)
    p_norm.add_argument("--jsonl", action="store_true", help="write JSONL instead of parquet")
    p_norm.set_defaults(fn=cmd_normalize)

    p_read = sub.add_parser("read", help="serving reads by wallet")
    g = p_read.add_mutually_exclusive_group(required=True)
    g.add_argument("--bronze")
    g.add_argument("--silver")
    p_read.add_argument("--wallet", required=True)
    p_read.add_argument("--limit", type=int, default=50)
    p_read.set_defaults(fn=cmd_read)

    p_cp = sub.add_parser(
        "corpus-prep",
        help="training-data prep: gates -> exact dedup -> near-dup removal",
    )
    p_cp.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    p_cp.add_argument("--output", required=True)
    p_cp.add_argument("--langs", default="en", help="comma-separated language keeps")
    p_cp.add_argument("--min-quality", type=float, default=0.5)
    p_cp.add_argument("--jaccard", type=float, default=0.8)
    p_cp.add_argument("--no-stats", action="store_true", help="skip counting actions")
    p_cp.add_argument(
        "--eval-docs",
        help="benchmark parquet (eval_doc_id, text): drop training docs "
        "sharing any verbatim 8-token n-gram with it (decontamination)",
    )
    p_cp.set_defaults(fn=cmd_corpus_prep)

    p_srv = sub.add_parser(
        "serve", help="HTTP serving edge (the reference API, api/src/main.rs:30-50)"
    )
    p_srv.add_argument("--bronze", required=True)
    p_srv.add_argument("--silver", required=True)
    p_srv.add_argument("--host", default="127.0.0.1")
    p_srv.add_argument("--port", type=int, default=3000)  # main.rs:40
    p_srv.set_defaults(fn=cmd_serve)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
