"""Sources and sinks (SURVEY §2.1): JSONL interchange, partitioned
Parquet medallion tables, and the idempotent-append write protocol.

Reference mapping:
  - S3/K3 JSONL source/sink (cli/src/main.rs:126-146, 106-113): schema'd
    ``spark.read.json`` / ``df.write.json`` — never inferred in
    production paths (the reference deserializes strictly into structs).
  - K1/K2 idempotent Postgres sinks (`INSERT ... ON CONFLICT (id) DO
    NOTHING`, repo.rs:13-71): re-expressed as a left-anti join of the
    incoming batch against the target's ids, then append (SURVEY §4.1).
  - Index-driven access paths (init.sql:17-19,34-35): re-expressed as
    partition columns — bronze by (chain, ingest date), silver by entry
    date — so date bounds partition-prune instead of index-seek. The
    wallet predicate is pushed to the parquet reader but clusters
    nothing: a wallet's rows are spread over every file.

Scale notes: each append is one Spark query — the input is read once,
deduplicated, anti-joined and written, and the row count is observed on
the way into the writer, so no sink caches its input or runs a separate
count. The anti-join reads ONLY the id column of the target (Parquet
column pruning), so its cost is O(ids), not O(data) — but it reads every
id the table holds, so a landing's cost grows with history. On
Delta/Iceberg this whole protocol becomes a MERGE; plain Parquet has no
transactional upsert, so append + anti-join is the portable expression.
"""

from __future__ import annotations

import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from spectraplex_spark.schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from spectraplex_spark.sources.commit import (
    EPOCH_DIR,
    _data_files,
    _epoch_paths,
    commit_append_epoch,
    committed_epoch_files,
    read_committed_epochs,
)


def open_source(
    spark: SparkSession, source: str, table: str | None = None, **jdbc_options
) -> DataFrame:
    """S6 source dispatch (the reference's ``db:`` URI prefix,
    cli/src/main.rs:118-124): a ``jdbc:`` URL reads ``table`` over JDBC —
    the literal twin of the reference's Postgres serving reads
    (repo.rs:73-149) — anything else is a Parquet path.

    JDBC reads push the serving predicates into the database (Catalyst
    JDBC pushdown covers filters and column pruning), exactly the
    reference's `WHERE wallet_address = $1` shape. At scale pass
    ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    through ``jdbc_options`` so the read parallelizes instead of
    funneling through one connection. Tested against embedded Derby
    (the JDBC engine Spark ships); the same code path serves Postgres
    by URL swap.

    A Parquet path is read as its committed epoch snapshot
    (``commit.read_committed_epochs``): files of a torn append, on disk
    but committed by no epoch, are never served. The opened frame is
    reused while the session and the table's epoch manifest names are
    unchanged, so a repeated read skips the table listing, the footer
    reads and schema inference. A ``transactions`` or ``ledger_entries``
    directory with no epoch yet (a fresh init-tables) reads as zero
    rows of the sink's schema.
    """
    if source.startswith("jdbc:"):
        if not table:
            raise ValueError("jdbc source requires a table name")
        reader = spark.read.format("jdbc").option("url", source).option("dbtable", table)
        for k, v in jdbc_options.items():
            reader = reader.option(k, str(v))
        return reader.load()
    # Listed BEFORE the read: an epoch committing in between lands in the
    # frame under the older names and costs one more miss, never a stale hit.
    names = tuple(os.path.basename(p) for p in _epoch_paths(source))
    hit = _snapshots.get(source)
    if hit is not None and hit[0] is spark and hit[1] == names:
        return hit[2]
    if not names and table in _EMPTY_READ_SCHEMAS and os.path.isdir(source):
        df = spark.createDataFrame([], _EMPTY_READ_SCHEMAS[table])
    else:
        df = read_committed_epochs(spark, source)
    _snapshots[source] = (spark, names, df)
    return df


# open_source's committed snapshots, one per table path: (session, epoch
# manifest names, frame). Epochs are append-only and a squash renames
# them, so equal names mean the same committed files; a frame is never
# reused by another session (a restarted one included).
_snapshots: dict[str, tuple[SparkSession, tuple[str, ...], DataFrame]] = {}

# A reference table before its first epoch has no footer to read its
# schema from: the sink's declared columns plus its date partition.
_EMPTY_READ_SCHEMAS = {
    "transactions": T.StructType(
        [*BRONZE_SCHEMA.fields, T.StructField("ingest_date", T.DateType())]
    ),
    "ledger_entries": T.StructType(
        [*SILVER_SCHEMA.fields, T.StructField("entry_date", T.DateType())]
    ),
}


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options
) -> None:
    """K1/K2 JDBC sink shape: bulk batched INSERTs per partition —
    versus the reference's one-round-trip-per-row loop (repo.rs:14-38).
    True ON CONFLICT idempotency needs the database's upsert (or the
    anti-join protocol against a read of the target's ids); plain
    append is the portable core."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, str(v))
    writer.mode(mode).save()


def read_bronze_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S3: newline-delimited JSON with the declared bronze schema.
    Corrupt lines become all-null rows surfaced by operators.normalize's
    parse_failures rather than aborting the read (PERMISSIVE)."""
    return spark.read.schema(BRONZE_SCHEMA).json(path)


# Spark's JSON default renders timestamps at millisecond precision,
# silently losing micros on a write→read round trip; the sink is an
# interchange format, so it must be lossless. Readers parse these
# fine: the ltz pattern is ISO-with-offset, the ntz pattern plain ISO.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
JSON_TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3: JSONL sink (one JSON object per line, microsecond-faithful
    timestamps)."""
    (
        df.write.mode(mode)
        .option("timestampFormat", JSON_TS_FORMAT)
        .option("timestampNTZFormat", JSON_TS_NTZ_FORMAT)
        .json(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink, interchange-grade: header row, microsecond-faithful
    timestamps (same lossless contract as the JSONL sink — Spark's CSV
    default also truncates to milliseconds), full quoting semantics
    (embedded commas/quotes/newlines survive)."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampFormat", JSON_TS_FORMAT)
        .option("timestampNTZFormat", JSON_TS_NTZ_FORMAT)
        .option("escape", '"')
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with a DECLARED schema — inference double-scans the
    data and guesses types (a 100 TB anti-pattern and a correctness
    hazard); interchange readers always declare. Multiline quoted
    fields are honored so text columns round-trip."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", JSON_TS_FORMAT)
        .option("timestampNTZFormat", JSON_TS_NTZ_FORMAT)
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib, Spark-native). ORC is binary and columnar, so —
    unlike the JSONL/CSV text sinks — timestamps, decimals and doubles
    round-trip without format options; included so the interchange
    matrix covers the Hive-ecosystem format alongside parquet."""
    df.write.mode(mode).option("compression", "zlib").orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source. The schema is optional (ORC files embed it); passing
    one pins the reader to the declared contract like the other
    interchange readers."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def _read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """The Parquet dataset at ``path``, or None if there is none.

    One read both probes and opens the target, so listing and schema
    inference run once. The append protocol already assumes a local
    path (the layout guard lists it with ``os.listdir``, the epoch
    commit walks it with ``os.walk``), so a missing directory is None
    before any read — Spark would log a FileNotFoundException stack
    trace for it. A directory that holds no parquet (``init-tables``
    output) raises AnalysisException on the read → None. Schema
    resolution touches only footers — no data scan; genuinely corrupt
    targets still raise on the subsequent real read.
    """
    if not os.path.isdir(path):
        return None
    try:
        df = spark.read.parquet(path)
        df.schema
    except AnalysisException:
        return None
    # Any OTHER exception (network blip, credentials, permissions)
    # propagates: treating a transient probe failure as "table absent"
    # would skip the schema guard AND the anti-join and land a replayed
    # batch as full duplicates with no error anywhere (review finding).
    return df


def _target_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a readable Parquet dataset."""
    return _read_target(spark, path) is not None


def _name_value_dirs(path: str) -> list[str]:
    """The ``name=value`` directories directly under ``path``, sorted.

    NO underscore exclusion: partition columns named _tp/_gb are
    legitimate (the postings/grams bucket layouts) and Spark's sidecar
    artifacts (_SUCCESS, _epochs, _config) never contain '=' — the '='
    test alone separates the two (full-suite catch r13: the first cut
    skipped '_tp=...' and refused every incremental index append).
    """
    return sorted(
        d for d in os.listdir(path) if "=" in d and os.path.isdir(os.path.join(path, d))
    )


def _existing_partition_layout(path: str) -> tuple[str, ...]:
    """The ordered partition-column chain of a table's on-disk Hive
    layout, read from the first ``name=value`` directory path (every
    branch of a valid layout carries the same chain)."""
    from urllib.parse import unquote

    cols: list[str] = []
    cur = path
    while subs := _name_value_dirs(cur):
        cols.append(unquote(subs[0].split("=", 1)[0]))
        cur = os.path.join(cur, subs[0])
    return tuple(cols)


def idempotent_append(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    partition_by: tuple[str, ...] = (),
) -> int:
    """K1/K2: append only rows whose id is not already in the target.

    Returns the number of rows appended.

    ``df`` is evaluated once: the rows are counted by an observation on
    the write itself, with no cache and no separate count job. A caller
    whose ``df`` has an expensive or nondeterministic lineage and that
    evaluates it again elsewhere persists it first. An append that
    admits no rows commits no epoch and leaves the target as it found
    it: the schema-only part file Spark writes for an empty flat write
    is removed, and so is a directory the append itself created if it
    still holds no data. Nothing another writer landed meanwhile (its
    part files, its epoch manifest) is touched.

    Within-batch duplicates are also collapsed (first occurrence wins
    arbitrarily among identical ids — the reference's ON CONFLICT keeps
    the first INSERT too, repo.rs:26).

    Each batch that lands is committed as an epoch manifest
    (sources/commit.py) — the append-only analog of the stage-then-swap
    commit marker: readers via ``read_committed_epochs`` never see a
    torn batch, and a writer killed between Spark's job commit and the
    epoch commit is detected (and rolled forward) by
    ``validate_epochs``/``adopt_uncommitted``. The anti-join above
    deliberately reads the RAW directory, not the committed view, so a
    replay after a torn append stays a no-op instead of duplicating the
    orphaned rows.
    """
    spark = df.sparkSession
    batch = df.dropDuplicates([id_col])
    existing = _read_target(spark, path)
    if existing is not None:
        # SCHEMA GUARD: parquet append has no engine-side contract — a
        # batch with a renamed/retyped column would land and silently fork
        # the table's schema (readers then null-fill or fail file-by-file).
        # Compare by name+type, order-insensitive (parquet matches columns
        # by name). Partition columns are compared by NAME only: their
        # read-back type comes from partition-value inference, which can
        # legitimately differ from the written type (e.g. numeric-looking
        # strings).
        from spectraplex_spark.sources.commit import TableInconsistentError

        strict = lambda schema: {  # noqa: E731
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name not in partition_by
        }
        if strict(batch.schema) != strict(existing.schema) or {
            f.name for f in batch.schema.fields
        } != {f.name for f in existing.schema.fields}:
            raise TableInconsistentError(
                f"{path}: append batch schema does not match the table — "
                f"batch {batch.schema.simpleString()} vs table "
                f"{existing.schema.simpleString()}; appending would fork "
                "the parquet schema silently"
            )
        # LAYOUT GUARD (review finding r13): the schema guard cannot see
        # partition-by drift — a flat append into a partitioned table
        # (or vice versa, or a re-ordered nesting) has an identical
        # name+type set, but the files land at the wrong directory
        # depth and every later read fails with 'Conflicting directory
        # structures detected' AFTER the batch committed.  Compare the
        # call's partition_by with the name=value chain actually on
        # disk, in order.
        layout = _existing_partition_layout(path)
        if layout != tuple(partition_by):
            raise TableInconsistentError(
                f"{path}: table is partitioned by {list(layout)} on disk "
                f"but the append asked for partition_by="
                f"{list(partition_by)} — the batch would land at the "
                "wrong directory depth and break every later read"
            )
        # Only id_col is read from the target: column pruning keeps this
        # O(row-count), never O(bytes). NULL-SAFE join: a plain equi-key
        # anti-join never matches NULL ids, so a corrupt all-null row
        # (PERMISSIVE read; Spark does not enforce read-schema
        # nullability) would re-append on EVERY replay — the one case
        # the replay-is-a-no-op guarantee would otherwise miss (review
        # finding). dropDuplicates above already collapses null ids to
        # one row within a batch.
        batch = batch.join(
            existing.select(F.col(id_col).alias("_existing_id")),
            F.col(id_col).eqNullSafe(F.col("_existing_id")),
            "left_anti",
        )
    # The write is the only query over the batch; the observation counts
    # the rows on their way into the writer, so nothing is cached and
    # nothing is evaluated twice.
    seen = Observation()
    writer = batch.observe(seen, F.count(F.lit(1)).alias("n")).write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    existed = os.path.isdir(path)
    before = set(_data_files(path))
    marked = os.path.exists(os.path.join(path, "_SUCCESS"))
    writer.parquet(path)
    n = seen.get["n"]
    if n:
        commit_append_epoch(path)
    else:
        _undo_empty_write(path, before, marked, created=not existed)
    return n


def _undo_empty_write(
    path: str, before: set[str], marked: bool, created: bool
) -> None:
    """Take back what an empty write left: the schema-only part file
    Spark writes on a flat table, the job's ``_SUCCESS`` marker if the
    table had none, their checksums, and the directory if this append
    created it and it still holds no data. Only part files that hold no
    rows and that no epoch lists are removed, and never an epoch
    manifest, so a batch another writer landed meanwhile survives, even
    one whose epoch adopted the empty file."""
    import pyarrow.parquet as pq

    def empty_part(rel: str) -> bool:
        name = os.path.basename(rel)
        if not (name.startswith("part-") and name.endswith(".parquet")):
            return False
        try:
            return pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows == 0
        except FileNotFoundError:
            return False

    added = set(_data_files(path)) - before - set(committed_epoch_files(path))
    undo = [os.path.join(path, rel) for rel in added if empty_part(rel)]
    if not marked:
        undo.append(os.path.join(path, "_SUCCESS"))
    for f in undo:
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        for g in (f, crc):
            if os.path.exists(g):
                os.remove(g)
    if (
        created
        and os.path.isdir(path)
        and not _data_files(path)
        and not os.path.exists(os.path.join(path, EPOCH_DIR))
    ):
        shutil.rmtree(path)


def write_bronze(df: DataFrame, path: str) -> int:
    """Bronze landing: partitioned by chain + ingest date (the
    (wallet, timestamp) index analog — serving queries prune on both)."""
    with_date = df.withColumn(
        "ingest_date", F.to_date(F.from_unixtime(F.col("timestamp")))
    )
    return idempotent_append(
        with_date, path, id_col="id", partition_by=("chain", "ingest_date")
    )


def land_with_quarantine(
    bronze: DataFrame,
    silver_path: str,
    quarantine_path: str,
    audit_ts: F.Column | None = None,
    prices: DataFrame | None = None,
) -> tuple[int, int]:
    """Bronze → silver with a dead-letter lane: parseable rows normalize
    into the idempotent silver sink; rows whose raw_metadata fails to
    parse land in a quarantine table (id, tx_hash, chain, the raw
    payload, a reason, and when it was quarantined) instead of being
    silently dropped. Returns (n_silver_appended, n_quarantined).

    Each lane evaluates ``bronze`` once, in the job that writes it, so
    a landing reads its input twice and caches nothing. The caller owns
    any caching: persist ``bronze`` first if its lineage is expensive
    or nondeterministic (a source that may change between reads).

    Both lanes use the same idempotent-append protocol, so replays are
    no-ops on both; quarantined rows stay replayable — fix the parser,
    re-ingest the quarantine as bronze, and the anti-join admits only
    the now-parsing entries. This resolves the reference's CLI/API
    split (abort-on-first-error vs silently-swallow — cli/src/main.rs:155,
    api/src/main.rs:103) with an explicit third way: keep going, keep
    the evidence.

    ``prices`` (optional, columns asset_symbol/price_ts/price) populates
    ``fiat_value`` — the column the reference declares but always leaves
    None (models.rs:43) — via an as-of join: amount × the latest price
    at-or-before the entry's creation time; entries with no prior price
    keep null. Without ``prices`` the landing matches the reference
    byte-for-byte (fiat_value null).
    """
    from spectraplex_spark.operators.normalize import normalize, parse_failures

    silver = normalize(bronze, audit_ts=audit_ts)
    if prices is not None:
        from spectraplex_spark.operators.temporal import enrich_fiat_value

        silver = enrich_fiat_value(silver, prices)
    n_silver = write_silver(silver, silver_path)
    bad = parse_failures(bronze).select(
        "id",
        "tx_hash",
        "chain",
        "raw_metadata",
        # all-null corrupt-line rows (PERMISSIVE read) carry no payload
        # at all; label them distinctly. They collapse to one null-id
        # representative in the idempotent sink — they are
        # indistinguishable by construction.
        F.when(F.col("raw_metadata").isNull(), "corrupt bronze line")
        .otherwise("unparseable raw_metadata")
        .alias("reason"),
        (audit_ts if audit_ts is not None else F.current_timestamp()).alias(
            "quarantined_at"
        ),
    )
    n_bad = idempotent_append(bad, quarantine_path, id_col="id")
    return n_silver, n_bad


def write_silver(df: DataFrame, path: str) -> int:
    """Silver ledger: partitioned by entry date; wallet_address carried
    denormalized (the reference's add_wallet_to_ledger migration made
    the same layout call for its serving reads)."""
    with_date = df.withColumn("entry_date", F.to_date(F.col("created_at")))
    return idempotent_append(with_date, path, id_col="id", partition_by=("entry_date",))
