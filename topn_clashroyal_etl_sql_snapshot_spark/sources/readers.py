"""Readers: landing-zone JSON, static catalog, warehouse parquet, testdata.

Reference ingest is a sequential HTTP N+1 fetcher
(``/root/reference/scripts/etl_snapshot_topn.py:243-245``); in this engine
ingest lands raw JSONL per player and Spark reads the landing zone with a
declared schema — at 100 TB the landing zone is just more files, and the
JSON scan parallelizes per file split.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    BATTLE_SCHEMA,
    CARD_METADATA_SCHEMA,
    LEADERBOARD_SCHEMA,
    OVERRIDES_SCHEMA,
    TESTDATA_TABLES,
    WAREHOUSE_SCHEMAS,
)


def read_battles_json(spark: SparkSession, path: str) -> DataFrame:
    """Battlelog landing zone (JSONL; one battle per line).

    Maps reference A2 (``src/api/battles.py:20-44``): the REST fetch is an
    ingest-side concern; Spark reads the landed documents with the
    explicit nested schema so malformed fields come back null instead of
    triggering inference.
    """
    return spark.read.schema(BATTLE_SCHEMA).json(path)


def read_leaderboard_json(spark: SparkSession, path: str) -> DataFrame:
    """Leaderboard landing zone (A1, ``src/api/cr_client.py:51-61``)."""
    return spark.read.schema(LEADERBOARD_SCHEMA).json(path)


def read_card_catalog(spark: SparkSession, path: str) -> DataFrame:
    """Static 121-card metadata catalog (A4, ``src/clashdb/card_metadata.py:11-17``).

    Tiny dimension — callers broadcast it into joins.
    """
    if path.endswith(".json"):
        return spark.read.schema(CARD_METADATA_SCHEMA).json(path, multiLine=True)
    return spark.read.schema(CARD_METADATA_SCHEMA).parquet(path)


def read_overrides(spark: SparkSession, path: str | None) -> DataFrame:
    """deck_type_overrides config (A6, ``scripts/etl_snapshot_topn.py:150-159``).

    Missing path → empty config (the reference tolerates an empty table).
    """
    if path and os.path.exists(path):
        return spark.read.schema(OVERRIDES_SCHEMA).parquet(path)
    return spark.createDataFrame([], OVERRIDES_SCHEMA)


def read_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """Read one warehouse table written by the snapshot sink, with its
    declared schema: no footer-inference job, so building the reader
    starts no Spark job."""
    if name not in WAREHOUSE_SCHEMAS:
        raise KeyError(f"unknown warehouse table {name!r}")
    return spark.read.schema(WAREHOUSE_SCHEMAS[name]).parquet(
        os.path.join(warehouse_dir, name)
    )


# Session-scoped read-relation cache for read_testdata (r16, guide §6:
# repeated parquet footer reads). Every schema-inferring
# ``spark.read.parquet`` pays a footer-inference job plus a fresh file
# listing (~250 ms measured at sf0.1 vs ~92 ms schema-given, ~0 ms for
# a cached relation), and the bench/oracle harnesses call
# read_testdata 1-3× per query invocation — repeated inference of an
# immutable table's schema was the single largest per-entry fixed cost
# left. DataFrames are immutable plan objects, so handing every caller
# the SAME analyzed relation changes nothing about what executes
# downstream (each caller builds its own plan on top); this caches no
# rows and no results — every action still scans the parquet. Each
# realpath holds ONE entry stamped with the file's (mtime_ns, size)
# signature, so a rewritten table (tests writing their own sf_dir)
# re-reads and replaces its entry; the session key is weak so a
# stopped session's entries drop with it.
_TESTDATA_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated synthetic table (TESTDATA.md).

    ``events.ts`` has shipped under three parquet types across driver
    versions — TIMESTAMP(NANOS) (vectorized reader rejects it; read
    nanos-as-long and rebuild), timestamp[us] isAdjustedToUTC=false
    (Spark 4 reads it as TIMESTAMP_NTZ), and plain TIMESTAMP.
    Normalize all three to session-TZ TIMESTAMP here so downstream
    operators (``unix_millis`` et al., which reject NTZ) see ONE type.
    The session timezone is pinned UTC (session.py), so the NTZ→TZ cast
    is value-identical.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        # (mtime_ns, size) signature, not getmtime (r16 advisor): on
        # filesystems with coarse mtime granularity a rewrite within
        # one tick would otherwise serve a stale relation; size breaks
        # most same-tick ties, and nanosecond stamps the rest where
        # the filesystem records them.
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = None  # let spark.read surface the real error uncached
    per_session = _TESTDATA_CACHE.setdefault(spark, {})
    # keyed by realpath with the signature stored alongside (r16
    # advisor): a rewritten table REPLACES its entry instead of
    # accumulating one live stale DataFrame per (path, mtime) for the
    # session's lifetime.
    rp = os.path.realpath(path)
    hit = per_session.get(rp)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if sig is not None:
        per_session[rp] = (sig, df)
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_testdata(spark, sf_dir, name).createOrReplaceTempView(name)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema=None,
    corrupt_col: str = "_corrupt_record",
):
    """Document-corpus landing zone reader with QUARANTINE: returns
    ``(good, bad)`` where ``good`` rows parsed fully against the schema
    and ``bad`` carries the raw malformed line for triage. A web-scale
    JSONL drop ALWAYS contains broken lines (truncated uploads,
    encoding damage, concatenated records); silently nulling them
    (PERMISSIVE alone) under-counts the corpus, and FAILFAST kills a
    100 TB job for one bad byte — the split keeps ingest total:
    ``count(good) + count(bad) = lines``, and the quarantine frame is
    the retry/alerting input.

    Spark-first shape: TEXT source → ``from_json`` with a
    corrupt-record field in the parse schema. Deliberately NOT the raw
    JSON file source with ``columnNameOfCorruptRecord``: that path
    forbids any query whose pruned column set is just the corrupt
    column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — a
    plain ``bad.count()`` throws, and Spark's documented workaround is
    caching the whole scan, a non-starter at 100 TB). ``from_json`` on
    a text column carries no such restriction, parses in the same
    codegen stage, and each half pushes its own filter. Compressed
    landing files (.gz etc. per Spark's codec support) decompress
    transparently in the text source; blank lines are dropped, not
    quarantined. Schema defaults to the streaming ingest's
    ``DOCUMENT_SCHEMA`` (same landing zone, batch or stream).

    Caveat baked into the split predicate: the corrupt field populates
    ONLY for unparseable lines; a parseable object with missing fields
    is a GOOD row with nulls (schema-drift detection is the validation
    suite's job, not the parser's)."""
    from pyspark.sql import types as T

    if schema is None:
        from ..streaming.corpus import DOCUMENT_SCHEMA

        schema = DOCUMENT_SCHEMA
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    lines = spark.read.text(path).filter(F.trim("value") != "")
    parsed = lines.select(
        "value",
        F.from_json(
            "value", full, {"columnNameOfCorruptRecord": corrupt_col}
        ).alias("_r"),
    )
    good = (
        parsed.filter(F.col(f"_r.{corrupt_col}").isNull())
        .select("_r.*")
        .drop(corrupt_col)
    )
    bad = parsed.filter(F.col(f"_r.{corrupt_col}").isNotNull()).select(
        F.col("value").alias("raw_line")
    )
    return good, bad
