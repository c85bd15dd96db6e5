"""Batch sources for the engine.

The reference's source is the Kafka Connect framework handing it one record
at a time (reference JsonataTransformation.java:88). Our batch sources are
columnar parquet scans — Catalyst pushes filters and prunes columns into the
scan, which is the scale path for 100 TB (the reference has no batch story).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Plan-construction cache (round 14, guide §5 — the driver): one DataFrame
# PLAN per (application, sf_dir, table). spark.read.parquet is pure driver
# work — file listing, footer/schema read, ~50-70 ms per call — repeated
# identically by every query that touches the same immutable table (TPC-H
# shapes call it up to 6 times each). The cached object is an UNEXECUTED
# logical plan: every action still scans the parquet files (nothing is
# persisted or memoized about the DATA — .cache() is never called), so this
# is the plan-level analogue of registering the table once per application,
# not result caching. Keyed on applicationId so a new session (new JVM app)
# rebuilds its own plans; bounded so long-lived multi-session processes
# (pytest) cannot grow it without limit.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_PLAN_CACHE_MAX = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (plan-cached per application — see
    ``_PLAN_CACHE``). Plain parquet scan: predicate pushdown and column
    pruning land automatically once callers filter/select.

    ``events.ts`` is stored as TIMESTAMP(NANOS). Spark 4.1+ reads it
    natively as TIMESTAMP_NTZ truncated to microseconds (UTC wall clock —
    the exact naive-timestamp semantics DuckDB uses, so oracle values line
    up bit-for-bit). Spark <=4.0 has no nanos read path at all unless
    ``legacy.parquet.nanosAsLong`` is set, in which case the column arrives
    as a nanosecond long; we set the conf defensively (runtime-settable,
    ignored on 4.1+) and convert that long to a microsecond timestamp.

    Session-portable by design: no branch here depends on the session
    having been built by :func:`engine.get_spark` — external harnesses hand
    us vanilla sessions. Use :func:`ts_micros`/:func:`ts_millis` to get
    epoch values out of ``ts``; bare ``unix_micros(ts)`` is a type error on
    the NTZ column.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer div, NOT double division: ns values ~1.7e18 exceed double
        # mantissa precision and would round the microsecond truncation.
        # Normalize the legacy (Spark <=4.0) path all the way to
        # TIMESTAMP_NTZ holding the UTC wall clock — the same type the 4.1+
        # native nanos read produces — so every downstream consumer sees ONE
        # type and _ntz_to_instant's NTZ assumption always holds. Pure
        # epoch arithmetic (NTZ epoch + micros), no zone functions at all:
        # the former convert_timezone(session, UTC, ltz) two-step resolved
        # the session wall clock, which is ambiguous in the DST fall-back
        # overlap (round-8 advisor fix).
        df = df.withColumn(
            "ts",
            F.timestamp_add(
                "MICROSECOND",
                F.expr("ts div 1000"),
                F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"),
            ),
        )
    if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
        _PLAN_CACHE.clear()
    _PLAN_CACHE[key] = df
    return df


# Vector width of the embeddings table, probed once per (application,
# dataset) — catalog-grade METADATA (the fixed array width of a column),
# not a query result: the same session-scoped, applicationId-keyed
# contract as _PLAN_CACHE. Saves one single-row probe job per
# construction for queries that size driver-side structures (LSH
# hyperplanes) off the vector width.
_EMB_DIM_CACHE: dict[tuple[str, str], int] = {}


def embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    dim = _EMB_DIM_CACHE.get(key)
    if dim is None:
        row = load_table(spark, sf_dir, "embeddings").select("embedding").first()
        if row is None:
            raise ValueError(
                f"embeddings table in {sf_dir} is empty; no vector dimension to read"
            )
        dim = len(row[0])
        if len(_EMB_DIM_CACHE) >= _PLAN_CACHE_MAX:
            _EMB_DIM_CACHE.clear()
        _EMB_DIM_CACHE[key] = dim
    return dim


def _ntz_to_instant(col):
    """NTZ (UTC wall clock) -> TIMESTAMP instant, independent of the
    session timezone: epoch microseconds straight off the NTZ value
    (``timestamp_diff`` against the NTZ epoch — pure wall-clock
    arithmetic, no zone involved), reinterpreted as an instant with
    ``timestamp_micros``.

    NOTE: the tempting one-step ``to_utc_timestamp(ntz, 'UTC')`` is WRONG
    under a non-UTC session — Spark first casts NTZ->LTZ through the
    session zone, silently shifting the value (verified: off by the zone
    offset under America/New_York). The previous cancelling two-step
    ``convert_timezone(UTC, session, ntz).cast('timestamp')`` was also
    subtly wrong (round-8 advisor): the NTZ->LTZ cast resolves the
    session-zone wall clock AMBIGUOUSLY in the DST fall-back overlap, so
    the two UTC instants whose session rendering lands in that hour
    collapsed to one epoch (verified under America/New_York,
    2024-11-03 05:30Z vs 06:30Z). Input here is always NTZ:
    ``load_table`` normalizes the legacy long-nanos path to NTZ too.
    """
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.timestamp_diff(
            "MICROSECOND", F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"), col
        )
    )


def ts_micros(col):
    """Epoch microseconds from ``events.ts`` in either form it arrives as
    (TIMESTAMP_NTZ on Spark 4.1+, legacy LTZ conversion on <=4.0) —
    session-timezone independent. ``unix_micros`` directly on an NTZ
    column is an AnalysisException; this wrapper is the one sanctioned
    spelling."""
    from pyspark.sql import functions as F

    return F.unix_micros(_ntz_to_instant(col))


def ts_millis(col):
    """Epoch milliseconds; see :func:`ts_micros`."""
    from pyspark.sql import functions as F

    return F.unix_millis(_ntz_to_instant(col))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """C1: generic batch scan (parquet/json/csv/orc/text). Declarative so
    Catalyst pushes predicates and prunes columns into the source where the
    format supports it; json/csv get schema inference only when no schema
    is passed (avoid at scale — inference is an extra full read)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    return reader.options(**options).load(path)


def file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """C2: file-based streaming source (directory watcher). Schema is
    required by Structured Streaming for file sources; pass the batch
    scan's schema."""
    if schema is None:
        schema = scan(spark, path, fmt, **options).schema
    return spark.readStream.format(fmt).schema(schema).options(**options).load(path)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """C2: synthetic rate source (timestamp, value) for smoke tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
