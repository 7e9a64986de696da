"""Shared table access for the query modules; defines no query.

Every query and its oracle are written against the SAME semantics:
identical rounding (applied in both engines), identical tie-breaks,
identical null conventions, identical hash primitives (md5-derived — see
functions/hashing.py). Column names are aliased identically so the
driver's order-insensitive value-hash comparison is meaningful.

Time convention: ``events.ts`` is stored as parquet timestamp[ns]; the
engine session reads it as BIGINT nanoseconds (nanosAsLong). Queries use
epoch MICROseconds (``ts DIV 1000``) to match the µs resolution of the
oracle engine's timestamp type (``epoch_us(ts)``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.streaming.shell import max_partition_bytes, stream_table_load

DAY_US = 24 * 3600 * 1_000_000
WEEK_US = 7 * DAY_US


# Per-session DataFrame memo for the base tables (r8 optimization): each
# spark.read.parquet builds a fresh InMemoryFileIndex + reads the footer
# for schema inference — pure per-query fixed overhead when 195 bench
# queries re-open the same ten immutable test tables. Re-using the
# *unresolved read plan* skips that metadata work; NO results or data are
# cached (every action still scans the parquet), and the memo is keyed
# weakly by session so a stopped session's entries die with it. The test
# inputs are immutable fixtures; anything written mid-query (scratch
# dirs) goes through plain spark.read, not _t.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_MEMO.get(spark)
    if per_session is None:
        per_session = {}
        _TABLE_MEMO[spark] = per_session
    key = (sf_dir, name)
    # events.parquet has shipped as both timestamp[ns]-as-int64 and
    # timestamp[us]; nanosAsLong lets the former load
    # (PARQUET_TYPE_ILLEGAL otherwise) and the UTC pin makes
    # TIMESTAMP_NTZ→TIMESTAMP casts timezone-stable no matter which
    # session the caller built. Queries must run on ANY caller-provided
    # session (the driver builds its own), so pin the runtime confs on
    # EVERY call, not only on memo miss: the timezone affects each
    # query's own analysis time, so a caller flipping it between calls
    # must still get UTC semantics (cheap, idempotent conf sets).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """A test table as a parquet file stream, for either on-disk layout
    (``stream_table_load``), carrying the memoized batch read's schema so
    opening the stream starts no schema-inference job."""
    reader = spark.readStream.schema(_t(spark, sf_dir, table).schema)
    return stream_table_load(reader.format("parquet"), sf_dir, table)


def _table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of a test table (bare file or replica part-dir)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
        return os.path.getsize(path)
    except OSError:
        return None  # non-local URI: size unknown, leave the scan alone


def _fan_out(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    df: DataFrame,
    key: str,
    bytes_per_task: int = 2 << 20,
) -> DataFrame:
    """Spread heavy per-row work across the cluster when the SCAN cannot.

    The test tables are single-row-group parquet files, so a scan is ONE
    task no matter the core count — every expensive projection chained on
    it (tokenize/shingle HOF pipelines, hashing) runs serially (measured:
    two 0.95 s single-task jobs inside dup_span_profile at sf0.1 on 32
    cores). Hash-repartition the NARROW pre-projection rows by ``key``
    (deterministic under retries, no round-robin pre-sort) sized to the
    data (~2 MB of input per task, floor 8, cap cluster parallelism),
    guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read".

    Scale-adaptive, not local-tuned: when the input is big enough that
    the scan itself already yields >= parallelism splits (bytes >=
    par × maxPartitionBytes), this is a no-op — a 100 TB scan is never
    re-shuffled; only the undersplittable-small-input case pays the
    (tiny, narrow) exchange."""
    size = _table_bytes(sf_dir, name)
    if size is None:
        return df
    par = spark.sparkContext.defaultParallelism
    mpb = max_partition_bytes(spark)
    if size >= par * mpb:
        return df  # scan already saturates the cluster
    n = max(8, min(par, size // bytes_per_task + 1))
    if size // mpb + 1 >= n:
        return df  # repartition would not add parallelism
    return df.repartition(n, F.col(key))


def _ts_us_col(df: DataFrame):
    """events.ts as epoch MICROseconds, across both source schemas.

    The events table has shipped with ts as int64 nanoseconds (read as
    BIGINT under nanosAsLong) and as timestamp[us] (read as TIMESTAMP_NTZ).
    Both normalize to the same epoch-µs integers the oracles compute with
    ``epoch_us(ts)`` (DuckDB treats naive timestamps as UTC; ``_t`` pins the
    Spark session to UTC so the NTZ cast agrees).
    """
    if df.schema["ts"].dataType.simpleString().startswith("timestamp"):
        return F.unix_micros(F.col("ts").cast("timestamp"))
    return F.expr("ts DIV 1000")


def _ts_event_col(df: DataFrame):
    """events.ts as a TIMESTAMP column (for windows/watermarks), both schemas."""
    if df.schema["ts"].dataType.simpleString().startswith("timestamp"):
        return F.col("ts").cast("timestamp")
    return F.timestamp_micros(F.expr("ts DIV 1000"))


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as epoch microseconds (engine time convention)."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("ts_us", _ts_us_col(ev))


# scratch directory for the files queries write mid-run (sinks, generated
# inputs); it sits beside the package, inside the checkout
_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_scratch"
)
os.makedirs(_SCRATCH, exist_ok=True)
