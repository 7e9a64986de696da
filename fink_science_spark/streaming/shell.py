"""Structured Streaming shell.

The reference's modules are all stateless per-micro-batch column appends —
the broker applies them inside a streaming query (SURVEY.md §2.9). This
module provides that shell natively:

- :func:`windowed_counts` — watermarked tumbling-window aggregation
  (the late-data-safe form of "events per window").
- :func:`interval_join_streams` — the watermarked stream-stream join.
- :func:`run_to_memory` / :func:`run_foreach_batch` — run a stream to
  completion with an ``availableNow`` trigger, at a state width chosen by
  :func:`state_partitions` when the stream holds state.

All transformations are identical DataFrame expressions in batch and
streaming; tests run them with ``availableNow`` triggers against the same
parquet the batch queries read, asserting batch/stream result equality.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes: the bytes one scan
    task reads, so the unit both scan fan-out and state width are sized in
    (128 MiB when unset or not a plain byte count)."""
    try:
        return int(spark.conf.get("spark.sql.files.maxPartitionBytes", None)
                   or (128 << 20))
    except Exception:  # noqa: BLE001 - conf parse (e.g. "128m") -> default
        return 128 << 20


def state_partitions(
    spark: SparkSession,
    source_bytes: int | None,
    bytes_per_store: int | None = None,
) -> int:
    """State-store count for a stateful stream over ``source_bytes`` of
    source: one store per ``maxPartitionBytes`` (one scan task's worth of
    input), at least 1 and at most the cluster's parallelism. An unknown
    size (non-local source) gets the full parallelism. A state operator
    whose Python work grows with its input rows passes a smaller
    ``bytes_per_store`` so that work spreads over more cores sooner.

    Every store commits its own delta file on every micro-batch, whether
    or not it holds a key, so a store per core at test scale is pure
    coordination cost (measured at sf0.1, local[4]: 8 stores committing
    the 25 state rows of ``stream_weekly_counts`` took 793 ms, one store
    41 ms). Sizing by source bytes widens the state with the data the
    same way the scan itself widens."""
    par = spark.sparkContext.defaultParallelism
    if source_bytes is None:
        return par
    unit = bytes_per_store or max_partition_bytes(spark)
    return max(1, min(par, -(-source_bytes // unit)))


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin spark.sql.shuffle.partitions (restored on exit);
    ``None`` leaves the session's width as it is.

    Stateful streaming creates one state store per shuffle partition; a
    batch-oriented session default (32+) means 32 store instances for a
    handful of keys — pure overhead at test scale and the wrong unit of
    parallelism for small keyed state. The runners below scope the
    setting to their own start-and-wait window: a stream's session is
    cloned at ``start()``, so the width it runs at is read there."""
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    keys: list[str],
    window: str = "1 week",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window count+sum — late rows beyond the
    watermark are dropped instead of growing state forever."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            *keys,
            "n",
            "sum_value",
        )
    )


def run_to_memory(
    stream_result: DataFrame,
    query_name: str,
    spark: SparkSession,
    output_mode: str = "complete",
    width: int | None = None,
) -> DataFrame:
    """Execute a streaming frame with an availableNow trigger into a memory
    sink and return the completed static result — used by tests and the
    correctness harness to check stream/batch parity. Stream-stream joins
    only support append mode; aggregations here use complete. ``width``
    is the shuffle width (state-store count) the stream runs at; None
    keeps the session's.

    The sink's temp view is dropped before returning: the returned frame
    still reads the sink, but the session catalog no longer holds it, so
    the rows live only as long as the caller keeps the frame."""
    writer = (
        stream_result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with scoped_shuffle_partitions(spark, width):
        writer.start().awaitTermination()
    result = spark.table(query_name)
    spark.catalog.dropTempView(query_name)
    return result


def run_foreach_batch(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    spark: SparkSession,
    width: int | None = None,
    output_mode: str = "append",
) -> None:
    """Run ``process(batch_df, batch_id)`` on every micro-batch of
    ``stream`` with an availableNow trigger and wait for the end; the
    sink is whatever ``process`` writes. ``width`` as in
    :func:`run_to_memory`."""
    writer = (
        stream.writeStream.foreachBatch(process)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with scoped_shuffle_partitions(spark, width):
        writer.start().awaitTermination()


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_lag: str = "3 days",
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked stream-stream INNER join with an event-time interval
    condition: right rows within (left_ts, left_ts + max_lag] for the same
    key. The interval bound + both-side watermarks are what let Spark age
    join state out of the state store — without them an inner stream-stream
    join buffers both streams forever. At 100 TB/day the state held per
    side is bounded by (watermark + max_lag) of stream volume, and the join
    shuffles both streams on the key exactly once."""
    lw = left.withWatermark(left_ts, watermark)
    # rename BEFORE the watermark: the event-time tag is attached to the
    # column and an alias after withWatermark would drop it
    rw = right.select(
        [F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withWatermark(f"r_{right_ts}", watermark)
    return lw.join(
        rw,
        F.expr(
            f"{key} = r_{key} AND r_{right_ts} >= {left_ts} "
            f"AND r_{right_ts} <= {left_ts} + INTERVAL {max_lag}"
        ),
        "inner",
    )


def stream_table_load(reader, sf_dir: str, table: str):
    """Resolve a table's streaming load for BOTH on-disk layouts: the
    generated test dirs store `<table>.parquet` as a bare FILE (the
    FileStreamSource cannot load a file path directly — its batch read
    hard-sets basePath to the source path and then requires a
    directory — so the file layout must glob from the PARENT dir), while
    Spark-written replicas (tools/scalecheck.py) store it as a part-file
    DIRECTORY (where a pathGlobFilter on the parent matches no leaf file
    and the stream silently reads NOTHING — the round-6 ×64 finding).
    ``reader`` is a configured DataStreamReader; returns the loaded
    streaming DataFrame."""
    import os as _os

    p = sf_dir.rstrip("/") + f"/{table}.parquet"
    if _os.path.isdir(p):
        return reader.load(p)
    return reader.option("pathGlobFilter", f"{table}.parquet").load(sf_dir)
