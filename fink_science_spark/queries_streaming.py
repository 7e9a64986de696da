"""Structured Streaming queries: each runs a real stream (availableNow)
inside its builder and returns the finished result.

A builder opens its source with ``table_stream`` and hands the stream to
``shell.run_to_memory`` or ``shell.run_foreach_batch``, passing ``width``
when the stream holds state: ``shell.state_partitions`` sizes the state
to the source (it is called through the module so tests can intercept
it); streams that hold no state keep the session's width."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.functions.hashing import hash64
from fink_science_spark.functions.text import tokens
from fink_science_spark.queries_alerts import (
    ORACLE_ALERT_ENRICHMENT,
    _build_input_once,
)
from fink_science_spark.queries_analytics import _HH_M, ORACLE_HEAVY_HITTERS
from fink_science_spark.queries_dedup import (
    _MH_BANDS,
    _MH_NUM,
    ORACLE_DEDUP_MINHASH_LSH,
)
from fink_science_spark.queries_text import (
    _PACK_BUDGET,
    _PACK_SHARDS,
    ORACLE_SEQUENCE_PACKING,
)
from fink_science_spark.registry import register
from fink_science_spark.streaming import shell
from fink_science_spark.tables import (
    _SCRATCH,
    DAY_US,
    _events_us,
    _fan_out,
    _t,
    _table_bytes,
    _ts_event_col,
    table_stream,
)

# --------------------------------------------------------------------------
# Structured Streaming (M6) — stream/batch parity on the same DAG
# --------------------------------------------------------------------------


def q_stream_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a REAL
    Structured Streaming query (availableNow → memory sink), returning the
    completed result. The oracle is plain SQL — stream/batch parity is the
    check (SURVEY §2.9 / M6)."""
    stream = table_stream(spark, sf_dir, "events")
    enriched = stream.withColumn("ts_event", _ts_event_col(stream))
    counts = shell.windowed_counts(
        enriched, "ts_event", ["event_type"], window="7 days", watermark="1 day"
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    name = f"weekly_{uuid.uuid4().hex[:8]}"
    result = shell.run_to_memory(counts, name, spark, width=width)
    return result.select(
        (F.col("window_start").cast("long") * F.lit(1_000_000)).alias("week_us"),
        "event_type",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    )


ORACLE_STREAM_WEEKLY_COUNTS = """
SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS week_us,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Streaming (M6): sliding windows + stateful per-key aggregation
# --------------------------------------------------------------------------


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (14d window, 7d slide) watermarked aggregation as a
    real Structured Streaming query; every event lands in exactly two
    windows (SURVEY §2.9 / M6)."""
    stream = table_stream(spark, sf_dir, "events")
    enriched = stream.withColumn("ts_event", _ts_event_col(stream))
    counts = (
        enriched.withWatermark("ts_event", "1 day")
        .groupBy(
            F.window("ts_event", "14 days", "7 days").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
        .select(
            (F.col("w.start").cast("long") * F.lit(1_000_000)).alias("win_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    return shell.run_to_memory(counts, name, spark, width=width)


ORACLE_STREAM_SLIDING_COUNTS = """
WITH off AS (SELECT unnest([0, 1]) AS i),
w AS (
  SELECT ((epoch_us(ts) // 604800000000) - i) * 604800000000 AS win_us,
         event_type, value
  FROM events, off
)
SELECT win_us, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM w
GROUP BY 1, 2
"""


def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, max) state across micro-batches, emitting the
    state after each update. With an availableNow run the final emission
    equals the batch aggregate — which IS the oracle (SURVEY §2.9: the one
    cross-batch stateful op the ecosystem implies, plus the
    applyInPandasWithState surface from the build brief)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "max_value": [round(vmax, 6)]}
        )

    stream = table_stream(spark, sf_dir, "events")
    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n long, max_value double",
            stateStructType="n long, vmax double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # explicit width, not state_partitions: the state operator runs a
    # pandas function per user group, so it needs the cores more than
    # fewer stores (measured at sf0.1, local[4]: width 8 3.1 s, width 1
    # 6.4 s)
    sink = shell.run_to_memory(
        out, f"stateful_{uuid.uuid4().hex[:8]}", spark,
        output_mode="update", width=8,
    )
    # update-mode memory sink may hold one row per state update; keep the
    # final state per user (max n is the last emission)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n", "max_value")
    )


ORACLE_STREAM_STATEFUL_USER_STATS = """
SELECT user_id, count(*) AS n, round(max(value), 6) AS max_value
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Streaming (M6): session windows + stream-static broadcast join
# --------------------------------------------------------------------------

_SESSION_GAP = "3 days"
_SESSION_GAP_US = 3 * DAY_US


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (3-day inactivity gap) per user as a real streaming
    query: merge-on-overlap session aggregation — the sessionization shape
    of Structured Streaming (SURVEY M6)."""
    stream = table_stream(spark, sf_dir, "events")
    enriched = stream.withColumn("ts_event", _ts_event_col(stream))
    sessions = (
        enriched.withWatermark("ts_event", "1 day")
        .groupBy(F.session_window("ts_event", _SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "user_id",
            "n",
            "sum_value",
        )
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    return shell.run_to_memory(sessions, name, spark, width=width)


ORACLE_STREAM_SESSION_WINDOWS = f"""
WITH o AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_t
  FROM events
),
marked AS (
  SELECT *, CASE WHEN prev_t IS NULL OR t - prev_t >= {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT min(t) AS session_start_us, user_id,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the streaming events frame
    joined against the static customer dimension (the reference's
    broadcast-catalog crossmatch shape inside a streaming query), then
    aggregated per market segment (SURVEY §2.3 + M6)."""
    stream = table_stream(spark, sf_dir, "events")
    cust = F.broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    name = f"streamstatic_{uuid.uuid4().hex[:8]}"
    return shell.run_to_memory(agg, name, spark, width=width)


ORACLE_STREAM_STATIC_JOIN = """
SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_stream_foreachbatch_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch enrichment — the broker's execution mode (SURVEY §2.9:
    stateless per-micro-batch column appends applied inside a streaming
    query): stream → per-batch the SAME batch enrichment DAG (json decode
    + flag derivation) → append parquet sink → read back and aggregate.
    One code path for batch and stream is the engine's core streaming
    contract."""
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    out_path = os.path.join(_SCRATCH, f"foreachbatch_{tag}")
    shutil.rmtree(out_path, ignore_errors=True)

    events = _t(spark, sf_dir, "events")

    def enrich(batch_df: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").cast("int")
        flag = (
            F.when(F.col("value") > 100, "high")
            .when(F.col("value") > 30, "mid")
            .otherwise("low")
        )
        return batch_df.select(
            "event_id", "value", k.alias("k"), flag.alias("flag")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enrich(batch_df).write.mode("append").parquet(out_path)

    # per-batch enrichment holds no state: the session's width stands
    shell.run_foreach_batch(table_stream(spark, sf_dir, "events"), process, spark)

    # the sink's schema is known: reading it back needs no inference job
    back = spark.read.schema(enrich(events).schema).parquet(out_path)
    return back.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_STREAM_FOREACHBATCH = """
WITH e AS (
  SELECT event_id, value,
         json_extract_string(props, '$.k')::INT AS k,
         CASE WHEN value > 100 THEN 'high'
              WHEN value > 30 THEN 'mid'
              ELSE 'low' END AS flag
  FROM events
)
SELECT flag, count(*) AS n, round(avg(k), 6) AS avg_k,
       round(sum(value), 2) AS sum_value
FROM e GROUP BY flag
"""


# --------------------------------------------------------------------------
# §2.9 streaming dedup (exactly-once semantics over an at-least-once feed)
# --------------------------------------------------------------------------


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication as a REAL Structured Streaming query: the
    event stream unioned with itself (an at-least-once delivery double),
    watermarked `dropDuplicates` on event_id restoring exactly-once, then
    a per-type aggregate. The oracle is the plain batch aggregate over
    the original table — stream dedup must make the double-delivery
    invisible. At 100 TB the dedup state is per-key in the state store,
    bounded by the watermark horizon."""
    unioned = table_stream(spark, sf_dir, "events").union(
        table_stream(spark, sf_dir, "events")
    )
    doubled = unioned.withColumn("ts_event", _ts_event_col(unioned))
    deduped = doubled.withWatermark("ts_event", "1 day").dropDuplicates(
        ["event_id"]
    )
    counts = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    return shell.run_to_memory(counts, "stream_dedup_q", spark, width=width)


ORACLE_STREAM_DEDUP = """
SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Streaming sequence packing (stateful: running token offset per shard)
# --------------------------------------------------------------------------


def q_stream_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing as a STATEFUL streaming operator: each shard's
    running token offset (plus current bin and position) lives in
    applyInPandasWithState state, so new micro-batches continue packing
    exactly where the previous batch stopped — the streaming twin of
    ``sequence_packing`` (same shard hash, same budget, same bin rule),
    and the batch SQL is its oracle.

    This is how a 100 TB pipeline packs an APPEND-ONLY corpus without
    re-running the batch job: state is O(1) per shard (three integers),
    the shuffle key is the hash-balanced shard, and emission is
    append-mode (each document exactly once). Within a batch documents
    are packed in doc_id order; cross-batch determinism holds when
    batches arrive in doc_id order (the append-log contract — same
    condition the incremental dedup documents).
    """
    import uuid as _uuid

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cum, cur_bin, cur_pos = state.get if state.exists else (0, 0, 0)
        out_rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("doc_id")
        for doc_id, n_tok in zip(batch["doc_id"], batch["n_tokens"]):
            b = cum // _PACK_BUDGET
            if b == cur_bin:
                cur_pos += 1
            else:
                cur_bin, cur_pos = b, 1
            out_rows.append((int(doc_id), int(key[0]), int(b), int(n_tok), cur_pos))
            cum += int(n_tok)
        state.update((int(cum), int(cur_bin), int(cur_pos)))
        yield pd.DataFrame(
            out_rows, columns=["doc_id", "shard", "bin_id", "n_tokens", "pos_in_bin"]
        )

    stream = table_stream(spark, sf_dir, "documents")
    enriched = stream.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        (
            hash64(F.col("doc_id").cast("string"), seed="pack") % _PACK_SHARDS
        ).cast("int").alias("shard"),
    )
    out = enriched.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "doc_id long, shard int, bin_id long, n_tokens int, pos_in_bin int"
        ),
        stateStructType="cum long, cur_bin long, cur_pos int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = shell.run_to_memory(
        out, f"packstream_{_uuid.uuid4().hex[:8]}", spark,
        output_mode="append",
        width=shell.state_partitions(spark, _table_bytes(sf_dir, "documents")),
    )
    return sink.select(
        "doc_id", "shard", "bin_id", "n_tokens", "pos_in_bin"
    )


# --------------------------------------------------------------------------
# Stream-stream watermarked interval join (§2.9): view→click attribution
# --------------------------------------------------------------------------


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with watermarks and an event-time interval
    bound, as a REAL Structured Streaming query: every click a user makes
    within 3 days after a view, attributed to that view. The oracle is the
    identical batch self-join — stream/batch parity is the check.

    This is the one §2.9 shape the rest of the streaming surface didn't
    cover: BOTH inputs are unbounded. The interval bound plus the two
    watermarks are what bound the join state (each side buffers only
    watermark+3 days of rows per user); without them Spark would hold both
    streams forever. State is keyed by user_id — the same shuffle both
    sides already need — so the join costs exactly one exchange per input.
    """
    import uuid as _uuid

    def feed(etype: str) -> DataFrame:
        s = table_stream(spark, sf_dir, "events")
        return (
            s.filter(F.col("event_type") == etype)
            .withColumn("ts_event", _ts_event_col(s))
            .select("user_id", "event_id", "ts_event")
        )

    joined = shell.interval_join_streams(
        feed("view"),
        feed("click"),
        key="user_id",
        left_ts="ts_event",
        right_ts="ts_event",
        max_lag="3 days",
        watermark="1 day",
    )
    out = joined.select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.col("r_event_id").alias("click_event_id"),
        (
            F.unix_micros("r_ts_event") - F.unix_micros("ts_event")
        ).alias("lag_us"),
    )
    width = shell.state_partitions(spark, _table_bytes(sf_dir, "events"))
    name = f"ivjoin_{_uuid.uuid4().hex[:8]}"
    return shell.run_to_memory(out, name, spark, output_mode="append", width=width)


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT v.user_id,
       v.event_id AS view_event_id,
       c.event_id AS click_event_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 3 DAY
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


def q_stream_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replay source as a REAL streaming source: deterministic
    row-offset partitions, an aggregation over the replayed stream,
    availableNow → memory sink. Replay-vs-batch equality is the oracle.
    (Chunked multi-trigger replay is exercised in
    tests/test_replay_source.py — the engine's availableNow handling for
    Python sources is single-batch, so the gate query replays in one.)"""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    stream = (
        spark.readStream.format("alert_replay")
        .option("path", _os.path.join(sf_dir, "events.parquet"))
        .option("columns", "event_id,user_id,event_type,value")
        .option("rows_per_batch", "4000")
        .load()
    )
    counts = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return shell.run_to_memory(
        counts, f"replay_{_uuid.uuid4().hex[:8]}", spark,
        width=shell.state_partitions(spark, _table_bytes(sf_dir, "events")),
    )


ORACLE_STREAM_REPLAY_COUNTS = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


def q_stream_avro_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broker's streaming mode end-to-end without jars: an Avro
    container replayed as a REAL Structured Streaming source (block
    offsets), aggregated, availableNow → memory. Batch SQL over the
    same logical rows is the oracle — stream/batch parity across the
    wire format."""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"docs_stream_{tag}.avro")
    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "source", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    def _build(dst):
        # distributed sink (see q_avro_scan): no driver-side collect
        write_avro_dir(
            _t(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .repartition(8),
            dst, schema, codec="deflate", records_per_block=200,
        )

    _build_input_once(path, _build)
    stream = (
        spark.readStream.format("avro_replay")
        .option("path", path)
        .option("max_partitions", "8")
        .load()
    )
    counts = stream.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    # the container re-encodes three documents columns: size the state
    # to the table it came from
    return shell.run_to_memory(
        counts, f"avro_counts_{_uuid.uuid4().hex[:8]}", spark,
        width=shell.state_partitions(spark, _table_bytes(sf_dir, "documents")),
    )


ORACLE_STREAM_AVRO_COUNTS = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY source
"""


def q_stream_avro_alert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference production loop, end to end, jar-free: nested alert
    packets (candidate record + prv_candidates array of records — the
    true Avro alert layout, FIXTURES §1) serialized into an Avro
    container, consumed as a Structured Streaming source, and enriched
    with the same stateless cascade as the batch `alert_enrichment`
    (c-column concat, history count, delta-last, valid count,
    brightening flag). The batch oracle over the flat events table is
    the check — so Avro encode → block-offset stream → nested decode →
    struct/array enrichment must ALL be exact for the hash to match."""
    import os as _os
    import uuid as _uuid

    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.sources.alerts import build_alerts
    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"alerts_{tag}.avro")

    cand_rec = {
        "type": "record",
        "name": "cand",
        "fields": [
            {"name": "ts_us", "type": "long"},
            {"name": "value", "type": "double"},
            {"name": "event_type", "type": "string"},
        ],
    }
    alert_schema = {
        "type": "record",
        "name": "alert",
        "fields": [
            {"name": "user_id", "type": "long"},
            {"name": "candidate", "type": cand_rec},
            {"name": "prv_candidates",
             "type": {"type": "array", "items": "cand"}},
        ],
    }
    def _build(dst):
        # distributed sink (see q_avro_scan): nested alert packets are
        # serialized where they live, never collected to the driver
        ev = _events_us(spark, sf_dir).select(
            "user_id", "ts_us", "value", "event_type"
        )
        alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
        write_avro_dir(alerts.repartition(8), dst, alert_schema,
                       codec="deflate", records_per_block=50)

    _build_input_once(path, _build)

    # per-row enrichment holds no state: the session's width stands
    stream = (
        spark.readStream.format("avro_replay")
        .option("path", path)
        .option("max_partitions", "8")
        .load()
    )
    df = concat_col(stream, "value")
    enriched = df.select(
        "user_id",
        F.size("prv_candidates").alias("n_prv"),
        F.round(delta_last("cvalue"), 6).alias("delta_last"),
        F.size(F.filter("cvalue", lambda x: x >= 10.0)).alias("n_valid"),
        F.coalesce(
            F.col("candidate.value") > F.array_max("prv_candidates.value"),
            F.lit(False),
        ).alias("is_brightening"),
    )
    return shell.run_to_memory(
        enriched, f"avro_alerts_{_uuid.uuid4().hex[:8]}", spark,
        output_mode="append",
    )


# --------------------------------------------------------------------------
# stream_mv_maintenance: streaming materialized-view maintenance — the
# warehouse pattern incremental_agg proves in batch, run as a REAL
# multi-batch stream: each micro-batch appends its PARTIAL aggregate
# states (count/sum/min/max monoids) to a log-structured state
# directory (append-only: never read-modify-overwrite the path you are
# streaming state into — the classic self-overwrite deadlock), and a
# final compaction merges the delta log into the finalized view. The
# oracle is the batch aggregate over the full table: the maintained
# view must be indistinguishable from recomputation.
# --------------------------------------------------------------------------


def q_stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    src_path = _os.path.join(_SCRATCH, f"mv_src_{tag}")
    state_path = _os.path.join(_SCRATCH, f"mv_state_{tag}")
    _shutil.rmtree(src_path, ignore_errors=True)
    _shutil.rmtree(state_path, ignore_errors=True)

    ev = _events_us(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("qv"),
    )
    # 4 files -> 4 micro-batches under maxFilesPerTrigger=1
    ev.repartition(4).write.parquet(src_path)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("s1"),
            F.min("qv").alias("mn"),
            F.max("qv").alias("mx"),
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        partial(batch_df).write.mode("append").parquet(state_path)

    # the stream holds no state (each batch aggregates on its own inside
    # foreachBatch), so it keeps the session's shuffle width
    stream = (
        spark.readStream.schema(ev.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_path)
    )
    shell.run_foreach_batch(stream, process, spark)

    # compaction: merge the delta log into the finalized view (its schema
    # is known, so reading it back needs no inference job)
    state = spark.read.schema(partial(ev).schema).parquet(state_path)
    return (
        state.groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            "user_id",
            "event_type",
            "n",
            F.round(
                F.col("s1").cast("double") / F.col("n") / F.lit(100.0), 6
            ).alias("mean_value"),
            ((F.col("mx") - F.col("mn")).cast("double") / F.lit(100.0)).alias(
                "amplitude"
            ),
        )
    )


ORACLE_STREAM_MV_MAINTENANCE = """
WITH q AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS qv
  FROM events
)
SELECT user_id, event_type, count(*) AS n,
       round(CAST(sum(qv) AS DOUBLE) / count(*) / 100.0, 6) AS mean_value,
       CAST(max(qv) - min(qv) AS DOUBLE) / 100.0 AS amplitude
FROM q GROUP BY user_id, event_type
"""


# --------------------------------------------------------------------------
# stream_heavy_hitters: the sketch family on the streaming surface —
# per-token frequency state maintained across micro-batches with
# applyInPandasWithState (update mode: each batch re-emits the tokens it
# touched), heavy threshold applied to the materialized final state.
#
# Scale shape: the state store is keyed by token (vocabulary-sized, not
# corpus-sized); each micro-batch shuffles only its own token partial
# counts. At web scale the stateless tokenize stage would pre-filter
# through a per-batch candidate pass exactly like the batch operator —
# the state layout is unchanged. The final emission of an availableNow
# run equals the batch aggregate, so the batch heavy-hitters SQL is the
# exact oracle.
# --------------------------------------------------------------------------


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"token": [key[0]], "cnt": [n]})

    stream = table_stream(spark, sf_dir, "documents")
    toks = stream.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    out = toks.groupBy("token").applyInPandasWithState(
        update,
        outputStructType="token string, cnt long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # the pandas update runs over every token row of its group, so its
    # work grows with the source: one store per 2 MB of documents, the
    # input _fan_out gives one Python task (measured on the x8 replica,
    # 4 cores: width 1 5.2 s, 2 3.6 s, 4 3.0 s, 8 3.4 s; at sf0.1 one
    # store is fastest, 1.6 s against 2.2 s at width 8)
    width = shell.state_partitions(
        spark, _table_bytes(sf_dir, "documents"), bytes_per_store=2 << 20
    )
    sink = shell.run_to_memory(
        out, f"hh_{uuid.uuid4().hex[:8]}", spark, output_mode="update",
        width=width,
    )

    # Materialize the final state (vocabulary-sized) before returning —
    # the MemorySink otherwise retains every update-mode emission in
    # driver memory for as long as the returned frame reads it.
    from pyspark.sql.window import Window

    w = Window.partitionBy("token").orderBy(F.col("cnt").desc())
    final = (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("token", "cnt")
        # executor-side materialization (vocabulary-sized) instead of the
        # previous collect()+createDataFrame driver round-trip: same
        # sink-release effect (the checkpointed RDD no longer references
        # the memory sink) without funneling the token table through the
        # driver twice (r9, guide §5 "the driver should do no data work")
        .localCheckpoint(eager=True)
    )
    totals = final.agg(F.sum("cnt").alias("__nt"))
    return (
        final.join(F.broadcast(totals))
        .filter(F.col("cnt") * F.lit(_HH_M) > F.col("__nt"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("__nt"), 6).alias("share"),
        )
        .orderBy("token")
    )


# --------------------------------------------------------------------------
# stream_dedup_lsh: NEAR-duplicate detection on the streaming surface —
# the MinHash band index lives in streaming STATE instead of a stored
# table. Each micro-batch computes its own band rows (shingle + md5
# signature per row — a narrow map, no aggregation before the stateful
# operator); state keyed by (band, band_hash) holds the ids seen in
# that bucket; a new arrival emits candidate pairs against the bucket's
# history plus within-batch pairs, then joins the bucket. The final
# pair SET is independent of how the stream is chunked (every
# same-bucket pair is emitted exactly when its later element arrives),
# so the verified output equals the batch dedup_minhash_lsh answer and
# SHARES ITS ORACLE. State size = the band index itself — the same
# artifact dedup_incremental persists to parquet, here owned by the
# state store (RocksDB in production).
# --------------------------------------------------------------------------


# physical stateful groups per band for stream_dedup_lsh: enough to
# spread across executors (4 bands × 64 = 256 groups), few enough that
# per-group Python overhead is amortized over ~hundreds of band_hashes
_SDL_STATE_BUCKETS = 64


def q_stream_dedup_lsh(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    n_map: int | None = None,
    n_state_partitions: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup pairs == batch dedup_minhash_lsh.

    ``source_dir`` (with ``max_files_per_trigger``) lets tests stream the
    same documents from a multi-file split one file per trigger, proving the
    band-index state survives micro-batch boundaries; the registered
    form streams the single sf parquet (one availableNow batch)."""
    import hashlib
    import os
    import uuid

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from fink_science_spark.functions.hashing import (
        MINHASH_PRIME,
        minhash_perm_coeffs,
    )
    from fink_science_spark.functions.text import tokens, word_shingles

    rpb = _MH_NUM // _MH_BANDS
    coeffs = minhash_perm_coeffs(_MH_NUM)

    def band_rows(batches):
        # Python twin of the hash28→min-perm signature (bit-identical to
        # the JVM/oracle family — pinned by test_properties), computed
        # per row because the stateful operator below must be the ONLY
        # aggregation in the streaming query. Vectorized: md5 once per
        # UNIQUE shingle (batch-level cache), all 16 affine permutations
        # as one numpy broadcast, per-doc mins via minimum.reduceat —
        # exact int64 arithmetic, no per-token Python loop (the naive
        # row-loop form measured ~17 s at sf0.1; this is ~1 s).
        import numpy as np

        arr_a = np.array([a for a, _ in coeffs], dtype=np.int64)
        arr_b = np.array([b for _, b in coeffs], dtype=np.int64)
        cache: dict[str, int] = {}

        def h28(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                cache[s] = v
            return v

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"band": [], "band_hash": [], "content": []}
                ).astype({"band": "int32"})
                continue
            sh_lists = pdf["shingles"].tolist()
            lens = np.array([len(s) for s in sh_lists], dtype=np.int64)
            hs = np.array(
                [h28(s) for lst in sh_lists for s in lst], dtype=np.int64
            )
            offsets = np.zeros(len(sh_lists), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # (num_hashes, total_tokens) permuted hashes; a,h < 2^28 so
            # a*h + b < 2^57 — exact in int64
            perms = (arr_a[:, None] * hs[None, :] + arr_b[:, None]) % MINHASH_PRIME
            sig = np.minimum.reduceat(perms, offsets, axis=1)  # (16, n_docs)
            n_docs = sig.shape[1]
            # exact-duplicate collapse, streaming edition (the batch
            # family's round-5 fix): the state pipeline works on
            # CONTENT keys — md5 of the shingle array (its Spark twin
            # md5(concat_ws(US, shingles)) re-derives the same key
            # batch-side for member expansion). k byte-equal clones
            # collide in EVERY band and would cost C(k,2) emissions per
            # band (measured: a ×64 replica run blew the 1 GB driver
            # result cap and timed out); content-keyed state makes
            # candidate volume track DISTINCT content only.
            contents = [
                hashlib.md5("\x1f".join(lst).encode()).hexdigest()
                for lst in sh_lists
            ]
            bands, keys, conts = [], [], []
            for bnd in range(_MH_BANDS):
                part = sig[bnd * rpb : (bnd + 1) * rpb]
                bands.append(np.full(n_docs, bnd, dtype=np.int32))
                keys.extend(
                    ",".join(str(x) for x in part[:, j]) for j in range(n_docs)
                )
                conts.extend(contents)
            yield pd.DataFrame(
                {
                    "band": np.concatenate(bands),
                    "band_hash": keys,
                    "content": conts,
                }
            )

    def update(key, pdfs, state: GroupState):
        # Bucket-level state (the cogroup_reconcile lesson): the physical
        # group is (band, bucket) — ~hundreds of groups — and the state
        # holds EVERY band_hash of the bucket as a dict of DISTINCT
        # content keys encoded in three parallel arrays (hashes, flat
        # contents, cumulative offsets). A new content pairs with every
        # OTHER content previously seen under the same band_hash —
        # candidate volume and state size both track distinct content;
        # clone MEMBERSHIP (which ids carry each content) is resolved
        # batch-side at expansion time, so a re-arriving content updates
        # nothing and emits nothing.
        if state.exists:
            hashes, flat, offs = state.get
            seen_map: dict[str, list[str]] = {}
            prev = 0
            for h, end in zip(hashes, offs):
                seen_map[h] = [str(c) for c in flat[prev:end]]
                prev = end
        else:
            seen_map = {}
        a_out, b_out = [], []
        for pdf in pdfs:
            for h, c in zip(pdf["band_hash"], pdf["content"]):
                lst = seen_map.setdefault(h, [])
                if c in lst:
                    continue
                for old in lst:
                    lo, hi = (old, c) if old < c else (c, old)
                    a_out.append(lo)
                    b_out.append(hi)
                lst.append(c)
        hashes_out = list(seen_map)
        flat_out: list[str] = []
        offs_out: list[int] = []
        for h in hashes_out:
            flat_out.extend(seen_map[h])
            offs_out.append(len(flat_out))
        state.update((hashes_out, flat_out, offs_out))
        yield pd.DataFrame({"content_a": a_out, "content_b": b_out})

    # stateful-stage width: with bucket-level state there are only
    # bands × _SDL_STATE_BUCKETS (= 256) physical groups and the
    # per-partition cost is dominated by state-store instance overhead
    # (commit files, provider setup), not Python work — a no-op stateful
    # stream floors at ~1.5 s with 4 partitions vs ~1.9 s with 8 and
    # 9-12 s with 32 at sf0.1. Not state_partitions' width 1 either: the
    # per-bucket pandas update is real work that a wider host spreads,
    # and one store saves nothing here (measured at sf0.1 on a 4-core
    # host: width 4 6.3-6.4 s, width 1 6.2-6.3 s). On a real cluster
    # scale this with group count, not core count.
    n_part = n_state_partitions if n_state_partitions is not None else 4
    if source_dir is None:
        stream = table_stream(spark, sf_dir, "documents")
    else:
        reader = spark.readStream.schema(_t(spark, sf_dir, "documents").schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.format("parquet").load(source_dir)
    # the source is file-granular (one task per file per micro-batch);
    # fan the raw rows out across the executors BEFORE the expensive
    # per-doc work (interpreted shingle HOFs + the Python signature
    # kernel) — without this a single-file trigger runs the whole
    # tokenize→hash pipeline on ONE core (measured 11 s of the old
    # 13 s stream at sf0.1; raw text is the narrowest thing to
    # shuffle, ~120 B/doc here)
    # Fan-out is sized to the DATA (~2 MB of raw text per map task,
    # clamped to [8, cluster parallelism]): a tiny trigger doesn't pay
    # 32 python-worker handshakes for a 5000-row batch (measured
    # 4.5 s → 3.3 s at sf0.1), and a 100 GB trigger still spreads
    # across every core.
    if n_map is None:
        par = spark.sparkContext.defaultParallelism
        try:
            src = source_dir or sf_dir
            total = sum(
                os.path.getsize(os.path.join(src, f))
                for f in os.listdir(src)
                if f.endswith(".parquet")
                and (source_dir is not None or f == "documents.parquet")
            )
            n_map = max(8, min(par, int(total // (2 << 20)) + 1))
        except OSError:  # non-local source URI — size unknown
            n_map = par
    docs = stream.repartition(n_map).select(
        "doc_id",
        F.array_distinct(word_shingles(tokens("text"), 3)).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    rows = docs.mapInPandas(
        band_rows, schema="band int, band_hash string, content string"
    ).withColumn(
        # physical-group key: hash-bucket of the band_hash. Grouping
        # stays deterministic and batch-order-independent; only the
        # packing of logical band_hash groups into Python calls
        # changes.
        "bucket",
        F.pmod(F.xxhash64("band_hash"), F.lit(_SDL_STATE_BUCKETS)),
    )
    cands = rows.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType="content_a string, content_b string",
        stateStructType=(
            "hashes array<string>, flat array<string>, offs array<int>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Production drain (r3 verdict #1): candidate pairs land in a
    # parquet APPEND sink via foreachBatch — a distributed
    # executor-side write per micro-batch — and the exact-Jaccard
    # verify runs as a follow-on BATCH join over those files. The
    # previous memory-sink + driver collect() funneled the
    # unbounded pair stream (volume grows with corpus dup density)
    # through the driver; now nothing pair-shaped ever touches it.
    # The sink root follows the session's streaming checkpoint
    # location when one is configured (the shared filesystem every
    # multi-node deployment must already provide for the state
    # store); a driver-local tempdir is only the single-node
    # fallback.
    import tempfile

    base = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    pair_dir = os.path.join(
        base or tempfile.gettempdir(), f"sdl_pairs_{uuid.uuid4().hex[:8]}"
    )

    def drain(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("append").parquet(pair_dir)

    shell.run_foreach_batch(
        cands, drain, spark, width=n_part, output_mode="update"
    )

    from pyspark.errors import AnalysisException

    try:
        raw_pairs = spark.read.parquet(pair_dir)
        # the same logical pair can collide in several bands (and
        # therefore several sink files); the verify groupBy below folds
        # those duplicates away, so no separate dropDuplicates shuffle is
        # needed. The eager localCheckpoint materializes the
        # (LSH-bounded, pair-sized) result on the executors so the sink
        # directory can be removed immediately — previously one parquet
        # dir leaked per invocation.
        pairs = raw_pairs.localCheckpoint(eager=True)
    except AnalysisException:  # zero micro-batches -> no sink dir
        pairs = spark.createDataFrame([], "content_a string, content_b string")
    finally:
        # delete through the Hadoop FileSystem API so a remote sink root
        # (hdfs://, s3a:// — the checkpointLocation case) is actually
        # removed; a local shutil.rmtree would silently no-op there and
        # leak one parquet dir per invocation
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(pair_dir)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception:  # noqa: BLE001 - best-effort local fallback
            import shutil

            shutil.rmtree(pair_dir, ignore_errors=True)
    # Batch follow-on: verify once per CONTENT pair, expand to member
    # pairs combinatorially (the batch family's re-expansion). Content
    # groups come from ONE corpus scan (md5(concat_ws(US, shingles)) is
    # the exact Spark twin of the kernel's content key); the same
    # logical content pair can collide in several bands/files, so a
    # pair-sized distinct folds duplicates before the shingle verify.
    # Clone pairs (members of one content group) are exact duplicates by
    # construction — jaccard exactly 1.0 with no shingle work. Nothing
    # quadratic-in-clone-multiplicity is ever verified or shuffled: the
    # ×64 replica stress (64-way clone groups) previously blew the
    # driver result cap through a forced-broadcast id-level melt.
    docs_content = (
        _fan_out(
            spark, sf_dir, "documents",
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            key="doc_id",
        )
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias(
                "shingles"
            ),
        )
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            "shingles",
            F.md5(F.concat_ws("\x1f", "shingles")).alias("content"),
        )
    )
    groups = docs_content.groupBy("content").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members"),
        F.first("shingles").alias("shingles"),
    # consumed THREE times below (ga, gb broadcast builds + clones):
    # without the checkpoint each consumer re-ran the whole
    # scan→shingle→md5→agg subtree as its own single-task job (measured
    # 2×1.5 s inside this query at sf0.1); one eager materialization of
    # the content-group table (LSH-bounded, pair-scale) feeds all three
    ).localCheckpoint(eager=True)
    cpairs = pairs.dropDuplicates(["content_a", "content_b"])
    ga = groups.select(
        F.col("content").alias("content_a"),
        F.col("members").alias("__ma"),
        F.col("shingles").alias("__sa"),
    )
    gb = groups.select(
        F.col("content").alias("content_b"),
        F.col("members").alias("__mb"),
        F.col("shingles").alias("__sb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jacc = inter / (F.size("__sa") + F.size("__sb") - inter)
    cross = (
        cpairs.join(ga, "content_a")
        .join(gb, "content_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.explode("__ma").alias("ma"),
            F.col("__mb"),
            "jaccard",
        )
        .select(
            "ma",
            F.explode("__mb").alias("mb"),
            "jaccard",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    clones = (
        groups.filter(F.size("members") >= 2)
        .select(F.posexplode("members").alias("__i", "id_a"), "members")
        .select(
            "id_a",
            F.explode(
                F.slice(
                    "members", F.col("__i") + 2, F.size("members")
                )
            ).alias("id_b"),
        )
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(clones)


register("stream_weekly_counts", q_stream_weekly_counts,
         ORACLE_STREAM_WEEKLY_COUNTS)
register("stream_sliding_counts", q_stream_sliding_counts,
         ORACLE_STREAM_SLIDING_COUNTS)
register("stream_stateful_user_stats", q_stream_stateful_user_stats,
         ORACLE_STREAM_STATEFUL_USER_STATS)
register("stream_session_windows", q_stream_session_windows,
         ORACLE_STREAM_SESSION_WINDOWS)
register("stream_static_join", q_stream_static_join, ORACLE_STREAM_STATIC_JOIN,
         bench=False)
register("stream_foreachbatch_enrich", q_stream_foreachbatch_enrich,
         ORACLE_STREAM_FOREACHBATCH)
register("stream_dedup", q_stream_dedup, ORACLE_STREAM_DEDUP)
# the batch packing SQL IS the streaming oracle (stream/batch parity)
register("stream_sequence_packing", q_stream_sequence_packing,
         ORACLE_SEQUENCE_PACKING)
register("stream_interval_join", q_stream_interval_join,
         ORACLE_STREAM_INTERVAL_JOIN)
register("stream_replay_counts", q_stream_replay_counts,
         ORACLE_STREAM_REPLAY_COUNTS, bench=False)
register("stream_avro_counts", q_stream_avro_counts, ORACLE_STREAM_AVRO_COUNTS)
# the batch alert-enrichment oracle IS the streaming-Avro oracle: same
# logical result from the flat events table
register("stream_avro_alert_pipeline", q_stream_avro_alert_pipeline,
         ORACLE_ALERT_ENRICHMENT)
register("stream_mv_maintenance", q_stream_mv_maintenance,
         ORACLE_STREAM_MV_MAINTENANCE)
# stream_heavy_hitters: the final stateful emission equals the batch
# aggregate, so it shares the batch heavy-hitters oracle.
register("stream_heavy_hitters", q_stream_heavy_hitters, ORACLE_HEAVY_HITTERS)
# stream_dedup_lsh: the chunk-independent candidate emission makes
# the verified streaming answer equal the batch LSH pairs — shares
# dedup_minhash_lsh's oracle.
register("stream_dedup_lsh", q_stream_dedup_lsh, ORACLE_DEDUP_MINHASH_LSH)
