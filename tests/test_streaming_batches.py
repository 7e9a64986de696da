"""Streaming semantics across MULTIPLE micro-batches.

The oracle-parity suite runs streaming queries over a single file = a
single micro-batch, which cannot distinguish per-batch recomputation from
true cross-batch state. Here the same events are split into several files
and streamed with maxFilesPerTrigger=1, so state genuinely accumulates
across batches — the final answers must still equal the batch aggregates.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest

from fink_science_spark.tables import _ts_event_col

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SCRATCH = "/root/repo/_scratch"


@pytest.fixture(scope="module")
def multi_file_events(spark):
    """events split into 4 parquet files (deterministic round-robin on
    event_id) under _scratch."""
    path = os.path.join(SCRATCH, "stream_multibatch_src")
    shutil.rmtree(path, ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    ev.withColumn("__p", (F.col("event_id") % 4).cast("int")).repartition(
        4, "__p"
    ).drop("__p").write.mode("overwrite").parquet(path)
    return path


def test_stateful_user_stats_across_batches(spark, multi_file_events):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(multi_file_events).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(multi_file_events)
    )

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "max_value": [vmax]})

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n long, max_value double",
        stateStructType="n long, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    assert len(batches) >= 2, f"expected multiple micro-batches, got {batches}"

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    final = (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n", "max_value")
    )
    expected = (
        spark.read.parquet(multi_file_events)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("value").alias("max_value"))
    )
    diff = final.exceptAll(expected).count() + expected.exceptAll(final).count()
    assert diff == 0


def test_windowed_counts_across_batches(spark, multi_file_events):
    from fink_science_spark.streaming.shell import run_to_memory, windowed_counts

    schema = spark.read.parquet(multi_file_events).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(multi_file_events)
    )
    enriched = stream.withColumn("ts_event", _ts_event_col(stream))
    counts = windowed_counts(
        enriched, "ts_event", ["event_type"], window="7 days", watermark="1 day"
    )
    name = f"mbw_{uuid.uuid4().hex[:8]}"
    result = run_to_memory(counts, name, spark)

    batch_src = spark.read.parquet(multi_file_events)
    batch = (
        batch_src
        .withColumn("ts_event", _ts_event_col(batch_src))
        .groupBy(F.window("ts_event", "7 days").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    diff = result.exceptAll(batch).count() + batch.exceptAll(result).count()
    assert diff == 0


def test_windowed_counts_under_rocksdb_state_store(spark, multi_file_events):
    """The production state-store config for unbounded per-key state
    (ROADMAP): the same multi-batch windowed aggregation must produce
    identical results with the RocksDB state store provider as with the
    default HDFS-backed one. Scoped config — restored afterwards."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        schema = spark.read.parquet(multi_file_events).schema
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(multi_file_events)
        )
        counts = (
            stream.withColumn("ts_event", _ts_event_col(stream))
            .withWatermark("ts_event", "1 day")
            .groupBy(F.window("ts_event", "7 days"), F.col("event_type"))
            .agg(F.count("*").alias("n"))
            .select("event_type", "n")
        )
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = [p.numInputRows for p in q.recentProgress if p.numInputRows]
        assert len(batches) >= 2, batches
        got = (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.sum("n").alias("n"))
        )
        exp_src = spark.read.parquet(multi_file_events)
        expected = (
            exp_src
            .withColumn("ts_event", _ts_event_col(exp_src))
            .groupBy(F.window("ts_event", "7 days"), F.col("event_type"))
            .agg(F.count("*").alias("n"))
            .groupBy("event_type")
            .agg(F.sum("n").alias("n"))
        )
        diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
        assert diff == 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture(scope="module")
def multi_file_documents(spark):
    """documents split into 3 parquet files by doc_id RANGE, written in
    ascending order (mtime order = doc_id order) — the append-log
    contract the streaming packer documents."""
    import time

    path = os.path.join(SCRATCH, "stream_pack_src")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    parts = [
        docs.filter(F.col("doc_id") < cuts[0]),
        docs.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        docs.filter(F.col("doc_id") >= cuts[1]),
    ]
    for i, part in enumerate(parts):
        part.toPandas().to_parquet(os.path.join(path, f"part{i}.parquet"))
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    return path


def test_sequence_packing_across_batches(spark, multi_file_documents):
    """The stateful streaming packer must continue each shard's running
    offset across micro-batches: streaming over 3 files == the batch
    window-cumsum packing over their union."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.functions.text import tokens
    from fink_science_spark.queries_text import _PACK_BUDGET, _PACK_SHARDS

    schema = spark.read.parquet(multi_file_documents).schema

    def enrich(df):
        return df.select(
            "doc_id",
            F.size(tokens("text")).alias("n_tokens"),
            (hash64(F.col("doc_id").cast("string"), seed="pack") % _PACK_SHARDS)
            .cast("int")
            .alias("shard"),
        )

    def update(key, pdfs, state: GroupState):
        cum, cur_bin, cur_pos = state.get if state.exists else (0, 0, 0)
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        for doc_id, n_tok in zip(batch["doc_id"], batch["n_tokens"]):
            b = cum // _PACK_BUDGET
            if b == cur_bin:
                cur_pos += 1
            else:
                cur_bin, cur_pos = b, 1
            rows.append((int(doc_id), int(key[0]), int(b), int(n_tok), cur_pos))
            cum += int(n_tok)
        state.update((int(cum), int(cur_bin), int(cur_pos)))
        yield pd.DataFrame(
            rows, columns=["doc_id", "shard", "bin_id", "n_tokens", "pos_in_bin"]
        )

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(multi_file_documents)
    )
    out = enrich(stream).groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "doc_id long, shard int, bin_id long, n_tokens int, pos_in_bin int"
        ),
        stateStructType="cum long, cur_bin long, cur_pos int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"pack_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    assert len(batches) >= 2, f"expected multiple micro-batches, got {batches}"

    got = spark.table(name)

    base = enrich(spark.read.parquet(multi_file_documents))
    w_cum = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = base.withColumn("__cum", F.sum("n_tokens").over(w_cum)).withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)),
    )
    w_pos = Window.partitionBy("shard", "bin_id").orderBy("doc_id")
    expected = packed.select(
        "doc_id",
        "shard",
        "bin_id",
        "n_tokens",
        F.row_number().over(w_pos).alias("pos_in_bin"),
    )
    got_c = got.select(*(F.col(c).cast("long") for c in expected.columns))
    exp_c = expected.select(*(F.col(c).cast("long") for c in expected.columns))
    diff = got_c.exceptAll(exp_c).count() + exp_c.exceptAll(got_c).count()
    assert diff == 0


def test_stream_interval_join_across_batches(spark, multi_file_events):
    """Stream-stream interval join where the two sides' rows arrive in
    DIFFERENT micro-batches: a click in batch 3 must still match a view
    buffered since batch 1. Watermark is set beyond the data span so no
    row is late — the test isolates cross-batch join-state buffering; the
    registered query covers the watermarked single-batch parity."""
    from fink_science_spark.streaming.shell import (
        interval_join_streams,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    schema = spark.read.parquet(multi_file_events).schema

    def feed(etype):
        s = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(multi_file_events)
        )
        return (
            s.filter(F.col("event_type") == etype)
            .withColumn("ts_event", _ts_event_col(s))
            .select("user_id", "event_id", "ts_event")
        )

    with scoped_shuffle_partitions(spark, 4):
        joined = interval_join_streams(
            feed("view"),
            feed("click"),
            key="user_id",
            left_ts="ts_event",
            right_ts="ts_event",
            max_lag="3 days",
            watermark="3650 days",
        )
        out = joined.select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("r_event_id").alias("click_event_id"),
        )
        name = f"ivj_{uuid.uuid4().hex[:8]}"
        got = run_to_memory(out, name, spark, output_mode="append")

    ev = spark.read.parquet(multi_file_events)
    ev = ev.withColumn("ts_event", _ts_event_col(ev))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"),
        F.col("ts_event").alias("v_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_event_id"),
        F.col("ts_event").alias("c_ts"),
    )
    expected = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 3 DAYS")),
    ).select("user_id", "view_event_id", "click_event_id")

    cols = ["user_id", "view_event_id", "click_event_id"]
    diff = (
        got.select(cols).exceptAll(expected.select(cols)).count()
        + expected.select(cols).exceptAll(got.select(cols)).count()
    )
    assert diff == 0
    assert got.count() > 0


def test_checkpoint_restart_exactly_once(spark, multi_file_events):
    """Stop/restart recovery: a file-source stream with a checkpoint is
    run over the first files, killed, more files appear, and the SAME
    checkpoint+sink resume — every input row lands in the parquet sink
    exactly once (source offsets + file-sink transaction log together
    give end-to-end exactly-once; re-running from scratch would
    double-count)."""
    base = os.path.join(SCRATCH, f"ckpt_restart_{uuid.uuid4().hex[:8]}")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    staged = os.path.join(base, "staged")
    os.makedirs(src)
    ev = spark.read.parquet(multi_file_events)
    # range partitioning → every file non-empty (hash partitioning can
    # emit empty part files, which would make a half-split vacuous)
    ev.repartitionByRange(4, "event_id").write.parquet(staged)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 4
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))

    schema = ev.schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        q = (
            stream.select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert 0 < n_first < ev.count()

    for f in files[half:]:
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    run_once()  # same checkpoint: must process ONLY the new files

    got = spark.read.parquet(sink)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    shutil.rmtree(base, ignore_errors=True)


def test_drop_duplicates_within_watermark_across_batches(spark, multi_file_events):
    """dropDuplicatesWithinWatermark: duplicates of a row arriving in a
    LATER micro-batch (within the watermark horizon) are still dropped —
    unlike dropDuplicates, state here is evictable once the watermark
    passes, which is what makes streaming dedup viable at 100 TB/day.
    The doubled stream must aggregate to the plain batch answer."""
    schema = spark.read.parquet(multi_file_events).schema

    def feed():
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(multi_file_events)
        )

    from fink_science_spark.streaming.shell import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark, 4):
        doubled = feed().union(feed())
        doubled = doubled.withColumn("ts_event", _ts_event_col(doubled))
        deduped = (
            doubled.withWatermark("ts_event", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        name = f"ddww_{uuid.uuid4().hex[:8]}"
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r["event_type"]: r["n"] for r in spark.table(name).collect()}

    ev = spark.read.parquet(multi_file_events)
    exp = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == exp


def test_append_finalization_across_batches(spark):
    """Append-mode finalization semantics across micro-batches, pinned
    empirically: only windows whose END is at or below the final
    watermark are emitted; windows still open at availableNow
    termination (the last day on-time, and anything newer) never reach
    the sink. Notably, a far-LATE row arriving in batch 2 for a window
    that never had state is ACCEPTED and finalizes immediately (Spark's
    late-data dropping operates through state eviction, so it only
    affects windows whose state existed and was evicted) — a real
    engine nuance this test documents rather than assumes away."""
    import time as _time

    path = os.path.join(SCRATCH, f"late_drop_{uuid.uuid4().hex[:8]}")
    os.makedirs(path, exist_ok=True)
    on_time = pd.DataFrame(
        {
            "ts_event": pd.to_datetime(
                [f"2024-01-{d:02d}" for d in range(10, 20)]
            ),
            "k": ["x"] * 10,
        }
    )
    batch2 = pd.DataFrame(
        {
            # one row far below the watermark, one fresh row
            "ts_event": pd.to_datetime(["2024-01-02", "2024-01-20"]),
            "k": ["x", "x"],
        }
    )
    f1, f2 = os.path.join(path, "a.parquet"), os.path.join(path, "b.parquet")
    # µs timestamps: the module fixture turns on nanosAsLong, which would
    # surface pandas' default ns column as BIGINT
    on_time.to_parquet(f1, coerce_timestamps="us")
    batch2.to_parquet(f2, coerce_timestamps="us")
    now = _time.time()
    os.utime(f1, (now - 60, now - 60))
    os.utime(f2, (now, now))

    from fink_science_spark.streaming.shell import scoped_shuffle_partitions

    schema = spark.read.parquet(path).schema
    with scoped_shuffle_partitions(spark, 4):
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(path)
        )
        agg = (
            stream.withColumn(
                "ts_event", F.col("ts_event").cast("timestamp")
            )
            .withWatermark("ts_event", "1 day")
            .groupBy(F.window("ts_event", "1 day").alias("w"), "k")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "k", "n")
        )
        name = f"late_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sink = spark.table(name).toPandas()
    starts = {s[:10] for s in sink["ws"].astype(str)}
    # finalized: every on-time window with end <= final watermark (Jan 19)
    assert {f"2024-01-{d:02d}" for d in range(10, 19)} <= starts, starts
    # the late row finalizes immediately (state never existed -> accepted)
    assert "2024-01-02" in starts, starts
    # open windows at termination are never emitted
    assert "2024-01-19" not in starts and "2024-01-20" not in starts, starts


def test_stream_dedup_lsh_across_batches(spark):
    """The streaming LSH band index must accumulate across micro-batches:
    documents split into 3 files and streamed one file per trigger give
    EXACTLY the batch dedup_minhash_lsh pair set (pairs that span batches
    only exist if the bucket state survives the trigger boundary)."""
    from fink_science_spark.operators.dedup import minhash_lsh_pairs
    from fink_science_spark.queries_dedup import _MH_BANDS, _MH_NUM, _doc_shingles
    from fink_science_spark.queries_streaming import q_stream_dedup_lsh

    src = os.path.join(SCRATCH, "stream_lsh_multibatch_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    docs.withColumn("__p", (F.col("doc_id") % 3).cast("int")).repartition(
        3, "__p"
    ).drop("__p").write.mode("overwrite").parquet(src)

    batch = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            _doc_shingles(spark, SF),
            "doc_id",
            tokens_col="shingles",
            num_hashes=_MH_NUM,
            bands=_MH_BANDS,
            jaccard_threshold=0.5,
            shingles_col="shingles",
        ).collect()
    }
    assert batch, "fixture must contain near-dup pairs"

    streamed = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in q_stream_dedup_lsh(
            spark, SF, source_dir=src, max_files_per_trigger=1
        ).collect()
    }
    assert streamed == batch


def test_stream_dedup_lsh_dup_density_stress_no_driver_funnel(spark):
    """r3 verdict #1: a x4-replicated corpus (every doc cloned 4x with
    distinct ids -> pair volume ~16x the base near-dup set plus 6 clone
    pairs per doc) must stream through the foreachBatch parquet drain and
    still equal the batch LSH answer — and the pair set must flow into
    the verify join from a FILE scan, never a driver-materialized local
    relation (the old memory-sink + collect() funnel)."""
    from fink_science_spark.operators.dedup import minhash_lsh_pairs
    from fink_science_spark.queries_dedup import _MH_BANDS, _MH_NUM, _doc_shingles
    from fink_science_spark.queries_streaming import q_stream_dedup_lsh

    base = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    reps = None
    for k in range(4):
        r = base.withColumn(
            "doc_id", F.col("doc_id") + F.lit(1_000_000 * k)
        )
        reps = r if reps is None else reps.unionByName(r)
    corp = os.path.join(SCRATCH, "stream_lsh_stress")
    shutil.rmtree(corp, ignore_errors=True)
    os.makedirs(corp)
    reps.write.mode("overwrite").parquet(
        os.path.join(corp, "documents.parquet")
    )
    src = os.path.join(corp, "split")
    reps.withColumn("__p", (F.col("doc_id") % 4).cast("int")).repartition(
        4, "__p"
    ).drop("__p").write.mode("overwrite").parquet(src)

    out = q_stream_dedup_lsh(spark, corp, source_dir=src, max_files_per_trigger=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, (
        "pair set must come from the file sink, not a driver collect"
    )
    streamed = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()
    }

    batch = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            _doc_shingles(spark, corp),
            "doc_id",
            tokens_col="shingles",
            num_hashes=_MH_NUM,
            bands=_MH_BANDS,
            jaccard_threshold=0.5,
            shingles_col="shingles",
        ).collect()
    }
    n_docs = base.count()
    # every clone quadruple alone contributes C(4,2)=6 exact-dup pairs
    assert len(batch) >= 6 * n_docs
    assert streamed == batch


def test_replay_readers_restart_offsets_stay_monotonic(spark, tmp_path):
    """Checkpoint-restart recovery, unit-level: a FRESH reader (as after
    a restart, _target reset to 0) that is re-planned from a committed
    offset must neither emit regressed partitions nor let the next
    latestOffset fall below the committed point — otherwise committed
    rows replay into the sink. (The Avro twin gained this guard in
    round 3; the parquet row-replay reader regressed the same way.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fink_science_spark.sources.replay import AlertReplayStreamReader

    path = str(tmp_path / "r.parquet")
    pq.write_table(pa.table({"x": list(range(120))}), path)

    fresh = AlertReplayStreamReader(
        {"path": path, "advance_per_trigger": "30", "rows_per_batch": "2000"}
    )
    # engine restart sequence: latestOffset() may regress on a fresh
    # reader; the committed start must clamp it via partitions()
    fresh.latestOffset()  # -> {"row": 30}, stale
    parts = fresh.partitions({"row": 90}, {"row": 30})
    assert parts == [] or all(p.start >= 90 for p in parts)
    nxt = fresh.latestOffset()
    assert nxt["row"] >= 90, nxt


def test_memory_sinks_leave_the_catalog_flat(spark):
    """Stream queries run into memory sinks; each sink's temp view must
    be gone once the query returns, or every run leaves its rows in the
    session catalog. The returned frames must still read the sink."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names = [
        "stream_avro_alert_pipeline",
        "stream_stateful_user_stats",
        "stream_dedup",
    ]
    catalogs = []
    for _ in range(3):
        for name in names:
            assert queries[name](spark, SF).count() > 0, name
        catalogs.append(sorted(t.name for t in spark.catalog.listTables()))
    assert catalogs[0] == catalogs[1] == catalogs[2], catalogs
