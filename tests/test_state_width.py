"""State-store width of the stateful stream queries.

Stateful streams size their state stores with ``state_partitions``: one
store per ``maxPartitionBytes`` of source, so one store at test scale.
The answer must not depend on that width (the partitioning-invariance
contract applied to state), and the width must reach the running query.
"""

from __future__ import annotations

import pytest

from fink_science_spark.streaming import shell
from fink_science_spark.streaming.shell import max_partition_bytes, state_partitions

# every registered stream query that takes its width from state_partitions
RULE_WIDTH_STREAMS = [
    "stream_weekly_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_static_join",
    "stream_dedup",
    "stream_interval_join",
    "stream_replay_counts",
    "stream_avro_counts",
    "stream_heavy_hitters",
    "stream_sequence_packing",
]

# the width every stateful stream used before the rule
OLD_FIXED_WIDTH = 8


def test_state_partitions_rule(spark):
    par = spark.sparkContext.defaultParallelism
    mpb = max_partition_bytes(spark)
    assert state_partitions(spark, 0) == 1
    assert state_partitions(spark, 1) == 1
    assert state_partitions(spark, mpb) == 1
    assert state_partitions(spark, mpb + 1) == min(2, par)
    assert state_partitions(spark, 3 * mpb) == min(3, par)
    assert state_partitions(spark, (par + 5) * mpb) == par
    # size unknown (non-local source): the cluster's parallelism
    assert state_partitions(spark, None) == par
    # a smaller unit for state operators whose Python work grows with rows
    mib = 1 << 20
    assert state_partitions(spark, 0, bytes_per_store=2 * mib) == 1
    assert state_partitions(spark, 5 * mib, bytes_per_store=2 * mib) == min(3, par)
    assert state_partitions(spark, None, bytes_per_store=2 * mib) == par


@pytest.fixture
def started(monkeypatch) -> list:
    """Every streaming query started while the test runs."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    queries = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        queries.append(start(self, *args, **kwargs))
        return queries[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return queries


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_stateful_streams_answer_the_same_at_any_state_width(
    spark, sf_smoke, monkeypatch
):
    """Every rule-sized stream returns the same rows at the rule's width
    and at the old fixed width 8."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    rule = shell.state_partitions
    widths: list[int] = []

    def recording(*args, **kwargs):
        widths.append(rule(*args, **kwargs))
        return widths[-1]

    for name in RULE_WIDTH_STREAMS:
        widths.clear()
        monkeypatch.setattr(shell, "state_partitions", recording)
        at_rule = _rows(queries[name](spark, sf_smoke))
        assert widths and all(w < OLD_FIXED_WIDTH for w in widths), (name, widths)
        monkeypatch.setattr(shell, "state_partitions", lambda *_, **__: OLD_FIXED_WIDTH)
        at_eight = _rows(queries[name](spark, sf_smoke))
        assert at_rule, name
        assert at_rule == at_eight, name


def test_weekly_counts_commits_one_state_store(spark, sf_correctness, started):
    """At sf0.01 the events source is far below one maxPartitionBytes, so
    the running query must report a single state-store instance."""
    import __spark_entry__ as entrymod

    entrymod.queries()["stream_weekly_counts"](spark, sf_correctness).collect()
    assert len(started) == 1
    ops = started[0].lastProgress["stateOperators"]
    assert ops, "stream_weekly_counts reported no state operator"
    assert ops[0]["numStateStoreInstances"] == 1


@pytest.mark.parametrize(
    "name", ["stream_foreachbatch_enrich", "stream_avro_alert_pipeline",
             "stream_mv_maintenance"]
)
def test_unscoped_streams_hold_no_state(spark, sf_smoke, started, name):
    """The streams that keep the session's shuffle width hold no state:
    no progress of theirs reports a state operator."""
    import __spark_entry__ as entrymod

    assert entrymod.queries()[name](spark, sf_smoke).count() > 0
    progress = [p for q in started for p in q.recentProgress]
    assert progress, name
    for p in progress:
        assert not p["stateOperators"], (name, p["stateOperators"])
