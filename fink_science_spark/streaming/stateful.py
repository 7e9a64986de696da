"""Arbitrary stateful streaming via Spark 4's transformWithState API.

``applyInPandasWithState`` (queries_streaming.q_stream_stateful_user_stats)
carries one opaque state tuple per key. The successor API —
``transformWithStateInPandas`` — gives keyed state PRIMITIVES (ValueState
/ ListState / MapState, optional TTL, event/processing-time timers)
backed by the RocksDB state store. This module uses it for the profile
accumulator a broker-style pipeline keeps per object across micro-batches
(the cross-batch materialization of the reference's per-object history,
SURVEY §2.9 / §1.5):

- ``ValueState``: running (count, sum, max) moments;
- ``MapState``: per-category counters (event_type → count) — state whose
  KEY SPACE grows with the data, which a single value tuple can't model.

Scale: state is partitioned by the grouping key across state-store
instances; RocksDB keeps it off-heap and incremental-checkpointed. A
map-state entry is touched only for categories present in the batch —
per-batch work is O(input), not O(accumulated state).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def make_user_profile_processor() -> StatefulProcessor:
    """Per-key running profile: moments in a ValueState, per-event-type
    counts in a MapState; emits the updated profile once per batch.

    Defined function-local so cloudpickle serializes the CLASS BY VALUE:
    the transformWithState driver worker is a separate Python process
    that does not share the session's sys.path, so a module-level class
    (pickled by reference) would fail to import there."""

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n long, s double, vmax double"
            )
            self._types = handle.getMapState("types", "t string", "c long")

        def handleInputRows(
            self, key, rows, timerValues
        ) -> Iterator[pd.DataFrame]:
            n, s, vmax = 0, 0.0, float("-inf")
            if self._agg.exists():
                n, s, vmax = self._agg.get()
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                s += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (
                        self._types.getValue((t,))[0]
                        if self._types.containsKey((t,))
                        else 0
                    )
                    self._types.updateValue((t,), (prev + int(c),))
            self._agg.update((n, s, vmax))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "mean_value": [round(s / n, 6)],
                    "max_value": [round(vmax, 6)],
                    "n_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    return UserProfileProcessor()


def user_profile_stream(stream: DataFrame) -> DataFrame:
    """Apply the profile accumulator to a streaming events frame keyed by
    user_id. Caller is responsible for running with the RocksDB provider
    (see :data:`_ROCKSDB`); the HDFS-backed default store does not
    support transformWithState."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        make_user_profile_processor(),
        outputStructType=(
            "user_id long, n long, mean_value double, "
            "max_value double, n_types long"
        ),
        outputMode="Update",
        timeMode="None",
    )
