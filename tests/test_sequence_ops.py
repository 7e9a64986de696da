"""Independent (non-SQL) twins for the sequence-analytics operators:
the DuckDB oracles share the window-function formulation with the
engine, so these tests re-derive the answers from FIRST PRINCIPLES in
plain Python — a per-user event loop for the funnel and sessions, the
recursive CUSUM definition for the changepoint statistic — and compare
against the registered queries at sf0.001."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from fink_science_spark.tables import _events_us

    rows = (
        _events_us(spark, SF)
        .select("event_id", "user_id", "event_type", "ts_us", "value")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for seq in by_user.values():
        seq.sort(key=lambda r: (r.ts_us, r.event_id))
    return by_user


def test_funnel_matches_per_user_event_loop(spark, events):
    import __spark_entry__ as e

    got = {
        r.step: (r.users, r.conv_rate)
        for r in e.queries()["funnel_steps"](spark, SF).collect()
    }
    u1 = u2 = u3 = 0
    for seq in events.values():
        t1 = t2 = t3 = None
        for r in seq:
            if r.event_type == "view" and t1 is None:
                t1 = r.ts_us
            elif r.event_type == "click" and t2 is None and t1 is not None and r.ts_us > t1:
                t2 = r.ts_us
            elif r.event_type == "purchase" and t3 is None and t2 is not None and r.ts_us > t2:
                t3 = r.ts_us
        u1 += t1 is not None
        u2 += t2 is not None
        u3 += t3 is not None
    assert (got[1][0], got[2][0], got[3][0]) == (u1, u2, u3)
    for step, users in ((1, u1), (2, u2), (3, u3)):
        assert got[step][1] == math.floor(users / u1 * 1e6 + 0.5) / 1e6


def test_cusum_matches_recursive_definition(spark, events):
    """The engine computes S via the prefix-sum − running-min identity;
    this recomputes S by the textbook recursion S_i = max(0, S_{i-1}+d_i)."""
    import __spark_entry__ as e
    from fink_science_spark.queries_analytics import (
        _CUSUM_H,
        _CUSUM_K_DEN,
        _CUSUM_K_NUM,
        _CUSUM_Q,
    )

    got = {
        r.event_id: (r.cusum, r.drift_flag)
        for r in e.queries()["cusum_changepoints"](spark, SF).collect()
    }
    k = _CUSUM_K_NUM * _CUSUM_Q // _CUSUM_K_DEN
    h = int(_CUSUM_H * _CUSUM_Q)
    n_checked = 0
    for seq in events.values():
        vq = [math.floor(r.value * _CUSUM_Q + 0.5) for r in seq]
        mu = math.floor(sum(vq) / len(vq))
        s = 0
        for r, v in zip(seq, vq):
            s = max(0, s + (v - mu - k))
            want = math.floor(s / _CUSUM_Q * 1e6 + 0.5) / 1e6
            assert got[r.event_id] == (want, s > h), r.event_id
            n_checked += 1
    assert n_checked == len(got)


def test_sessions_native_matches_gap_walk(spark, events):
    import __spark_entry__ as e
    from fink_science_spark.queries_analytics import _SESS_GAP_US

    got = {
        (r.user_id, r.session_id): (r.n, r.start_us, r.end_us)
        for r in e.queries()["sessions_native"](spark, SF).collect()
    }
    want = {}
    for uid, seq in events.items():
        sid, n, start, last = 1, 0, None, None
        for r in seq:
            if start is None:
                n, start = 1, r.ts_us
            elif r.ts_us - last > _SESS_GAP_US:
                want[(uid, sid)] = (n, start, last)
                sid, n, start = sid + 1, 1, r.ts_us
            else:
                n += 1
            last = r.ts_us
        if start is not None:
            want[(uid, sid)] = (n, start, last)
    assert got == want
