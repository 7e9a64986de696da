"""Wave-14 operator properties and plan shapes.

Correctness vs DuckDB is the parity suite's job (all seven queries are
registered with exact oracles); this file pins the operator CONTRACTS —
the invariants a refactor could silently break while staying
value-correct on the gate tables — and the plan shapes that matter at
100 TB (BM25 must not explode the corpus; the fuzzy matcher must stay
an equi-join).
"""

from __future__ import annotations

import contextlib
import io
import math
import re

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ---------------------------------------------------------------- bm25


def test_bm25_no_explode_no_corpus_shuffle(spark):
    """The tf path is a per-row HOF against the fixed term list: the
    plan must contain NO Generate (explode) node, and the only join is
    the 1-row stats broadcast."""
    from fink_science_spark.queries_similarity import q_bm25_topk

    plan = plan_of(q_bm25_topk(spark, SF))
    assert "Generate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm25_scores_positive_and_ranked(spark):
    from fink_science_spark.queries_similarity import _BM25_K, q_bm25_topk

    rows = q_bm25_topk(spark, SF).collect()
    assert 0 < len(rows) <= _BM25_K
    scores = [r["bm25"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


# --------------------------------------------------------------- fuzzy


def test_fuzzy_match_is_equi_join(spark):
    from fink_science_spark.queries_similarity import q_fuzzy_match_names

    plan = plan_of(q_fuzzy_match_names(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the blocking key is the join key (hash or sort-merge equi-join)
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan), plan


def test_fuzzy_match_resolves_every_dirty_record_to_its_source(spark):
    """The corruption (drop 2nd char, uppercase 1st) keeps the original
    within distance 2 and inside the same block, so every dirty record
    must resolve, and never at distance > 2 (the original is always a
    candidate, so argmin can't do worse)."""
    from pyspark.sql import functions as F

    from fink_science_spark.tables import _t
    from fink_science_spark.queries_similarity import q_fuzzy_match_names

    out = q_fuzzy_match_names(spark, SF)
    n_dirty = (
        _t(spark, SF, "part").filter(F.col("p_partkey") % 5 == 0).count()
    )
    rows = out.collect()
    assert len(rows) == n_dirty
    assert all(r["dist"] <= 2 for r in rows)


# ---------------------------------------------------------- stratified


def test_stratified_sample_exact_fractions(spark):
    """Per-stratum selected count is exactly ceil(0.2 · n) — the
    property Bernoulli sampling only hits in expectation."""
    from pyspark.sql import functions as F

    from fink_science_spark.tables import _t
    from fink_science_spark.queries_analytics import _STRAT_FRAC, q_stratified_sample

    totals = {
        (r["lang"], r["source"]): r["n"]
        for r in _t(spark, SF, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    picked = {
        (r["lang"], r["source"]): r["n"]
        for r in q_stratified_sample(spark, SF)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(picked) == set(totals)
    for k, n in totals.items():
        assert picked[k] == math.ceil(n * _STRAT_FRAC), (k, n, picked[k])


# ------------------------------------------------------- length bucket


def test_length_bucket_batches_partition_the_corpus(spark):
    """Batches tile the corpus exactly: sizes ≤ B, Σ n_docs = corpus
    size, padding waste is non-negative, and inside a bucket only the
    LAST batch may be short."""
    from fink_science_spark.tables import _t
    from fink_science_spark.queries_text import _BATCH_SIZE, q_length_bucket_batches

    rows = q_length_bucket_batches(spark, SF).collect()
    corpus = _t(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == corpus
    assert all(0 < r["n_docs"] <= _BATCH_SIZE for r in rows)
    assert all(r["padding_waste"] >= 0 for r in rows)
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, batches in by_bucket.items():
        batches.sort(key=lambda r: r["batch_id"])
        assert [r["batch_id"] for r in batches] == list(range(len(batches)))
        assert all(r["n_docs"] == _BATCH_SIZE for r in batches[:-1]), bucket


# ------------------------------------------------------- snapshot diff


def test_snapshot_diff_classes_tile_the_key_union(spark):
    """added+removed+changed+unchanged = |keys(A) ∪ keys(B)|, and the
    planted modulo rules predict each class exactly."""
    from pyspark.sql import functions as F

    from fink_science_spark.tables import _t
    from fink_science_spark.queries_relational import q_snapshot_diff

    out = {r["cls"]: r for r in q_snapshot_diff(spark, SF).collect()}
    keys = _t(spark, SF, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    n_union = keys.filter((F.col("k") % 97 != 0) | (F.col("k") % 89 != 0)).count()
    assert sum(r["n"] for r in out.values()) == n_union
    # added = in B only = keys ≡0 (mod 97) that B kept
    n_added = keys.filter(
        (F.col("k") % 97 == 0) & (F.col("k") % 89 != 0)
    ).count()
    n_removed = keys.filter(
        (F.col("k") % 89 == 0) & (F.col("k") % 97 != 0)
    ).count()
    n_changed = keys.filter(
        (F.col("k") % 7 == 0) & (F.col("k") % 97 != 0) & (F.col("k") % 89 != 0)
    ).count()
    assert out.get("added", {"n": 0})["n"] == n_added
    assert out.get("removed", {"n": 0})["n"] == n_removed
    assert out.get("changed", {"n": 0})["n"] == n_changed
    # every changed row moved by exactly +1.0
    if n_changed:
        assert out["changed"]["value_delta"] == pytest.approx(float(n_changed))


# --------------------------------------------------------- time series


def test_acf_lag_zero_would_be_one_and_lags_bounded(spark):
    """|r_k| ≤ 1 for every lag (Cauchy–Schwarz on the centered series)
    and n_pairs decreases by exactly one per extra lag."""
    from fink_science_spark.queries_analytics import _ACF_MAX_LAG, q_acf_lags

    rows = {r["lag"]: r for r in q_acf_lags(spark, SF).collect()}
    assert set(rows) == set(range(1, _ACF_MAX_LAG + 1))
    assert all(abs(r["acf"]) <= 1.0 + 1e-9 for r in rows.values())
    n1 = rows[1]["n_pairs"]
    for k in range(2, _ACF_MAX_LAG + 1):
        assert rows[k]["n_pairs"] == n1 - (k - 1)


def test_seasonal_decompose_indices_sum_near_zero(spark):
    """The seasonal indices average the detrended series over a
    partition of its days, so their day-weighted sum equals the total
    detrended sum — near zero for a centered-MA detrend (exactly the
    sum of the window-edge asymmetries, which is tiny relative to the
    series scale)."""
    from pyspark.sql import functions as F

    from fink_science_spark.tables import _t
    from fink_science_spark.queries_analytics import q_seasonal_decompose

    rows = q_seasonal_decompose(spark, SF).collect()
    assert len(rows) == 7
    total_days = sum(r["n_days"] for r in rows)
    weighted = sum(r["seasonal"] * r["n_days"] for r in rows)
    # scale reference: mean daily count
    mu = (
        _t(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .count()
        .agg(F.avg("count"))
        .collect()[0][0]
    )
    assert abs(weighted) / total_days < 0.15 * mu
    assert all(r["resid_mse"] >= 0 for r in rows)


# =================================================================== wave 15


def test_rrf_ranks_are_dense_and_scores_descend(spark):
    """Rank columns are top-C list positions (None when the doc missed
    that list); the fused score is non-increasing; the BM25 winner is
    always fused in (1/(60+1) is the largest single contribution)."""
    from fink_science_spark.queries_similarity import _RRF_C, q_rrf_fusion

    rows = q_rrf_fusion(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["rank_bm25"] is None or 1 <= r["rank_bm25"] <= _RRF_C
        assert r["rank_tfidf"] is None or 1 <= r["rank_tfidf"] <= _RRF_C
        assert r["rank_bm25"] is not None or r["rank_tfidf"] is not None
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)
    assert any(r["rank_bm25"] == 1 for r in rows)


def test_rrf_plan_uses_take_ordered_not_global_sort(spark):
    """The top-C lists must come from TakeOrderedAndProject (partial
    per-partition top-C + C-row merge), not a full global Sort of the
    scored corpus."""
    from fink_science_spark.queries_similarity import q_rrf_fusion

    plan = plan_of(q_rrf_fusion(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_welch_dof_bounds(spark):
    """Welch–Satterthwaite dof lies in [min(na,nb)−1, na+nb−2]."""
    from fink_science_spark.queries_analytics import q_ab_welch_ttest

    rows = q_ab_welch_ttest(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert min(r["na"], r["nb"]) - 1 <= r["welch_dof"] <= r["na"] + r["nb"] - 2


def test_fk_audit_shape_and_consistency(spark):
    from fink_science_spark.queries_relational import q_fk_integrity_audit

    rows = {r["fk"]: r for r in q_fk_integrity_audit(spark, SF).collect()}
    assert set(rows) == {
        "orders->customer",
        "lineitem->orders",
        "lineitem->part",
        "lineitem->supplier",
    }
    for r in rows.values():
        assert 0 <= r["n_orphans"] <= r["n_rows"]
        assert abs(r["orphan_rate"] - r["n_orphans"] / r["n_rows"]) < 1e-6


def test_calibration_bins_tile_and_bound(spark):
    """Bins partition the corpus; rates live in [0,1]; the positive
    share equals the 75th-percentile cut construction (≈ 25%, exact up
    to interpolation ties); ECE terms are the weighted |gap|."""
    from fink_science_spark.tables import _t
    from fink_science_spark.queries_analytics import q_calibration_bins

    rows = q_calibration_bins(spark, SF).collect()
    total = _t(spark, SF, "events").count()
    assert sum(r["n"] for r in rows) == total
    assert all(0 <= r["bin"] <= 9 for r in rows)
    assert all(0.0 <= r["pos_rate"] <= 1.0 for r in rows)
    assert all(0.0 <= r["mean_score"] <= 1.0 for r in rows)
    pos_share = sum(r["n_pos"] for r in rows) / total
    assert 0.2 < pos_share < 0.3
    for r in rows:
        expected = abs(r["mean_score"] - r["pos_rate"]) * r["n"] / total
        assert abs(r["ece_term"] - expected) < 1e-5


def test_gap_islands_planted_streaks(spark):
    """Planted day sets reconstruct exactly: user 1 has runs {1,2,3} and
    {7,8} (longest 3 starting day 1), user 2 has equal-length runs
    {10,11} and {20,21} (earliest start wins the tie), user 3 is a
    single day."""
    import datetime

    from fink_science_spark.queries_analytics import q_gap_islands

    def ts(day):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day, hours=5)

    rows = []
    eid = 0
    for uid, days in [(1, [1, 2, 3, 7, 8]), (2, [10, 11, 20, 21]), (3, [40])]:
        for dy in days:
            for _ in range(2):  # duplicate events per day must not matter
                rows.append((eid, ts(dy), uid, "click", 1.0, "{}"))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {r["user_id"]: r for r in q_gap_islands(spark, d).collect()}
    assert got[1]["n_streaks"] == 2
    assert got[1]["longest_streak"] == 3 and got[1]["longest_start_day"] == 1
    assert got[2]["n_streaks"] == 2
    assert got[2]["longest_streak"] == 2 and got[2]["longest_start_day"] == 10
    assert got[3]["n_streaks"] == 1 and got[3]["longest_streak"] == 1


def test_skyline_refine_exact_across_arrow_batch_splits(spark, tmp_path):
    """Code-review regression (round 4): the refine kernel must see its
    whole partition as ONE frame. With tiny Arrow batches and many
    equal-price points arriving from different scan partitions, a
    per-batch prune keeps every batch's own maximum — multiple
    survivors where the true frontier has exactly one."""
    from pyspark.sql import functions as F

    from fink_science_spark.queries_analytics import q_skyline_frontier

    d = str(tmp_path / "sky_split")
    rows = [(i, 10.0, i + 1) for i in range(12)]  # one price, sizes 1..12
    (
        spark.createDataFrame(
            rows, "p_partkey long, p_retailprice double, p_size int"
        )
        .repartition(6)  # spread dominated pairs across scan partitions
        .write.mode("overwrite")
        .parquet(f"{d}/part.parquet")
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        got = q_skyline_frontier(spark, d).collect()
    finally:
        spark.conf.set(key, old)
    assert len(got) == 1, [(r["p_partkey"], r["size"]) for r in got]
    assert got[0]["size"] == 12


def test_lang_id_tie_break_is_alphabetical(spark):
    """Code-review regression (round 4): 'la' is a marker for BOTH es
    and fr — on a tie the alphabetically smaller code must win (the
    documented contract; the original fold handed ties to the LAST
    code). No marker hits => 'und', and a 0-score language never
    displaces 'und'."""
    from pyspark.sql import functions as F

    from fink_science_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(1, ["la"]), (2, ["zzz"]), (3, ["der", "das", "ist"])],
        "i long, toks array<string>",
    )
    got = {r["i"]: r["lang"] for r in df.select("i", lang_id("toks").alias("lang")).collect()}
    assert got[1] == "es"      # es/fr tie -> alphabetically first
    assert got[2] == "und"     # no hits
    assert got[3] == "de"      # clear winner unaffected
