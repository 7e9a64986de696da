"""Unit and plan tests for the mergeable-sketch family
(operators/sketches.py): Bloom join pruning, histogram quantiles,
exact heavy hitters."""

from __future__ import annotations

import re

import pytest

from tests.test_plans import plan_of

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


# --------------------------------------------------------------------------
# Bloom
# --------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    """Every inserted key must probe positive — the exactness contract of
    the pruned join rests on zero false negatives."""
    from fink_science_spark.operators.sketches import (
        bloom_bits_for,
        bloom_might_contain,
        build_bloom_bitset,
    )

    keys = spark.range(0, 5000, 7).withColumnRenamed("id", "k")
    m = bloom_bits_for(keys.count())
    bitset = build_bloom_bitset(keys, "k", m)
    missed = keys.filter(~bloom_might_contain("k", bitset, m)).count()
    assert missed == 0


def test_bloom_false_positive_rate_bounded(spark):
    """Non-members should mostly be pruned: at 16 bits/key, k=4 the
    theoretical fp rate is ~0.24%; assert an order-of-magnitude bound."""
    from fink_science_spark.operators.sketches import (
        bloom_bits_for,
        bloom_might_contain,
        build_bloom_bitset,
    )

    keys = spark.range(0, 2000).withColumnRenamed("id", "k")
    m = bloom_bits_for(2000)
    bitset = build_bloom_bitset(keys, "k", m)
    probe = spark.range(1_000_000, 1_020_000).withColumnRenamed("id", "k")
    fp = probe.filter(bloom_might_contain("k", bitset, m)).count()
    assert fp / 20_000 < 0.02, fp


def test_bloom_bits_for_sizing():
    from fink_science_spark.operators.sketches import bloom_bits_for

    assert bloom_bits_for(1) == 1 << 10
    assert bloom_bits_for(1000) == 1 << 14
    # cap respected
    assert bloom_bits_for(10**9) == 1 << 21


def test_bloom_prune_join_filters_fact_before_join(spark, registry):
    """The bitset probe must sit between the fact scan and the join —
    that is the entire point: non-matching rows die before any join
    machinery (and before the shuffle, on a non-broadcastable dim)."""
    plan = plan_of(registry["bloom_prune_join"](spark, SF))
    assert "element_at" in plan and "xxhash64" in plan, plan
    # the probe is a native filter, not Python, and not an interpreted
    # HOF lambda (forall measured 5x slower than the flat conjunction)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "forall" not in plan, "probe regressed to interpreted HOF"
    # filter node on the fact side references the probe before the join
    join_pos = plan.index("BroadcastHashJoin")
    assert "element_at" in plan[join_pos:], "probe filter lost below the join"


# --------------------------------------------------------------------------
# Histogram quantiles
# --------------------------------------------------------------------------


def test_histogram_quantile_within_one_bin_of_exact(spark):
    """The estimator's error contract: each estimate lands within one bin
    width above the exact quantile."""
    import pyspark.sql.functions as F

    from fink_science_spark.operators.sketches import histogram_quantiles

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    bins = 256
    est = {
        r["l_returnflag"]: r
        for r in histogram_quantiles(
            li, "l_returnflag", "l_extendedprice", bins=bins
        ).collect()
    }
    lo, hi = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).first()
    width = (hi - lo) / bins
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    for flag, row in est.items():
        for q in ("p50", "p90", "p99"):
            assert exact[flag][q] - 1e-6 <= row[q] <= exact[flag][q] + 2 * width, (
                flag,
                q,
                row[q],
                exact[flag][q],
            )


def test_histogram_quantile_constant_column(spark):
    """hi == lo degenerate domain: everything lands in bucket 0 and the
    estimate equals the (single) value, not NaN/div-zero."""
    import pandas as pd

    from fink_science_spark.operators.sketches import histogram_quantiles

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 5 + ["b"] * 3, "v": [7.0] * 8})
    )
    rows = histogram_quantiles(df, "g", "v").collect()
    assert {r["g"]: r["p99"] for r in rows} == {"a": 7.0, "b": 7.0}


def test_sketch_quantiles_shuffle_carries_bins_not_rows(spark, registry):
    """The first aggregation must be partial (map-side combine) so the
    exchange moves at most groups × bins count rows."""
    plan = plan_of(registry["sketch_quantiles"](spark, SF))
    assert "partial_count" in plan or "partial" in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan


# --------------------------------------------------------------------------
# Heavy hitters
# --------------------------------------------------------------------------


def test_heavy_hitter_candidates_superset_any_partitioning(spark):
    """Pigeonhole guarantee: under several adversarial repartitionings,
    the candidate set always contains every true global heavy hitter."""
    import pyspark.sql.functions as F

    from fink_science_spark.operators.sketches import heavy_hitter_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    m = 35
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    n = toks.count()
    true_heavy = {
        r["t"]
        for r in toks.groupBy("t")
        .count()
        .filter(F.col("count") * m > n)
        .collect()
    }
    assert true_heavy, "fixture should produce at least one heavy hitter"
    for parts in (1, 3, 17):
        cands = set(
            heavy_hitter_candidates(docs.repartition(parts), "text", m)
        )
        assert true_heavy <= cands, (parts, true_heavy - cands)


def test_heavy_hitters_result_partitioning_independent(spark):
    from fink_science_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = sorted(
        (r["token"], r["cnt"]) for r in heavy_hitters(docs, "text").collect()
    )
    skewed = sorted(
        (r["token"], r["cnt"])
        for r in heavy_hitters(docs.repartition(13), "text").collect()
    )
    assert base == skewed and base


def test_heavy_hitters_counting_pass_filters_before_exchange(spark, registry):
    """The exact count must only shuffle candidate tokens: the isin
    filter sits below the aggregation exchange."""
    plan = plan_of(registry["heavy_hitters"](spark, SF))
    first_exchange = plan.index("Exchange")
    assert "token" in plan, plan
    # candidate membership filter present and native
    assert re.search(r"Condition.*token.*IN|token#\d+ IN", plan), plan
    assert "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# LM quality buckets
# --------------------------------------------------------------------------


def test_lm_quality_backoff_path_fires(spark):
    """The held-out half must contain bigrams unseen in training so the
    stupid-backoff branch is actually exercised by the parity gate (7
    unseen occurrences at sf0.001 as of the fixture generation)."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    base = docs.select("doc_id", toks.alias("toks"))
    pairs = (
        base.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(toks)), j -> "
                    "struct(element_at(toks, j - 1) AS prev, "
                    "element_at(toks, j) AS w))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.prev", "p.w")
    )
    train = pairs.filter(F.col("doc_id") % 2 == 0).select("prev", "w").distinct()
    assert pairs.join(train, ["prev", "w"], "left_anti").count() > 0


def test_lm_quality_buckets_are_roughly_terciles(spark, registry):
    rows = registry["lm_quality_buckets"](spark, SF).collect()
    from collections import Counter

    shares = Counter(r["bucket"] for r in rows)
    n = len(rows)
    assert set(shares) == {"head", "middle", "tail"}, shares
    # histogram-edge cutpoints are coarse (64 bins) — allow wide slack
    for b, c in shares.items():
        assert 0.12 * n <= c <= 0.6 * n, (b, shares)


def test_lm_quality_scoring_pass_broadcasts_model(spark, registry):
    """The LM tables join back by broadcast — the document side must
    never shuffle for the join — and no single-partition global window
    (the reason cutpoints come from the sketch, not ntile).

    The registered query localCheckpoints the per-doc NLL table (it has
    two consumers), which truncates the VISIBLE plan — so inspect the
    plan with the checkpoint disabled; the scoring pipeline is identical
    upstream of it."""
    from unittest import mock

    # patch the CONCRETE class (pyspark.sql.DataFrame is the facade)
    cls = type(spark.range(1))
    with mock.patch.object(
        cls, "localCheckpoint", lambda self, eager=True: self
    ):
        plan = plan_of(registry["lm_quality_buckets"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan or "partitionBy" not in plan.lower(), plan


# --------------------------------------------------------------------------
# Product quantization
# --------------------------------------------------------------------------


def test_pq_lloyd_round_reduces_reconstruction_error(spark):
    """One Lloyd round must not worsen total reconstruction error vs the
    seed codebook (k-means monotonicity, modulo the 6-dec mean rounding)."""
    import pyspark.sql.functions as F

    from fink_science_spark.queries_similarity import (
        _PQ_K,
        _PQ_S,
        _PQ_SUBDIM,
        q_pq_compression,
    )
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.tables import _t

    # trained error from the registered query
    trained = (
        q_pq_compression(spark, SF)
        .agg(F.sum("recon_err").alias("e"))
        .first()["e"]
    )
    # seed-codebook error: assign to the K hash-smallest vectors' subvecs
    e = _t(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = (
        e.orderBy(hash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_K)
        .collect()
    )
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.slice("v", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
                    )
                    for s in range(_PQ_S)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.sv")
    cb0 = spark.createDataFrame(
        [
            (s, c, list(r["v"][s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]))
            for s in range(_PQ_S)
            for c, r in enumerate(seeds)
        ],
        "s long, cell long, cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    seed_err = (
        subs.join(F.broadcast(cb0), "s")
        .groupBy("vec_id", "s")
        .agg(F.min(d2).alias("d"))
        .agg(F.sum("d").alias("e"))
        .first()["e"]
    )
    assert trained <= seed_err + 1e-3, (trained, seed_err)


def test_pq_codes_cover_multiple_cells(spark, registry):
    """Degenerate training (all vectors in one cell) would compress
    nothing; assert the codebook is actually used across cells."""
    rows = registry["pq_compression"](spark, SF).collect()
    from fink_science_spark.queries_similarity import _PQ_K

    for c in ("c0", "c1", "c2", "c3"):
        used = {r[c] for r in rows}
        assert len(used) >= 2, (c, used)
        assert used <= set(range(_PQ_K))


def test_pq_assignment_broadcasts_codebook(spark, registry):
    plan = plan_of(registry["pq_compression"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_pq_adc_distances_track_exact_distances(spark, registry):
    """ADC is approximate, and the fixture embeddings are spatially
    UNstructured (top-3 exact neighbors share a label only ~10% of the
    time — random baseline), so a recall floor would test the data, not
    the code. What a broken lut/codes join WOULD destroy: (a) the
    positive correlation between approx and exact distances, and (b) the
    fact that ADC-selected top-3 are genuinely closer than random pairs.
    (Mean approx < mean exact is expected: ADC drops the query-residual
    term — the textbook underestimate.)"""
    import pyspark.sql.functions as F

    from fink_science_spark.tables import _t

    adc = registry["pq_adc_topk"](spark, SF).collect()
    got = {(r["qid"], r["cid"]) for r in adc}

    e = _t(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        q.crossJoin(e)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", d2.alias("t"))
        .toPandas()
    )
    # (b) selected pairs are closer than the population mean
    sel = exact[
        exact.apply(lambda r: (r["qid"], r["vec_id"]) in got, axis=1)
    ]
    assert len(sel) == len(got)
    assert sel["t"].mean() < 0.92 * exact["t"].mean(), (
        sel["t"].mean(),
        exact["t"].mean(),
    )
    # (a) approx distances positively correlate with exact distances
    from fink_science_spark.queries_similarity import _pq_d2_quant, _pq_trained

    subs, assign, cb1 = _pq_trained(spark, SF)
    codes = assign(cb1).select("vec_id", "s", "cell")
    qsubs = subs.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cb1), "s").select(
        "qid", "s", "cell", _pq_d2_quant(F.col("qsv"), F.col("cv")).alias("qd2")
    )
    approx = (
        codes.join(F.broadcast(lut), ["s", "cell"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("a"))
        .toPandas()
    )
    j = approx.merge(exact, on=["qid", "vec_id"])
    assert j["a"].corr(j["t"]) > 0.15, j["a"].corr(j["t"])


# --------------------------------------------------------------------------
# Time-series resample + forward fill
# --------------------------------------------------------------------------


def test_resample_ffill_fills_gaps(spark, registry):
    """Days with no observation must exist in the grid and carry the
    previous observed value; the first grid day per user is always
    observed (span starts at the first observation)."""
    rows = registry["resample_ffill"](spark, SF).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps = [r for r in rows if not r["observed"]]
    assert gaps, "fixture should contain at least one empty day"
    assert all(r["value_ffill"] is not None for r in gaps)
    for user, urows in by_user.items():
        urows.sort(key=lambda r: r["day"])
        assert urows[0]["observed"], user
        # grid is contiguous
        days = [r["day"] for r in urows]
        assert days == list(range(days[0], days[-1] + 1)), user


def test_resample_ffill_bounded_exchanges(spark, registry):
    """Dedup window, span agg, join and fill share the user_id-rooted
    partitioning: at most 4 shuffle exchanges (dedup window, span agg,
    obs join side, final sort) plus the small-side broadcast — a global
    calendar cross join or mid-pipeline repartition would add more.
    No Python anywhere."""
    import re as _re

    plan = plan_of(registry["resample_ffill"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    n_exchanges = len(_re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, (n_exchanges, plan)


# --------------------------------------------------------------------------
# PSI drift + weighted sampling
# --------------------------------------------------------------------------


def test_psi_nonnegative_and_buckets_bounded(spark, registry):
    """PSI is a sum of (p-q)·ln(p/q) terms, each ≥ 0; the quantization
    floors at 0 for non-negative inputs, so psi ≥ 0 always. Buckets stay
    within the fixed bin range."""
    rows = registry["feature_drift_psi"](spark, SF).collect()
    assert rows
    from fink_science_spark.queries_analytics import _PSI_BINS

    assert all(0 <= r["bucket"] < _PSI_BINS for r in rows)
    assert all(r["contrib"] >= 0 for r in rows)
    psi = {r["psi"] for r in rows}
    assert len(psi) == 1 and psi.pop() >= 0


def test_psi_zero_for_identical_slices(spark):
    """Self-drift must be ~0: rebuild the per-bucket algebra with both
    slices identical and check every contribution collapses."""
    import pandas as pd
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_type": ["click", "purchase"] * 200,
                "value": [float(i % 37) for i in range(400)],
            }
        )
    )
    # identical value distribution in both slices by construction:
    # (i%37) hits the same sequence for alternating types... not exactly;
    # force it by duplicating values per type
    vals = [float(i % 37) for i in range(200)]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_type": ["click"] * 200 + ["purchase"] * 200,
                "value": vals + vals,
            }
        )
    )
    from fink_science_spark.queries_analytics import _PSI_BINS, _PSI_Q

    v = F.col("value")
    bounds = df.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    bucket = F.least(
        F.lit(_PSI_BINS - 1),
        F.floor(
            (v - F.col("__lo")) / (F.col("__hi") - F.col("__lo")) * F.lit(float(_PSI_BINS))
        ),
    ).cast("long")
    counts = (
        df.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_a"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_b"),
        )
        .collect()
    )
    assert all(r["n_a"] == r["n_b"] for r in counts)


def test_weighted_sample_biases_toward_weight(spark, registry):
    """A-ES with weight = n_chars must overrepresent long documents:
    sample mean n_chars exceeds the population mean, and each source
    yields exactly k rows with ranks 1..k."""
    import pyspark.sql.functions as F

    from fink_science_spark.queries_analytics import _WS_K

    rows = registry["weighted_sample"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pop_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > pop_mean, (sample_mean, pop_mean)
    from collections import Counter

    per_source = Counter(r["source"] for r in rows)
    for src, n in per_source.items():
        assert n == _WS_K, (src, n)
        ranks = sorted(r["rank"] for r in rows if r["source"] == src)
        assert ranks == list(range(1, _WS_K + 1))


# --------------------------------------------------------------------------
# Grouped OLS trend + quantile transform
# --------------------------------------------------------------------------


def test_user_trend_matches_numpy_polyfit(spark, registry):
    """The integer-sufficient-statistics closed form must agree with
    numpy's least squares on the same (day, value) points."""
    import numpy as np
    import pyspark.sql.functions as F

    from fink_science_spark.tables import DAY_US, _events_us

    rows = {r["user_id"]: r for r in registry["user_trend"](spark, SF).collect()}
    assert rows
    pts = (
        _events_us(spark, SF)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.col("ts_us") - (F.col("ts_us") % F.lit(DAY_US)))
            .cast("long")
            .alias("tus"),
            "value",
        )
        .collect()
    )
    by_user = {}
    for p in pts:
        by_user.setdefault(p["user_id"], []).append(
            (p["tus"] // DAY_US, p["value"])
        )
    checked = 0
    for uid, data in by_user.items():
        r = rows[uid]
        ts = np.array([d[0] for d in data], dtype=float)
        vs = np.array([d[1] for d in data], dtype=float)
        if r["slope"] is None or len(set(ts)) < 2 or np.var(vs) == 0:
            continue
        slope, intercept = np.polyfit(ts, vs, 1)
        assert abs(r["slope"] - slope) < 1e-4, (uid, r["slope"], slope)
        assert abs(r["intercept"] - intercept) < 1e-2, (
            uid,
            r["intercept"],
            intercept,
        )
        corr = np.corrcoef(ts, vs)[0, 1]
        assert abs(r["r2"] - corr**2) < 1e-4, (uid, r["r2"], corr**2)
        checked += 1
    assert checked >= 3, checked


def test_quantile_transform_monotone_and_total(spark, registry):
    """CDF positions are in (0, 1], monotone in price within a group,
    and every input row survives the histogram join."""
    import pyspark.sql.functions as F

    out = registry["quantile_transform"](spark, SF)
    li_n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    rows = out.collect()
    assert len(rows) == li_n
    by_flag = {}
    for r in rows:
        assert 0 < r["cdf"] <= 1.0, r
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["cdf"])
        )
    for flag, pairs in by_flag.items():
        pairs.sort()
        cdfs = [c for _, c in pairs]
        assert all(a <= b for a, b in zip(cdfs, cdfs[1:])), flag


def test_decontaminate_bloom_equals_exact_path(spark, registry):
    """The bloom-pruned two-phase decontamination must return EXACTLY
    the broadcast-set path's answer (the bitset only prunes)."""
    exact = sorted(
        (r["doc_id"], r["n_overlap"], r["contaminated"])
        for r in registry["decontaminate"](spark, SF).collect()
    )
    pruned = sorted(
        (r["doc_id"], r["n_overlap"], r["contaminated"])
        for r in registry["decontaminate_bloom"](spark, SF).collect()
    )
    assert exact == pruned and exact


def test_hll_portable_accuracy_and_merge(spark):
    """The portable HLL estimate must sit within the m=64 error budget of
    the exact cardinality at both driver scales, and the register table
    must be max-mergeable: the sketch of A ∪ B equals merging the two
    sketches' registers (the 100 TB shard-merge property)."""
    import duckdb

    from fink_science_spark.queries_analytics import (
        _oracle_hll_distinct_portable,
        q_hll_distinct_portable,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = {
            r["event_type"]: r["hll_estimate"]
            for r in q_hll_distinct_portable(spark, sf).collect()
        }
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS FROM '{sf}/events.parquet'")
        exact = dict(
            con.execute(
                "SELECT event_type, count(DISTINCT user_id::VARCHAR || ':' "
                "|| (epoch_us(ts) // 86400000000)::VARCHAR) "
                "FROM events GROUP BY 1"
            ).fetchall()
        )
        con.close()
        for et, est in got.items():
            n = exact[et]
            assert abs(est - n) / n < 0.40, (sf, et, est, n)  # 3×rsd(m=64)


def test_hll_registers_merge_like_shards(spark):
    """max-merge of per-shard registers == whole-data registers."""
    from pyspark.sql import functions as F

    from fink_science_spark.functions.hashing import hash64

    df = spark.range(0, 4000).select(
        (F.col("id") % 2).alias("shard"), F.col("id").cast("string").alias("k")
    )
    h = hash64(F.col("k"))
    w = F.shiftright(h, 6)
    s = w
    for sh in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, sh))
    rho = F.lit(55) - F.bit_count(s)
    base = df.select("shard", F.pmod(h, F.lit(64)).alias("reg"), rho.alias("rho"))
    whole = {
        (r["reg"]): r["mj"]
        for r in base.groupBy("reg").agg(F.max("rho").alias("mj")).collect()
    }
    shards = base.groupBy("shard", "reg").agg(F.max("rho").alias("mj")).collect()
    merged: dict = {}
    for r in shards:
        merged[r["reg"]] = max(merged.get(r["reg"], 0), r["mj"])
    assert merged == whole


def test_shard_manifest_checksum_partitioning_independent(spark):
    """The xor content checksum must be identical under adversarial
    repartitionings — the property that makes the manifest comparable
    across clusters and runs."""
    from fink_science_spark.queries_text import q_shard_manifest

    base = {
        r["shard"]: r["content_checksum"]
        for r in q_shard_manifest(spark, "/root/testdata/sf0.001").collect()
    }

    from unittest import mock

    from fink_science_spark.tables import _t as orig_t

    def shuffled_t(s, d, name):
        df = orig_t(s, d, name)
        return df.repartition(13) if name == "documents" else df

    with mock.patch("fink_science_spark.queries_text._t", shuffled_t):
        shuffled = {
            r["shard"]: r["content_checksum"]
            for r in q_shard_manifest(spark, "/root/testdata/sf0.001").collect()
        }
    assert shuffled == base


def test_long_array_literal_fast_and_fallback_paths_agree(spark):
    """The JVM bulk-fill literal must equal F.lit(np array) element-wise,
    and the numpy fallback must engage cleanly when no gateway exists."""
    import numpy as np

    from pyspark.sql import functions as F

    from fink_science_spark.operators.sketches import _long_array_literal

    vals = [0, 1, -1, (1 << 62), -(1 << 62), 123456789]
    fast = _long_array_literal(vals)
    slow = F.lit(np.asarray(vals, dtype=np.int64))
    df = spark.range(1).select(fast.alias("a"), slow.alias("b"))
    row = df.first()
    assert list(row["a"]) == vals == list(row["b"])

    # force the fallback by handing the builder a session stub with no
    # usable gateway (the Connect-mode shape)
    from unittest import mock

    class _NoGateway:
        @property
        def _jvm(self):
            raise RuntimeError("no py4j gateway")

    with mock.patch(
        "pyspark.sql.SparkSession.getActiveSession", staticmethod(_NoGateway)
    ):
        fb = _long_array_literal(vals)
    assert list(spark.range(1).select(fb.alias("a")).first()["a"]) == vals
