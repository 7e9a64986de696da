"""Empty-input robustness: every pair/join/signature operator must
return an empty, correctly-typed frame — not crash — when fed zero rows
(the first micro-batch of a quiet stream, a fully-filtered partition)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _queries_of(*modules):
    """The registered queries defined in the given query modules."""
    import __spark_entry__ as entrymod

    names = {f"fink_science_spark.{m}" for m in modules}
    return {
        n: q for n, q in entrymod.queries().items() if q.__module__ in names
    }


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, shingles array<string>")


def test_minhash_empty(spark, empty_docs):
    from fink_science_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        empty_docs, "doc_id", "shingles", num_hashes=8, bands=4,
        jaccard_threshold=0.5, shingles_col="shingles",
    )
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "jaccard"}


def test_simhash_empty(spark, empty_docs):
    from fink_science_spark.operators.dedup import simhash_pairs

    out = simhash_pairs(empty_docs, "doc_id", "shingles")
    assert out.count() == 0


def test_jaccard_empty(spark, empty_docs):
    from fink_science_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(empty_docs, "doc_id", "shingles")
    assert out.count() == 0


def test_asof_empty_right(spark):
    from fink_science_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, lt long")
    right = spark.createDataFrame([], "k long, rt long, v double")
    rows = asof_join(left, right, "k", "lt", "rt", ["v"]).collect()
    assert len(rows) == 1 and rows[0]["asof_v"] is None


def test_nearest_join_sky_empty_left(spark):
    from fink_science_spark.operators.spatial import nearest_join_sky

    left = spark.createDataFrame([], "lid long, ra double, dec double")
    right = spark.createDataFrame([(1, 10.0, 5.0)], "rid long, ra double, dec double")
    out = nearest_join_sky(
        left, right, "lid", "ra", "dec", "rid", "ra", "dec", radius_deg=5.0
    )
    assert out.count() == 0


def test_cosine_topk_blocked_empty_corpus(spark):
    from fink_science_spark.operators.similarity import cosine_topk_blocked

    corpus = spark.createDataFrame([], "cid long, cv array<double>")
    queries = spark.createDataFrame([(1, [1.0, 0.0])], "qid long, qv array<double>")
    out = cosine_topk_blocked(corpus, queries, "cid", "cv", "qid", "qv", k=3)
    assert out.count() == 0


def test_service_xmatch_no_matches(spark):
    import pandas as pd

    from fink_science_spark.operators.remote import service_xmatch

    def transport(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": [], "match_name": [], "dist": []}).astype(
            {"id": "int64", "match_name": "string", "dist": "float64"}
        )

    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, c double")
    out = service_xmatch(df, "id", ["c"], transport).orderBy("id").collect()
    assert [r["xmatch"] for r in out] == ["Unknown", "Unknown"]
    assert all(r["xmatch_dist"] is None for r in out)


def test_trapezoid_single_point(spark):
    from fink_science_spark.functions.arrays import trapezoid_integral

    df = spark.createDataFrame([([1.0], [2.0])], "t array<double>, v array<double>")
    (got,) = df.select(trapezoid_integral("t", "v").alias("x")).collect()[0]
    assert got == 0.0


def test_rnn_apply_empty(spark):
    from fink_science_spark.operators.models import rnn_apply

    df = spark.createDataFrame([], "x double, d double")
    out = rnn_apply(
        df, [(F.col("x"), F.col("d"), F.lit(False))], "p"
    )
    assert out.count() == 0
    assert "p" in out.columns and "__h0_0" not in out.columns


def test_equal_area_pixel_null_safe(spark):
    """NULL coordinates must produce NULL pixels, not crash or fold to a
    default cell (a dropped-GPS row must not pollute pixel statistics)."""
    from fink_science_spark.operators.spatial import equal_area_pixel

    df = spark.createDataFrame(
        [(None, None), (10.0, -90.0), (359.999, 90.0)],
        "ra double, dec double",
    )
    ix, iy, pix = equal_area_pixel(F.col("ra"), F.col("dec"), 8)
    rows = df.select(pix.alias("pix")).collect()
    assert rows[0]["pix"] is None
    assert rows[1]["pix"] is not None and rows[2]["pix"] is not None
    # boundary clamp: dec=+90 / ra→360 stay inside the grid
    assert 0 <= rows[1]["pix"] < 128 and 0 <= rows[2]["pix"] < 128


def test_minhash_hashed_band_keys_empty(spark, empty_docs):
    from fink_science_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        empty_docs, "doc_id", "shingles", num_hashes=8, bands=4,
        hashed_band_keys=True,
    )
    assert out.count() == 0


def test_cosine_pairs_bucketed_capped_empty(spark):
    from fink_science_spark.operators.similarity import cosine_pairs_bucketed

    df = spark.createDataFrame([], "id long, v array<double>, b long")
    out = cosine_pairs_bucketed(
        df, "id", "v", bucket_col=F.col("b"), threshold=0.5, max_bucket=4
    )
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "cosr"}


def test_http_transport_empty_batch():
    """A zero-row position batch must short-circuit to an empty typed
    frame without issuing any HTTP request."""
    import pandas as pd

    from fink_science_spark.operators.remote import http_post_transport

    calls = []

    def post(*a, **k):  # pragma: no cover - must never run
        calls.append(1)
        raise AssertionError("no request expected for an empty batch")

    tr = http_post_transport("http://example.invalid", "ra", "dec", post=post)
    out = tr(
        pd.DataFrame(
            {"id": pd.Series(dtype="int64"), "ra": [], "dec": []}
        )
    )
    assert len(out) == 0 and not calls
    assert list(out.columns) == ["id", "match_name", "dist"]


# --------------------------------------------------------------------------
# Sketch family (round-3 sixth wave)
# --------------------------------------------------------------------------


def test_bloom_build_empty_keys(spark):
    """Zero build keys → all-zero bitset → every probe is negative (an
    empty dim prunes the whole fact side, which the join then confirms)."""
    from fink_science_spark.operators.sketches import (
        bloom_might_contain,
        build_bloom_bitset,
    )

    empty = spark.createDataFrame([], "k long")
    bits = build_bloom_bitset(empty, "k", 1024)
    assert all(b == 0 for b in bits)
    probe = spark.range(0, 100).withColumnRenamed("id", "k")
    assert probe.filter(bloom_might_contain("k", bits, 1024)).count() == 0


def test_histogram_quantiles_empty(spark):
    from fink_science_spark.operators.sketches import histogram_quantiles

    empty = spark.createDataFrame([], "g string, v double")
    out = histogram_quantiles(empty, "g", "v")
    assert out.count() == 0
    assert set(out.columns) == {"g", "n", "p50", "p90", "p99"}


def test_heavy_hitters_empty_corpus(spark):
    from fink_science_spark.operators.sketches import heavy_hitters

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = heavy_hitters(empty, "text")
    assert out.count() == 0
    assert set(out.columns) == {"token", "cnt", "share"}


def test_heavy_hitters_null_and_blank_text(spark):
    """NULL text rows and all-space docs must not crash the Arrow
    candidate pass or skew the exact counts."""
    import pandas as pd

    from fink_science_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["a a a a", None, "   ", "a b"],
            }
        )
    )
    rows = {r["token"]: r["cnt"] for r in heavy_hitters(df, "text", m=3).collect()}
    assert rows == {"a": 5}


def test_ppjoin_empty(spark, empty_docs):
    from fink_science_spark.operators.dedup import jaccard_ppjoin_pairs

    out = jaccard_ppjoin_pairs(empty_docs, "doc_id", "shingles")
    assert out.count() == 0


def test_dup_span_profile_short_docs(spark):
    """Docs shorter than the 5-gram window produce n_grams=0, frac 0.0."""
    import fink_science_spark.queries_ext10 as x
    from fink_science_spark.queries_ext import _doc_tokens

    # monkeypatch-free: drive the query on a temp dir with tiny docs
    import os
    import tempfile

    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["one two", "a b c d e f g a b c d e f g"],
                "lang": ["en", "en"],
                "source": ["s", "s"],
                "n_chars": [7, 27],
            }
        ).to_parquet(os.path.join(d, "documents.parquet"))
        out = {r["doc_id"]: r.asDict() for r in x.q_dup_span_profile(spark, d).collect()}
    assert out[1]["n_grams"] == 0 and out[1]["dup_frac"] == 0.0
    assert out[1]["longest_dup_tokens"] == 0
    # doc 2 repeats its 7-token phrase but only WITHIN itself → not
    # corpus-duplicated (cross-doc metric), so zero as well
    assert out[2]["n_dup"] == 0


def test_semantic_dedup_drops_planted_clone(spark):
    """A vector and its exact clone (higher id) land in the same cell;
    the clone must be dropped, the original kept."""
    import numpy as np

    from fink_science_spark.operators.similarity import train_ivf_centroids
    from fink_science_spark.queries_ext10 import _SEM_TAU

    assert _SEM_TAU < 1.0
    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(32)]) for i in range(20)]
    vecs.append((100, list(vecs[0][1])))  # exact clone of id 0
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    # miniature inline SemDeDup on a 2-cell codebook
    import fink_science_spark.queries_ext10 as x
    from unittest import mock

    trained = train_ivf_centroids(
        df.select(df.vec_id.alias("cid"), df.embedding.alias("cv")),
        "cid", "cv", n_centroids=2, rounds=1,
    )
    with mock.patch(
        "fink_science_spark.queries_ext3._ivf_codebook",
        lambda _s, _d: trained,
    ), mock.patch(
        "fink_science_spark.queries._t", lambda _s, _d, _n: df
    ):
        out = {r["vec_id"]: r for r in x.q_semantic_dedup(spark, "unused").collect()}
    # id 0 has no earlier neighbor, so it is always kept; its clone
    # shares the cell and must be dropped
    assert out[0]["kept"] is True
    assert out[100]["kept"] is False
    assert out[100]["cell"] == out[0]["cell"]


def test_image_resize_pool_empty(spark):
    from fink_science_spark.operators.multimodal import image_resize_pool

    empty = spark.createDataFrame([], "doc_id long, blob binary")
    out = image_resize_pool(empty, "doc_id", "blob")
    assert out.count() == 0
    assert out.columns == ["doc_id", "thumb", "thumb_mean"]


def test_skyline_kernel_empty(spark):
    from fink_science_spark.queries_ext12 import _skyline_kernel

    empty = spark.createDataFrame([], "p_partkey long, price double, size long")
    out = empty.mapInPandas(
        _skyline_kernel, schema="p_partkey long, price double, size long"
    )
    assert out.count() == 0


def test_median_bracket_empty(spark, tmp_path):
    """ADVICE r3: an empty lineitem table must yield (n=0, median=NULL),
    not a driver TypeError on float(None) from the stats collect."""
    from fink_science_spark.queries_ext12 import q_median_bracket

    d = str(tmp_path / "mb_empty")
    spark.createDataFrame(
        [], "l_extendedprice double"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    rows = q_median_bracket(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 0 and rows[0]["median"] is None


def test_wave14_queries_empty(spark, tmp_path):
    """Every wave-14 query must return an empty (or zero-count) frame on
    empty inputs — none of them may crash on a null stats row."""
    d = str(tmp_path / "w14_empty")
    schemas = {
        "documents": "doc_id long, text string, lang string, source string,"
        " n_chars long",
        "events": "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
        "orders": "o_orderkey long, o_custkey long, o_totalprice double",
        "part": "p_partkey long, p_name string",
        "lineitem": "l_orderkey long, l_partkey long, l_suppkey long",
        "customer": "c_custkey long",
        "supplier": "s_suppkey long",
    }
    for t, s in schemas.items():
        spark.createDataFrame([], s).write.mode("overwrite").parquet(
            f"{d}/{t}.parquet"
        )
    for name, q in _queries_of("queries_ext13").items():
        out = q(spark, d)
        if name == "fk_integrity_audit":
            # the audit reports one row per FK edge even on empty tables
            rows = out.collect()
            assert len(rows) == 4 and all(r["n_rows"] == 0 for r in rows)
        else:
            assert out.count() == 0, name


def test_wave14_queries_degenerate_constant_inputs(spark, tmp_path):
    """ANSI-mode fuzz for waves 14-15: constant values (sigma = 0,
    zero-variance ACF series, zero-variance Welch cohorts), single-row
    cohorts, and empty-text documents must not DIVIDE_BY_ZERO — the
    crash class the round-3 fuzz pass established."""
    import datetime

    import fink_science_spark.queries_ext13 as x

    d = str(tmp_path / "w14_degenerate")
    base = datetime.datetime(2024, 1, 1)
    # constant value; 'click' cohort has 3 rows, 'purchase' exactly 1
    ev = [
        (i, base + datetime.timedelta(hours=i), 1, "click", 5.0, "{}")
        for i in range(3)
    ] + [(99, base, 2, "purchase", 5.0, "{}")]
    spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    # empty-text documents -> every dl = 0 -> avgdl = 0
    spark.createDataFrame(
        [(i, "", "en", "web", 0) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # calibration: all scores 0.5, bin 5, zero positives (5.0 > 5.0 false)
    rows = x.q_calibration_bins(spark, d).collect()
    assert len(rows) == 1 and rows[0]["bin"] == 5
    assert rows[0]["mean_score"] == 0.5 and rows[0]["n_pos"] == 0
    # welch: the 1-row cohort is dropped -> no (a, b) pair -> empty
    assert x.q_ab_welch_ttest(spark, d).count() == 0
    # acf: constant daily series -> den = 0 -> NULL acf, no crash
    for r in x.q_acf_lags(spark, d).collect():
        assert r["acf"] is None
    # bm25 / rrf: all-empty corpus text -> no matches, no crash
    assert x.q_bm25_topk(spark, d).count() == 0
    assert x.q_rrf_fusion(spark, d).count() == 0


def test_welch_zero_variance_cohorts_yield_null_stats(spark, tmp_path):
    """Two >=2-row cohorts with CONSTANT equal values: means defined,
    t and dof NULL (0/0 guarded), no ANSI crash."""
    import datetime

    from fink_science_spark.queries_ext13 import q_ab_welch_ttest

    d = str(tmp_path / "welch_const")
    base = datetime.datetime(2024, 1, 1)
    ev = [
        (i, base, 1, t, 5.0, "{}")
        for i, t in enumerate(["click", "click", "purchase", "purchase"])
    ]
    spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    rows = q_ab_welch_ttest(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["mean_a"] == 5.0 and r["mean_b"] == 5.0
    assert r["t_stat"] is None and r["welch_dof"] is None


def test_wave16_wave17_queries_empty(spark, tmp_path):
    """Every wave-16/17 query must survive fully-empty inputs — no ANSI
    crash on a null stats row, and the expected frame shape: empty for
    row-producing queries, a single all-null/zero row for the global
    scalar reductions."""
    d = str(tmp_path / "w16_empty")
    schemas = {
        "region": "r_regionkey int, r_name string",
        "nation": "n_nationkey int, n_name string, n_regionkey int",
        "customer": "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double",
        "supplier": "s_suppkey long, s_name string, s_nationkey int,"
        " s_acctbal double",
        "part": "p_partkey long, p_name string, p_brand string,"
        " p_type string, p_size int, p_retailprice double",
        "orders": "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
        "lineitem": "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
        "documents": "doc_id long, text string, lang string,"
        " source string, n_chars long",
    }
    for t, s in schemas.items():
        spark.createDataFrame([], s).write.mode("overwrite").parquet(
            f"{d}/{t}.parquet"
        )
    one_null_row = {"small_qty_revenue", "disjunctive_revenue",
                    "zipf_skew_fit"}
    for name, q in _queries_of(
        "queries_ext14", "queries_ext15", "queries_ext16"
    ).items():
        out = q(spark, d)
        if name in one_null_row:
            rows = out.collect()
            assert len(rows) == 1, name
        elif name == "partition_skew_report":
            rows = out.collect()
            assert len(rows) == 3 and all(r["n_keys"] == 0 for r in rows)
        else:
            assert out.count() == 0, name


def test_wave16_wave17_degenerate_constant_inputs(spark, tmp_path):
    """ANSI fuzz for waves 16/17, the crash classes the empty sweep
    cannot reach: zero total revenue (market_share ratio), a single
    distinct key (zipf den_x = 0), and a perfectly uniform key
    distribution (zipf den_y = 0) must yield NULL, never
    DIVIDE_BY_ZERO."""
    import datetime

    from fink_science_spark.queries_ext14 import q_market_share
    from fink_science_spark.queries_ext15 import q_zipf_skew_fit

    od = datetime.datetime(1996, 1, 1)

    # --- market_share: every price 0.00 -> total_micro = 0 ---
    d1 = str(tmp_path / "zero_rev")
    spark.createDataFrame(
        [(0, "ASIA")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{d1}/region.parquet")
    spark.createDataFrame(
        [(0, "NATION_5", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(f"{d1}/nation.parquet")
    spark.createDataFrame(
        [(1, 0)], "c_custkey long, c_nationkey int"
    ).write.mode("overwrite").parquet(f"{d1}/customer.parquet")
    spark.createDataFrame(
        [(10, 0)], "s_suppkey long, s_nationkey int"
    ).write.mode("overwrite").parquet(f"{d1}/supplier.parquet")
    spark.createDataFrame(
        [(100, 1, od)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.mode("overwrite").parquet(f"{d1}/orders.parquet")
    spark.createDataFrame(
        [(100, 10, 0.0, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double",
    ).write.mode("overwrite").parquet(f"{d1}/lineitem.parquet")
    rows = q_market_share(spark, d1).collect()
    assert len(rows) == 1
    assert rows[0]["mkt_share"] is None and rows[0]["total_revenue"] == 0.0

    # --- zipf: one distinct key -> den_x = 0 -> all-NULL fit ---
    d2 = str(tmp_path / "one_key")
    spark.createDataFrame(
        [(1, 7)] * 5, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(f"{d2}/lineitem.parquet")
    r = q_zipf_skew_fit(spark, d2).collect()[0]
    assert r["n"] == 1 and r["slope"] is None and r["r2"] is None

    # --- zipf: uniform counts -> den_y = 0 -> slope 0, r2 NULL ---
    d3 = str(tmp_path / "uniform")
    spark.createDataFrame(
        [(i, k) for k in range(4) for i in range(3)],
        "l_orderkey long, l_partkey long",
    ).write.mode("overwrite").parquet(f"{d3}/lineitem.parquet")
    r = q_zipf_skew_fit(spark, d3).collect()[0]
    assert r["n"] == 4 and r["slope"] == 0.0 and r["r2"] is None
