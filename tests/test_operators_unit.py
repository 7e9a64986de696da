"""Focused unit tests for operator edge semantics the parity suite's
fixed datasets may not exercise: as-of tie handling, sexagesimal
conversion, the catalog upsert, and the enrichment pipeline order."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_asof_tie_matches_equal_timestamp(spark):
    from fink_science_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "k long, lt long"
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 150, 11.0), (2, 60, 12.0)], "k long, rt long, v double"
    )
    out = asof_join(left, right, "k", "lt", "rt", ["v"]).orderBy("k", "lt")
    rows = [(r["k"], r["lt"], r["asof_v"], r["asof_ts"]) for r in out.collect()]
    # lt=100 ties rt=100 → matches (<= semantics); lt=200 takes rt=150;
    # k=2 lt=50 has no right row at or before → nulls
    assert rows == [(1, 100, 10.0, 100), (1, 200, 11.0, 150), (2, 50, None, None)]


def test_asof_inner_drops_unmatched(spark):
    from fink_science_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5), (1, 500)], "k long, lt long")
    right = spark.createDataFrame([(1, 100, 1.0)], "k long, rt long, v double")
    out = asof_join(left, right, "k", "lt", "rt", ["v"], how="inner")
    assert [(r["lt"], r["asof_v"]) for r in out.collect()] == [(500, 1.0)]


def test_sexagesimal_to_degrees(spark):
    from fink_science_spark.sources.catalogs import sexagesimal_to_degrees

    df = spark.createDataFrame(
        [("12 30 00.0", "-45 30 00.0"), ("00 00 00.0", "00 00 00.0"),
         ("23 59 60.0", "+89 59 60.0")],
        "ra string, dec string",
    )
    ra, dec = sexagesimal_to_degrees("ra", "dec")
    rows = df.select(ra.alias("rad"), dec.alias("decd")).collect()
    assert rows[0]["rad"] == 187.5 and rows[0]["decd"] == -45.5
    assert rows[1]["rad"] == 0.0 and rows[1]["decd"] == 0.0
    assert rows[2]["rad"] == 360.0 and rows[2]["decd"] == 90.0


def test_catalog_upsert_semantics(spark):
    from fink_science_spark.sources.catalogs import CatalogRegistry

    reg = CatalogRegistry(spark)
    reg.register_df(
        "cat", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    merged = reg.upsert(
        "cat", spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string"), "k"
    )
    got = sorted((r["k"], r["v"]) for r in merged.collect())
    assert got == [(1, "a"), (2, "B"), (3, "C")]


def test_connected_components_known_graph(spark):
    from fink_science_spark.operators.graph import connected_components

    # chain 1-2-3-4, triangle 10-11-12, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_diameter_guard(spark):
    import pytest as _pytest

    from fink_science_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, driver_threshold=0)


def test_connected_components_chain_logarithmic_rounds(spark):
    """Adversarial diameter: a 64-node chain must converge in O(log n)
    star-contraction rounds, not O(diameter) label-propagation rounds."""
    from fink_science_spark.operators.graph import connected_components

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            chain, shuffle_partitions=4, driver_threshold=0
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # diameter is 63; star contraction must finish way below that
    assert connected_components.last_rounds <= 10, (
        connected_components.last_rounds
    )


def test_enrich_pipeline_chains_outputs(spark):
    from fink_science_spark.operators.enrich import EnrichModule, enrich_pipeline

    df = spark.createDataFrame([(1.0,), (10.0,)], "x double")
    m1 = EnrichModule(name="double", output_col="y", kernel=F.col("x") * 2)
    # later module consumes the earlier module's output — the chained
    # science-pipeline property
    m2 = EnrichModule(
        name="flag",
        output_col="big",
        kernel=F.col("y") > 10,
        prefilter=F.col("x") > 0,
        default=False,
    )
    out = enrich_pipeline(df, [m1, m2]).orderBy("x").collect()
    assert [(r["y"], r["big"]) for r in out] == [(2.0, False), (20.0, True)]


def test_nearest_join_sky_polar_caps(spark):
    """All-sky completeness: points at |dec| ~ 89 (including RA wrap)
    must match exactly what a brute-force cross-join 1-NN returns —
    the grid alone cannot guarantee capture beyond dec_cap."""
    import itertools
    import math

    from fink_science_spark.operators.spatial import nearest_join_sky

    # clustered near both poles + RA wrap cases + equatorial controls
    lefts = [
        (1, 10.0, 89.2), (2, 350.0, 88.9), (3, 181.0, -89.5),
        (4, 0.5, 89.9), (5, 120.0, 0.0), (6, 200.0, -45.0),
        (7, 90.0, 89.0),
    ]
    rights = [
        (100, 190.0, 89.3), (101, 355.0, 88.7), (102, 2.0, -89.4),
        (103, 179.0, 89.8), (104, 121.0, 0.5), (105, 201.0, -44.5),
        (106, 271.0, 89.1),
    ]
    ldf = spark.createDataFrame(lefts, "lid long, ra double, dec double")
    rdf = spark.createDataFrame(rights, "rid long, ra double, dec double")
    radius = 3.0

    def hav(ra1, dec1, ra2, dec2):
        dphi = math.radians(dec2 - dec1)
        dlam = math.radians(ra2 - ra1)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(math.radians(dec1))
            * math.cos(math.radians(dec2))
            * math.sin(dlam / 2) ** 2
        )
        return math.degrees(2 * math.asin(math.sqrt(a)))

    expected = {}
    for (lid, lra, ldec), (rid, rra, rdec) in itertools.product(lefts, rights):
        d = hav(lra, ldec, rra, rdec)
        if d <= radius and (
            lid not in expected or (d, rid) < expected[lid][1:]
        ):
            expected[lid] = (rid, d, rid)
    expected = {k: v[0] for k, v in expected.items()}

    got = {
        r["lid"]: r["rid"]
        for r in nearest_join_sky(
            ldf, rdf, "lid", "ra", "dec", "rid", "ra", "dec",
            radius_deg=radius,
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_nearest_join_sky_polar_ra_wrap_against_cross_join(spark):
    """Randomized polar stress: 40 x 40 points at |dec| in [85, 90) with
    uniform RA; engine result must equal the cross-join ground truth."""
    import itertools
    import math

    from fink_science_spark.operators.spatial import nearest_join_sky

    def lcg(seed):
        s = seed
        while True:
            s = (s * 1103515245 + 12345) % (2**31)
            yield s / 2**31

    g = lcg(7)
    lefts = [
        (i, next(g) * 360.0, (85.0 + next(g) * 4.9) * (1 if next(g) < 0.5 else -1))
        for i in range(40)
    ]
    rights = [
        (1000 + i, next(g) * 360.0,
         (85.0 + next(g) * 4.9) * (1 if next(g) < 0.5 else -1))
        for i in range(40)
    ]
    ldf = spark.createDataFrame(lefts, "lid long, ra double, dec double")
    rdf = spark.createDataFrame(rights, "rid long, ra double, dec double")
    radius = 2.0

    def hav(ra1, dec1, ra2, dec2):
        dphi = math.radians(dec2 - dec1)
        dlam = math.radians(ra2 - ra1)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(math.radians(dec1))
            * math.cos(math.radians(dec2))
            * math.sin(dlam / 2) ** 2
        )
        return math.degrees(2 * math.asin(math.sqrt(a)))

    expected = {}
    for (lid, lra, ldec), (rid, rra, rdec) in itertools.product(lefts, rights):
        d = hav(lra, ldec, rra, rdec)
        if d <= radius:
            cur = expected.get(lid)
            if cur is None or (d, rid) < cur:
                expected[lid] = (d, rid)
    expected = {k: v[1] for k, v in expected.items()}

    got = {
        r["lid"]: r["rid"]
        for r in nearest_join_sky(
            ldf, rdf, "lid", "ra", "dec", "rid", "ra", "dec",
            radius_deg=radius,
        ).collect()
    }
    assert got == expected


def test_nearest_join_sky_zoned_all_latitudes_against_cross_join(spark):
    """Randomized all-latitude stress for the ZONED grid (per-dec-zone RA
    block widths): 60 x 60 points with dec spanning the full sphere —
    equator, mid-latitudes, the dec_cap boundary region, and the caps —
    at a wide radius where the asin RA bound exceeds radius/cos(dec).
    Engine result must equal the cross-join ground truth."""
    import itertools
    import math

    from fink_science_spark.operators.spatial import nearest_join_sky

    def lcg(seed):
        s = seed
        while True:
            s = (s * 1103515245 + 12345) % (2**31)
            yield s / 2**31

    g = lcg(99)
    lefts = [
        (i, next(g) * 360.0, -90.0 + next(g) * 180.0) for i in range(60)
    ]
    rights = [
        (1000 + i, next(g) * 360.0, -90.0 + next(g) * 180.0)
        for i in range(60)
    ]
    ldf = spark.createDataFrame(lefts, "lid long, ra double, dec double")
    rdf = spark.createDataFrame(rights, "rid long, ra double, dec double")
    radius = 12.0  # wide: stresses the asin margin at mid/high dec

    def hav(ra1, dec1, ra2, dec2):
        dphi = math.radians(dec2 - dec1)
        dlam = math.radians(ra2 - ra1)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(math.radians(dec1))
            * math.cos(math.radians(dec2))
            * math.sin(dlam / 2) ** 2
        )
        return math.degrees(2 * math.asin(math.sqrt(min(1.0, a))))

    expected = {}
    for (lid, lra, ldec), (rid, rra, rdec) in itertools.product(lefts, rights):
        d = hav(lra, ldec, rra, rdec)
        if d <= radius:
            cur = expected.get(lid)
            if cur is None or (d, rid) < cur:
                expected[lid] = (d, rid)
    expected = {k: v[1] for k, v in expected.items()}

    got = {
        r["lid"]: r["rid"]
        for r in nearest_join_sky(
            ldf, rdf, "lid", "ra", "dec", "rid", "ra", "dec",
            radius_deg=radius,
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_trained_ivf_recall_vs_brute_force(spark, sf_smoke):
    """Trained IVF (hash init + 2 Lloyd rounds, nprobe=2 of 8 cells) must
    recall well above the 2/8 random-cell-coverage baseline against the
    exact brute-force top-3. Deterministic end to end."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    ivf = {
        (r["qid"], r["cid"])
        for r in queries["ann_ivf_topk"](spark, sf_smoke).collect()
    }
    brute = {
        (r["qid"], r["cid"])
        for r in queries["ann_cosine_topk"](spark, sf_smoke).collect()
        if r["rank"] <= 3
    }
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.4, recall


def test_frame_samples_byte_semantics_on_unicode(spark):
    """Frame sampling slices UTF-8 BYTES, not characters: multi-byte text
    must produce byte-based frame counts/sizes (the round-1 driver
    snapshot's hash mismatches were byte-vs-char divergence)."""
    from fink_science_spark.operators.multimodal import sample_frames

    texts = [
        (1, "héllo wörld " * 12),          # 2-byte chars
        (2, "日本語のテキスト" * 16),        # 3-byte chars
        (3, "emoji 🚀🔭✨ " * 10),           # 4-byte chars
        (4, "plain ascii " * 10),
        (5, ""),                             # empty → no frames
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    got = {
        r["doc_id"]: (r["n_frames"], r["sampled_bytes"])
        for r in sample_frames(df, "doc_id", "blob", frame_size=32,
                               stride=64, max_frames=8)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_frames"),
             F.sum(F.length("frame_bytes")).alias("sampled_bytes"))
        .collect()
    }
    expected = {}
    for doc_id, text in texts:
        nbytes = len(text.encode("utf-8"))
        frames = [
            min(32, nbytes - i * 64) for i in range(8) if nbytes - i * 64 > 0
        ]
        if frames:
            expected[doc_id] = (len(frames), sum(frames))
    assert got == expected


def test_blob_features_on_unicode_text(spark):
    """Blob feature extraction over md5(text) blobs must agree with a
    pure-Python recomputation on non-ASCII input (md5 of the UTF-8
    encoding in both engines)."""
    import hashlib

    from fink_science_spark.operators.multimodal import extract_blob_features

    texts = [(1, "crème brûlée 🍮"), (2, "γειά σου κόσμε"), (3, "abc")]
    df = spark.createDataFrame(texts, "doc_id long, text string").select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    got = {
        r["doc_id"]: (r["byte_len"], r["first_byte"], r["checksum"])
        for r in extract_blob_features(df, "doc_id", "blob").collect()
    }
    expected = {}
    for doc_id, text in texts:
        b = hashlib.md5(text.encode("utf-8")).digest()
        expected[doc_id] = (len(b), b[0], sum(b[:64]) % 997)
    assert got == expected


def test_gzip_codec_roundtrip(spark):
    """The 'gzip' codec must gunzip real gzip payloads (stdlib compress →
    codec decompress) and fingerprint the ORIGINAL bytes — including
    non-ASCII payloads where char length != byte length."""
    import gzip
    import hashlib

    from fink_science_spark.operators.multimodal import extract_blob_features

    texts = [(1, "crème brûlée 🍮"), (2, "a" * 1000), (3, "")]
    rows = [(i, gzip.compress(t.encode("utf-8"), mtime=0)) for i, t in texts]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: (r["payload_len"], r["payload_md5"])
        for r in extract_blob_features(df, "doc_id", "blob", codec="gzip").collect()
    }
    expected = {
        i: (len(t.encode("utf-8")), hashlib.md5(t.encode("utf-8")).hexdigest())
        for i, t in texts
    }
    assert got == expected


def test_image_matrix_stats_gzip_input(spark):
    """gzip_input=True must produce identical statistics to feeding the
    decompressed pixel matrix directly (the gunzip-FITS-stamp shape)."""
    import gzip

    from fink_science_spark.operators.multimodal import image_matrix_stats

    px = bytes(range(16))  # 4x4 row-major matrix
    plain = spark.createDataFrame([(1, px)], "id long, blob binary")
    packed = spark.createDataFrame(
        [(1, gzip.compress(px, mtime=0))], "id long, blob binary"
    )
    a = image_matrix_stats(plain, "id", "blob").collect()[0]
    b = image_matrix_stats(packed, "id", "blob", gzip_input=True).collect()[0]
    assert a == b
    assert a["px_max"] == 15


def test_forest_forward_matches_scalar_walk():
    """Vectorized np.where forest evaluation must equal a plain scalar
    tree walk for every row."""
    import numpy as np

    from fink_science_spark.operators.models import FOREST, forest_forward

    rng_vals = [
        [1.0, 24.0, 25.0, 50.0],   # x1 incl. exact threshold hit
        [0.5, 0.9, 2.4, 9.9],      # x2
        [0.0, 0.25, 0.55, 1.0],    # x3
        [0.1, 0.35, 0.45, 0.8],    # x4
    ]
    xs = [np.array(v, dtype=np.float64) for v in rng_vals]

    def walk(nd, row):
        if not isinstance(nd, tuple):
            return float(nd)
        f, t, lo, hi = nd
        return walk(lo, row) if row[f] <= t else walk(hi, row)

    got = forest_forward(xs)
    for i in range(4):
        row = [v[i] for v in rng_vals]
        exp = sum(walk(tr, row) for tr in FOREST) / len(FOREST)
        assert got[i] == exp


def test_incremental_minhash_matches_batch_restriction(spark):
    """Incremental pairs (new batch vs stored index) must equal the full
    batch LSH pair set restricted to cross-split pairs — the maintained
    index loses nothing vs recomputing the corpus."""
    from fink_science_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_index,
        minhash_lsh_pairs,
    )
    from fink_science_spark.queries_dedup import _MH_BANDS, _MH_NUM, _doc_shingles

    docs = _doc_shingles(spark, "/root/testdata/sf0.001")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)

    idx = minhash_band_index(corpus, "doc_id", "shingles", _MH_NUM, _MH_BANDS)
    inc = {
        (r["id_new"], r["id_corpus"], r["jaccard"])
        for r in incremental_minhash_pairs(
            idx, new, "doc_id", "shingles", _MH_NUM, _MH_BANDS,
            jaccard_threshold=0.5, corpus_sets=corpus,
        ).collect()
    }
    full = minhash_lsh_pairs(
        docs, "doc_id", tokens_col="shingles", num_hashes=_MH_NUM,
        bands=_MH_BANDS, jaccard_threshold=0.5, shingles_col="shingles",
    ).collect()
    cross = {
        (r["id_a"], r["id_b"], r["jaccard"]) if r["id_a"] % 10 == 0
        else (r["id_b"], r["id_a"], r["jaccard"])
        for r in full
        if (r["id_a"] % 10 == 0) != (r["id_b"] % 10 == 0)
    }
    assert inc == cross


def test_photometry_dc_roundtrip():
    """dc_mag of an un-subtracted source (difference flux == 0 edge via
    pure reference flux) must invert back to magnr; positive difference
    brightens (smaller magnitude)."""
    import math

    from fink_science_spark.functions.photometry import LN10_OVER_2P5

    # closed-form check of the formula constants (no Spark needed):
    # flux(m) = 10^(-0.4 m); mag(f) = -2.5 log10(f) must invert
    for m in (15.0, 17.3, 21.0):
        f = 10.0 ** (-0.4 * m)
        assert abs(-2.5 * math.log10(f) - m) < 1e-12
    assert abs(LN10_OVER_2P5 - math.log(10.0) / 2.5) < 1e-15


def test_connected_components_driver_path_matches_distributed(spark):
    """The small-graph driver union-find and the distributed star
    contraction must produce identical (node, component) maps."""
    from fink_science_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 2), (2, 9), (9, 5), (1, 7), (30, 31), (31, 32), (40, 40)],
        "id_a long, id_b long",
    )
    drv = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert connected_components.last_rounds == 0  # driver path taken
    dist = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert connected_components.last_rounds >= 1  # distributed path taken
    assert drv == dist
    assert (40, 40) in drv  # self-loop-only node maps to itself


def test_hg1g2_native_matches_arrow_kernel_and_truth(spark):
    """The native sufficient-statistics path and the Arrow-kernel path fit
    the same synthetic HG1G2 curve to the same parameters (up to the
    native path's 1e-6 quantization), and both recover the ground truth
    on noiseless data."""
    import math

    from fink_science_spark.operators.phase_curve import (
        hg1g2_basis,
        hg1g2_fit_native,
        hg1g2_fit_per_group,
    )

    h_true, g1_true, g2_true = 14.2, 0.25, 0.35
    alphas = [math.radians(3.0 + 0.9 * i) for i in range(30)]
    rows = []
    for a in alphas:
        p1, p2, p3 = hg1g2_basis(a)
        flux = g1_true * p1 + g2_true * p2 + (1 - g1_true - g2_true) * p3
        rows.append((1, a, h_true - 2.5 * math.log10(flux)))
    df = spark.createDataFrame(rows, "obj long, alpha double, mred double")

    nat = hg1g2_fit_native(df, ["obj"], "alpha", "mred", m0=h_true).first()
    ker = hg1g2_fit_per_group(df, ["obj"], "alpha", "mred").first()
    assert nat["n"] == ker["n"] == 30
    for got in (nat, ker):
        assert abs(got["h"] - h_true) < 1e-3
        assert abs(got["g1"] - g1_true) < 1e-2
        assert abs(got["g2"] - g2_true) < 1e-2
    assert abs(nat["h"] - ker["h"]) < 1e-3
    assert abs(nat["g1"] - ker["g1"]) < 1e-2
    assert abs(nat["g2"] - ker["g2"]) < 1e-2


def test_hg1g2_native_degenerate_group_yields_nulls(spark):
    """A single repeated phase angle makes the 3×3 system singular — the
    fit must emit NULL parameters, not crash or fabricate values."""
    from fink_science_spark.operators.phase_curve import hg1g2_fit_native

    df = spark.createDataFrame(
        [(1, 0.2, 15.0)] * 6, "obj long, alpha double, mred double"
    )
    row = hg1g2_fit_native(df, ["obj"], "alpha", "mred").first()
    assert row["n"] == 6
    assert row["h"] is None and row["g1"] is None and row["g2"] is None


def test_span_dedup_first_occurrence_wins(spark):
    """A doc that is an exact clone of an earlier doc loses ALL its spans
    (vanishes); a doc sharing only its first span keeps the rest."""
    from fink_science_spark.functions.text import tokens
    from fink_science_spark.operators.dedup import span_dedup_docs

    a = "one two three four five six"
    b = "one two three seven eight nine"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, b)], "doc_id long, text string"
    ).select("doc_id", tokens("text").alias("toks"))
    out = {
        r["doc_id"]: (r["n_kept"], r["dedup_text"])
        for r in span_dedup_docs(docs, "doc_id", "toks", span=3).collect()
    }
    assert out[1] == (2, a)
    assert 2 not in out  # exact clone fully removed
    assert out[3] == (1, "seven eight nine")  # shared first span dropped


def test_pcm8_codec_byte_semantics_on_unicode(spark):
    """pcm8 operates on BYTES: a multi-byte UTF-8 char contributes one
    sample per byte (the oracle's per-CHARACTER recompute only matches
    on ASCII corpora — this pins the byte contract the kernel owns)."""
    from fink_science_spark.operators.multimodal import (
        PCM_FRAME,
        extract_blob_features,
    )

    text = "héllo" * 11  # é = 2 bytes → 66 bytes from 55 chars
    raw = text.encode("utf-8")
    df = spark.createDataFrame([(1, bytearray(raw))], "doc_id long, blob binary")
    row = extract_blob_features(df, "doc_id", "blob", codec="pcm8").first()
    e = [(b - 128) ** 2 for b in raw]
    frames = [
        sum(e[i : i + PCM_FRAME]) for i in range(0, len(e), PCM_FRAME)
    ]
    assert row["n_samples"] == len(raw) == 66
    assert row["n_frames"] == len(frames)
    assert row["total_energy"] == sum(e)
    assert row["max_frame_energy"] == max(frames)


def test_ks_two_sample_matches_bruteforce(spark):
    """KS via the RANGE-window plan equals the textbook sup|F_a - F_b|
    computed pointwise in Python, including ties across samples."""
    from pyspark.sql import functions as F

    from fink_science_spark.operators.stats import ks_two_sample

    a = [1.0, 2.0, 2.0, 5.0, 9.0]
    b = [2.0, 3.0, 3.0, 9.0]
    rows = [("g", v, "a") for v in a] + [("g", v, "b") for v in b]
    df = spark.createDataFrame(rows, "grp string, v double, lab string")
    got = ks_two_sample(
        df, "grp", "v", F.col("lab") == "a", F.col("lab") == "b"
    ).first()

    pts = sorted(set(a + b))
    expect = max(
        abs(
            sum(x <= p for x in a) / len(a)
            - sum(x <= p for x in b) / len(b)
        )
        for p in pts
    )
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert abs(got["ks_stat"] - expect) < 1e-12


def test_dft_power_matches_numpy_fft(spark):
    """The unrolled fold equals |np.fft.fft(x)[k]|² for every k, and the
    empty-slice guard returns 0.0 (sequence(0,-1) would descend)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fink_science_spark.operators.stats import dft_power

    x = [3.0, -1.0, 4.0, 1.0, -5.0, 9.0, 2.0, -6.0]
    df = spark.createDataFrame([(x,), ([],)], "arr array<double>")
    cols = [dft_power(F.col("arr"), k, len(x)).alias(f"p{k}") for k in range(1, 4)]
    rows = df.select(*cols).collect()
    # np.fft sign convention: X_k = sum x_j * exp(-2πi jk/N); |X_k|² is
    # invariant under the conjugate, so the cos/sin fold matches directly.
    ref = np.abs(np.fft.fft(np.array(x))) ** 2
    for k in range(1, 4):
        assert abs(rows[0][f"p{k}"] - ref[k]) < 1e-9
        assert rows[1][f"p{k}"] == 0.0


def test_equal_area_pixel_uniform_occupancy_and_hierarchy(spark):
    """The Lambert grid's defining invariants: (1) equal solid angle per
    pixel — an isotropic point set lands ~uniformly across ALL pixels,
    including the polar rows a lat-lon grid would starve; (2) the
    arithmetic parent is consistent — all 4 children of a parent agree."""
    import math
    import random

    from pyspark.sql import functions as F

    from fink_science_spark.operators.spatial import (
        equal_area_pixel,
        parent_pixel,
    )

    rng = random.Random(7)
    pts = []
    for _ in range(20000):
        # isotropic: ra uniform, dec = asin(2u-1)
        ra = rng.random() * 360.0
        dec = math.degrees(math.asin(2 * rng.random() - 1))
        pts.append((ra, dec))
    df = spark.createDataFrame(pts, "ra double, dec double")
    nside = 4
    ix, iy, pix = equal_area_pixel(F.col("ra"), F.col("dec"), nside)
    d = df.select(
        ix.alias("ix"), iy.alias("iy"), pix.alias("pix"),
        parent_pixel(ix, iy, nside).alias("parent"),
    )
    counts = {r["pix"]: r["n"] for r in d.groupBy("pix").count()
              .withColumnRenamed("count", "n").collect()}
    npix = 2 * nside * nside
    assert set(counts) == set(range(npix))  # every pixel hit, poles included
    exp = 20000 / npix
    for pixid, n in counts.items():
        assert 0.5 * exp < n < 1.6 * exp, (pixid, n)
    # hierarchy: each parent has exactly 4 distinct children, ids in range
    fam = d.select("pix", "parent").distinct().groupBy("parent").count().collect()
    for r in fam:
        assert r["count"] == 4
        assert 0 <= r["parent"] < npix // 4


def test_rnn_pad_steps_hold_state(spark):
    """Packed-sequence semantics: appending pad steps must not change the
    score — the hidden state passes through unchanged."""
    from pyspark.sql import functions as F

    from fink_science_spark.operators.models import rnn_apply

    df = spark.createDataFrame([(1.0, 0.5, 2.0, 0.7)], "x1 double, d1 double, x2 double, d2 double")
    short = rnn_apply(
        df,
        [(F.col("x1"), F.col("d1"), F.lit(False)),
         (F.col("x2"), F.col("d2"), F.lit(False))],
        "p",
    ).select("p").collect()[0]["p"]
    padded = rnn_apply(
        df,
        [(F.col("x1"), F.col("d1"), F.lit(False)),
         (F.col("x2"), F.col("d2"), F.lit(False)),
         (F.lit(0.0), F.lit(0.0), F.lit(True)),
         (F.lit(0.0), F.lit(0.0), F.lit(True))],
        "p",
    ).select("p").collect()[0]["p"]
    assert short == padded


def test_rnn_matches_numpy_reference(spark):
    """The column recurrence equals a plain numpy loop with the same
    frozen weights (guards against silent weight/order drift)."""
    import math

    from pyspark.sql import functions as F

    from fink_science_spark.operators.models import (
        RNN_B, RNN_C, RNN_U, RNN_V, RNN_WD, RNN_WX, rnn_apply,
    )

    seq = [(0.8, 0.1), (0.2, 0.4), (-0.5, 0.9)]
    h = [0.0, 0.0]
    for x, d in seq:
        h = [
            math.atan(
                x * RNN_WX[j] + d * RNN_WD[j]
                + h[0] * RNN_U[j][0] + h[1] * RNN_U[j][1] + RNN_B[j]
            )
            for j in range(2)
        ]
    expect = 1.0 / (1.0 + math.exp(-(h[0] * RNN_V[0] + h[1] * RNN_V[1] + RNN_C)))
    df = spark.createDataFrame([(1,)], "k int")
    got = rnn_apply(
        df,
        [(F.lit(x), F.lit(d), F.lit(False)) for x, d in seq],
        "p",
    ).collect()[0]["p"]
    assert abs(got - expect) < 1e-12


def test_zorder_layout_clusters_row_groups(spark, tmp_path):
    """The point of the Morton key: after repartitionByRange +
    sortWithinPartitions on zkey, every output file's (u, v) bounding box
    is small in BOTH dimensions — so parquet min/max stats prune filters
    on EITHER column. A single-column sort leaves the other dimension
    unclustered (span ~ full range). Asserted from parquet footers."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fink_science_spark.functions.zorder import morton_key

    d = spark.range(4096).select(
        (F.col("id") % 64).alias("u"),
        (F.floor(F.col("id") / 64) * 17 % 64).alias("v"),
    )
    d = d.withColumn("zkey", morton_key(F.col("u"), F.col("v"), 6))

    def spans(path):
        out = []
        for f in glob.glob(str(path) + "/*.parquet"):
            md = pq.read_metadata(f)
            schema_names = md.schema.to_arrow_schema().names
            iu, iv = schema_names.index("u"), schema_names.index("v")
            for rg in range(md.num_row_groups):
                su = md.row_group(rg).column(iu).statistics
                sv = md.row_group(rg).column(iv).statistics
                out.append(
                    (su.max - su.min, sv.max - sv.min)
                )
        return out

    za = tmp_path / "zorder"
    d.repartitionByRange(16, "zkey").sortWithinPartitions("zkey").write.parquet(
        str(za)
    )
    ua = tmp_path / "usort"
    d.repartitionByRange(16, "u").sortWithinPartitions("u").write.parquet(
        str(ua)
    )
    z_spans = spans(za)
    u_spans = spans(ua)
    z_u = sum(s[0] for s in z_spans) / len(z_spans)
    z_v = sum(s[1] for s in z_spans) / len(z_spans)
    s_u = sum(s[0] for s in u_spans) / len(u_spans)
    s_v = sum(s[1] for s in u_spans) / len(u_spans)
    # z-order: BOTH dims clustered well below the full 0..63 range
    assert z_u < 32 and z_v < 32, (z_u, z_v)
    # single-column sort: its own dim tight, the other ~full range
    assert s_u < 16, s_u
    assert s_v > 48, s_v
    # and the z-order layout beats the single sort on the sum of spans
    assert z_u + z_v < s_u + s_v, (z_u, z_v, s_u, s_v)


def test_bpe_apply_overlap_safe(spark):
    """The double-space encoding makes string replace exact BPE greedy:
    'aaa' with merge (a,a) becomes [aa, a] — the middle symbol is
    consumed once, never shared by two overlapping matches (the classic
    ' a b a b ' bug)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("aaa",), ("aaaa",), ("ab",)], "s string")
    seq = F.concat(
        F.lit(" "),
        F.array_join(
            F.split(F.trim(F.regexp_replace(F.col("s"), "(.)", "$1 ")), " +"),
            "  ",
        ),
        F.lit(" "),
    )
    applied = df.select(
        "s",
        F.split(
            F.trim(F.replace(seq, F.lit(" a  a "), F.lit(" aa "))), " +"
        ).alias("toks"),
    )
    got = {r["s"]: list(r["toks"]) for r in applied.collect()}
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["ab"] == ["a", "b"]


def test_observation_metrics_match_direct_agg(spark):
    """df.observe (CollectMetrics) — free pipeline observability: the
    observed aggregates must equal a direct aggregation, without running
    the query twice."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    obs = Observation("stats")
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k")
    )
    direct = df.agg(F.count(F.lit(1)), F.sum("k")).collect()[0]
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n"] == direct[0] and got["sum_k"] == direct[1], got


def test_cosine_pairs_bucket_cap_drops_hot_bucket(spark):
    """Skew guard: a bucket above max_bucket contributes no pairs (one hot
    LSH cell can't go O(n²)); buckets at/below the cap are untouched."""
    from pyspark.sql import functions as F

    from fink_science_spark.operators.similarity import cosine_pairs_bucketed

    # bucket 1: 30 near-identical vectors (hot cell); bucket 2: 3 vectors
    rows = [(i, [1.0, 0.0, float(i) * 1e-4], 1) for i in range(30)]
    rows += [(100 + i, [0.0, 1.0, float(i) * 1e-4], 2) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, v array<double>, b long")

    def run(cap):
        out = cosine_pairs_bucketed(
            df, "id", "v", bucket_col=F.col("b"), threshold=0.99,
            max_bucket=cap,
        )
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    uncapped = run(None)
    capped = run(10)
    assert len(uncapped) == 30 * 29 // 2 + 3  # C(30,2) hot + C(3,2) cold
    assert capped == {(100, 101), (100, 102), (101, 102)}
    assert capped < uncapped


def test_text_kernels_survive_degenerate_text(spark):
    """Zero-token documents (empty / whitespace / punctuation-only /
    non-latin) must produce defined metrics, not ANSI DIVIDE_BY_ZERO —
    the repetition ratios previously threw on them."""
    from pyspark.sql import functions as F

    from fink_science_spark.functions.text import (
        lang_id,
        punct_ratio,
        repetition_metrics,
        rolling_fingerprint,
        stopword_ratio,
        token_count,
        tokens,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\t\n"), (3, "€ñ漢字 ¡hola!"), (4, "a")],
        "k long, text string",
    )
    t = tokens("text")
    rep = repetition_metrics(t)
    out = df.select(
        "k",
        token_count("text").alias("tc"),
        F.round(punct_ratio("text"), 4).alias("pr"),
        F.round(stopword_ratio(t), 4).alias("sr"),
        lang_id(t).alias("li"),
        rolling_fingerprint(t).alias("rf"),
        *[c.alias(n) for n, c in rep.items()],
    ).orderBy("k").collect()
    by_k = {r["k"]: r for r in out}
    for k in (0, 1, 2):
        assert by_k[k]["tc"] == 0
        assert by_k[k]["uniq_ratio"] == 0.0
        assert by_k[k]["top_token_ratio"] == 0.0
        assert by_k[k]["li"] == "und"
    assert by_k[3]["tc"] >= 1  # 'hola' survives the latinization
    assert by_k[4]["uniq_ratio"] == 1.0


def test_weighted_quantile_zero_weight_group_omitted(spark):
    """A group whose weights sum to zero has no defined quantile: it is
    omitted (previously an ANSI DIVIDE_BY_ZERO); groups with mass are
    unaffected."""
    from fink_science_spark.operators.aggregates import weighted_quantile

    df = spark.createDataFrame(
        [(1, 5.0, 0.0), (1, 7.0, 0.0), (2, 3.0, 2.0), (2, 9.0, 1.0)],
        "k long, v double, w double",
    )
    out = {r["k"]: r["wq50"] for r in
           weighted_quantile(df, ["k"], "v", "w", q=0.5).collect()}
    assert out == {2: 3.0}


def test_order_stats_constant_group_null_moments(spark):
    """Single-row and constant groups have zero variance: skew/kurt are
    NULL (previously ANSI DIVIDE_BY_ZERO), everything else well-defined."""
    from fink_science_spark.operators.aggregates import order_stats

    df = spark.createDataFrame(
        [("one", 5.0), ("const", 2.0), ("const", 2.0),
         ("spread", 1.0), ("spread", 3.0), ("spread", 8.0)],
        "k string, v double",
    )
    out = {r["k"]: r for r in order_stats(df, ["k"], "v").collect()}
    assert out["one"]["n"] == 1 and out["one"]["skew"] is None
    assert out["const"]["skew"] is None and out["const"]["kurt"] is None
    assert out["const"]["std"] == 0.0
    assert out["spread"]["skew"] is not None


def test_nearest_join_sky_polar_nan_band_regression(spark):
    """Radius 0.65°: zone arithmetic puts a zone's worst-case dec just
    past 90° with |cos| < sin(r/2), where an unguarded asin produced NaN
    ring counts → NULL join keys → silently dropped near-polar matches.
    The explicit cos ≤ 0 → one-cell branch must capture them all."""
    import itertools
    import math

    from fink_science_spark.operators.spatial import nearest_join_sky

    radius = 0.65
    lefts = [
        (i, (i * 37.0) % 360.0, 88.8 + 0.05 * i) for i in range(12)
    ]  # dec 88.8 .. 89.35 — inside the formerly-NaN band
    rights = [
        (100 + i, (i * 37.0 + 0.01) % 360.0, 88.8 + 0.05 * i + 0.001)
        for i in range(12)
    ]
    ldf = spark.createDataFrame(lefts, "lid long, ra double, dec double")
    rdf = spark.createDataFrame(rights, "rid long, ra double, dec double")

    def hav(ra1, dec1, ra2, dec2):
        dphi = math.radians(dec2 - dec1)
        dlam = math.radians(ra2 - ra1)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(math.radians(dec1))
            * math.cos(math.radians(dec2))
            * math.sin(dlam / 2) ** 2
        )
        return math.degrees(2 * math.asin(math.sqrt(min(1.0, a))))

    expected = {}
    for (li, lr, ld), (ri, rr, rd) in itertools.product(lefts, rights):
        d = hav(lr, ld, rr, rd)
        if d <= radius:
            cur = expected.get(li)
            if cur is None or (d, ri) < cur:
                expected[li] = (d, ri)
    expected = {k: v[1] for k, v in expected.items()}
    assert len(expected) == 12  # every point has a sub-radius partner

    got = {
        r["lid"]: r["rid"]
        for r in nearest_join_sky(
            ldf, rdf, "lid", "ra", "dec", "rid", "ra", "dec",
            radius_deg=radius,
        ).collect()
    }
    assert got == expected


def test_simhash_lane_capacity_enforced(spark):
    """A document with >= 2^16 tokens would overflow the packed vote
    lanes and silently corrupt its signature — the kernel must fail
    loudly instead; documents under the bound are unaffected."""
    import pytest as _pytest

    from fink_science_spark.operators.dedup import simhash_pairs

    big = [(1, [f"t{i}" for i in range(1 << 16)]),
           (2, [f"t{i}" for i in range(10)])]
    df = spark.createDataFrame(big, "id long, toks array<string>")
    # two loud paths guard this regime: the ANSI long-SUM overflow on the
    # high lanes fires for typical hash mixes, and the explicit
    # assert_true covers the adversarial low-lane-only carry where no
    # overflow occurs — either way the job FAILS rather than corrupting
    with _pytest.raises(Exception, match="vote-lane capacity|ARITHMETIC_OVERFLOW"):
        simhash_pairs(df, "id", "toks").collect()

    ok = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b"])], "id long, toks array<string>"
    )
    out = simhash_pairs(ok, "id", "toks").collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 0)]


def test_image_ahash_matches_reference(spark):
    """aHash kernel vs a pure-Python bit-for-bit reference on adversarial
    pixel payloads (all-equal pixels → no bit set; mean boundary strict)."""
    import numpy as np

    from fink_science_spark.operators.multimodal import image_ahash

    rng = np.random.RandomState(7)
    blobs = [bytes(rng.randint(0, 256, 64, dtype=np.uint8)) for _ in range(8)]
    blobs.append(bytes([5] * 64))            # constant image: sig == 0
    blobs.append(bytes(range(64)))           # ramp
    blobs.append(bytes([0] * 63 + [255]))    # single bright pixel
    rows = [(i, bytearray(b)) for i, b in enumerate(blobs)]
    df = spark.createDataFrame(rows, "asset_id long, blob binary")
    got = {
        r["asset_id"]: r["ahash"]
        for r in image_ahash(df, "asset_id", "blob").collect()
    }
    for i, b in enumerate(blobs):
        px = np.frombuffer(b, dtype=np.uint8).astype(float)
        mean = px.mean()
        want = sum(1 << j for j in range(60) if px[j] > mean)
        assert got[i] == want, i
    assert got[8] == 0


def test_triangle_hub_cap_drops_skew(spark):
    """A star hub above the degree cap must be excluded from triangle
    enumeration (the O(d²) skew guard), while triangles among normal
    vertices survive."""
    from fink_science_spark.queries_analytics import triangle_stats

    hub = 1000
    edges = [(1, 2), (2, 3), (1, 3)]  # one clean triangle
    edges += [(i, hub) for i in range(1, 100)]  # degree-99 hub
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    row = triangle_stats(df, max_degree=64).collect()[0]
    # the hub's 99 edges are dropped: no hub triangles, wedges only from
    # the surviving 3-cycle (3 vertices of degree 2 -> 3 wedges)
    assert row["triangles"] == 1
    assert row["wedges"] == 3
    # without the cap the hub dominates: C(99,2) wedges appear
    row2 = triangle_stats(df, max_degree=1000).collect()[0]
    assert row2["wedges"] > 4000


def test_skyline_kernel_matches_bruteforce():
    """Partition-local skyline kernel == O(n^2) dominance reference,
    including duplicate-point and equal-price tie semantics."""
    import numpy as np
    import pandas as pd

    from fink_science_spark.queries_analytics import _skyline_kernel

    rng = np.random.RandomState(7)
    for trial in range(20):
        n = rng.randint(1, 60)
        # coarse grids force price ties and duplicate (price, size) points
        price = rng.randint(0, 12, n).astype(float)
        size = rng.randint(0, 12, n)
        pdf = pd.DataFrame(
            {"p_partkey": np.arange(n), "price": price, "size": size}
        )
        got = pd.concat(list(_skyline_kernel([pdf]))).sort_values("p_partkey")
        keep = []
        for i in range(n):
            dominated = any(
                price[j] <= price[i]
                and size[j] >= size[i]
                and (price[j] < price[i] or size[j] > size[i])
                for j in range(n)
            )
            if not dominated:
                keep.append(i)
        assert list(got["p_partkey"]) == keep, trial


def test_skyline_two_stage_equals_single_stage():
    """Local-then-refine == one global pass on the concatenation: local
    pruning never removes a global frontier point."""
    import numpy as np
    import pandas as pd

    from fink_science_spark.queries_analytics import _skyline_kernel

    rng = np.random.RandomState(11)
    parts = [
        pd.DataFrame(
            {
                "p_partkey": np.arange(30) + 100 * k,
                "price": rng.randint(0, 9, 30).astype(float),
                "size": rng.randint(0, 9, 30),
            }
        )
        for k in range(4)
    ]
    locals_ = pd.concat([pd.concat(list(_skyline_kernel([p]))) for p in parts])
    refined = pd.concat(list(_skyline_kernel([locals_.reset_index(drop=True)])))
    direct = pd.concat(
        list(_skyline_kernel([pd.concat(parts).reset_index(drop=True)]))
    )
    a = refined.sort_values("p_partkey").reset_index(drop=True)
    b = direct.sort_values("p_partkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_median_bracket_odd_even_constant(spark, tmp_path):
    """Histogram-bracketed exact median == statistics.median for odd n,
    even n (mean of middle two), and a constant column (degenerate
    bracket short-circuit)."""
    import statistics

    from fink_science_spark.queries_analytics import q_median_bracket

    cases = [
        [3.0, 1.0, 2.0],                     # odd
        [4.0, 1.0, 3.0, 2.0],                # even -> 2.5
        [7.5] * 9,                           # constant
        [float(x) for x in range(101)],      # odd, wide
        [2.0 ** i for i in range(12)],       # skewed bins
    ]
    for i, vals in enumerate(cases):
        d = str(tmp_path / f"mb{i}")
        spark.createDataFrame(
            [(v,) for v in vals], "l_extendedprice double"
        ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        row = q_median_bracket(spark, d).collect()[0]
        assert row["n"] == len(vals)
        assert row["median"] == statistics.median(vals), (i, row)


def test_median_bracket_boundary_heavy_values(spark, tmp_path):
    """ADVICE r3: the pushdown range filter is widened by one bin so a
    row binned into b via float division rounding can never be excluded
    by a one-ulp-short driver-recomputed bound. Stress with values packed
    onto and around bin boundaries."""
    import statistics

    from fink_science_spark.queries_analytics import _MB_BINS, q_median_bracket

    lo, hi = 3.1, 97.7
    width = (hi - lo) / _MB_BINS
    vals = [lo, hi]
    for b in range(0, _MB_BINS, 7):
        edge = lo + b * width
        vals += [edge, edge - 1e-13, edge + 1e-13]
    vals = [v for v in vals if lo <= v <= hi]
    d = str(tmp_path / "mb_edges")
    spark.createDataFrame(
        [(v,) for v in vals], "l_extendedprice double"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    row = q_median_bracket(spark, d).collect()[0]
    assert row["n"] == len(vals)
    assert row["median"] == statistics.median(vals)
