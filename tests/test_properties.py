"""Property-based invariants (hypothesis) for the portable kernels.

The oracle suite checks fixed datasets; these properties check the
engine-portability CONTRACTS on adversarial inputs: the md5-derived
hashes must agree bit-for-bit between Spark and DuckDB for arbitrary
strings, shingling must obey its length law, and signature functions
must be deterministic and order-insensitive where specified.

One Spark job per example is slow, so each example batches many values
through a single DataFrame.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# printable-but-tricky strings; exclude surrogates (invalid in UTF-8)
_texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=60
)

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(_texts, min_size=1, max_size=24, unique=True))
@_settings
def test_hash64_matches_duckdb_bit_for_bit(spark, strings):
    from fink_science_spark.functions.hashing import hash64, hash64_sql

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["h"] for r in df.select("s", hash64("s").alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        (expected,) = con.execute(
            f"SELECT {hash64_sql('?::VARCHAR')}", [s]
        ).fetchone()
        assert got[s] == expected, s
    con.close()


@given(st.lists(_texts, min_size=1, max_size=24, unique=True))
@_settings
def test_hash28_matches_duckdb_bit_for_bit(spark, strings):
    from fink_science_spark.functions.hashing import hash28, hash28_sql

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["h"] for r in df.select("s", hash28("s").alias("h")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        (expected,) = con.execute(
            f"SELECT {hash28_sql('?::VARCHAR')}", [s]
        ).fetchone()
        assert got[s] == expected, s
    con.close()


@given(st.lists(st.text(alphabet="abc xyz", max_size=40), min_size=1, max_size=12))
@_settings
def test_shingle_length_law(spark, texts):
    """len(shingles(t, n)) == max(0, len(tokens) - n + 1) for every doc."""
    from fink_science_spark.functions.text import tokens, word_shingles

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        F.size(tokens("text")).alias("ntok"),
        F.size(word_shingles(tokens("text"), 3)).alias("nsh"),
    ).collect()
    for r in rows:
        assert r["nsh"] == max(0, r["ntok"] - 2), r


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=30))
@_settings
def test_minhash_permutation_invariant(spark, xs):
    """MinHash signatures do not depend on token order (min is commutative)."""
    from fink_science_spark.functions.hashing import hash28, minhash_from_hashed

    fwd = [str(x) for x in xs]
    rev = list(reversed(fwd))
    df = spark.createDataFrame([(fwd, rev)], "a array<string>, b array<string>")
    hashed = df.select(
        F.transform("a", lambda x: hash28(x)).alias("ha"),
        F.transform("b", lambda x: hash28(x)).alias("hb"),
    )
    row = hashed.select(
        minhash_from_hashed("ha", 8).alias("sa"),
        minhash_from_hashed("hb", 8).alias("sb"),
    ).collect()[0]
    assert row["sa"] == row["sb"]


@given(
    st.lists(
        st.tuples(st.floats(0, 1000, allow_nan=False), st.floats(-5, 5, allow_nan=False)),
        min_size=2,
        max_size=20,
    )
)
@_settings
def test_trapezoid_matches_numpy(spark, pts):
    """The array-expression trapezoid equals numpy.trapezoid on sorted input."""
    import numpy as np

    from fink_science_spark.functions.arrays import trapezoid_integral

    pts = sorted(set(pts))
    if len(pts) < 2:
        return
    t = [p[0] for p in pts]
    v = [p[1] for p in pts]
    df = spark.createDataFrame([(t, v)], "t array<double>, v array<double>")
    (got,) = df.select(trapezoid_integral("t", "v").alias("x")).collect()[0]
    trapezoid = getattr(np, "trapezoid", None) or np.trapz
    expected = float(trapezoid(np.array(v), np.array(t)))
    assert got == pytest.approx(expected, rel=1e-9, abs=1e-9)


# PII-ish fragments interleaved with arbitrary text: the regex portability
# surface (Java regex in Spark vs RE2 in duckdb) is exactly where the two
# engines could silently disagree on match extents.
_pii_bits = st.sampled_from(
    [
        "a@b.co",
        "user.name+tag@example.com",
        "not@an@email",
        "10.0.0.1",
        "999.999.999.999",
        "1.2.3.4.5",
        "+1 555 123 4567",
        "(02) 1234-5678",
        "12345678",
        "x1234567x",
        "@",
        ".",
        "-",
    ]
)
_pii_glue = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
)


@given(
    st.lists(
        st.tuples(_pii_glue, _pii_bits), min_size=1, max_size=6
    ).map(lambda parts: "".join(g + b for g, b in parts))
)
@_settings
def test_redact_pii_matches_duckdb(spark, text):
    """Spark's Java regex and duckdb's RE2 must agree on every match
    extent AND count, for every redaction stage, on adversarial
    PII-fragment soup."""
    from fink_science_spark.functions.text import redact_pii, redact_pii_sql

    df = spark.createDataFrame([(text,)], "t string")
    red, counts = redact_pii("t")
    row = df.select(
        red.alias("red"),
        counts["email"].alias("ce"),
        counts["ip"].alias("ci"),
        counts["phone"].alias("cp"),
    ).collect()[0]

    red_sql, counts_sql = redact_pii_sql("?::VARCHAR")
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT {red_sql}, {counts_sql['email']}, "
        f"{counts_sql['ip']}, {counts_sql['phone']}",
        [text, text, text, text],
    ).fetchone()
    con.close()
    assert (row["red"], row["ce"], row["ci"], row["cp"]) == exp, text


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=359.999999),
            st.floats(min_value=-90.0, max_value=90.0),
        ),
        min_size=1,
        max_size=32,
    )
)
@_settings
def test_equal_area_pixel_matches_duckdb_and_parent_containment(spark, pts):
    """The pixel id and its SQL twin agree bit-for-bit on arbitrary
    coordinates (poles and RA wrap included), and the arithmetic parent
    always equals the pixel computed directly at the coarser depth —
    the hierarchy invariant the rollup queries rely on."""
    from fink_science_spark.operators.spatial import (
        equal_area_pixel,
        equal_area_pixel_sql,
        parent_pixel,
    )

    nside = 8
    df = spark.createDataFrame(pts, "ra double, dec double")
    ix, iy, pix = equal_area_pixel(F.col("ra"), F.col("dec"), nside)
    cix, ciy, cpix = equal_area_pixel(F.col("ra"), F.col("dec"), nside // 2)
    rows = df.select(
        "ra",
        "dec",
        pix.alias("pix"),
        parent_pixel(ix, iy, nside).alias("parent"),
        cpix.alias("coarse"),
    ).collect()
    con = duckdb.connect()
    for r in rows:
        _, _, pix_sql = equal_area_pixel_sql(
            repr(r["ra"]), repr(r["dec"]), nside
        )
        (expected,) = con.execute(
            f"SELECT CAST({pix_sql} AS BIGINT)"
        ).fetchone()
        assert r["pix"] == expected, (r["ra"], r["dec"])
        assert r["parent"] == r["coarse"], (r["ra"], r["dec"])
    con.close()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=32,
    )
)
@_settings
def test_morton_key_bijective_and_matches_duckdb(spark, pairs):
    """The Morton interleave is a bijection on (0..2^b-1)² (decoding the
    even/odd bits recovers the inputs) and agrees bit-for-bit with its
    SQL twin."""
    from fink_science_spark.functions.zorder import morton_key, morton_key_sql

    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select(
        "a", "b", morton_key(F.col("a"), F.col("b"), 8).alias("z")
    ).collect()
    con = duckdb.connect()
    for r in rows:
        sql = morton_key_sql(str(r["a"]), str(r["b"]), 8)
        (expected,) = con.execute(f"SELECT {sql}").fetchone()
        assert r["z"] == expected, (r["a"], r["b"])
        # decode: even bits -> a, odd bits -> b
        a = b = 0
        for i in range(8):
            a |= ((r["z"] >> (2 * i)) & 1) << i
            b |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r["a"], r["b"])
    con.close()


@given(
    st.lists(
        st.lists(_texts.filter(bool), min_size=1, max_size=12, unique=True),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_simhash_lane_packing_matches_reference_votes(spark, docsets):
    """The lane-packed signature (15 long SUMs + COUNT) must equal the
    naive per-bit ±1 majority vote computed in pure Python from the same
    md5-derived token hashes — on arbitrary token multisets, including
    the tie case (count_ones*2 == n → bit 0)."""
    import hashlib

    from fink_science_spark.operators.dedup import simhash_pairs

    BITS = 60

    def ref_sig(tokens):
        votes = [0] * BITS
        for t in tokens:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for j in range(BITS):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(BITS) if votes[j] > 0)

    rows = [(i, toks) for i, toks in enumerate(docsets)]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    # max_hamming=60 keeps every candidate pair; hamming distances then
    # directly expose each doc's signature relative to the others
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            df, "id", "toks", max_hamming=BITS, bits=BITS, chunks=4
        ).collect()
    }
    sigs = {i: ref_sig(toks) for i, toks in rows}
    for (a, bid), ham in got.items():
        assert ham == bin(sigs[a] ^ sigs[bid]).count("1"), (a, bid)
    # every pair agreeing on ≥1 of 4 chunks must be present; with
    # max_hamming=60 any pair sharing a chunk collides
    for a in sigs:
        for b in sigs:
            if a < b:
                chunk_agree = any(
                    ((sigs[a] >> (c * 15)) & 0x7FFF)
                    == ((sigs[b] >> (c * 15)) & 0x7FFF)
                    for c in range(4)
                )
                assert ((a, b) in got) == chunk_agree, (a, b)


@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.one_of(st.floats(min_value=0.1, max_value=2.0),
               st.floats(min_value=0.1, max_value=30.0)),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_nearest_join_sky_capture_guarantee_random(spark, seed, radius):
    """Hypothesis-driven all-sky capture: 25×25 uniform-sphere points at
    an arbitrary radius (0.1°–30°) must match the brute-force cross-join
    1-NN exactly — the zoned grid + unclamped asin bound has no tunable
    left to be wrong at any latitude or radius in this range."""
    import itertools
    import math

    from fink_science_spark.operators.spatial import nearest_join_sky

    def lcg(s):
        while True:
            s = (s * 1103515245 + 12345) % (2**31)
            yield s / 2**31

    g = lcg(seed | 1)
    # uniform on the sphere: dec = asin(2u-1); every 3rd point is forced
    # into the polar band |dec| > 85 (uniform sampling almost never
    # lands there, and the near-pole zones are where the ring-count
    # arithmetic has historically been wrong — the NaN-margin hole)
    def pt(i):
        if i % 3 == 0:
            sign = 1.0 if next(g) < 0.5 else -1.0
            return (next(g) * 360.0, sign * (85.0 + next(g) * 5.0))
        return (
            next(g) * 360.0,
            math.degrees(math.asin(2.0 * next(g) - 1.0)),
        )

    lefts = [(i, *pt(i)) for i in range(25)]
    rights = [(1000 + i, *pt(i)) for i in range(25)]
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


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)),
             min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000),
                       st.integers(-100, 100)),
             min_size=0, max_size=40),
)
@_settings
def test_asof_join_matches_pandas_merge_asof(spark, lrows, rrows):
    """Backward as-of semantics vs pandas.merge_asof on arbitrary keyed
    timestamp sets, including duplicate timestamps and empty right
    sides. Right-side ties on (key, ts) are broken identically by
    pre-deduping to the max value (merge_asof takes the LAST row on
    ties; the engine's window scan keeps the struct max)."""
    import pandas as pd

    from fink_science_spark.operators.asof import asof_join

    # unique (key, ts) on the right: engine tie-break vs pandas "last"
    # would otherwise compare implementation-defined orders
    rd = {}
    for k, t, v in rrows:
        rd[(k, t)] = max(v, rd.get((k, t), v))
    rrows = [(k, t, v) for (k, t), v in sorted(rd.items())]

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        "lid long, k long, ts long",
    )
    rdf = spark.createDataFrame(rrows, "k long, ts long, v long") if rrows \
        else spark.createDataFrame([], "k long, ts long, v long")

    got = {
        r["lid"]: (r["asof_v"], r["asof_ts"])
        for r in asof_join(ldf, rdf, "k", "ts", "ts", ["v"]).collect()
    }

    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)],
        columns=["lid", "k", "ts"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(rrows, columns=["k", "ts", "v"]).sort_values(
        "ts", kind="stable"
    )
    if len(rp):
        m = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward",
                          suffixes=("", "_r"))
        expected = {
            int(row.lid): (
                None if pd.isna(row.v) else int(row.v),
                None,  # merge_asof drops the matched ts; compare value only
            )
            for row in m.itertuples()
        }
        assert {k: v[0] for k, v in got.items()} == {
            k: v[0] for k, v in expected.items()
        }
    else:
        assert all(v == (None, None) for v in got.values())
    assert set(got) == {i for i in range(len(lrows))}


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),
            st.floats(-1e6, 1e6, allow_nan=False),
            st.floats(0.01, 100.0, allow_nan=False),
        ),
        min_size=1, max_size=60,
    ),
    st.floats(0.05, 0.95),
)
@_settings
def test_weighted_quantile_matches_reference_cdf(spark, rows, q):
    """Step-CDF weighted quantile vs a direct Python computation: the
    smallest value whose cumulative weight fraction reaches q, values
    accumulated in ascending order — including duplicate values and
    highly skewed weights."""
    from fink_science_spark.operators.aggregates import weighted_quantile

    df = spark.createDataFrame(rows, "k long, v double, w double")
    got = {
        r["k"]: r["q"]
        for r in weighted_quantile(df, ["k"], "v", "w", q=q, round_to=9)
        .withColumnRenamed(
            [c for c in weighted_quantile(
                df, ["k"], "v", "w", q=q, round_to=9).columns
             if c != "k"][0],
            "q",
        )
        .collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for k, v, w in rows:
        groups[k].append((v, w))
    for k, items in groups.items():
        items.sort()
        tot = sum(w for _v, w in items)
        acc = 0.0
        exp = items[-1][0]
        for v, w in items:
            acc += w
            if acc / tot >= q:
                exp = v
                break
        # Reference rounding must match the ENGINE's contract: F.round is
        # decimal HALF_UP on the printed decimal expansion, while Python's
        # round() works on the binary double (banker's) — they disagree
        # when the 10th decimal digit of the shortest repr is exactly 5
        # but the stored double sits just below it (hypothesis-found:
        # 131072.1623428705). Use decimal half-up like the engine.
        import decimal

        exp_r = float(
            decimal.Decimal(repr(exp)).quantize(
                decimal.Decimal("1e-9"), rounding=decimal.ROUND_HALF_UP
            )
        )
        assert got[k] == exp_r, (k, q)


@given(
    st.lists(
        st.tuples(
            st.floats(0.0, 1e4, allow_nan=False),
            st.floats(-100.0, 100.0, allow_nan=False),
        ),
        min_size=0, max_size=30,
    )
)
@_settings
def test_trapezoid_integral_matches_numpy(spark, pts):
    import numpy as np

    from fink_science_spark.functions.arrays import trapezoid_integral

    pts = sorted(set(pts))  # time-sorted, unique epochs
    ts = [p[0] for p in pts]
    vs = [p[1] for p in pts]
    df = spark.createDataFrame(
        [(ts, vs)], "t array<double>, v array<double>"
    )
    (got,) = df.select(
        F.round(trapezoid_integral("t", "v"), 6).alias("i")
    ).collect()[0]
    trap = getattr(np, 'trapezoid', np.trapz)
    expected = float(trap(vs, ts)) if len(pts) >= 2 else 0.0
    assert got == pytest.approx(round(expected, 6), abs=1e-5)


# --------------------------------------------------------------------------
# Sketch-family properties (round 3, sixth wave)
# --------------------------------------------------------------------------


@given(
    st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=200, unique=True),
    st.integers(1, 4),
)
@_settings
def test_bloom_never_false_negative_property(spark, keys, k):
    """Zero false negatives for ANY key set and probe count — the
    exactness of the pruned join rests on this."""
    from fink_science_spark.operators.sketches import (
        bloom_bits_for,
        bloom_might_contain,
        build_bloom_bitset,
    )

    df = spark.createDataFrame([(x,) for x in keys], "k long")
    m = bloom_bits_for(len(keys))
    bits = build_bloom_bitset(df, "k", m, k=k)
    assert df.filter(~bloom_might_contain("k", bits, m, k=k)).count() == 0


@given(
    st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=120,
    ),
    st.sampled_from([16, 64, 256]),
)
@_settings
def test_histogram_quantile_error_bound_property(spark, values, bins):
    """For arbitrary value sets and bin counts, every estimate lies in
    [exact quantile, exact + 2 bin widths] — the documented estimator
    contract (upper bin edge of the first covering bin)."""
    import pandas as pd

    from fink_science_spark.operators.sketches import histogram_quantiles

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * len(values), "v": values})
    )
    row = histogram_quantiles(df, "g", "v", bins=bins).collect()[0]
    lo, hi = min(values), max(values)
    width = (hi - lo) / bins if hi > lo else 0.0
    svals = sorted(values)
    import math

    for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        exact = svals[math.ceil(q * len(svals)) - 1]
        assert exact - 1e-6 <= row[name] <= exact + 2 * width + 1e-6, (
            name,
            row[name],
            exact,
            width,
        )


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd ", min_size=0, max_size=30),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 10),
)
@_settings
def test_heavy_hitters_exactness_property(spark, rows, m):
    """For arbitrary small-alphabet corpora and thresholds, the operator
    returns EXACTLY the tokens with count*m > N, with exact counts —
    regardless of the candidate pruning."""
    from collections import Counter

    from fink_science_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame(rows, "text string")
    got = {
        r["token"]: r["cnt"] for r in heavy_hitters(df, "text", m=m).collect()
    }
    counts: Counter[str] = Counter()
    for (t,) in rows:
        for tok in t.split(" "):
            if tok:
                counts[tok] += 1
    n = sum(counts.values())
    want = {t: c for t, c in counts.items() if c * m > n}
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 10**6),
            st.floats(1.0, 1e4, allow_nan=False),
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 8),
)
@_settings
def test_weighted_sample_matches_python_aes(spark, rows, k):
    """The engine's A-ES top-k per stratum must equal a direct Python
    computation of the same exponential keys (same md5 uniforms, same
    rounding, same tie-break)."""
    import math

    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.queries_text import _U_DENOM
    from pyspark.sql.window import Window

    df = spark.createDataFrame(rows, "doc_id long, w double")
    u = (hash64(F.col("doc_id").cast("string"), seed="wsample") + F.lit(1)) / F.lit(
        _U_DENOM
    )
    key = F.round(-F.log(u) / F.col("w"), 9)
    win = Window.orderBy(F.col("key").asc(), F.col("doc_id").asc())
    got = [
        r["doc_id"]
        for r in df.select("doc_id", key.alias("key"))
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .orderBy("rank")
        .collect()
    ]
    # Python twin of hash64 (md5 first 15 hex digits) and the key
    import hashlib

    def h64(s: str, seed: str) -> int:
        return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)

    keyed = []
    for doc_id, w in rows:
        uu = (h64(str(doc_id), "wsample") + 1) / _U_DENOM
        keyed.append((round(-math.log(uu) / w, 9), doc_id))
    want = [d for _k, d in sorted(keyed)[:k]]
    assert got == want


# Small word alphabet → real overlaps; every doc also gets a ubiquitous
# stop token, the exact skew regime prefix filtering exists to survive.
_ppjoin_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
)


@given(
    st.lists(
        st.lists(_ppjoin_words, min_size=1, max_size=6, unique=True),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
@_settings
def test_ppjoin_matches_bruteforce_and_posting_list(spark, docsets, t):
    """Prefix filtering must be COMPLETE (every pair with J >= t found)
    and exact (same rounded Jaccard) — checked against a pure-Python
    brute force over all pairs AND against the posting-list operator, on
    token sets that all share a stop token (worst-case frequency skew)."""
    from fink_science_spark.operators.dedup import (
        jaccard_ppjoin_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, sorted(set(toks) | {"stop"})) for i, toks in enumerate(docsets)]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_ppjoin_pairs(
            df, "doc_id", "shingles", threshold=t
        ).collect()
    }
    posting = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "shingles", threshold=t
        ).collect()
    }
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j:
                inter = len(set(a) & set(b))
                jac = inter / (len(a) + len(b) - inter)
                if jac >= t:
                    want[(i, j)] = round(jac, 6)
    assert got == want
    assert posting == want


@given(
    st.lists(st.text(alphabet="ab c1.", max_size=30), min_size=1, max_size=10),
    st.integers(min_value=2, max_value=5),
)
@_settings
def test_shingle_content_matches_python_reference(spark, texts, n):
    """word_shingles (bulk-slice + zip_with form) must equal the plain
    Python sliding-window join for every doc and every n — the guard
    that the 5x-faster formulation stays byte-identical."""
    import re as _re

    from fink_science_spark.functions.text import tokens, word_shingles

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", word_shingles(tokens("text"), n).alias("sh")).collect()
    for r in rows:
        toks = [t for t in _re.sub("[^a-z0-9]+", " ", r["text"].lower()).strip().split(" ") if t]
        want = [" ".join(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))]
        assert list(r["sh"]) == want, (r["text"], n)


def test_segment_overlap_matches_bruteforce(spark, tmp_path):
    """Mask-histogram audience algebra == direct per-user distinct-set
    combinatorics on randomized event logs (shape fuzzing beyond the
    fixed-SF oracle data: skewed types, single-type users, empty pairs)."""
    import itertools
    import random

    from fink_science_spark.queries_analytics import q_segment_overlap

    rng = random.Random(13)
    types = ["a", "b", "c", "d"]
    rows = []
    for eid in range(400):
        u = rng.randint(0, 40)
        # skew: user 0..9 only ever emit one type; others mix
        t = types[u % 4] if u < 10 else rng.choice(types)
        rows.append((eid, u, t))
    d = str(tmp_path / "seg")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r["type_a"], r["type_b"]): (r["n_a"], r["n_b"], r["n_both"])
        for r in q_segment_overlap(spark, d).collect()
    }

    users: dict[int, set] = {}
    for _, u, t in rows:
        users.setdefault(u, set()).add(t)
    seg = {t: {u for u, s in users.items() if t in s} for t in types}
    want = {}
    for ta, tb in itertools.combinations(sorted(types), 2):
        nb = len(seg[ta] & seg[tb])
        if nb:
            want[(ta, tb)] = (len(seg[ta]), len(seg[tb]), nb)
    assert got == want


def test_mmr_matches_bruteforce_greedy(spark, tmp_path):
    """Unrolled-plan MMR == a plain Python greedy on randomized vectors
    (quantize-then-argmax semantics: 9-dec cosines, cid ties)."""
    import numpy as np

    from fink_science_spark.queries_similarity import (
        _MMR_K,
        _MMR_LAM,
        _MMR_N,
        q_mmr_diverse_topk,
    )

    rng = np.random.RandomState(5)
    n, dim = 240, 8
    V = rng.randn(n, dim).astype(np.float64)
    d = str(tmp_path / "mmr")
    spark.createDataFrame(
        [(i, [float(x) for x in V[i]], int(i % 3)) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    got = [
        (r["qid"], r["step"], r["cid"], r["mmr"])
        for r in q_mmr_diverse_topk(spark, d).collect()
    ]

    # reference: float32 storage round-trip, then the same quantized math
    Vf = V.astype(np.float32).astype(np.float64)
    norm = np.sqrt((Vf * Vf).sum(axis=1))

    def cos9(i, j):
        return round(float(Vf[i] @ Vf[j] / (norm[i] * norm[j])), 9)

    want = []
    for q in range(0, n, 100):
        scored = sorted(
            ((-cos9(q, c), c) for c in range(n) if c != q)
        )[:_MMR_N]
        cand = [(c, round(-s, 6)) for s, c in scored]
        rel = dict(cand)
        sel = [max(cand, key=lambda x: (x[1], -x[0]))[0]]
        want.append((q, 1, sel[0], round(_MMR_LAM * rel[sel[0]], 9)))
        for step in range(2, _MMR_K + 1):
            best = None
            for c, r in cand:
                if c in sel:
                    continue
                red = max(cos9(c, s) for s in sel)
                m = round(_MMR_LAM * r - (1.0 - _MMR_LAM) * red, 9)
                key = (m, -c)
                if best is None or key > best[0]:
                    best = (key, c, m)
            sel.append(best[1])
            want.append((q, step, best[1], best[2]))
    assert sorted(got) == sorted(want)


def test_segment_overlap_lane_sharding_beyond_63_types(spark, tmp_path):
    """ADVICE r3: shiftleft masks its shift amount to 6 bits, so a single
    64-bit mask silently wraps (and collides) at >=64 segment types. The
    lane-sharded masks must stay exact well past that boundary."""
    import itertools
    import random

    from fink_science_spark.queries_analytics import q_segment_overlap

    rng = random.Random(7)
    types = [f"t{i:03d}" for i in range(70)]  # 2 lanes (ceil(70/63))
    rows = []
    eid = 0
    for u in range(60):
        # each user is active in 2-5 types, drawn across the full range
        # so both lanes (tid < 63 and tid >= 63) carry live bits
        for t in rng.sample(types, rng.randint(2, 5)):
            rows.append((eid, u, t))
            eid += 1
    d = str(tmp_path / "seg_lanes")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = {
        (r["type_a"], r["type_b"]): (r["n_a"], r["n_b"], r["n_both"])
        for r in q_segment_overlap(spark, d).collect()
    }

    users: dict[int, set] = {}
    for _, u, t in rows:
        users.setdefault(u, set()).add(t)
    present = sorted({t for _, _, t in rows})
    seg = {t: {u for u, s in users.items() if t in s} for t in present}
    want = {}
    for ta, tb in itertools.combinations(present, 2):
        nb = len(seg[ta] & seg[tb])
        if nb:
            want[(ta, tb)] = (len(seg[ta]), len(seg[tb]), nb)
    assert got == want
    # sanity: the wrap bug this guards against collides tid 0 with tid
    # 64 — assert at least one cross-lane pair actually exists in data
    assert any(
        (a < "t063") != (b < "t063") for (a, b) in want
    ), "test corpus must exercise cross-lane pairs"


def test_skyline_anticorrelated_bounded_tasks(spark, tmp_path):
    """r3 verdict #2: on anti-correlated dimensions EVERY point is on the
    frontier (the worst case that made a single-task refine unbounded).
    The grid refine must (a) still return the exact frontier and (b)
    spread the refine input across dominance-grid cells so no task holds
    more than ~n/B points."""
    from fink_science_spark.queries_analytics import (
        _SKY_MAX_BINS,
        _SKY_TARGET_CELL,
        q_skyline_frontier,
    )

    # anti-correlated for (min price, max size): size GROWS with price,
    # so no point dominates any other and the frontier is all n points
    # (n > _SKY_TARGET_CELL so the measured-size guard actually fans the
    # refine out into multiple grid cells)
    n = 20000
    rows = [(i, 100.0 + i * 0.25, i + 1) for i in range(n)]
    d = str(tmp_path / "sky_anti")
    spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")

    got = [
        (r["p_partkey"], r["price"], r["size"])
        for r in q_skyline_frontier(spark, d).collect()
    ]
    assert got == [(i, 100.0 + i * 0.25, i + 1) for i in range(n)]

    # the refine is bucketed by price range: recompute the query's own
    # measured-size binning and assert it fans out AND balances
    n_bins = min(_SKY_MAX_BINS, max(1, -(-n // _SKY_TARGET_CELL)))
    assert n_bins > 1, "corpus must be large enough to trigger the fan-out"
    lo, hi = 100.0, 100.0 + (n - 1) * 0.25
    width = (hi - lo) / n_bins
    from collections import Counter

    cells = Counter(
        min(n_bins - 1, int((p - lo) / width)) for _, p, _ in rows
    )
    assert max(cells.values()) <= 2 * n // n_bins


@given(
    st.lists(
        st.lists(_ppjoin_words, min_size=1, max_size=6, unique=True),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.5, 0.8, 1.0]),
)
@_settings
def test_containment_matches_bruteforce(spark, docsets, t):
    """The containment probe-prefix join must stay COMPLETE: every
    directed pair with |A∩B|/|A| >= t found with the exact rounded
    score, on skewed corpora where every doc shares a stop token.
    (containment deliberately does NOT use the positional filter — see
    the NOTE in operators/dedup.py; the positional variant lives only
    on jaccard_ppjoin_pairs, whose own property test covers it.)"""
    from fink_science_spark.operators.dedup import containment_pairs

    rows = [(i, sorted(set(toks) | {"stop"})) for i, toks in enumerate(docsets)]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "doc_id", "shingles", threshold=t
        ).collect()
    }
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i != j:
                cont = len(set(a) & set(b)) / len(a)
                if cont >= t:
                    want[(i, j)] = round(cont, 6)
    assert got == want
