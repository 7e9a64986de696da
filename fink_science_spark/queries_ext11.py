"""Query registry, wave 12: market-basket affinity, sliding-window
distinct actives, and marketing attribution.

Three classic warehouse/event-analytics operators the reference's users
run downstream of its alert streams (SURVEY §2.4 aggregation family),
each built for the 100 TB shapes: bounded-fanout pair expansion instead
of self-joins, 7× explode instead of a range self-join, and a single
window shuffle for the as-of attribution lookup. All arithmetic that
gets SUMMED is exact-integer (dyadic quantization contract); ratios are
single divisions of exact integers, HALF_UP-rounded with the shared
floor idiom on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.registry import register

_US_PER_DAY = 86_400_000_000

# --------------------------------------------------------------------------
# part_affinity: market-basket analysis over order baskets — for every
# ordered pair of brands co-purchased in one order, the support /
# confidence / lift triple (the association-rule staple, Agrawal &
# Srikant shape). TPC-H has no reference twin; this is the §2.4
# "group-to-arrays" machinery pointed at a co-occurrence problem.
#
# Scale shape: the brand dimension joins BROADCAST (25 keys); basket
# rows reduce to distinct (order, brand) with a map-combinable partial;
# pair expansion happens INSIDE the per-order array (sort_array over a
# collect_set of ≤ brand-count elements, then a nested-transform C(k,2)
# expansion) — ONE shuffle on orderkey, no self-join, fanout bounded by
# C(brands_per_order, 2). The marginals table is brand-sized and joins
# broadcast. Output is ≤ C(25,2) rows at any SF.
# --------------------------------------------------------------------------


def _halfup6(col: F.Column) -> F.Column:
    """HALF_UP to 6 dp via the engine-wide floor idiom (exact on both
    engines for the single-division ratios used here)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def q_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.queries import _t

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # collect_set dedups per order, so no pre-distinct shuffle; the
    # explicit repartition BY THE AGG KEY moves the narrow (orderkey,
    # partkey) rows once and lets the object-hash aggregation run at
    # full core width instead of at the scan's file-partition count
    # (local[32] reads this file as 3 splits; measured 1.14→0.57 s at
    # sf0.1 — at cluster scale the scan is already wide and the
    # co-partitioning makes the groupBy exchange-free).
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sets = (
        li.repartition(shuffle_n, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # sets feeds pairs, marginals, and the total; the three consumers
    # share the repartition exchange (measured: recompute beats a
    # localCheckpoint here — the basket table is cheap to rebuild from
    # the shuffled narrow rows and checkpoint I/O costs more).
    baskets = sets.select(
        "l_orderkey", F.explode("bs").alias("p_brand")
    )
    # C(k,2) expansion inside the row: for element i, pair with every
    # later element — no self-join, no second shuffle.
    pair_col = F.flatten(
        F.transform(
            "bs",
            lambda x, i: F.transform(
                F.slice("bs", i + F.lit(2), F.size("bs")),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_col).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    marg = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("brand_orders"))
    total = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    out = (
        pairs.join(
            F.broadcast(marg.withColumnsRenamed({"p_brand": "brand_a", "brand_orders": "ca"})),
            "brand_a",
        )
        .join(
            F.broadcast(marg.withColumnsRenamed({"p_brand": "brand_b", "brand_orders": "cb"})),
            "brand_b",
        )
        .crossJoin(F.broadcast(total))
    )
    n = F.col("n_orders").cast("double")
    pair_d = F.col("pair_orders").cast("double")
    return out.select(
        "brand_a",
        "brand_b",
        "pair_orders",
        _halfup6(pair_d / n).alias("support"),
        _halfup6(pair_d / F.col("ca").cast("double")).alias("confidence"),
        _halfup6(
            pair_d * n / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        ).alias("lift"),
    ).orderBy("brand_a", "brand_b")


ORACLE_PART_AFFINITY = """
WITH b AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
m AS (SELECT p_brand, count(*) AS brand_orders FROM b GROUP BY 1),
p AS (
  SELECT a.p_brand AS brand_a, c.p_brand AS brand_b, count(*) AS pair_orders
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, pair_orders,
       floor(pair_orders / CAST(n_orders AS DOUBLE) * 1e6 + 0.5) / 1e6 AS support,
       floor(pair_orders / CAST(ma.brand_orders AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS confidence,
       floor(pair_orders * CAST(n_orders AS DOUBLE)
             / (CAST(ma.brand_orders AS DOUBLE) * CAST(mb.brand_orders AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS lift
FROM p
JOIN m ma ON p.brand_a = ma.p_brand
JOIN m mb ON p.brand_b = mb.p_brand
CROSS JOIN tot
ORDER BY brand_a, brand_b
"""

# --------------------------------------------------------------------------
# sliding_distinct_users: trailing-7-day distinct active users per day —
# the DAU/WAU-style rolling reach metric. COUNT(DISTINCT) over a
# sliding window has no window-function form in either engine; the
# scalable identity is: a user active on day d contributes to targets
# d..d+6, so explode each distinct (user, day) into ≤ 7 (user, target)
# rows and de-duplicate again.
#
# Scale shape: distinct (user, day) is a map-combinable partial (the
# 100 TB event volume collapses to |users|×|days| before any wide
# exchange); the 7× explode is bounded fanout, map-side; the second
# distinct + count is again partial-aggregated. No range self-join, no
# per-day rescans. The 100 TB approximate path swaps the exact distinct
# for the registered portable HLL sketch (hll_distinct_portable) merged
# over the same 7-day explode.
# --------------------------------------------------------------------------

_SDU_WINDOW = 7


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir)
    active = ev.select(
        "user_id", (F.col("ts_us") / F.lit(_US_PER_DAY)).cast("long").alias("day")
    ).distinct()
    bounds = active.agg(F.max("day").alias("dmax"))
    fan = (
        active.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(_SDU_WINDOW - 1))
            ).alias("t"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("t") <= F.col("dmax"))
        .select("user_id", "t")
        .distinct()
    )
    daily = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    weekly = fan.groupBy(F.col("t").alias("day")).agg(
        F.count(F.lit(1)).alias("wau_7d")
    )
    return (
        weekly.join(daily, "day", "left")
        .select("day", F.coalesce("dau", F.lit(0)).alias("dau"), "wau_7d")
        .orderBy("day")
    )


ORACLE_SLIDING_DISTINCT_USERS = f"""
WITH a AS (
  SELECT DISTINCT user_id, CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS day
  FROM events
),
bounds AS (SELECT max(day) AS dmax FROM a),
fan AS (
  SELECT DISTINCT user_id, t
  FROM a, bounds, unnest(generate_series(day, day + {_SDU_WINDOW - 1})) AS u(t)
  WHERE t <= dmax
),
daily AS (SELECT day, count(*) AS dau FROM a GROUP BY 1),
weekly AS (SELECT t AS day, count(*) AS wau_7d FROM fan GROUP BY 1)
SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau_7d
FROM weekly w LEFT JOIN daily d ON w.day = d.day
ORDER BY w.day
"""

# --------------------------------------------------------------------------
# last_touch_attribution: assign every purchase to the user's most
# recent preceding marketing touch (click/view) within a 3-day
# lookback, else the 'direct' channel; report per-channel conversions
# and attributed revenue. The standard marketing-attribution shape —
# an as-of lookup INSIDE one table, done as a running window carry
# instead of an as-of join.
#
# Scale shape: ONE shuffle (window partition by user), then a
# channel-cardinality aggregation with map-side partials. The carry is
# last(..., ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING —
# no join, no second pass. Revenue is quantized to 2^-14 lanes before
# the sum (exact, order-independent) and HALF_UP-rounded at output.
# --------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 3 * _US_PER_DAY
_ATTR_Q = float(1 << 14)
_ATTR_CHANNELS = ("click", "view")


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).select(
        "user_id", "ts_us", "event_type", "value", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*_ATTR_CHANNELS)
    touched = ev.select(
        "*",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    vq = F.floor(F.col("value") * F.lit(_ATTR_Q) + F.lit(0.5)).cast("long")
    purch = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts") >= F.col("ts_us") - F.lit(_ATTR_LOOKBACK_US),
            F.col("touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        vq.alias("vq"),
    )
    out_rev = F.floor(
        F.sum("vq").cast("double") / F.lit(_ATTR_Q) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        purch.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            out_rev.alias("revenue"),
        )
        .orderBy("channel")
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_type, value, event_id
  FROM events
),
t AS (
  SELECT *,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS) OVER w AS touch_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN ts_us END IGNORE NULLS) OVER w AS touch_ts
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
p AS (
  SELECT CASE WHEN touch_ts >= ts_us - {_ATTR_LOOKBACK_US}
              THEN touch_type ELSE 'direct' END AS channel,
         CAST(floor(value * {_ATTR_Q!r} + 0.5) AS BIGINT) AS vq
  FROM t
  WHERE event_type = 'purchase'
)
SELECT channel, count(*) AS conversions,
       floor(sum(vq) / {_ATTR_Q!r} * 1e6 + 0.5) / 1e6 AS revenue
FROM p
GROUP BY channel
ORDER BY channel
"""


# --------------------------------------------------------------------------
# ewma_user_value: per-user exponentially-weighted moving average of
# purchase values — the standard time-series smoother, in its
# bounded-lag form (K = 8 taps, weight 2^(K-1-k) for lag k). The
# infinite-memory recursion s_t = α·x_t + (1-α)·s_{t-1} is an
# order-dependent float chain no engine reproduces bit-for-bit; the
# K-tap truncation (weights decay 2× per lag, so the dropped tail is
# < 2^-8 of the total) makes every output an exact rational of int64
# sums — the engine-wide determinism contract.
#
# Scale shape: ONE shuffle (window partition by user); the K lag()
# columns share the single window spec; weighted sum and weight total
# are exact int64 (values quantized to 2^-14 lanes, weights powers of
# two), divided once at output.
# --------------------------------------------------------------------------

_EWMA_K = 8
_EWMA_Q = float(1 << 14)


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.queries import _events_us

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "value")
    )
    vq = F.floor(F.col("value") * F.lit(_EWMA_Q) + F.lit(0.5)).cast("long")
    base = ev.select("event_id", "user_id", "ts_us", vq.alias("vq"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k in range(_EWMA_K):
        wk = 1 << (_EWMA_K - 1 - k)
        lagged = F.col("vq") if k == 0 else F.lag("vq", k).over(w)
        num = num + F.coalesce(lagged * F.lit(wk), F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(wk)).otherwise(F.lit(0))
    ewma = F.floor(
        num.cast("double")
        / den.cast("double")
        / F.lit(_EWMA_Q)
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return base.select(
        "event_id", "user_id", ewma.alias("ewma")
    ).orderBy("event_id")


def _oracle_ewma() -> str:
    num_terms, den_terms = [], []
    for k in range(_EWMA_K):
        wk = 1 << (_EWMA_K - 1 - k)
        expr = "vq" if k == 0 else f"lag(vq, {k}) OVER w"
        num_terms.append(f"coalesce(({expr}) * {wk}, 0)")
        den_terms.append(f"CASE WHEN ({expr}) IS NOT NULL THEN {wk} ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * {_EWMA_Q!r} + 0.5) AS BIGINT) AS vq
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT event_id, user_id, ({num}) AS num, ({den}) AS den
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT event_id, user_id,
       floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / {_EWMA_Q!r}
             * 1e6 + 0.5) / 1e6 AS ewma
FROM s
ORDER BY event_id
"""


ORACLE_EWMA_USER_VALUE = _oracle_ewma()

# --------------------------------------------------------------------------
# robust_outliers: per-event-type robust outlier census via median/MAD
# (median absolute deviation) — the data-quality gate that survives the
# heavy tails that break mean/stddev z-scores. Flag = |x − med| >
# 3 × MAD.
#
# Scale shape: two grouped percentile aggregations (Spark's exact
# F.percentile ≡ DuckDB quantile_cont, both map-combinable in the
# OpenHashSet sense: percentile buffers merge associatively), with the
# 5-row med/MAD tables broadcast back; no row-level float sums anywhere
# (counts only), so there is nothing to quantize. The 100 TB path swaps
# exact percentile for the registered histogram sketch
# (sketch_quantiles) — same downstream algebra.
# --------------------------------------------------------------------------


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile("ad", F.lit(0.5)).alias("mad"),
    )
    flags = ev.join(F.broadcast(mad), "event_type")
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3.0) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, any_value(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
       round(any_value(d.med), 6) AS med,
       round(any_value(d.mad), 6) AS mad,
       sum(CASE WHEN abs(e.value - d.med) > 3.0 * d.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN mad d ON e.event_type = d.event_type
GROUP BY 1
ORDER BY 1
"""

# --------------------------------------------------------------------------
# phrase_match: positional phrase search over the corpus — which
# documents contain an exact N-word phrase, and how many times. The
# inverted-index shape (token → (doc, position) postings, intersected
# with position arithmetic) rather than a substring scan: at 100 TB the
# postings for the PHRASE TOKENS ONLY are touched (predicate pushes the
# token filter into the posexplode output before any shuffle), while
# LIKE '%...%' must decompress and scan every byte of every document.
#
# The phrase is data-derived (the corpus's globally most frequent
# 3-gram, computed with two map-combinable aggs) so the query stays
# meaningful at every SF. Postings never carry text — (doc_id, pos)
# longs only.
# --------------------------------------------------------------------------

_PM_N = 3


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.text import tokens, word_shingles

    from fink_science_spark.queries import _t

    from fink_science_spark.queries import _fan_out

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), _PM_N)).alias("g")
    )
    # data-derived needle: most frequent 3-gram, ties broken
    # lexicographically (1 row, broadcast).
    top = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("g"))
        .limit(1)
        .select(F.col("g").alias("needle"))
    )
    # positional postings restricted to the needle: the join predicate
    # prunes the exploded grams BEFORE the count aggregation.
    hits = (
        docs.select(
            "doc_id",
            F.posexplode(word_shingles(F.col("toks"), _PM_N)).alias(
                "pos", "g"
            ),
        )
        .join(F.broadcast(top), F.col("g") == F.col("needle"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )
    return hits


def _oracle_phrase_match() -> str:
    from fink_science_spark.functions.text import (
        tokens_sql,
        word_shingles_sql,
    )

    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
g AS (
  SELECT doc_id, unnest({word_shingles_sql('toks', _PM_N)}) AS gram,
         generate_subscripts({word_shingles_sql('toks', _PM_N)}, 1) AS pos1
  FROM tok
),
top AS (
  SELECT gram AS needle FROM g GROUP BY gram
  ORDER BY count(*) DESC, gram LIMIT 1
)
SELECT doc_id, count(*) AS n_occurrences,
       CAST(min(pos1) - 1 AS INTEGER) AS first_pos
FROM g JOIN top ON g.gram = top.needle
GROUP BY doc_id
ORDER BY doc_id
"""


ORACLE_PHRASE_MATCH = _oracle_phrase_match()


# --------------------------------------------------------------------------
# containment_pairs: asymmetric set containment |A∩B|/|A| ≥ 0.8 over
# 3-gram shingles — the quote / excerpt / subset detector that
# symmetric Jaccard structurally misses (a short doc fully quoted in a
# long one has tiny Jaccard but containment 1.0). Exact, via
# probe-prefix × full-index prefix filtering (the relation LSH-Ensemble
# approximates) — operators/dedup.containment_pairs for the lemma.
# --------------------------------------------------------------------------

_CT_T = 0.8


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.dedup import containment_pairs
    from fink_science_spark.queries_ext import _doc_shingles

    return containment_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles", threshold=_CT_T
    )


def _oracle_containment() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext import _DOCS_TOK_CTE

    return f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, count(*) inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, round(inter * 1.0 / na, 6) AS containment
FROM pairs
WHERE inter * 1.0 / na >= {_CT_T!r}
"""


ORACLE_CONTAINMENT_PAIRS = _oracle_containment()

# --------------------------------------------------------------------------
# winsorized_stats: per-event-type stats after clipping to the exact
# [p05, p95] band — the standard tail-robust preprocessing twin of
# robust_outliers (clip instead of flag). Percentile cutpoints are
# exact (F.percentile ≡ quantile_cont, broadcast back, 5 rows); the
# clipped values are dyadically quantized BEFORE the mean's sum, so
# the aggregate is exact int64 (order-independent).
# --------------------------------------------------------------------------

_WZ_Q = float(1 << 14)


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "cv"
        ),
        (F.col("value") < F.col("lo")).cast("long").alias("is_lo"),
        (F.col("value") > F.col("hi")).cast("long").alias("is_hi"),
        "lo",
        "hi",
    )
    cq = F.floor(F.col("cv") * F.lit(_WZ_Q) + F.lit(0.5)).cast("long")
    mean_w = F.floor(
        F.sum(cq).cast("double")
        / F.count(F.lit(1)).cast("double")
        / F.lit(_WZ_Q)
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("lo"), 6).alias("p05"),
            F.round(F.first("hi"), 6).alias("p95"),
            mean_w.alias("winsorized_mean"),
            F.sum("is_lo").alias("n_clipped_lo"),
            F.sum("is_hi").alias("n_clipped_hi"),
        )
        .orderBy("event_type")
    )


ORACLE_WINSORIZED_STATS = f"""
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
),
c AS (
  SELECT e.event_type,
         CAST(floor(least(greatest(e.value, t.lo), t.hi) * {_WZ_Q!r} + 0.5)
              AS BIGINT) AS cq,
         CASE WHEN e.value < t.lo THEN 1 ELSE 0 END AS is_lo,
         CASE WHEN e.value > t.hi THEN 1 ELSE 0 END AS is_hi,
         t.lo, t.hi
  FROM events e JOIN cuts t ON e.event_type = t.event_type
)
SELECT event_type, count(*) AS n,
       round(any_value(lo), 6) AS p05,
       round(any_value(hi), 6) AS p95,
       floor(sum(cq) / CAST(count(*) AS DOUBLE) / {_WZ_Q!r} * 1e6 + 0.5) / 1e6
         AS winsorized_mean,
       sum(is_lo)::BIGINT AS n_clipped_lo,
       sum(is_hi)::BIGINT AS n_clipped_hi
FROM c
GROUP BY 1
ORDER BY 1
"""

# --------------------------------------------------------------------------
# session_paths: entry-path analysis — the first 5 event types of every
# session (1-day gap sessionization, same contract as sessions_native)
# concatenated into a path, with session counts per path. The classic
# product-analytics "how do users start" rollup.
#
# Scale shape: ONE user_id window shuffle derives session ids
# (gaps-and-islands) AND orders events within the session (row_number
# on the same window spec); the path build keeps only rank ≤ 5 rows —
# so the second (user, session) aggregation sees ≤ 5 rows per session.
# The final path rollup is a tiny distinct-path-sized agg. Ordering is
# total (ts_us, event_id) → deterministic paths on both engines.
# --------------------------------------------------------------------------

_SP_DEPTH = 5


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.queries import _events_us
    from fink_science_spark.queries_ext9 import _SESS_GAP_US

    ev = _events_us(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    brk = F.when(
        F.col("ts_us") - F.lag("ts_us").over(w) > _SESS_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sid = F.sum(brk).over(wrun).cast("int")
    # rank within session via one more pass over the SAME window
    # partitioning: row_number over (user) minus the session's first
    # row_number would need a join; instead rank within (user, session)
    # directly — Spark plans both window specs on one user_id exchange.
    seq = ev.select(
        "user_id", "ts_us", "event_id", "event_type", sid.alias("session_id")
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    ranked = seq.select(
        "*", F.row_number().over(ws).alias("rk")
    ).filter(F.col("rk") <= _SP_DEPTH)
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )
    return paths


def _oracle_session_paths() -> str:
    from fink_science_spark.queries_ext9 import _SESS_GAP_US

    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
),
b AS (
  SELECT *,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM b
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts_us, event_id) AS rk
  FROM s
),
p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rk) AS path
  FROM r WHERE rk <= {_SP_DEPTH}
  GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 20
"""


ORACLE_SESSION_PATHS = _oracle_session_paths()


register("part_affinity", q_part_affinity, ORACLE_PART_AFFINITY)
register("sliding_distinct_users", q_sliding_distinct_users,
         ORACLE_SLIDING_DISTINCT_USERS)
register("last_touch_attribution", q_last_touch_attribution,
         ORACLE_LAST_TOUCH_ATTRIBUTION)
register("ewma_user_value", q_ewma_user_value, ORACLE_EWMA_USER_VALUE)
register("robust_outliers", q_robust_outliers, ORACLE_ROBUST_OUTLIERS)
register("phrase_match", q_phrase_match, ORACLE_PHRASE_MATCH)
register("containment_pairs", q_containment_pairs, ORACLE_CONTAINMENT_PAIRS)
register("winsorized_stats", q_winsorized_stats, ORACLE_WINSORIZED_STATS)
register("session_paths", q_session_paths, ORACLE_SESSION_PATHS)
