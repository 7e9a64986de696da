"""Alert and sky queries: light-curve history kernels, crossmatches,
the nested alert enrichment pipelines, per-band features, photometry,
period and phase fits, and the alert wire formats (replay, Avro, FITS)."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.arrays import (
    any_matching,
    collect_history,
    delta_last,
    first_above,
    last_in_band,
    trapezoid_integral,
)
from fink_science_spark.operators.aggregates import fit_features_per_group
from fink_science_spark.operators.period import (
    period_scan_native,
    period_scan_sql,
)
from fink_science_spark.operators.remote import (
    local_table_resolver,
    service_xmatch,
)
from fink_science_spark.operators.spatial import (
    equal_area_pixel,
    equal_area_pixel_sql,
    nearest_join_sky,
    parent_pixel,
    parent_pixel_sql,
)
from fink_science_spark.operators.stats import dft_power_sql
from fink_science_spark.registry import register
from fink_science_spark.tables import (
    _SCRATCH,
    DAY_US,
    _events_us,
    _fan_out,
    _t,
)

# --------------------------------------------------------------------------
# §1.2/§2.5 — history-array kernel (per-key light curves over events)
# --------------------------------------------------------------------------


def _user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one row per user with time-sorted (ts_us, value,
    event_type) arrays — the c-column data model built by collect_history."""
    ev = _events_us(spark, sf_dir)
    return collect_history(
        ev, key="user_id", order="ts_us", values=["value", "event_type"]
    )


def q_user_history_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History materialization + array kernel: size / element_at / delta of
    last two (deltamaglatest, SURVEY §2.8 first row; reference shape:
    tutorial/utilities.py:18-35)."""
    h = _user_history(spark, sf_dir)
    return h.select(
        "user_id",
        F.size("cvalue").alias("n_events"),
        F.round(F.element_at("cvalue", -1), 6).alias("last_value"),
        F.round(delta_last("cvalue"), 6).alias("delta_last"),
        (F.element_at("cts_us", -1) - F.element_at("cts_us", 1)).alias("span_us"),
    )


ORACLE_USER_HISTORY_STATS = """
WITH h AS (
  SELECT user_id,
         list(value ORDER BY epoch_us(ts), value)    AS cvalue,
         list(epoch_us(ts) ORDER BY epoch_us(ts))    AS cts
  FROM events GROUP BY user_id
)
SELECT user_id,
       len(cvalue)                                   AS n_events,
       round(cvalue[-1], 6)                          AS last_value,
       round(cvalue[-1] - cvalue[-2], 6)             AS delta_last,
       cts[-1] - cts[1]                              AS span_us
FROM h
"""


def q_history_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-in-band + first-above lookbacks over history arrays
    (get_last_alert / jdstarthist semantics, SURVEY §2.5; reference shape:
    ztf/fast_transient_rate/processor.py:33-115)."""
    h = _user_history(spark, sf_dir)
    return h.select(
        "user_id",
        F.round(
            last_in_band("cts_us", "cvalue", "cevent_type", "click"), 6
        ).alias("last_click_value"),
        first_above("cts_us", "cvalue", 400.0).alias("first_above_400_us"),
    )


ORACLE_HISTORY_LOOKBACK = """
SELECT user_id,
       round(max_by(value, epoch_us(ts)) FILTER (event_type = 'click'), 6)
           AS last_click_value,
       min(epoch_us(ts)) FILTER (value > 400.0) AS first_above_400_us
FROM events
GROUP BY user_id
"""


def q_history_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order filter + size over history arrays: count of valid
    measurements (nalerthist) and count within a trailing window of the
    latest (SURVEY §2.2 HOF filter+size, §2.4 non-NaN count;
    reference shape: ztf/nalerthist/processor.py:66,
    ztf/transient_features/processor.py:128-148)."""
    h = _user_history(spark, sf_dir)
    last_ts = F.element_at("cts_us", -1)
    n_valid = F.size(F.filter("cvalue", lambda x: x >= 10.0))
    n_recent = F.size(
        F.filter("cts_us", lambda t: t >= last_ts - F.lit(7 * DAY_US))
    )
    return h.select(
        "user_id",
        n_valid.alias("n_valid"),
        n_recent.alias("n_recent_7d"),
    )


ORACLE_HISTORY_WINDOW_COUNTS = """
WITH x AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         max(epoch_us(ts)) OVER (PARTITION BY user_id) AS last_t
  FROM events
)
SELECT user_id,
       count(*) FILTER (value >= 10.0)            AS n_valid,
       count(*) FILTER (t >= last_t - 604800000000) AS n_recent_7d
FROM x GROUP BY user_id
"""


def q_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe EXISTS over history arrays (SURVEY §2.2 EXISTS
    quantifier; reference shape: ztf/transient_features/processor.py:383-403)."""
    h = _user_history(spark, sf_dir)
    zipped = F.arrays_zip(
        F.col("cvalue").alias("v"), F.col("cevent_type").alias("b")
    )
    has_big_purchase = any_matching(
        zipped, lambda s: (s["b"] == "purchase") & (s["v"] > 450.0)
    )
    return h.select("user_id", has_big_purchase.alias("has_big_purchase"))


ORACLE_EXISTS_FLAG = """
SELECT user_id,
       coalesce(bool_or(event_type = 'purchase' AND value > 450.0), FALSE)
           AS has_big_purchase
FROM events
GROUP BY user_id
"""


def q_band_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band peak via transform+filter+array_min/max (SURVEY §2.2
    higher-order transform + array_min; reference shape:
    ztf/transient_features/processor.py:156-164)."""
    h = _user_history(spark, sf_dir)
    zipped = F.arrays_zip(F.col("cvalue").alias("v"), F.col("cevent_type").alias("b"))

    def peak(band: str):
        vals = F.transform(
            F.filter(zipped, lambda s: s["b"] == band), lambda s: s["v"]
        )
        return F.round(F.array_max(vals), 6)

    return h.select(
        "user_id",
        peak("error").alias("peak_error"),
        peak("purchase").alias("peak_purchase"),
    )


ORACLE_BAND_PEAKS = """
SELECT user_id,
       round(max(value) FILTER (event_type = 'error'), 6)    AS peak_error,
       round(max(value) FILTER (event_type = 'purchase'), 6) AS peak_purchase
FROM events
GROUP BY user_id
"""


_MC_DRAWS = 100
_MC_SCALE = float(2**60)  # hash64 range; exactly representable


def q_mc_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Monte-Carlo rate kernel (magnitude_rate shape,
    ztf/fast_transient_rate/processor.py:119-301): per purchase event,
    100 deterministic normal draws → rate estimate ± error.

    Round 2: the draws are COUNTER-BASED — uniforms come from the
    portable md5 hash of (event_id, draw index), normals via Box–Muller
    — so the whole kernel is native column algebra (explode → codegen'd
    hash/sqrt/ln/cos → group-agg): no Python at all, vectorized by
    whole-stage codegen, and exactly reproducible in the DuckDB oracle
    (this was the registry's only rows-only scoring query in round 1).
    Same statistics as the old per-row default_rng loop (mean, population
    std of 100 scaled normals); seeding is per-(event, draw), the
    standard Philox-style counter construction.

    TWO normals per md5: Box–Muller turns one digest's two 60-bit
    uniform halves (hex digits 1-15 and 16-30) into BOTH the cos and the
    sin normal, so 100 samples cost 50 digests — md5 is the dominant
    per-draw cost, and halving it cut the sf0.1 wall ~2x. The mean/std
    are assembled from codegen'd sum / sum-of-squares partials (map-side
    combine), the same explicit formula the oracle runs."""
    # fan the narrow (event_id, value) rows out before the 50x explode +
    # md5 chain: the single-row-group scan otherwise runs ~1.25M digests
    # in ONE task (measured 1.59 s of the query's 2.0 s at sf0.1)
    ev = _fan_out(
        spark, sf_dir, "events",
        _t(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        ).select("event_id", "value"),
        key="event_id",
    )
    draws = ev.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(_MC_DRAWS // 2 - 1)))
    )
    import math

    digest = F.md5(
        F.concat_ws(
            ":", F.col("event_id").cast("string"), F.col("j").cast("string")
        )
    )

    def unif(pos: int) -> "F.Column":
        h = F.conv(F.substring(digest, pos, 15), 16, 10).cast("long")
        # +1 → (0,1] so ln(u) is finite
        return (h + 1) / F.lit(_MC_SCALE)

    r = F.sqrt(-2.0 * F.log(unif(1)))
    theta = 2 * math.pi * unif(16)
    s1 = F.col("value") * (1.0 + 0.1 * r * F.cos(theta))
    s2 = F.col("value") * (1.0 + 0.1 * r * F.sin(theta))
    n = float(_MC_DRAWS)
    agg = (
        draws.withColumn("ss", s1 + s2)
        .withColumn("sq", s1 * s1 + s2 * s2)
        .groupBy("event_id")
        .agg(F.sum("ss").alias("S"), F.sum("sq").alias("SQ"))
    )
    mean = F.col("S") / n
    var = F.greatest(F.col("SQ") / n - mean * mean, F.lit(0.0))
    return agg.select(
        "event_id",
        F.round(mean, 6).alias("rate"),
        F.round(F.sqrt(var), 6).alias("rate_err"),
    )


ORACLE_MC_RATE = f"""
WITH ev AS (
  SELECT event_id, value FROM events WHERE event_type = 'purchase'
),
d AS (
  SELECT event_id, value, unnest(generate_series(0, {_MC_DRAWS // 2 - 1})) AS j
  FROM ev
),
h AS (
  SELECT event_id, value,
         md5(event_id::VARCHAR || ':' || j::VARCHAR) AS hx
  FROM d
),
u AS (
  SELECT event_id, value,
         (('0x' || substr(hx, 1, 15))::BIGINT + 1) / {_MC_SCALE!r} AS u1,
         (('0x' || substr(hx, 16, 15))::BIGINT + 1) / {_MC_SCALE!r} AS u2
  FROM h
),
s AS (
  SELECT event_id,
         value * (1.0 + 0.1 * (sqrt(-2.0 * ln(u1)) * cos(2.0 * pi() * u2)))
             AS s1,
         value * (1.0 + 0.1 * (sqrt(-2.0 * ln(u1)) * sin(2.0 * pi() * u2)))
             AS s2
  FROM u
),
agg AS (
  SELECT event_id, sum(s1 + s2) AS S, sum(s1*s1 + s2*s2) AS SQ
  FROM s GROUP BY event_id
)
SELECT event_id,
       round(S / {_MC_DRAWS}.0, 6) AS rate,
       round(sqrt(greatest(SQ / {_MC_DRAWS}.0
                           - (S / {_MC_DRAWS}.0) * (S / {_MC_DRAWS}.0),
                           0.0)), 6) AS rate_err
FROM agg
"""


# --------------------------------------------------------------------------
# Deterministic synthetic sky coordinates (LCG on integer keys: integer
# mod then one exact double division — bit-identical in any engine).
# --------------------------------------------------------------------------

_M = 233280


def _ra(key, a, b):  # Spark Column form
    return ((F.col(key) * a + b) % _M) * (360.0 / _M)


def _dec(key, a, b):
    return ((F.col(key) * a + b) % _M) * (120.0 / _M) - 60.0


def _ra_sql(key, a, b):
    return f"(({key} * {a} + {b}) % {_M}) * (360.0 / {_M})"


def _dec_sql(key, a, b):
    return f"(({key} * {a} + {b}) % {_M}) * (120.0 / {_M}) - 60.0"


_CUST_RA = (9301, 49297)
_CUST_DEC = (7919, 104729)
_SUPP_RA = (6271, 35531)
_SUPP_DEC = (4177, 83987)
_SKY_RADIUS = 15.0
_HAVERSINE_SQL = (
    "degrees(2 * asin(sqrt("
    "pow(sin(radians({dec2} - {dec1}) / 2), 2) + "
    "cos(radians({dec1})) * cos(radians({dec2})) * "
    "pow(sin(radians({ra2} - {ra1}) / 2), 2))))"
)


def q_crossmatch_sky(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship join: 1-NN sky crossmatch of customers (alerts) against
    the supplier catalog (broadcast side) within 15°, via (ra_block,
    dec_zone) grid bucketing + haversine refine + arg-min (SURVEY §2.3;
    reference shape: cross_match_astropy, ztf/xmatch/utils.py:32-82).
    Coordinates are deterministic LCG functions of the integer keys."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _ra("c_custkey", *_CUST_RA).alias("ra"),
        _dec("c_custkey", *_CUST_DEC).alias("dec"),
    )
    # fan out the probe side: grid-expand + haversine refine otherwise
    # run in the ONE scan task (0.41 s 1-task job); no-op at scale
    cust = _fan_out(spark, sf_dir, "customer", cust, key="c_custkey")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _ra("s_suppkey", *_SUPP_RA).alias("ra"),
        _dec("s_suppkey", *_SUPP_DEC).alias("dec"),
    )
    nn = nearest_join_sky(
        cust, supp, "c_custkey", "ra", "dec", "s_suppkey", "ra", "dec",
        radius_deg=_SKY_RADIUS,
    )
    return nn.select(
        "c_custkey", "s_suppkey", F.round("dist_deg", 6).alias("dist_deg")
    )


ORACLE_CROSSMATCH_SKY = f"""
WITH c AS (SELECT c_custkey,
                  {_ra_sql('c_custkey', *_CUST_RA)} AS ra,
                  {_dec_sql('c_custkey', *_CUST_DEC)} AS dec
           FROM customer),
s AS (SELECT s_suppkey,
             {_ra_sql('s_suppkey', *_SUPP_RA)} AS ra,
             {_dec_sql('s_suppkey', *_SUPP_DEC)} AS dec
      FROM supplier),
cand AS (
  SELECT c_custkey, s_suppkey,
         {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec', ra2='s.ra', dec2='s.dec')} AS d
  FROM c, s
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY d ASC, s_suppkey ASC) AS rn
  FROM cand WHERE d <= {_SKY_RADIUS}
)
SELECT c_custkey, s_suppkey, round(d, 6) AS dist_deg
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Per-group Arrow feature fit (M5 / §2.8 applyInPandas surface)
# --------------------------------------------------------------------------


def q_group_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user light-curve feature fit (applyInPandas + numpy closed-form
    least squares) over purchase events; time axis in days so the slope is
    O(1) (SURVEY §2.4 group-by light curve / §2.8 engine lesson)."""
    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    ev = ev.withColumn("t_days", F.col("ts_us") / F.lit(86400e6))
    fitted = fit_features_per_group(ev, "user_id", "t_days", "value", min_points=2)
    # round at 6, not 4: the mean of n 2-decimal values is an exact decimal
    # when n is 2^a·5^b (e.g. n=8 → 5 decimal digits), so rounding at 4
    # lands exactly on .xxxx5 ties where engine ulp noise decides the side.
    return fitted.select(
        "user_id",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("amp", 6).alias("amp"),
        F.round("slope", 6).alias("slope"),
    )


ORACLE_GROUP_FEATURES = """
SELECT user_id, count(*) AS n,
       round(avg(value), 6)                               AS mean,
       round(max(value) - min(value), 6)                  AS amp,
       round(regr_slope(value, epoch_us(ts) / 86400e6), 6) AS slope
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
HAVING count(*) >= 2 AND var_pop(epoch_us(ts) / 86400e6) > 0
"""


def q_trapezoid_fluence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-fluence trapezoidal integral of value over time (days) per
    user, over the full time-sorted history arrays (SURVEY §2.4
    trapezoidal integral; reference shape:
    ztf/blazar_extreme_state/utils.py:122-146)."""
    from fink_science_spark.functions.arrays import collect_history

    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    h = collect_history(ev, key="user_id", order="t_days", values=["value"])
    return h.select(
        "user_id",
        F.round(trapezoid_integral("ct_days", "cvalue"), 4).alias("fluence"),
    )


ORACLE_TRAPEZOID_FLUENCE = """
WITH h AS (
  SELECT user_id,
         list(epoch_us(ts) / 86400e6 ORDER BY epoch_us(ts) / 86400e6, value) AS t,
         list(value ORDER BY epoch_us(ts) / 86400e6, value)                  AS v
  FROM events GROUP BY user_id
)
SELECT user_id,
       round(coalesce(list_sum(
         [ (v[i] + v[i+1]) / 2 * (t[i+1] - t[i])
           for i in generate_series(1, len(t) - 1) ]), 0.0), 4) AS fluence
FROM h
"""


# --------------------------------------------------------------------------
# Nested alert data model (§1.1/1.2): candidate struct + prv_candidates
# --------------------------------------------------------------------------


def q_alert_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end nested alert pipeline: build the candidate-struct +
    prv_candidates-array layout from the event stream, derive c-columns
    with concat_col (the reference's most load-bearing operator, SURVEY
    §1.2), then run an enrichment module stack over the nested fields —
    history count, delta of last two, valid-measurement count, and a
    brightening flag via implicit struct-field extraction on the history
    array (candidate.value vs array_max(prv_candidates.value))."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")
    return df.select(
        "user_id",
        F.size("prv_candidates").alias("n_prv"),
        F.round(delta_last("cvalue"), 6).alias("delta_last"),
        F.size(F.filter("cvalue", lambda x: x >= 10.0)).alias("n_valid"),
        F.coalesce(
            F.col("candidate.value") > F.array_max("prv_candidates.value"),
            F.lit(False),
        ).alias("is_brightening"),
    )


ORACLE_ALERT_ENRICHMENT = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       n - 1 AS n_prv,
       CASE WHEN n >= 2 THEN round(vs[-1] - vs[-2], 6) END AS delta_last,
       len(list_filter(vs, x -> x >= 10.0)) AS n_valid,
       coalesce(vs[-1] > list_max(list_slice(vs, 1, n - 1)), FALSE)
           AS is_brightening
FROM agg
"""


# --------------------------------------------------------------------------
# Alert rule cascade (M2: roid_catcher as native boolean algebra)
# --------------------------------------------------------------------------


def q_alert_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-cascade flag derivation over the nested alert layout — the
    roid_catcher shape (reference: rule-based flags 0-3,
    ztf/asteroids/processor.py:29-167) as pure boolean column algebra over
    candidate fields and history arrays; no UDF."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")
    n_prv = F.size("prv_candidates")
    delta = delta_last("cvalue")
    flag = (
        F.when((F.col("candidate.value") > 450) & (n_prv >= 5), 3)
        .when((F.col("candidate.value") > 300) & (delta > 0), 2)
        .when(n_prv == 0, 1)
        .otherwise(0)
    )
    return df.select("user_id", flag.alias("flag"))


ORACLE_ALERT_RULE_FLAGS = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CASE WHEN vs[-1] > 450 AND n - 1 >= 5 THEN 3
            WHEN vs[-1] > 300 AND n >= 2 AND vs[-1] - vs[-2] > 0 THEN 2
            WHEN n - 1 = 0 THEN 1
            ELSE 0 END AS flag
FROM agg
"""


# --------------------------------------------------------------------------
# Catalog standardization (standardized_flux shape) + extreme state
# --------------------------------------------------------------------------


def q_standardized_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """standardized_flux pattern (reference: flux / per-band catalog
    median, ztf/standardized_flux/processor.py:31-179): build the per-type
    median catalog, broadcast it back onto the event stream, emit
    value / median. The in-UDF catalog load of the reference becomes a
    proper broadcast join."""
    ev = _t(spark, sf_dir, "events")
    catalog = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__med")
    )
    return (
        ev.join(F.broadcast(catalog), "event_type")
        .select(
            "event_id",
            F.round(F.col("value") / F.col("__med"), 6).alias("standardized"),
        )
    )


ORACLE_STANDARDIZED_VALUE = """
WITH cat AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
)
SELECT event_id, round(value / med, 6) AS standardized
FROM events JOIN cat USING (event_type)
"""


def q_extreme_state_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extreme_state pattern (reference: threshold-exceedance ratios,
    ztf/blazar_extreme_state/processor.py:67-277): per (user, type), the
    fraction of measurements above the type's global 90th percentile —
    high-state detection via a broadcast threshold catalog."""
    ev = _t(spark, sf_dir, "events")
    thresholds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.9)).alias("__p90")
    )
    joined = ev.join(F.broadcast(thresholds), "event_type")
    return (
        joined.groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.avg(F.when(F.col("value") > F.col("__p90"), 1.0).otherwise(0.0)), 6
            ).alias("high_ratio"),
        )
    )


ORACLE_EXTREME_STATE_RATIO = """
WITH th AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90
  FROM events GROUP BY event_type
)
SELECT user_id, event_type, count(*) AS n,
       round(avg(CASE WHEN value > p90 THEN 1.0 ELSE 0.0 END), 6) AS high_ratio
FROM events JOIN th USING (event_type)
GROUP BY user_id, event_type
"""


def q_band_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(object, band) feature extraction — the reference's marquee
    per-band UDF (ad_features: 26 features per filter id via the
    light-curve extractor, ztf/ad_features/processor.py:36-75) as one
    Arrow kernel per (user, event_type) group emitting the full
    26-feature set — every feature with an exact SQL twin, including
    Anderson–Darling normality (both engines evaluate the same A-S erf
    polynomial). See operators/aggregates.band_features_per_group."""
    from fink_science_spark.operators.aggregates import (
        BAND_FEATURE_COLS,
        band_features_per_group,
    )

    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    # the per-row JSON parse (err) and the map side of the collect_list
    # agg both ran inside the ONE scan task of the single-row-group test
    # file; fan the narrow rows out FIRST (props still unparsed), parse
    # err in parallel after, and the groupBy(user_id, event_type)
    # distribution is already satisfied (subset key) so no second
    # exchange appears. Interleaved A/B: 1.32 -> 1.07 s median (no-op at
    # scale, see tables._fan_out).
    ev = _fan_out(
        spark, sf_dir, "events",
        ev.select("user_id", "event_type", "t_days", "value", "props"),
        key="user_id", bytes_per_task=64 << 10,
    ).withColumn(
        "err", F.get_json_object("props", "$.k").cast("double") + 1.0
    )
    feats = band_features_per_group(
        ev, ["user_id", "event_type"], "t_days", "value", err_col="err",
        min_points=3,
    )
    return feats.select(
        "user_id",
        "event_type",
        "n",
        *[F.round(c, 6).alias(c) for c in BAND_FEATURE_COLS[1:]],
    )


# The band-features SQL twin is split into a reusable CTE chain + a
# per-feature expression table so other oracles (anomaly_real_lc in
# queries_models feeds the REAL anomaly forests with these features) can
# embed the same text inside their own WITH blocks — one source of
# truth for every feature's SQL semantics.
BF_CTES_TEMPLATE = """x AS (
  SELECT user_id, event_type, value AS v,
         epoch_us(ts) / 86400e6 AS t,
         json_extract_string(props, '$.k')::DOUBLE + 1.0 AS err
  FROM {src}
),
xc AS (  -- per-row centered time (kills the |t|^2 cancellation in the fits)
  SELECT *, t - avg(t) OVER g AS tc, 1.0 / (err * err) AS w
  FROM x
  WINDOW g AS (PARTITION BY user_id, event_type)
),
m AS (
  SELECT user_id, event_type,
         count(*) AS n, avg(v) AS mean, stddev_samp(v) AS std,
         var_samp(v) AS var, min(v) AS vmin, max(v) AS vmax,
         quantile_cont(v, 0.5)  AS med,
         quantile_cont(v, 0.05) AS q05, quantile_cont(v, 0.10) AS q10,
         quantile_cont(v, 0.20) AS q20, quantile_cont(v, 0.40) AS q40,
         quantile_cont(v, 0.60) AS q60, quantile_cont(v, 0.80) AS q80,
         quantile_cont(v, 0.90) AS q90, quantile_cont(v, 0.95) AS q95,
         sum(w) AS sw, sum(w * v) / sum(w) AS wmean,
         sum(tc * tc) AS st2, sum(tc * v) AS stv,
         sum(w * tc) AS swt, sum(w * v) AS swv,
         sum(w * tc * tc) AS swtt, sum(w * tc * v) AS swtv
  FROM xc GROUP BY user_id, event_type
),
p AS (  -- closed-form fit parameters (normal equations on centered time)
  SELECT *,
         CASE WHEN st2 > 0 THEN stv / st2 END AS b0,
         sw * swtt - swt * swt AS det,
         CASE WHEN sw * swtt - swt * swt > 0
              THEN (sw * swtv - swt * swv) / (sw * swtt - swt * swt)
         END AS b
  FROM m
),
p2 AS (
  SELECT *, CASE WHEN b IS NOT NULL THEN (swv - b * swt) / sw END AS a
  FROM p
),
seq AS (  -- time-ordered stats: running deviation sum, successive diffs
  SELECT x.user_id, x.event_type,
         sum(x.v) OVER w - row_number() OVER w * m.mean AS s_dev,
         (x.v - lag(x.v) OVER w) AS dvv,
         abs((x.v - lag(x.v) OVER w) / (x.t - lag(x.t) OVER w)) AS sl,
         x.t - lag(x.t) OVER w AS dt
  FROM x JOIN m USING (user_id, event_type)
  WINDOW w AS (PARTITION BY x.user_id, x.event_type ORDER BY x.t, x.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
sq AS (
  SELECT user_id, event_type,
         max(s_dev) - min(s_dev) AS s_range,
         sum(dvv * dvv) AS sdd,
         max(CASE WHEN dt > 0 THEN sl END) AS max_slope
  FROM seq GROUP BY user_id, event_type
),
adr AS (  -- Anderson-Darling per-row terms: same A-S erf polynomial as
          -- operators/aggregates._phi_normal, rank over value order
          -- (= sort of z; tie order cannot change the weighted sum)
  SELECT x.user_id, x.event_type, m.n,
         row_number() OVER (PARTITION BY x.user_id, x.event_type
                            ORDER BY x.v) AS i,
         ((x.v - m.mean) / m.std) / sqrt(2.0) AS xx
  FROM x JOIN m USING (user_id, event_type)
  WHERE m.std > 0
),
adp AS (
  SELECT user_id, event_type, n, i,
         0.5 * (1.0 + (CASE WHEN xx < 0 THEN -1.0 ELSE 1.0 END) *
           (1.0 - (((((1.061405429 * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                       - 1.453152027) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                      + 1.421413741) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                     - 0.284496736) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                    + 0.254829592) * (1.0 / (1.0 + 0.3275911 * abs(xx)))
                  * exp(-abs(xx) * abs(xx))))) AS phi
  FROM adr
),
ads AS (
  SELECT user_id, event_type,
         (-any_value(n) - sum((2.0 * i - 1.0) * ln(phi)
                              + (2.0 * (n - i) + 1.0) * ln(1.0 - phi))
                          / any_value(n))
         * (1.0 + 4.0 / any_value(n)
            - 25.0 / (any_value(n) * any_value(n))) AS ad
  FROM adp GROUP BY user_id, event_type
)"""

# Per-feature SQL expressions (aggregates over xc joined p2/sq/ads),
# keyed by the BAND_FEATURE_COLS name. Unrounded — the select builder
# applies round(..., 6).
BF_FEATURE_SQL: dict[str, str] = {
    "mean": "any_value(p2.mean)",
    "weighted_mean": "any_value(p2.wmean)",
    "std": "any_value(p2.std)",
    "median": "any_value(p2.med)",
    "amplitude": "(any_value(p2.vmax) - any_value(p2.vmin)) / 2.0",
    "beyond_1_std": (
        "avg(CASE WHEN abs(xc.v - p2.mean) > p2.std THEN 1.0 ELSE 0.0 END)"
    ),
    "mad": "median(abs(xc.v - p2.med))",
    "skew": (
        "avg(pow(xc.v - p2.mean, 3))"
        " / nullif(pow(avg(pow(xc.v - p2.mean, 2)), 1.5), 0)"
    ),
    "kurt": (
        "avg(pow(xc.v - p2.mean, 4))"
        " / nullif(pow(avg(pow(xc.v - p2.mean, 2)), 2.0), 0) - 3.0"
    ),
    "max_slope": "any_value(sq.max_slope)",
    "cusum": (
        "CASE WHEN any_value(p2.std) > 0 THEN any_value(sq.s_range)"
        " / (any_value(p2.n) * any_value(p2.std)) END"
    ),
    "ipr10": "any_value(p2.q90) - any_value(p2.q10)",
    "eta": (
        "CASE WHEN any_value(p2.var) > 0 THEN any_value(sq.sdd)"
        " / ((any_value(p2.n) - 1) * any_value(p2.var)) END"
    ),
    "linear_trend": "any_value(p2.b0)",
    "linear_trend_sigma": (
        "CASE WHEN any_value(p2.b0) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sqrt(sum((xc.v - p2.mean - p2.b0 * xc.tc)"
        " * (xc.v - p2.mean - p2.b0 * xc.tc))"
        " / ((any_value(p2.n) - 2) * any_value(p2.st2))) END"
    ),
    "linear_fit_slope": "any_value(p2.b)",
    "linear_fit_chi2": (
        "CASE WHEN any_value(p2.a) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sum(xc.w * (xc.v - p2.a - p2.b * xc.tc)"
        " * (xc.v - p2.a - p2.b * xc.tc)) / (any_value(p2.n) - 2) END"
    ),
    "mpr_40_05": (
        "(any_value(p2.q60) - any_value(p2.q40))"
        " / nullif(any_value(p2.q95) - any_value(p2.q05), 0)"
    ),
    "mpr_20_10": (
        "(any_value(p2.q80) - any_value(p2.q20))"
        " / nullif(any_value(p2.q90) - any_value(p2.q10), 0)"
    ),
    "median_buffer_pct": (
        "avg(CASE WHEN abs(xc.v - p2.med) < 0.1"
        " * ((p2.vmax - p2.vmin) / 2.0) THEN 1.0 ELSE 0.0 END)"
    ),
    "percent_amplitude": (
        "greatest(any_value(p2.vmax) - any_value(p2.med),"
        " any_value(p2.med) - any_value(p2.vmin))"
    ),
    "mean_variance": "any_value(p2.std) / nullif(any_value(p2.mean), 0)",
    "reduced_chi2": (
        "sum(((xc.v - p2.wmean) / xc.err) * ((xc.v - p2.wmean) / xc.err))"
        " / (any_value(p2.n) - 1)"
    ),
    "stetson_k": (
        "CASE WHEN avg(((xc.v - p2.wmean) / xc.err)"
        " * ((xc.v - p2.wmean) / xc.err)) > 0"
        " THEN avg(abs((xc.v - p2.wmean) / xc.err))"
        " / sqrt(avg(((xc.v - p2.wmean) / xc.err)"
        " * ((xc.v - p2.wmean) / xc.err))) END"
    ),
    "anderson_darling_normal": "any_value(ads.ad)",
    "linear_fit_slope_sigma": (
        "CASE WHEN any_value(p2.b) IS NOT NULL"
        " THEN sqrt(any_value(p2.sw) / any_value(p2.det)) END"
    ),
    "linear_trend_noise": (
        "CASE WHEN any_value(p2.b0) IS NOT NULL AND any_value(p2.n) > 2"
        " THEN sqrt(sum((xc.v - p2.mean - p2.b0 * xc.tc)"
        " * (xc.v - p2.mean - p2.b0 * xc.tc))"
        " / (any_value(p2.n) - 2)) END"
    ),
}


def band_features_ctes(src: str = "events") -> str:
    """The shared CTE chain (x .. ads) over a source relation exposing
    user_id, event_type, value, ts, props — embeddable inside a caller's
    WITH block (including WITH RECURSIVE)."""
    return BF_CTES_TEMPLATE.format(src=src)


def band_features_select(features: list[str], min_pts: int = 3) -> str:
    """The final per-(user_id, event_type) feature select over the
    band_features_ctes chain, emitting ``features`` in order (each
    rounded at 6) plus the leading n column."""
    cols = ",\n       ".join(
        f"round({BF_FEATURE_SQL[f]}, 6) AS {f}" for f in features
    )
    return f"""SELECT xc.user_id, xc.event_type,
       any_value(p2.n) AS n,
       {cols}
FROM xc
JOIN p2 USING (user_id, event_type)
LEFT JOIN sq USING (user_id, event_type)
LEFT JOIN ads USING (user_id, event_type)
GROUP BY xc.user_id, xc.event_type
HAVING any_value(p2.n) >= {min_pts}"""


def _oracle_band_features() -> str:
    from fink_science_spark.operators.aggregates import BAND_FEATURE_COLS

    return (
        "WITH "
        + band_features_ctes()
        + "\n"
        + band_features_select(BAND_FEATURE_COLS[1:], 3)
    )


def q_alert_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical chained enrichment query (SURVEY §3.1: the SNN
    lifecycle): build nested alerts → c-columns → rule-cascade flag module
    → masked Arrow scoring module gated on the flag (downstream module
    consuming an upstream module's output) → native post-filter →
    aggregate. One query exercising the whole module lifecycle the
    reference chains per micro-batch."""
    from fink_science_spark.functions.arrays import concat_col, delta_last
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.sources.alerts import build_alerts

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us", "value", "event_type")
    alerts = build_alerts(ev, "user_id", "ts_us", ["value", "event_type"])
    df = concat_col(alerts, "value")

    n_prv = F.size("prv_candidates")
    delta = delta_last("cvalue")
    flag = (
        F.when((F.col("candidate.value") > 200) & (n_prv >= 5), 3)
        .when((F.col("candidate.value") > 50) & (delta > 0), 2)
        .when(n_prv == 0, 1)
        .otherwise(0)
    )
    flagged = df.withColumn("flag", flag).withColumn(
        "last_value", F.col("candidate.value")
    )

    @F.pandas_udf("double")
    def sigmoid_score(value: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(value - 100.0) / 30.0))

    scored = apply_masked_pandas_kernel(
        flagged.select("user_id", "flag", "last_value"),
        mask=F.col("flag") >= 2,
        kernel_udf=sigmoid_score,
        input_cols=["last_value"],
        output_col="score",
        default=0.0,
        output_type="double",
    )
    return (
        scored.filter(F.col("score") > 0.25)
        .groupBy("flag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
    )


ORACLE_ALERT_PIPELINE = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         list(value ORDER BY epoch_us(ts), value) AS vs
  FROM events GROUP BY user_id
),
flagged AS (
  SELECT user_id, vs[-1] AS last_value,
         CASE WHEN vs[-1] > 200 AND n - 1 >= 5 THEN 3
              WHEN vs[-1] > 50 AND n >= 2 AND vs[-1] - vs[-2] > 0 THEN 2
              WHEN n - 1 = 0 THEN 1
              ELSE 0 END AS flag
  FROM agg
),
scored AS (
  SELECT flag,
         CASE WHEN flag >= 2
              THEN 1.0 / (1.0 + exp(-(last_value - 100.0) / 30.0))
              ELSE 0.0 END AS score
  FROM flagged
)
SELECT flag, count(*) AS n, round(avg(score), 6) AS avg_score
FROM scored WHERE score > 0.25
GROUP BY flag
"""


_XMATCH_RADIUS = 10.0


# --------------------------------------------------------------------------
# Remote-service crossmatch (§2.1 HTTP source / §2.3 remote service join)
# --------------------------------------------------------------------------


def q_remote_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cdsxmatch pipeline (reference:
    ztf/xmatch/processor.py:124-195): batch positions through a transport,
    arg-min dedup the returned candidates, left join back, "Unknown" fill.
    Transport here is the deterministic local resolver (supplier table as
    the 'remote catalog', loaded once per worker via ExecutorRegistry);
    production swaps in the HTTP POST callable — the pipeline is
    transport-agnostic by construction."""
    sup_path = os.path.join(sf_dir, "supplier.parquet")

    def load_catalog():
        import pandas as pd

        return pd.read_parquet(sup_path, columns=["s_suppkey", "s_acctbal"])

    transport = local_table_resolver(
        load_catalog,
        registry_key=f"supplier_catalog:{sup_path}",
        coord_col="c_acctbal",
        name_col="s_suppkey",
        ref_coord_col="s_acctbal",
        radius=_XMATCH_RADIUS,
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # fan out the batched-transport kernel (ran in the ONE scan task:
    # 0.78 s 1-task job); no-op at scale
    cust = _fan_out(spark, sf_dir, "customer", cust, key="c_custkey")
    out = service_xmatch(
        cust, "c_custkey", ["c_acctbal"], transport, out_col="xmatch"
    )
    return out.select(
        "c_custkey", "xmatch", F.round("xmatch_dist", 6).alias("xmatch_dist")
    )


ORACLE_REMOTE_XMATCH = f"""
WITH cand AS (
  SELECT c_custkey, s_suppkey::VARCHAR AS name,
         abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= {_XMATCH_RADIUS}
),
best AS (
  SELECT c_custkey, name, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY dist ASC, name ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT c.c_custkey,
       coalesce(b.name, 'Unknown') AS xmatch,
       round(b.dist, 6)            AS xmatch_dist
FROM customer c LEFT JOIN best b USING (c_custkey)
"""


def q_lookback_with_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The get_last_alert semantics (reference:
    ztf/fast_transient_rate/processor.py:33-115): walking back through a
    history where faint epochs carry NULL measurement and only an upper
    limit, report the last real measurement per (user, band) AND the last
    upper limit SINCE that measurement (the reference's fallback pair).
    Values < 10 model the below-threshold epochs (magpsf NULL +
    diffmaglim set, FIXTURES §1 prv_candidates note)."""
    ev = _events_us(spark, sf_dir)
    meas = F.when(F.col("value") >= 10.0, F.col("value"))
    limit = F.when(F.col("value") < 10.0, F.col("value"))
    shaped = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        meas.alias("meas"),
        limit.alias("lim"),
    )
    agg = shaped.groupBy("user_id", "event_type").agg(
        F.max_by("meas", F.when(F.col("meas").isNotNull(), F.col("ts_us"))).alias(
            "last_meas"
        ),
        F.max(F.when(F.col("meas").isNotNull(), F.col("ts_us"))).alias(
            "last_meas_ts"
        ),
        F.max_by("lim", F.when(F.col("lim").isNotNull(), F.col("ts_us"))).alias(
            "last_lim"
        ),
        F.max(F.when(F.col("lim").isNotNull(), F.col("ts_us"))).alias(
            "last_lim_ts"
        ),
    )
    newer_lim = F.col("last_lim_ts") > F.coalesce(
        F.col("last_meas_ts"), F.lit(-1)
    )
    return agg.select(
        "user_id",
        "event_type",
        F.round("last_meas", 6).alias("last_meas"),
        F.round(F.when(newer_lim, F.col("last_lim")), 6).alias(
            "limit_since_meas"
        ),
    )


ORACLE_LOOKBACK_WITH_LIMITS = """
WITH shaped AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         CASE WHEN value >= 10.0 THEN value END AS meas,
         CASE WHEN value < 10.0 THEN value END  AS lim
  FROM events
),
agg AS (
  SELECT user_id, event_type,
         max_by(meas, CASE WHEN meas IS NOT NULL THEN t END) AS last_meas,
         max(CASE WHEN meas IS NOT NULL THEN t END)          AS last_meas_ts,
         max_by(lim, CASE WHEN lim IS NOT NULL THEN t END)   AS last_lim,
         max(CASE WHEN lim IS NOT NULL THEN t END)           AS last_lim_ts
  FROM shaped GROUP BY user_id, event_type
)
SELECT user_id, event_type,
       round(last_meas, 6) AS last_meas,
       round(CASE WHEN last_lim_ts > coalesce(last_meas_ts, -1)
                  THEN last_lim END, 6) AS limit_since_meas
FROM agg
"""


def q_remote_xmatch_nullsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Rubin null-semantics variant of the service crossmatch: same
    pipeline as remote_xmatch but unmatched rows keep NULL instead of the
    'Unknown' sentinel (the tri-state contract documented at
    rubin/xmatch/processor.py:69-74)."""
    sup_path = os.path.join(sf_dir, "supplier.parquet")

    def load_catalog():
        import pandas as pd

        return pd.read_parquet(sup_path, columns=["s_suppkey", "s_acctbal"])

    transport = local_table_resolver(
        load_catalog,
        registry_key=f"supplier_catalog:{sup_path}",
        coord_col="c_acctbal",
        name_col="s_suppkey",
        ref_coord_col="s_acctbal",
        radius=_XMATCH_RADIUS,
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = service_xmatch(
        cust, "c_custkey", ["c_acctbal"], transport, out_col="xmatch",
        unmatched=None,
    )
    return out.select(
        "c_custkey", "xmatch", F.round("xmatch_dist", 6).alias("xmatch_dist")
    )


ORACLE_REMOTE_XMATCH_NULLSEM = f"""
WITH cand AS (
  SELECT c_custkey, s_suppkey::VARCHAR AS name,
         abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= {_XMATCH_RADIUS}
),
best AS (
  SELECT c_custkey, name, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY dist ASC, name ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT c.c_custkey, b.name AS xmatch, round(b.dist, 6) AS xmatch_dist
FROM customer c LEFT JOIN best b USING (c_custkey)
"""


# --------------------------------------------------------------------------
# §2.8 SSOFT phase-curve fit: closed-form HG per (object, band)
# --------------------------------------------------------------------------

# Deterministic synthetic phase curve: phase angle from event_id, reduced
# magnitude follows an H=15, G=0.15 Bowell curve + a value-derived
# perturbation (±0.245 mag). Both engines compute the identical columns.
_ALPHA_DEG_SQL = "3.0 + (event_id % 2160) * (27.0 / 2160)"
_H_TRUE, _G_TRUE = 15.0, 0.15
_HG_MIN_POINTS = 5


def _alpha_deg_spark():
    return F.lit(3.0) + (F.col("event_id") % 2160) * (27.0 / 2160)


def q_ssoft_hg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSOFT batch pipeline: aggregate per-(object, band) light curves,
    then the closed-form HG phase-curve fit (the linear-least-squares form
    of ztf/ssoft/processor.py:436-671 `estimate_sso_params` for the HG
    model). One shuffle + one scalar Arrow kernel; see
    operators/phase_curve.py for the algebra and the 100 TB story."""
    from fink_science_spark.operators.phase_curve import (
        hg_fit_per_group,
        hg_phase_terms_sql,
    )

    alpha = F.radians(_alpha_deg_spark())
    phi1_sql, phi2_sql = hg_phase_terms_sql("alpha")
    # reduced magnitude on the true curve + perturbation, computed natively
    ev = (
        _events_us(spark, sf_dir)
        .withColumn("alpha", alpha)
        .withColumn(
            "mred",
            F.lit(_H_TRUE)
            - 2.5
            * F.log10(
                F.lit(1.0 - _G_TRUE) * F.expr(phi1_sql)
                + F.lit(_G_TRUE) * F.expr(phi2_sql)
            )
            + (F.col("value") - 245.0) / 1000.0,
        )
    )
    fit = hg_fit_per_group(
        ev, ["user_id", "event_type"], "alpha", "mred",
        min_points=_HG_MIN_POINTS,
    )
    return fit.select(
        "user_id",
        "event_type",
        "n",
        F.round("h", 6).alias("h"),
        F.round("g", 6).alias("g"),
    )


def _oracle_ssoft_hg_fit() -> str:
    from fink_science_spark.operators.phase_curve import hg_phase_terms_sql

    phi1, phi2 = hg_phase_terms_sql("alpha")
    return f"""
WITH obs AS (
  SELECT user_id, event_type,
         radians({_ALPHA_DEG_SQL}) AS alpha, value
  FROM events
),
xy AS (
  SELECT user_id, event_type,
         {phi1} AS x1, {phi2} AS x2,
         pow(10.0, -0.4 * ({_H_TRUE!r} - 2.5 * log10(
             ({1.0 - _G_TRUE!r}) * {phi1} + ({_G_TRUE!r}) * {phi2})
             + (value - 245.0) / 1000.0)) AS y
  FROM obs
),
s AS (
  SELECT user_id, event_type, count(*) AS n,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
  FROM xy GROUP BY user_id, event_type
  HAVING count(*) >= {_HG_MIN_POINTS}
),
ab AS (
  SELECT user_id, event_type, n,
         s11 * s22 - s12 * s12 AS det,
         (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS a1,
         (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS a2
  FROM s
)
SELECT user_id, event_type, n,
       CASE WHEN det > 0 AND a1 + a2 > 0
            THEN round(-2.5 * log10(a1 + a2), 6) END AS h,
       CASE WHEN det > 0 AND a1 + a2 > 0
            THEN round(a2 / (a1 + a2), 6) END AS g
FROM ab
"""


# --------------------------------------------------------------------------
# §2.8 SSOFT phase-curve fit: three-parameter HG1G2 per (object, band)
# --------------------------------------------------------------------------

_G1_TRUE, _G2_TRUE = 0.2, 0.4


def q_ssoft_hg1g2_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSOFT HG1G2 pipeline: the three-parameter Muinonen system fitted
    per (object, band) as closed-form 3×3 normal equations — the linear
    form of the reference's sbpy HG1G2 fit (ztf/ssoft/processor.py:436-671).
    Same one-shuffle + scalar-Arrow-kernel shape as the HG fit; the
    differential oracle reproduces the Cramer solve in SQL from nine
    sufficient statistics."""
    from fink_science_spark.operators.phase_curve import (
        hg1g2_basis_sql,
        hg1g2_fit_native,
    )

    p1, p2, p3 = hg1g2_basis_sql("alpha")
    ev = (
        _events_us(spark, sf_dir)
        .withColumn("alpha", F.radians(_alpha_deg_spark()))
        .withColumn(
            "mred",
            F.lit(_H_TRUE)
            - 2.5
            * F.log10(
                F.lit(_G1_TRUE) * F.expr(p1)
                + F.lit(_G2_TRUE) * F.expr(p2)
                + F.lit(1.0 - _G1_TRUE - _G2_TRUE) * F.expr(p3)
            )
            + (F.col("value") - 245.0) / 1000.0,
        )
    )
    fit = hg1g2_fit_native(
        ev, ["user_id", "event_type"], "alpha", "mred",
        min_points=_HG_MIN_POINTS, m0=_H_TRUE,
    )
    return fit.select(
        "user_id",
        "event_type",
        "n",
        F.round("h", 6).alias("h"),
        F.round("g1", 6).alias("g1"),
        F.round("g2", 6).alias("g2"),
    )


def _oracle_ssoft_hg1g2_fit() -> str:
    from fink_science_spark.operators.phase_curve import (
        _QX,
        _QY,
        hg1g2_basis_sql,
    )

    p1, p2, p3 = hg1g2_basis_sql("alpha")
    # Integer-quantized sufficient statistics (exact, order-independent
    # sums) — the same contract hg1g2_fit_native applies Spark-side; see
    # operators/phase_curve.py for why the 3×3 solve demands it.
    qxx = _QX * _QX
    qxy = _QX * _QY
    return f"""
WITH obs AS (
  SELECT user_id, event_type,
         radians({_ALPHA_DEG_SQL}) AS alpha, value
  FROM events
),
xy AS (
  SELECT user_id, event_type,
         cast(floor(({p1}) * {_QX!r} + 0.5) AS BIGINT) AS x1q,
         cast(floor(({p2}) * {_QX!r} + 0.5) AS BIGINT) AS x2q,
         cast(floor(({p3}) * {_QX!r} + 0.5) AS BIGINT) AS x3q,
         cast(floor(pow(10.0, -0.4 * (-2.5 * log10(
             {_G1_TRUE!r} * {p1} + {_G2_TRUE!r} * {p2}
             + {1.0 - _G1_TRUE - _G2_TRUE!r} * {p3})
             + (value - 245.0) / 1000.0)) * {_QY!r} + 0.5) AS BIGINT) AS yq
  FROM obs
),
s AS (
  SELECT user_id, event_type, count(*) AS n,
         cast(sum(x1q * x1q) AS DOUBLE) / {qxx!r} AS s11,
         cast(sum(x1q * x2q) AS DOUBLE) / {qxx!r} AS s12,
         cast(sum(x1q * x3q) AS DOUBLE) / {qxx!r} AS s13,
         cast(sum(x2q * x2q) AS DOUBLE) / {qxx!r} AS s22,
         cast(sum(x2q * x3q) AS DOUBLE) / {qxx!r} AS s23,
         cast(sum(x3q * x3q) AS DOUBLE) / {qxx!r} AS s33,
         cast(sum(x1q * yq) AS DOUBLE) / {qxy!r} AS b1,
         cast(sum(x2q * yq) AS DOUBLE) / {qxy!r} AS b2,
         cast(sum(x3q * yq) AS DOUBLE) / {qxy!r} AS b3
  FROM xy GROUP BY user_id, event_type
  HAVING count(*) >= {_HG_MIN_POINTS}
),
d AS (
  SELECT *,
         s11 * (s22 * s33 - s23 * s23)
         - s12 * (s12 * s33 - s23 * s13)
         + s13 * (s12 * s23 - s22 * s13) AS det
  FROM s
),
ab AS (
  SELECT user_id, event_type, n, det,
         (b1 * (s22 * s33 - s23 * s23)
          - s12 * (b2 * s33 - s23 * b3)
          + s13 * (b2 * s23 - s22 * b3)) / det AS a1,
         (s11 * (b2 * s33 - s23 * b3)
          - b1 * (s12 * s33 - s23 * s13)
          + s13 * (s12 * b3 - b2 * s13)) / det AS a2,
         (s11 * (s22 * b3 - b2 * s23)
          - s12 * (s12 * b3 - b2 * s13)
          + b1 * (s12 * s23 - s22 * s13)) / det AS a3
  FROM d
)
SELECT user_id, event_type, n,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round({_H_TRUE!r} - 2.5 * log10(a1 + a2 + a3), 6) END AS h,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round(a1 / (a1 + a2 + a3), 6) END AS g1,
       CASE WHEN det > 0 AND a1 + a2 + a3 > 0
            THEN round(a2 / (a1 + a2 + a3), 6) END AS g2
FROM ab
"""


# --------------------------------------------------------------------------
# §2.7 photometry conversions (the fink-utils algebra the processors use)
# --------------------------------------------------------------------------

# Deterministic synthetic photometry derived from event columns with the
# IDENTICAL native expression in both engines (events carry no magnitudes;
# the operators under test are the conversions).
_PHOT_IN = {
    "magpsf": "15.0 + (event_id % 600) / 100.0",
    "sigmapsf": "0.05 + (event_id % 7) / 100.0",
    "magnr": "16.0 + (user_id % 300) / 100.0",
    "sigmagnr": "0.03 + (user_id % 5) / 100.0",
    "ispos": "event_id % 3 != 0",
}


def q_photometry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNANA calibrated flux + DC (difference→apparent) photometry — the
    conversion layer the reference imports from fink-utils in
    ztf/kilonova/processor.py:149, ztf/standardized_flux/utils.py:36-38,
    ztf/ad_features/processor.py:181 — as pure native column algebra
    (pow/log10/sqrt in whole-stage codegen; negative DC flux → NULL
    magnitude in both engines)."""
    from fink_science_spark.functions.photometry import (
        apparent_flux,
        dc_mag,
        mag2fluxcal_snana,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        *[F.expr(e).alias(k) for k, e in _PHOT_IN.items()],
    )
    flux, ferr = mag2fluxcal_snana(F.col("magpsf"), F.col("sigmapsf"))
    dcf, dcs = apparent_flux(
        F.col("magpsf"),
        F.col("sigmapsf"),
        F.col("magnr"),
        F.col("sigmagnr"),
        F.col("ispos"),
    )
    dmag, dsig = dc_mag(dcf, dcs)
    # + 0.0 normalizes negative zero: a near-zero dc_flux rounds to -0.0
    # in one engine and +0.0 in the other (equal by ==, but distinct as
    # sort/hash strings in a value-comparison harness) — surfaced at sf0.1
    z = F.lit(0.0)
    return ev.select(
        "event_id",
        (F.round(flux, 6) + z).alias("fluxcal"),
        (F.round(ferr, 6) + z).alias("fluxcal_err"),
        (F.round(dcf, 6) + z).alias("dc_flux"),
        (F.round(dcs, 6) + z).alias("dc_sigflux"),
        (F.round(dmag, 6) + z).alias("dc_mag"),
        (F.round(dsig, 6) + z).alias("dc_sigmag"),
    )


def _oracle_photometry_conversion() -> str:
    from fink_science_spark.functions.photometry import (
        apparent_flux_sql,
        dc_mag_sql,
        mag2fluxcal_snana_sql,
    )

    flux, ferr = mag2fluxcal_snana_sql("magpsf", "sigmapsf")
    dcf, dcs = apparent_flux_sql(
        "magpsf", "sigmapsf", "magnr", "sigmagnr", "ispos"
    )
    dmag, dsig = dc_mag_sql("dc_flux_raw", "dc_sigflux_raw")
    return f"""
WITH src AS (
  SELECT event_id,
         {_PHOT_IN['magpsf']} AS magpsf,
         {_PHOT_IN['sigmapsf']} AS sigmapsf,
         {_PHOT_IN['magnr']} AS magnr,
         {_PHOT_IN['sigmagnr']} AS sigmagnr,
         {_PHOT_IN['ispos']} AS ispos
  FROM events
),
conv AS (
  SELECT event_id,
         {flux} AS fluxcal_raw,
         {ferr} AS fluxcal_err_raw,
         {dcf} AS dc_flux_raw,
         {dcs} AS dc_sigflux_raw
  FROM src
)
SELECT event_id,
       round(fluxcal_raw, 6) + 0.0 AS fluxcal,
       round(fluxcal_err_raw, 6) + 0.0 AS fluxcal_err,
       round(dc_flux_raw, 6) + 0.0 AS dc_flux,
       round(dc_sigflux_raw, 6) + 0.0 AS dc_sigflux,
       round({dmag}, 6) + 0.0 AS dc_mag,
       round({dsig}, 6) + 0.0 AS dc_sigmag
FROM conv
"""


# --------------------------------------------------------------------------
# Cross-band color + per-band rate features (kilonova / transient_features
# shape: ztf/kilonova/processor.py and ztf/transient_features compute
# dmag/dt per band and cross-band color from the latest measurements)
# --------------------------------------------------------------------------

_DAY_US_F = 86400000000.0


def q_color_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object cross-band features: the last measurement in each of
    two bands (event_type as the band axis), the within-band rate
    d(value)/dt from the last two measurements, and the cross-band
    "color" (difference of latest values) with its per-day rate.

    The kilonova/fast-transient feature shape: rise rate per band +
    color evolution across bands, from per-band argmax-by-time rows.
    Scale shape: ONE shuffle (user_id, band window); the rn<=2 filter
    drops everything but two rows per (object, band) before the final
    per-object conditional aggregation, which reuses the window's
    partitioning key prefix. Ties on ts break on event_id so both
    engines pick identical rows.
    """
    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click"))
        .select("user_id", "event_type", "event_id", "ts_us", "value")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    top2 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)

    def pick(band: str, rn: int, col: str) -> F.Column:
        return F.max(
            F.when(
                (F.col("event_type") == band) & (F.col("rn") == rn), F.col(col)
            )
        )

    g = top2.groupBy("user_id").agg(
        pick("view", 1, "value").alias("view_last"),
        pick("view", 1, "ts_us").alias("view_ts"),
        pick("view", 2, "value").alias("view_prev"),
        pick("view", 2, "ts_us").alias("view_prev_ts"),
        pick("click", 1, "value").alias("click_last"),
        pick("click", 1, "ts_us").alias("click_ts"),
    )
    dt_view = (F.col("view_ts") - F.col("view_prev_ts")) / F.lit(_DAY_US_F)
    dt_color = (F.col("view_ts") - F.col("click_ts")) / F.lit(_DAY_US_F)
    view_rate = F.when(
        F.col("view_prev").isNotNull() & (F.col("view_ts") != F.col("view_prev_ts")),
        (F.col("view_last") - F.col("view_prev")) / dt_view,
    )
    color = F.col("view_last") - F.col("click_last")
    color_rate = F.when(F.col("view_ts") != F.col("click_ts"), color / dt_color)
    return (
        g.filter(F.col("view_last").isNotNull() & F.col("click_last").isNotNull())
        .select(
            "user_id",
            F.round("view_last", 6).alias("view_last"),
            F.round(view_rate, 6).alias("view_rate_per_day"),
            F.round("click_last", 6).alias("click_last"),
            F.round(color, 6).alias("color"),
            F.round(color_rate, 6).alias("color_rate_per_day"),
        )
    )


ORACLE_COLOR_FEATURES = f"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS t, value
  FROM events WHERE event_type IN ('view', 'click')
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY t DESC, event_id DESC) AS rn
  FROM e
),
g AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view'  AND rn = 1 THEN value END) AS view_last,
         max(CASE WHEN event_type = 'view'  AND rn = 1 THEN t END)     AS view_ts,
         max(CASE WHEN event_type = 'view'  AND rn = 2 THEN value END) AS view_prev,
         max(CASE WHEN event_type = 'view'  AND rn = 2 THEN t END)     AS view_prev_ts,
         max(CASE WHEN event_type = 'click' AND rn = 1 THEN value END) AS click_last,
         max(CASE WHEN event_type = 'click' AND rn = 1 THEN t END)     AS click_ts
  FROM r WHERE rn <= 2 GROUP BY user_id
)
SELECT user_id,
       round(view_last, 6) AS view_last,
       round(CASE WHEN view_prev IS NOT NULL AND view_ts != view_prev_ts
                  THEN (view_last - view_prev)
                       / ((view_ts - view_prev_ts) / {_DAY_US_F!r}) END, 6)
         AS view_rate_per_day,
       round(click_last, 6) AS click_last,
       round(view_last - click_last, 6) AS color,
       round(CASE WHEN view_ts != click_ts
                  THEN (view_last - click_last)
                       / ((view_ts - click_ts) / {_DAY_US_F!r}) END, 6)
         AS color_rate_per_day
FROM g
WHERE view_last IS NOT NULL AND click_last IS NOT NULL
"""


# --------------------------------------------------------------------------
# crossmatch_mangrove: 1-NN sky join returning a catalog PAYLOAD MAP with
# per-key 'None' defaults for unmatched rows
# --------------------------------------------------------------------------

_MANGROVE_RADIUS = 10.0


def q_crossmatch_mangrove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payload-dict crossmatch variant (reference:
    crossmatch_mangrove, ztf/xmatch/processor.py:601-690 — 1-NN within
    radius, returns Map<Str,Str> of catalog columns with a {'…': 'None'}
    default for unmatched alerts, MANGROVE_COLS fill at 685-688).

    Spark-first: the same grid-bucketed `nearest_join_sky` as the
    flagship crossmatch carries the catalog payload columns through the
    arg-min, and `keep_unmatched=True` preserves the every-row-gets-a-map
    contract via sentinel candidates in the SAME arg-min window — no join
    back to the alert side, so the whole query is broadcast joins plus
    the one window shuffle. `create_map` builds the MapType value and the
    output is flattened via getItem so any engine can verify it (same
    policy as map_ops)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _ra("c_custkey", *_CUST_RA).alias("ra"),
        _dec("c_custkey", *_CUST_DEC).alias("dec"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _ra("s_suppkey", *_SUPP_RA).alias("ra"),
        _dec("s_suppkey", *_SUPP_DEC).alias("dec"),
        "s_name",
        "s_nationkey",
    )
    nn = nearest_join_sky(
        cust,
        supp,
        "c_custkey",
        "ra",
        "dec",
        "s_suppkey",
        "ra",
        "dec",
        radius_deg=_MANGROVE_RADIUS,
        payload=["s_name", "s_nationkey"],
        keep_unmatched=True,
    )
    payload = F.create_map(
        F.lit("galaxy_name"),
        F.coalesce(F.col("s_name"), F.lit("None")),
        F.lit("host_nation"),
        F.coalesce(F.col("s_nationkey").cast("string"), F.lit("None")),
    )
    out = nn.withColumn("__m", payload)
    return out.select(
        "c_custkey",
        F.col("__m").getItem("galaxy_name").alias("galaxy_name"),
        F.col("__m").getItem("host_nation").alias("host_nation"),
    )


ORACLE_CROSSMATCH_MANGROVE = f"""
WITH c AS (SELECT c_custkey,
                  {_ra_sql('c_custkey', *_CUST_RA)} AS ra,
                  {_dec_sql('c_custkey', *_CUST_DEC)} AS dec
           FROM customer),
s AS (SELECT s_suppkey, s_name, s_nationkey,
             {_ra_sql('s_suppkey', *_SUPP_RA)} AS ra,
             {_dec_sql('s_suppkey', *_SUPP_DEC)} AS dec
      FROM supplier),
ranked AS (
  SELECT c_custkey, s_name, s_nationkey,
         row_number() OVER (
           PARTITION BY c_custkey
           ORDER BY {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec',
                                           ra2='s.ra', dec2='s.dec')} ASC,
                    s_suppkey ASC) AS rn
  FROM c, s
  WHERE {_HAVERSINE_SQL.format(ra1='c.ra', dec1='c.dec',
                               ra2='s.ra', dec2='s.dec')} <= {_MANGROVE_RADIUS}
)
SELECT c.c_custkey,
       coalesce(r.s_name, 'None')                   AS galaxy_name,
       coalesce(CAST(r.s_nationkey AS VARCHAR), 'None') AS host_nation
FROM c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (c_custkey)
"""


# --------------------------------------------------------------------------
# power_spectrum: binned DFT power of per-user value histories
# --------------------------------------------------------------------------

_N_FFT = 16
_PS_MIN_POINTS = 8


def q_power_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Fourier power spectrum of each user's time-ordered value
    history (reference: get_powerspectrum — FFT → |·|² → bin-mean —
    ztf/hostless_detection/powerspectrum.py:103-117, applied per stamp;
    here per history array, the 1-D analogue).

    Spark-first: the DFT terms are CONDITIONAL SUM AGGREGATES over a
    row_number window — sum(value·cos((j·k)·2π/N)) for j < N — so the
    whole kernel is whole-stage-codegen'd JVM trig with no history array
    ever materialized and ONE shuffle total (the groupBy reuses the
    window's user_id partitioning). An earlier array-HOF formulation
    (operators/stats.dft_power, kept for array-shaped inputs) ran ~3×
    slower purely on interpreted-lambda overhead — HOF lambdas never
    enter codegen. Accumulation order matches the oracle's sequential
    list_sum because rows arrive sorted by (user, t) into a single
    per-user partial aggregate. Powers are normalized by the squared
    absolute sum so the output is scale-free O(1) and rounding-stable
    across engines' libm. Binning: low k∈{1,2}, mid k∈{3..5}, high
    k∈{6..8} band means, the bin-mean step of the reference."""
    from pyspark.sql.window import Window

    import math

    c = 2.0 * math.pi / _N_FFT
    ev = _events_us(spark, sf_dir).withColumn(
        "t_days", F.col("ts_us") / F.lit(86400e6)
    )
    w = Window.partitionBy("user_id").orderBy("t_days", "value")
    ev = ev.select(
        "user_id", "value", (F.row_number().over(w) - 1).alias("__j")
    )
    in_fft = F.col("__j") < _N_FFT
    angle = lambda k: (F.col("__j") * F.lit(k)).cast("double") * F.lit(c)  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n_obs")]
    for k in range(1, 9):
        aggs.append(
            F.sum(F.when(in_fft, F.col("value") * F.cos(angle(k)))).alias(f"re{k}")
        )
        aggs.append(
            F.sum(F.when(in_fft, F.col("value") * F.sin(angle(k)))).alias(f"im{k}")
        )
    aggs.append(F.sum(F.when(in_fft, F.abs("value"))).alias("sum_abs"))
    g = ev.groupBy("user_id").agg(*aggs).filter(F.col("n_obs") >= _PS_MIN_POINTS)

    p = {
        k: F.col(f"re{k}") * F.col(f"re{k}") + F.col(f"im{k}") * F.col(f"im{k}")
        for k in range(1, 9)
    }
    norm = F.col("sum_abs") * F.col("sum_abs")
    low = (p[1] + p[2]) / F.lit(2.0)
    mid = (p[3] + p[4] + p[5]) / F.lit(3.0)
    high = (p[6] + p[7] + p[8]) / F.lit(3.0)
    return g.select(
        "user_id",
        "n_obs",
        F.round(low / norm, 6).alias("p_low"),
        F.round(mid / norm, 6).alias("p_mid"),
        F.round(high / norm, 6).alias("p_high"),
    )


def _oracle_power_spectrum() -> str:
    vs = f"v[1:{_N_FFT}]"
    sum_abs = (
        f"list_sum([abs({vs}[j]) for j in generate_series(1, len({vs}))])"
    )
    p = {k: dft_power_sql("v", k, _N_FFT) for k in range(1, 9)}
    low = f"(({p[1]}) + ({p[2]})) / 2.0"
    mid = f"(({p[3]}) + ({p[4]}) + ({p[5]})) / 3.0"
    high = f"(({p[6]}) + ({p[7]}) + ({p[8]})) / 3.0"
    return f"""
WITH h AS (
  SELECT user_id,
         list(value ORDER BY epoch_us(ts) / 86400e6, value) AS v
  FROM events GROUP BY user_id
),
n AS (
  SELECT user_id, v, len(v) AS n_obs,
         ({sum_abs}) * ({sum_abs}) AS norm
  FROM h WHERE len(v) >= {_PS_MIN_POINTS}
)
SELECT user_id, n_obs,
       round(({low}) / norm, 6)  AS p_low,
       round(({mid}) / norm, 6)  AS p_mid,
       round(({high}) / norm, 6) AS p_high
FROM n
"""


# Days between the unix epoch and 2024-01-01 UTC: rebases event times so
# trig arguments stay O(10²) (identical constant in both engines).
_T0_DAYS = 1704067200.0 / 86400.0

# --------------------------------------------------------------------------
# period_scan: best-fit sinusoid period per user from a frozen grid
# (SSOFT SHG1G2/SOCCA spin-scan shape, ztf/ssoft/processor.py:436-671)
# --------------------------------------------------------------------------

_PERIODS = [2.0, 3.0, 5.0, 7.0, 10.0, 14.0, 21.0, 28.0]


def q_period_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid period search over per-user event histories: posexplode the
    candidate grid (×8 per-row fan-out, no join), ONE map-combinable hash
    aggregation of quantized sufficient statistics keyed (user, candidate),
    Cramer 3×3 solve in columns, argmin-RSS window on the tiny candidate
    table. The reference's per-object scipy minimize over spin candidates
    becomes a single shuffle of int64 sums."""
    ev = _events_us(spark, sf_dir).select(
        "user_id",
        (F.col("ts_us") / F.lit(86400e6) - F.lit(_T0_DAYS)).alias("t_days"),
        (F.col("value") / F.lit(512.0)).alias("y"),
    )
    fit = period_scan_native(
        ev, ["user_id"], "t_days", "y", _PERIODS, min_points=8
    )
    return fit.select(
        "user_id",
        "period",
        "n",
        F.round("amp", 6).alias("amp"),
        F.round("level", 6).alias("level"),
        F.round("rss", 6).alias("rss"),
    )


ORACLE_PERIOD_SCAN = f"""
WITH best AS (
{period_scan_sql(
    "SELECT user_id, epoch_us(ts) / 86400e6 - " + repr(_T0_DAYS)
    + " AS t_days, value / 512.0 AS y FROM events",
    ["user_id"],
    "t_days",
    "y",
    _PERIODS,
    min_points=8,
)}
)
SELECT user_id, period, n, round(amp, 6) AS amp,
       round(level, 6) AS level, round(rss, 6) AS rss
FROM best
"""


# --------------------------------------------------------------------------
# alert_replay: the pure-Python Spark DataSource (batch row-group
# partitions + stats pruning; streaming row-offset replay) — the
# Avro/Kafka-source architectural slot without JVM jars (SURVEY §2.1)
# --------------------------------------------------------------------------


def q_replay_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through the custom Python data source with a pushed
    predicate (pushFilters receives it; row groups are min/max-pruned and
    Spark re-applies the filter exactly), aggregated per event_type. The
    oracle reads the same parquet natively — source-equivalence is the
    check."""
    import os as _os

    from fink_science_spark.sources.replay import register_replay_source

    register_replay_source(spark)
    # opt-in runtime conf gating pushFilters delivery to Python sources
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("alert_replay")
        .option("path", _os.path.join(sf_dir, "events.parquet"))
        .option("columns", "event_id,user_id,event_type,value")
        .load()
    )
    return (
        df.filter(F.col("value") > 100.0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("event_id").alias("min_event"),
        )
    )


ORACLE_REPLAY_SCAN = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
       min(event_id) AS min_event
FROM events WHERE value > 100.0
GROUP BY event_type
"""


# Avro input containers are BUILD artifacts, not part of the measured
# pipeline: encode once per process per path (the IVF-codebook memo
# argument — re-encoding the broker feed per query would be a design
# bug). A fresh process always rebuilds, so a stale _scratch file from
# older testdata can never poison the oracle gate.
_AVRO_INPUT_BUILT: set[str] = set()


def _build_input_once(path: str, build) -> None:
    """Build the container at ``path`` exactly once per process.

    The encode happens in a process-private staging dir; the install is
    two atomic renames (move the old container aside, move the staged
    one in), so a concurrent reader never lists a HALF-WRITTEN
    container. Same-path builders in concurrent processes can still
    interleave the two renames (this guards parallel test runs), in
    which case
    whichever complete container wins carries the same logical rows.
    ``build(dst)`` must write to the dst it is given, not to ``path``.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    def _rm(target: str) -> None:
        if _os.path.isdir(target):
            _shutil.rmtree(target, ignore_errors=True)
        else:
            try:
                _os.remove(target)
            except OSError:
                pass

    if path in _AVRO_INPUT_BUILT and _os.path.exists(path):
        return
    # reap staging/trash dirs leaked by CRASHED builds (only those whose
    # owning pid is gone — a live sibling's in-flight staging dir must
    # not be deleted out from under it). Liveness via kill(pid, 0):
    # portable (procfs is Linux-only; on macOS/BSD every live sibling
    # would look dead); EPERM means alive-but-foreign, which also must
    # not be reaped. NOTE the rename pair below leaves a brief window
    # where `path` does not exist — a concurrent READER can see
    # FileNotFound (not a half-written container); callers in this repo
    # serialize through the same build gate, so only half-written
    # containers needed ruling out.
    def _alive(pid: int) -> bool:
        try:
            _os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True

    for stale in _glob.glob(f"{path}.build-*") + _glob.glob(f"{path}.old-*"):
        pid = stale.rsplit("-", 1)[-1]
        if pid.isdigit() and not _alive(int(pid)):
            _rm(stale)
    tmp = f"{path}.build-{_os.getpid()}"
    try:
        build(tmp)
    except BaseException:
        _rm(tmp)
        raise
    # move any previous container (including the pre-round-5 single-file
    # layout) aside atomically, then the staged dir in
    trash = f"{path}.old-{_os.getpid()}"
    try:
        _os.rename(path, trash)
    except FileNotFoundError:
        trash = None
    try:
        _os.rename(tmp, path)
    except OSError:
        _rm(tmp)
        if not _os.path.exists(path):
            # not a lost race — restore the old container and surface it
            if trash is not None:
                _os.rename(trash, path)
                trash = None
            raise
        # another process installed a complete container first; use it
    if trash is not None:
        _rm(trash)
    _AVRO_INPUT_BUILT.add(path)


def q_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broker's actual wire format through the engine WITHOUT the
    spark-avro jar: the documents table is re-serialized as a deflate
    Avro Object Container (pure-Python writer standing in for the
    broker), then read back through the block-parallel avro_replay
    DataSource (one partition per Avro block) and aggregated per lang.
    The oracle reads the same logical rows natively — any encode/decode/
    schema-translation error anywhere breaks the hash. When spark-avro
    is available, `format("avro")` drops into the same slot unchanged
    (reference wiring: fink_science/tester.py:89-105)."""
    import os as _os

    from fink_science_spark.sources.avro_replay import (
        register_avro_source,
        write_avro_dir,
    )

    register_avro_source(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"docs_{tag}.avro")
    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "lang", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    def _build(dst):
        # distributed sink: each task serializes its partition in place —
        # fixture construction scales with SF instead of funneling every
        # row through a driver collect()
        write_avro_dir(
            _t(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .repartition(8),
            dst, schema, codec="deflate", records_per_block=200,
        )

    _build_input_once(path, _build)
    df = (
        spark.read.format("avro_replay")
        .option("path", path)
        # small container: bound Python-DataSource task-setup overhead
        .option("max_partitions", "8")
        .load()
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


ORACLE_AVRO_SCAN = """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS min_doc
FROM documents GROUP BY lang
"""


def q_fits_catalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native FITS catalog read without astropy: the nation dimension is
    serialized as a FITS BINTABLE (pure-Python writer standing in for an
    upstream catalog release), registered through CatalogRegistry's
    astropy-free codec path, and broadcast-joined onto customers — the
    reference's 4LAC load-and-crossmatch flow
    (ztf/xmatch/utils.py:118-150). The oracle joins the native parquet
    tables, so any header/dtype/byte-order error in the codec breaks the
    hash."""
    import os as _os

    from fink_science_spark.sources.catalogs import (
        CatalogRegistry,
        bounded_to_pandas,
    )
    from fink_science_spark.sources.fits_codec import write_bintable

    tag = _os.path.basename(sf_dir.rstrip("/"))
    path = _os.path.join(_SCRATCH, f"nation_{tag}.fits")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # nation is a FIXED 25-row dimension at every TPC-H SF; the bounded
    # gate PROVES that (engine policy: no unbounded collect in any
    # registered query's input construction)
    write_bintable(path, bounded_to_pandas(nation, 64, "nation fixture"))
    reg = CatalogRegistry(spark)
    cat = reg.register_fits("nation_fits", path)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return (
        reg.broadcast_join(
            cust, "nation_fits", cust.c_nationkey == cat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


ORACLE_FITS_CATALOG_JOIN = """
SELECT n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# sky_pixel_rollup: equal-area hierarchical pixel aggregation.
#
# The "healpix-grade bucketing" roadmap item: an equal-area spatial key
# (Lambert cylindrical grid, operators/spatial.equal_area_pixel) whose
# occupancy is uniform for isotropic skies — the lat-lon grid's polar
# hot/empty cells disappear, so the shuffle keys stay balanced at any
# scale. The rollup is hierarchical: fine-pixel aggregates (ONE hash
# aggregation over the points) re-aggregate by the parent pixel derived
# arithmetically from the fine id (a window over the 128-row aggregate —
# the points are never re-read). Coordinates are the deterministic LCG
# sky of the crossmatch family, extended to the full sphere (poles
# included).
# --------------------------------------------------------------------------

_PIX_NSIDE = 8
_PIX_M = 233280
_PIX_RA = (9301, 49297)
_PIX_DEC = (7919, 104729)


def q_sky_pixel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (
            ((F.col("o_orderkey") * _PIX_RA[0] + _PIX_RA[1]) % _PIX_M)
            * F.lit(360.0 / _PIX_M)
        ).alias("ra"),
        (
            ((F.col("o_orderkey") * _PIX_DEC[0] + _PIX_DEC[1]) % _PIX_M)
            * F.lit(180.0 / _PIX_M)
            - F.lit(90.0)
        ).alias("dec"),
    )
    ix, iy, pix = equal_area_pixel(F.col("ra"), F.col("dec"), _PIX_NSIDE)
    pts = o.select(
        "o_totalprice",
        ix.alias("ix"),
        iy.alias("iy"),
        pix.alias("pix"),
    )
    fine = pts.groupBy("ix", "iy", "pix").agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )
    parent = parent_pixel(F.col("ix"), F.col("iy"), _PIX_NSIDE).alias(
        "parent_pix"
    )
    with_parent = fine.select("pix", "n", "avg_price", parent)
    wp = Window.partitionBy("parent_pix")
    return with_parent.select(
        "pix",
        "parent_pix",
        "n",
        "avg_price",
        F.sum("n").over(wp).alias("parent_n"),
    ).orderBy("pix")


def _oracle_pixel() -> str:
    ra = f"((o_orderkey * {_PIX_RA[0]} + {_PIX_RA[1]}) % {_PIX_M}) * (360.0 / {_PIX_M})"
    dec = (
        f"((o_orderkey * {_PIX_DEC[0]} + {_PIX_DEC[1]}) % {_PIX_M})"
        f" * (180.0 / {_PIX_M}) - 90.0"
    )
    ix, iy, pix = equal_area_pixel_sql("ra", "dec", _PIX_NSIDE)
    parent = parent_pixel_sql("ix", "iy", _PIX_NSIDE)
    return f"""
WITH sky AS (
  SELECT o_totalprice, {ra} AS ra, {dec} AS dec FROM orders
),
pixed AS (
  SELECT o_totalprice, CAST({ix} AS BIGINT) AS ix, CAST({iy} AS BIGINT) AS iy
  FROM sky
),
fine AS (
  SELECT ix, iy, iy * {2 * _PIX_NSIDE} + ix AS pix,
         count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
  FROM pixed GROUP BY ix, iy
)
SELECT pix, CAST({parent} AS BIGINT) AS parent_pix, n, avg_price,
       CAST(sum(n) OVER (PARTITION BY CAST({parent} AS BIGINT)) AS BIGINT)
         AS parent_n
FROM fine ORDER BY pix
"""


ORACLE_SKY_PIXEL_ROLLUP = _oracle_pixel()


# --------------------------------------------------------------------------
# sky_pixel_multires: multi-resolution rollup in ONE pass — GROUPING SETS
# over three pixel depths (nside 8/4/2) derived arithmetically from the
# same coordinates, so the points are scanned once and Spark expands the
# grouping sets map-side (the hypertable/OLAP-cube shape; complements
# sky_pixel_rollup's two-level window form and rollup_counts' linear
# hierarchy).
# --------------------------------------------------------------------------

_MR_NSIDES = (8, 4, 2)


def q_sky_pixel_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_totalprice",
        (
            ((F.col("o_orderkey") * _PIX_RA[0] + _PIX_RA[1]) % _PIX_M)
            * F.lit(360.0 / _PIX_M)
        ).alias("ra"),
        (
            ((F.col("o_orderkey") * _PIX_DEC[0] + _PIX_DEC[1]) % _PIX_M)
            * F.lit(180.0 / _PIX_M)
            - F.lit(90.0)
        ).alias("dec"),
    )
    cols = []
    for ns in _MR_NSIDES:
        _ix, _iy, pix = equal_area_pixel(F.col("ra"), F.col("dec"), ns)
        cols.append(pix.alias(f"pix{ns}"))
    pts = o.select("o_totalprice", *cols)
    names = [f"pix{ns}" for ns in _MR_NSIDES]
    return pts.groupingSets(
        [[F.col(n)] for n in names], *[F.col(n) for n in names]
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


def _oracle_multires() -> str:
    ra = f"((o_orderkey * {_PIX_RA[0]} + {_PIX_RA[1]}) % {_PIX_M}) * (360.0 / {_PIX_M})"
    dec = (
        f"((o_orderkey * {_PIX_DEC[0]} + {_PIX_DEC[1]}) % {_PIX_M})"
        f" * (180.0 / {_PIX_M}) - 90.0"
    )
    cols = []
    for ns in _MR_NSIDES:
        _ix, _iy, pix = equal_area_pixel_sql("ra", "dec", ns)
        cols.append(f"CAST({pix} AS BIGINT) AS pix{ns}")
    sets = ", ".join(f"(pix{ns})" for ns in _MR_NSIDES)
    names = ", ".join(f"pix{ns}" for ns in _MR_NSIDES)
    return f"""
WITH sky AS (
  SELECT o_totalprice, {ra} AS ra, {dec} AS dec FROM orders
),
pts AS (SELECT o_totalprice, {", ".join(cols)} FROM sky)
SELECT {names}, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
FROM pts GROUP BY GROUPING SETS ({sets})
"""


ORACLE_SKY_PIXEL_MULTIRES = _oracle_multires()

# --------------------------------------------------------------------------
# zorder_cells: Morton-key computation for multi-column data layout —
# the write-side lever that makes BOTH of two filter columns prunable at
# the parquet row-group level (Delta/Iceberg OPTIMIZE ZORDER, expressed
# as a plain sort key; functions/zorder.py). The key algebra is oracle-
# checked here; the physical layout payoff (row-group bounding boxes
# shrink in both dimensions) is asserted from parquet footer statistics
# in tests/test_operators_unit.py::test_zorder_layout_clusters_row_groups.
# --------------------------------------------------------------------------

_Z_BITS = 8
_Z_CELL = 4096  # 2^12 keys per coarse cell -> 64x64-key boxes


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.zorder import morton_key

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 256).alias("u"),
        (F.col("n_chars") % 256).alias("v"),
    )
    key = morton_key(F.col("u"), F.col("v"), _Z_BITS)
    return (
        d.select(key.alias("zkey"))
        .groupBy(F.floor(F.col("zkey") / _Z_CELL).cast("long").alias("cell"))
        .agg(
            F.count("*").alias("n"),
            F.min("zkey").alias("min_key"),
            F.max("zkey").alias("max_key"),
        )
    )


def _oracle_zorder() -> str:
    from fink_science_spark.functions.zorder import morton_key_sql

    key = morton_key_sql("doc_id % 256", "n_chars % 256", _Z_BITS)
    return f"""
WITH keyed AS (SELECT {key} AS zkey FROM documents)
SELECT CAST(floor(zkey / {_Z_CELL}) AS BIGINT) AS cell,
       count(*) AS n, min(zkey) AS min_key, max(zkey) AS max_key
FROM keyed GROUP BY cell
"""


ORACLE_ZORDER_CELLS = _oracle_zorder()


register("user_history_stats", q_user_history_stats, ORACLE_USER_HISTORY_STATS)
register("history_lookback", q_history_lookback, ORACLE_HISTORY_LOOKBACK,
         bench=False)
register("history_window_counts", q_history_window_counts,
         ORACLE_HISTORY_WINDOW_COUNTS, bench=False)
register("exists_flag", q_exists_flag, ORACLE_EXISTS_FLAG, bench=False)
register("band_peaks", q_band_peaks, ORACLE_BAND_PEAKS, bench=False)
register("mc_rate", q_mc_rate, ORACLE_MC_RATE)
register("crossmatch_sky", q_crossmatch_sky, ORACLE_CROSSMATCH_SKY)
register("group_features", q_group_features, ORACLE_GROUP_FEATURES)
register("trapezoid_fluence", q_trapezoid_fluence, ORACLE_TRAPEZOID_FLUENCE)
register("alert_enrichment", q_alert_enrichment, ORACLE_ALERT_ENRICHMENT,
         bench=False)
register("alert_rule_flags", q_alert_rule_flags, ORACLE_ALERT_RULE_FLAGS)
register("standardized_value", q_standardized_value, ORACLE_STANDARDIZED_VALUE,
         bench=False)
register("extreme_state_ratio", q_extreme_state_ratio,
         ORACLE_EXTREME_STATE_RATIO, bench=False)
register("alert_pipeline", q_alert_pipeline, ORACLE_ALERT_PIPELINE)
register("band_features", q_band_features, _oracle_band_features())
register("remote_xmatch", q_remote_xmatch, ORACLE_REMOTE_XMATCH)
register("remote_xmatch_nullsem", q_remote_xmatch_nullsem,
         ORACLE_REMOTE_XMATCH_NULLSEM, bench=False)
register("lookback_with_limits", q_lookback_with_limits,
         ORACLE_LOOKBACK_WITH_LIMITS, bench=False)
register("ssoft_hg_fit", q_ssoft_hg_fit, _oracle_ssoft_hg_fit())
register("ssoft_hg1g2_fit", q_ssoft_hg1g2_fit, _oracle_ssoft_hg1g2_fit())
register("photometry_conversion", q_photometry_conversion,
         _oracle_photometry_conversion())
register("color_features", q_color_features, ORACLE_COLOR_FEATURES)
register("crossmatch_mangrove", q_crossmatch_mangrove,
         ORACLE_CROSSMATCH_MANGROVE)
register("power_spectrum", q_power_spectrum, _oracle_power_spectrum())
register("period_scan", q_period_scan, ORACLE_PERIOD_SCAN)
register("replay_scan", q_replay_scan, ORACLE_REPLAY_SCAN, bench=False)
register("avro_scan", q_avro_scan, ORACLE_AVRO_SCAN)
register("fits_catalog_join", q_fits_catalog_join, ORACLE_FITS_CATALOG_JOIN)
register("sky_pixel_rollup", q_sky_pixel_rollup, ORACLE_SKY_PIXEL_ROLLUP)
register("sky_pixel_multires", q_sky_pixel_multires, ORACLE_SKY_PIXEL_MULTIRES)
register("zorder_cells", q_zorder_cells, ORACLE_ZORDER_CELLS)
