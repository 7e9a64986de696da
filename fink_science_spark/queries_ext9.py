"""Query registry, wave 10.

The last §2.8 classifier-module shapes: microlensing (per-band DC-mag →
per-band forest → both-bands-must-agree mean, ztf/microlensing/
processor.py:39-190), orphan-GRB morphology (rubin/orphans/
processor.py:29-102, single-pass window features), SuperNNova recurrent
(ztf/snn/processor.py:84-210, frozen unrolled RNN as chained named
projections).

Plus the scale/curation wave: equal-area hierarchical sky pixelization
(rollup + grouping-sets multi-resolution cube), two-stage retrieval
(ANN recall → native cross-feature rerank), host-authority PageRank on
the aggregated link graph, Z-order/Morton layout keys, incremental
aggregate maintenance via mergeable partial states, distributed BPE
merge training, schema-evolution reads, streaming materialized-view
maintenance, and the remaining Python execution surfaces (grouped-agg
pandas UDF, partition-aware UDTF).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.photometry import (
    apparent_flux,
    apparent_flux_sql,
    dc_mag,
    dc_mag_sql,
)
from fink_science_spark.operators.models import (
    forest_score_sql,
    make_forest_score_udf,
    mlp_score_sql,
    make_mlp_score_udf,
)
from fink_science_spark.operators.spatial import (
    equal_area_pixel,
    equal_area_pixel_sql,
    parent_pixel,
    parent_pixel_sql,
)
from fink_science_spark.queries import _events_us, _fan_out, _t
from fink_science_spark.registry import register

# --------------------------------------------------------------------------
# mulens_score: microlensing-module lifecycle.
#
# Reference semantics (ztf/microlensing/processor.py:126-190): mask =
# ndethist < cap AND >= MIN_TOTAL valid points; per band (g, r): require
# >= MIN_BAND points, convert difference photometry to DC magnitudes
# (fink_utils dc_mag), featurize, PCA-project, RF-classify; the alert
# scores the MEAN of the per-band ML probabilities only if BOTH bands
# independently favour microlensing, else 0.0.
#
# Spark-first: the per-measurement DC-mag conversion is native column
# algebra (functions/photometry); per-band statistics are ONE user-keyed
# hash aggregation of conditional sums; the forest features are built
# from INTEGER-quantized sufficient statistics (value has exactly 2
# decimals -> round(value*100) is an exact int64; sums of ints are
# order-independent, so the features are bit-identical in both engines —
# the exact-IEEE contract tree thresholds require, see operators/models
# forest notes). Only the frozen-forest Arrow kernel runs in Python, once
# per band; vetoed rows take 0.0 without reaching it.
# --------------------------------------------------------------------------

_MU_NDET_CAP = 70     # ndethist < 100 analog, sized to the test tables
_MU_MIN_TOTAL = 15    # >= 20-valid-points analog
_MU_MIN_BAND = 8      # >= 10-per-band analog
_MU_BANDS = ("click", "purchase")  # (g, r)

# DC photometry synthesized deterministically from event columns:
# difference magnitude from `value` (2-dec exact), constant reference
# source, alternating subtraction sign from the integer key.
_MU_MAGPSF = "12.0 + value / 64.0"
_MU_SIGMAPSF = "0.01 + value / 32768.0"
_MU_MAGNR = "13.5"
_MU_SIGMAGNR = "0.02"
_MU_ISPOS = "(event_id % 3) != 0"


def _mu_band_feats(prefix: str) -> list[F.Column]:
    """Forest features from exact integer sufficient statistics."""
    n = F.col(f"n_{prefix}").cast("double")
    mean_s = F.col(f"sum_{prefix}").cast("double") / n / F.lit(16384.0)
    var_s = (
        F.col(f"sum2_{prefix}").cast("double") / n
        - (F.col(f"sum_{prefix}").cast("double") / n)
        * (F.col(f"sum_{prefix}").cast("double") / n)
    ) / F.lit(16384.0) / F.lit(16384.0)
    amp_s = (
        (F.col(f"max_{prefix}") - F.col(f"min_{prefix}")).cast("double")
        / F.lit(32768.0)
    )
    return [n, mean_s, var_s, amp_s]


def _mu_band_feats_sql(prefix: str) -> list[str]:
    n = f"CAST(n_{prefix} AS DOUBLE)"
    mean = f"(CAST(sum_{prefix} AS DOUBLE) / {n})"
    return [
        n,
        f"({mean} / 16384.0)",
        f"((CAST(sum2_{prefix} AS DOUBLE) / {n} - {mean} * {mean})"
        f" / 16384.0 / 16384.0)",
        f"(CAST(max_{prefix} - min_{prefix} AS DOUBLE) / 32768.0)",
    ]


def q_mulens_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)
    qv = F.round(F.col("value") * 100).cast("long")
    magpsf = F.lit(12.0) + F.col("value") / F.lit(64.0)
    sigmapsf = F.lit(0.01) + F.col("value") / F.lit(32768.0)
    ispos = (F.col("event_id") % 3) != 0
    dc_flux, dc_sigflux = apparent_flux(
        magpsf, sigmapsf, F.lit(13.5), F.lit(0.02), ispos
    )
    m, _sig = dc_mag(dc_flux, dc_sigflux)
    ev = ev.withColumn("qv", qv).withColumn("dcmag", m)

    def band_aggs(band: str, prefix: str) -> list[F.Column]:
        in_band = F.col("event_type") == band
        return [
            F.count(F.when(in_band, 1)).alias(f"n_{prefix}"),
            F.sum(F.when(in_band, F.col("qv"))).alias(f"sum_{prefix}"),
            F.sum(F.when(in_band, F.col("qv") * F.col("qv"))).alias(
                f"sum2_{prefix}"
            ),
            F.min(F.when(in_band, F.col("qv"))).alias(f"min_{prefix}"),
            F.max(F.when(in_band, F.col("qv"))).alias(f"max_{prefix}"),
            F.avg(F.when(in_band, F.col("dcmag"))).alias(f"dcmag_{prefix}"),
        ]

    g = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("ndet"),
            *band_aggs(_MU_BANDS[0], "g"),
            *band_aggs(_MU_BANDS[1], "r"),
        )
    )
    score = make_forest_score_udf()
    prob_g = score(*_mu_band_feats("g"))
    prob_r = score(*_mu_band_feats("r"))
    ok = (
        (F.col("ndet") < _MU_NDET_CAP)
        & (F.col("n_g") + F.col("n_r") >= _MU_MIN_TOTAL)
        & (F.col("n_g") >= _MU_MIN_BAND)
        & (F.col("n_r") >= _MU_MIN_BAND)
    )
    both_ml = (prob_g >= 0.5) & (prob_r >= 0.5)
    return g.select(
        "user_id",
        "ndet",
        "n_g",
        "n_r",
        F.round("dcmag_g", 6).alias("dcmag_g"),
        F.round("dcmag_r", 6).alias("dcmag_r"),
        F.when(ok & both_ml, F.round((prob_g + prob_r) / 2, 6))
        .otherwise(F.lit(0.0))
        .alias("mulens_score"),
    )


def _oracle_mulens() -> str:
    dc_flux, dc_sigflux = apparent_flux_sql(
        _MU_MAGPSF, _MU_SIGMAPSF, _MU_MAGNR, _MU_SIGMAGNR, _MU_ISPOS
    )
    dcmag, _ = dc_mag_sql(dc_flux, dc_sigflux)
    prob_g = forest_score_sql(_mu_band_feats_sql("g"))
    prob_r = forest_score_sql(_mu_band_feats_sql("r"))

    def band_aggs(band: str, prefix: str) -> str:
        c = f"event_type = '{band}'"
        return (
            f"count(*) FILTER (WHERE {c}) AS n_{prefix}, "
            f"sum(qv) FILTER (WHERE {c}) AS sum_{prefix}, "
            f"sum(qv * qv) FILTER (WHERE {c}) AS sum2_{prefix}, "
            f"min(qv) FILTER (WHERE {c}) AS min_{prefix}, "
            f"max(qv) FILTER (WHERE {c}) AS max_{prefix}, "
            f"avg(dcmag) FILTER (WHERE {c}) AS dcmag_{prefix}"
        )

    return f"""
WITH phot AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS qv,
         {dcmag} AS dcmag
  FROM events
),
g AS (
  SELECT user_id, count(*) AS ndet,
         {band_aggs(_MU_BANDS[0], "g")},
         {band_aggs(_MU_BANDS[1], "r")}
  FROM phot GROUP BY user_id
)
SELECT user_id, ndet, n_g, n_r,
       round(dcmag_g, 6) AS dcmag_g, round(dcmag_r, 6) AS dcmag_r,
       CASE WHEN ndet < {_MU_NDET_CAP}
                 AND n_g + n_r >= {_MU_MIN_TOTAL}
                 AND n_g >= {_MU_MIN_BAND} AND n_r >= {_MU_MIN_BAND}
                 AND ({prob_g}) >= 0.5 AND ({prob_r}) >= 0.5
            THEN round((({prob_g}) + ({prob_r})) / 2, 6)
            ELSE 0.0 END AS mulens_score
FROM g
"""


ORACLE_MULENS_SCORE = _oracle_mulens()

# --------------------------------------------------------------------------
# orphan_score: orphan-GRB morphology classifier.
#
# Reference semantics (rubin/orphans/processor.py:29-102,
# features_extraction.py:19-121): flux -> AB magnitude, veto < 5 valid
# points; features = duration between first detection and the magnitude
# peak, mean rise rate (negative mag rates), mean decay rate over the
# first and last thirds of the decreasing segments (per band, dt > 0.1 d
# pairs only), cross-band colour; a boosted-tree model emits the
# probability, vetoed rows 0.0.
#
# Spark-first, SINGLE-PASS: magnitudes are QUANTIZED to 1/4096 once
# (exact doubles -> diffs and per-band means are order-independent);
# consecutive-pair rates, the positive-rate rank (cumulative conditional
# count — equals row_number over the filtered subset), and the per-band
# positive count all come from ONE (user, band) window partitioning; the
# decay-third means become conditional aggregates and the duration-to-
# peak argmin becomes min(struct(mag, ts)) in the SAME final user-keyed
# aggregation. ONE scan, TWO shuffles, no joins (the first cut of this
# query ran 3 scans + 5 exchanges through two window branches and two
# join-backs — bench-visible at 2.7 s/sf0.1). The frozen model is the
# continuous MLP family (the reference's XGBoost slot is the forest
# kernel proven in kn_score/model_score_forest; rates are libm-derived
# so the continuous kernel is the numerically-honest choice — see
# operators/models.py forest feature contract).
# --------------------------------------------------------------------------

_OR_MIN_PTS = 5
_OR_DT_MIN = 0.02       # days; reference uses 0.1 d at survey cadence
_OR_ZP = 31.4           # AB zero point for nJy fluxes (basic_functions)
_OR_Q = 4096.0
_OR_COLOR_BANDS = ("click", "purchase")


def q_orphan_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).filter(F.col("value") > 0)
    qmag = (
        F.round(
            (F.lit(_OR_ZP) - F.lit(2.5) * F.log10(F.col("value")))
            * F.lit(_OR_Q)
        ).cast("long")
        / F.lit(_OR_Q)
    )
    ev = ev.select(
        "user_id", "event_type", "event_id", "ts_us", qmag.alias("mag")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    rated = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts_us",
        "mag",
        ((F.col("ts_us") - F.lag("ts_us").over(w)) / F.lit(86400e6)).alias(
            "dt_days"
        ),
        (F.col("mag") - F.lag("mag").over(w)).alias("dmag"),
    ).withColumn(
        "rate",
        F.when(
            F.col("dt_days") > _OR_DT_MIN, F.col("dmag") / F.col("dt_days")
        ),
    )
    # positive-rate rank + per-band positive count on the SAME
    # partitioning as the lag window — no extra shuffle
    is_pos = F.when(F.col("rate") > 0, 1)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wband = Window.partitionBy("user_id", "event_type")
    aug = rated.select(
        "*",
        F.sum(is_pos).over(wcum).alias("rn_pos"),
        F.sum(is_pos).over(wband).alias("cnt_pos"),
    )
    third = F.floor(F.col("cnt_pos") / 3)
    in_13 = (
        (F.col("rate") > 0)
        & (F.col("cnt_pos") >= 3)
        & (F.col("rn_pos") <= third)
    )
    in_33 = (
        (F.col("rate") > 0)
        & (F.col("cnt_pos") >= 3)
        & (F.col("rn_pos") > F.col("cnt_pos") - third)
    )
    per_user = aug.groupBy("user_id").agg(
        F.count("*").alias("n_valid"),
        F.coalesce(
            F.avg(F.when(F.col("rate") < 0, F.col("rate"))), F.lit(0.0)
        ).alias("incr"),
        F.coalesce(F.avg(F.when(in_13, F.col("rate"))), F.lit(0.0)).alias(
            "d13"
        ),
        F.coalesce(F.avg(F.when(in_33, F.col("rate"))), F.lit(0.0)).alias(
            "d33"
        ),
        F.min("ts_us").alias("t_first"),
        F.min(F.struct(F.col("mag"), F.col("ts_us")))["ts_us"].alias(
            "t_peak"
        ),
        F.avg(
            F.when(F.col("event_type") == _OR_COLOR_BANDS[0], F.col("mag"))
        ).alias("mag_a"),
        F.avg(
            F.when(F.col("event_type") == _OR_COLOR_BANDS[1], F.col("mag"))
        ).alias("mag_b"),
    )
    feats = per_user.select(
        "user_id",
        "n_valid",
        "incr",
        "d13",
        "d33",
        ((F.col("t_peak") - F.col("t_first")) / F.lit(86400e6)).alias(
            "dt_peak"
        ),
        F.coalesce(F.col("mag_a") - F.col("mag_b"), F.lit(0.0)).alias(
            "color"
        ),
    )
    score = make_mlp_score_udf()
    prob = score(
        F.col("incr") * 2,
        F.col("d33") * 2,
        F.col("dt_peak") / 4,
        F.col("color") * 4,
    )
    return feats.select(
        "user_id",
        "n_valid",
        F.round("incr", 6).alias("incr"),
        F.round("d13", 6).alias("d13"),
        F.round("d33", 6).alias("d33"),
        F.round("dt_peak", 6).alias("dt_peak"),
        F.round("color", 6).alias("color"),
        F.when(F.col("n_valid") >= _OR_MIN_PTS, F.round(prob, 6))
        .otherwise(F.lit(0.0))
        .alias("orphan_prob"),
    )


_OR_PROB_SQL = mlp_score_sql(
    ["(incr * 2)", "(d33 * 2)", "(dt_peak / 4)", "(color * 4)"]
)

ORACLE_ORPHAN_SCORE = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(round(({_OR_ZP!r} - 2.5 * log10(value)) * {_OR_Q!r}) AS BIGINT)
           / {_OR_Q!r} AS mag
  FROM events WHERE value > 0
),
rated AS (
  SELECT user_id, event_type, event_id, ts_us, mag,
         (ts_us - lag(ts_us) OVER w) / 86400e6 AS dt_days,
         mag - lag(mag) OVER w AS dmag
  FROM ev
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
),
with_rate AS (
  SELECT *, CASE WHEN dt_days > {_OR_DT_MIN!r} THEN dmag / dt_days END AS rate
  FROM rated
),
aug AS (
  SELECT *,
         sum(CASE WHEN rate > 0 THEN 1 END)
           OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS rn_pos,
         sum(CASE WHEN rate > 0 THEN 1 END)
           OVER (PARTITION BY user_id, event_type) AS cnt_pos
  FROM with_rate
),
per_user AS (
  SELECT user_id, count(*) AS n_valid,
         coalesce(avg(CASE WHEN rate < 0 THEN rate END), 0.0) AS incr,
         coalesce(avg(CASE WHEN rate > 0 AND cnt_pos >= 3
                            AND rn_pos <= floor(cnt_pos / 3)
                       THEN rate END), 0.0) AS d13,
         coalesce(avg(CASE WHEN rate > 0 AND cnt_pos >= 3
                            AND rn_pos > cnt_pos - floor(cnt_pos / 3)
                       THEN rate END), 0.0) AS d33,
         min(ts_us) AS t_first,
         min(struct_pack(m := mag, t := ts_us)).t AS t_peak,
         avg(CASE WHEN event_type = '{_OR_COLOR_BANDS[0]}' THEN mag END)
           AS mag_a,
         avg(CASE WHEN event_type = '{_OR_COLOR_BANDS[1]}' THEN mag END)
           AS mag_b
  FROM aug GROUP BY user_id
),
feats AS (
  SELECT user_id, n_valid, incr, d13, d33,
         (t_peak - t_first) / 86400e6 AS dt_peak,
         coalesce(mag_a - mag_b, 0.0) AS color
  FROM per_user
)
SELECT user_id, n_valid,
       round(incr, 6) AS incr, round(d13, 6) AS d13, round(d33, 6) AS d33,
       round(dt_peak, 6) AS dt_peak, round(color, 6) AS color,
       CASE WHEN n_valid >= {_OR_MIN_PTS}
            THEN round({_OR_PROB_SQL}, 6) ELSE 0.0 END AS orphan_prob
FROM feats
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
# snn_ia_score: SuperNNova-shaped recurrent classifier.
#
# Reference semantics (ztf/snn/processor.py:84-210): selection cuts
# (history depth, age, catalog/roid vetoes) -> format the light curve as
# SNANA calibrated fluxes (mag2fluxcal_snana) -> a trained torch RNN
# consumes the variable-length sequence -> P(Ia), 0.0 for cut rows.
#
# Spark-first: the sequence is the CATS-style padded slice (K events,
# time-sorted) and the RNN is a frozen FIXED-K recurrence emitted as one
# NAMED projection per step (operators/models.rnn_apply; chained CTEs on
# the oracle side) — pad steps carry the hidden state through unchanged,
# which is exactly pack_padded_sequence semantics, and the per-step
# projections keep the expression tree linear in K (a nested unroll
# grows 3^K and breaks whole-stage codegen by K=5). Fully UDF-free:
# the recurrent forward pass runs inside codegen.
#
# Feature prep uses the reference's REAL SuperNNova normalization
# constants (snn_sn_vs_all/data_norm.json, via the snn_norm checkpoint
# seam): FLUXCAL_g log-standardization for the flux input, delta_time
# (gap since PREVIOUS observation, SuperNNova's convention) for the time
# input. The dyadic post-gains map the standardized scale onto the
# frozen toy RNN's dynamic range — the slot the trained torch weights
# occupy in the reference.
# --------------------------------------------------------------------------

from fink_science_spark.operators.snn_norm import (
    load_snn_norm as _load_snn_norm,
    snn_norm_col as _snn_norm_col,
    snn_norm_sql as _snn_norm_sql,
)

_SNN_K = 8
_SNN_MIN_PTS = 3
_SNN_MIN_AGE_DAYS = 0.5
_SNN_NORM = _load_snn_norm()
# exact dyadic post-gains: standardized FLUXCAL_g spans ~[-450, 260]
# (std = 0.0118 amplifies), delta_time ~[-6.3, 0]
_SNN_FLUX_GAIN = 1.0 / 256.0
_SNN_DT_GAIN = 1.0 / 4.0


def q_snn_ia_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.photometry import mag2fluxcal_snana
    from fink_science_spark.operators.models import rnn_apply

    ev = _events_us(spark, sf_dir)
    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts_us"), F.col("value")))
            ).alias("h")
        )
        .select(
            "user_id",
            F.col("h.ts_us").alias("ts_arr"),
            F.col("h.value").alias("val_arr"),
            F.size("h").alias("n"),
        )
    )
    t1 = F.element_at("ts_arr", 1)
    age_days = (F.element_at("ts_arr", F.col("n")) - t1) / F.lit(86400e6)
    steps = []
    for t in range(1, _SNN_K + 1):
        mag = F.lit(10.0) + F.coalesce(
            F.try_element_at("val_arr", F.lit(t)), F.lit(0.0)
        ) / F.lit(32.0)
        flux, _err = mag2fluxcal_snana(mag, F.lit(0.0))
        x = _snn_norm_col(flux, _SNN_NORM["FLUXCAL_g"]) * F.lit(
            _SNN_FLUX_GAIN
        )
        if t == 1:
            dt_days = F.lit(0.0)
        else:
            prev = F.coalesce(F.try_element_at("ts_arr", F.lit(t - 1)), t1)
            cur = F.coalesce(F.try_element_at("ts_arr", F.lit(t)), prev)
            dt_days = (cur - prev) / F.lit(86400e6)
        d = _snn_norm_col(dt_days, _SNN_NORM["delta_time"]) * F.lit(
            _SNN_DT_GAIN
        )
        is_pad = F.lit(t) > F.col("n")
        steps.append((x, d, is_pad))
    scored = rnn_apply(grouped, steps, "__rnn_p")
    ok = (F.col("n") >= _SNN_MIN_PTS) & (age_days >= _SNN_MIN_AGE_DAYS)
    return scored.select(
        "user_id",
        "n",
        F.round(age_days, 6).alias("age_days"),
        F.when(ok, F.round("__rnn_p", 6))
        .otherwise(F.lit(0.0))
        .alias("snn_ia"),
    )


def _oracle_snn() -> str:
    from fink_science_spark.functions.photometry import mag2fluxcal_snana_sql
    from fink_science_spark.operators.models import rnn_sql_ctes

    steps = []
    for t in range(1, _SNN_K + 1):
        mag = f"(10.0 + coalesce(val_arr[{t}], 0.0) / 32.0)"
        flux, _err = mag2fluxcal_snana_sql(mag, "0.0")
        x = (
            f"({_snn_norm_sql(flux, _SNN_NORM['FLUXCAL_g'])}"
            f" * {_SNN_FLUX_GAIN!r})"
        )
        if t == 1:
            dt_days = "0.0"
        else:
            prev = f"coalesce(ts_arr[{t - 1}], ts_arr[1])"
            dt_days = (
                f"((coalesce(ts_arr[{t}], {prev}) - {prev}) / 86400e6)"
            )
        d = (
            f"({_snn_norm_sql(dt_days, _SNN_NORM['delta_time'])}"
            f" * {_SNN_DT_GAIN!r})"
        )
        is_pad = f"{t} > n"
        steps.append((x, d, is_pad))
    ctes, last, prob = rnn_sql_ctes(steps, "aged")
    return f"""
WITH grouped AS (
  SELECT user_id,
         list(epoch_us(ts) ORDER BY epoch_us(ts), value) AS ts_arr,
         list(value ORDER BY epoch_us(ts), value) AS val_arr,
         count(*) AS n
  FROM events GROUP BY user_id
),
aged AS (
  SELECT *, (ts_arr[CAST(n AS INTEGER)] - ts_arr[1]) / 86400e6 AS age_days
  FROM grouped
),
{ctes}
SELECT user_id, n, round(age_days, 6) AS age_days,
       CASE WHEN n >= {_SNN_MIN_PTS} AND age_days >= {_SNN_MIN_AGE_DAYS!r}
            THEN round({prob}, 6) ELSE 0.0 END AS snn_ia
FROM {last}
"""


ORACLE_SNN_IA_SCORE = _oracle_snn()

# --------------------------------------------------------------------------
# ann_rerank: two-stage retrieval (retrieve -> rerank) — the standard
# similarity-search shape a curation pipeline runs at scale: a cheap
# recall stage (blocked brute-force/LSH cosine top-k) followed by a
# cross-feature model over the tiny candidate set. Beyond the reference
# (its crossmatch is single-stage); first-class per the build brief's
# similarity-search mandate.
#
# Scale shape: stage 1 is the proven mapInPandas block kernel (corpus
# never shuffles, local top-k merge). Stage 2 BROADCASTS the candidate
# list (|queries| x k rows) back against the embedding table for
# metadata — the corpus is streamed, never collected — and the frozen
# rerank MLP evaluates NATIVELY (the mlp_score_sql expression compiles
# under whole-stage codegen via F.expr; no Python in stage 2). All
# rerank features are rounded/exact, so both engines rank identical
# inputs.
# --------------------------------------------------------------------------

_RR_K1 = 10   # recall-stage candidates per query
_RR_K2 = 3    # final reranked neighbors


def _rr_feats() -> list[str]:
    """Rerank features as SQL exprs over the joined candidate row (shared
    verbatim between the Spark plan and the DuckDB oracle)."""
    return [
        "cos",
        "(CASE WHEN q_label = c_label THEN 1.0 ELSE 0.0 END)",
        f"(rank / {float(_RR_K1)!r})",
        "(least(q_norm, c_norm) / greatest(q_norm, c_norm))",
    ]


def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.models import mlp_score_sql
    from fink_science_spark.operators.similarity import cosine_topk_blocked

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cand = cosine_topk_blocked(
        corpus, queries, "cid", "cv", "qid", "qv", k=_RR_K1
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    meta = emb.select("vec_id", "label", norm.alias("norm"))
    joined = (
        meta.join(
            F.broadcast(cand), meta.vec_id == cand.qid, "inner"
        )
        .select(
            "qid", "cid", "rank", "cos",
            F.col("label").alias("q_label"), F.col("norm").alias("q_norm"),
        )
        .join(F.broadcast(meta), F.col("cid") == meta.vec_id, "inner")
        .select(
            "qid", "cid", "rank", "cos", "q_label", "q_norm",
            F.col("label").alias("c_label"), F.col("norm").alias("c_norm"),
        )
    )
    rerank = F.expr(mlp_score_sql(_rr_feats()))
    w2 = Window.partitionBy("qid").orderBy(
        F.col("rr").desc(), F.col("cid").asc()
    )
    return (
        joined.withColumn("rr", rerank)
        .withColumn("rr_rank", F.row_number().over(w2))
        .filter(F.col("rr_rank") <= _RR_K2)
        .select(
            "qid", "cid", "rr_rank", "cos",
            F.round("rr", 6).alias("rerank_score"),
        )
    )


def _oracle_ann_rerank() -> str:
    from fink_science_spark.operators.models import mlp_score_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings),
meta AS (
  SELECT vec_id, label,
         round(sqrt(list_inner_product(v, v)), 6) AS norm
  FROM e
),
q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN e c ON c.vec_id != q.qid
),
cand AS (
  SELECT qid, cid, rank, round(cosr, 6) AS cos FROM (
    SELECT qid, cid, cosr,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosr DESC, cid ASC) AS rank
    FROM scored
  ) r WHERE rank <= {_RR_K1}
),
joined AS (
  SELECT cand.qid, cand.cid, cand.rank, cand.cos,
         mq.label AS q_label, mq.norm AS q_norm,
         mc.label AS c_label, mc.norm AS c_norm
  FROM cand
  JOIN meta mq ON cand.qid = mq.vec_id
  JOIN meta mc ON cand.cid = mc.vec_id
),
rr AS (
  SELECT *, {mlp_score_sql(_rr_feats())} AS rr_score FROM joined
)
SELECT qid, cid, rr_rank, cos, round(rr_score, 6) AS rerank_score
FROM (
  SELECT qid, cid, cos, rr_score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rr_score DESC, cid ASC) AS rr_rank
  FROM rr
) z WHERE rr_rank <= {_RR_K2}
"""


ORACLE_ANN_RERANK = _oracle_ann_rerank()

# --------------------------------------------------------------------------
# host_pagerank: host-authority ranking for corpus curation — the
# CommonCrawl-style centrality signal (harmonic/PageRank over the host
# link graph) used to weight or filter crawled sources. Beyond the
# reference; first-class per the build brief's curation mandate.
#
# Scale shape: the 100 TB side is the DOCUMENT table, which is reduced
# to a host-level weighted edge list by ONE hash aggregation (hosts <<
# docs — the web's host graph fits comfortably in an aggregate). The
# power iteration then runs entirely on the aggregated graph: K damped
# rounds unrolled as join + re-aggregate on the small edge table (at
# production host counts: broadcast the rank vector, iterate to
# convergence with localCheckpoint like operators/graph). Edges are
# LCG-derived from doc ids (the deterministic-synthesis pattern of the
# crossmatch sky) so both engines build the identical graph.
# --------------------------------------------------------------------------

_PR_N = 64          # host-node count
_PR_ROUNDS = 3      # unrolled damped iterations
_PR_DAMP = 0.85
_PR_EDGE_A = 7919   # LCG link derivation
_PR_EDGE_B = 11
# Dyadic quantization step for edge probabilities and per-round ranks:
# with both factors carrying ≤20 fraction bits, every product r·p is
# exact in a double (≤40 bits) and the per-dst inflow sum of < 2⁶ such
# terms needs < 47 bits — also exact, so hash-aggregate SUMMATION ORDER
# CANNOT change the result and the unrolled iteration is bit-identical
# across engines (the trailing_mean float-boundary lesson, applied to an
# iterated sum). floor(x·Q + 0.5)/Q rather than round(): engines
# disagree on round()'s half mode, floor they agree on.
_PR_Q = float(1 << 20)


def _pr_quant(col):
    return F.floor(col * F.lit(_PR_Q) + F.lit(0.5)) / F.lit(_PR_Q)


def _pr_quant_sql(expr: str) -> str:
    return f"floor(({expr}) * {_PR_Q!r} + 0.5) / {_PR_Q!r}"


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _PR_N).alias("src"),
        ((F.col("doc_id") * _PR_EDGE_A + _PR_EDGE_B) % _PR_N).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # materialize the host-scale edge list ONCE (localCheckpoint truncates
    # lineage — without it every unrolled iteration re-scans the document
    # table, the operators/graph.py lesson)
    edges = (
        docs.groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    e = edges.join(outdeg, "src").select(
        "src", "dst", _pr_quant(F.col("w") / F.col("deg")).alias("p")
    )
    nodes = spark.range(_PR_N).select(F.col("id").alias("node"))
    base = (1.0 - _PR_DAMP) / _PR_N
    rank = nodes.select(
        "node", _pr_quant(F.lit(1.0 / _PR_N)).alias("r")
    )
    # the checkpointed edge list has no catalog stats → pin the broadcast
    # explicitly (rank vector and edges are host-scale, always the small
    # side against any doc-derived relation)
    for _ in range(_PR_ROUNDS):
        contrib = (
            rank.join(F.broadcast(e), rank.node == e.src, "inner")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("p")).alias("inflow"))
        )
        rank = nodes.join(
            F.broadcast(contrib), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            _pr_quant(
                F.lit(base)
                + F.lit(_PR_DAMP) * F.coalesce("inflow", F.lit(0.0))
            ).alias("r"),
        )
    return rank.join(
        F.broadcast(outdeg), rank.node == outdeg.src, "left"
    ).select(
        "node",
        F.coalesce("deg", F.lit(0)).alias("out_weight"),
        F.round("r", 6).alias("rank"),
    )


def _oracle_pagerank() -> str:
    base = (1.0 - _PR_DAMP) / _PR_N
    rounds = []
    prev = "r0"
    for k in range(1, _PR_ROUNDS + 1):
        rounds.append(f"""
r{k} AS (
  SELECT n.node,
         {_pr_quant_sql(f"{base!r} + {_PR_DAMP!r} * coalesce(c.inflow, 0.0)")} AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(rk.r * e.p) AS inflow
    FROM {prev} rk JOIN e ON rk.node = e.src
    GROUP BY e.dst
  ) c ON n.node = c.dst
)""")
        prev = f"r{k}"
    return f"""
WITH raw AS (
  SELECT doc_id % {_PR_N} AS src,
         (doc_id * {_PR_EDGE_A} + {_PR_EDGE_B}) % {_PR_N} AS dst
  FROM documents
),
edges AS (
  SELECT src, dst, count(*) AS w FROM raw WHERE src != dst GROUP BY src, dst
),
outdeg AS (SELECT src, sum(w) AS deg FROM edges GROUP BY src),
e AS (
  SELECT edges.src, dst,
         {_pr_quant_sql(f"w / CAST(deg AS DOUBLE)")} AS p
  FROM edges JOIN outdeg ON edges.src = outdeg.src
),
nodes AS (SELECT unnest(generate_series(0, {_PR_N - 1})) AS node),
r0 AS (SELECT node, {_pr_quant_sql(f"1.0 / {_PR_N}")} AS r
       FROM nodes),{",".join(rounds)}
SELECT n.node, CAST(coalesce(d.deg, 0) AS BIGINT) AS out_weight,
       round(rk.r, 6) AS rank
FROM nodes n
LEFT JOIN outdeg d ON n.node = d.src
JOIN {prev} rk ON n.node = rk.node
"""


ORACLE_HOST_PAGERANK = _oracle_pagerank()

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

# --------------------------------------------------------------------------
# incremental_agg: incremental aggregate maintenance via mergeable
# partial states — the 100 TB refresh pattern: a stored rollup is never
# recomputed from scratch; the new batch contributes PARTIAL states
# (count/sum/sumsq/min/max — all commutative monoids) that merge with
# the stored ones, and finalization happens on the merged state. The
# oracle recomputes the rollup from the FULL table directly, proving
# merge-equivalence. Sums run in the integer-quantized domain (value has
# 2 exact decimals) so the equivalence is bit-exact, not approximate —
# the same trick that makes the mulens forest features portable.
# Complements dedup_incremental (the dedup-index instance of the same
# incremental pattern).
# --------------------------------------------------------------------------

_INC_SPLIT_MOD = 10  # event_id % 10 == 9 -> the "new batch" (~10%)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("qv"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("s1"),
            F.sum(F.col("qv") * F.col("qv")).alias("s2"),
            F.min("qv").alias("mn"),
            F.max("qv").alias("mx"),
        )

    stored = partials(ev.filter(F.col("event_id") % _INC_SPLIT_MOD != 9))
    batch = partials(ev.filter(F.col("event_id") % _INC_SPLIT_MOD == 9))
    merged = (
        stored.unionByName(batch)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n") / F.lit(100.0)
    var = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    ) / F.lit(10000.0)
    return merged.select(
        "user_id",
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_value"),
        ((F.col("mx") - F.col("mn")).cast("double") / F.lit(100.0)).alias(
            "amplitude"
        ),
    )


ORACLE_INCREMENTAL_AGG = """
WITH q AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS qv
  FROM events
),
full_agg AS (
  SELECT user_id, event_type, count(*) AS n,
         sum(qv) AS s1, sum(qv * qv) AS s2, min(qv) AS mn, max(qv) AS mx
  FROM q GROUP BY user_id, event_type
)
SELECT user_id, event_type, n,
       round(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_value,
       round(sqrt(greatest((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                  / 10000.0, 0.0)), 6) AS std_value,
       CAST(mx - mn AS DOUBLE) / 100.0 AS amplitude
FROM full_agg
"""

# --------------------------------------------------------------------------
# bpe_train: distributed BPE merge training — the tokenizer-construction
# step of a training-data pipeline (count adjacent symbol pairs over the
# corpus, merge the most frequent, repeat). Iterative like CC / Lloyd /
# PageRank, but the per-round reduction is a corpus-wide pair count and
# the per-round "model" is ONE row (the argmax merge), which stays in
# the DAG as a broadcast cross-join — no driver round-trips.
#
# The merge APPLY step is exact BPE greedy (leftmost, non-overlapping)
# via plain string replace on a boundary-safe encoding: tokens joined
# with DOUBLE spaces and single sentinel spaces at the ends, so the
# pattern " A  B " always consumes one boundary space from each side
# and a triple "T T T" merges exactly once — the classic " a b a b "
# overlap bug cannot occur. Sequences are re-canonicalized (split on
# space runs, re-join) each round.
#
# At 100 TB each round is one map (pair explode) + one hash agg + a
# 1-row broadcast: shuffle payload is (pair, count), never documents.
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_PREFIX = 64  # chars of each doc considered (bounds the explode)


def _bpe_prepare(spark: SparkSession, sf_dir: str, extra: list) -> DataFrame:
    """Normalized char-level sequences in the double-space canonical form,
    carrying ``extra`` passthrough columns."""
    # fan out before the char-split prep: the prepared corpus is
    # checkpointed ONCE and consumed by every merge round's count job,
    # so a 1-partition checkpoint (inherited from the single-row-group
    # scan) serialized every round (measured: per-round 1-task jobs of
    # 0.17-0.28 s in bpe_encode_stats)
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", *extra, "text"),
        key="doc_id",
    ).select(
        *extra,
        F.regexp_replace(
            F.lower(F.substring("text", 1, _BPE_PREFIX)), "[^a-z]", ""
        ).alias("s"),
    ).filter(F.length("s") >= 2)
    seq = F.concat(
        F.lit(" "),
        F.array_join(
            F.split(
                F.trim(F.regexp_replace(F.col("s"), "(.)", "$1 ")), " +"
            ),
            "  ",
        ),
        F.lit(" "),
    )
    return docs.select(*extra, seq.alias("seq"))


def _bpe_rounds(cur: DataFrame, extra: list):
    """Run the merge-training rounds; returns (final sequences DF with
    ``extra`` columns intact, list of 1-row merge DFs (round, pair,
    freq)).

    Job shape (r9 optimization, guide §1.2/§5): ONE distributed
    count+argmax job per merge round, nothing else. The prepared corpus
    is checkpointed once (the regex char-split is the expensive part,
    consumed by every round); each round's merge APPLY stays a LAZY
    replace+recanonicalize layer over that checkpoint — it is evaluated
    inside the next round's count job (and, for bpe_encode_stats, once
    in the final encode), never materialized on its own. The 1-row
    ``best`` IS eagerly checkpointed: it is consumed twice (merge output
    + the broadcast rewrite) and checkpointing it keeps the apply
    chain's lineage depth linear in rounds — each layer references a
    1-row checkpoint, not the previous round's whole aggregation (the
    connected_components lesson). vs the previous per-round eager corpus
    checkpoints: 3 fewer full-corpus materializations per query, and the
    LAST round's apply is never computed at all for bpe_train (its
    output is only the merge table). At 100 TB that is the difference
    between 2×rounds corpus passes and rounds+1."""
    merges = []
    cur = cur.localCheckpoint(eager=True)
    for rnd in range(1, _BPE_ROUNDS + 1):
        toks = F.split(F.trim(F.col("seq")), " +")
        pair = F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        counts = (
            cur.select(F.explode(pair).alias("pair"))
            .filter(F.col("pair").isNotNull())
            .groupBy("pair")
            .agg(F.count("*").alias("freq"))
        )
        best = (
            counts.orderBy(F.col("freq").desc(), F.col("pair").asc())
            .limit(1)
            .select(F.lit(rnd).alias("round"), "pair", "freq")
            .localCheckpoint(eager=True)
        )
        merges.append(best)
        pat = F.concat(
            F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        rep = F.concat(
            F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        applied = cur.crossJoin(
            F.broadcast(best.select("pair"))
        ).select(*extra, F.replace(F.col("seq"), pat, rep).alias("seq"))
        # re-canonicalize to the double-space form for the next round's
        # replace (the pattern needs exact double-space token boundaries;
        # the SPLIT in the count step is spacing-robust either way) —
        # lazy: one narrow string layer fused into whatever job consumes
        # it next
        cur = applied.select(
            *extra,
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.trim(F.col("seq")), " +"), "  "),
                F.lit(" "),
            ).alias("seq"),
        )
    return cur, merges


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = _bpe_prepare(spark, sf_dir, [])
    _final, merges = _bpe_rounds(cur, [])
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


ORACLE_BPE_TRAIN = r"""
WITH norm AS (
  SELECT regexp_replace(lower(substring(text, 1, 64)), '[^a-z]', '', 'g') AS s
  FROM documents
),
r0 AS (
  SELECT ' ' || array_to_string(
           regexp_split_to_array(
             trim(regexp_replace(s, '(.)', '\1 ', 'g')), ' +'), '  ') || ' '
         AS seq
  FROM norm WHERE len(s) >= 2
),
""" + ",\n".join(
    f"""p{k} AS (
  SELECT t[i] || ' ' || t[i+1] AS pair FROM
    (SELECT regexp_split_to_array(trim(seq), ' +') AS t FROM r{k - 1}) x,
    (SELECT unnest(generate_series(1, {_BPE_PREFIX})) AS i) g
  WHERE i < len(t)
),
m{k} AS (
  SELECT {k} AS round, pair, count(*) AS freq FROM p{k}
  GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 1
),
r{k} AS (
  SELECT ' ' || array_to_string(regexp_split_to_array(trim(
           replace(seq,
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '') || ' ')
         ), ' +'), '  ') || ' ' AS seq
  FROM r{k - 1}
)"""
    for k in range(1, _BPE_ROUNDS + 1)
) + f"""
SELECT CAST(round AS INT) AS round, pair, freq FROM (
  {" UNION ALL ".join(f"SELECT * FROM m{k}" for k in range(1, _BPE_ROUNDS + 1))}
) z
"""

# --------------------------------------------------------------------------
# evolved_scan: schema-evolution reads — the lakehouse reality that a
# 100 TB table is written over years by pipeline versions with different
# schemas. Two partition generations are written with DIFFERENT columns
# (v2 adds a `channel` column); `mergeSchema` reconciles them at read
# time, old rows surface NULL for the new column, and the aggregation
# treats generations uniformly. Oracle: the same union-with-null-fill in
# SQL. (Spark-side file writes happen under _scratch; the oracle only
# needs the logical content, derived from the same source table.)
# --------------------------------------------------------------------------


def q_evolved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from fink_science_spark.queries_ext2 import _SCRATCH

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _os.path.join(_SCRATCH, f"evolved_{tag}")
    ev = _events_us(spark, sf_dir)
    v1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "value",
        (F.col("event_id") % 4).cast("int").alias("channel"),
    )
    v1.write.mode("overwrite").parquet(_os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(_os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", True).parquet(base)
    return (
        merged.groupBy(F.coalesce("channel", F.lit(-1)).alias("channel"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_EVOLVED_SCAN = """
WITH v1 AS (
  SELECT event_id, user_id, value, CAST(NULL AS INT) AS channel
  FROM events WHERE event_id % 2 = 0
),
v2 AS (
  SELECT event_id, user_id, value, CAST(event_id % 4 AS INT) AS channel
  FROM events WHERE event_id % 2 = 1
),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT coalesce(channel, -1) AS channel, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM merged GROUP BY coalesce(channel, -1)
"""

# --------------------------------------------------------------------------
# stream_mv_maintenance: streaming materialized-view maintenance — the
# warehouse pattern incremental_agg proves in batch, run as a REAL
# multi-batch stream: each micro-batch appends its PARTIAL aggregate
# states (count/sum/min/max monoids) to a log-structured state
# directory (append-only: never read-modify-overwrite the path you are
# streaming state into — the classic self-overwrite deadlock), and a
# final compaction merges the delta log into the finalized view. The
# oracle is the batch aggregate over the full table: the maintained
# view must be indistinguishable from recomputation.
# --------------------------------------------------------------------------


def q_stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    from fink_science_spark.queries_ext2 import _SCRATCH

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    src_path = _os.path.join(_SCRATCH, f"mv_src_{tag}")
    state_path = _os.path.join(_SCRATCH, f"mv_state_{tag}")
    _shutil.rmtree(src_path, ignore_errors=True)
    _shutil.rmtree(state_path, ignore_errors=True)

    ev = _events_us(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("qv"),
    )
    # 4 files -> 4 micro-batches under maxFilesPerTrigger=1
    ev.repartition(4).write.parquet(src_path)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("s1"),
            F.min("qv").alias("mn"),
            F.max("qv").alias("mx"),
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        partial(batch_df).write.mode("append").parquet(state_path)

    # the stream holds no state (each batch aggregates on its own inside
    # foreachBatch), so it keeps the session's shuffle width
    stream = (
        spark.readStream.schema(ev.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_path)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # compaction: merge the delta log into the finalized view (its schema
    # is known, so reading it back needs no inference job)
    state = spark.read.schema(partial(ev).schema).parquet(state_path)
    return (
        state.groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            "user_id",
            "event_type",
            "n",
            F.round(
                F.col("s1").cast("double") / F.col("n") / F.lit(100.0), 6
            ).alias("mean_value"),
            ((F.col("mx") - F.col("mn")).cast("double") / F.lit(100.0)).alias(
                "amplitude"
            ),
        )
    )


ORACLE_STREAM_MV_MAINTENANCE = """
WITH q AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS qv
  FROM events
)
SELECT user_id, event_type, count(*) AS n,
       round(CAST(sum(qv) AS DOUBLE) / count(*) / 100.0, 6) AS mean_value,
       CAST(max(qv) - min(qv) AS DOUBLE) / 100.0 AS amplitude
FROM q GROUP BY user_id, event_type
"""

# --------------------------------------------------------------------------
# trimmed_mean: the GROUPED_AGG pandas UDF surface — the one PySpark
# Python-execution API the registry had not yet exercised (scalar
# pandas_udf, applyInPandas, mapInPandas, applyInPandasWithState are all
# covered elsewhere). A custom aggregate the built-ins cannot express:
# the 10%-trimmed mean (drop the floor(n/10) smallest and largest, mean
# the rest — the robust location estimate ad_features-style statistics
# use). Grouped-agg UDFs receive the whole group as an Arrow batch,
# which is exactly the right contract for order statistics; ties among
# equal values cannot affect the trimmed SUM, so the kernel needs no
# tie-break to match the window-based SQL oracle.
# --------------------------------------------------------------------------


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-agg UDFs cannot mix with JVM aggregates in one agg() —
    # INVALID_PANDAS_UDF_PLACEMENT — so every output here is a pandas
    # aggregate (still ONE shuffle, one Arrow stage)
    # means run in the integer-quantized domain (2-decimal values), so
    # the sums are exact and order-independent — the float-sum rounding-
    # boundary class the sf0.1 parity run surfaced in trailing_mean
    @F.pandas_udf("double")
    def trim_mean(v: pd.Series) -> float:
        import numpy as np

        q = np.sort(
            np.round(v.to_numpy(dtype=np.float64) * 100.0).astype(np.int64)
        )
        k = len(q) // 10
        kept = q[k : len(q) - k] if len(q) > 2 * k else q
        return float(kept.sum()) / len(kept) / 100.0

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    @F.pandas_udf("double")
    def mean_all(v: pd.Series) -> float:
        import numpy as np

        q = np.round(v.to_numpy(dtype=np.float64) * 100.0).astype(np.int64)
        return float(q.sum()) / len(q) / 100.0

    ev = _events_us(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        n_rows(F.col("value")).alias("n"),
        F.round(trim_mean(F.col("value")), 6).alias("trimmed_mean"),
        F.round(mean_all(F.col("value")), 6).alias("plain_mean"),
    )


ORACLE_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS qv,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, max(n) AS n,
       round(CAST(sum(qv) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10)
                  AS DOUBLE)
             / count(*) FILTER (WHERE rn > n // 10 AND rn <= n - n // 10)
             / 100.0, 6) AS trimmed_mean,
       round(CAST(sum(qv) AS DOUBLE) / count(*) / 100.0, 6) AS plain_mean
FROM ranked GROUP BY event_type
"""

# --------------------------------------------------------------------------
# udtf_sessions: the Python UDTF surface (Spark 3.5+/4 table functions)
# with a PARTITION BY ... ORDER BY TABLE argument — the per-partition
# imperative escape hatch for operators that stream ordered rows and
# emit a different-shaped table (here: gap-based sessionization; the
# declarative twin is session_window / the islands SQL the oracle
# uses). Partition-aware UDTFs receive each partition's rows in order
# into one class instance (eval per row, terminate at partition end), so
# state is O(1) per user and the shuffle key is the partition column.
# Session boundaries depend only on time gaps, so equal-timestamp
# ordering ties cannot move them.
# --------------------------------------------------------------------------

_SESS_GAP_US = 86400 * 1000000  # 1 day


def q_udtf_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, session_id int, n int, "
        "start_us bigint, end_us bigint"
    )
    class SessionSplit:
        def __init__(self):
            self.user = None
            self.sid = 0
            self.n = 0
            self.start = None
            self.last = None

        def eval(self, row):
            user_id, ts_us = row.user_id, row.ts_us
            if self.user is None:
                self.user = user_id
                self.sid = 1
                self.n = 1
                self.start = ts_us
            elif ts_us - self.last > _SESS_GAP_US:
                yield (self.user, self.sid, self.n, self.start, self.last)
                self.sid += 1
                self.n = 1
                self.start = ts_us
            else:
                self.n += 1
            self.last = ts_us

        def terminate(self):
            if self.user is not None:
                yield (self.user, self.sid, self.n, self.start, self.last)

    spark.udtf.register("session_split", SessionSplit)
    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    ev.createOrReplaceTempView("__udtf_sessions_in")
    return spark.sql(
        """
        SELECT * FROM session_split(
          TABLE(SELECT user_id, ts_us FROM __udtf_sessions_in)
          PARTITION BY user_id ORDER BY ts_us)
        """
    )


ORACLE_UDTF_SESSIONS = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
d AS (
  SELECT user_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
g AS (
  SELECT user_id, ts_us,
         1 + sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                            ROWS UNBOUNDED PRECEDING) AS session_id
  FROM d
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS INT) AS n,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM g GROUP BY user_id, session_id
"""

# --------------------------------------------------------------------------
# variant_stats: the Spark 4 VARIANT path for open-schema columns —
# parse_json into the binary semi-structured encoding, typed
# variant_get extraction, then plain relational aggregation. The modern
# lakehouse answer to "the props column has no fixed schema" (the
# events_json_stats query covers the classic get_json_object string
# path; this is the typed-encoding successor). Oracle: DuckDB JSON
# extraction — same values, different encodings.
# --------------------------------------------------------------------------


def q_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_VARIANT_STATS = """
SELECT event_type, count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# recursive_reach: recursive CTE (Spark 4 WITH RECURSIVE) — BFS distance
# from host 0 over the corpus-derived link graph of host_pagerank. The
# edge map (47·s + 11 mod 64) is a permutation, so every node has
# exactly one out-edge: the recursion is a bounded linear walk (≤ MAX
# hops × 64 rows), terminated by the hop guard — the pure-SQL
# counterpart of the operator-level iterative family (connected
# components / Lloyd / power iteration).
# --------------------------------------------------------------------------

_RR_MAX_HOPS = 10


def q_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _PR_N).alias("src"),
        ((F.col("doc_id") * _PR_EDGE_A + _PR_EDGE_B) % _PR_N).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    docs.createOrReplaceTempView("__reach_edges")
    return spark.sql(f"""
        WITH RECURSIVE walk(node, dist) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, w.dist + 1
          FROM walk w JOIN __reach_edges e ON e.src = w.node
          WHERE w.dist < {_RR_MAX_HOPS}
        )
        SELECT node, min(dist) AS hops FROM walk GROUP BY node
    """)


ORACLE_RECURSIVE_REACH = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT doc_id % {_PR_N} AS src,
         (doc_id * {_PR_EDGE_A} + {_PR_EDGE_B}) % {_PR_N} AS dst
  FROM documents
  WHERE doc_id % {_PR_N} != (doc_id * {_PR_EDGE_A} + {_PR_EDGE_B}) % {_PR_N}
),
walk(node, dist) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_RR_MAX_HOPS}
)
SELECT node, min(dist) AS hops FROM walk GROUP BY node
"""

# --------------------------------------------------------------------------
# arrow_byte_profile: the mapInArrow surface — RecordBatch-level Python
# with NO pandas materialization (pyarrow.compute kernels straight on
# the Arrow buffers; the zero-copy path for byte-level work where even
# a pandas Series per column is waste). Per-doc UTF-8 byte vs character
# lengths — the multibyte gap a tokenizer-budget planner needs — then a
# plain per-source rollup. Oracle: DuckDB strlen (bytes) vs length
# (characters).
# --------------------------------------------------------------------------


def q_arrow_byte_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def profile(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pc.cast(pc.binary_length(batch.column("text")), pa.int64()),
                    pc.cast(pc.utf8_length(batch.column("text")), pa.int64()),
                ],
                names=["doc_id", "source", "n_bytes", "n_chars"],
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    prof = d.mapInArrow(
        profile, schema="doc_id long, source string, n_bytes long, n_chars long"
    )
    return prof.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("n_bytes") > F.col("n_chars")).cast("long")).alias(
            "n_multibyte_docs"
        ),
    )


ORACLE_ARROW_BYTE_PROFILE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN strlen(text) > length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_multibyte_docs
FROM documents GROUP BY source
"""

# --------------------------------------------------------------------------
# temporal_dim_join: point-in-time (temporal) dimension lookup — every
# click event joined to the SCD2 dimension version valid AT its event
# time (equi user key + ts in [valid_from, valid_to) residual range
# predicate). The consumption side of q_scd2_history's build: together
# they are the full warehouse dimension-history lifecycle.
#
# Scale shape: the range condition rides on an EQUI hash join (user_id)
# as a residual filter — never a range-only join. Versions-per-key is
# small by construction (changes, not events), so the per-key probe is
# a short scan; clicks before a user's first version fall out (inner).
# --------------------------------------------------------------------------


def q_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.queries_ext6 import q_scd2_history

    dim = q_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "attr",
        "valid_from_us",
        F.coalesce("valid_to_us", F.lit(2**62)).alias("valid_to_us"),
    )
    clicks = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts_us")
    )
    joined = clicks.join(
        dim,
        (clicks.user_id == dim.d_user)
        & (clicks.ts_us >= dim.valid_from_us)
        & (clicks.ts_us < dim.valid_to_us),
        "inner",
    )
    return joined.groupBy("attr").agg(
        F.count("*").alias("n_clicks"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_TEMPORAL_DIM_JOIN = """
WITH feed AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         cast(floor(value / 100) AS BIGINT) AS attr
  FROM events WHERE event_type = 'purchase'
),
ch AS (
  SELECT *,
         lag(attr) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_attr
  FROM feed
),
v AS (
  SELECT user_id, event_id, attr, ts_us AS valid_from_us
  FROM ch WHERE prev_attr IS NULL OR attr != prev_attr
),
dim AS (
  SELECT user_id AS d_user, attr, valid_from_us,
         coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
                    ORDER BY valid_from_us, event_id),
                  4611686018427387904) AS valid_to_us
  FROM v
),
clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
)
SELECT attr, count(*) AS n_clicks, count(DISTINCT user_id) AS n_users
FROM clicks c JOIN dim d
  ON c.user_id = d.d_user
 AND c.ts_us >= d.valid_from_us AND c.ts_us < d.valid_to_us
GROUP BY attr
"""

# --------------------------------------------------------------------------
# cube_counts: the CUBE aggregation (all 2^k grouping-set combinations +
# grouping_id provenance) — completes the OLAP trio with rollup_counts
# (linear hierarchy) and sky_pixel_multires (explicit grouping sets).
# Same engine shape: ONE scan, map-side Expand, one exchange.
# --------------------------------------------------------------------------


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total",
        )
    )


ORACLE_CUBE_COUNTS = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""

# --------------------------------------------------------------------------
# unpivot_metrics: wide -> long melt (DataFrame.unpivot / SQL UNPIVOT) —
# the inverse of pivot_counts, turning lineitem's four numeric measures
# into (metric, value) rows for uniform per-metric statistics. The melt
# is a map-side Expand (rows x k, no shuffle until the aggregate).
# --------------------------------------------------------------------------


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
        F.round(F.sum("value"), 2).alias("sum_v"),
    )


ORACLE_UNPIVOT_METRICS = """
SELECT metric, count(*) AS n,
       round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
       round(sum(value), 2) AS sum_v
FROM (
  UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
           FROM lineitem)
  ON l_quantity, l_extendedprice, l_discount, l_tax
  INTO NAME metric VALUE value
) GROUP BY metric
"""

# --------------------------------------------------------------------------
# bpe_encode_stats: the trained-tokenizer artifact applied corpus-wide —
# after the bpe_train merges, every document is ENCODED and the
# per-source compression is measured (tokens per char before vs after;
# the metric a tokenizer-budget planner actually consumes). Same shared
# round machinery as bpe_train, with the source column carried through
# the merge applications.
# --------------------------------------------------------------------------


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = _bpe_prepare(spark, sf_dir, [F.col("source")])
    final, _merges = _bpe_rounds(cur, [F.col("source")])
    n_tokens = F.size(F.split(F.trim(F.col("seq")), " +"))
    # chars = token characters only (spaces are encoding artifacts)
    n_chars = F.length(F.regexp_replace(F.col("seq"), " ", ""))
    enc = final.select("source", n_tokens.alias("n_tok"), n_chars.alias("n_ch"))
    return enc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_ch").alias("total_chars"),
        F.round(
            F.sum("n_tok").cast("double") / F.sum("n_ch").cast("double"), 6
        ).alias("tokens_per_char"),
    )


def _oracle_bpe_encode() -> str:
    rounds = []
    for k in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""p{k} AS (
  SELECT t[i] || ' ' || t[i+1] AS pair FROM
    (SELECT regexp_split_to_array(trim(seq), ' +') AS t FROM r{k - 1}) x,
    (SELECT unnest(generate_series(1, {_BPE_PREFIX})) AS i) g
  WHERE i < len(t)
),
m{k} AS (
  SELECT pair FROM p{k}
  GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1
),
r{k} AS (
  SELECT source, ' ' || array_to_string(regexp_split_to_array(trim(
           replace(seq,
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '') || ' ')
         ), ' +'), '  ') || ' ' AS seq
  FROM r{k - 1}
)""")
    return r"""
WITH norm AS (
  SELECT source,
         regexp_replace(lower(substring(text, 1, 64)), '[^a-z]', '', 'g') AS s
  FROM documents
),
r0 AS (
  SELECT source,
         ' ' || array_to_string(
           regexp_split_to_array(
             trim(regexp_replace(s, '(.)', '\1 ', 'g')), ' +'), '  ') || ' '
         AS seq
  FROM norm WHERE len(s) >= 2
),
""" + ",\n".join(rounds) + f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(seq), ' +'))) AS BIGINT)
         AS total_tokens,
       CAST(sum(len(replace(seq, ' ', ''))) AS BIGINT) AS total_chars,
       round(CAST(sum(len(regexp_split_to_array(trim(seq), ' +')))
                  AS DOUBLE)
             / sum(len(replace(seq, ' ', ''))), 6) AS tokens_per_char
FROM r{_BPE_ROUNDS} GROUP BY source
"""


ORACLE_BPE_ENCODE_STATS = _oracle_bpe_encode()

# --------------------------------------------------------------------------
# knn_graph_stats: similarity-graph construction + degree profile — the
# corpus-structure diagnostic (clustering feed, UMAP-style viz input,
# duplicate-blob detector) built on the SAME bucketed pair generator as
# embedding near-dup (no all-pairs join ever): LSH-bucket candidates ->
# exact-cosine refine -> symmetric degree count per vector, with
# degree-0 vectors kept via a left anti-style union (isolated nodes are
# the interesting ones in curation). Output: degree histogram.
# --------------------------------------------------------------------------

_KG_THRESHOLD = 0.2


def q_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.similarity import (
        cosine_pairs_bucketed,
        lsh_bucket_udf,
    )
    from fink_science_spark.queries_ext2 import _COS_BITS, _EMB_DIM

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = lsh_bucket_udf(_EMB_DIM, _COS_BITS)
    pairs = cosine_pairs_bucketed(
        emb, "vec_id", "v",
        bucket_col=bucket(F.col("v")),
        threshold=_KG_THRESHOLD,
    )
    ends = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("degree"))
    all_deg = (
        emb.select("vec_id")
        .join(deg, emb.vec_id == deg.node, "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return all_deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def _oracle_knn_graph() -> str:
    from fink_science_spark.operators.similarity import lsh_bucket_sql
    from fink_science_spark.queries_ext2 import _COS_BITS, _EMB_DIM

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {lsh_bucket_sql('v', _COS_BITS, _EMB_DIM)} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
  FROM b a JOIN b bb
    ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
  WHERE list_inner_product(a.v, bb.v) /
        sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
        >= {_KG_THRESHOLD}
),
ends AS (
  SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs
),
deg AS (SELECT node, count(*) AS degree FROM ends GROUP BY node),
all_deg AS (
  SELECT coalesce(d.degree, 0) AS degree
  FROM e LEFT JOIN deg d ON e.vec_id = d.node
)
SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes
FROM all_deg GROUP BY degree
"""


ORACLE_KNN_GRAPH_STATS = _oracle_knn_graph()

# --------------------------------------------------------------------------
# eval_split: deterministic stratified train/val/test assignment — the
# split step every training pipeline runs before anything else. The
# split is a pure function of the document id (md5 uniform -> fraction
# thresholds): re-runs, different clusters, and the oracle all assign
# identically, and a document can never leak across splits. Stratification
# is free: the uniform draw is independent of `source`, so per-source
# fractions concentrate to the targets; the query reports realized
# per-(source, split) shares for drift monitoring.
# --------------------------------------------------------------------------

_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.9  # (train, val]; rest = test


def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.queries_ext6 import _U_DENOM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = hash64(F.col("doc_id").cast("string"), seed="split") / F.lit(_U_DENOM)
    split = (
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = docs.select("source", split.alias("split"))
    wsrc = Window.partitionBy("source")
    per = assigned.groupBy("source", "split").agg(F.count("*").alias("n"))
    return per.select(
        "source",
        "split",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wsrc), 4
        ).alias("share"),
    )


def _oracle_eval_split() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext6 import _U_DENOM

    u = f"({hash64_sql('doc_id::VARCHAR', seed='split')} / {_U_DENOM!r})"
    return f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN {u} < {_SPLIT_TRAIN!r} THEN 'train'
              WHEN {u} < {_SPLIT_VAL!r} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
per AS (
  SELECT source, split, count(*) AS n FROM assigned GROUP BY source, split
)
SELECT source, split, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY source), 4)
         AS share
FROM per
"""


ORACLE_EVAL_SPLIT = _oracle_eval_split()

# --------------------------------------------------------------------------

register("mulens_score", q_mulens_score, ORACLE_MULENS_SCORE)
register("orphan_score", q_orphan_score, ORACLE_ORPHAN_SCORE)
register("sky_pixel_rollup", q_sky_pixel_rollup, ORACLE_SKY_PIXEL_ROLLUP)
register("snn_ia_score", q_snn_ia_score, ORACLE_SNN_IA_SCORE)
register("ann_rerank", q_ann_rerank, ORACLE_ANN_RERANK)
register("host_pagerank", q_host_pagerank, ORACLE_HOST_PAGERANK)
register("sky_pixel_multires", q_sky_pixel_multires, ORACLE_SKY_PIXEL_MULTIRES)
register("zorder_cells", q_zorder_cells, ORACLE_ZORDER_CELLS)
register("incremental_agg", q_incremental_agg, ORACLE_INCREMENTAL_AGG)
register("bpe_train", q_bpe_train, ORACLE_BPE_TRAIN)
register("evolved_scan", q_evolved_scan, ORACLE_EVOLVED_SCAN)
register("stream_mv_maintenance", q_stream_mv_maintenance,
         ORACLE_STREAM_MV_MAINTENANCE)
register("trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN)
register("udtf_sessions", q_udtf_sessions, ORACLE_UDTF_SESSIONS)
register("variant_stats", q_variant_stats, ORACLE_VARIANT_STATS)
register("recursive_reach", q_recursive_reach, ORACLE_RECURSIVE_REACH)
register("arrow_byte_profile", q_arrow_byte_profile, ORACLE_ARROW_BYTE_PROFILE)
register("temporal_dim_join", q_temporal_dim_join, ORACLE_TEMPORAL_DIM_JOIN)
register("cube_counts", q_cube_counts, ORACLE_CUBE_COUNTS)
register("unpivot_metrics", q_unpivot_metrics, ORACLE_UNPIVOT_METRICS)
register("bpe_encode_stats", q_bpe_encode_stats, ORACLE_BPE_ENCODE_STATS)
register("knn_graph_stats", q_knn_graph_stats, ORACLE_KNN_GRAPH_STATS)
register("eval_split", q_eval_split, ORACLE_EVAL_SPLIT)
