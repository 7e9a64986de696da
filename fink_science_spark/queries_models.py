"""Model-scoring queries: the synthetic scorers and the real-model
family.

The ``*_real`` queries run the reference's actual trained artifacts,
transcribed with stdlib tooling (no torch / sklearn / onnx imports) and
executed Spark-first with exact DuckDB oracles. ``snn_ia_real``, for
one, scores per-user event sequences with the REAL SuperNNova 2-layer
bidirectional LSTM (35,970 parameters from ztf snn_snia_vs_nonia/model.pt,
ztf/snn/processor.py:84-210): the Spark side runs the production Arrow
kernel (mapInPandas, batched numpy), and the oracle unrolls the same
recurrence as ~100 chained DuckDB CTEs over DOUBLE[] list columns with
every weight embedded as a list literal. Real-alert value parity for
the kernel is pinned in tests/test_snn_lstm_real.py against the
reference's shipped production scores."""

from __future__ import annotations

import numpy as np
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
from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
from fink_science_spark.operators.kn_pca import kn_coef_col as _kn_coef_col
from fink_science_spark.operators.kn_pca import kn_coef_sql as _kn_coef_sql
from fink_science_spark.operators.kn_pca import kn_prep_cols as _kn_prep_cols
from fink_science_spark.operators.kn_pca import kn_prep_sql as _kn_prep_sql
from fink_science_spark.operators.kn_pca import load_kn_pcs as _load_kn_pcs
from fink_science_spark.operators.models import (
    forest_score_sql,
    make_forest_score_udf,
    make_mlp_score_udf,
    mlp_score_sql,
)
from fink_science_spark.operators.snn_norm import (
    load_snn_norm as _load_snn_norm,
)
from fink_science_spark.operators.snn_norm import snn_norm_col as _snn_norm_col
from fink_science_spark.operators.snn_norm import snn_norm_sql as _snn_norm_sql
from fink_science_spark.queries_alerts import (
    band_features_ctes,
    band_features_select,
)
from fink_science_spark.registry import register
from fink_science_spark.tables import _events_us, _fan_out, _t

# --------------------------------------------------------------------------
# Enrichment framework (M5) — masked Arrow kernel with default fill
# --------------------------------------------------------------------------


def q_enrich_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical module template: native pre-filter (purchases only) →
    Arrow sigmoid kernel → default 0.0 for masked rows (SURVEY §2.8
    engine lesson; reference shape: ztf/random_forest_snia/processor.py:174-216)."""
    ev = _t(spark, sf_dir, "events")

    @F.pandas_udf("double")
    def sigmoid_score(value: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(value - 250.0) / 50.0))

    scored = apply_masked_pandas_kernel(
        ev.select("event_id", "event_type", "value"),
        mask=F.col("event_type") == "purchase",
        kernel_udf=sigmoid_score,
        input_cols=["value"],
        output_col="score",
        default=0.0,
        output_type="double",
    )
    return scored.select("event_id", F.round("score", 6).alias("score"))


ORACLE_ENRICH_SCORE = """
SELECT event_id,
       CASE WHEN event_type = 'purchase'
            THEN round(1.0 / (1.0 + exp(-(value - 250.0) / 50.0)), 6)
            ELSE 0.0 END AS score
FROM events
"""


# --------------------------------------------------------------------------
# §2.8 model scoring: frozen-weight MLP, end-to-end (closes the one "no"
# in the round-1 coverage table without ML libs)
# --------------------------------------------------------------------------

# Native feature expressions (codegen'd; the Python kernel sees only the
# four feature columns — the reference's featurize step is Python too, but
# these features are SQL-expressible so the oracle can replay them).
_MODEL_FEATURES_SQL = [
    "log10(l_quantity + 1.0)",
    "l_extendedprice / 100000.0",
    "l_discount * 10.0",
    "l_tax * 10.0",
]
# Selection cuts (the rfscore mask: quality cuts applied natively BEFORE
# Python, ztf/random_forest_snia/processor.py:40-75). Cut rows score 0.0,
# the reference's default for non-candidates (processor.py:208-212).
_MODEL_MASK_SQL = "l_quantity >= 5.0 AND l_discount > 0.0"


def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight MLP scoring over lineitem: native selection cuts →
    codegen'd features → Arrow forward pass (executor-singleton weights)
    → default-fill for cut rows → candidate flag at p > 0.5 — the exact
    lifecycle of rfscore_sigmoid_full
    (ztf/random_forest_snia/processor.py:77-216) with numpy in the
    predict_proba slot. No shuffle; Python cost scales with rows passing
    the cuts only."""
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.operators.models import make_mlp_score_udf

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.expr(e).alias(f"__x{k + 1}")
            for k, e in enumerate(_MODEL_FEATURES_SQL)
        ],
        F.expr(_MODEL_MASK_SQL).alias("__sel"),
    )
    # the single-row-group test file puts ALL 600k rows in one ranged
    # split, so the Arrow kernel ran in ONE task (joblog: summed task
    # time == job wall); narrow fan-out before the kernel, no-op at scale
    li = _fan_out(spark, sf_dir, "lineitem", li, key="l_orderkey")
    scored = apply_masked_pandas_kernel(
        li,
        mask=F.col("__sel"),
        kernel_udf=make_mlp_score_udf(),
        input_cols=["__x1", "__x2", "__x3", "__x4"],
        output_col="__p",
        default=0.0,
        output_type="double",
    )
    return scored.select(
        "l_orderkey",
        "l_linenumber",
        F.round("__p", 6).alias("score"),
        (F.round("__p", 6) > 0.5).alias("is_candidate"),
    )


def _oracle_model_score() -> str:
    from fink_science_spark.operators.models import mlp_score_sql

    p = mlp_score_sql([f"x{k}" for k in range(1, 5)])
    return f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         {_MODEL_FEATURES_SQL[0]} AS x1,
         {_MODEL_FEATURES_SQL[1]} AS x2,
         {_MODEL_FEATURES_SQL[2]} AS x3,
         {_MODEL_FEATURES_SQL[3]} AS x4,
         ({_MODEL_MASK_SQL}) AS sel
  FROM lineitem
),
p AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN sel THEN round({p}, 6) ELSE 0.0 END AS score
  FROM f
)
SELECT l_orderkey, l_linenumber, score, score > 0.5 AS is_candidate
FROM p
"""


# --------------------------------------------------------------------------
# §2.8 model scoring, tree-ensemble family: frozen decision forest
# --------------------------------------------------------------------------

# Forest features must be EXACT IEEE arithmetic (see operators/models.py):
# raw column, one division, two multiplications — no libm. Tree output is
# discontinuous at thresholds, so a log10 ulp difference between engines
# could flip a leaf; these cannot.
_FOREST_FEATURES_SQL = [
    "l_quantity",
    "l_extendedprice / 10000.0",
    "l_discount * 10.0",
    "l_tax * 10.0",
]
_FOREST_MASK_SQL = "l_extendedprice > 2000.0 AND l_quantity >= 2.0"


def q_model_score_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen decision-forest scoring over lineitem — the tree-ensemble
    kernel family (sklearn RF predict_proba = mean of leaf probabilities,
    ztf/random_forest_snia/processor.py:200-216; XGBoost twin:
    rubin/orphans/processor.py:29-102). Same masked-kernel lifecycle as
    q_model_score but a branchy np.where kernel instead of matmul, with a
    nested-CASE-WHEN oracle. No shuffle; embarrassingly parallel."""
    from fink_science_spark.operators.enrich import apply_masked_pandas_kernel
    from fink_science_spark.operators.models import make_forest_score_udf

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.expr(e).alias(f"__x{k + 1}")
            for k, e in enumerate(_FOREST_FEATURES_SQL)
        ],
        F.expr(_FOREST_MASK_SQL).alias("__sel"),
    )
    # same single-task-scan fan-out as q_model_score (no-op at scale)
    li = _fan_out(spark, sf_dir, "lineitem", li, key="l_orderkey")
    scored = apply_masked_pandas_kernel(
        li,
        mask=F.col("__sel"),
        kernel_udf=make_forest_score_udf(),
        input_cols=["__x1", "__x2", "__x3", "__x4"],
        output_col="__p",
        default=0.0,
        output_type="double",
    )
    return scored.select(
        "l_orderkey",
        "l_linenumber",
        F.round("__p", 6).alias("score"),
        (F.round("__p", 6) > 0.5).alias("is_candidate"),
    )


def _oracle_model_score_forest() -> str:
    from fink_science_spark.operators.models import forest_score_sql

    p = forest_score_sql([f"x{k}" for k in range(1, 5)])
    return f"""
WITH f AS (
  SELECT l_orderkey, l_linenumber,
         {_FOREST_FEATURES_SQL[0]} AS x1,
         {_FOREST_FEATURES_SQL[1]} AS x2,
         {_FOREST_FEATURES_SQL[2]} AS x3,
         {_FOREST_FEATURES_SQL[3]} AS x4,
         ({_FOREST_MASK_SQL}) AS sel
  FROM lineitem
),
p AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN sel THEN round({p}, 6) ELSE 0.0 END AS score
  FROM f
)
SELECT l_orderkey, l_linenumber, score, score > 0.5 AS is_candidate
FROM p
"""


# --------------------------------------------------------------------------
# anomaly_score: per-band frozen-forest scores, masked min-combine
# --------------------------------------------------------------------------

_BAND_G = "click"
_BAND_R = "purchase"
_ANOM_MIN_POINTS = 3


def _band_aggs(band: str, tag: str) -> list:
    """Exact-arithmetic per-band sufficient statistics (forest features
    must avoid libm and reassociating float sums — models.py contract):
    count, cent-quantized value sum (integer, order-independent), and two
    threshold-exceedance counts."""
    is_band = F.col("event_type") == band
    return [
        F.count(F.when(is_band, F.lit(1))).alias(f"n_{tag}"),
        F.sum(
            F.when(is_band, F.round(F.col("value") * 100).cast("long"))
        ).alias(f"s_{tag}"),
        F.count(F.when(is_band & (F.col("value") > 40.0), F.lit(1))).alias(
            f"a40_{tag}"
        ),
        F.count(F.when(is_band & (F.col("value") > 25.0), F.lit(1))).alias(
            f"a25_{tag}"
        ),
    ]


def _band_features(tag: str) -> list:
    """Feature vector per band: mean value (from the exact cent sum),
    half-count, and the two exceedance fractions — ranges chosen to
    straddle the frozen forest's split thresholds."""
    n = F.col(f"n_{tag}")
    return [
        F.coalesce((F.col(f"s_{tag}") / n) / F.lit(100.0), F.lit(0.0)),
        n / F.lit(2.0),
        F.coalesce(F.col(f"a40_{tag}") / n, F.lit(0.0)),
        F.coalesce(F.col(f"a25_{tag}") / n, F.lit(0.0)),
    ]


def _band_features_sql(tag: str) -> list[str]:
    n = f"n_{tag}"
    return [
        f"coalesce((s_{tag} / {n}) / 100.0, 0.0)",
        f"{n} / 2.0",
        f"coalesce(a40_{tag} / {n}, 0.0)",
        f"coalesce(a25_{tag} / {n}, 0.0)",
    ]


def q_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-band anomaly score with masked min-combine (reference:
    anomaly_score, ztf/anomaly_detection/processor.py:92-133 — an
    isolation-forest score per band, then per-row: both bands valid →
    min of the two scores; one valid → that score; none → 0.0).

    Spark-first: ONE scan computes both bands' sufficient statistics as
    conditional aggregates (no per-band self-join), the frozen decision
    forest (models.py tree-ensemble kernel, the ONNX runtime slot) scores
    each band through the Arrow-batched UDF, and the mask policy is a
    native CASE. Embarrassingly parallel after the single groupBy."""
    ev = _events_us(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        *_band_aggs(_BAND_G, "g"), *_band_aggs(_BAND_R, "r")
    )
    score = make_forest_score_udf()
    scored = per_user.withColumn(
        "__sg", score(*_band_features("g"))
    ).withColumn("__sr", score(*_band_features("r")))
    vg = F.col("n_g") >= _ANOM_MIN_POINTS
    vr = F.col("n_r") >= _ANOM_MIN_POINTS
    combined = (
        F.when(vg & vr, F.least(F.col("__sg"), F.col("__sr")))
        .when(vg, F.col("__sg"))
        .when(vr, F.col("__sr"))
        .otherwise(F.lit(0.0))
    )
    return scored.select(
        "user_id",
        F.col("n_g").alias("n_band_g"),
        F.col("n_r").alias("n_band_r"),
        F.round(combined, 6).alias("anomaly_score"),
    )


def _oracle_anomaly_score() -> str:
    sg = forest_score_sql(_band_features_sql("g"))
    sr = forest_score_sql(_band_features_sql("r"))
    k = _ANOM_MIN_POINTS
    return f"""
WITH b AS (
  SELECT user_id,
         count(*) FILTER (event_type = '{_BAND_G}')                    AS n_g,
         sum(CAST(round(value * 100) AS BIGINT))
             FILTER (event_type = '{_BAND_G}')                         AS s_g,
         count(*) FILTER (event_type = '{_BAND_G}' AND value > 40.0)   AS a40_g,
         count(*) FILTER (event_type = '{_BAND_G}' AND value > 25.0)   AS a25_g,
         count(*) FILTER (event_type = '{_BAND_R}')                    AS n_r,
         sum(CAST(round(value * 100) AS BIGINT))
             FILTER (event_type = '{_BAND_R}')                         AS s_r,
         count(*) FILTER (event_type = '{_BAND_R}' AND value > 40.0)   AS a40_r,
         count(*) FILTER (event_type = '{_BAND_R}' AND value > 25.0)   AS a25_r
  FROM events GROUP BY user_id
)
SELECT user_id,
       n_g AS n_band_g,
       n_r AS n_band_r,
       round(CASE WHEN n_g >= {k} AND n_r >= {k} THEN least({sg}, {sr})
                  WHEN n_g >= {k} THEN {sg}
                  WHEN n_r >= {k} THEN {sr}
                  ELSE 0.0 END, 6) AS anomaly_score
FROM b
"""


# --------------------------------------------------------------------------
# kn_score: kilonova-shaped module — veto mask (history depth per band +
# catalog-type whitelist) → per-band PCA-projection coefficients (the
# reference's REAL kndetect components, loaded through the checkpoint
# seam) → frozen forest → scatter back with 0.0 default
# (ztf/kilonova/processor.py:37-186; components: :165 load_pcs →
# data/models/KN_PC_all_bands.npy, transcribed bit-exactly into
# fink_science_spark/data/kn_pcs.json by tools/extract_kn_pcs.py)
# --------------------------------------------------------------------------

_KN_PCS = _load_kn_pcs()
# Per-feature gains (all exact dyadic rationals) map the real-component
# coefficient scale onto the frozen forest's threshold range — the
# calibration slot the reference's trained RF occupies (its thresholds
# were learned on kndetect's coefficient scale; ours are frozen literals).
_KN_GAINS = (32.0, 4.0, 0.5, 2.0)  # (cg1, cg2, cr1, cr2)
_KN_SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY")


def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kilonova-module lifecycle, Spark-first: the veto mask (≥2 points in
    each band + broadcast catalog-type whitelist — the reference's
    ndethist/jdstarthist/cdsxmatch cuts) is native SQL; the per-band
    light curves are ONE groupBy into time-sorted arrays; the PCA
    projection uses the reference's REAL kndetect components
    (KN_PC_all_bands.npy g/r bands, via the kn_pca checkpoint seam) as a
    max-normalized peak-aligned exact-IEEE dot product in columns; only
    the forest evaluation runs in the Arrow kernel, and vetoed rows take
    the 0.0 default without ever reaching Python
    (ztf/kilonova/processor.py:120-186: mask → extract_features_all_
    lightcurves pcs projection → predict_kn_score → zeros scatter)."""
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # single-pass pivot (same rewrite as kn_rf_real): the
    # per-band collect_list aggregate used to run twice (click/purchase
    # filter branches) and meet again in a full_outer sort-merge join; one
    # conditional collect per band in a single groupBy(user_id) yields
    # identical columns (collect_list skips the when()-nulls of the other
    # band; empty band -> size 0 and NULL vals, the old full_outer +
    # coalesce semantics).
    isg = F.col("event_type") == "click"
    pt = F.struct(F.col("ts_us"), F.col("value"))
    curves = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.when(isg, pt))).alias("hg"),
        F.array_sort(F.collect_list(F.when(~isg, pt))).alias("hr"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    both = curves.join(F.broadcast(cust), "user_id", "left").select(
        "user_id",
        F.size("hg").alias("n_g"),
        F.size("hr").alias("n_r"),
        F.when(F.size("hg") > 0, F.col("hg.value")).alias("g_vals"),
        F.when(F.size("hr") > 0, F.col("hr.value")).alias("r_vals"),
        "c_mktsegment",
    )
    eligible = (
        (F.col("n_g") >= 2)
        & (F.col("n_r") >= 2)
        & F.col("c_mktsegment").isin(*_KN_SEGMENTS)
    )
    prepped = both.select(
        "user_id",
        "n_g",
        "n_r",
        eligible.alias("__ok"),
        *_kn_prep_cols("g_vals", "kg"),
        *_kn_prep_cols("r_vals", "kr"),
    )
    feats = prepped.select(
        "user_id",
        "n_g",
        "n_r",
        "__ok",
        _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][0], _KN_GAINS[0])
        .alias("cg1"),
        _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][1], _KN_GAINS[1])
        .alias("cg2"),
        _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][0], _KN_GAINS[2])
        .alias("cr1"),
        _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][1], _KN_GAINS[3])
        .alias("cr2"),
    )
    score = make_forest_score_udf()
    return feats.select(
        "user_id",
        "n_g",
        "n_r",
        F.when(
            F.col("__ok"),
            F.round(score("cg1", "cg2", "cr1", "cr2"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("kn_score"),
    )


_KN_PREP_G = _kn_prep_sql("g_vals")
_KN_PREP_R = _kn_prep_sql("r_vals")
_KN_FOREST_SQL = forest_score_sql(
    [
        _kn_coef_sql("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][0], _KN_GAINS[0]),
        _kn_coef_sql("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][1], _KN_GAINS[1]),
        _kn_coef_sql("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][0], _KN_GAINS[2]),
        _kn_coef_sql("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][1], _KN_GAINS[3]),
    ]
)
ORACLE_KN_SCORE = f"""
WITH curves AS (
  SELECT user_id, event_type,
         list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS npts
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, event_type
),
both_bands AS (
  SELECT coalesce(g.user_id, r.user_id) AS user_id,
         coalesce(g.npts, 0) AS n_g, coalesce(r.npts, 0) AS n_r,
         g.vals AS g_vals, r.vals AS r_vals
  FROM (SELECT * FROM curves WHERE event_type = 'click') g
  FULL OUTER JOIN (SELECT * FROM curves WHERE event_type = 'purchase') r
    ON g.user_id = r.user_id
),
with_seg AS (
  SELECT b.*, c.c_mktsegment FROM both_bands b
  LEFT JOIN customer c ON b.user_id = c.c_custkey
),
prepped AS (
  SELECT user_id, n_g, n_r, c_mktsegment,
         {_KN_PREP_G[0]} AS kg_s, {_KN_PREP_G[1]} AS kg_m,
         {_KN_PREP_G[2]} AS kg_sh,
         {_KN_PREP_R[0]} AS kr_s, {_KN_PREP_R[1]} AS kr_m,
         {_KN_PREP_R[2]} AS kr_sh
  FROM with_seg
)
SELECT user_id, n_g, n_r,
       CASE WHEN n_g >= 2 AND n_r >= 2
                 AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
            THEN round({_KN_FOREST_SQL}, 6)
            ELSE 0.0 END AS kn_score
FROM prepped
"""

# --------------------------------------------------------------------------
# cats_broad_scores: CATS-shaped multi-class sequence classifier —
# mask (<2 points → zero vector), pad-to-fixed-length with a −999
# sentinel, frozen softmax head, Array<Double> output + argmax extraction
# (rubin/cats/processor.py:41-169)
# --------------------------------------------------------------------------

_CATS_K = 8
_CATS_PAD = -999.0
_CATS_CLASSES = 5
# Frozen softmax head: 5 classes × 4 features (+ bias), literal decimals.
_CATS_W = [
    [2.0, -1.0, 0.5, 0.0],
    [-1.5, 2.5, 0.0, 1.0],
    [0.5, 0.5, -2.0, 0.5],
    [1.0, -0.5, 1.5, -1.0],
    [-0.5, 0.0, 0.5, 2.0],
]
_CATS_B = [0.1, -0.1, 0.2, 0.0, -0.2]


def q_cats_broad_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATS broad classification, Spark-first and UDF-free: the keras
    pad_sequences step (rubin/cats/processor.py:141-160) is
    slice + array_repeat concat to exactly K entries with the −999
    sentinel; per-row min-max normalization (utilities.py:35 norm_column)
    and the pooled features are array HOFs; the frozen 5-class softmax
    head is column algebra, returned both as the Array<Double> the
    reference emits and as the argmax the doctest extracts with
    array_position(array_max) (processor.py:105-110). Rows with <2
    points return the all-zero vector (the mask default at 116-121)."""
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
            F.col("h.value").alias("vals"),
            F.size("h").alias("n"),
        )
    )
    head = F.slice(F.col("vals"), 1, _CATS_K)
    n_real = F.least(F.col("n"), F.lit(_CATS_K))
    padded = F.concat(
        head,
        F.array_repeat(F.lit(_CATS_PAD), F.lit(_CATS_K) - n_real),
    )
    d = grouped.select(
        "user_id", "n", padded.alias("lc_padded"), n_real.alias("n_real")
    )
    real = F.slice(F.col("lc_padded"), 1, F.col("n_real"))
    vmin, vmax = F.array_min(real), F.array_max(real)
    rng = vmax - vmin
    # norm_i = (v_i - vmin) / rng (0.0 on a flat curve), over real entries
    norm = F.transform(
        real,
        lambda v: F.when(rng > 0, (v - vmin) / rng).otherwise(F.lit(0.0)),
    )
    f1 = F.aggregate(
        norm, F.lit(0.0), lambda a, x: a + x
    ) / F.col("n_real").cast("double")
    f2 = F.col("n_real").cast("double") / F.lit(float(_CATS_K))
    f3 = F.element_at(norm, 1)
    f4 = F.element_at(norm, F.col("n_real"))
    d = d.select(
        "user_id", "n", "lc_padded",
        f1.alias("f1"), f2.alias("f2"), f3.alias("f3"), f4.alias("f4"),
    )
    logits = []
    for c in range(_CATS_CLASSES):
        z = F.lit(_CATS_B[c])
        for k, feat in enumerate(["f1", "f2", "f3", "f4"]):
            z = z + F.col(feat) * F.lit(_CATS_W[c][k])
        logits.append(F.exp(z))
    denom = logits[0]
    for e in logits[1:]:
        denom = denom + e
    probs = F.array(*[F.round(e / denom, 6) for e in logits])
    zeros = F.array(*[F.lit(0.0)] * _CATS_CLASSES)
    ok = F.col("n") >= 2
    out = d.select(
        "user_id",
        "n",
        "lc_padded",
        F.when(ok, probs).otherwise(zeros).alias("probs"),
    )
    return out.withColumn(
        "top_class",
        F.when(
            ok, F.array_position(F.col("probs"), F.array_max("probs")) - 1
        ).otherwise(F.lit(-1)),
    )


def _cats_logit_sql(c: int) -> str:
    terms = " + ".join(
        f"f{k + 1} * ({_CATS_W[c][k]!r})" for k in range(4)
    )
    return f"exp(({_CATS_B[c]!r}) + {terms})"


_CATS_EXPS = ", ".join(
    f"{_cats_logit_sql(c)} AS e{c}" for c in range(_CATS_CLASSES)
)
_CATS_DENOM = " + ".join(f"e{c}" for c in range(_CATS_CLASSES))
_CATS_PROBS = ", ".join(
    f"round(e{c} / ({_CATS_DENOM}), 6)" for c in range(_CATS_CLASSES)
)
ORACLE_CATS_BROAD_SCORES = f"""
WITH grouped AS (
  SELECT user_id, list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS n
  FROM events GROUP BY user_id
),
padded AS (
  SELECT user_id, n,
         least(n, {_CATS_K}) AS n_real,
         list_resize(vals[1:{_CATS_K}], {_CATS_K}, {_CATS_PAD!r}) AS lc_padded,
         vals[1:least(n, {_CATS_K})] AS real_vals
  FROM grouped
),
normed AS (
  SELECT user_id, n, n_real, lc_padded,
         list_min(real_vals) AS vmin, list_max(real_vals) AS vmax,
         list_transform(real_vals,
            v -> CASE WHEN list_max(real_vals) > list_min(real_vals)
                      THEN (v - list_min(real_vals))
                           / (list_max(real_vals) - list_min(real_vals))
                      ELSE 0.0 END) AS nrm
  FROM padded
),
feats AS (
  SELECT user_id, n, lc_padded, n_real,
         list_sum(nrm) / CAST(n_real AS DOUBLE) AS f1,
         CAST(n_real AS DOUBLE) / {float(_CATS_K)!r} AS f2,
         nrm[1] AS f3,
         nrm[n_real] AS f4
  FROM normed
),
scored AS (
  SELECT user_id, n, lc_padded, {_CATS_EXPS} FROM feats
)
SELECT user_id, n, lc_padded,
       CASE WHEN n >= 2 THEN [{_CATS_PROBS}]
            ELSE [0.0, 0.0, 0.0, 0.0, 0.0] END AS probs,
       CASE WHEN n >= 2 THEN list_position(
                [{_CATS_PROBS}],
                list_max([{_CATS_PROBS}])) - 1
            ELSE -1 END AS top_class
FROM scored
"""

# --------------------------------------------------------------------------
# superluminous_sentinel: veto cascade with the −1 sentinel for rows that
# are not eligible (not transient-like / too young / too few points),
# frozen-MLP probability otherwise (ztf/superluminous/processor.py:34-268:
# "Return -1 if not enough points … not a likely transient … less than
# 30 days old")
# --------------------------------------------------------------------------


def q_superluminous_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sentinel-score module shape: every veto is a native aggregate
    condition (error-rate flag standing in for the transient_features
    boolean cascade, history span ≥ 25 d, ≥ 20 points), and only the
    surviving rows are scored — vetoed rows emit the −1.0 sentinel the
    downstream filters key on. One hash aggregation; the score itself is
    the frozen-MLP column expression (continuous kernel, libm allowed)."""
    ev = _events_us(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_buy"),
        F.avg("value").alias("mean_value"),
        (
            (F.max("ts_us") - F.min("ts_us")) / F.lit(86400e6)
        ).alias("age_days"),
    )
    eligible = (
        (F.col("n_err") * 8 < F.col("n"))
        & (F.col("age_days") >= 25.0)
        & (F.col("n") >= 20)
    )
    f1 = F.col("mean_value") / F.lit(100.0)
    f2 = F.log1p(F.col("n").cast("double"))
    f3 = F.col("n_buy").cast("double") / F.col("n").cast("double")
    f4 = F.col("age_days") / F.lit(30.0)
    score_sql = mlp_score_sql(["f1", "f2", "f3", "f4"])
    feats = per_user.select(
        "user_id",
        "n",
        eligible.alias("__ok"),
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
    )
    return feats.select(
        "user_id",
        "n",
        F.when(F.col("__ok"), F.round(F.expr(score_sql), 6))
        .otherwise(F.lit(-1.0))
        .alias("proba"),
    )


ORACLE_SUPERLUMINOUS = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_buy,
         avg(value) AS mean_value,
         (max(epoch_us(ts)) - min(epoch_us(ts))) / 86400e6 AS age_days
  FROM events GROUP BY user_id
),
feats AS (
  SELECT user_id, n,
         (n_err * 8 < n AND age_days >= 25.0 AND n >= 20) AS ok,
         mean_value / 100.0 AS f1,
         ln(1 + CAST(n AS DOUBLE)) AS f2,
         CAST(n_buy AS DOUBLE) / CAST(n AS DOUBLE) AS f3,
         age_days / 30.0 AS f4
  FROM per_user
)
SELECT user_id, n,
       CASE WHEN ok THEN round({mlp_score_sql(["f1", "f2", "f3", "f4"])}, 6)
            ELSE -1.0 END AS proba
FROM feats
"""


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
# snn_ia_real
# --------------------------------------------------------------------------

_K = 8  # fixed unroll depth: first K events per user (time order)

# synthetic-photometry mapping (documented, engine-side AND oracle-side):
# odd steps observe g, even steps observe r; mag = 10 + value/32;
# sigma = 0.01 + |value|/1000. Exercises the full real-weight path:
# SNANA conversion, log-standardization with the model's data_norm
# constants, one-hot band flags, delta_time in days.


def q_snn_ia_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.snn_lstm import (
        INPUT_DIM,
        checkpoint_path,
        load_snn_lstm,
        mag2fluxcal_snana_np,
        norm_feature,
        snn_forward_batch,
    )

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
            F.slice(F.col("h.ts_us"), 1, _K).alias("ts_arr"),
            F.slice(F.col("h.value"), 1, _K).alias("val_arr"),
            F.least(F.size("h"), F.lit(_K)).alias("n"),
        )
    )
    model_path = checkpoint_path()
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", IntegerType()),
            StructField("snn_ia_real", DoubleType()),
        ]
    )

    def kernel(batches):
        art = load_snn_lstm(model_path)
        w, norm = art["tensors"], art["norm"]
        for pdf in batches:
            seqs = []
            for i in range(len(pdf)):
                ts = np.asarray(pdf["ts_arr"].iloc[i], dtype=np.float64)
                vals = np.asarray(pdf["val_arr"].iloc[i], dtype=np.float64)
                n = len(vals)
                X = np.zeros((n, INPUT_DIM))
                mag = 10.0 + vals / 32.0
                sig = 0.01 + np.abs(vals) / 1000.0
                flux, err = mag2fluxcal_snana_np(mag, sig)
                for t in range(n):
                    is_g = (t + 1) % 2 == 1
                    fg = flux[t] if is_g else 0.0
                    fr = 0.0 if is_g else flux[t]
                    eg = err[t] if is_g else 0.0
                    er = 0.0 if is_g else err[t]
                    dt = 0.0 if t == 0 else (ts[t] - ts[t - 1]) / 86400e6
                    X[t, 0] = norm_feature(fg, norm["FLUXCAL_g"])
                    X[t, 1] = norm_feature(fr, norm["FLUXCAL_r"])
                    X[t, 2] = norm_feature(eg, norm["FLUXCALERR_g"])
                    X[t, 3] = norm_feature(er, norm["FLUXCALERR_r"])
                    X[t, 4] = norm_feature(dt, norm["delta_time"])
                    X[t, 5] = 1.0 if is_g else 0.0
                    X[t, 7] = 0.0 if is_g else 1.0
                seqs.append(X)
            probs = snn_forward_batch(
                seqs, w, dtype=np.float64, sql_exact=True
            )
            out = pdf[["user_id", "n"]].copy()
            out["snn_ia_real"] = np.round(probs, 6)
            yield out

    return grouped.mapInPandas(kernel, schema=schema).select(
        "user_id", "n", "snn_ia_real"
    )


def _oracle_snn_real() -> str:
    from fink_science_spark.operators.snn_lstm import (
        load_snn_lstm,
        snn_lstm_sql,
        snn_weight_cte,
    )
    from fink_science_spark.operators.snn_norm import snn_norm_sql

    norm = load_snn_lstm()["norm"]

    def feat(t: int) -> str:
        """8 feature expressions for step t (1-indexed), as a DOUBLE[]."""
        val = f"val_arr[{t}]"
        is_g = (t % 2) == 1
        mag = f"(10.0 + {val} / 32.0)"
        sig = f"(0.01 + abs({val}) / 1000.0)"
        flux = f"(pow(10.0, -0.4 * {mag}) * 1e11)"
        err = f"(9.21034e10 * exp(-0.921034 * {mag}) * {sig})"
        fg, fr = (flux, "0.0") if is_g else ("0.0", flux)
        eg, er = (err, "0.0") if is_g else ("0.0", err)
        if t == 1:
            dt = "0.0"
        else:
            dt = f"((ts_arr[{t}] - ts_arr[{t - 1}]) / 86400e6)"
        oh = ["1.0", "0.0", "0.0"] if is_g else ["0.0", "0.0", "1.0"]
        feats = [
            snn_norm_sql(fg, norm["FLUXCAL_g"]),
            snn_norm_sql(fr, norm["FLUXCAL_r"]),
            snn_norm_sql(eg, norm["FLUXCALERR_g"]),
            snn_norm_sql(er, norm["FLUXCALERR_r"]),
            snn_norm_sql(dt, norm["delta_time"]),
        ] + oh
        # pad steps produce garbage (val_arr[t] NULL -> NULL features);
        # guard to 0.0 so the list stays well-typed. Pad steps never
        # contribute: the recurrence carries state through t > n.
        zeros = "[" + ",".join(["0.0"] * 8) + "]::DOUBLE[]"
        return (
            f"CASE WHEN {t} <= n THEN [" + ",".join(feats) + "]::DOUBLE[] "
            f"ELSE {zeros} END"
        )

    xs = "[" + ",".join(feat(t) for t in range(1, _K + 1)) + "]"
    wcte = snn_weight_cte(load_snn_lstm()["tensors"])
    ctes, last, prob = snn_lstm_sql(_K, "feat")
    return f"""
WITH grouped AS (
  SELECT user_id,
         list(epoch_us(ts) ORDER BY epoch_us(ts), value) AS ts_all,
         list(value ORDER BY epoch_us(ts), value) AS val_all,
         count(*) AS cnt
  FROM events GROUP BY user_id
),
sliced AS (
  SELECT user_id, ts_all[1:{_K}] AS ts_arr, val_all[1:{_K}] AS val_arr,
         CAST(least(cnt, {_K}) AS INTEGER) AS n
  FROM grouped
),
{wcte},
feat AS (
  SELECT *, {xs} AS xs FROM sliced CROSS JOIN w
),
{ctes}
SELECT user_id, n, round({prob}, 6) AS snn_ia_real
FROM {last}
"""


# --------------------------------------------------------------------------
# mulens_real: the REAL LIA microlensing artifacts (rf.sav 1000-tree
# RandomForest over 47 statistics, pca.sav whitened 47->44 PCA —
# ztf/microlensing/classifier.py:61). The reference's LIA feature
# extractor lives in an external package; the engine exercises both
# artifacts faithfully to their sklearn contracts on a documented
# 47-statistic recipe over per-user event aggregates (dyadic mixing
# constants — exact in both engines). Native aggregation + projection;
# only the forest/PCA evaluation is an Arrow kernel; the oracle carries
# all 31k tree nodes as nested CASE expressions.
# --------------------------------------------------------------------------

_MULENS_N_FEATS = 47
_MULENS_MIN_PTS = 10
# dyadic mixing constants (exact binary fractions, shared verbatim with
# the SQL twin through repr)
_MULENS_A = [((j * 37) % 13) / 8.0 - 0.5 for j in range(_MULENS_N_FEATS)]
_MULENS_B = [((j * 17) % 7) / 16.0 for j in range(_MULENS_N_FEATS)]
_MULENS_C = [((j * 5) % 11) / 32.0 for j in range(_MULENS_N_FEATS)]


def _mulens_feat_cols():
    mean = F.col("vsum") / F.col("n")
    spread = F.col("vmax") - F.col("vmin")
    return [
        F.round(
            mean * F.lit(_MULENS_A[j])
            + spread * F.lit(_MULENS_B[j])
            + F.col("n") * F.lit(_MULENS_C[j]),
            6,
        ).alias(f"f{j}")
        for j in range(_MULENS_N_FEATS)
    ]


def _mulens_feat_sql() -> list[str]:
    mean = "(vsum / n)"
    spread = "(vmax - vmin)"
    return [
        f"round({mean} * ({_MULENS_A[j]!r}) + {spread} * ({_MULENS_B[j]!r})"
        f" + n * ({_MULENS_C[j]!r}), 6)"
        for j in range(_MULENS_N_FEATS)
    ]


def q_mulens_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        pca_transform,
        rf_proba,
    )

    ev = _events_us(spark, sf_dir)
    base = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("vsum"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    feats = base.select("user_id", "n", *_mulens_feat_cols())
    # AQE coalesces the tiny per-user agg output to ~1 partition, which
    # serialized the 1000-tree RF kernel (0.53 s single-task job);
    # events-sized fan-out like the rest of the family, no-op at scale
    feats = _fan_out(spark, sf_dir, "events", feats, key="user_id")
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("pc1", DoubleType()),
            StructField("p_ml", DoubleType()),
        ]
    )
    fcols = [f"f{j}" for j in range(_MULENS_N_FEATS)]

    def kernel(batches):
        import numpy as np

        rf = load_checkpoint("mulens_rf")
        pca = load_checkpoint("mulens_pca")
        ml_idx = rf["classes"].index("ML")
        for pdf in batches:
            X = pdf[fcols].to_numpy(dtype=np.float64)
            out = pdf[["user_id", "n"]].copy()
            if len(X):
                out["pc1"] = np.round(pca_transform(X, pca)[:, 0], 6)
                out["p_ml"] = np.round(rf_proba(X, rf)[:, ml_idx], 6)
            else:
                out["pc1"] = np.zeros(0)
                out["p_ml"] = np.zeros(0)
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    return scored.select(
        "user_id",
        "n",
        "pc1",
        F.when(F.col("n") >= _MULENS_MIN_PTS, F.col("p_ml"))
        .otherwise(F.lit(0.0))
        .alias("p_ml"),
    )


def _oracle_mulens_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        pca_transform_sql,
        rf_proba_sql,
    )

    rf = load_checkpoint("mulens_rf")
    pca = load_checkpoint("mulens_pca")
    feats = [f"f{j}" for j in range(_MULENS_N_FEATS)]
    fdefs = ", ".join(
        f"{e} AS f{j}" for j, e in enumerate(_mulens_feat_sql())
    )
    pml = rf_proba_sql(rf, feats, rf["classes"].index("ML"))
    pc1 = pca_transform_sql(pca, feats)[0]
    return f"""
WITH base AS (
  SELECT user_id, count(*) AS n, sum(value) AS vsum,
         min(value) AS vmin, max(value) AS vmax
  FROM events GROUP BY user_id
),
feats AS (SELECT user_id, n, {fdefs} FROM base)
SELECT user_id, n, round({pc1}, 6) AS pc1,
       CASE WHEN n >= {_MULENS_MIN_PTS} THEN round({pml}, 6)
            ELSE 0.0 END AS p_ml
FROM feats
"""


# --------------------------------------------------------------------------
# mulens_real_lia: the REAL LIA artifacts fed with the 47-statistic
# LIA-family feature bank (operators/lia_stats.py) instead of
# mulens_real's documented synthetic recipe — the reference's actual
# data path (ztf/microlensing/processor.py:129-190: per-band DC
# light curves -> LIA extract_all's 47 statistics -> rf.sav) with its
# gate semantics reproduced literally: >= 20 valid points total,
# upper bound 100 (the ndethist gate), >= 10 points per band, the
# forest's argmax class per band, and the final score = mean of the
# two bands' ML probabilities ONLY when both bands classify as ML,
# else 0.0. Features are rounded at 6 in both engines before the
# forest; the oracle embeds the full 47-statistic SQL chain and walks
# the 1000-tree node table ONCE per band via recursive CTEs
# (rf_nodes_cte/rf_walk_sql — one shared MATERIALIZED node table, all
# four class probabilities from a single walk).
# --------------------------------------------------------------------------

_MULENS_LIA_MIN_BAND = 10  # reference: >= 10 measurements per band
_MULENS_LIA_MIN_TOT = 20  # reference: >= 20 valid measurements
_MULENS_LIA_MAX_TOT = 100  # reference: ndethist < 100


def q_mulens_real_lia(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.lia_stats import (
        lia_features_per_group,
    )
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # magnitude-like mapping shared verbatim with the oracle: m in
    # [16, ~23.7] (ZTF-like, so the raw zp=24 flux lands inside the
    # forest's trained amplitude span) with <8 mag of in-band spread so
    # the quantized normalized flux never collapses to 0; err ~ tenths
    lc = ev.select(
        "user_id",
        "event_type",
        (F.col("ts_us") / F.lit(86400e6)).alias("t_days"),
        (F.lit(16.0) + F.col("value") / F.lit(64.0)).alias("m"),
        "props",
    )
    # fan out BEFORE the per-row JSON parse and the collect_list map side
    # (see queries_alerts.q_band_features); no-op at scale
    lc = _fan_out(
        spark, sf_dir, "events", lc, key="user_id",
        bytes_per_task=64 << 10,
    ).withColumn(
        "err",
        (F.get_json_object("props", "$.k").cast("double") + 1.0)
        / F.lit(64.0),
    )
    feats = lia_features_per_group(
        lc,
        ["user_id", "event_type"],
        "t_days",
        "m",
        "err",
        min_points=_MULENS_LIA_MIN_BAND,
    )
    fcols = [f"f{j}" for j in range(47)]
    rounded = feats.select(
        "user_id",
        "event_type",
        "n",
        *[F.expr(f"round({c}, 6) AS {c}") for c in fcols],
    )
    # single-pass pivot: the 47-statistic LIA kernel subtree used to be
    # consumed by two filtered branches (click/purchase), each recomputing
    # the full shuffle + Arrow extraction; a conditional aggregation by
    # user_id computes it ONCE (guide §2.2 shuffle fewer bytes / §4 run the
    # expensive kernel once). Exactly one row per (user_id, event_type)
    # exists below, so max(when(...)) is the row's value or NULL — the same
    # columns the old left joins produced.
    # Expressions as SQL text: one py4j round trip per aggregate instead
    # of ~6 (plan-build finding; identical parsed Catalyst expressions).
    def _mx(cond: str, c: str, alias: str):
        return F.expr(
            f"max(CASE WHEN event_type {cond} 'click' THEN {c} END)"
        ).alias(alias)

    wide = rounded.groupBy("user_id").agg(
        _mx("=", "n", "nb_g"),
        *[_mx("=", c, f"g{j}") for j, c in enumerate(fcols)],
        _mx("!=", "n", "nb_r"),
        *[_mx("!=", c, f"r{j}") for j, c in enumerate(fcols)],
    )
    universe = ev.groupBy("user_id").agg(F.count("*").alias("n_tot"))
    both = universe.join(wide, "user_id", "left")
    # the per-user feature row count tracks the events table, but its
    # BYTES sit under AQE's coalesce floor at small SF, so the forest
    # kernel below otherwise runs in ONE post-join task (measured 0.9 s
    # serial ONNX scoring); events-sized fan-out, no-op at scale
    both = _fan_out(spark, sf_dir, "events", both, key="user_id")

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_tot", LongType()),
            StructField("n_g", LongType()),
            StructField("n_r", LongType()),
            StructField("class_g", StringType()),
            StructField("class_r", StringType()),
            StructField("p_g", DoubleType()),
            StructField("p_r", DoubleType()),
        ]
    )
    gcols = [f"g{j}" for j in range(47)]
    rcols = [f"r{j}" for j in range(47)]

    def kernel(batches):
        rf = load_checkpoint("mulens_rf")
        classes = rf["classes"]
        ml = classes.index("ML")

        def band(pdf, cols, nb):
            cls = np.full(len(pdf), "", dtype=object)
            pml = np.zeros(len(pdf))
            ok = ~np.isnan(nb)
            if ok.any():
                X = pdf[cols].to_numpy(dtype=np.float64)[ok]
                P = np.round(rf_proba(X, rf), 6)
                idx = P.argmax(axis=1)
                cls[ok] = [classes[i] for i in idx]
                pml[ok] = P[:, ml]
            return cls, pml

        for pdf in batches:
            out = pdf[["user_id", "n_tot"]].copy()
            if len(pdf):
                ng = pdf["nb_g"].to_numpy(dtype=np.float64)
                nr = pdf["nb_r"].to_numpy(dtype=np.float64)
                cg, pg = band(pdf, gcols, ng)
                cr, pr = band(pdf, rcols, nr)
                out["n_g"] = np.nan_to_num(ng, nan=0.0).astype(np.int64)
                out["n_r"] = np.nan_to_num(nr, nan=0.0).astype(np.int64)
                out["class_g"], out["class_r"] = cg, cr
                out["p_g"], out["p_r"] = pg, pr
            else:
                for c in ("n_g", "n_r"):
                    out[c] = np.zeros(0, dtype=np.int64)
                for c in ("class_g", "class_r"):
                    out[c] = np.zeros(0, dtype=object)
                for c in ("p_g", "p_r"):
                    out[c] = np.zeros(0)
            yield out

    scored = both.mapInPandas(kernel, schema=schema)
    gate = (F.col("n_tot") >= _MULENS_LIA_MIN_TOT) & (
        F.col("n_tot") < _MULENS_LIA_MAX_TOT
    )
    cg = F.when(
        gate & (F.col("n_g") >= _MULENS_LIA_MIN_BAND), F.col("class_g")
    ).otherwise(F.lit(""))
    cr = F.when(
        gate & (F.col("n_r") >= _MULENS_LIA_MIN_BAND), F.col("class_r")
    ).otherwise(F.lit(""))
    return scored.select(
        "user_id",
        "n_tot",
        "n_g",
        "n_r",
        cg.alias("class_g"),
        cr.alias("class_r"),
        # the forests' actual ML probabilities per gated band — the
        # value-level evidence (the final gated score is 0.0 whenever no
        # band classifies ML, exactly like the reference's own doctest
        # over real alerts)
        F.when(cg != "", F.col("p_g")).otherwise(F.lit(0.0)).alias("p_ml_g"),
        F.when(cr != "", F.col("p_r")).otherwise(F.lit(0.0)).alias("p_ml_r"),
        F.when(
            (cg == "ML") & (cr == "ML"),
            F.round((F.col("p_g") + F.col("p_r")) / 2.0, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mulens"),
    )


def _oracle_mulens_real_lia() -> str:
    from fink_science_spark.operators.lia_stats import lia_stats_sql_ctes
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_nodes_cte,
        rf_walk_sql,
    )

    rf = load_checkpoint("mulens_rf")
    classes = rf["classes"]
    ml = classes.index("ML")
    n_cls = len(classes)
    src = (
        "(SELECT user_id, event_type,"
        " epoch_us(ts) * 1.0 / 86400e6 AS t,"
        " 16.0 + value / 64.0 AS m,"
        " (json_extract_string(props, '$.k')::DOUBLE + 1.0) / 64.0 AS err"
        " FROM events WHERE event_type IN ('click', 'purchase'))"
    )
    fcols = [f"f{j}" for j in range(47)]
    rounded = ", ".join(f"round({c}, 6) AS {c}" for c in fcols)
    xs = "[" + ", ".join(fcols) + "]"

    def argmax_case(p: str) -> str:
        conds = []
        for k in range(n_cls):
            geq = " AND ".join(
                f"round({p}.p{k}, 6) >= round({p}.p{j}, 6)"
                for j in range(k + 1, n_cls)
            )
            conds.append(
                f"WHEN {geq} THEN '{classes[k]}'"
                if geq
                else f"ELSE '{classes[k]}'"
            )
        return "CASE " + " ".join(conds) + " END"

    gate = (
        f"u.n_tot >= {_MULENS_LIA_MIN_TOT}"
        f" AND u.n_tot < {_MULENS_LIA_MAX_TOT}"
    )
    return f"""
WITH RECURSIVE
{lia_stats_sql_ctes(src, _MULENS_LIA_MIN_BAND)},
featsr AS (SELECT user_id, event_type, n, {rounded} FROM lia_feats),
fg AS (
  SELECT user_id, n AS nb, {xs}::DOUBLE[] AS xs FROM featsr
  WHERE event_type = 'click'
),
fr AS (
  SELECT user_id, n AS nb, {xs}::DOUBLE[] AS xs FROM featsr
  WHERE event_type = 'purchase'
),
{rf_nodes_cte(rf, "mlnodes")},
{rf_walk_sql("mlnodes", "fg", "user_id", "xs", "probs_g", n_cls, len(rf["trees"]))},
{rf_walk_sql("mlnodes", "fr", "user_id", "xs", "probs_r", n_cls, len(rf["trees"]))},
universe AS (
  SELECT user_id, count(*) AS n_tot FROM events
  WHERE event_type IN ('click', 'purchase') GROUP BY user_id
),
final AS (
  SELECT u.user_id, u.n_tot,
         coalesce(fg.nb, 0) AS n_g, coalesce(fr.nb, 0) AS n_r,
         CASE WHEN {gate} AND pg.p0 IS NOT NULL
              THEN {argmax_case('pg')} ELSE '' END AS class_g,
         CASE WHEN {gate} AND pr.p0 IS NOT NULL
              THEN {argmax_case('pr')} ELSE '' END AS class_r,
         round(pg.p{ml}, 6) AS pml_g, round(pr.p{ml}, 6) AS pml_r
  FROM universe u
  LEFT JOIN fg ON fg.user_id = u.user_id
  LEFT JOIN fr ON fr.user_id = u.user_id
  LEFT JOIN probs_g pg ON pg.user_id = u.user_id
  LEFT JOIN probs_r pr ON pr.user_id = u.user_id
)
SELECT user_id, n_tot, n_g, n_r, class_g, class_r,
       CASE WHEN class_g != '' THEN pml_g ELSE 0.0 END AS p_ml_g,
       CASE WHEN class_r != '' THEN pml_r ELSE 0.0 END AS p_ml_r,
       CASE WHEN class_g = 'ML' AND class_r = 'ML'
            THEN round((pml_g + pml_r) / 2.0, 6) ELSE 0.0 END AS mulens
FROM final
"""


# --------------------------------------------------------------------------
# orphan_real: the REAL Rubin orphan-afterglow GradientBoosting model
# (model_orphans.pkl, 100 log_loss stages, DummyClassifier log-odds
# prior — rubin/orphans/classifier.py:137). The 12 features mirror the
# reference frame's shape (duration, rates, colours, fit params) from
# per-user light-curve aggregates, with dyadic scales placing each into
# the trained model's split-threshold range (the reference gets there
# via a row-max normalize of its physical features; dividing by exact
# powers of two keeps both engines bit-identical). <5-point curves take
# the reference's 0.0 sentinel without reaching the kernel.
# --------------------------------------------------------------------------

_ORPHAN_N_FEATS = 12
_ORPHAN_MIN_PTS = 5
# (numerator expression index, dyadic divisor) per feature — spans each
# trained split range (see tests/test_sklearn_real.py spread guard)
_ORPHAN_RECIPE = [
    ("dur", 64.0),
    ("mean", 256.0),
    ("dur", 16384.0),
    ("mean", 65536.0),
    ("vmax", 256.0),
    ("vmin", 256.0),
    ("vspan_neg", 256.0),
    ("n", 64.0),
    ("mean_minus_max", 256.0),
    ("dur", 1024.0),
    ("min_minus_mean", 8192.0),
    ("mean", 1024.0),
]


def q_orphan_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        gbt_proba,
        load_checkpoint,
    )

    ev = _events_us(spark, sf_dir)
    base = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(86400e6)).alias(
            "duration"
        ),
        F.sum("value").alias("vsum"),
        F.max("value").alias("vmax"),
        F.min("value").alias("vmin"),
    )
    mean = F.col("vsum") / F.col("n")
    nums = {
        "dur": F.col("duration"),
        "mean": mean,
        "vmax": F.col("vmax"),
        "vmin": F.col("vmin"),
        "vspan_neg": F.col("vmin") - F.col("vmax"),
        "n": F.col("n"),
        "mean_minus_max": mean - F.col("vmax"),
        "min_minus_mean": F.col("vmin") - mean,
    }
    fcols = [
        F.round(nums[num] / F.lit(div), 6).alias(f"f{j}")
        for j, (num, div) in enumerate(_ORPHAN_RECIPE)
    ]
    feats = base.select("user_id", "n", *fcols)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("p_orphan", DoubleType()),
        ]
    )
    names = [f"f{j}" for j in range(_ORPHAN_N_FEATS)]

    def kernel(batches):
        import numpy as np

        gbt = load_checkpoint("orphans_gbt")
        for pdf in batches:
            X = pdf[names].to_numpy(dtype=np.float64)
            out = pdf[["user_id", "n"]].copy()
            out["p_orphan"] = (
                np.round(gbt_proba(X, gbt), 6) if len(X) else np.zeros(0)
            )
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    return scored.select(
        "user_id",
        "n",
        F.when(F.col("n") >= _ORPHAN_MIN_PTS, F.col("p_orphan"))
        .otherwise(F.lit(0.0))
        .alias("p_orphan"),
    )


def _oracle_orphan_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        gbt_proba_sql,
        load_checkpoint,
    )

    gbt = load_checkpoint("orphans_gbt")
    nums = {
        "dur": "duration",
        "mean": "(vsum / n)",
        "vmax": "vmax",
        "vmin": "vmin",
        "vspan_neg": "(vmin - vmax)",
        "n": "n",
        "mean_minus_max": "((vsum / n) - vmax)",
        "min_minus_mean": "(vmin - (vsum / n))",
    }
    fdefs = ", ".join(
        f"round({nums[num]} / ({div!r}), 6) AS f{j}"
        for j, (num, div) in enumerate(_ORPHAN_RECIPE)
    )
    p = gbt_proba_sql(gbt, [f"f{j}" for j in range(_ORPHAN_N_FEATS)])
    return f"""
WITH base AS (
  SELECT user_id, count(*) AS n,
         (max(epoch_us(ts)) - min(epoch_us(ts))) / 86400e6 AS duration,
         sum(value) AS vsum, max(value) AS vmax, min(value) AS vmin
  FROM events GROUP BY user_id
),
feats AS (SELECT user_id, n, {fdefs} FROM base)
SELECT user_id, n,
       CASE WHEN n >= {_ORPHAN_MIN_PTS} THEN round({p}, 6)
            ELSE 0.0 END AS p_orphan
FROM feats
"""


# --------------------------------------------------------------------------
# kn_rf_real: the REAL kilonova head — KN_model_1PC.pkl's
# RobustScaler + 50-tree RandomForest — stacked on the REAL kndetect
# PCA projection that landed in round 5 (operators/kn_pca.py,
# KN_PC_all_bands.npy transcription). Same veto cascade and curve prep
# as kn_score; 8 features = 4 peak-aligned PCA coefficients + per-band
# depth/amplitude terms, rounded before the scaler so both engines
# compare bit-identical inputs against the real thresholds.
# --------------------------------------------------------------------------


def q_kn_rf_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba,
        robust_scaler,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # single-pass pivot: the per-band collect_list aggregate used to run
    # twice (click/purchase branches) and meet again in a full_outer
    # sort-merge join; one conditional collect per band in a single
    # groupBy(user_id) yields identical columns (collect_list skips the
    # NULLs the when() leaves for the other band; empty band → size 0 and
    # NULL vals, the old full_outer + coalesce semantics).
    isg = F.col("event_type") == "click"
    pt = F.struct(F.col("ts_us"), F.col("value"))
    curves = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.when(isg, pt))).alias("hg"),
        F.array_sort(F.collect_list(F.when(~isg, pt))).alias("hr"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    both = curves.join(F.broadcast(cust), "user_id", "left").select(
        "user_id",
        F.size("hg").alias("n_g"),
        F.size("hr").alias("n_r"),
        F.when(F.size("hg") > 0, F.col("hg.value")).alias("g_vals"),
        F.when(F.size("hr") > 0, F.col("hr.value")).alias("r_vals"),
        "c_mktsegment",
    )
    eligible = (
        (F.col("n_g") >= 2)
        & (F.col("n_r") >= 2)
        & F.col("c_mktsegment").isin(*_KN_SEGMENTS)
    )
    prepped = both.select(
        "user_id",
        "n_g",
        "n_r",
        eligible.alias("__ok"),
        *_kn_prep_cols("g_vals", "kg"),
        *_kn_prep_cols("r_vals", "kr"),
    )
    feats = prepped.select(
        "user_id",
        "n_g",
        "n_r",
        "__ok",
        F.round(
            _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][0], _KN_GAINS[0]),
            6,
        ).alias("f0"),
        F.round(
            _kn_coef_col("kg_s", "kg_m", "kg_sh", _KN_PCS["g"][1], _KN_GAINS[1]),
            6,
        ).alias("f1"),
        F.round(
            _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][0], _KN_GAINS[2]),
            6,
        ).alias("f2"),
        F.round(
            _kn_coef_col("kr_s", "kr_m", "kr_sh", _KN_PCS["r"][1], _KN_GAINS[3]),
            6,
        ).alias("f3"),
        F.round(F.log(F.lit(1.0) + F.col("n_g")), 6).alias("f4"),
        F.round(F.log(F.lit(1.0) + F.col("n_r")), 6).alias("f5"),
        F.round(F.log(F.col("kg_m")), 6).alias("f6"),
        F.round(F.log(F.col("kr_m")), 6).alias("f7"),
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_g", IntegerType()),
            StructField("n_r", IntegerType()),
            StructField("__ok", DoubleType()),
            StructField("p_kn", DoubleType()),
        ]
    )
    names = [f"f{j}" for j in range(8)]

    def kernel(batches):
        import numpy as np

        art = load_checkpoint("kn_rf_1pc")
        scaler = next(
            s for s in art["steps"] if s.get("kind") == "robust_scaler"
        )
        rf = next(s for s in art["steps"] if s.get("kind") == "rf_classifier")
        true_idx = rf["classes"].index("True")
        for pdf in batches:
            X = pdf[names].to_numpy(dtype=np.float64)
            out = pdf[["user_id", "n_g", "n_r"]].copy()
            out["__ok"] = pdf["__ok"].astype(float)
            out["p_kn"] = (
                np.round(
                    rf_proba(robust_scaler(X, scaler), rf)[:, true_idx], 6
                )
                if len(X)
                else np.zeros(0)
            )
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    return scored.select(
        "user_id",
        "n_g",
        "n_r",
        F.when(F.col("__ok") > 0.5, F.col("p_kn"))
        .otherwise(F.lit(0.0))
        .alias("p_kn"),
    )


def _oracle_kn_rf_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba_sql,
        robust_scaler_sql,
    )

    art = load_checkpoint("kn_rf_1pc")
    scaler = next(s for s in art["steps"] if s.get("kind") == "robust_scaler")
    rf = next(s for s in art["steps"] if s.get("kind") == "rf_classifier")
    feats = [
        f"round({_kn_coef_sql('kg_s', 'kg_m', 'kg_sh', _KN_PCS['g'][0], _KN_GAINS[0])}, 6)",
        f"round({_kn_coef_sql('kg_s', 'kg_m', 'kg_sh', _KN_PCS['g'][1], _KN_GAINS[1])}, 6)",
        f"round({_kn_coef_sql('kr_s', 'kr_m', 'kr_sh', _KN_PCS['r'][0], _KN_GAINS[2])}, 6)",
        f"round({_kn_coef_sql('kr_s', 'kr_m', 'kr_sh', _KN_PCS['r'][1], _KN_GAINS[3])}, 6)",
        "round(ln(1.0 + n_g), 6)",
        "round(ln(1.0 + n_r), 6)",
        "round(ln(kg_m), 6)",
        "round(ln(kr_m), 6)",
    ]
    fdefs = ", ".join(f"{e} AS f{j}" for j, e in enumerate(feats))
    scaled = robust_scaler_sql(scaler, [f"f{j}" for j in range(8)])
    p = rf_proba_sql(rf, scaled, rf["classes"].index("True"))
    return f"""
WITH curves AS (
  SELECT user_id, event_type,
         list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS npts
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, event_type
),
both_bands AS (
  SELECT coalesce(g.user_id, r.user_id) AS user_id,
         coalesce(g.npts, 0) AS n_g, coalesce(r.npts, 0) AS n_r,
         g.vals AS g_vals, r.vals AS r_vals
  FROM (SELECT * FROM curves WHERE event_type = 'click') g
  FULL OUTER JOIN (SELECT * FROM curves WHERE event_type = 'purchase') r
    ON g.user_id = r.user_id
),
with_seg AS (
  SELECT b.*, c.c_mktsegment FROM both_bands b
  LEFT JOIN customer c ON b.user_id = c.c_custkey
),
prepped AS (
  SELECT user_id, n_g, n_r, c_mktsegment,
         {_KN_PREP_G[0]} AS kg_s, {_KN_PREP_G[1]} AS kg_m,
         {_KN_PREP_G[2]} AS kg_sh,
         {_KN_PREP_R[0]} AS kr_s, {_KN_PREP_R[1]} AS kr_m,
         {_KN_PREP_R[2]} AS kr_sh
  FROM with_seg
),
feats AS (SELECT user_id, n_g, n_r, c_mktsegment, {fdefs} FROM prepped)
SELECT user_id, n_g, n_r,
       CASE WHEN n_g >= 2 AND n_r >= 2
                 AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
            THEN round({p}, 6)
            ELSE 0.0 END AS p_kn
FROM feats
"""


# --------------------------------------------------------------------------
# kn_legacy_real: the reference repo's OTHER two shipped kilonova
# forests (kilonova_model.pkl — 100 trees over 8 features, and the
# kn_diff_pc_sets.pkl variant), extracted with the same stub unpickler.
# Neither is referenced by current reference code (the production path
# imports partial.pkl from the external kndetect package,
# ztf/kilonova/processor.py:31,165), so this query completes the
# shipped-artifact coverage: the trained split-threshold signature of
# kilonova_model.pkl reads as per-band [point count (splits 1.5-9.5),
# three FLUX-scale PC coefficients (splits to ±3e4)] x (g, r) — served
# here with the REAL kndetect PC basis (peak-aligned projections x the
# band's curve max restores flux scale) and a documented count
# placement (2 + n % 8) that lands inside the trained count span.
# --------------------------------------------------------------------------


def q_kn_legacy_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # single-pass pivot (same rewrite as kn_rf_real): one conditional
    # collect per band instead of two aggregate branches + full_outer join.
    isg = F.col("event_type") == "click"
    pt = F.struct(F.col("ts_us"), F.col("value"))
    curves = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.when(isg, pt))).alias("hg"),
        F.array_sort(F.collect_list(F.when(~isg, pt))).alias("hr"),
    )
    both = curves.select(
        "user_id",
        F.size("hg").alias("n_g"),
        F.size("hr").alias("n_r"),
        F.when(F.size("hg") > 0, F.col("hg.value")).alias("g_vals"),
        F.when(F.size("hr") > 0, F.col("hr.value")).alias("r_vals"),
    )
    prepped = both.select(
        "user_id",
        "n_g",
        "n_r",
        ((F.col("n_g") >= 2) & (F.col("n_r") >= 2)).alias("__ok"),
        *_kn_prep_cols("g_vals", "kg"),
        *_kn_prep_cols("r_vals", "kr"),
    )

    def flux_coef(prefix: str, k: int):
        band = "g" if prefix == "kg" else "r"
        c = _kn_coef_col(
            f"{prefix}_s", f"{prefix}_m", f"{prefix}_sh",
            _KN_PCS[band][k], 1.0,
        )
        return F.round(c * F.col(f"{prefix}_m"), 6)

    feats = prepped.select(
        "user_id",
        "n_g",
        "n_r",
        "__ok",
        F.round(F.lit(2.0) + (F.col("n_g") % 8), 6).alias("f0"),
        flux_coef("kg", 0).alias("f1"),
        flux_coef("kg", 1).alias("f2"),
        flux_coef("kg", 2).alias("f3"),
        F.round(F.lit(2.0) + (F.col("n_r") % 8), 6).alias("f4"),
        flux_coef("kr", 0).alias("f5"),
        flux_coef("kr", 1).alias("f6"),
        flux_coef("kr", 2).alias("f7"),
    )
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_g", IntegerType()),
            StructField("n_r", IntegerType()),
            StructField("__ok", DoubleType()),
            StructField("p_kn", DoubleType()),
        ]
    )
    names = [f"f{j}" for j in range(8)]

    def kernel(batches):
        rf = load_checkpoint("kilonova_rf")
        one = rf["classes"].index("1")
        for pdf in batches:
            X = pdf[names].to_numpy(dtype=np.float64)
            out = pdf[["user_id", "n_g", "n_r"]].copy()
            out["__ok"] = pdf["__ok"].astype(float)
            out["p_kn"] = (
                np.round(rf_proba(X, rf)[:, one], 6)
                if len(X)
                else np.zeros(0)
            )
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    return scored.select(
        "user_id",
        "n_g",
        "n_r",
        F.when(F.col("__ok") > 0.5, F.col("p_kn"))
        .otherwise(F.lit(0.0))
        .alias("p_kn"),
    )


def _oracle_kn_legacy_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba_sql,
    )

    rf = load_checkpoint("kilonova_rf")

    def flux_coef(prefix: str, band: str, k: int) -> str:
        c = _kn_coef_sql(
            f"{prefix}_s", f"{prefix}_m", f"{prefix}_sh",
            _KN_PCS[band][k], 1.0,
        )
        return f"round({c} * {prefix}_m, 6)"

    feats = [
        "round(2.0 + (n_g % 8), 6)",
        flux_coef("kg", "g", 0),
        flux_coef("kg", "g", 1),
        flux_coef("kg", "g", 2),
        "round(2.0 + (n_r % 8), 6)",
        flux_coef("kr", "r", 0),
        flux_coef("kr", "r", 1),
        flux_coef("kr", "r", 2),
    ]
    fdefs = ", ".join(f"{e} AS f{j}" for j, e in enumerate(feats))
    p = rf_proba_sql(rf, [f"f{j}" for j in range(8)], rf["classes"].index("1"))
    return f"""
WITH curves AS (
  SELECT user_id, event_type,
         list(value ORDER BY epoch_us(ts), value) AS vals,
         count(*) AS npts
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, event_type
),
both_bands AS (
  SELECT coalesce(g.user_id, r.user_id) AS user_id,
         coalesce(g.npts, 0) AS n_g, coalesce(r.npts, 0) AS n_r,
         g.vals AS g_vals, r.vals AS r_vals
  FROM (SELECT * FROM curves WHERE event_type = 'click') g
  FULL OUTER JOIN (SELECT * FROM curves WHERE event_type = 'purchase') r
    ON g.user_id = r.user_id
),
prepped AS (
  SELECT user_id, n_g, n_r,
         {_KN_PREP_G[0]} AS kg_s, {_KN_PREP_G[1]} AS kg_m,
         {_KN_PREP_G[2]} AS kg_sh,
         {_KN_PREP_R[0]} AS kr_s, {_KN_PREP_R[1]} AS kr_m,
         {_KN_PREP_R[2]} AS kr_sh
  FROM both_bands
),
feats AS (SELECT user_id, n_g, n_r, {fdefs} FROM prepped)
SELECT user_id, n_g, n_r,
       CASE WHEN n_g >= 2 AND n_r >= 2 THEN round({p}, 6)
            ELSE 0.0 END AS p_kn
FROM feats
"""


# --------------------------------------------------------------------------
# anomaly_real: the REAL AAD anomaly-detection forests — two ONNX
# TreeEnsembleRegressors (150 depth-12 trees, ~150k nodes per band,
# forest_{g,r}_AAD_beta.onnx read with the stdlib protobuf walker in
# tools/extract_onnx_forest.py; ztf/anomaly_detection/processor.py:
# 92-133). Reference semantics reproduced end to end: per-band raw
# score = Σ leaf weights (SUM ensemble), then the TwoBandModel combine —
# min of the valid bands, single valid band passes through, neither ->
# 0.0 sentinel. The 25 features per band place per-user aggregates
# inside each feature's trained threshold span (bounds read off the
# checkpoint itself, embedded as literals in BOTH engines). The oracle
# walks the full node tables via recursive CTEs over zipped unnest()
# lists — flat text, flat depth.
# --------------------------------------------------------------------------

_ANOM_N_FEATS = 25
_ANOM_MIN_PTS = 5
# per-feature mixing constants (dyadic)
_ANOM_C = [((j * 11) % 16 + 1) / 16.0 for j in range(_ANOM_N_FEATS)]
_ANOM_D = [((j * 7) % 8 + 1) / 32.0 for j in range(_ANOM_N_FEATS)]


def _anom_bounds(band: str) -> list[tuple[float, float]]:
    """Per-feature (lo, hi) threshold span read off the REAL forest.

    A feature no tree splits on has no span; the generated SQL would
    carry an infinite literal and fail far from the cause, so raise here
    naming the checkpoint and the feature."""
    from fink_science_spark.operators.sklearn_forest import load_checkpoint

    name = f"anomaly_forest_{band}"
    ckpt = load_checkpoint(name)
    lo = [float("inf")] * _ANOM_N_FEATS
    hi = [float("-inf")] * _ANOM_N_FEATS
    for t in ckpt["trees"]:
        for f, th in zip(t["feature"], t["threshold"]):
            if f >= 0:
                lo[f] = min(lo[f], float(th))
                hi[f] = max(hi[f], float(th))
    unsplit = [j for j, v in enumerate(lo) if v == float("inf")]
    if unsplit:
        raise ValueError(
            f"checkpoint {name!r}: no tree splits on feature index "
            f"{unsplit[0]} (of {_ANOM_N_FEATS}); its value range is unknown"
        )
    return list(zip(lo, hi))


def _anom_feat_cols(band: str, vsum: str, vmax: str):
    # SQL text (one py4j round trip per feature instead of ~14 — the
    # plan-build finding); the D suffix forces DOUBLE literals so the
    # arithmetic is bit-identical to the old F.lit(double) Columns
    # (Spark parses bare decimals as DECIMAL).
    bounds = _anom_bounds(band)
    cols = []
    for j, (lo, hi) in enumerate(bounds):
        mix = f"({vsum} * {_ANOM_C[j]!r}D + {vmax} * {_ANOM_D[j]!r}D)"
        u = f"({mix} - floor({mix}))"
        cols.append(
            F.expr(f"round({lo!r}D + {u} * {hi - lo!r}D, 6)").alias(
                f"{band}{j}"
            )
        )
    return cols


def _anom_feat_sql(band: str, vsum: str, vmax: str) -> list[str]:
    bounds = _anom_bounds(band)
    out = []
    for j, (lo, hi) in enumerate(bounds):
        mix = f"({vsum} * ({_ANOM_C[j]!r}) + {vmax} * ({_ANOM_D[j]!r}))"
        u = f"({mix} - floor({mix}))"
        out.append(f"round(({lo!r}) + {u} * ({hi - lo!r}), 6)")
    return out


def q_anomaly_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        onnx_ensemble_raw,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    # single-pass pivot: the per-band aggregate used to be computed twice
    # (click/purchase filter branches) and stitched back with a full_outer
    # sort-merge join; ONE conditional aggregation by user_id over the same
    # filtered rows yields the identical columns (count(when) is 0 and
    # sum/max(when) NULL→coalesce 0.0 when a band has no rows, exactly the
    # old full_outer + coalesce semantics) with one scan and no join.
    isg = F.col("event_type") == "click"
    both = ev.groupBy("user_id").agg(
        F.count(F.when(isg, F.lit(1))).alias("n_g"),
        F.count(F.when(~isg, F.lit(1))).alias("n_r"),
        F.coalesce(F.sum(F.when(isg, F.col("value"))), F.lit(0.0)).alias(
            "gsum"
        ),
        F.coalesce(F.max(F.when(isg, F.col("value"))), F.lit(0.0)).alias(
            "gmax"
        ),
        F.coalesce(F.sum(F.when(~isg, F.col("value"))), F.lit(0.0)).alias(
            "rsum"
        ),
        F.coalesce(F.max(F.when(~isg, F.col("value"))), F.lit(0.0)).alias(
            "rmax"
        ),
    )
    # the pivot's single agg output is tiny in BYTES, so AQE coalesces it
    # to ~1 partition and the ONNX kernel below would score serially
    # (the old full_outer join left more partitions by accident);
    # events-sized fan-out like the rest of the family, no-op at scale
    both = _fan_out(spark, sf_dir, "events", both, key="user_id")
    feats = both.select(
        "user_id",
        "n_g",
        "n_r",
        *_anom_feat_cols("g", "gsum", "gmax"),
        *_anom_feat_cols("r", "rsum", "rmax"),
    )
    gcols = [f"g{j}" for j in range(_ANOM_N_FEATS)]
    rcols = [f"r{j}" for j in range(_ANOM_N_FEATS)]
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_g", LongType()),
            StructField("n_r", LongType()),
            StructField("score_g", DoubleType()),
            StructField("score_r", DoubleType()),
        ]
    )

    def kernel(batches):
        import numpy as np

        fg = load_checkpoint("anomaly_forest_g")
        fr = load_checkpoint("anomaly_forest_r")
        for pdf in batches:
            out = pdf[["user_id", "n_g", "n_r"]].copy()
            if len(pdf):
                out["score_g"] = np.round(
                    onnx_ensemble_raw(
                        pdf[gcols].to_numpy(dtype=np.float64), fg
                    ),
                    6,
                )
                out["score_r"] = np.round(
                    onnx_ensemble_raw(
                        pdf[rcols].to_numpy(dtype=np.float64), fr
                    ),
                    6,
                )
            else:
                out["score_g"] = np.zeros(0)
                out["score_r"] = np.zeros(0)
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    ok_g = F.col("n_g") >= _ANOM_MIN_PTS
    ok_r = F.col("n_r") >= _ANOM_MIN_PTS
    return scored.select(
        "user_id",
        "n_g",
        "n_r",
        F.when(ok_g & ok_r, F.least("score_g", "score_r"))
        .when(ok_g, F.col("score_g"))
        .when(ok_r, F.col("score_r"))
        .otherwise(F.lit(0.0))
        .alias("anomaly"),
    )


def _oracle_anomaly_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        onnx_nodes_cte,
        onnx_walk_sql,
    )

    fg = load_checkpoint("anomaly_forest_g")
    fr = load_checkpoint("anomaly_forest_r")
    gfeats = _anom_feat_sql("g", "gsum", "gmax")
    rfeats = _anom_feat_sql("r", "rsum", "rmax")
    gxs = "[" + ",".join(gfeats) + "]"
    rxs = "[" + ",".join(rfeats) + "]"
    return f"""
WITH RECURSIVE per_band AS (
  SELECT user_id, event_type, count(*) AS n, sum(value) AS vsum,
         max(value) AS vmax
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id, event_type
),
both_bands AS (
  SELECT coalesce(g.user_id, r.user_id) AS user_id,
         coalesce(g.n, 0) AS n_g, coalesce(r.n, 0) AS n_r,
         coalesce(g.vsum, 0.0) AS gsum, coalesce(g.vmax, 0.0) AS gmax,
         coalesce(r.vsum, 0.0) AS rsum, coalesce(r.vmax, 0.0) AS rmax
  FROM (SELECT * FROM per_band WHERE event_type = 'click') g
  FULL OUTER JOIN (SELECT * FROM per_band WHERE event_type = 'purchase') r
    ON g.user_id = r.user_id
),
feats AS (
  SELECT user_id, n_g, n_r, {gxs}::DOUBLE[] AS gxs, {rxs}::DOUBLE[] AS rxs
  FROM both_bands
),
{onnx_nodes_cte(fg, "nodes_g")},
{onnx_nodes_cte(fr, "nodes_r")},
{onnx_walk_sql("nodes_g", "feats", "user_id", "gxs", fg["base"], "score_g")},
{onnx_walk_sql("nodes_r", "feats", "user_id", "rxs", fr["base"], "score_r")}
SELECT f.user_id, f.n_g, f.n_r,
       CASE
         WHEN f.n_g >= {_ANOM_MIN_PTS} AND f.n_r >= {_ANOM_MIN_PTS}
           THEN least(round(sg.score, 6), round(sr.score, 6))
         WHEN f.n_g >= {_ANOM_MIN_PTS} THEN round(sg.score, 6)
         WHEN f.n_r >= {_ANOM_MIN_PTS} THEN round(sr.score, 6)
         ELSE 0.0
       END AS anomaly
FROM feats f
LEFT JOIN score_g sg ON sg.user_id = f.user_id
LEFT JOIN score_r sr ON sr.user_id = f.user_id
"""


# --------------------------------------------------------------------------
# anomaly_real_lc: the same REAL AAD forests, fed with PHYSICALLY-DERIVED
# light-curve features instead of anomaly_real's documented synthetic
# recipe — the reference's actual data path (ad_features extracts the
# 26-feature light-curve vector per band, anomaly_detection consumes the
# 25 MODEL_COLUMNS of it: ztf/anomaly_detection/processor.py:33-58 +
# 211-216). Here the engine's own band_features extractor (one shuffle +
# one Arrow kernel, operators/aggregates.py) produces the per-(user,
# band) vectors; features are rounded at 6 in BOTH engines before the
# forests so threshold comparisons see identical doubles; the oracle
# embeds the shared band-features CTE chain and walks the full node
# tables with recursive CTEs. TwoBandModel combine: band valid = feature
# row exists (n >= MIN_PTS) AND no NULL feature (the reference's
# isna().any(1) mask); min of valid bands, single valid band passes
# through, neither -> 0.0.
# --------------------------------------------------------------------------

# The 25 MODEL_COLUMNS in the forests' trained feature order, as
# BAND_FEATURE_COLS names (reference name in comments where it differs).
_ANOM_LC_FEATS = [
    "amplitude",
    "anderson_darling_normal",
    "beyond_1_std",
    "reduced_chi2",  # "chi2"
    "cusum",
    "kurt",  # "kurtosis"
    "linear_fit_slope",
    "linear_fit_slope_sigma",
    "linear_trend_noise",
    "linear_trend_sigma",
    "mpr_20_10",  # "magnitude_percentage_ratio_20_10"
    "mpr_40_05",  # "magnitude_percentage_ratio_40_5"
    "max_slope",  # "maximum_slope"
    "median",
    "mad",  # "median_absolute_deviation"
    "median_buffer_pct",  # "median_buffer_range_percentage_10"
    "skew",
    "stetson_k",  # "stetson_K"
    "percent_amplitude",
    "linear_fit_chi2",  # "linear_fit_reduced_chi2"
    "ipr10",  # "inter_percentile_range_10"
    "linear_trend",
    "std",  # "standard_deviation"
    "weighted_mean",
    "mean",
]


def q_anomaly_real_lc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.aggregates import (
        band_features_per_group,
    )
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        onnx_ensemble_raw,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    lc = ev.withColumn("t_days", F.col("ts_us") / F.lit(86400e6))
    # fan out BEFORE the per-row JSON parse and the collect_list map side
    # (both otherwise run in the single scan task; the subset-key
    # repartition also satisfies the groupBy distribution — see
    # queries_alerts.q_band_features); no-op at scale
    lc = _fan_out(
        spark, sf_dir, "events",
        lc.select("user_id", "event_type", "t_days", "value", "props"),
        key="user_id", bytes_per_task=64 << 10,
    ).withColumn(
        "err", F.get_json_object("props", "$.k").cast("double") + 1.0
    )
    feats = band_features_per_group(
        lc,
        ["user_id", "event_type"],
        "t_days",
        "value",
        err_col="err",
        min_points=_ANOM_MIN_PTS,
    )
    rounded = feats.select(
        "user_id",
        "event_type",
        *[F.expr(f"round({c}, 6) AS {c}") for c in _ANOM_LC_FEATS],
    )
    # single-pass pivot (same rewrite as mulens_real_lia): the band-features
    # Arrow kernel subtree used to be recomputed by both filtered branches;
    # one conditional aggregation by user_id runs it once — at most one row
    # per (user_id, event_type) exists, so max(when(...)) reproduces the old
    # join columns exactly (value, NaN included, or NULL when the band row
    # is absent).
    # SQL-text aggregates: 1 py4j round trip each (plan-build finding)
    def _mx(cond: str, c: str, alias: str):
        return F.expr(
            f"max(CASE WHEN event_type {cond} 'click' THEN {c} END)"
        ).alias(alias)

    wide = rounded.groupBy("user_id").agg(
        *[_mx("=", c, f"g{j}") for j, c in enumerate(_ANOM_LC_FEATS)],
        *[_mx("!=", c, f"r{j}") for j, c in enumerate(_ANOM_LC_FEATS)],
    )
    universe = ev.select("user_id").distinct()
    both = universe.join(wide, "user_id", "left")
    # the per-user feature row count tracks the events table, but its
    # BYTES sit under AQE's coalesce floor at small SF, so the forest
    # kernel below otherwise runs in ONE post-join task (measured 0.9 s
    # serial ONNX scoring); events-sized fan-out, no-op at scale
    both = _fan_out(spark, sf_dir, "events", both, key="user_id")

    gcols = [f"g{j}" for j in range(len(_ANOM_LC_FEATS))]
    rcols = [f"r{j}" for j in range(len(_ANOM_LC_FEATS))]
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ok_g", BooleanType()),
            StructField("ok_r", BooleanType()),
            StructField("score_g", DoubleType()),
            StructField("score_r", DoubleType()),
        ]
    )

    def kernel(batches):
        fg = load_checkpoint("anomaly_forest_g")
        fr = load_checkpoint("anomaly_forest_r")

        def band(X, ckpt):
            ok = ~np.isnan(X).any(axis=1)
            score = np.zeros(len(X))
            if ok.any():
                score[ok] = np.round(onnx_ensemble_raw(X[ok], ckpt), 6)
            return ok, score

        for pdf in batches:
            out = pdf[["user_id"]].copy()
            if len(pdf):
                ok_g, s_g = band(
                    pdf[gcols].to_numpy(dtype=np.float64), fg
                )
                ok_r, s_r = band(
                    pdf[rcols].to_numpy(dtype=np.float64), fr
                )
                out["ok_g"], out["ok_r"] = ok_g, ok_r
                out["score_g"], out["score_r"] = s_g, s_r
            else:
                out["ok_g"] = np.zeros(0, dtype=bool)
                out["ok_r"] = np.zeros(0, dtype=bool)
                out["score_g"] = np.zeros(0)
                out["score_r"] = np.zeros(0)
            yield out

    scored = both.mapInPandas(kernel, schema=schema)
    ok_g, ok_r = F.col("ok_g"), F.col("ok_r")
    return scored.select(
        "user_id",
        "ok_g",
        "ok_r",
        F.when(ok_g & ok_r, F.least("score_g", "score_r"))
        .when(ok_g, F.col("score_g"))
        .when(ok_r, F.col("score_r"))
        .otherwise(F.lit(0.0))
        .alias("anomaly"),
    )


def _oracle_anomaly_real_lc() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        onnx_nodes_cte,
        onnx_walk_sql,
    )

    fg = load_checkpoint("anomaly_forest_g")
    fr = load_checkpoint("anomaly_forest_r")
    src = "(SELECT * FROM events WHERE event_type IN ('click', 'purchase'))"
    xs = "[" + ", ".join(_ANOM_LC_FEATS) + "]"
    nonnull = " AND ".join(f"{c} IS NOT NULL" for c in _ANOM_LC_FEATS)
    return f"""
WITH RECURSIVE
{band_features_ctes(src)},
featrows AS (
{band_features_select(_ANOM_LC_FEATS, _ANOM_MIN_PTS)}
),
fg AS (
  SELECT user_id, {xs}::DOUBLE[] AS xs FROM featrows
  WHERE event_type = 'click' AND {nonnull}
),
fr AS (
  SELECT user_id, {xs}::DOUBLE[] AS xs FROM featrows
  WHERE event_type = 'purchase' AND {nonnull}
),
{onnx_nodes_cte(fg, "nodes_g")},
{onnx_nodes_cte(fr, "nodes_r")},
{onnx_walk_sql("nodes_g", "fg", "user_id", "xs", fg["base"], "score_g")},
{onnx_walk_sql("nodes_r", "fr", "user_id", "xs", fr["base"], "score_r")},
universe AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('click', 'purchase')
)
SELECT u.user_id,
       sg.score IS NOT NULL AS ok_g,
       sr.score IS NOT NULL AS ok_r,
       CASE
         WHEN sg.score IS NOT NULL AND sr.score IS NOT NULL
           THEN least(round(sg.score, 6), round(sr.score, 6))
         WHEN sg.score IS NOT NULL THEN round(sg.score, 6)
         WHEN sr.score IS NOT NULL THEN round(sr.score, 6)
         ELSE 0.0
       END AS anomaly
FROM universe u
LEFT JOIN score_g sg ON sg.user_id = u.user_id
LEFT JOIN score_r sr ON sr.user_id = u.user_id
"""


# --------------------------------------------------------------------------
# superluminous_real: the REAL superluminous (SLSN) XGBoost head
# (superluminous_classifier.joblib — ztf/superluminous/kernel.py:21,
# processor.py:226-233: joblib-pickled XGBClassifier, binary:logistic,
# 100 trees, 27 named features, custom optimal_threshold attribute)
# extracted with tools/extract_xgb.py (stub unpickler + stdlib UBJSON
# decoder of the booster's public model format). The veto cascade is
# the reference's: ineligible curves take the -1.0 sentinel WITHOUT
# reaching the head (default probas = -1, processor.py:214), scored
# rows additionally emit the is_slsn mask (proba > optimal_threshold,
# processor.py:236). Features: the 7 genuinely statistical members of
# feature_names (max_slope, flux_amplitude, skew, duration, std_flux,
# q15, q85) are computed REAL from the per-user curves with native
# expressions; the 20 Rainbow/SALT-fit and external-catalog parameters
# (iterative fits / dust maps / photo-z services, not reproducible
# here) take the documented span recipe — per-user mixes placed inside
# each feature's trained threshold span, exact in both engines.
# --------------------------------------------------------------------------

_SLSN_REAL_FEATS = {
    "max_slope",
    "flux_amplitude",
    "skew",
    "duration",
    "std_flux",
    "q15",
    "q85",
}
# dyadic mixing constants for the synthetic fit/external parameters
_SLSN_C = [((j * 13) % 16 + 1) / 16.0 for j in range(27)]
_SLSN_D = [((j * 9) % 8 + 1) / 32.0 for j in range(27)]


def _slsn_bounds() -> dict[int, tuple[float, float]]:
    from fink_science_spark.operators.sklearn_forest import load_checkpoint

    ckpt = load_checkpoint("superluminous_xgb")
    lo: dict[int, float] = {}
    hi: dict[int, float] = {}
    for t in ckpt["trees"]:
        for f, th, lc in zip(t["feature"], t["threshold"], t["left"]):
            if lc >= 0:  # internal node
                f = int(f)
                lo[f] = min(lo.get(f, float("inf")), float(th))
                hi[f] = max(hi.get(f, float("-inf")), float(th))
    return {f: (lo[f], hi[f]) for f in lo}


def q_superluminous_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        xgb_proba,
    )

    ckpt = load_checkpoint("superluminous_xgb")
    names = ckpt["feature_names"]
    bounds = _slsn_bounds()
    thr = float(ckpt["optimal_threshold"])

    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "value")
    rows = ev.select(
        "user_id",
        "event_type",
        "value",
        "ts_us",
        F.avg("value").over(Window.partitionBy("user_id")).alias("__mean"),
        # dt > 0 guard: replicated/real data DOES carry tied timestamps
        # per user, and ANSI mode turns the 0-divide into a task error
        # (found by the x64 scalecheck, not by sf0.01 — no ties there)
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > 0,
            (F.col("value") - F.lag("value").over(w))
            / ((F.col("ts_us") - F.lag("ts_us").over(w)) / F.lit(86400e6)),
        ).alias("__slope"),
    )
    per_user = rows.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_err"
        ),
        F.sum("value").alias("vsum"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.stddev_samp("value").alias("std_flux"),
        F.expr("percentile(value, 0.15)").alias("q15"),
        F.expr("percentile(value, 0.85)").alias("q85"),
        F.avg(F.pow(F.col("value") - F.col("__mean"), 2)).alias("m2"),
        F.avg(F.pow(F.col("value") - F.col("__mean"), 3)).alias("m3"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(86400e6)).alias(
            "duration"
        ),
        F.max(F.abs("__slope")).alias("max_slope"),
    )
    real_cols = {
        "max_slope": F.col("max_slope"),
        "flux_amplitude": F.col("vmax") - F.col("vmin"),
        "skew": F.when(
            F.col("m2") > 0, F.col("m3") / F.pow(F.col("m2"), 1.5)
        ),
        "duration": F.col("duration"),
        "std_flux": F.col("std_flux"),
        "q15": F.col("q15"),
        "q85": F.col("q85"),
    }
    fexprs = []
    for j, nm in enumerate(names):
        if nm in _SLSN_REAL_FEATS:
            e = real_cols[nm]
        else:
            lo, hi = bounds.get(j, (0.0, 1.0))
            mix = F.col("vsum") * F.lit(_SLSN_C[j]) + F.col("vmax") * F.lit(
                _SLSN_D[j]
            )
            u = mix - F.floor(mix)
            e = F.lit(lo) + u * F.lit(hi - lo)
        fexprs.append(F.round(e, 6).alias(f"f{j}"))
    # transient-likeness veto analog: the corpus's mean error share is
    # 20%, so the *5 cut vetoes error-heavy users while leaving a rich
    # scored population at every SF (the *8 sentinel cut left 1 scored
    # user at sf0.001)
    eligible = (
        (F.col("n_err") * 5 < F.col("n"))
        & (F.col("duration") >= 25.0)
        & (F.col("n") >= 20)
    )
    feats = per_user.select(
        "user_id", "n", eligible.alias("__ok"), *fexprs
    )

    from pyspark.sql.types import BooleanType

    fcols = [f"f{j}" for j in range(27)]
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("ok", BooleanType()),
            StructField("proba", DoubleType()),
        ]
    )

    def kernel(batches):
        art = load_checkpoint("superluminous_xgb")
        for pdf in batches:
            out = pdf[["user_id", "n"]].copy()
            out["ok"] = pdf["__ok"].to_numpy(dtype=bool)
            if len(pdf):
                X = pdf[fcols].to_numpy(dtype=np.float64)
                out["proba"] = np.round(xgb_proba(X, art), 6)
            else:
                out["proba"] = np.zeros(0)
            yield out

    scored = feats.mapInPandas(kernel, schema=schema)
    return scored.select(
        "user_id",
        "n",
        F.when(F.col("ok"), F.col("proba"))
        .otherwise(F.lit(-1.0))
        .alias("proba"),
        (F.col("ok") & (F.col("proba") > F.lit(thr))).alias("is_slsn"),
    )


def _oracle_superluminous_real() -> str:
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        xgb_proba_sql,
    )

    ckpt = load_checkpoint("superluminous_xgb")
    names = ckpt["feature_names"]
    bounds = _slsn_bounds()
    thr = float(ckpt["optimal_threshold"])

    real_sql = {
        "max_slope": "max_slope",
        "flux_amplitude": "(vmax - vmin)",
        "skew": "(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END)",
        "duration": "duration",
        "std_flux": "std_flux",
        "q15": "q15",
        "q85": "q85",
    }
    fdefs = []
    for j, nm in enumerate(names):
        if nm in _SLSN_REAL_FEATS:
            e = real_sql[nm]
        else:
            lo, hi = bounds.get(j, (0.0, 1.0))
            mix = f"(vsum * ({_SLSN_C[j]!r}) + vmax * ({_SLSN_D[j]!r}))"
            u = f"({mix} - floor({mix}))"
            e = f"(({lo!r}) + {u} * ({hi - lo!r}))"
        fdefs.append(f"round({e}, 6) AS f{j}")
    feats = [f"f{j}" for j in range(27)]
    proba = xgb_proba_sql(ckpt, feats)
    return f"""
WITH rows_w AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
         avg(value) OVER (PARTITION BY user_id) AS mean_w,
         CASE WHEN (epoch_us(ts) - lag(epoch_us(ts)) OVER w) > 0
              THEN (value - lag(value) OVER w)
                   / ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 86400e6)
         END AS slope
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), value)
),
per_user AS (
  SELECT user_id, count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
         sum(value) AS vsum, min(value) AS vmin, max(value) AS vmax,
         stddev_samp(value) AS std_flux,
         quantile_cont(value, 0.15) AS q15,
         quantile_cont(value, 0.85) AS q85,
         avg(pow(value - mean_w, 2)) AS m2,
         avg(pow(value - mean_w, 3)) AS m3,
         (max(ts_us) - min(ts_us)) / 86400e6 AS duration,
         max(abs(slope)) AS max_slope
  FROM rows_w GROUP BY user_id
),
feats AS (
  SELECT user_id, n,
         (n_err * 5 < n AND duration >= 25.0 AND n >= 20) AS ok,
         {", ".join(fdefs)}
  FROM per_user
),
scored AS (
  SELECT user_id, n, ok, round({proba}, 6) AS proba FROM feats
)
SELECT user_id, n,
       CASE WHEN ok THEN proba ELSE -1.0 END AS proba,
       (ok AND proba > ({thr!r})) AS is_slsn
FROM scored
"""


# --------------------------------------------------------------------------
# cats_real: the REAL CATS broad classifier (517,541 params from the
# reference's TensorFlow SavedModel, rubin/cats/processor.py:36-169;
# extraction: tools/extract_tf_cats.py). A CNN+SE / bi-LSTM hybrid over
# 395-step padded sequences is not SQL-expressible, so this is a
# rows-only contract by design (the driver records the weaker check);
# value-level evidence lives in tests/test_cats_real.py: bit-exact
# transcription pin, independent scalar-implementation equivalence, and
# a 50-packet REAL Rubin or4 smoke. The query scores a SAMPLED cohort
# (1-in-20 users) because the reference's fixed 395-step pad makes each
# curve cost ~0.3 s of kernel time regardless of its real length —
# exactly how the reference batches it through TFSMLayer.
# --------------------------------------------------------------------------

_CATS_COHORT_MOD = 20
_CATS_MAX_EVENTS = 64


def q_cats_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.cats_nn import (
        CLASSES,
        cats_format_inputs,
        cats_forward_batch,
        checkpoint_path,
        load_cats,
    )

    ev = _events_us(spark, sf_dir).filter(
        F.col("user_id") % _CATS_COHORT_MOD == 0
    )
    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts_us"), F.col("value")))
            ).alias("h")
        )
        .select(
            "user_id",
            F.slice(F.col("h.ts_us"), 1, _CATS_MAX_EVENTS).alias("ts_arr"),
            F.slice(F.col("h.value"), 1, _CATS_MAX_EVENTS).alias("val_arr"),
        )
    )
    model_path = checkpoint_path()
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", IntegerType()),
            StructField("cats_class", IntegerType()),
            StructField("p_max", DoubleType()),
            StructField("preds", ArrayType(DoubleType())),
        ]
    )

    def kernel(batches):
        import numpy as np

        art = load_cats(model_path)
        for pdf in batches:
            seqs, ns = [], []
            for i in range(len(pdf)):
                ts = np.asarray(pdf["ts_arr"].iloc[i], dtype=np.float64)
                vals = np.asarray(pdf["val_arr"].iloc[i], dtype=np.float64)
                mjd = ts / 86400e6  # days
                band = 1 + (np.arange(len(vals)) % 6)
                err = 0.01 + np.abs(vals) / 100.0
                seqs.append(cats_format_inputs(mjd, vals, err, band))
                ns.append(len(vals))
            out = pdf[["user_id"]].copy()
            out["n"] = np.asarray(ns, dtype=np.int32)
            if seqs:
                probs = cats_forward_batch(np.stack(seqs), art)
                out["cats_class"] = probs.argmax(axis=1).astype(np.int32)
                out["p_max"] = np.round(probs.max(axis=1), 6)
                out["preds"] = [
                    [round(float(x), 6) for x in row] for row in probs
                ]
            else:
                out["cats_class"] = np.zeros(0, dtype=np.int32)
                out["p_max"] = np.zeros(0)
                out["preds"] = []
            yield out

    return grouped.mapInPandas(kernel, schema=schema).select(
        "user_id", "n", "cats_class", "p_max", "preds"
    )


# --------------------------------------------------------------------------
# t2_real: the REAL quantized T2 transformer from the shipped .tflite
# (operators/t2_transformer.py; extraction tools/extract_tflite.py —
# stdlib FlatBuffer walker, int8 dequantized with verified symmetric
# per-tensor scales). 14-class attention model over a [100, 2] (g, r)
# series; attention is not SQL-expressible, so this is a rows-only
# contract by documented design (like cats_real); value-level evidence
# lives in tests/test_t2_real.py (bit-exact transcription pin,
# probability-simplex/determinism/sensitivity checks). Scores a
# 1-in-10 user cohort: each curve costs a fixed 100-step attention
# block regardless of its true length.
# --------------------------------------------------------------------------

_T2_COHORT_MOD = 10


def q_t2_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from fink_science_spark.operators.t2_transformer import (
        T2_N_CLASSES,
        T2_SEQ_LEN,
        checkpoint_path,
        load_t2,
        t2_forward_batch,
    )

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .filter(F.col("user_id") % _T2_COHORT_MOD == 0)
    )
    # single-pass pivot (same rewrite as kn_rf_real): one conditional
    # collect per band instead of two aggregate branches + full_outer join.
    isg = F.col("event_type") == "click"
    pt = F.struct(F.col("ts_us"), F.col("value"))
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.when(isg, pt))).alias("hg"),
        F.array_sort(F.collect_list(F.when(~isg, pt))).alias("hr"),
    )
    both = grouped.select(
        "user_id",
        F.when(
            F.size("hg") > 0, F.slice(F.col("hg.value"), 1, T2_SEQ_LEN)
        ).alias("g_vals"),
        F.when(
            F.size("hr") > 0, F.slice(F.col("hr.value"), 1, T2_SEQ_LEN)
        ).alias("r_vals"),
    )
    model_path = checkpoint_path()
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_g", IntegerType()),
            StructField("n_r", IntegerType()),
            StructField("t2_class", IntegerType()),
            StructField("p_max", DoubleType()),
            StructField("preds", ArrayType(DoubleType())),
        ]
    )

    def kernel(batches):
        art = load_t2(model_path)
        for pdf in batches:
            B = len(pdf)
            out = pdf[["user_id"]].copy()
            if B:
                X = np.zeros((B, T2_SEQ_LEN, 2))
                ng = np.zeros(B, dtype=np.int32)
                nr = np.zeros(B, dtype=np.int32)
                for i in range(B):
                    for c, col, n_arr in (
                        (0, "g_vals", ng),
                        (1, "r_vals", nr),
                    ):
                        v = pdf[col].iloc[i]
                        if v is not None:
                            arr = np.asarray(v, dtype=np.float64)
                            n_arr[i] = len(arr)
                            X[i, : len(arr), c] = arr
                probs = t2_forward_batch(X, art)
                out["n_g"], out["n_r"] = ng, nr
                out["t2_class"] = probs.argmax(axis=1).astype(np.int32)
                out["p_max"] = np.round(probs.max(axis=1), 6)
                out["preds"] = [
                    [round(float(x), 6) for x in row] for row in probs
                ]
            else:
                out["n_g"] = np.zeros(0, dtype=np.int32)
                out["n_r"] = np.zeros(0, dtype=np.int32)
                out["t2_class"] = np.zeros(0, dtype=np.int32)
                out["p_max"] = np.zeros(0)
                out["preds"] = []
            yield out

    return both.mapInPandas(kernel, schema=schema).select(
        "user_id", "n_g", "n_r", "t2_class", "p_max", "preds"
    )


register("enrich_score", q_enrich_score, ORACLE_ENRICH_SCORE)
register("model_score", q_model_score, _oracle_model_score())
register("model_score_forest", q_model_score_forest,
         _oracle_model_score_forest())
register("anomaly_score", q_anomaly_score, _oracle_anomaly_score())
register("kn_score", q_kn_score, ORACLE_KN_SCORE)
register("cats_broad_scores", q_cats_broad_scores, ORACLE_CATS_BROAD_SCORES)
register("superluminous_sentinel", q_superluminous_sentinel,
         ORACLE_SUPERLUMINOUS)
register("mulens_score", q_mulens_score, ORACLE_MULENS_SCORE)
register("orphan_score", q_orphan_score, ORACLE_ORPHAN_SCORE)
register("snn_ia_score", q_snn_ia_score, ORACLE_SNN_IA_SCORE)
# Oracle SQL of the real-model family embeds ~36k weight literals: register the
# oracle builders, so the SQL is built on first use instead of at import.
register("snn_ia_real", q_snn_ia_real, _oracle_snn_real)
register("mulens_real", q_mulens_real, _oracle_mulens_real)
register("mulens_real_lia", q_mulens_real_lia, _oracle_mulens_real_lia)
register("orphan_real", q_orphan_real, _oracle_orphan_real)
register("kn_rf_real", q_kn_rf_real, _oracle_kn_rf_real)
register("anomaly_real", q_anomaly_real, _oracle_anomaly_real)
register("anomaly_real_lc", q_anomaly_real_lc, _oracle_anomaly_real_lc)
register("superluminous_real", q_superluminous_real,
         _oracle_superluminous_real)
register("kn_legacy_real", q_kn_legacy_real, _oracle_kn_legacy_real)
register("t2_real", q_t2_real)
register("cats_real", q_cats_real, bench=False)
