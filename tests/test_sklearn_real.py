"""Value-level parity for the REAL sklearn model artifacts.

1. Each committed checkpoint is a bit-exact transcription of its
   reference pickle (fresh stub-unpickle vs checkpoint, node arrays
   compared bitwise) — reference-gated.
2. The vectorized kernels reproduce sklearn's inference contracts
   against independently written scalar tree walks / formulas.
3. The real-forest queries produce non-degenerate, spread-out scores
   (a constant-output oracle would vacuously pass hash parity).
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

MODELS_DIR = "/root/reference/fink_science/data/models"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(MODELS_DIR), reason="reference models dir absent"
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))


def _fresh(name):
    from extract_sklearn_models import load_sklearn_pickle

    return load_sklearn_pickle(os.path.join(MODELS_DIR, name))


def _ckpt_raw(name):
    import gzip
    import json

    from fink_science_spark.operators.sklearn_forest import checkpoint_path

    with gzip.open(checkpoint_path(name), "rt") as f:
        return json.load(f)


def _assert_tree_matches(json_tree, tree_stub):
    st = tree_stub.__dict__
    nodes = st["nodes"]
    assert json_tree["left"] == nodes["left_child"].astype(int).tolist()
    assert json_tree["right"] == nodes["right_child"].astype(int).tolist()
    assert json_tree["feature"] == nodes["feature"].astype(int).tolist()
    got = np.asarray(json_tree["threshold"])
    assert np.array_equal(got, nodes["threshold"].astype(np.float64))
    assert np.array_equal(
        np.asarray(json_tree["value"]),
        np.asarray(st["values"])[:, 0, :].astype(np.float64),
    )


@needs_ref
def test_mulens_rf_checkpoint_verbatim():
    rf = _fresh("rf.sav")
    art = _ckpt_raw("mulens_rf")
    assert art["classes"] == [str(c) for c in rf.classes_]
    assert len(art["trees"]) == len(rf.estimators_) == 1000
    for jt, est in list(zip(art["trees"], rf.estimators_))[::97]:
        _assert_tree_matches(jt, est.tree_)


@needs_ref
def test_orphans_gbt_checkpoint_verbatim():
    gbt = _fresh("model_orphans.pkl")
    art = _ckpt_raw("orphans_gbt")
    assert art["learning_rate"] == float(gbt.learning_rate)
    prior = np.asarray(gbt.init_.class_prior_, dtype=np.float64)
    assert art["init_raw"] == float(np.log(prior[1] / prior[0]))
    assert len(art["trees"]) == 100
    for jt, est in list(zip(art["trees"], gbt.estimators_[:, 0]))[::13]:
        _assert_tree_matches(jt, est.tree_)


@needs_ref
def test_kn_pipeline_checkpoint_verbatim():
    kn = _fresh("KN_model_1PC.pkl")
    art = _ckpt_raw("kn_rf_1pc")
    steps = dict(kn.steps)
    sc = next(s for s in art["steps"] if s.get("kind") == "robust_scaler")
    ref_sc = steps["robustscaler"]
    assert np.array_equal(np.asarray(sc["center"]), np.asarray(ref_sc.center_))
    assert np.array_equal(np.asarray(sc["scale"]), np.asarray(ref_sc.scale_))
    rf = next(s for s in art["steps"] if s.get("kind") == "rf_classifier")
    ref_rf = steps["randomforestclassifier"]
    assert len(rf["trees"]) == len(ref_rf.estimators_)
    for jt, est in list(zip(rf["trees"], ref_rf.estimators_))[::7]:
        _assert_tree_matches(jt, est.tree_)


@needs_ref
def test_mulens_pca_checkpoint_verbatim():
    pca = _fresh("pca.sav")
    art = _ckpt_raw("mulens_pca")
    assert np.array_equal(
        np.asarray(art["components"]), np.asarray(pca.components_, dtype=np.float64)
    )
    assert np.array_equal(
        np.asarray(art["mean"]), np.asarray(pca.mean_, dtype=np.float64)
    )
    assert art["whiten"] == bool(pca.whiten)


def _scalar_tree_value(tree, x, col):
    """Independent scalar walk (plain python)."""
    i = 0
    while tree["feature"][i] >= 0:
        if x[tree["feature"][i]] <= tree["threshold"][i]:
            i = int(tree["left"][i])
        else:
            i = int(tree["right"][i])
    return float(tree["value"][i][col])


def test_rf_proba_matches_scalar_walk():
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        rf_proba,
    )

    ckpt = load_checkpoint("mulens_rf")
    rng = np.random.default_rng(3)
    X = rng.uniform(-5, 30, size=(17, 47))
    got = rf_proba(X, ckpt)
    k = got.shape[1]
    for r in (0, 5, 16):
        for col in range(k):
            want = sum(
                _scalar_tree_value(
                    {
                        "feature": t["feature"],
                        "threshold": t["threshold"],
                        "left": t["left"],
                        "right": t["right"],
                        "value": t["value"],
                    },
                    X[r],
                    col,
                )
                for t in ckpt["trees"]
            ) / len(ckpt["trees"])
            assert abs(got[r, col] - want) < 1e-12
    assert np.allclose(got.sum(axis=1), 1.0, atol=1e-9)


def test_gbt_proba_matches_scalar_walk():
    from fink_science_spark.operators.sklearn_forest import (
        gbt_proba,
        load_checkpoint,
    )

    ckpt = load_checkpoint("orphans_gbt")
    rng = np.random.default_rng(5)
    X = rng.uniform(-1, 1, size=(9, 12))
    got = gbt_proba(X, ckpt)
    for r in range(9):
        raw = ckpt["init_raw"] + ckpt["learning_rate"] * sum(
            _scalar_tree_value(t, X[r], 0) for t in ckpt["trees"]
        )
        want = 1.0 / (1.0 + math.exp(-raw))
        assert abs(got[r] - want) < 1e-12


def test_pca_and_scaler_formulas():
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        pca_transform,
        robust_scaler,
    )

    pca = load_checkpoint("mulens_pca")
    rng = np.random.default_rng(9)
    X = rng.uniform(-2, 2, size=(4, 47))
    got = pca_transform(X, pca)
    comp = np.asarray(pca["components"])
    mean = np.asarray(pca["mean"])
    var = np.asarray(pca["explained_variance"])
    want = ((X - mean) @ comp.T) / np.sqrt(var)
    assert np.allclose(got, want, atol=0)
    art = load_checkpoint("kn_rf_1pc")
    sc = next(s for s in art["steps"] if s.get("kind") == "robust_scaler")
    Xs = rng.uniform(-2, 2, size=(4, 8))
    assert np.allclose(
        robust_scaler(Xs, sc),
        (Xs - np.asarray(sc["center"])) / np.asarray(sc["scale"]),
        atol=0,
    )


ANOM_ZIP = (
    "/root/reference/fink_science/data/models/anomaly_detection/"
    "anomaly_detection_forest_AAD_beta.zip"
)


@pytest.mark.skipif(
    not os.path.exists(ANOM_ZIP), reason="reference anomaly zip absent"
)
def test_onnx_anomaly_checkpoints_verbatim():
    """Fresh stdlib-protobuf extraction of the ONNX forests equals the
    committed checkpoints bit for bit (both bands, every tree)."""
    import zipfile

    from extract_onnx_forest import extract_tree_ensemble, to_checkpoint

    z = zipfile.ZipFile(ANOM_ZIP)
    for band in ("g", "r"):
        fresh = to_checkpoint(
            extract_tree_ensemble(z.read(f"forest_{band}_AAD_beta.onnx")),
            f"forest_{band}_AAD_beta.onnx",
        )
        art = _ckpt_raw(f"anomaly_forest_{band}")
        assert len(art["trees"]) == len(fresh["trees"]) == 150
        assert art["base"] == fresh["base"]
        for a, b in zip(art["trees"], fresh["trees"]):
            assert a == b


def test_onnx_ensemble_matches_scalar_walk():
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        onnx_ensemble_raw,
    )

    ckpt = load_checkpoint("anomaly_forest_g")
    rng = np.random.default_rng(17)
    X = rng.uniform(0, 20, size=(5, 25))
    got = onnx_ensemble_raw(X, ckpt)
    for r in range(5):
        want = ckpt["base"] + sum(
            _scalar_tree_value(t, X[r], 0) for t in ckpt["trees"]
        )
        assert abs(got[r] - want) < 1e-12


def test_real_forest_queries_non_degenerate(spark, sf_smoke):
    """Constant outputs would vacuously pass hash parity — require
    spread in each real-model query's score column."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    for name, col in [
        ("mulens_real", "p_ml"),
        ("orphan_real", "p_orphan"),
        ("kn_rf_real", "p_kn"),
        ("snn_ia_real", "snn_ia_real"),
        ("anomaly_real", "anomaly"),
        ("anomaly_real_lc", "anomaly"),
        ("mulens_real_lia", "p_ml_g"),
        ("superluminous_real", "proba"),
        ("kn_legacy_real", "p_kn"),
    ]:
        vals = [
            r[0]
            for r in queries[name](spark, sf_smoke).select(col).collect()
        ]
        assert len(set(vals)) >= 3, f"{name}.{col} degenerate: {set(vals)}"


def test_bsm_ppf_inverts_normal_cdf():
    """The Beasley-Springer-Moro inverse-CDF polynomial (shared between
    the LIA kernel and its SQL twin) must invert the normal CDF to the
    algorithm's documented ~3e-9 accuracy across both branches."""
    import math

    import numpy as np

    from fink_science_spark.operators.lia_stats import norm_ppf_bsm

    u = np.concatenate(
        [
            np.linspace(1e-6, 1 - 1e-6, 2001),
            [1e-9, 5e-8, 0.08, 0.5, 0.92, 1 - 5e-8, 1 - 1e-9],
        ]
    )
    z = norm_ppf_bsm(u)
    phi = 0.5 * (1.0 + np.array([math.erf(v / math.sqrt(2.0)) for v in z]))
    assert np.max(np.abs(phi - u)) < 1e-7


def test_lia_features_exercise_trained_splits(spark, sf_smoke):
    """The real rf.sav must actually BRANCH on the LIA feature bank:
    for most of the 47 features, the sf0.01 values straddle at least
    one trained split threshold (all-below or all-above a feature's
    every threshold would make that feature a constant routing)."""
    from pyspark.sql import functions as F

    from fink_science_spark.operators.lia_stats import (
        lia_features_per_group,
    )
    from fink_science_spark.operators.sklearn_forest import load_checkpoint
    from fink_science_spark.tables import _events_us

    ev = _events_us(spark, sf_smoke).filter(
        F.col("event_type").isin("click", "purchase")
    )
    lc = ev.select(
        "user_id",
        "event_type",
        (F.col("ts_us") / F.lit(86400e6)).alias("t_days"),
        (F.col("value") / F.lit(64.0)).alias("m"),
        (
            (F.get_json_object("props", "$.k").cast("double") + 1.0)
            / F.lit(64.0)
        ).alias("err"),
    )
    feats = lia_features_per_group(
        lc, ["user_id", "event_type"], "t_days", "m", "err", min_points=10
    )
    # bounded-collect: one row per (user, band) at smoke SF (28 groups
    # clear the >= 10-point gate at sf0.001)
    pdf = feats.toPandas()
    assert len(pdf) >= 20

    rf = load_checkpoint("mulens_rf")
    th_by_feat: dict[int, list[float]] = {}
    for t in rf["trees"]:
        for f, th in zip(t["feature"], t["threshold"]):
            if f >= 0:
                th_by_feat.setdefault(int(f), []).append(float(th))
    exercised = 0
    for j in range(47):
        col = pdf[f"f{j}"].dropna()
        if not len(col) or j not in th_by_feat:
            continue
        lo, hi = float(col.min()), float(col.max())
        if any(lo < th < hi for th in th_by_feat[j]):
            exercised += 1
    assert exercised >= 30, f"only {exercised}/47 features split"


SLSN_JOBLIB = os.path.join(MODELS_DIR, "superluminous_classifier.joblib")


@pytest.mark.skipif(
    not os.path.exists(SLSN_JOBLIB), reason="reference joblib absent"
)
def test_superluminous_xgb_checkpoint_verbatim():
    """Fresh stub-unpickle + stdlib-UBJSON decode of the reference's
    XGBClassifier joblib equals the committed checkpoint exactly
    (every tree array, base_score, feature names, the pickled
    optimal_threshold)."""
    from extract_xgb import load_xgb_joblib

    fresh = load_xgb_joblib(SLSN_JOBLIB)
    art = _ckpt_raw("superluminous_xgb")
    assert art["objective"] == fresh["objective"] == "binary:logistic"
    assert art["base_score"] == fresh["base_score"]
    assert art["feature_names"] == fresh["feature_names"]
    assert art["optimal_threshold"] == fresh["optimal_threshold"]
    assert len(art["trees"]) == len(fresh["trees"]) == 100
    for a, b in zip(art["trees"], fresh["trees"]):
        assert a == b


def test_xgb_proba_matches_scalar_walk():
    """The vectorized XGBoost kernel against an independent scalar
    descent (strict <, NaN routed to the recorded default child,
    leaf value in split_conditions, sigmoid(logit(base) + sum))."""
    from fink_science_spark.operators.sklearn_forest import (
        load_checkpoint,
        xgb_proba,
    )

    ckpt = load_checkpoint("superluminous_xgb")

    def scalar(x):
        base = ckpt["base_score"]
        raw = math.log(base / (1.0 - base))
        for t in ckpt["trees"]:
            i = 0
            while t["left"][i] >= 0:
                v = x[t["feature"][i]]
                if v != v:  # NaN
                    i = int(
                        t["left"][i]
                        if t["default_left"][i] == 1
                        else t["right"][i]
                    )
                elif v < t["threshold"][i]:
                    i = int(t["left"][i])
                else:
                    i = int(t["right"][i])
            raw += float(t["threshold"][i])
        return 1.0 / (1.0 + math.exp(-raw))

    rng = np.random.default_rng(11)
    X = rng.uniform(-3, 1200, size=(13, 27))
    X[3, 5] = np.nan
    X[7, 0] = np.nan
    X[7, 21] = np.nan
    got = xgb_proba(X, ckpt)
    for r in range(13):
        assert abs(got[r] - scalar(X[r])) < 1e-12
    assert len(set(np.round(got, 6))) >= 8


def test_ubjson_decoder_roundtrip():
    """The stdlib UBJSON decoder against hand-built spec examples
    (typed arrays, mixed objects, all numeric widths)."""
    import struct

    from extract_xgb import ubjson_decode

    # {"a": [int16 300, float32 1.5], "b": "hi", "c": true}
    buf = (
        b"{"
        + b"U\x01a[" + b"I" + struct.pack(">h", 300) + b"d"
        + struct.pack(">f", 1.5) + b"]"
        + b"U\x01bSU\x02hi"
        + b"U\x01cT"
        + b"}"
    )
    assert ubjson_decode(buf) == {"a": [300, 1.5], "b": "hi", "c": True}
    # typed+counted array: [$d#U\x03 ...3 float32...]
    buf2 = b"[$d#U\x03" + struct.pack(">fff", 1.0, -2.5, 0.25)
    assert ubjson_decode(buf2) == [1.0, -2.5, 0.25]
    # counted object with int64 values
    buf3 = b"{#U\x02" + b"U\x01xL" + struct.pack(">q", -7) + \
        b"U\x01yL" + struct.pack(">q", 2**40)
    assert ubjson_decode(buf3) == {"x": -7, "y": 2**40}


@needs_ref
def test_kn_legacy_checkpoints_verbatim():
    """The two legacy kilonova forests (shipped but unreferenced by
    current reference code) transcribe bit-exactly."""
    for src, name, n_trees in (
        ("kilonova_model.pkl", "kilonova_rf", 100),
        ("kn_diff_pc_sets.pkl", "kn_diff_pc_rf", 30),
    ):
        rf = _fresh(src)
        art = _ckpt_raw(name)
        assert art["classes"] == [str(c) for c in rf.classes_]
        assert len(art["trees"]) == len(rf.estimators_) == n_trees
        for jt, est in list(zip(art["trees"], rf.estimators_))[::9]:
            _assert_tree_matches(jt, est.tree_)
