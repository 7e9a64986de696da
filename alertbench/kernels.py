"""Direct timings of the public model kernels and the Avro decoder on
seeded inputs, each with the output property its method guarantees.

A row is one alert for the forests and one observation for the sequence
kernels (t2 curves of 100 observations, SuperNNova sequences of 8, LIA
curves of 64). The forest sizes sit on either side of
``sklearn_forest._STACKED_MAX_ROWS`` so both descent branches run.
"""

from __future__ import annotations

import os
import time

import numpy as np

from fink_science_spark.operators.lia_stats import lia_stats_curve
from fink_science_spark.operators.sklearn_forest import (
    _STACKED_MAX_ROWS,
    gbt_proba,
    load_checkpoint,
    onnx_ensemble_raw,
    rf_proba,
)
from fink_science_spark.operators.snn_lstm import (
    INPUT_DIM,
    load_snn_lstm,
    snn_forward_batch,
)
from fink_science_spark.operators.t2_transformer import (
    T2_SEQ_LEN,
    load_t2,
    t2_forward_batch,
)
from fink_science_spark.sources import avro_codec

SIZES = (_STACKED_MAX_ROWS // 2, _STACKED_MAX_ROWS * 4)  # 512, 4096
REPS = 3


class KernelCheckError(AssertionError):
    """A kernel returned an output its method cannot produce."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise KernelCheckError(what)


def _features(rng, ckpt: dict, n: int) -> np.ndarray:
    return rng.normal(size=(n, int(ckpt["n_features"])))


def _rf(rng, n):
    ckpt = load_checkpoint("kilonova_rf")
    X = _features(rng, ckpt, n)

    def run():
        p = rf_proba(X, ckpt)
        _require(np.allclose(p.sum(axis=1), 1.0, atol=1e-9), "rf_proba rows must sum to 1")

    return run


def _gbt(rng, n):
    ckpt = load_checkpoint("orphans_gbt")
    X = _features(rng, ckpt, n)

    def run():
        p = gbt_proba(X, ckpt)
        _require(bool(((p >= 0) & (p <= 1)).all()), "gbt_proba must lie in [0, 1]")

    return run


def _onnx(rng, n):
    ckpt = load_checkpoint("anomaly_forest_g")
    X = _features(rng, ckpt, n)

    def run():
        r = onnx_ensemble_raw(X, ckpt)
        _require(r.shape == (n,) and bool(np.isfinite(r).all()), "onnx raw scores must be finite")

    return run


def _t2(rng, n):
    art = load_t2()
    X = rng.normal(size=(max(1, n // T2_SEQ_LEN), T2_SEQ_LEN, 2))

    def run():
        p = t2_forward_batch(X, art)
        _require(bool(((p >= 0) & (p <= 1)).all()), "t2 probabilities must lie in [0, 1]")
        _require(np.allclose(p.sum(axis=1), 1.0, atol=1e-5), "t2 rows must sum to 1")

    return run


def _snn(rng, n):
    weights = load_snn_lstm()["tensors"]
    seqs = [rng.normal(size=(8, INPUT_DIM)) for _ in range(n // 8)]

    def run():
        p = snn_forward_batch(seqs, weights)
        _require(bool(((p >= 0) & (p <= 1)).all()), "SNN probabilities must lie in [0, 1]")

    return run


def _lia(rng, n):
    curves = [
        (rng.normal(size=64), np.abs(rng.normal(size=64)) * 0.1, rng.normal(size=64))
        for _ in range(n // 64)
    ]

    def run():
        for x, e, fraw in curves:
            f = lia_stats_curve(x, e, fraw)
            _require(f["amplitude"] >= 0, "LIA amplitude must be >= 0")

    return run


KERNELS = {
    "onnx_ensemble_raw": _onnx,
    "rf_proba": _rf,
    "gbt_proba": _gbt,
    "t2_forward_batch": _t2,
    "snn_forward_batch": _snn,
    "lia_stats_curve": _lia,
}


def _median_ms(fn) -> float:
    times = []
    for _ in range(REPS):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1e3)
    return float(np.median(times))


def kernel_ms(seed: int) -> dict[str, float]:
    """``operators.kernel_ms.<kernel>.<rows>`` for every kernel and size."""
    rng = np.random.default_rng(seed)
    return {
        f"operators.kernel_ms.{name}.{n}": _median_ms(make(rng, n))
        for name, make in KERNELS.items()
        for n in SIZES
    }


ALERT_SCHEMA = {
    "type": "record",
    "name": "alert",
    "fields": [
        {"name": "user_id", "type": "long"},
        {
            "name": "candidate",
            "type": {
                "type": "record",
                "name": "cand",
                "fields": [
                    {"name": "ts_us", "type": "long"},
                    {"name": "value", "type": "double"},
                    {"name": "event_type", "type": "string"},
                ],
            },
        },
        {"name": "prv_candidates", "type": {"type": "array", "items": "cand"}},
    ],
}


def write_alert_container(path: str, seed: int, n_alerts: int = 300) -> list:
    """A deflate container of nested alert packets shaped like the
    stream_avro_alert_pipeline input (one packet per user, history of
    earlier candidates); returns the records written."""
    rng = np.random.default_rng(seed)
    kinds = ("click", "view", "purchase")

    def cand(t):
        return {
            "ts_us": int(t),
            "value": float(rng.normal(50, 20)),
            "event_type": kinds[int(rng.integers(3))],
        }

    records = []
    for uid in range(n_alerts):
        ts = np.sort(rng.integers(0, 10**12, size=int(rng.integers(1, 130))))
        records.append(
            {
                "user_id": uid,
                "candidate": cand(ts[-1]),
                "prv_candidates": [cand(t) for t in ts[:-1]],
            }
        )
    avro_codec.write_container(path, ALERT_SCHEMA, records, codec="deflate", records_per_block=50)
    return records


def avro_decode_ms(path: str, records: list) -> float:
    """Median time to decode the whole container with the public block
    decoder; the decoded records must equal the ones written."""

    def run():
        _schema, got = avro_codec.read_container(path)
        _require(got == records, "Avro decode must return the records written")

    return _median_ms(run)


def avro_decode_ms_seeded(out_dir: str, seed: int) -> float:
    path = os.path.join(out_dir, "alerts.avro")
    return avro_decode_ms(path, write_alert_container(path, seed))
