"""The benchmark's own tests: every check it makes can fail.

    python3 -m pytest alertbench/test_checks.py -q

No Spark session is needed; the kernels run on small seeded inputs.
"""

from __future__ import annotations

import os
import sys
from unittest import mock

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import kernels  # noqa: E402
import run  # noqa: E402

COLS = ["user_id", "score", "tags"]
ROWS = [(1, 0.25, ["a", "b"]), (2, 0.5, []), (3, None, ["c"])]


def test_digest_ignores_row_and_column_order():
    want = checks.digest(COLS, ROWS)
    shuffled = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert checks.check_digest("q", ["tags", "user_id", "score"], shuffled, want) == []


def test_digest_treats_equal_numbers_alike():
    want = checks.digest(["n"], [(3,), (4,)])
    assert checks.check_digest("q", ["n"], [(3.0,), (4,)], want) == []


def test_digest_rejects_one_changed_value():
    want = checks.digest(COLS, ROWS)
    changed = [ROWS[0], (2, 0.5000001, []), ROWS[2]]
    assert checks.check_digest("q", COLS, changed, want)


def test_digest_rejects_a_missing_row():
    want = checks.digest(COLS, ROWS)
    assert checks.check_digest("q", COLS, ROWS[:2], want)


def test_digest_rejects_a_renamed_column():
    want = checks.digest(COLS, ROWS)
    assert checks.check_digest("q", ["user_id", "score", "tag"], ROWS, want)


def _t2_rows(n=3):
    p = [1.0 / checks.T2_N_CLASSES] * checks.T2_N_CLASSES
    return [{"user_id": i, "t2_class": i % checks.T2_N_CLASSES, "preds": list(p)} for i in range(n)]


def test_t2_properties_hold():
    assert checks.check_t2(_t2_rows(), 3) == []


def test_t2_rejects_preds_not_summing_to_one():
    rows = _t2_rows()
    rows[1]["preds"][0] += 1e-4
    assert checks.check_t2(rows, 3)


def test_t2_rejects_class_out_of_range():
    rows = _t2_rows()
    rows[2]["t2_class"] = checks.T2_N_CLASSES
    assert checks.check_t2(rows, 3)


def test_t2_rejects_wrong_cohort_size():
    assert checks.check_t2(_t2_rows(), 4)


def _boom(spark, data_dir):
    raise RuntimeError("operation failed")


def test_a_raising_operation_fails_the_run():
    ok = lambda spark, data_dir: mock.MagicMock()  # noqa: E731
    runner = run.Runner(None, {"ok": ok, "boom": _boom}, "unused")
    rec = runner.run_pass(0, ["ok", "boom"])
    assert (runner.attempted, runner.failed) == (2, 1)
    assert set(rec["outputs"]) == {"ok"}
    problems = checks.check_operations(["ok", "boom"], rec["outputs"], runner.failed)
    assert any(p.startswith("boom:") for p in problems)
    assert checks.check_operations(["ok"], rec["outputs"], 0) == []


def test_counted_passes_do_not_depend_on_speed():
    assert run.counted_passes(0.1) == run.MIN_COUNTED
    assert run.counted_passes(10 * run.REF_PASS_S) == 10


def test_stream_inputs_conserved():
    assert checks.check_stream_inputs("s", [400, 300, 300], 1000) == []


def test_stream_with_one_batch_dropped_is_rejected():
    batches = [400, 300, 300]
    assert checks.check_stream_inputs("s", batches[:-1], 1000)


def _pass(**kw):
    p = {"pass": 1, "pass_s": 2.0, "cpu_s": 5.0,
         "spark.executor_cpu_s": 4.0, "spark.executor_run_s": 6.0}
    p.update(kw)
    return p


def test_pass_bounds_hold():
    assert checks.check_pass_bounds(_pass(), slots=4) == []


def test_executor_cpu_above_tree_cpu_is_rejected():
    assert checks.check_pass_bounds(_pass(**{"spark.executor_cpu_s": 5.5}), slots=4)


def test_executor_run_time_above_slots_times_wall_is_rejected():
    assert checks.check_pass_bounds(_pass(**{"spark.executor_run_s": 8.5}), slots=4)


def test_job_counts_must_agree():
    assert checks.check_job_counts({"g": 3}, {"g": 3}) == []
    assert checks.check_job_counts({"g": 3}, {"g": 2})
    assert checks.check_job_counts({"g": 1}, {})
    assert checks.check_job_counts({"g": 1}, {"g": 1, "stream-run-id": 4}) == []


@pytest.mark.parametrize("name", sorted(kernels.KERNELS))
def test_kernel_outputs_have_their_properties(name):
    kernels.KERNELS[name](np.random.default_rng(0), 256)()


def test_kernel_check_rejects_unnormalised_forest(monkeypatch):
    monkeypatch.setattr(kernels, "rf_proba", lambda X, ckpt: np.full((len(X), 2), 0.6))
    with pytest.raises(kernels.KernelCheckError):
        kernels.KERNELS["rf_proba"](np.random.default_rng(0), 64)()


def test_kernel_check_rejects_probability_outside_unit_interval(monkeypatch):
    monkeypatch.setattr(kernels, "snn_forward_batch", lambda seqs, w: np.full(len(seqs), 1.5))
    with pytest.raises(kernels.KernelCheckError):
        kernels.KERNELS["snn_forward_batch"](np.random.default_rng(0), 64)()
    monkeypatch.setattr(kernels, "t2_forward_batch", lambda X, art: np.full((len(X), 14), -0.1))
    with pytest.raises(kernels.KernelCheckError):
        kernels.KERNELS["t2_forward_batch"](np.random.default_rng(0), 200)()


def test_avro_decode_roundtrip_and_mismatch(tmp_path):
    path = str(tmp_path / "alerts.avro")
    records = kernels.write_alert_container(path, seed=1, n_alerts=20)
    assert kernels.avro_decode_ms(path, records) > 0
    records[3]["candidate"]["value"] += 1.0
    with pytest.raises(kernels.KernelCheckError):
        kernels.avro_decode_ms(path, records)
