"""Output and conservation checks. Each returns a list of problems; an
empty list means the check held.

Result checks use ``fink_science_spark.oracle.compare`` semantics: column
names sorted, cells canonicalised by ``oracle._canon``, rows compared as
an unordered multiset. An oracle too slow to run on every call is stored
as a row count plus a digest of the same canonical multiset
(``oracle_digests.json``, made by ``oracles.py``).
"""

from __future__ import annotations

import hashlib
import math

from fink_science_spark.operators.t2_transformer import T2_N_CLASSES
from fink_science_spark.oracle import _canon


def _norm(v):
    """One spelling per value, so a digest does not depend on whether an
    engine returned 3 or 3.0 (``compare`` treats those as equal)."""
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return int(v)
    if isinstance(v, tuple):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of a result: ``columns`` in any order,
    ``rows`` as tuples aligned with ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        repr(tuple(_norm(_canon(r[i])) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def check_digest(name: str, columns: list[str], rows: list[tuple], want: dict) -> list[str]:
    got = digest(columns, rows)
    if got["rows"] != want["rows"]:
        return [f"{name}: {got['rows']} rows, oracle has {want['rows']}"]
    if got["sha256"] != want["sha256"]:
        return [f"{name}: values differ from the oracle digest"]
    return []


def check_t2(rows: list[dict], eligible_users: int) -> list[str]:
    """t2_real has no oracle: check the properties of a softmax
    classifier over the eligible cohort."""
    out = []
    if len(rows) != eligible_users:
        out.append(f"t2_real: {len(rows)} rows, {eligible_users} eligible users")
    for r in rows:
        preds = r["preds"]
        if preds is None or len(preds) != T2_N_CLASSES:
            out.append(f"t2_real: user {r['user_id']} has preds {preds!r}")
        elif abs(math.fsum(preds) - 1.0) > 1e-5:
            out.append(f"t2_real: user {r['user_id']} preds sum to {math.fsum(preds)}")
        if r["t2_class"] is None or not 0 <= r["t2_class"] < T2_N_CLASSES:
            out.append(f"t2_real: user {r['user_id']} has class {r['t2_class']}")
        if out:
            break
    return out


def check_stream_inputs(op: str, batch_rows: list[int], want: int) -> list[str]:
    """Rows in = rows the stream's input holds: the sum of numInputRows
    over the micro-batches of one run of the operation."""
    got = sum(batch_rows)
    if got != want:
        return [
            f"{op}: micro-batches read {got} rows in {len(batch_rows)} batches, "
            f"input holds {want}"
        ]
    return []


def check_pass_bounds(p: dict, slots: int) -> list[str]:
    """Executor CPU cannot exceed the whole tree's CPU, and executor run
    time cannot exceed slots x wall time, within one pass."""
    out = []
    if p["spark.executor_cpu_s"] > p["cpu_s"]:
        out.append(
            f"pass {p['pass']}: executor CPU {p['spark.executor_cpu_s']:.3f} s "
            f"> process-tree CPU {p['cpu_s']:.3f} s"
        )
    if p["spark.executor_run_s"] > slots * p["pass_s"]:
        out.append(
            f"pass {p['pass']}: executor run time {p['spark.executor_run_s']:.3f} s "
            f"> {slots} slots x {p['pass_s']:.3f} s"
        )
    return out


def check_job_counts(tracker: dict[str, int], eventlog: dict[str, int]) -> list[str]:
    """Jobs per job group the benchmark set, as the status tracker and
    the event log saw them (streams run under their own groups)."""
    return [
        f"job group {g}: status tracker {n} jobs, event log {eventlog.get(g, 0)}"
        for g, n in sorted(tracker.items())
        if n != eventlog.get(g, 0)
    ]


def check_operations(ops: list[str], outputs: dict, failed: int) -> list[str]:
    """Every operation of the workload left an output in the checked
    pass, and none raised in any pass: an output that is missing was
    checked against nothing."""
    out = [f"{name}: no output to check (the operation raised)" for name in ops if name not in outputs]
    if failed:
        out.append(f"{failed} operation(s) raised during the run")
    return out
