"""Traced mode: spans recorded around calls into each layer, plus the
counters Spark exposes from outside (py4j round trips, job groups, the
event log and a StreamingQueryListener). Nothing here runs in an
untraced run.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from collections import Counter, defaultdict
from datetime import datetime

from py4j.clientserver import ClientServer, ClientServerConnection
from pyspark.sql.streaming import StreamingQueryListener

STREAM_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)
SETTLE_QUIET_S = 1.0
SETTLE_LIMIT_S = 15.0


class Spans:
    """In-memory spans: (id, parent, name, start, end, attrs)."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.rows.append(
            {"id": len(self.rows), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.rows) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


class Py4jCounter:
    """Counts JVM round trips made from the calling thread (listener
    callbacks on other threads do not count). PySpark pins threads by
    default, so its gateway is a py4j ``ClientServer`` and every call
    goes through ``ClientServerConnection.send_command``."""

    def __init__(self):
        self.calls = 0
        self._thread = threading.get_ident()
        self._orig = ClientServerConnection.send_command

    def install(self) -> None:
        from pyspark import SparkContext

        if not isinstance(SparkContext._gateway, ClientServer):
            raise RuntimeError("py4j gateway is not a ClientServer (PYSPARK_PIN_THREAD=false?)")
        orig = self._orig

        def send_command(conn, command, *a, **kw):
            if threading.get_ident() == self._thread:
                self.calls += 1
            return orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        ClientServerConnection.send_command = self._orig


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressRecorder(StreamingQueryListener):
    """Keeps every micro-batch progress as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {
            "run_id": str(p.runId),
            "name": p.name,
            "batch": p.batchId,
            "start": _epoch(p.timestamp),
            "input_rows": int(p.numInputRows),
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self) -> None:
        """Wait until no progress event arrived for SETTLE_QUIET_S (at
        most SETTLE_LIMIT_S): the listener bus delivers them
        asynchronously."""
        deadline = time.time() + SETTLE_LIMIT_S
        seen = -1
        while time.time() < deadline:
            with self._lock:
                n = len(self.progress)
            if n == seen:
                return
            seen = n
            time.sleep(SETTLE_QUIET_S)


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


_PY_NODE_HINTS = ("Python", "InPandas", "Arrow")


def _python_accumulators(events: list[dict]) -> dict[int, str]:
    """accumulator id -> metric name, for the metrics of plan nodes that
    run Python/Arrow UDFs (pandas UDFs, mapInPandas, applyInPandas...)."""
    out: dict[int, str] = {}

    def walk(node):
        if any(h in node.get("nodeName", "") for h in _PY_NODE_HINTS):
            for m in node.get("metrics", []):
                out[int(m["accumulatorId"])] = m["name"]
        for c in node.get("children", []):
            walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return out


def spark_pass_metrics(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Per pass window [start, end) (epoch seconds): job, stage, task and
    executor totals from the event log."""
    py_acc = _python_accumulators(events)
    per = [defaultdict(float) for _ in windows]

    def slot(t_ms):
        t = t_ms / 1e3
        for i, (a, b) in enumerate(windows):
            if a <= t < b:
                return per[i]
        return None

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            d = slot(e["Submission Time"])
            if d is not None:
                d["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            d = slot(info["Completion Time"])
            if d is not None:
                d["spark.stages"] += 1
                d["spark.single_task_stages"] += info["Number of Tasks"] == 1
        elif kind == "SparkListenerTaskEnd":
            d = slot(e["Task Info"]["Finish Time"])
            if d is None:
                continue
            m = e.get("Task Metrics") or {}
            d["spark.tasks"] += 1
            d["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            d["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            d["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            d["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            d["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            for acc in e["Task Info"].get("Accumulables", []):
                name = py_acc.get(int(acc["ID"]))
                if name is None or not isinstance(acc.get("Update"), (int, str)):
                    continue
                v = int(acc["Update"])
                if name == "number of output rows":
                    d["operators.python_rows"] += v
                elif name == "data sent to Python workers":
                    d["operators.arrow_mb_in"] += v / 2**20
                elif name == "data returned from Python workers":
                    d["operators.arrow_mb_out"] += v / 2**20
    return [dict(d) for d in per]


def eventlog_job_groups(events: list[dict]) -> Counter:
    """Jobs per spark.jobGroup.id, as the event log recorded them."""
    c: Counter = Counter()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                c[g] += 1
    return c


def stream_pass_metrics(progress: list[dict]) -> dict:
    """Totals over the micro-batches given (one pass)."""
    out = {"streaming.microbatches": len(progress),
           "sources.input_rows": sum(p["input_rows"] for p in progress),
           "streaming.state_commit_ms": sum(p["state_commit_ms"] for p in progress)}
    for ph in STREAM_PHASES:
        out[f"streaming.phase_ms.{ph}"] = sum(p["duration_ms"].get(ph, 0) for p in progress)
    last: dict[str, dict] = {}
    for p in progress:
        if p["run_id"] not in last or p["batch"] >= last[p["run_id"]]["batch"]:
            last[p["run_id"]] = p
    out["streaming.state_rows"] = sum(p["state_rows"] for p in last.values())
    return out
