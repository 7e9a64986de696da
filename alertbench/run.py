"""End-to-end benchmark of the alert-enrichment engine.

    python3 alertbench/run.py --workload alerts --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) in this single process, on a
``get_session`` session at ``local[N]``, N = min(4, CPUs available), over
the fixed test tables in $ALERTBENCH_DATA (default /root/testdata/sf0.1).
One pass runs every operation of the workload once, one after another
(closed loop, one client): call the registry function, then execute the
returned DataFrame to a ``noop`` sink. The seed only shuffles the order
of operations inside each pass.

Sampling rule, the same for every run: one cold pass (part of set-up),
then WARMUP_PASSES discarded passes, then a fixed number of counted
passes: ``--seconds`` divided by REF_PASS_S (the reference warm pass),
rounded up, at least MIN_COUNTED. The count never depends on measured
speed. Times are medians over the counted passes. The outputs of the
last counted pass are then checked against their DuckDB oracles (stored
digests); an operation that raised in any pass fails the run.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end_to_end with --trace 0,
per_layer with --trace 1). Exit code 1 when a check fails, 2 when the
program or the test tables are missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import re
import statistics
import sys
import time
import traceback

import procstat
from workloads import STREAM_INPUT_SQL, T2_ELIGIBLE_SQL, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DATA_DIR = os.environ.get("ALERTBENCH_DATA", "/root/testdata/sf0.1")
# The session's 8 GiB default heap is pre-touched and stays resident for
# the whole run (about 1.06 GB per GiB); 2 GiB holds these workloads with
# little GC. A departure from the shipped session: see README.md.
DRIVER_MEMORY = "2g"
WARMUP_PASSES = 2
MIN_COUNTED = 2
REF_PASS_S = 3.5


def _die(msg: str) -> None:
    print(f"alertbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def counted_passes(seconds: float) -> int:
    return max(MIN_COUNTED, math.ceil(seconds / REF_PASS_S))


def _metric_units(traced: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def _prepare_env(slots: int) -> str:
    """Keep every file Spark and the program write inside the checkout
    (the session would otherwise put its scratch on /dev/shm; a departure,
    see README.md), and let the Python workers import the package."""
    scratch = os.path.join(OUT, "scratch")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_SCRATCH"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return scratch


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes of one workload; in traced mode also records spans
    and per-operation counters."""

    def __init__(self, spark, fns, data_dir, tracer=None):
        self.spark = spark
        self.fns = fns  # operation name -> registry function
        self.data_dir = data_dir
        self.tracer = tracer  # (Spans, Py4jCounter) or None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_windows: list[dict] = []  # traced: per op build/exec times

    def _op(self, name: str, pass_idx: int, pass_span):
        fn = self.fns[name]
        if self.tracer is None:
            df = fn(self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        from fink_science_spark.plans.explain import physical_plan

        spans, py4j = self.tracer
        sc = self.spark.sparkContext
        group = f"p{pass_idx}.{name}"
        sc.setJobGroup(f"{group}.build", name)
        t0, c0 = time.time(), py4j.calls
        df = fn(self.spark, self.data_dir)
        t1, calls = time.time(), py4j.calls - c0
        plan = physical_plan(df)
        t2 = time.time()
        sc.setJobGroup(f"{group}.exec", name)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        sc._jsc.clearJobGroup()
        tracker = sc.statusTracker()
        op_span = spans.add("operation", t0, t3, pass_span, op=name)
        spans.add("build", t0, t1, op_span, py4j_calls=calls)
        spans.add("plan", t1, t2, op_span)
        spans.add("exec", t2, t3, op_span)
        self.op_windows.append(
            {
                "pass": pass_idx, "op": name, "span": op_span,
                "build": (t0, t1), "exec": (t2, t3),
                "queries.py4j_calls": calls,
                "plans.exchanges": len(re.findall(r"(?<![A-Za-z])(?:Broadcast|Reused)?Exchange\b", plan)),
                "tracker_jobs": {
                    f"{group}.build": len(tracker.getJobIdsForGroup(f"{group}.build")),
                    f"{group}.exec": len(tracker.getJobIdsForGroup(f"{group}.exec")),
                },
            }
        )
        return df

    def run_pass(self, idx: int, order: list[str], run_span=None) -> dict:
        outputs = {}
        pass_span = None
        if self.tracer is not None:
            pass_span = self.tracer[0].add("pass", 0.0, 0.0, run_span, index=idx)
        t0, c0, s0 = time.time(), procstat.tree_cpu_s(), procstat.steal_s()
        for name in order:
            self.attempted += 1
            try:
                outputs[name] = self._op(name, idx, pass_span)
            except Exception:  # one operation failing must not end the run
                self.failed += 1
                self.errors.append(f"pass {idx} {name}:\n{traceback.format_exc()}")
        t1 = time.time()
        if pass_span is not None:
            self.tracer[0].rows[pass_span].update(start=t0, end=t1)
        rec = {"pass": idx, "start": t0, "end": t1, "pass_s": t1 - t0,
               "cpu_s": procstat.tree_cpu_s() - c0,
               "host.steal_s": procstat.steal_s() - s0}
        print(f"alertbench: pass {idx}: {rec['pass_s']:.3f} s wall, {rec['cpu_s']:.2f} "
              f"CPU-s, {rec['host.steal_s']:.2f} s steal", file=sys.stderr)
        return {**rec, "outputs": outputs}


def _oracle_problems(outputs: dict, con_factory) -> list[str]:
    """Compare each operation's output with its stored oracle digest
    (t2_real: with the properties of its method)."""
    import checks

    with open(os.path.join(HERE, "oracle_digests.json")) as f:
        stored = json.load(f)
    problems = []
    for name, df in sorted(outputs.items()):
        rows = df.collect()
        if name == "t2_real":
            eligible = con_factory().execute(T2_ELIGIBLE_SQL).fetchone()[0]
            problems += checks.check_t2([r.asDict() for r in rows], eligible)
        elif name not in stored:
            problems.append(f"{name}: no oracle digest stored (run alertbench/oracles.py)")
        else:
            problems += checks.check_digest(name, df.columns, [tuple(r) for r in rows], stored[name])
    return problems


def main(argv=None) -> int:
    process_start = procstat.process_start_epoch()
    args = _args(argv)
    traced = bool(args.trace)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        _die(f"no __spark_entry__.py in {ROOT}: run from a checkout of the engine")
    if not os.path.isfile(os.path.join(DATA_DIR, "events.parquet")):
        _die(f"test tables not found in {DATA_DIR} (set ALERTBENCH_DATA)")
    units = _metric_units(traced)
    slots = min(4, len(os.sched_getaffinity(0)))
    scratch = _prepare_env(slots)

    ops = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    con = None

    def con_factory():
        nonlocal con
        if con is None:
            from fink_science_spark.oracle import duckdb_connection

            con = duckdb_connection(DATA_DIR)
        return con

    with procstat.RssSampler() as rss:
        from fink_science_spark.session import get_session

        conf = {"spark.ui.showConsoleProgress": "false"}
        tracer = spans = listener = None
        run_span = None
        if traced:
            import tracing

            log_dir = os.path.join(OUT, "eventlog", str(os.getpid()))
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.time()
        spark = get_session(master=f"local[{slots}]", extra_conf=conf)
        session_start_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if traced:
            spans = tracing.Spans()
            run_span = spans.add("run", process_start, 0.0, None, workload=args.workload, seed=args.seed)
            spans.add("session", t0, t0 + session_start_s, run_span)
            py4j = tracing.Py4jCounter()
            py4j.install()
            listener = tracing.ProgressRecorder()
            spark.streams.addListener(listener)
            tracer = (spans, py4j)
        import __spark_entry__

        registry = __spark_entry__.queries()
        runner = Runner(spark, {name: registry[name] for name in ops}, DATA_DIR, tracer)

        def one_pass(idx):
            order = list(ops)
            rng.shuffle(order)
            return runner.run_pass(idx, order, run_span)

        cold = one_pass(0)
        setup_s = time.time() - process_start
        passes = [one_pass(i) for i in range(1, 1 + WARMUP_PASSES)]
        first = 1 + WARMUP_PASSES
        counted = [one_pass(i) for i in range(first, first + counted_passes(args.seconds))]
        passes = [cold, *passes, *counted]

        import checks

        t_check = time.time()
        outputs = counted[-1]["outputs"]
        problems = checks.check_operations(ops, outputs, runner.failed)
        problems += _oracle_problems(outputs, con_factory)
        print(f"alertbench: output checks {time.time() - t_check:.1f} s", file=sys.stderr)

        layer = {}
        if traced:
            from kernels import avro_decode_ms_seeded, kernel_ms

            layer.update(kernel_ms(args.seed))
            layer["sources.avro_decode_ms"] = avro_decode_ms_seeded(scratch, args.seed)
            listener.settle()
            spark.streams.removeListener(listener)
            py4j.uninstall()
        _stop(spark)

    if traced:
        problems += _traced_layers(layer, runner, passes, counted, listener.progress,
                                   log_dir, slots, con_factory)
        layer["session.start_s"] = session_start_s
        layer["traced.pass_s"] = statistics.median(p["pass_s"] for p in counted)
        spans.rows[run_span]["end"] = time.time()
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        spans.write(os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.jsonl"))
        values = layer
    else:
        values = {
            "pass_s": statistics.median(p["pass_s"] for p in counted),
            "cpu_s": statistics.median(p["cpu_s"] for p in counted),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
        }
    if con is not None:
        con.close()

    for e in runner.errors:
        print(e, file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 1 if problems else 0


def _traced_layers(layer, runner, passes, counted, progress, log_dir, slots,
                   con_factory) -> list[str]:
    """Fill ``layer`` with medians over the counted passes and return the
    problems the conservation and bound checks found."""
    import shutil

    import checks
    import tracing

    events = tracing.read_eventlog(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    spark_per_pass = tracing.spark_pass_metrics(events, [(p["start"], p["end"]) for p in passes])
    by_pass = {p["pass"]: i for i, p in enumerate(passes)}
    spans = runner.tracer[0]

    def within(t, window):
        return window[0] <= t <= window[1]

    job_starts = [e["Submission Time"] / 1e3 for e in events
                  if e["Event"] == "SparkListenerJobStart"]

    problems: list[str] = []
    tracker_groups: dict[str, int] = {}
    per_pass: dict[int, dict] = {}
    for w in runner.op_windows:
        rec = per_pass.setdefault(w["pass"], {
            "queries.build_s": 0.0, "queries.py4j_calls": 0, "queries.eager_jobs": 0,
            "plans.plan_s": 0.0, "plans.exchanges": 0, "spark.exec_s": 0.0})
        rec["queries.build_s"] += w["build"][1] - w["build"][0]
        rec["plans.plan_s"] += w["exec"][0] - w["build"][1]
        rec["spark.exec_s"] += w["exec"][1] - w["exec"][0]
        rec["queries.py4j_calls"] += w["queries.py4j_calls"]
        rec["plans.exchanges"] += w["plans.exchanges"]
        rec["queries.eager_jobs"] += sum(within(t, w["build"]) for t in job_starts)
        tracker_groups.update(w["tracker_jobs"])
        ops_progress = [p for p in progress if within(p["start"], w["build"])]
        for p in ops_progress:
            spans.add("microbatch", p["start"], p["start"] + p["duration_ms"].get("triggerExecution", 0) / 1e3,
                      w["span"], run_id=p["run_id"], batch=p["batch"], input_rows=p["input_rows"])
        if w["op"] in STREAM_INPUT_SQL:
            want = con_factory().execute(STREAM_INPUT_SQL[w["op"]]).fetchone()[0]
            problems += checks.check_stream_inputs(
                f"pass {w['pass']} {w['op']}", [p["input_rows"] for p in ops_progress], want)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            t = e["Submission Time"] / 1e3
            parent = next((w["span"] for w in runner.op_windows
                           if within(t, (w["build"][0], w["exec"][1]))), None)
            spans.add("job", t, t, parent, job_id=e["Job ID"],
                      group=(e.get("Properties") or {}).get("spark.jobGroup.id"))
    problems += checks.check_job_counts(tracker_groups, dict(tracing.eventlog_job_groups(events)))

    counted_records = []
    for p in counted:
        rec = {"pass": p["pass"], "pass_s": p["pass_s"], "cpu_s": p["cpu_s"],
               "host.steal_s": p["host.steal_s"]}
        rec.update(per_pass.get(p["pass"], {}))
        spark_rec = spark_per_pass[by_pass[p["pass"]]]
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages",
                  "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                  "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
                  "operators.python_rows", "operators.arrow_mb_in", "operators.arrow_mb_out"):
            rec[k] = spark_rec.get(k, 0)
        rec.update(tracing.stream_pass_metrics(
            [q for q in progress if p["start"] <= q["start"] < p["end"]]))
        problems += checks.check_pass_bounds(rec, slots)
        counted_records.append(rec)
    for k in counted_records[0]:
        if k != "pass":
            layer[k] = statistics.median(r[k] for r in counted_records)
    return problems


if __name__ == "__main__":
    sys.exit(main())
