"""Event analytics: order statistics, sketches, time-series windows,
sessions, funnels, cohorts, drift and significance tests, graph and skew
reports."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.exact import halfup6
from fink_science_spark.operators.aggregates import (
    order_stats,
    trailing_window_mean,
    weighted_quantile,
)
from fink_science_spark.operators.sketches import (
    heavy_hitters,
    histogram_quantiles,
    histogram_quantiles_oracle_sql,
)
from fink_science_spark.queries_dedup import (
    ORACLE_DEDUP_MINHASH_LSH,
    _doc_shingles,
)
from fink_science_spark.queries_relational import _PR_EDGE_A, _PR_EDGE_B, _PR_N
from fink_science_spark.queries_text import _KNUTH, _MERSENNE31, _U_DENOM
from fink_science_spark.registry import register
from fink_science_spark.tables import DAY_US, WEEK_US, _events_us, _fan_out, _t

# --------------------------------------------------------------------------
# §2.4/2.5 — aggregation layer: order stats, weighted CDF, trailing window
# --------------------------------------------------------------------------


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group order statistics with explicit moments (SURVEY §2.4
    per-group order stats; reference shape: ztf/ssoft/processor.py:643-668)."""
    ev = _t(spark, sf_dir, "events")
    return order_stats(ev, ["event_type"], "value", percentiles=(0.5,), round_to=4)


ORACLE_EVENT_TYPE_STATS = """
WITH r AS (
  SELECT event_type,
         count(*)                  AS n,
         avg(value)                AS e1,
         avg(value * value)         AS e2,
         avg(value * value * value) AS e3,
         avg(value * value * value * value) AS e4,
         round(stddev_samp(value), 4)       AS std,
         round(min(value), 4)               AS vmin,
         round(max(value), 4)               AS vmax,
         round(quantile_cont(value, 0.5), 4) AS p50
  FROM events GROUP BY event_type
)
SELECT event_type, n, round(e1, 4) AS mean, std, vmin, vmax, p50,
       round(CASE WHEN e2 - e1*e1 > 0 THEN
             (e3 - 3.0*e1*e2 + 2.0*e1*e1*e1)
             / pow(e2 - e1*e1, 1.5) END, 4) AS skew,
       round(CASE WHEN e2 - e1*e1 > 0 THEN
             (e4 - 4.0*e1*e3 + 6.0*e1*e1*e2 - 3.0*e1*e1*e1*e1)
             / pow(e2 - e1*e1, 2.0) - 3.0 END, 4) AS kurt
FROM r
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted empirical-CDF quantile (SURVEY §2.4 weighted CDF +
    interpolation; reference shape: ztf/blazar_extreme_state/utils.py:392-424)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "w", F.get_json_object("props", "$.k").cast("double") + 1.0
    )
    return weighted_quantile(ev, ["event_type"], "value", "w", q=0.5, round_to=4)


ORACLE_WEIGHTED_MEDIAN = """
WITH c AS (
  SELECT event_type, value,
         sum(json_extract_string(props, '$.k')::DOUBLE + 1.0)
             OVER (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / sum(json_extract_string(props, '$.k')::DOUBLE + 1.0)
             OVER (PARTITION BY event_type) AS cdf
  FROM events
)
SELECT event_type, round(min(value), 4) AS wq50
FROM c WHERE cdf >= 0.5
GROUP BY event_type
"""


def q_trailing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day range-frame mean per user over purchases, reduced to
    the per-user max (SURVEY §2.4 trapezoidal/trailing fluence; reference
    shape: ztf/blazar_extreme_state/utils.py:122-146)."""
    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    with_trail = trailing_window_mean(
        ev, ["user_id"], ts="ts_us", val="value", window_seconds=7 * DAY_US,
        round_to=4, quantize=2,
    )
    # NB: ts_us is already epoch-µs (bigint), so cast("long") in the
    # operator is an identity — the window frame is ±µs exactly.
    return with_trail.groupBy("user_id").agg(
        F.max("trail_mean").alias("max_trail_mean_7d")
    )


ORACLE_TRAILING_MEAN = """
WITH p AS (SELECT user_id, epoch_us(ts) AS t,
                  CAST(round(value * 100) AS BIGINT) AS qv FROM events
           WHERE event_type = 'purchase')
SELECT user_id, max(trail) AS max_trail_mean_7d FROM (
  SELECT user_id,
         round(CAST(sum(qv) OVER w AS DOUBLE) / count(qv) OVER w / 100.0, 4)
             AS trail
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY t
               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
) GROUP BY user_id
"""


def q_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling calendar-week rollup (SURVEY §2.9 / M6 batch form)."""
    ev = _events_us(spark, sf_dir)
    # integer arithmetic only: float division + cast can mis-truncate at
    # exact multiples of the window width
    week = F.col("ts_us") - (F.col("ts_us") % F.lit(WEEK_US))
    return (
        ev.groupBy(week.alias("week_us"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_WEEKLY_COUNTS = """
SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS week_us,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attach to each purchase the user's most recent
    click at or before it (value + age). Union-and-scan implementation —
    one shuffle, no range probe — verified against DuckDB's native ASOF
    JOIN. The cross-table generalization of the reference's
    last-in-band history lookback (SURVEY §2.5)."""
    from fink_science_spark.operators.asof import asof_join

    ev = _events_us(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value"
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts_us", right_ts="ts_us",
        right_values=["value"],
    )
    return out.select(
        "event_id",
        F.round("asof_value", 6).alias("last_click_value"),
        (F.col("ts_us") - F.col("asof_ts")).alias("click_age_us"),
    )


ORACLE_ASOF_CLICK = """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_type = 'click')
SELECT p.event_id,
       round(c.value, 6) AS last_click_value,
       p.t - c.t         AS click_age_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
"""


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

_PR_ROUNDS = 3      # unrolled damped iterations
_PR_DAMP = 0.85
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
# sketch_quantiles: per-returnflag p50/p90/p99 of extended price from a
# 256-bin equi-width histogram — groups × bins partial counts cross the
# wire instead of every value (operators/sketches.py for the exact-IEEE
# determinism contract shared with the oracle).
# --------------------------------------------------------------------------

_HQ_BINS = 256


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        lineitem, "l_returnflag", "l_extendedprice", bins=_HQ_BINS
    ).orderBy("l_returnflag")


ORACLE_SKETCH_QUANTILES = (
    histogram_quantiles_oracle_sql(
        "lineitem", "l_returnflag", "l_extendedprice", bins=_HQ_BINS
    )
    + "ORDER BY l_returnflag"
)

# --------------------------------------------------------------------------
# heavy_hitters: corpus tokens with global share > 1/m, exact counts.
# Candidate pass bounds the shuffle to per-partition-hot tokens (the
# Misra-Gries pigeonhole superset); the global filter restores exactness.
# --------------------------------------------------------------------------

_HH_M = 35


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan out before the candidate tokenize pass (one 0.39 s single-task
    # collect under the single-row-group scan); no-op at scale
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    return heavy_hitters(docs, "text", m=_HH_M).orderBy("token")


ORACLE_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
t AS (SELECT token FROM toks WHERE token <> ''),
tot AS (SELECT count(*) AS nt FROM t)
SELECT token, count(*)::BIGINT AS cnt,
       round(count(*) / (SELECT nt FROM tot), 6) AS share
FROM t
GROUP BY token
HAVING count(*) * {_HH_M} > (SELECT nt FROM tot)
ORDER BY token
"""


# --------------------------------------------------------------------------
# resample_ffill: regularize an irregular event series onto a fixed
# daily grid with forward fill — the time-series resampling move every
# feature pipeline needs before windowed models (pandas' resample+ffill,
# re-expressed distributively).
#
# Scale shape: the last-observation-per-bucket dedup and the grid
# explode + fill all share ONE partitioning (user_id) — the grid is
# generated per user with sequence() (never a global calendar cross
# join), the left join is on the (user, day) keys the window already
# shuffled by, and the fill is last(ignorenulls) over the same
# partitioning. Integer bucket arithmetic only (float division truncates
# wrong at exact multiples — the weekly_counts lesson).
# --------------------------------------------------------------------------

# The grid step is one day (DAY_US): the purchase series is sparse at
# daily resolution, so the fill path is exercised (a WEEKLY grid had zero
# empty buckets in every fixture)


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts_us", "value", "event_id")
    )
    day = (F.col("ts_us") - (F.col("ts_us") % F.lit(DAY_US))) / F.lit(
        DAY_US
    )
    w_last = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.withColumn("day", day.cast("long"))
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select("user_id", "day", "value")
    )
    span = obs.groupBy("user_id").agg(
        F.min("day").alias("dlo"), F.max("day").alias("dhi")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("dlo", "dhi")).alias("day")
    )
    joined = grid.join(obs, ["user_id", "day"], "left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(w_fill).alias("value_ffill"),
        F.col("value").isNotNull().alias("observed"),
    ).orderBy("user_id", "day")


ORACLE_RESAMPLE_FFILL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value, event_id FROM events
  WHERE event_type = 'purchase'
),
o AS (
  SELECT user_id, (ts_us - (ts_us % {DAY_US})) / {DAY_US} AS day,
         value,
         row_number() OVER (
           PARTITION BY user_id, (ts_us - (ts_us % {DAY_US})) / {DAY_US}
           ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
),
obs AS (SELECT user_id, day::BIGINT AS day, value FROM o WHERE rn = 1),
span AS (
  SELECT user_id, min(day) AS dlo, max(day) AS dhi FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(dlo, dhi))::BIGINT AS day FROM span
),
j AS (
  SELECT grid.user_id, grid.day, obs.value
  FROM grid LEFT JOIN obs ON grid.user_id = obs.user_id AND grid.day = obs.day
)
SELECT user_id, day,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       value IS NOT NULL AS observed
FROM j
ORDER BY user_id, day
"""

# --------------------------------------------------------------------------
# feature_drift_psi: population-stability-index drift report between two
# event slices (click vs purchase value distributions) over the shared
# histogram bucketing — the standard ML-ops drift monitor, built on the
# same mergeable bin-count summary as sketch_quantiles.
#
# Scale shape: ONE pass over events produces (slice, bucket) partial
# counts (map-combined, ≤ 2 × B rows cross the wire); the PSI algebra
# runs on that summary. Laplace-style smoothing (+0.5 per bucket) keeps
# empty buckets finite. Per-bucket contributions are dyadically
# quantized before the total sum (exact, order-independent — the
# engine-wide contract for anything summed).
# --------------------------------------------------------------------------

_PSI_BINS = 32
_PSI_A, _PSI_B = "click", "purchase"
_PSI_Q = float(1 << 20)


def q_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin(_PSI_A, _PSI_B)
    )
    v = F.col("value").cast("double")
    bounds = ev.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (v - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo"))
                * F.lit(float(_PSI_BINS))
            ),
        )
    ).cast("long")
    counts = (
        ev.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.when(F.col("event_type") == _PSI_A, 1)).alias("n_a"),
            F.count(F.when(F.col("event_type") == _PSI_B, 1)).alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    p = (F.col("n_a") + F.lit(0.5)) / (
        F.col("__ta") + F.lit(0.5 * _PSI_BINS)
    )
    q = (F.col("n_b") + F.lit(0.5)) / (
        F.col("__tb") + F.lit(0.5 * _PSI_BINS)
    )
    contrib = F.floor((p - q) * F.log(p / q) * F.lit(_PSI_Q) + F.lit(0.5)) / F.lit(
        _PSI_Q
    )
    per_bucket = counts.join(F.broadcast(tot)).select(
        "bucket", "n_a", "n_b", contrib.alias("contrib")
    )
    psi = per_bucket.agg(F.round(F.sum("contrib"), 6).alias("psi"))
    return (
        per_bucket.join(F.broadcast(psi))
        .select("bucket", "n_a", "n_b", F.round("contrib", 6).alias("contrib"), "psi")
        .orderBy("bucket")
    )


ORACLE_FEATURE_DRIFT_PSI = f"""
WITH e AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
  WHERE event_type IN ('{_PSI_A}', '{_PSI_B}')
),
bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM e),
counts AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE least({_PSI_BINS - 1},
                         CAST(floor((v - lo) / (hi - lo) * {float(_PSI_BINS)!r})
                              AS BIGINT)) END AS bucket,
         count(*) FILTER (event_type = '{_PSI_A}')::BIGINT AS n_a,
         count(*) FILTER (event_type = '{_PSI_B}')::BIGINT AS n_b
  FROM e, bounds GROUP BY 1
),
tot AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb FROM counts),
pb AS (
  SELECT bucket, n_a, n_b,
         floor(((n_a + 0.5) / (ta + {0.5 * _PSI_BINS!r})
                - (n_b + 0.5) / (tb + {0.5 * _PSI_BINS!r}))
               * ln(((n_a + 0.5) / (ta + {0.5 * _PSI_BINS!r}))
                    / ((n_b + 0.5) / (tb + {0.5 * _PSI_BINS!r})))
               * {_PSI_Q!r} + 0.5) / {_PSI_Q!r} AS contrib
  FROM counts, tot
),
psi AS (SELECT round(sum(contrib), 6) AS psi FROM pb)
SELECT bucket, n_a, n_b, round(contrib, 6) AS contrib, psi
FROM pb, psi
ORDER BY bucket
"""

# --------------------------------------------------------------------------
# weighted_sample: weighted sampling WITHOUT replacement per stratum
# (A-ES / Efraimidis–Spirakis exponential keys): key_i = -ln(u_i)/w_i
# with deterministic md5 uniforms; the k smallest keys per source are
# exactly a weighted sample without replacement. This is the
# importance-subsampling move (quality-weighted corpus thinning) that
# Bernoulli thinning (domain_mix_sample) cannot do at a fixed size.
#
# Scale shape: pure per-row map (hash + ln) → one per-source top-k
# window; at production scale the window is preceded by a per-partition
# local top-k (the ann pattern) — the semantics here are the oracle
# twin. Keys rounded to 9 decimals before ranking, doc_id tie-break.
# --------------------------------------------------------------------------

_WS_K = 10  # sample size per source


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.functions.hashing import hash64

    docs = _t(spark, sf_dir, "documents")
    # weight: longer documents are more valuable (n_chars as the
    # quality proxy); u in (0, 1] via (h + 1) / 2^60
    u = (hash64(F.col("doc_id").cast("string"), seed="wsample") + F.lit(1)) / F.lit(
        _U_DENOM
    )
    key = F.round(-F.log(u) / F.col("n_chars"), 9)
    w = Window.partitionBy("source").orderBy(
        F.col("key").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "doc_id", "n_chars", key.alias("key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _WS_K)
        .select("source", "rank", "doc_id", "n_chars", "key")
        .orderBy("source", "rank")
    )


def _oracle_weighted_sample() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    u = f"(({hash64_sql('doc_id::VARCHAR', seed='wsample')} + 1) / {_U_DENOM!r})"
    return f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(-ln({u}) / n_chars, 9) AS key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_chars, key,
         row_number() OVER (PARTITION BY source
             ORDER BY key ASC, doc_id ASC) AS rank
  FROM keyed
)
SELECT source, rank, doc_id, n_chars, key
FROM ranked WHERE rank <= {_WS_K}
ORDER BY source, rank
"""


ORACLE_WEIGHTED_SAMPLE = _oracle_weighted_sample()

# --------------------------------------------------------------------------
# user_trend: per-user OLS trend of purchase value over time (slope /
# intercept / R²) from INTEGER sufficient statistics — the grouped
# regression every feature pipeline computes, in ONE map-combinable
# hash aggregation.
#
# Determinism contract (the mulens/ssoft pattern): day index and
# value×100 are exact int64, so the five sufficient sums (n, Σt, Σv,
# Σtv, Σt², Σv²) are exact integers whatever the aggregation order; the
# closed-form slope/intercept/R² algebra then runs on exactly-
# representable doubles — bit-identical in both engines. int64 products
# stay within bounds because the final ratios are computed in doubles
# (den × Svv would overflow int64 at sf0.1 — checked).
# --------------------------------------------------------------------------


def q_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    t = ((F.col("ts_us") - (F.col("ts_us") % F.lit(DAY_US))) / F.lit(
        DAY_US
    )).cast("long")
    v2 = F.round(F.col("value") * 100).cast("long")
    s = (
        ev.select("user_id", t.alias("t"), v2.alias("v"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("t").alias("st"),
            F.sum("v").alias("sv"),
            F.sum(F.col("t") * F.col("v")).alias("stv"),
            F.sum(F.col("t") * F.col("t")).alias("stt"),
            F.sum(F.col("v") * F.col("v")).alias("svv"),
        )
    )
    num = (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")).cast("double")
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    svar = (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
    slope = num / den / F.lit(100.0)
    intercept = (
        (F.col("sv").cast("double") / F.col("n")) / F.lit(100.0)
        - slope * (F.col("st").cast("double") / F.col("n"))
    )
    r2 = (num * num) / (den * svar)
    guard = (F.col("den") != 0) & (F.col("svar") != 0)
    return (
        s.withColumn("den", den)
        .withColumn("svar", svar)
        .select(
            "user_id",
            "n",
            F.when(guard, F.round(slope, 6)).alias("slope"),
            F.when(guard, F.round(intercept, 6)).alias("intercept"),
            F.when(guard, F.round(r2, 6)).alias("r2"),
        )
        .orderBy("user_id")
    )


ORACLE_USER_TREND = f"""
WITH e AS (
  SELECT user_id,
         (epoch_us(ts) - (epoch_us(ts) % {DAY_US})) / {DAY_US} AS t,
         round(value * 100)::BIGINT AS v
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, count(*)::BIGINT AS n,
         sum(t)::BIGINT AS st, sum(v)::BIGINT AS sv,
         sum(t * v)::BIGINT AS stv, sum(t * t)::BIGINT AS stt,
         sum(v * v)::BIGINT AS svv
  FROM e GROUP BY user_id
),
a AS (
  SELECT user_id, n,
         CAST(n * stv - st * sv AS DOUBLE) AS num,
         CAST(n * stt - st * st AS DOUBLE) AS den,
         CAST(n * svv - sv * sv AS DOUBLE) AS svar,
         CAST(sv AS DOUBLE) AS svd, CAST(st AS DOUBLE) AS std
  FROM s
)
SELECT user_id, n,
       CASE WHEN den != 0 AND svar != 0
            THEN round(num / den / 100.0, 6) END AS slope,
       CASE WHEN den != 0 AND svar != 0
            THEN round(svd / n / 100.0 - (num / den / 100.0) * (std / n), 6)
       END AS intercept,
       CASE WHEN den != 0 AND svar != 0
            THEN round((num * num) / (den * svar), 6) END AS r2
FROM a
ORDER BY user_id
"""

# --------------------------------------------------------------------------
# quantile_transform: map every lineitem price to its approximate
# per-group CDF position via the histogram summary — the rank/quantile
# normalization feature transform WITHOUT a per-group sort: percent_rank
# would shuffle and sort every row; here the histogram (groups × bins
# cumulative counts) broadcasts back onto a narrow second scan.
# --------------------------------------------------------------------------

_QT_BINS = 256


def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    # three passes read this subtree (bounds agg, histogram, final join);
    # the single-row-group test file scans as ~1 effective task, so fan
    # the narrow 4-column rows out once — the identical repartition
    # exchange is built once and reused by every branch (no-op at scale)
    li = _fan_out(spark, sf_dir, "lineitem", li, key="l_orderkey")
    v = F.col("l_extendedprice").cast("double")
    bounds = li.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(_QT_BINS - 1),
            F.floor(
                (v - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo"))
                * F.lit(float(_QT_BINS))
            ),
        )
    ).cast("long")
    with_bucket = li.join(F.broadcast(bounds)).withColumn("__bucket", bucket)
    hist = with_bucket.groupBy("l_returnflag", "__bucket").agg(
        F.count("*").alias("__c")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cdf_tab = hist.select(
        "l_returnflag",
        "__bucket",
        F.round(
            F.sum("__c").over(w_cum) / F.sum("__c").over(w_all), 6
        ).alias("cdf"),
    )
    return (
        with_bucket.join(F.broadcast(cdf_tab), ["l_returnflag", "__bucket"])
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            "cdf",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


ORACLE_QUANTILE_TRANSFORM = f"""
WITH bounds AS (
  SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
         max(CAST(l_extendedprice AS DOUBLE)) AS hi
  FROM lineitem
),
b AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
         CASE WHEN hi = lo THEN 0
              ELSE least({_QT_BINS - 1},
                         CAST(floor((CAST(l_extendedprice AS DOUBLE) - lo)
                                    / (hi - lo) * {float(_QT_BINS)!r}) AS BIGINT))
         END AS bucket
  FROM lineitem, bounds
),
hist AS (
  SELECT l_returnflag, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2
),
cdf_tab AS (
  SELECT l_returnflag, bucket,
         round(sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(c) OVER (PARTITION BY l_returnflag), 6) AS cdf
  FROM hist
)
SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.l_extendedprice, cdf
FROM b JOIN cdf_tab ON b.l_returnflag = cdf_tab.l_returnflag
                   AND b.bucket = cdf_tab.bucket
ORDER BY b.l_orderkey, b.l_linenumber
"""


# --------------------------------------------------------------------------
# hll_distinct_portable: HyperLogLog cardinality WITH an exact cross-
# engine oracle. Spark's approx_count_distinct is an engine-internal
# sketch (rows-only checkable: approx_distinct); this operator is the
# same mergeable-registers algorithm built from portable primitives so
# DuckDB reproduces the ESTIMATE bit-for-bit:
#   - register index / remainder from the md5-derived hash64
#   - rank (leading-zero count) via bit-smear + bit_count — pure integer
#     ops, no log2 (libm rounding differs across engines)
#   - the 2^-max(rho) register sum carried as an exact BIGINT in the
#     2^55-scaled integer domain (the dyadic-quantization contract)
#   - the final estimate uses only IEEE-exact multiply/divide, no libm
# Registers are max-mergeable => partial aggregation works map-side and
# across shards/streams, the property that matters at 100 TB.
# --------------------------------------------------------------------------

_HLL_P = 6                      # 64 registers
_HLL_M = 1 << _HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_WBITS = 60 - _HLL_P        # remainder bits in the 60-bit hash
_HLL_SCALE = _HLL_WBITS + 1     # max rho = wbits+1 (all-zero remainder)


def q_hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user, day) pairs per event type via portable HLL."""
    from fink_science_spark.functions.hashing import hash64

    ev = _events_us(spark, sf_dir)
    day_us = 24 * 3600 * 1_000_000
    # integer epoch-day: the engine's timezone-free time convention
    key = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.expr(f"ts_us DIV {day_us}").cast("string"),
    )
    h = hash64(key)
    w = F.shiftright(h, _HLL_P)
    # bit-smear: s = w | w>>1 | ... | w>>32  =>  bit_count(s) = bit_length(w)
    s = w
    for sh in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, sh))
    rho = F.lit(_HLL_WBITS + 1) - F.bit_count(s)
    regs = (
        ev.select(
            "event_type", F.pmod(h, F.lit(_HLL_M)).alias("reg"), rho.alias("rho")
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    per = regs.groupBy("event_type").agg(
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(_HLL_SCALE) - F.col("mj")).cast("int"),
            )
        ).alias("s_obs"),
        F.count("*").alias("n_obs"),
    )
    # registers never hit contribute 2^-0 = 1 (scaled: 2^SCALE each)
    s_total = F.col("s_obs") + (F.lit(_HLL_M) - F.col("n_obs")) * F.lit(
        1 << _HLL_SCALE
    )
    est = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)) / s_total
    )
    return per.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("n_obs")).cast("int").alias("zero_regs"),
        s_total.cast("long").alias("reg_sum_scaled"),
        F.round(est, 2).alias("hll_estimate"),
    )


def _oracle_hll_distinct_portable() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    day_us = 24 * 3600 * 1_000_000
    h = hash64_sql(f"user_id::VARCHAR || ':' || (ts_us // {day_us})::VARCHAR")
    smear = "w"
    for sh in (1, 2, 4, 8, 16, 32):
        smear = f"({smear} | ({smear} >> {sh}))"
    return f"""
WITH ev AS (SELECT event_type, user_id, epoch_us(ts) AS ts_us FROM events),
hx AS (SELECT event_type, {h} AS h FROM ev),
wr AS (
  SELECT event_type, h % {_HLL_M} AS reg, h >> {_HLL_P} AS w FROM hx
),
rho AS (
  SELECT event_type, reg,
         {_HLL_WBITS + 1} - bit_count({smear})::INT AS rho
  FROM wr
),
regs AS (
  SELECT event_type, reg, max(rho) AS mj FROM rho GROUP BY event_type, reg
),
per AS (
  SELECT event_type,
         sum((1::BIGINT << ({_HLL_SCALE} - mj)))::BIGINT AS s_obs,
         count(*) AS n_obs
  FROM regs GROUP BY event_type
)
SELECT event_type,
       ({_HLL_M} - n_obs)::INT AS zero_regs,
       (s_obs + ({_HLL_M} - n_obs) * (1::BIGINT << {_HLL_SCALE}))::BIGINT
           AS reg_sum_scaled,
       round({_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)!r}
             / (s_obs + ({_HLL_M} - n_obs) * (1::BIGINT << {_HLL_SCALE})), 2)
           AS hll_estimate
FROM per
"""


# --------------------------------------------------------------------------
# funnel_steps: multi-step conversion funnel (view → click → purchase,
# strictly increasing timestamps) — the product-analytics staple
# (ClickHouse windowFunnel / Amplitude funnels). Earliest-chain greedy
# semantics: a step-k event qualifies iff some qualified step-(k-1)
# event happened STRICTLY earlier; per-user chains never leave their
# window partition.
#
# Scale shape: ONE shuffle (events hash-partitioned by user_id); all
# three step qualifications are chained running-mins over the same
# window spec, so Catalyst plans a single sort + single exchange; the
# output is a 3-row summary from one map-combinable distinct-count agg.
# Determinism: window order is (ts_us, event_id) — a total order; rates
# are floor-quantized from exact int64 counts.
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    s1, s2, s3 = _FUNNEL_STEPS
    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "event_type", "ts_us")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t1p = F.min(F.when(F.col("event_type") == s1, F.col("ts_us"))).over(w)
    step2 = ev.withColumn(
        "q2_ts",
        F.when(
            (F.col("event_type") == s2) & (t1p < F.col("ts_us")), F.col("ts_us")
        ),
    )
    t2p = F.min("q2_ts").over(w)
    step3 = step2.withColumn(
        "q3",
        (F.col("event_type") == s3) & (t2p < F.col("ts_us")),
    )
    # per-user step flags first: the groupBy reuses the window's
    # user_id hash partitioning (no new exchange, no 3-way Expand from a
    # multi-countDistinct); the global agg then sums |users| tiny rows.
    per_user = step3.groupBy("user_id").agg(
        F.max(F.col("event_type") == s1).alias("r1"),
        F.max(F.col("q2_ts").isNotNull()).alias("r2"),
        F.max(F.col("q3")).alias("r3"),
    )
    # coalesce: sum over ZERO rows is NULL in Spark but the oracle's
    # count over empty input is 0 — and 0/0 is NaN in Spark vs NULL in
    # DuckDB, so the rate is explicitly NULL-gated on u1 > 0
    agg = per_user.agg(
        F.coalesce(F.sum(F.col("r1").cast("long")), F.lit(0)).alias("u1"),
        F.coalesce(F.sum(F.col("r2").cast("long")), F.lit(0)).alias("u2"),
        F.coalesce(F.sum(F.col("r3").cast("long")), F.lit(0)).alias("u3"),
    )

    def rate(u: str) -> F.Column:
        return F.when(
            F.col("u1") > 0,
            F.floor(
                F.col(u).cast("double") / F.col("u1").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )

    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit(s1).alias("event_type"),
                    F.col("u1").alias("users"),
                    rate("u1").alias("conv_rate"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit(s2).alias("event_type"),
                    F.col("u2").alias("users"),
                    rate("u2").alias("conv_rate"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit(s3).alias("event_type"),
                    F.col("u3").alias("users"),
                    rate("u3").alias("conv_rate"),
                ),
            )
        ).alias("r")
    ).select("r.step", "r.event_type", "r.users", "r.conv_rate")


ORACLE_FUNNEL_STEPS = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s2 AS (
  SELECT *,
         CASE WHEN event_type = '{_FUNNEL_STEPS[1]}'
                   AND min(CASE WHEN event_type = '{_FUNNEL_STEPS[0]}'
                                THEN ts_us END)
                       OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       < ts_us
              THEN ts_us END AS q2_ts
  FROM ev
),
s3 AS (
  SELECT *,
         (event_type = '{_FUNNEL_STEPS[2]}'
          AND min(q2_ts)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              < ts_us) AS q3
  FROM s2
),
agg AS (
  SELECT count(DISTINCT CASE WHEN event_type = '{_FUNNEL_STEPS[0]}'
                             THEN user_id END)::BIGINT AS u1,
         count(DISTINCT CASE WHEN q2_ts IS NOT NULL
                             THEN user_id END)::BIGINT AS u2,
         count(DISTINCT CASE WHEN q3 THEN user_id END)::BIGINT AS u3
  FROM s3
)
SELECT u.step, u.event_type, u.users,
       CASE WHEN a.u1 > 0
            THEN floor(CAST(u.users AS DOUBLE) / CAST(a.u1 AS DOUBLE)
                       * 1e6 + 0.5) / 1e6
       END AS conv_rate
FROM agg a,
     LATERAL (VALUES (1, '{_FUNNEL_STEPS[0]}', a.u1),
                     (2, '{_FUNNEL_STEPS[1]}', a.u2),
                     (3, '{_FUNNEL_STEPS[2]}', a.u3))
       AS u(step, event_type, users)
ORDER BY u.step
"""


# --------------------------------------------------------------------------
# retention_cohorts: weekly cohort retention matrix — users grouped by
# the ISO week of their FIRST event; each later week's active share of
# that cohort. Week starts are computed in pure integer day arithmetic
# (epoch day 0 = Thursday ⇒ Monday-start via (day+3) mod 7), so no
# engine week-mode/timezone surface exists at all.
#
# Scale shape: events shuffle ONCE by user_id (first-event agg); the
# join back reuses that partitioning; the per-(cohort, week, user)
# dedup agg is map-combinable; cohort sizes are a |users|-row aggregate
# broadcast back onto the |cohorts × weeks| matrix. Rates are
# floor-quantized from exact int64 counts.
# --------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    day = F.floor(F.col("ts_us") / F.lit(DAY_US))
    week = (day - F.pmod(day + F.lit(3), F.lit(7))).alias("week_day")
    evw = ev.select("user_id", week)
    firsts = evw.groupBy("user_id").agg(F.min("week_day").alias("cohort_day"))
    active = (
        evw.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            ((F.col("week_day") - F.col("cohort_day")) / F.lit(7))
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    sizes = firsts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    rate = F.floor(
        F.col("active_users").cast("double")
        / F.col("cohort_size").cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        active.join(F.broadcast(sizes), "cohort_day")
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("cohort_day").cast("int")).alias(
                "cohort_week"
            ),
            "week_offset",
            "active_users",
            "cohort_size",
            rate.alias("retention_rate"),
        )
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_RETENTION_COHORTS = f"""
WITH evw AS (
  SELECT user_id,
         d - ((d + 3) % 7) AS week_day
  FROM (SELECT user_id,
               CAST(floor(epoch_us(ts) / {DAY_US}) AS BIGINT) AS d
        FROM events)
),
firsts AS (
  SELECT user_id, min(week_day) AS cohort_day FROM evw GROUP BY user_id
),
active AS (
  SELECT cohort_day, week_offset, count(*)::BIGINT AS active_users
  FROM (
    SELECT DISTINCT e.user_id, f.cohort_day,
           CAST((e.week_day - f.cohort_day) / 7 AS BIGINT) AS week_offset
    FROM evw e JOIN firsts f USING (user_id)
  ) GROUP BY cohort_day, week_offset
),
sizes AS (
  SELECT cohort_day, count(*)::BIGINT AS cohort_size FROM firsts
  GROUP BY cohort_day
)
SELECT DATE '1970-01-01' + CAST(a.cohort_day AS INT) AS cohort_week,
       a.week_offset, a.active_users, s.cohort_size,
       floor(CAST(a.active_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS retention_rate
FROM active a JOIN sizes s USING (cohort_day)
ORDER BY cohort_week, week_offset
"""


# --------------------------------------------------------------------------
# rolling_range_window: time-INTERVAL window frame (RANGE BETWEEN 7 DAYS
# PRECEDING AND CURRENT ROW) — the rolling-metric surface rows-based
# frames (trailing_mean) can't express when events are irregularly
# spaced. One shuffle (user_id window hash); values are dyadically
# quantized (2^-20) BEFORE the frame sum so the moving aggregate is an
# exact int64 total under any add/evict order in either engine.
# --------------------------------------------------------------------------

_RRW_DAYS = 7
_RRW_Q = float(1 << 20)


def q_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "value")
    vq = F.floor(F.col("value") * F.lit(_RRW_Q) + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_RRW_DAYS * DAY_US, 0)
    )
    base = ev.select("event_id", "user_id", "ts_us", vq.alias("__vq"))
    roll_sum = F.sum("__vq").over(w)
    roll_n = F.count(F.lit(1)).over(w)
    out_sum = F.floor(
        roll_sum.cast("double") / F.lit(_RRW_Q) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    out_avg = F.floor(
        roll_sum.cast("double") / roll_n.cast("double") / F.lit(_RRW_Q) * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return base.select(
        "event_id",
        "user_id",
        out_sum.alias("sum_7d"),
        roll_n.alias("n_7d"),
        out_avg.alias("avg_7d"),
    ).orderBy("event_id")


ORACLE_ROLLING_RANGE_WINDOW = f"""
WITH b AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * {_RRW_Q!r} + 0.5) AS BIGINT) AS vq
  FROM events
),
r AS (
  SELECT event_id, user_id,
         sum(vq) OVER w AS roll_sum,
         count(*) OVER w AS roll_n
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN {_RRW_DAYS * DAY_US} PRECEDING
                         AND CURRENT ROW)
)
SELECT event_id, user_id,
       floor(CAST(roll_sum AS DOUBLE) / {_RRW_Q!r} * 1e6 + 0.5) / 1e6 AS sum_7d,
       roll_n::BIGINT AS n_7d,
       floor(CAST(roll_sum AS DOUBLE) / CAST(roll_n AS DOUBLE) / {_RRW_Q!r}
             * 1e6 + 0.5) / 1e6 AS avg_7d
FROM r
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# table_profile: per-column data-quality profile (null count, exact
# distinct count, min/max as strings) — the data-card / catalog-page
# staple, computed in ONE scan of the fact table.
#
# Scale shape: nulls/min/max are plain map-combinable aggregates; the
# exact multi-column distinct uses Spark's single Expand (k× the row
# flow for k profiled columns). At 100 TB swap the exact distincts for
# the HLL register sketch already in the registry
# (hll_distinct_portable / approx_distinct) — the profile schema and
# the rest of the pass are unchanged; exact is kept here because the
# oracle is exact.
# --------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # one pruned single-column scan per profiled column, unioned — the
    # columnar-native shape: each branch reads ONE parquet column and
    # its single countDistinct plans as a two-phase partial-distinct
    # aggregate (no Expand). The all-in-one-agg alternative Expands the
    # full row flow k-fold (measured ~8x slower) and drags every
    # profiled column through every branch at 100 TB.
    profiles = []
    for c in _PROFILE_COLS:
        profiles.append(
            li.select(F.col(c)).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(F.col(c).cast("string")).alias("min_val"),
                F.max(F.col(c).cast("string")).alias("max_val"),
            )
        )
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionAll(p)
    return out.orderBy("col_name")


def _oracle_table_profile() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,\n"
            f"       count(*) FILTER ({c} IS NULL)::BIGINT AS n_nulls,\n"
            f"       count(DISTINCT {c})::BIGINT AS n_distinct,\n"
            f"       min({c}::VARCHAR) AS min_val, max({c}::VARCHAR) AS max_val\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


# --------------------------------------------------------------------------
# event_transitions: first-order Markov transition matrix over the
# per-user event sequence — (current type → next type) counts and
# row-normalized probabilities. One shuffle (user_id window for lead),
# then a vocabulary-sized count agg; probabilities floor-quantized from
# exact int64 counts. Window order (ts_us, event_id) is a total order.
# --------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select("user_id", "event_id", "event_type", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = pairs.groupBy("event_type").agg(F.sum("c").alias("__t"))
    prob = F.floor(
        F.col("c").cast("double") / F.col("__t").cast("double") * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        pairs.join(F.broadcast(tot), "event_type")
        .select("event_type", "next_type", "c", prob.alias("p"))
        .orderBy("event_type", "next_type")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type, next_type, count(*)::BIGINT AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (SELECT event_type, sum(c)::BIGINT AS t FROM pairs GROUP BY event_type)
SELECT p.event_type, p.next_type, p.c,
       floor(CAST(p.c AS DOUBLE) / CAST(t.t AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p
FROM pairs p JOIN tot t USING (event_type)
ORDER BY p.event_type, p.next_type
"""


# --------------------------------------------------------------------------
# contingency_chi2: lang × source contingency table + Pearson chi-square
# independence statistic. Observed counts are one map-combinable agg;
# expected = row_tot · col_tot / N is computed in doubles (the margins
# are cast BEFORE the product — rt·ct reaches N², past int64 at ~3e9
# rows; identical IEEE ops in both engines); each cell's (O−E)²/E term is
# floor-quantized to 2^-20 before the final sum, so the statistic is an
# exact dyadic total in either engine. Margins join back as broadcasts
# (vocabulary-sized).
# --------------------------------------------------------------------------

_CHI2_Q = float(1 << 20)


def q_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    row_tot = obs.groupBy("lang").agg(F.sum("o").alias("__rt"))
    col_tot = obs.groupBy("source").agg(F.sum("o").alias("__ct"))
    n_tot = obs.agg(F.sum("o").alias("__n"))
    # cast each margin to double BEFORE the product: rt·ct reaches N² —
    # an int64 multiply would wrap silently (Spark) or error (DuckDB)
    # past ~3e9 rows; the double product is the same IEEE op in both
    # engines at every scale
    e = (
        F.col("__rt").cast("double") * F.col("__ct").cast("double")
    ) / F.col("__n").cast("double")
    term_q = F.floor(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
        * F.lit(_CHI2_Q)
        + F.lit(0.5)
    ).cast("long")
    cells = (
        obs.join(F.broadcast(row_tot), "lang")
        .join(F.broadcast(col_tot), "source")
        .join(F.broadcast(n_tot))
        .select("lang", "source", "o", term_q.alias("__tq"))
    )
    chi2 = F.floor(
        F.sum("__tq").cast("double") / F.lit(_CHI2_Q) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("o").alias("n_docs"),
        chi2.alias("chi2"),
    )


ORACLE_CONTINGENCY_CHI2 = f"""
WITH obs AS (
  SELECT lang, source, count(*)::BIGINT AS o FROM documents
  GROUP BY lang, source
),
rt AS (SELECT lang, sum(o)::BIGINT AS rt FROM obs GROUP BY lang),
ct AS (SELECT source, sum(o)::BIGINT AS ct FROM obs GROUP BY source),
n AS (SELECT sum(o)::BIGINT AS n FROM obs),
cells AS (
  SELECT obs.o,
         CAST(floor((CAST(obs.o AS DOUBLE)
                     - (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(n.n AS DOUBLE))
                    * (CAST(obs.o AS DOUBLE)
                       - (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(n.n AS DOUBLE))
                    / ((CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)) / CAST(n.n AS DOUBLE))
                    * {_CHI2_Q!r} + 0.5) AS BIGINT) AS tq
  FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
)
SELECT count(*)::BIGINT AS n_cells, sum(o)::BIGINT AS n_docs,
       floor(CAST(sum(tq) AS DOUBLE) / {_CHI2_Q!r} * 1e6 + 0.5) / 1e6 AS chi2
FROM cells
"""


# --------------------------------------------------------------------------
# triangle_count: triangles in the near-duplicate similarity graph (the
# standard cluster-density / transitivity check on a dedup pass). Edges
# are the MinHash-LSH verified pairs (a < b, already distinct); the
# count is the canonical two-join oriented enumeration a<b<c — each
# triangle counted exactly once, no orientation dedup needed.
#
# Scale shape: both joins are equi-joins on vertex keys; the edge list
# is pairs-sized (≪ corpus). A hub-degree cap (_TRI_MAX_DEGREE, the
# graph analogue of max_doc_freq) drops edges incident to vertices
# above the cap BEFORE enumeration, bounding the e1⋈e2 fan-out at
# O(cap · |edges|) under any skew — one shared-boilerplate template
# matched by d docs would otherwise create O(d²) intermediate rows.
# Applied identically in the oracle; at the test SFs no vertex reaches
# the cap, so the guard is exercised structurally without changing the
# answer. Transitivity = 3·triangles / open wedges from exact counts.
# --------------------------------------------------------------------------

_TRI_MAX_DEGREE = 64


def triangle_stats(raw: DataFrame, max_degree: int = _TRI_MAX_DEGREE) -> DataFrame:
    """Capped triangle/wedge counts over an (id_a < id_b) edge list —
    edges incident to vertices with degree > ``max_degree`` are dropped
    before enumeration (the hub guard; see the block comment above)."""
    # eager localCheckpoint, not persist(): the edge list is consumed by
    # FIVE downstream legs (degree pass, e1/e2/e3, capped degrees) and a
    # lazily-persisted upstream (here: the whole LSH pipeline) races its
    # own materialization across those legs — measured 3.8-8.8 s vs 1.6 s
    # at sf0.1. The checkpoint also cuts the lineage, so repeated calls
    # don't stack cache entries ("already cached" warnings in bench).
    # Post-LSH edge lists are tiny relative to the corpus, so the
    # materialization is cheap at any scale (same policy as graph.py's
    # contraction rounds).
    raw = raw.localCheckpoint(eager=True)
    full_deg = (
        raw.select(F.col("id_a").alias("v"))
        .unionAll(raw.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hubs = full_deg.filter(F.col("d") > max_degree).select("v")
    edges = (
        raw.join(F.broadcast(hubs), raw.id_a == hubs.v, "left_anti")
        .join(F.broadcast(hubs), raw.id_b == hubs.v, "left_anti")
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # open wedges centered at each vertex: C(deg, 2) over capped degrees
    deg = (
        edges.select(F.col("id_a").alias("v"))
        .unionAll(edges.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedge_tot = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wedges")
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("triangles"))
        .join(wedge_tot)
        .select("triangles", "wedges")
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.dedup import minhash_lsh_pairs

    raw = minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        "shingles",
        jaccard_threshold=0.5,
        shingles_col="shingles",
    ).select("id_a", "id_b")
    return triangle_stats(raw)


def _oracle_triangle_count() -> str:
    return f"""
WITH raw_edges AS (SELECT id_a, id_b FROM ({ORACLE_DEDUP_MINHASH_LSH}) __mh),
full_deg AS (
  SELECT v, count(*)::BIGINT AS d FROM (
    SELECT id_a AS v FROM raw_edges UNION ALL SELECT id_b AS v FROM raw_edges
  ) GROUP BY v
),
hubs AS (SELECT v FROM full_deg WHERE d > {_TRI_MAX_DEGREE}),
edges AS (
  SELECT id_a, id_b FROM raw_edges
  WHERE id_a NOT IN (SELECT v FROM hubs)
    AND id_b NOT IN (SELECT v FROM hubs)
),
tri AS (
  SELECT count(*)::BIGINT AS triangles
  FROM edges e1
  JOIN edges e2 ON e1.id_b = e2.id_a
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
deg AS (
  SELECT v, count(*)::BIGINT AS d FROM (
    SELECT id_a AS v FROM edges UNION ALL SELECT id_b AS v FROM edges
  ) GROUP BY v
),
w AS (SELECT sum(d * (d - 1) / 2)::BIGINT AS wedges FROM deg)
SELECT tri.triangles, w.wedges FROM tri, w
"""


# --------------------------------------------------------------------------
# sessions_native: gaps-and-islands sessionization in pure window
# functions — the SCALE-PATH twin of udtf_sessions (same answer, same
# oracle): lag() flags gap breaks, a running sum numbers the islands,
# one groupBy collapses them. Two chained ops on ONE user_id window
# partitioning + a groupBy that reuses it ⇒ a single shuffle, all
# codegen, no Python — versus the UDTF's per-row Python eval. This pair
# is the engine's standing demo that the UDTF surface exists AND that
# hot paths get the native form.
# --------------------------------------------------------------------------


def q_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    brk = F.when(
        F.col("ts_us") - F.lag("ts_us").over(w) > _SESS_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sid = (F.lit(1) + F.sum(brk).over(wrun)).cast("int")
    return (
        ev.select("user_id", "ts_us", sid.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )


# --------------------------------------------------------------------------
# cusum_changepoints: CUSUM drift detection over each user's event
# value series — the classic sequential change detector, made
# window-native via the prefix-sum identity
#   S_i = max(0, S_{i-1} + d_i)  ==  P_i − min_{j ≤ i} P_j
# (P = running sum of deviations d), so the recursive max becomes a
# cumsum plus a running min: two chained frames on ONE user_id window
# partitioning, no iteration, no Python. Deviations are dyadically
# quantized int64 (exact under any partial-sum order); the drift flag
# fires when the statistic exceeds h·σ-equivalents in quantized units.
# --------------------------------------------------------------------------

_CUSUM_Q = 1 << 20
_CUSUM_K_NUM = 1  # slack k = 0.5 (K_NUM/K_DEN) in value units
_CUSUM_K_DEN = 2
_CUSUM_H = 5.0  # alarm threshold in value units


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "value")
    vq = F.floor(F.col("value") * F.lit(float(_CUSUM_Q)) + F.lit(0.5)).cast("long")
    # per-user mean of the quantized series as the reference level,
    # floor-divided exactly (integer mu so d_i stays exact int64)
    wu = Window.partitionBy("user_id")
    mu = F.floor(F.sum(vq).over(wu) / F.count(F.lit(1)).over(wu)).cast("long")
    k = F.lit(_CUSUM_K_NUM * _CUSUM_Q // _CUSUM_K_DEN).cast("long")
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = wo.rowsBetween(Window.unboundedPreceding, 0)
    # two projection levels: p is a window result, so its running min is
    # a second Window pass on the SAME partitioning (one shuffle total)
    with_p = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.sum(vq - mu - k).over(wrun).alias("__p"),
    )
    # S_i = max(0, S_{i-1}+d_i) == P_i − min(0, min_{j≤i} P_j): the
    # least(…, 0) seeds the running min with the empty prefix
    stat = F.col("__p") - F.least(
        F.min("__p").over(wrun), F.lit(0).cast("long")
    )
    h = F.lit(int(_CUSUM_H * _CUSUM_Q)).cast("long")
    out_stat = F.floor(
        stat.cast("double") / F.lit(float(_CUSUM_Q)) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return with_p.select(
        "event_id",
        "user_id",
        out_stat.alias("cusum"),
        (stat > h).alias("drift_flag"),
    ).orderBy("event_id")


ORACLE_CUSUM_CHANGEPOINTS = f"""
WITH b AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * {float(_CUSUM_Q)!r} + 0.5) AS BIGINT) AS vq
  FROM events
),
m AS (
  SELECT *,
         CAST(floor(CAST(sum(vq) OVER (PARTITION BY user_id) AS DOUBLE)
                    / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE))
              AS BIGINT) AS mu
  FROM b
),
d AS (
  SELECT event_id, user_id, ts_us,
         vq - mu - {_CUSUM_K_NUM * _CUSUM_Q // _CUSUM_K_DEN} AS dd
  FROM m
),
pp AS (
  SELECT event_id, user_id, ts_us,
         sum(dd) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM d
),
r AS (
  SELECT event_id, user_id, p,
         least(min(p) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW), 0) AS pmin
  FROM pp
)
SELECT event_id, user_id,
       floor(CAST(p - pmin AS DOUBLE) / {float(_CUSUM_Q)!r} * 1e6 + 0.5) / 1e6
         AS cusum,
       (p - pmin) > {int(_CUSUM_H * _CUSUM_Q)} AS drift_flag
FROM r
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# interval_overlap_join: which user sessions intersect the weekly
# maintenance windows (Sundays 00:00-06:00 UTC, derived from the data's
# own date range) and by how much — the batch interval-join staple
# (blackout-impact audit, calendar conflicts, genomics ranges).
#
# Scale shape: the window list is tiny and BROADCAST — the session side
# streams through a BroadcastNestedLoopJoin with the overlap predicate
# (s ≤ we ∧ ws ≤ e); no shuffle of the big side beyond the one the
# sessionization already pays. A self-overlap formulation must bucket
# by time cell instead (the sky-grid pattern) — rejected here because
# month-long sessions make every pair overlap: output itself would be
# quadratic, which no plan fixes. Day arithmetic is pure integer
# (epoch day 0 = Thursday ⇒ Sunday = day mod 7 == 3).
# --------------------------------------------------------------------------

_IOJ_WINDOW_US = 6 * 3_600_000_000  # maintenance window length: 6 h


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = q_sessions_native(spark, sf_dir).select(
        "user_id", "session_id", "start_us", "end_us"
    )

    ev = _events_us(spark, sf_dir)
    bounds = ev.agg(
        F.floor(F.min("ts_us") / F.lit(DAY_US)).alias("__d0"),
        F.floor(F.max("ts_us") / F.lit(DAY_US)).alias("__d1"),
    )
    windows = (
        bounds.select(
            F.explode(F.sequence(F.col("__d0"), F.col("__d1"))).alias("day")
        )
        .filter(F.pmod("day", F.lit(7)) == 3)  # Sundays
        .select(
            "day",
            (F.col("day") * F.lit(DAY_US)).alias("ws"),
            (F.col("day") * F.lit(DAY_US) + F.lit(_IOJ_WINDOW_US)).alias(
                "we"
            ),
        )
    )
    hit = iv.join(
        F.broadcast(windows),
        (F.col("start_us") <= F.col("we")) & (F.col("ws") <= F.col("end_us")),
    )
    overlap = F.least(F.col("end_us"), F.col("we")) - F.greatest(
        F.col("start_us"), F.col("ws")
    )
    return hit.select(
        "user_id",
        "session_id",
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("day").cast("int")).alias(
            "window_day"
        ),
        overlap.alias("overlap_us"),
    ).orderBy("user_id", "session_id", "window_day")


def _oracle_interval_overlap_join() -> str:
    return f"""
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
),
iv AS (
  SELECT user_id, CAST(session_id AS INT) AS session_id,
         min(ts_us) AS start_us, max(ts_us) AS end_us
  FROM g GROUP BY user_id, session_id
),
bounds AS (
  SELECT CAST(floor(min(ts_us) / {DAY_US}) AS BIGINT) AS d0,
         CAST(floor(max(ts_us) / {DAY_US}) AS BIGINT) AS d1
  FROM ev
),
win AS (
  SELECT day, day * {DAY_US} AS ws,
         day * {DAY_US} + {_IOJ_WINDOW_US} AS we
  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds)
  WHERE day % 7 = 3
)
SELECT iv.user_id, iv.session_id,
       DATE '1970-01-01' + CAST(win.day AS INT) AS window_day,
       least(iv.end_us, win.we) - greatest(iv.start_us, win.ws) AS overlap_us
FROM iv JOIN win ON iv.start_us <= win.we AND win.ws <= iv.end_us
ORDER BY iv.user_id, iv.session_id, window_day
"""


# --------------------------------------------------------------------------
# part_affinity: market-basket analysis over order baskets — for every
# ordered pair of brands co-purchased in one order, the support /
# confidence / lift triple (the association-rule staple, Agrawal &
# Srikant shape). TPC-H has no reference twin; this is the §2.4
# "group-to-arrays" machinery pointed at a co-occurrence problem.
#
# Scale shape: the brand dimension joins BROADCAST (25 keys); basket
# rows reduce to distinct (order, brand) with a map-combinable partial;
# pair expansion happens INSIDE the per-order array (sort_array over a
# collect_set of ≤ brand-count elements, then a nested-transform C(k,2)
# expansion) — ONE shuffle on orderkey, no self-join, fanout bounded by
# C(brands_per_order, 2). The marginals table is brand-sized and joins
# broadcast. Output is ≤ C(25,2) rows at any SF.
# --------------------------------------------------------------------------


def q_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # collect_set dedups per order, so no pre-distinct shuffle; the
    # explicit repartition BY THE AGG KEY moves the narrow (orderkey,
    # partkey) rows once and lets the object-hash aggregation run at
    # full core width instead of at the scan's file-partition count
    # (local[32] reads this file as 3 splits; measured 1.14→0.57 s at
    # sf0.1 — at cluster scale the scan is already wide and the
    # co-partitioning makes the groupBy exchange-free).
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sets = (
        li.repartition(shuffle_n, "l_orderkey")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # sets feeds pairs, marginals, and the total; the three consumers
    # share the repartition exchange (measured: recompute beats a
    # localCheckpoint here — the basket table is cheap to rebuild from
    # the shuffled narrow rows and checkpoint I/O costs more).
    baskets = sets.select(
        "l_orderkey", F.explode("bs").alias("p_brand")
    )
    # C(k,2) expansion inside the row: for element i, pair with every
    # later element — no self-join, no second shuffle.
    pair_col = F.flatten(
        F.transform(
            "bs",
            lambda x, i: F.transform(
                F.slice("bs", i + F.lit(2), F.size("bs")),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_col).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    marg = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("brand_orders"))
    total = sets.agg(F.count(F.lit(1)).alias("n_orders"))
    out = (
        pairs.join(
            F.broadcast(marg.withColumnsRenamed({"p_brand": "brand_a", "brand_orders": "ca"})),
            "brand_a",
        )
        .join(
            F.broadcast(marg.withColumnsRenamed({"p_brand": "brand_b", "brand_orders": "cb"})),
            "brand_b",
        )
        .crossJoin(F.broadcast(total))
    )
    n = F.col("n_orders").cast("double")
    pair_d = F.col("pair_orders").cast("double")
    return out.select(
        "brand_a",
        "brand_b",
        "pair_orders",
        halfup6(pair_d / n).alias("support"),
        halfup6(pair_d / F.col("ca").cast("double")).alias("confidence"),
        halfup6(
            pair_d * n / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        ).alias("lift"),
    ).orderBy("brand_a", "brand_b")


ORACLE_PART_AFFINITY = """
WITH b AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
m AS (SELECT p_brand, count(*) AS brand_orders FROM b GROUP BY 1),
p AS (
  SELECT a.p_brand AS brand_a, c.p_brand AS brand_b, count(*) AS pair_orders
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, pair_orders,
       floor(pair_orders / CAST(n_orders AS DOUBLE) * 1e6 + 0.5) / 1e6 AS support,
       floor(pair_orders / CAST(ma.brand_orders AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS confidence,
       floor(pair_orders * CAST(n_orders AS DOUBLE)
             / (CAST(ma.brand_orders AS DOUBLE) * CAST(mb.brand_orders AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS lift
FROM p
JOIN m ma ON p.brand_a = ma.p_brand
JOIN m mb ON p.brand_b = mb.p_brand
CROSS JOIN tot
ORDER BY brand_a, brand_b
"""

# --------------------------------------------------------------------------
# sliding_distinct_users: trailing-7-day distinct active users per day —
# the DAU/WAU-style rolling reach metric. COUNT(DISTINCT) over a
# sliding window has no window-function form in either engine; the
# scalable identity is: a user active on day d contributes to targets
# d..d+6, so explode each distinct (user, day) into ≤ 7 (user, target)
# rows and de-duplicate again.
#
# Scale shape: distinct (user, day) is a map-combinable partial (the
# 100 TB event volume collapses to |users|×|days| before any wide
# exchange); the 7× explode is bounded fanout, map-side; the second
# distinct + count is again partial-aggregated. No range self-join, no
# per-day rescans. The 100 TB approximate path swaps the exact distinct
# for the registered portable HLL sketch (hll_distinct_portable) merged
# over the same 7-day explode.
# --------------------------------------------------------------------------

_SDU_WINDOW = 7


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir)
    active = ev.select(
        "user_id", (F.col("ts_us") / F.lit(DAY_US)).cast("long").alias("day")
    ).distinct()
    bounds = active.agg(F.max("day").alias("dmax"))
    fan = (
        active.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(_SDU_WINDOW - 1))
            ).alias("t"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("t") <= F.col("dmax"))
        .select("user_id", "t")
        .distinct()
    )
    daily = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    weekly = fan.groupBy(F.col("t").alias("day")).agg(
        F.count(F.lit(1)).alias("wau_7d")
    )
    return (
        weekly.join(daily, "day", "left")
        .select("day", F.coalesce("dau", F.lit(0)).alias("dau"), "wau_7d")
        .orderBy("day")
    )


ORACLE_SLIDING_DISTINCT_USERS = f"""
WITH a AS (
  SELECT DISTINCT user_id, CAST(epoch_us(ts) // {DAY_US} AS BIGINT) AS day
  FROM events
),
bounds AS (SELECT max(day) AS dmax FROM a),
fan AS (
  SELECT DISTINCT user_id, t
  FROM a, bounds, unnest(generate_series(day, day + {_SDU_WINDOW - 1})) AS u(t)
  WHERE t <= dmax
),
daily AS (SELECT day, count(*) AS dau FROM a GROUP BY 1),
weekly AS (SELECT t AS day, count(*) AS wau_7d FROM fan GROUP BY 1)
SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau_7d
FROM weekly w LEFT JOIN daily d ON w.day = d.day
ORDER BY w.day
"""

# --------------------------------------------------------------------------
# last_touch_attribution: assign every purchase to the user's most
# recent preceding marketing touch (click/view) within a 3-day
# lookback, else the 'direct' channel; report per-channel conversions
# and attributed revenue. The standard marketing-attribution shape —
# an as-of lookup INSIDE one table, done as a running window carry
# instead of an as-of join.
#
# Scale shape: ONE shuffle (window partition by user), then a
# channel-cardinality aggregation with map-side partials. The carry is
# last(..., ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING —
# no join, no second pass. Revenue is quantized to 2^-14 lanes before
# the sum (exact, order-independent) and HALF_UP-rounded at output.
# --------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 3 * DAY_US
_ATTR_Q = float(1 << 14)
_ATTR_CHANNELS = ("click", "view")


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select(
        "user_id", "ts_us", "event_type", "value", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*_ATTR_CHANNELS)
    touched = ev.select(
        "*",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    )
    vq = F.floor(F.col("value") * F.lit(_ATTR_Q) + F.lit(0.5)).cast("long")
    purch = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts") >= F.col("ts_us") - F.lit(_ATTR_LOOKBACK_US),
            F.col("touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        vq.alias("vq"),
    )
    out_rev = F.floor(
        F.sum("vq").cast("double") / F.lit(_ATTR_Q) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        purch.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            out_rev.alias("revenue"),
        )
        .orderBy("channel")
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_type, value, event_id
  FROM events
),
t AS (
  SELECT *,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS) OVER w AS touch_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN ts_us END IGNORE NULLS) OVER w AS touch_ts
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
p AS (
  SELECT CASE WHEN touch_ts >= ts_us - {_ATTR_LOOKBACK_US}
              THEN touch_type ELSE 'direct' END AS channel,
         CAST(floor(value * {_ATTR_Q!r} + 0.5) AS BIGINT) AS vq
  FROM t
  WHERE event_type = 'purchase'
)
SELECT channel, count(*) AS conversions,
       floor(sum(vq) / {_ATTR_Q!r} * 1e6 + 0.5) / 1e6 AS revenue
FROM p
GROUP BY channel
ORDER BY channel
"""


# --------------------------------------------------------------------------
# ewma_user_value: per-user exponentially-weighted moving average of
# purchase values — the standard time-series smoother, in its
# bounded-lag form (K = 8 taps, weight 2^(K-1-k) for lag k). The
# infinite-memory recursion s_t = α·x_t + (1-α)·s_{t-1} is an
# order-dependent float chain no engine reproduces bit-for-bit; the
# K-tap truncation (weights decay 2× per lag, so the dropped tail is
# < 2^-8 of the total) makes every output an exact rational of int64
# sums — the engine-wide determinism contract.
#
# Scale shape: ONE shuffle (window partition by user); the K lag()
# columns share the single window spec; weighted sum and weight total
# are exact int64 (values quantized to 2^-14 lanes, weights powers of
# two), divided once at output.
# --------------------------------------------------------------------------

_EWMA_K = 8
_EWMA_Q = float(1 << 14)


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us", "value")
    )
    vq = F.floor(F.col("value") * F.lit(_EWMA_Q) + F.lit(0.5)).cast("long")
    base = ev.select("event_id", "user_id", "ts_us", vq.alias("vq"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k in range(_EWMA_K):
        wk = 1 << (_EWMA_K - 1 - k)
        lagged = F.col("vq") if k == 0 else F.lag("vq", k).over(w)
        num = num + F.coalesce(lagged * F.lit(wk), F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(wk)).otherwise(F.lit(0))
    ewma = F.floor(
        num.cast("double")
        / den.cast("double")
        / F.lit(_EWMA_Q)
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return base.select(
        "event_id", "user_id", ewma.alias("ewma")
    ).orderBy("event_id")


def _oracle_ewma() -> str:
    num_terms, den_terms = [], []
    for k in range(_EWMA_K):
        wk = 1 << (_EWMA_K - 1 - k)
        expr = "vq" if k == 0 else f"lag(vq, {k}) OVER w"
        num_terms.append(f"coalesce(({expr}) * {wk}, 0)")
        den_terms.append(f"CASE WHEN ({expr}) IS NOT NULL THEN {wk} ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * {_EWMA_Q!r} + 0.5) AS BIGINT) AS vq
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT event_id, user_id, ({num}) AS num, ({den}) AS den
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT event_id, user_id,
       floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / {_EWMA_Q!r}
             * 1e6 + 0.5) / 1e6 AS ewma
FROM s
ORDER BY event_id
"""


ORACLE_EWMA_USER_VALUE = _oracle_ewma()

# --------------------------------------------------------------------------
# robust_outliers: per-event-type robust outlier census via median/MAD
# (median absolute deviation) — the data-quality gate that survives the
# heavy tails that break mean/stddev z-scores. Flag = |x − med| >
# 3 × MAD.
#
# Scale shape: two grouped percentile aggregations (Spark's exact
# F.percentile ≡ DuckDB quantile_cont, both map-combinable in the
# OpenHashSet sense: percentile buffers merge associatively), with the
# 5-row med/MAD tables broadcast back; no row-level float sums anywhere
# (counts only), so there is nothing to quantize. The 100 TB path swaps
# exact percentile for the registered histogram sketch
# (sketch_quantiles) — same downstream algebra.
# --------------------------------------------------------------------------


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile("ad", F.lit(0.5)).alias("mad"),
    )
    flags = ev.join(F.broadcast(mad), "event_type")
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3.0) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, any_value(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
       round(any_value(d.med), 6) AS med,
       round(any_value(d.mad), 6) AS mad,
       sum(CASE WHEN abs(e.value - d.med) > 3.0 * d.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN mad d ON e.event_type = d.event_type
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# winsorized_stats: per-event-type stats after clipping to the exact
# [p05, p95] band — the standard tail-robust preprocessing twin of
# robust_outliers (clip instead of flag). Percentile cutpoints are
# exact (F.percentile ≡ quantile_cont, broadcast back, 5 rows); the
# clipped values are dyadically quantized BEFORE the mean's sum, so
# the aggregate is exact int64 (order-independent).
# --------------------------------------------------------------------------

_WZ_Q = float(1 << 14)


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select("event_type", "value")
    cuts = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "cv"
        ),
        (F.col("value") < F.col("lo")).cast("long").alias("is_lo"),
        (F.col("value") > F.col("hi")).cast("long").alias("is_hi"),
        "lo",
        "hi",
    )
    cq = F.floor(F.col("cv") * F.lit(_WZ_Q) + F.lit(0.5)).cast("long")
    mean_w = F.floor(
        F.sum(cq).cast("double")
        / F.count(F.lit(1)).cast("double")
        / F.lit(_WZ_Q)
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("lo"), 6).alias("p05"),
            F.round(F.first("hi"), 6).alias("p95"),
            mean_w.alias("winsorized_mean"),
            F.sum("is_lo").alias("n_clipped_lo"),
            F.sum("is_hi").alias("n_clipped_hi"),
        )
        .orderBy("event_type")
    )


ORACLE_WINSORIZED_STATS = f"""
WITH cuts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
),
c AS (
  SELECT e.event_type,
         CAST(floor(least(greatest(e.value, t.lo), t.hi) * {_WZ_Q!r} + 0.5)
              AS BIGINT) AS cq,
         CASE WHEN e.value < t.lo THEN 1 ELSE 0 END AS is_lo,
         CASE WHEN e.value > t.hi THEN 1 ELSE 0 END AS is_hi,
         t.lo, t.hi
  FROM events e JOIN cuts t ON e.event_type = t.event_type
)
SELECT event_type, count(*) AS n,
       round(any_value(lo), 6) AS p05,
       round(any_value(hi), 6) AS p95,
       floor(sum(cq) / CAST(count(*) AS DOUBLE) / {_WZ_Q!r} * 1e6 + 0.5) / 1e6
         AS winsorized_mean,
       sum(is_lo)::BIGINT AS n_clipped_lo,
       sum(is_hi)::BIGINT AS n_clipped_hi
FROM c
GROUP BY 1
ORDER BY 1
"""

# --------------------------------------------------------------------------
# session_paths: entry-path analysis — the first 5 event types of every
# session (1-day gap sessionization, same contract as sessions_native)
# concatenated into a path, with session counts per path. The classic
# product-analytics "how do users start" rollup.
#
# Scale shape: ONE user_id window shuffle derives session ids
# (gaps-and-islands) AND orders events within the session (row_number
# on the same window spec); the path build keeps only rank ≤ 5 rows —
# so the second (user, session) aggregation sees ≤ 5 rows per session.
# The final path rollup is a tiny distinct-path-sized agg. Ordering is
# total (ts_us, event_id) → deterministic paths on both engines.
# --------------------------------------------------------------------------

_SP_DEPTH = 5


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    brk = F.when(
        F.col("ts_us") - F.lag("ts_us").over(w) > _SESS_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    sid = F.sum(brk).over(wrun).cast("int")
    # rank within session via one more pass over the SAME window
    # partitioning: row_number over (user) minus the session's first
    # row_number would need a join; instead rank within (user, session)
    # directly — Spark plans both window specs on one user_id exchange.
    seq = ev.select(
        "user_id", "ts_us", "event_id", "event_type", sid.alias("session_id")
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    ranked = seq.select(
        "*", F.row_number().over(ws).alias("rk")
    ).filter(F.col("rk") <= _SP_DEPTH)
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )
    return paths


def _oracle_session_paths() -> str:
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
),
b AS (
  SELECT *,
         CASE WHEN ts_us - lag(ts_us) OVER w > {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM b
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts_us, event_id) AS rk
  FROM s
),
p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rk) AS path
  FROM r WHERE rk <= {_SP_DEPTH}
  GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 20
"""


ORACLE_SESSION_PATHS = _oracle_session_paths()


# --------------------------------------------------------------------------
# skyline_frontier: the SKYLINE / Pareto-dominance operator (Börzsönyi
# et al., ICDE 2001) over the part catalog — "no other part is both
# cheaper and larger". x dominates y iff x.price <= y.price AND
# x.size >= y.size with at least one strict; the frontier is the
# non-dominated set (duplicate (price, size) points all survive —
# neither strictly dominates its twin).
#
# Scale shape: the classic distributed skyline — each partition computes
# its LOCAL frontier with a fully vectorized kernel (sort by price,
# per-price-group max via maximum.reduceat, exclusive prefix max across
# groups), which is sound because a point dominated inside one partition
# is dominated globally. The global refine is UNCONDITIONAL (r3 verdict
# #2 — the old single-task union was degenerate on anti-correlated
# dimensions, where the frontier is O(n)): local-frontier points are
# range-bucketed on price into a dominance grid, the same kernel prunes
# each grid task (pruning any union of points is sound), and
# cross-bucket domination reduces — in 2-D, with equal prices confined
# to one bucket — to "size must beat the exclusive prefix max of
# strictly-cheaper buckets", a B-row broadcast. No task ever holds more
# than its grid cell; no shuffle touches the full table.
# --------------------------------------------------------------------------


def _skyline_kernel(batches):
    """Vectorized 2-D skyline (minimize price, maximize size) over Arrow
    batches: keep row iff size == max size at its price group AND size >
    max size over all strictly-cheaper groups."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            yield pdf
            continue
        price = pdf["price"].to_numpy(dtype=np.float64)
        size = pdf["size"].to_numpy(dtype=np.int64)
        order = np.argsort(price, kind="stable")
        p_s, s_s = price[order], size[order]
        uniq, inv = np.unique(p_s, return_inverse=True)
        starts = np.searchsorted(p_s, uniq)
        gmax = np.maximum.reduceat(s_s, starts)
        run = np.empty(len(uniq), dtype=np.int64)
        run[0] = np.iinfo(np.int64).min
        if len(uniq) > 1:
            np.maximum.accumulate(gmax[:-1], out=run[1:])
        keep_sorted = (s_s == gmax[inv]) & (s_s > run[inv])
        keep = np.zeros(len(pdf), dtype=bool)
        keep[order] = keep_sorted
        yield pdf[keep]


def _skyline_refine_whole_partition(batches):
    """Exact-refine wrapper: concatenate the partition's Arrow batches
    before pruning. The kernel is only complete over what it sees in one
    frame; feeding it batch-by-batch would miss dominated pairs that
    straddle a batch boundary inside the same price bucket."""
    import pandas as pd

    pdfs = [p for p in batches if len(p)]
    if pdfs:
        yield from _skyline_kernel([pd.concat(pdfs, ignore_index=True)])


# refine-task sizing: one grid cell per ~_SKY_TARGET_CELL local-frontier
# points (the kernel is vectorized numpy — 4k rows is sub-millisecond),
# capped at _SKY_MAX_BINS cells. The cell count comes from the MEASURED
# local-frontier size, so a typical correlated table (tiny frontier)
# refines in one cheap task while an anti-correlated one (frontier =
# O(n)) fans out — the guard the single-task refine lacked.
_SKY_TARGET_CELL = 4096
_SKY_MAX_BINS = 1024


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    schema = "p_partkey long, price double, size long"
    # eager cut: the local frontier feeds both the grid-bounds scan and
    # the refine; without it each leg re-runs the full-table kernel pass
    local = parts.mapInPandas(_skyline_kernel, schema=schema).localCheckpoint(
        eager=True
    )
    stats = local.agg(
        F.count("*").alias("n"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
    # bounded-collect: single-row stats frame (count/min/max)
    ).collect()[0]
    if stats["n"] == 0:
        return local.orderBy("price", "p_partkey")
    lo, hi = float(stats["lo"]), float(stats["hi"])
    n_bins = min(_SKY_MAX_BINS, max(1, -(-int(stats["n"]) // _SKY_TARGET_CELL)))
    width = (hi - lo) / n_bins
    # value-binning (not rank-binning) so EQUAL prices share a bucket:
    # that makes "x in a lower bucket" imply x.price < y.price strictly,
    # and cross-bucket domination needs only x.size >= y.size
    bucket = (
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("price") - F.lit(lo)) / F.lit(width)),
        ).cast("int")
        if width > 0
        else F.lit(0)
    )
    bucketed = local.withColumn("__bk", bucket).repartition(n_bins, "__bk")
    # per-task kernel: a hash partition may pack several buckets, which
    # only HELPS (the kernel removes genuinely-dominated points from any
    # union it sees); __bk rides through for the cross-bucket prune.
    # The refine MUST see its whole partition as ONE frame: per-batch
    # pruning (fine for the streamed local pass, whose output only needs
    # to be a superset) would let a within-bucket dominated point
    # survive whenever Arrow splits its bucket across record batches —
    # the cross-bucket prefix-max only removes strictly-cheaper-bucket
    # domination. Partition size is bounded by the grid sizing
    # (~_SKY_TARGET_CELL rows per cell), so the concat is small.
    refined = bucketed.mapInPandas(
        _skyline_refine_whole_partition, schema=schema + ", __bk int"
    )
    from pyspark.sql.window import Window

    # B-row exclusive prefix max over bucket maxima — the only
    # single-partition window is _SKY_BINS rows, then broadcast back
    bk_max = refined.groupBy("__bk").agg(F.max("size").alias("__mx"))
    prefix = bk_max.withColumn(
        "__run",
        F.max("__mx").over(
            Window.orderBy("__bk").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("__bk", "__run")
    frontier = (
        refined.join(F.broadcast(prefix), "__bk")
        .filter(F.col("__run").isNull() | (F.col("size") > F.col("__run")))
        .drop("__bk", "__run")
    )
    return frontier.orderBy("price", "p_partkey")


ORACLE_SKYLINE_FRONTIER = """
SELECT p_partkey, p_retailprice AS price, p_size::BIGINT AS size
FROM part y
WHERE NOT EXISTS (
  SELECT 1 FROM part x
  WHERE x.p_retailprice <= y.p_retailprice AND x.p_size >= y.p_size
    AND (x.p_retailprice < y.p_retailprice OR x.p_size > y.p_size)
)
ORDER BY price, p_partkey
"""


# --------------------------------------------------------------------------
# segment_overlap: audience-overlap matrix — for every pair of behavior
# segments (event types), how many users are active in both, and the
# Jaccard overlap of the two audiences. The naive form is a distinct
# self-join of (user, type); at 100 TB that is a second full shuffle of
# the event table.
#
# Scale shape: ONE user-keyed shuffle computing a map-combinable
# bit_or(1 << bit) per user, sharded into 63-bit LANES (lane =
# tid div 63, bit = tid mod 63 — shiftleft masks its shift amount to 6
# bits, so a single 64-bit mask would silently wrap at 64 types; the
# lane count is fixed at plan time from the driver-side type count).
# Users then collapse to a lane-vector HISTOGRAM of at most
# min(users, 2^|types|) rows, and every pairwise count is a filtered
# sum over that tiny table: the full pair matrix costs no second pass
# over the data. The same histogram answers any boolean audience
# algebra (A∩B, A\\B, 3-way overlaps) for free.
# --------------------------------------------------------------------------


def q_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    # eager checkpoint: the |types|-row dimension feeds three legs (mask
    # build + both pair sides); without the cut each leg re-runs the
    # distinct over the event scan
    types = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "tid",
            F.row_number().over(Window.orderBy("event_type")) - F.lit(1),
        )
        .localCheckpoint(eager=True)
    )
    # lane count is a plan-time constant: the checkpointed dimension is
    # tiny, and fixing it on the driver keeps every downstream
    # expression codegen-able (no data-dependent mask width)
    n_types = types.count()
    n_lanes = max(1, (n_types + 62) // 63)
    lane_aggs = [
        F.expr(
            f"bit_or(if(tid div 63 = {ln}, shiftleft(1L, tid % 63), 0L))"
        ).alias(f"__m{ln}")
        for ln in range(n_lanes)
    ]
    masks = (
        ev.join(F.broadcast(types), "event_type")
        .groupBy("user_id")
        .agg(*lane_aggs)
        .select(
            F.array(*[F.col(f"__m{ln}") for ln in range(n_lanes)]).alias(
                "lanes"
            )
        )
    )
    hist = masks.groupBy("lanes").agg(F.count("*").alias("n_users"))

    ta = types.select(F.col("event_type").alias("type_a"), F.col("tid").alias("__ia"))
    tb = types.select(F.col("event_type").alias("type_b"), F.col("tid").alias("__ib"))
    pairs = ta.join(F.broadcast(tb), F.col("__ia") < F.col("__ib"))

    # one pass over the histogram: join every pair with the lane vectors
    # that contain EITHER bit, then split n_a / n_b / n_both as
    # conditional sums — hist (and therefore the user-level aggregation)
    # is consumed exactly once
    bit_a = F.expr(
        "(shiftright(element_at(lanes, int(__ia div 63) + 1), __ia % 63) & 1) = 1"
    )
    bit_b = F.expr(
        "(shiftright(element_at(lanes, int(__ib div 63) + 1), __ib % 63) & 1) = 1"
    )
    joined = pairs.join(F.broadcast(hist), bit_a | bit_b)
    agg = joined.groupBy("type_a", "type_b").agg(
        F.sum(F.when(bit_a, F.col("n_users")).otherwise(0)).alias("n_a"),
        F.sum(F.when(bit_b, F.col("n_users")).otherwise(0)).alias("n_b"),
        F.sum(F.when(bit_a & bit_b, F.col("n_users")).otherwise(0)).alias(
            "n_both"
        ),
    )
    return (
        agg.filter(F.col("n_both") > 0)
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            halfup6(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


ORACLE_SEGMENT_OVERLAP = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
s AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
b AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         count(*)::BIGINT AS n_both
  FROM ut a JOIN ut c
    ON a.user_id = c.user_id AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       floor(n_both / (sa.n + sb.n - n_both) * 1e6 + 0.5) / 1e6 AS jaccard
FROM b
JOIN s sa ON sa.event_type = type_a
JOIN s sb ON sb.event_type = type_b
ORDER BY type_a, type_b
"""


# --------------------------------------------------------------------------
# hll_rollup: sketch RE-AGGREGATION — the property that makes sketches
# worth their error bars at 100 TB. The event scan is aggregated ONCE
# into per-(event_type, register) HLL state; the per-type estimates AND
# the all-types estimate both derive from that state — the rollup is a
# 64·|types|-row max-merge, not a second pass over the data. Same
# portable-register construction as hll_distinct_portable (md5 hash64,
# bit-smear rank, dyadic 2^-rho sums), so DuckDB reproduces every
# estimate bit-for-bit.
# --------------------------------------------------------------------------


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type + rolled-up-total distinct-(user, day) HLL estimates
    from one scan; the total merges the per-type registers."""
    from fink_science_spark.functions.hashing import hash64

    ev = _events_us(spark, sf_dir)
    day_us = 24 * 3600 * 1_000_000
    key = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.expr(f"ts_us DIV {day_us}").cast("string"),
    )
    h = hash64(key)
    s = F.shiftright(h, _HLL_P)
    for sh in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, sh))
    rho = F.lit(_HLL_WBITS + 1) - F.bit_count(s)
    # the ONE data-sized aggregation; checkpointed because both grouping
    # levels consume it (64·|types| rows — free to materialize)
    regs = (
        ev.select(
            "event_type", F.pmod(h, F.lit(_HLL_M)).alias("reg"), rho.alias("rho")
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mj"))
        .localCheckpoint(eager=True)
    )
    total_regs = regs.groupBy("reg").agg(F.max("mj").alias("mj")).withColumn(
        "event_type", F.lit("__all")
    )
    both = regs.unionByName(total_regs.select("event_type", "reg", "mj"))

    per = both.groupBy("event_type").agg(
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(_HLL_SCALE) - F.col("mj")).cast("int"),
            )
        ).alias("s_obs"),
        F.count("*").alias("n_obs"),
    )
    s_total = F.col("s_obs") + (F.lit(_HLL_M) - F.col("n_obs")) * F.lit(
        1 << _HLL_SCALE
    )
    est = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)) / s_total
    )
    return per.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("n_obs")).cast("int").alias("zero_regs"),
        F.round(est, 2).alias("hll_estimate"),
    ).orderBy("event_type")


def _oracle_hll_rollup() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    day_us = 24 * 3600 * 1_000_000
    h = hash64_sql(f"user_id::VARCHAR || ':' || (ts_us // {day_us})::VARCHAR")
    smear = "w"
    for sh in (1, 2, 4, 8, 16, 32):
        smear = f"({smear} | ({smear} >> {sh}))"
    return f"""
WITH ev AS (SELECT event_type, user_id, epoch_us(ts) AS ts_us FROM events),
hx AS (SELECT event_type, {h} AS h FROM ev),
wr AS (
  SELECT event_type, h % {_HLL_M} AS reg, h >> {_HLL_P} AS w FROM hx
),
rho AS (
  SELECT event_type, reg,
         {_HLL_WBITS + 1} - bit_count({smear})::INT AS rho
  FROM wr
),
regs AS (
  SELECT event_type, reg, max(rho) AS mj FROM rho GROUP BY event_type, reg
),
lvl AS (
  SELECT event_type, reg, mj FROM regs
  UNION ALL
  SELECT '__all' AS event_type, reg, max(mj) AS mj FROM regs GROUP BY reg
),
per AS (
  SELECT event_type,
         sum((1::BIGINT << ({_HLL_SCALE} - mj)))::BIGINT AS s_obs,
         count(*) AS n_obs
  FROM lvl GROUP BY event_type
)
SELECT event_type,
       ({_HLL_M} - n_obs)::INT AS zero_regs,
       round({_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)!r}
             / (s_obs + ({_HLL_M} - n_obs) * (1::BIGINT << {_HLL_SCALE})), 2)
           AS hll_estimate
FROM per
ORDER BY event_type
"""


ORACLE_HLL_ROLLUP = _oracle_hll_rollup()


# --------------------------------------------------------------------------
# median_bracket: EXACT global median of a 100 TB column in bounded
# passes — the sketch-guided-exact pattern. A single exact percentile
# aggregate buffers every value in one executor; instead: (1) a tiny
# min/max/count scan, (2) a map-combinable fixed-histogram scan whose
# cumulative counts locate the bin(s) holding the middle ranks, (3) a
# bracket scan whose range predicate PUSHES DOWN to parquet, selecting
# the exact order statistics from the ~n/B rows that survive. Every
# pass is a narrow pruned scan; the only non-combinable step sorts the
# bracket (n/B rows — bounded by construction, B sized to the target).
# Even-n median = mean of the two middle values (engine parity with
# DuckDB's median()).
# --------------------------------------------------------------------------

_MB_BINS = 1024


def q_median_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    stats = li.agg(
        F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    # bounded-collect: single-row stats frame (count/min/max)
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        return spark.createDataFrame(
            [(0, None)], "n long, median double"
        )
    lo, hi = float(stats["lo"]), float(stats["hi"])
    k1, k2 = (n + 1) // 2, (n + 2) // 2

    if hi == lo:
        return spark.createDataFrame([(n, lo)], "n long, median double")

    width = (hi - lo) / _MB_BINS
    bin_col = F.least(
        F.lit(_MB_BINS - 1), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))
    ).cast("int")
    hist = (
        li.groupBy(bin_col.alias("b"))
        .agg(F.count("*").alias("c"))
        .orderBy("b")
        # bounded-collect: fixed _MB_BINS-row histogram
        .collect()
    )
    cum = 0
    bounds = {}
    for r in hist:
        for k in (k1, k2):
            if k not in bounds and cum < k <= cum + r["c"]:
                bounds[k] = (r["b"], k - cum)  # (bin, rank inside bin)
        cum += r["c"]
    b_lo = min(b for b, _ in bounds.values())
    b_hi = max(b for b, _ in bounds.values())
    # ranks inside the bracket = global rank − rows in bins before b_lo
    before = sum(r["c"] for r in hist if r["b"] < b_lo)
    r1, r2 = k1 - before, k2 - before

    # widen the pushdown range by one bin on each side: a row can land
    # in bin b via float division rounding while sitting one ulp outside
    # the recomputed lo + b*width bound — the exact bin_col re-filter
    # below only narrows, so an excluded row would silently shift the
    # selected order statistics. Widening costs only pushdown
    # selectivity (~n/B extra rows), never correctness.
    lo_val = lo + max(0, b_lo - 1) * width
    hi_val = hi if b_hi >= _MB_BINS - 2 else lo + (b_hi + 2) * width
    bracket = li.filter(
        (F.col("v") >= F.lit(lo_val)) & (F.col("v") <= F.lit(hi_val))
    )
    # re-apply the exact bin predicate (float boundary rows from the
    # neighbouring bin may slip through the widened range filter; the
    # range form exists so the parquet scan can push it down)
    bracket = bracket.filter(
        (bin_col >= F.lit(b_lo)) & (bin_col <= F.lit(b_hi))
    )
    w = Window.orderBy("v")
    picked = (
        bracket.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r").isin(r1, r2))
        .agg(F.avg("v").alias("median"))
    )
    return picked.select(F.lit(n).alias("n"), "median")


ORACLE_MEDIAN_BRACKET = """
SELECT count(*)::BIGINT AS n, median(l_extendedprice::DOUBLE) AS median
FROM lineitem
"""


# --------------------------------------------------------------------------
# stratified_sample: exact per-stratum fractional sampling. Within each
# (lang, source) stratum, rows are ordered by a deterministic integer
# hash (Knuth multiplicative, doc_id · 2654435761 mod 2^31-1) and the
# first ceil(0.2 · n) survive — a reproducible eval split with EXACT
# per-stratum proportions (Bernoulli sampleBy only hits the fraction in
# expectation, and its RNG is engine-private; this is cross-engine
# deterministic).
#
# Scale shape: one shuffle on the stratum key; the per-stratum count
# and the rank come from the same window partitioning, so Spark
# computes both in a single window exchange.
# --------------------------------------------------------------------------

_STRAT_FRAC = 0.2


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    # reduce mod M BEFORE multiplying: ids can be arbitrarily large
    # (e.g. key-offset replicas), and id*K overflows int64 under ANSI;
    # (id mod M) * K < 2^31 * 2^31.3 < 2^63 always fits
    h = (
        (F.col("doc_id") % F.lit(_MERSENNE31)) * F.lit(_KNUTH)
    ) % F.lit(_MERSENNE31)
    strat = Window.partitionBy("lang", "source")
    w = strat.orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("h", h)
        .withColumn("n_stratum", F.count("*").over(strat))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.col("n_stratum") * F.lit(_STRAT_FRAC)))
        .select("doc_id", "lang", "source", "n_chars", "n_stratum")
    )


ORACLE_STRATIFIED_SAMPLE = f"""
WITH h AS (
  SELECT doc_id, lang, source, n_chars,
         (doc_id % {_MERSENNE31}) * {_KNUTH} % {_MERSENNE31} AS h,
         count(*) OVER (PARTITION BY lang, source) AS n_stratum,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY (doc_id % {_MERSENNE31}) * {_KNUTH} % {_MERSENNE31} ASC,
                                     doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang, source, n_chars, n_stratum
FROM h WHERE rn <= ceil(n_stratum * {_STRAT_FRAC})
"""


# --------------------------------------------------------------------------
# acf_lags: the sample autocorrelation function of the daily event-count
# series at lags 1..7 — r_k = Σ_{t>k}(x_t - x̄)(x_{t-k} - x̄) / Σ(x - x̄)²
# with the full-series mean (the standard biased ACF estimator; the
# time-domain complement of power_spectrum's periodogram).
#
# Scale shape: the heavy reduction is the daily group-agg over events
# (one shuffle, map-combinable); everything after runs on a #days-sized
# series, which is bounded by the TIME SPAN, not the data volume —
# 100 TB of events over 10 years is still a ~3650-row series, so the
# single-partition lag window is by design (documented contract shared
# with power_spectrum / resample_ffill).
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    stats = daily.agg(F.avg("x").alias("mu"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "x",
        *[F.lag("x", k).over(w).alias(f"xl{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    centered = lagged.crossJoin(F.broadcast(stats))
    stack_sql = ", ".join(f"{k}, xl{k}" for k in range(1, _ACF_MAX_LAG + 1))
    pairs = centered.select(
        "x",
        "mu",
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_sql}) AS (lag, xl)"),
    )
    denom = centered.agg(
        F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias(
            "den"
        )
    )
    num = (
        pairs.filter(F.col("xl").isNotNull())
        .groupBy("lag")
        .agg(
            F.sum((F.col("x") - F.col("mu")) * (F.col("xl") - F.col("mu"))).alias(
                "num"
            ),
            F.count("*").alias("n_pairs"),
        )
    )
    return (
        num.crossJoin(F.broadcast(denom))
        .select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                F.col("den") > 0, halfup6(F.col("num") / F.col("den"))
            ).alias("acf"),
        )
        .orderBy("lag")
    )


ORACLE_ACF_LAGS = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*)::DOUBLE AS x
  FROM events GROUP BY 1
),
mu AS (SELECT avg(x) AS mu FROM daily),
lagged AS (
  SELECT d, x,
         {', '.join(f'lag(x, {k}) OVER (ORDER BY d) AS xl{k}' for k in range(1, _ACF_MAX_LAG + 1))}
  FROM daily
),
den AS (
  SELECT sum((x - mu) * (x - mu)) AS den FROM daily CROSS JOIN mu
),
pairs AS (
  {' UNION ALL '.join(f"SELECT {k} AS lag, x, xl{k} AS xl FROM lagged" for k in range(1, _ACF_MAX_LAG + 1))}
),
num AS (
  SELECT lag, sum((x - mu) * (xl - mu)) AS num, count(*) AS n_pairs
  FROM pairs CROSS JOIN mu WHERE xl IS NOT NULL GROUP BY lag
)
SELECT lag::INT AS lag, n_pairs,
       CASE WHEN den > 0 THEN floor(num / den * 1e6 + 0.5) / 1e6 END AS acf
FROM num CROSS JOIN den
ORDER BY lag
"""


# --------------------------------------------------------------------------
# seasonal_decompose: classical additive decomposition of the daily
# event-count series with period 7 — trend = centered 7-day moving
# average (full windows only), seasonal index = mean of (x - trend) per
# weekday position, residual = x - trend - seasonal. Output is the
# 7-row seasonal profile plus each position's residual MSE — the
# anomaly-detection baseline (CUSUM and the PSI drift score are the
# consumers downstream).
#
# Weekday position is (days since 1970-01-01) mod 7 — engine-neutral
# (Spark's dayofweek is 1=Sunday, DuckDB's dow is 0=Sunday; the epoch
# arithmetic sidesteps both conventions).
#
# Scale shape: same contract as acf_lags — one map-combinable daily
# agg, then #days-sized windows.
# --------------------------------------------------------------------------


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = (
        daily.withColumn("n_win", F.count("*").over(w))
        .withColumn("trend", F.avg("x").over(w))
        .filter(F.col("n_win") == 7)
        .withColumn("detr", F.col("x") - F.col("trend"))
        .withColumn(
            "pos", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7
        )
    )
    seasonal = trended.groupBy("pos").agg(
        F.avg("detr").alias("seasonal_raw"), F.count("*").alias("n_days")
    )
    resid = (
        trended.join(F.broadcast(seasonal), "pos")
        .withColumn("r", F.col("detr") - F.col("seasonal_raw"))
        .groupBy("pos")
        .agg(F.avg(F.col("r") * F.col("r")).alias("mse_raw"))
    )
    return (
        seasonal.join(resid, "pos")
        .select(
            F.col("pos").cast("int").alias("pos"),
            "n_days",
            halfup6(F.col("seasonal_raw")).alias("seasonal"),
            halfup6(F.col("mse_raw")).alias("resid_mse"),
        )
        .orderBy("pos")
    )


ORACLE_SEASONAL_DECOMPOSE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*)::DOUBLE AS x
  FROM events GROUP BY 1
),
trended AS (
  SELECT d, x,
         count(*) OVER w AS n_win,
         avg(x) OVER w AS trend,
         (d - DATE '1970-01-01') % 7 AS pos
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full_win AS (
  SELECT pos, x - trend AS detr FROM trended WHERE n_win = 7
),
seasonal AS (
  SELECT pos, avg(detr) AS seasonal_raw, count(*) AS n_days
  FROM full_win GROUP BY pos
),
resid AS (
  SELECT f.pos, avg((f.detr - s.seasonal_raw) * (f.detr - s.seasonal_raw))
             AS mse_raw
  FROM full_win f JOIN seasonal s USING (pos) GROUP BY f.pos
)
SELECT pos::INT AS pos, n_days,
       floor(seasonal_raw * 1e6 + 0.5) / 1e6 AS seasonal,
       floor(mse_raw * 1e6 + 0.5) / 1e6 AS resid_mse
FROM seasonal JOIN resid USING (pos)
ORDER BY pos
"""


# --------------------------------------------------------------------------
# ab_welch_ttest: Welch's unequal-variance t-test between two event
# cohorts (the A/B-experiment readout) — per-group mean/variance from
# ONE map-combinable pass (sum, sum-of-squares, count), then the t
# statistic and Welch–Satterthwaite degrees of freedom in closed form.
# Sample variance uses the textbook (Σx² − n·x̄²)/(n−1) identity so both
# engines compute the identical expression tree.
#
# Scale shape: one grouped aggregation over events (partial agg
# map-side); the test statistic is arithmetic on a 2-row frame.
# --------------------------------------------------------------------------

_AB_GROUPS = ("click", "purchase")


def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_AB_GROUPS))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
        # a variance needs n >= 2 — a 1-row cohort would divide by zero
        .filter(F.col("n") >= 2)
    )
    a = ev.filter(F.col("event_type") == _AB_GROUPS[0]).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = ev.filter(F.col("event_type") == _AB_GROUPS[1]).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(b)
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    va = (F.col("ssa") - F.col("na") * ma * ma) / (F.col("na") - 1)
    vb = (F.col("ssb") - F.col("nb") * mb * mb) / (F.col("nb") - 1)
    sea = va / F.col("na")
    seb = vb / F.col("nb")
    # both statistics are undefined when BOTH cohorts are constant
    # (sea + seb = 0) — emit NULL rather than divide by zero under ANSI
    t = F.when(
        sea + seb > 0, halfup6((ma - mb) / F.sqrt(sea + seb))
    )
    dof = F.when(
        sea + seb > 0,
        halfup6(
            (sea + seb)
            * (sea + seb)
            / (
                sea * sea / (F.col("na") - 1)
                + seb * seb / (F.col("nb") - 1)
            )
        ),
    )
    return j.select(
        F.col("na"),
        F.col("nb"),
        halfup6(ma).alias("mean_a"),
        halfup6(mb).alias("mean_b"),
        t.alias("t_stat"),
        dof.alias("welch_dof"),
    )


ORACLE_AB_WELCH_TTEST = f"""
WITH g AS (
  SELECT event_type, count(*) AS n, sum(value) AS s,
         sum(value * value) AS ss
  FROM events WHERE event_type IN ('{_AB_GROUPS[0]}', '{_AB_GROUPS[1]}')
  GROUP BY event_type HAVING count(*) >= 2
),
a AS (SELECT n AS na, s AS sa, ss AS ssa FROM g
      WHERE event_type = '{_AB_GROUPS[0]}'),
b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM g
      WHERE event_type = '{_AB_GROUPS[1]}'),
c AS (
  SELECT na, nb,
         sa / na AS ma, sb / nb AS mb,
         ((ssa - na * (sa / na) * (sa / na)) / (na - 1)) / na AS sea,
         ((ssb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb AS seb
  FROM a CROSS JOIN b
)
SELECT na, nb,
       floor(ma * 1e6 + 0.5) / 1e6 AS mean_a,
       floor(mb * 1e6 + 0.5) / 1e6 AS mean_b,
       CASE WHEN sea + seb > 0 THEN
         floor((ma - mb) / sqrt(sea + seb) * 1e6 + 0.5) / 1e6 END AS t_stat,
       CASE WHEN sea + seb > 0 THEN
         floor((sea + seb) * (sea + seb)
               / (sea * sea / (na - 1) + seb * seb / (nb - 1))
               * 1e6 + 0.5) / 1e6 END AS welch_dof
FROM c
"""


# --------------------------------------------------------------------------
# calibration_bins: model-score calibration profile (reliability
# diagram + expected calibration error). Score = logistic of the
# centered event value (a deterministic stand-in for a model head —
# the UDF scoring family already covers real kernels); label = value
# above the global 75th-percentile cut. Ten equal-width score bins;
# per-bin mean score, positive rate, and the |gap|·weight term whose
# sum is ECE.
#
# Scale shape: one global stats row (mean/stddev/percentile) broadcast
# back, one map-combinable bin agg. Bin ids are integer arithmetic on
# halfup-quantized scores, so bin membership is engine-exact. The cut
# uses EXACT percentile at gate scale (same documented contract as
# event_type_stats/weighted_median); at 100 TB swap the stats row's
# percentile for the histogram-bracket selection (median_bracket's
# technique) or the mergeable histogram sketch (sketch_quantiles) —
# the downstream plan is unchanged either way.
# --------------------------------------------------------------------------


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    stats = ev.agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
        F.expr("percentile(value, 0.75)").alias("cut"),
    )
    scored = ev.crossJoin(F.broadcast(stats)).select(
        "event_id",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -F.when(
                        F.col("sigma") > 0,
                        (F.col("value") - F.col("mu")) / F.col("sigma"),
                    ).otherwise(F.lit(0.0))
                )
            )
        ).alias("score_raw"),
        (F.col("value") > F.col("cut")).cast("long").alias("label"),
    )
    # quantize the score BEFORE binning so bin membership is exact in
    # both engines; bin 10 (score exactly 1.0) folds into bin 9. The
    # per-bin score sum accumulates the INTEGER micro-units (score·1e6 is
    # integral after the halfup quantization), so the sum is exact and
    # order-independent — a double sum's order-dependent last-ulp wobble
    # could flip the 1e-6 halfup rounding of mean_score/ece_term at
    # larger SFs (the snapshot_diff lesson). Long micro-units overflow
    # only past ~9e12 rows per bin (1e6 max per row vs int64 range).
    binned = scored.select(
        F.floor(F.col("score_raw") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("q_micro"),
        "label",
    ).select(
        F.expr("least(q_micro DIV 100000, 9L)").alias("bin"),
        "q_micro",
        "label",
    )
    total = binned.agg(F.count("*").cast("double").alias("n_total"))
    s_score = F.col("s_micro") / F.lit(1e6)
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("q_micro").alias("s_micro"),
            F.sum("label").alias("n_pos"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            "n_pos",
            halfup6(s_score / F.col("n")).alias("mean_score"),
            halfup6(F.col("n_pos") / F.col("n")).alias("pos_rate"),
            halfup6(
                F.abs(s_score / F.col("n") - F.col("n_pos") / F.col("n"))
                * F.col("n")
                / F.col("n_total")
            ).alias("ece_term"),
        )
    )


ORACLE_CALIBRATION_BINS = """
WITH stats AS (
  SELECT avg(value) AS mu, stddev_pop(value) AS sigma,
         quantile_cont(value, 0.75) AS cut
  FROM events
),
scored AS (
  SELECT event_id,
         floor(1.0 / (1.0 + exp(-(CASE WHEN sigma > 0 THEN (value - mu) / sigma ELSE 0.0 END))) * 1e6 + 0.5)::BIGINT
             AS q_micro,
         (value > cut)::BIGINT AS label
  FROM events CROSS JOIN stats
),
binned AS (
  SELECT least(q_micro // 100000, 9) AS bin, q_micro, label
  FROM scored
),
tot AS (SELECT count(*)::DOUBLE AS n_total FROM binned)
SELECT bin, count(*) AS n, sum(label)::BIGINT AS n_pos,
       floor(sum(q_micro)::BIGINT / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS mean_score,
       floor(sum(label) / count(*) * 1e6 + 0.5) / 1e6 AS pos_rate,
       floor(abs(sum(q_micro)::BIGINT / 1e6 / count(*) - sum(label)::DOUBLE / count(*))
             * count(*) / n_total * 1e6 + 0.5) / 1e6 AS ece_term
FROM binned CROSS JOIN tot
GROUP BY bin, n_total
"""


# --------------------------------------------------------------------------
# gap_islands: consecutive-day activity streaks per user (the
# gaps-and-islands pattern — user streaks, sensor uptime, SLA windows).
# Island id = active-day − dense_rank(active-day) within user: constant
# exactly across a run of consecutive days. Output: per-user streak
# count, longest streak, and the start of the longest streak (earliest
# on ties) — the retention-analysis companion to retention_cohorts.
#
# Scale shape: distinct user-days is one map-combinable dedup on the
# (user, day) key; both windows (dense_rank, island agg) and the final
# per-user argmax share the SAME user_id partitioning, so Spark plans
# ONE exchange for the whole chain. No global window anywhere.
# --------------------------------------------------------------------------


def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.col("day") - F.dense_rank().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .join(
            streaks.groupBy("user_id").agg(F.count("*").alias("n_streaks")),
            "user_id",
        )
        .select(
            "user_id",
            "n_streaks",
            F.col("len").alias("longest_streak"),
            F.col("start_day").alias("longest_start_day"),
        )
    )


ORACLE_GAP_ISLANDS = """
WITH days AS (
  SELECT DISTINCT user_id,
         (CAST(ts AS DATE) - DATE '1970-01-01') AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         day - dense_rank() OVER (PARTITION BY user_id ORDER BY day)
             AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len, min(day) AS start_day
  FROM islands GROUP BY user_id, island
),
best AS (
  SELECT user_id, len, start_day,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_day ASC) AS rn
  FROM streaks
),
counts AS (
  SELECT user_id, count(*) AS n_streaks FROM streaks GROUP BY user_id
)
SELECT b.user_id, c.n_streaks,
       b.len::BIGINT AS longest_streak,
       b.start_day::BIGINT AS longest_start_day
FROM best b JOIN counts c USING (user_id)
WHERE b.rn = 1
"""


# --------------------------------------------------------------------------
# zipf_skew_fit: least-squares fit of ln(freq) against ln(rank) over
# the top-K heaviest l_partkey values — the Zipf exponent s (slope
# ≈ −s) plus fit quality r². The rank window and the regression run on
# the per-key count table (bounded by key cardinality, documented);
# the fact contributes one map-combinable count aggregate.
#
# Exactness: ln() is quantized to 1e-6 integers BEFORE summation, so
# the five sufficient statistics (Sx, Sy, Sxx, Sxy, Syy) are exact
# int64 sums — no float accumulation order anywhere; the closed-form
# slope/intercept/r² divide exact integers once at the end.
#
# Int bounds — the BINDING term is n·Syy, not Sxy: with per-key counts
# up to c, yq = round(1e6·ln c) so n·Syy ≈ K²·yq². At c = 10²⁸ (yq ≈
# 6.4·10⁷, K = 100) n·Syy ≈ 4.2·10¹⁹ > 2⁶³ — but any count above
# ~e^(2⁶³/K²)^½/1e6 ≈ 10¹²·⁵ rows PER KEY is orders beyond a 100 TB
# table (≈10¹² rows TOTAL), so the practical ceiling is ~6·10¹⁸ at
# c ≈ 2.7·10⁷ per key, ~1.2× under int64. Past it DuckDB raises while
# Spark wraps silently, so the parity gate would NOT catch a wrong
# slope — keep K at 100 and re-derive this bound before raising it.
# (Casting the stats to double instead would remove the cliff but break
# the EXACT den_y == 0 detection below — near-uniform counts would give
# a tiny nonzero den_y that the two engines round differently.)
# --------------------------------------------------------------------------

_ZIPF_TOP_K = 100


def q_zipf_skew_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    # rank over the bounded per-key table (deterministic tie-break)
    w = Window.orderBy(F.desc("cnt"), F.asc("l_partkey"))
    top = counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _ZIPF_TOP_K
    )
    q = top.select(
        F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
        F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    s = q.agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )
    num = s["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = s["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = s["n"] * F.col("syy") - F.col("sy") * F.col("sy")
    # num/den are exact int64 (bounds in the header comment); num² would
    # overflow, so r² squares AFTER the cast — double ops exact-rounded
    # in the same order on both engines. den_x = 0 (single distinct key)
    # and den_y = 0 (all counts equal — a plain uniform distribution)
    # are REACHABLE and would DIVIDE_BY_ZERO under ANSI: the fit is
    # undefined there, so NULL, identical CASEs on the DuckDB side.
    return s.select(
        "n",
        F.when(den_x > 0, halfup6(num / den_x)).alias("slope"),
        F.when(
            den_x > 0,
            halfup6(
                (F.col("sy") - (num / den_x) * F.col("sx"))
                / F.col("n")
                / F.lit(1e6)
            ),
        ).alias("intercept"),
        F.when(
            (den_x > 0) & (den_y > 0),
            halfup6(
                num.cast("double")
                * num.cast("double")
                / (den_x.cast("double") * den_y.cast("double"))
            ),
        ).alias("r2"),
    )


ORACLE_ZIPF_SKEW_FIT = f"""
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
),
top AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey ASC) AS rank
  FROM counts QUALIFY rank <= {_ZIPF_TOP_K}
),
q AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS xq,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS yq
  FROM top
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         CAST(SUM(yq * yq) AS BIGINT) AS syy
  FROM q
)
SELECT n,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
       END AS slope,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
               / n / 1e6 * 1e6 + 0.5) / 1e6
       END AS intercept,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5) / 1e6
       END AS r2
FROM s
"""


register("event_type_stats", q_event_type_stats, ORACLE_EVENT_TYPE_STATS)
register("weighted_median", q_weighted_median, ORACLE_WEIGHTED_MEDIAN,
         bench=False)
register("trailing_mean", q_trailing_mean, ORACLE_TRAILING_MEAN)
register("weekly_counts", q_weekly_counts, ORACLE_WEEKLY_COUNTS)
register("asof_click_before_purchase", q_asof_click_before_purchase,
         ORACLE_ASOF_CLICK)
register("host_pagerank", q_host_pagerank, ORACLE_HOST_PAGERANK)
register("trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN)
register("udtf_sessions", q_udtf_sessions, ORACLE_UDTF_SESSIONS)
register("sketch_quantiles", q_sketch_quantiles, ORACLE_SKETCH_QUANTILES)
register("heavy_hitters", q_heavy_hitters, ORACLE_HEAVY_HITTERS)
register("resample_ffill", q_resample_ffill, ORACLE_RESAMPLE_FFILL)
register("feature_drift_psi", q_feature_drift_psi, ORACLE_FEATURE_DRIFT_PSI)
register("weighted_sample", q_weighted_sample, ORACLE_WEIGHTED_SAMPLE)
register("user_trend", q_user_trend, ORACLE_USER_TREND)
register("quantile_transform", q_quantile_transform, ORACLE_QUANTILE_TRANSFORM)
register("hll_distinct_portable", q_hll_distinct_portable,
         _oracle_hll_distinct_portable())
register("funnel_steps", q_funnel_steps, ORACLE_FUNNEL_STEPS)
register("retention_cohorts", q_retention_cohorts, ORACLE_RETENTION_COHORTS)
register("rolling_range_window", q_rolling_range_window,
         ORACLE_ROLLING_RANGE_WINDOW)
register("table_profile", q_table_profile, _oracle_table_profile())
register("event_transitions", q_event_transitions, ORACLE_EVENT_TRANSITIONS)
register("contingency_chi2", q_contingency_chi2, ORACLE_CONTINGENCY_CHI2)
register("triangle_count", q_triangle_count, _oracle_triangle_count())
# sessions_native: the gaps-and-islands scale twin of udtf_sessions —
# same answer, shares its oracle.
register("sessions_native", q_sessions_native, ORACLE_UDTF_SESSIONS)
register("cusum_changepoints", q_cusum_changepoints, ORACLE_CUSUM_CHANGEPOINTS)
register("interval_overlap_join", q_interval_overlap_join,
         _oracle_interval_overlap_join())
register("part_affinity", q_part_affinity, ORACLE_PART_AFFINITY)
register("sliding_distinct_users", q_sliding_distinct_users,
         ORACLE_SLIDING_DISTINCT_USERS)
register("last_touch_attribution", q_last_touch_attribution,
         ORACLE_LAST_TOUCH_ATTRIBUTION)
register("ewma_user_value", q_ewma_user_value, ORACLE_EWMA_USER_VALUE)
register("robust_outliers", q_robust_outliers, ORACLE_ROBUST_OUTLIERS)
register("winsorized_stats", q_winsorized_stats, ORACLE_WINSORIZED_STATS)
register("session_paths", q_session_paths, ORACLE_SESSION_PATHS)
register("skyline_frontier", q_skyline_frontier, ORACLE_SKYLINE_FRONTIER)
register("segment_overlap", q_segment_overlap, ORACLE_SEGMENT_OVERLAP)
register("hll_rollup", q_hll_rollup, ORACLE_HLL_ROLLUP)
register("median_bracket", q_median_bracket, ORACLE_MEDIAN_BRACKET)
register("stratified_sample", q_stratified_sample, ORACLE_STRATIFIED_SAMPLE)
register("acf_lags", q_acf_lags, ORACLE_ACF_LAGS)
register("seasonal_decompose", q_seasonal_decompose, ORACLE_SEASONAL_DECOMPOSE)
register("ab_welch_ttest", q_ab_welch_ttest, ORACLE_AB_WELCH_TTEST)
register("calibration_bins", q_calibration_bins, ORACLE_CALIBRATION_BINS)
register("gap_islands", q_gap_islands, ORACLE_GAP_ISLANDS)
register("zipf_skew_fit", q_zipf_skew_fit, ORACLE_ZIPF_SKEW_FIT)
