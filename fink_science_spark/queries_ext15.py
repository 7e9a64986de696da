"""Query registry, wave 17: scale-ops planning family.

The diagnostics and layout planners an operator actually runs BEFORE
pointing a 1000-executor job at 100 TB — each one an engine-native
aggregation whose own cost is bounded by key/manifest cardinality, not
data volume:

- partition_skew_report: per-candidate-shuffle-key skew profile
  (row count, key cardinality, heaviest key, max/mean ratio) — the
  decision input for salting (operators/salting.py) vs plain hash
  partitioning.
- zipf_skew_fit: Zipf exponent of the key-frequency distribution via
  closed-form least squares on (ln rank, ln freq) over the top keys —
  quantifies HOW skewed a key is, not just its max/mean. Uses the
  repo's quantized-sufficient-statistics idiom so the fit is exact
  cross-engine arithmetic.
- compaction_plan: greedy in-order bin packing of small files into
  target-sized output groups per directory (the Iceberg/Delta
  small-file compaction shape), modeled on the documents manifest
  (source = directory, doc = file, n_chars = bytes).
- balanced_ranges: exact range-partitioner boundaries from the
  per-key histogram — K buckets of near-equal row count at key
  granularity, the planning step Spark's sampling RangePartitioner
  approximates.

Scale shapes, per the engine contract:
- Every window/sort here runs on a BOUNDED relation and is documented
  as such: per-key count tables (cardinality of the key domain), or
  per-directory file manifests (file counts, not row counts). The raw
  fact is touched exactly once per report, by a map-combinable
  count/sum aggregate.
- skew ratios and bucket assignment are exact integer arithmetic
  (cross-multiplication / integer division); the Zipf regression
  quantizes ln() to 1e-6 BEFORE summing so every sufficient statistic
  is an int64 and the fit has zero float-accumulation-order
  sensitivity (the phase_curve idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_science_spark.queries import _t
from fink_science_spark.queries_ext12 import _halfup6
from fink_science_spark.registry import register


# --------------------------------------------------------------------------
# partition_skew_report: one row per candidate shuffle key of the
# lineitem fact — (n_rows, n_keys, max_cnt, top_key, skew_ratio).
# skew_ratio = max_cnt / (n_rows / n_keys) computed as the exact
# rational max_cnt * n_keys / n_rows, half-up-6. top_key is the
# heaviest key, ties broken to the HIGHEST key id via a single
# max(struct(cnt, key)) — no second pass, no argmax window.
#
# Scale shape: per key column, ONE map-combinable count aggregate over
# the fact and ONE 1-row reduction of the (bounded) per-key table; the
# three key columns' reports union into a 3-row frame. The fact is
# scanned once per column with only that column read (pruned scan).
# --------------------------------------------------------------------------

_SKEW_KEYS = ("l_partkey", "l_suppkey", "l_orderkey")


def q_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    reports = []
    for key in _SKEW_KEYS:
        counts = li.groupBy(key).agg(F.count("*").alias("cnt"))
        reports.append(
            counts.agg(
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_cnt"),
                F.max(F.struct(F.col("cnt"), F.col(key).alias("k")))["k"].alias(
                    "top_key"
                ),
            ).select(
                F.lit(key).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_cnt",
                "top_key",
                # double FIRST: the long cross-product max_cnt*n_keys can
                # exceed int64 at extreme scale (and DuckDB would error
                # where Spark wraps); each IEEE op is exact-rounded and
                # engine-identical in this fixed order
                _halfup6(
                    F.col("max_cnt").cast("double")
                    * F.col("n_keys")
                    / F.col("n_rows")
                ).alias("skew_ratio"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _skew_report_sql(key: str) -> str:
    return f"""
  SELECT '{key}' AS key_col,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         COUNT(*) AS n_keys,
         MAX(cnt) AS max_cnt,
         (SELECT MAX(k) FROM counts_{key}
          WHERE cnt = (SELECT MAX(cnt) FROM counts_{key})) AS top_key,
         floor(CAST(MAX(cnt) AS DOUBLE) * COUNT(*)
               / CAST(SUM(cnt) AS BIGINT) * 1e6 + 0.5) / 1e6 AS skew_ratio
  FROM counts_{key}"""


ORACLE_PARTITION_SKEW_REPORT = (
    "WITH "
    + ", ".join(
        f"counts_{k} AS (SELECT {k} AS k, COUNT(*) AS cnt FROM lineitem GROUP BY {k})"
        for k in _SKEW_KEYS
    )
    + " UNION ALL ".join(_skew_report_sql(k) for k in _SKEW_KEYS)
)

register("partition_skew_report", q_partition_skew_report,
         ORACLE_PARTITION_SKEW_REPORT)


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
        F.when(den_x > 0, _halfup6(num / den_x)).alias("slope"),
        F.when(
            den_x > 0,
            _halfup6(
                (F.col("sy") - (num / den_x) * F.col("sx"))
                / F.col("n")
                / F.lit(1e6)
            ),
        ).alias("intercept"),
        F.when(
            (den_x > 0) & (den_y > 0),
            _halfup6(
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

register("zipf_skew_fit", q_zipf_skew_fit, ORACLE_ZIPF_SKEW_FIT)


# --------------------------------------------------------------------------
# compaction_plan: greedy in-order bin packing of each directory's
# files into ~target-byte output groups — the small-file compaction
# planner (Iceberg binpack / Delta OPTIMIZE shape). Modeled on the
# documents manifest: source = directory, doc = file, n_chars = bytes;
# a file opens a new bin when the bytes BEFORE it reach the next
# target multiple (bin = cum_before DIV target — the standard
# streaming assignment, identical in both engines as integer
# division).
#
# Scale shape: ONE shuffle on the directory key; the running sum is a
# per-directory window over the MANIFEST (rows = file count per
# directory, not data volume — the planner reads listings, never file
# contents). Per-directory sequential planning is inherent to in-order
# packing; directories parallelize.
# --------------------------------------------------------------------------

_COMPACT_TARGET = 2000  # bytes per output group (documents.n_chars units)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    binned = docs.withColumn(
        "bin",
        F.expr(f"coalesce(sum(n_chars) over "
               f"(partition by source order by doc_id "
               f"rows between unbounded preceding and 1 preceding), 0)"
               f" div {_COMPACT_TARGET}"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_COMPACTION_PLAN = f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_COMPACT_TARGET} AS BIGINT) AS bin
  FROM documents
)
SELECT source, bin, COUNT(*) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM binned GROUP BY source, bin
"""

register("compaction_plan", q_compaction_plan, ORACLE_COMPACTION_PLAN)


# --------------------------------------------------------------------------
# balanced_ranges: exact K-way range-partitioner boundaries at key
# granularity — bucket b = K * rows_before_key DIV total_rows over the
# key-sorted per-key histogram, then (lo, hi, rows) per bucket. This
# is the exact version of what Spark's sampling RangePartitioner
# estimates; a key whose count straddles a boundary stays whole (range
# partitioning never splits a key), so bucket sizes are balanced up to
# the heaviest single key.
#
# Scale shape: the fact contributes one map-combinable count
# aggregate; the cumulative window and the bucket rollup run on the
# BOUNDED per-key table (documented single-reducer over key
# cardinality, the acf_lags argument). Assignment is exact integer
# arithmetic — K * cum DIV total — no float boundary wobble.
# --------------------------------------------------------------------------

_RANGE_K = 8


def q_balanced_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    # both windows ride ONE sort of the bounded per-key table
    w_cum = Window.orderBy("l_partkey").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    assigned = counts.select(
        "l_partkey",
        "cnt",
        (
            F.lit(_RANGE_K)
            * F.coalesce(F.sum("cnt").over(w_cum), F.lit(0))
        ).alias("scaled"),
        F.sum("cnt").over(w_all).alias("total"),
    ).select(
        "l_partkey",
        "cnt",
        F.expr("scaled div total").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.min("l_partkey").alias("lo_key"),
        F.max("l_partkey").alias("hi_key"),
        F.sum("cnt").alias("n_rows"),
    )


ORACLE_BALANCED_RANGES = f"""
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
),
assigned AS (
  SELECT l_partkey, cnt,
         CAST(({_RANGE_K} * COALESCE(SUM(cnt) OVER (
            ORDER BY l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
           // (SUM(cnt) OVER ()) AS BIGINT) AS bucket
  FROM counts
)
SELECT bucket, MIN(l_partkey) AS lo_key, MAX(l_partkey) AS hi_key,
       CAST(SUM(cnt) AS BIGINT) AS n_rows
FROM assigned GROUP BY bucket
"""

register("balanced_ranges", q_balanced_ranges, ORACLE_BALANCED_RANGES)
