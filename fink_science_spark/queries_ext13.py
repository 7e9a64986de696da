"""Query registry, wave 14: retrieval ranking, entity resolution,
sampling, and time-series decomposition.

Seven operators rounding out the training-data-pipeline and analytics
surface beyond the round-3 waves:

- bm25_topk: BM25 (Robertson/Sparck Jones) document ranking against a
  fixed query — the lexical-retrieval complement to tfidf_topk and the
  ANN family (quality-filter corpora by relatedness to a seed query).
- fuzzy_match_names: blocked fuzzy entity matching (record linkage) —
  blocking-key equi-join + edit-distance verify + argmin resolve. The
  canonical ER shape: candidates come from an equi-join on a blocking
  key, NEVER a cross join.
- stratified_sample: exact per-stratum fractional sampling by a
  deterministic hash order (eval-set construction that is reproducible
  across engines and runs — unlike Bernoulli sampleBy).
- acf_lags / seasonal_decompose: autocorrelation function and a
  7-period moving-average seasonal decomposition over the daily event
  series — the time-domain complement of power_spectrum.
- length_bucket_batches: length-bucketed batch assembly with padding
  waste accounting — the dynamic-batching step between sequence_packing
  and the trainer.
- snapshot_diff: full-outer reconciliation of two table snapshots into
  added/removed/changed/unchanged classes — the data-versioning diff
  (cdc_apply is the LOG-apply twin; this is the state-compare twin).

Scale shapes, per the engine contract:
- bm25: per-row HOF tf against a TINY fixed term list (no explode, no
  shuffle for tf), one global stats row broadcast back, top-k via a
  single ORDER BY LIMIT on the scored rows.
- fuzzy: candidate volume = sum over blocks of |dirty_b|·|clean_b|,
  bounded by blocking-key selectivity (documented contract), argmin is
  one key-partitioned window.
- stratified: one shuffle on the stratum key; both the count and the
  rank come from the same window partitioning.
- acf / seasonal: the heavy reduction is the daily group-agg; every
  window after it runs on a #days-sized series (bounded: time span,
  not data volume — single-partition by design and documented).
- length_bucket: one shuffle on the bucket key; batches are
  row_number DIV B inside the bucket.
- snapshot_diff: one full-outer equi-join on the snapshot key, then a
  four-way conditional count (map-combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_science_spark.functions.text import tokens, tokens_sql
from fink_science_spark.queries import _fan_out, _t
from fink_science_spark.queries_ext12 import _halfup6
from fink_science_spark.registry import register


# --------------------------------------------------------------------------
# bm25_topk: Okapi BM25 ranking of the documents table against a fixed
# 3-term query (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5)/(df +
# 0.5)) — the Lucene convention, always positive).
#
# Scale shape: term frequencies come from a per-row HOF count against
# the 3-term query list — NO explode and NO shuffle on the corpus; the
# only aggregation is one global stats row (N, avgdl, df per term),
# broadcast back via a 1-row crossJoin. The final score is a fixed-order
# arithmetic expression over the three tf columns (s1 + s2 + s3 in
# source order), so the floating-point sum is deterministic and
# identical across engines — no hash-agg-order sensitivity. Top-k is a
# global ORDER BY score LIMIT k with doc_id tie-break.
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 20


def _bm25_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row (dl, tf per query term) — HOF counts, no explode. Shared
    by bm25_topk and rrf_fusion so the column algebra cannot drift."""
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))

    def _tf(term: str) -> F.Column:
        # single-arg lambda on purpose: a two-arg lambda would select
        # F.filter's (element, index) variant
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    return docs.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )


def _bm25_stats(base: DataFrame) -> DataFrame:
    """The one corpus-global stats row (N, avgdl, df per term)."""
    return base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )


def _bm25_part(i: int) -> F.Column:
    """Term i's BM25 contribution (Lucene idf; avgdl=0 guarded)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
        / (F.col(f"df{i}") + F.lit(0.5))
    )
    tf = F.col(f"tf{i}").cast("double")
    rel_len = F.when(
        F.col("avgdl") > 0, F.col("dl") / F.col("avgdl")
    ).otherwise(F.lit(0.0))
    denom = tf + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * rel_len
    )
    return idf * tf * F.lit(_BM25_K1 + 1.0) / denom


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _bm25_base(spark, sf_dir)
    stats = _bm25_stats(base)
    score = _bm25_part(0) + _bm25_part(1) + _bm25_part(2)
    scored = (
        base.crossJoin(F.broadcast(stats))
        .withColumn("score", score)
        .filter(F.col("score") > 0)
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_BM25_K)
        .select(
            "doc_id",
            "dl",
            _halfup6(F.col("score")).alias("bm25"),
        )
    )


_BM25_TF_SQL = ", ".join(
    f"len(list_filter({tokens_sql('text')}, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_PART_SQL = " + ".join(
    f"(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
    f" * (tf{i}::DOUBLE) * {_BM25_K1 + 1.0}"
    f" / (tf{i}::DOUBLE + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * (CASE WHEN avgdl > 0 THEN dl / avgdl ELSE 0.0 END))))"
    for i in range(len(_BM25_TERMS))
)
ORACLE_BM25_TOPK = f"""
WITH base AS (
  SELECT doc_id,
         len({tokens_sql('text')}) AS dl,
         {_BM25_TF_SQL}
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
         sum((tf0 > 0)::BIGINT) AS df0,
         sum((tf1 > 0)::BIGINT) AS df1,
         sum((tf2 > 0)::BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT doc_id, dl, {_BM25_PART_SQL} AS score
  FROM base CROSS JOIN stats
)
SELECT doc_id, dl::BIGINT AS dl,
       floor(score * 1e6 + 0.5) / 1e6 AS bm25
FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id ASC
LIMIT {_BM25_K}
"""

register("bm25_topk", q_bm25_topk, ORACLE_BM25_TOPK)


# --------------------------------------------------------------------------
# fuzzy_match_names: blocked fuzzy entity matching (record linkage) on
# the part catalog. A "dirty" feed is derived deterministically from
# every 5th part (drop the second character, uppercase the first — edit
# distance ≤ 2 from the clean name); candidates come from an EQUI-join
# on a blocking key derived from the error model (the
# corruption-invariant suffix: clean chars 3.. == dirty chars 2..),
# the verify is levenshtein ≤ 3, and each dirty record resolves to its
# argmin-(distance, partkey) match. Distinct clean names can share the
# suffix ('cold rod' / 'bold rod' both block to 'ld rod'), so the
# verify + argmin stages do real resolution work, not just pass-through.
#
# Scale shape: the blocking key bounds candidate volume to
# Σ_b |dirty_b|·|clean_b| — an equi-join, never a cross join. Deriving
# the key from the corruption model (the standard ER move: phonetic
# keys for typos, normalized suffixes for truncations) keeps block
# cardinality GROWING with the data — a vocabulary-bounded key (e.g.
# the last token) would make candidates quadratic. Skewed blocks route
# to the salting operator (operators/salting.py). The argmin resolve is
# one window over the dirty key — the same key the join shuffled on.
# --------------------------------------------------------------------------


def q_fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the tiny single-row-group part scan out before the blocked
    # join: the levenshtein verify over every blocking-key candidate ran
    # in ONE task (2.7 s of the query's 3.1 s at sf0.1) because the
    # broadcast join inherits the probe side's scan parallelism
    part = _fan_out(
        spark, sf_dir, "part",
        _t(spark, sf_dir, "part").select("p_partkey", "p_name"),
        key="p_partkey",
    )
    dirty = part.filter(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.upper(F.substring("p_name", 1, 1)), F.expr("substring(p_name, 3)")
        ).alias("dirty_name"),
    )
    clean = part.select(
        "p_partkey", "p_name", F.expr("substring(p_name, 3)").alias("bk")
    )
    cand = dirty.withColumn("bk", F.expr("substring(dirty_name, 2)")).join(
        clean, "bk"
    )
    verified = cand.withColumn(
        "dist", F.levenshtein("dirty_name", "p_name")
    ).filter(F.col("dist") <= 3)
    w = Window.partitionBy("dirty_id").orderBy(
        F.col("dist").asc(), F.col("p_partkey").asc()
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dirty_id", F.col("p_partkey").alias("match_id"), "dist")
    )


ORACLE_FUZZY_MATCH_NAMES = """
WITH dirty AS (
  SELECT p_partkey AS dirty_id,
         upper(substr(p_name, 1, 1)) || substr(p_name, 3) AS dirty_name
  FROM part WHERE p_partkey % 5 = 0
),
clean AS (
  SELECT p_partkey, p_name, substr(p_name, 3) AS bk FROM part
),
cand AS (
  SELECT d.dirty_id, d.dirty_name, c.p_partkey, c.p_name,
         levenshtein(d.dirty_name, c.p_name) AS dist
  FROM dirty d JOIN clean c ON substr(d.dirty_name, 2) = c.bk
),
ranked AS (
  SELECT dirty_id, p_partkey, dist,
         row_number() OVER (PARTITION BY dirty_id
                            ORDER BY dist ASC, p_partkey ASC) AS rn
  FROM cand WHERE dist <= 3
)
SELECT dirty_id, p_partkey AS match_id, dist::INT AS dist
FROM ranked WHERE rn = 1
"""

register("fuzzy_match_names", q_fuzzy_match_names, ORACLE_FUZZY_MATCH_NAMES)


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
_KNUTH = 2654435761
_MERSENNE31 = 2147483647


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

register("stratified_sample", q_stratified_sample, ORACLE_STRATIFIED_SAMPLE)


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
                F.col("den") > 0, _halfup6(F.col("num") / F.col("den"))
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

register("acf_lags", q_acf_lags, ORACLE_ACF_LAGS)


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
            _halfup6(F.col("seasonal_raw")).alias("seasonal"),
            _halfup6(F.col("mse_raw")).alias("resid_mse"),
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

register("seasonal_decompose", q_seasonal_decompose, ORACLE_SEASONAL_DECOMPOSE)


# --------------------------------------------------------------------------
# length_bucket_batches: length-bucketed batch assembly. Documents are
# bucketed by n_chars DIV 100 (fixed-width integer buckets — no float
# log2, whose 1-ulp wobble at powers of two differs across engines),
# ordered inside each bucket by the deterministic Knuth hash, and cut
# into batches of 32; each batch reports its padding waste
# (n·max_len − Σlen) — the quantity dynamic batching minimizes versus
# random batching. sequence_packing is the first-fit bin-packing twin;
# this is the sorted-bucket twin trainers actually deploy.
#
# Scale shape: one shuffle on the bucket key; rank and batch stats ride
# the same partitioning. Bucket count is bounded by max document length
# / 100, not corpus size.
# --------------------------------------------------------------------------

_BATCH_SIZE = 32


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # reduce mod M BEFORE multiplying: ids can be arbitrarily large
    # (e.g. key-offset replicas), and id*K overflows int64 under ANSI;
    # (id mod M) * K < 2^31 * 2^31.3 < 2^63 always fits
    h = (
        (F.col("doc_id") % F.lit(_MERSENNE31)) * F.lit(_KNUTH)
    ) % F.lit(_MERSENNE31)
    bucket = F.floor(F.col("n_chars") / F.lit(100)).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    assigned = (
        docs.select("doc_id", "n_chars", bucket)
        .withColumn("h", h)
        .withColumn(
            "batch_id", ((F.row_number().over(w) - 1) / F.lit(_BATCH_SIZE)).cast("long")
        )
    )
    return (
        assigned.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn(
            "padding_waste",
            F.col("n_docs") * F.col("max_chars") - F.col("sum_chars"),
        )
    )


ORACLE_LENGTH_BUCKET_BATCHES = f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         n_chars // 100 AS bucket,
         (row_number() OVER (PARTITION BY n_chars // 100
                             ORDER BY (doc_id % {_MERSENNE31}) * {_KNUTH} % {_MERSENNE31} ASC,
                                      doc_id ASC) - 1) // {_BATCH_SIZE}
             AS batch_id
  FROM documents
)
SELECT bucket, batch_id,
       count(*) AS n_docs,
       max(n_chars) AS max_chars,
       sum(n_chars)::BIGINT AS sum_chars,
       (count(*) * max(n_chars) - sum(n_chars))::BIGINT AS padding_waste
FROM assigned GROUP BY bucket, batch_id
"""

register("length_bucket_batches", q_length_bucket_batches,
         ORACLE_LENGTH_BUCKET_BATCHES)


# --------------------------------------------------------------------------
# snapshot_diff: reconciliation of two table snapshots — the
# data-versioning diff (Delta/Iceberg snapshot compare; cdc_apply is
# the log-apply twin). Snapshot A and B are derived deterministically
# from orders (A drops keys ≡0 mod 97, B drops ≡0 mod 89 and bumps the
# price of keys ≡0 mod 7), full-outer joined on the key, and every row
# classified added / removed / changed / unchanged; the output is the
# per-class row count and value checksum that a versioned-table audit
# reports.
#
# Scale shape: ONE full-outer sort-merge equi-join on the snapshot key
# (both sides shuffle once on the same key), then a map-combinable
# conditional aggregation. No window, no collect.
# --------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snap_a = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("va")
    )
    snap_b = (
        orders.filter(F.col("o_orderkey") % 89 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("vb"),
        )
    )
    joined = snap_a.join(snap_b, "k", "full_outer")
    cls = (
        F.when(F.col("va").isNull(), F.lit("added"))
        .when(F.col("vb").isNull(), F.lit("removed"))
        .when(F.col("va") != F.col("vb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    # the per-class value delta sums in EXACT integer cents: prices are
    # 2-decimal, and a double sum of ~n/97 prices carries O(n·ulp)
    # engine-order-dependent error that crosses a 1e-6 rounding grain
    # around sf0.1 (caught by the sf0.1 parity sweep) — integer sums are
    # order-independent at any scale
    def cents(col: str) -> F.Column:
        return F.floor(
            F.coalesce(col, F.lit(0.0)) * F.lit(100.0) + F.lit(0.5)
        ).cast("long")

    return (
        joined.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("vb") - cents("va")).alias("delta_cents"),
        )
        .select(
            "cls", "n", (F.col("delta_cents") / F.lit(100.0)).alias("value_delta")
        )
    )


ORACLE_SNAPSHOT_DIFF = """
WITH snap_a AS (
  SELECT o_orderkey AS k, o_totalprice AS va
  FROM orders WHERE o_orderkey % 97 <> 0
),
snap_b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS vb
  FROM orders WHERE o_orderkey % 89 <> 0
),
joined AS (
  SELECT coalesce(a.k, b.k) AS k, a.va, b.vb
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT CASE WHEN va IS NULL THEN 'added'
            WHEN vb IS NULL THEN 'removed'
            WHEN va <> vb THEN 'changed'
            ELSE 'unchanged' END AS cls,
       count(*) AS n,
       sum(floor(coalesce(vb, 0.0) * 100.0 + 0.5)::BIGINT
           - floor(coalesce(va, 0.0) * 100.0 + 0.5)::BIGINT) / 100.0
           AS value_delta
FROM joined GROUP BY 1
"""

register("snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF)


# ==========================================================================
# Wave 15: retrieval fusion, A/B stats, data-quality audit, calibration
# ==========================================================================


# --------------------------------------------------------------------------
# rrf_fusion: reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
# retrieval lists over the same corpus — here BM25 and summed TF-IDF for
# the same fixed query — rrf(d) = Σ_r 1/(60 + rank_r(d)) over the lists
# where d was RETRIEVED, the standard hybrid-retrieval merge (lexical +
# second signal) before re-ranking. As in production fusion, each ranker
# contributes its top-C list (C = 100) and a doc absent from a list
# contributes 0 from it — RRF is defined over retrieved lists, not full
# corpus rankings. Ranks are INTEGERS, so the fused score is exact
# rational arithmetic — no float-order sensitivity at all.
#
# Scale shape: each ranker is the bm25 shape (per-row HOF tf, one
# global stats row broadcast, no corpus shuffle); each top-C list comes
# from orderBy().limit(C) — TakeOrderedAndProject, a per-partition
# partial top-C plus one C-row merge, NEVER a global sort of the corpus
# (ranking the full match set in a window would be a single-partition
# corpus sort at 100 TB); exact ranks are then a window over the C-row
# list, and the fusion is a full-outer join of two ≤C-row relations.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 20
_RRF_C = 100


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _bm25_base(spark, sf_dir)
    stats = _bm25_stats(base)

    def _tfidf_part(i: int) -> F.Column:
        # smoothed sklearn idf, same convention as tfidf_topk
        return F.col(f"tf{i}").cast("double") * (
            F.log(
                (F.col("n_docs") + F.lit(1.0)) / (F.col(f"df{i}") + F.lit(1.0))
            )
            + F.lit(1.0)
        )

    # The two TakeOrdered branches below would each recompute the
    # tokenize + score corpus pass (TakeOrdered is not a reusable
    # exchange); the eager localCheckpoint materializes the scored
    # corpus ONCE, projected down to the three 8-byte rank inputs —
    # ~24 B/row, the cheapest shareable form of this relation.
    scored = (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (_bm25_part(0) + _bm25_part(1) + _bm25_part(2)).alias("s_bm25"),
            (_tfidf_part(0) + _tfidf_part(1) + _tfidf_part(2)).alias(
                "s_tfidf"
            ),
            (F.col("tf0") + F.col("tf1") + F.col("tf2")).alias("tf_any"),
        )
        .filter(F.col("tf_any") > 0)
        .select("doc_id", "s_bm25", "s_tfidf")
        .localCheckpoint(eager=True)
    )
    def _toplist(score_col: str, rank_name: str) -> DataFrame:
        # TakeOrderedAndProject (partial per-partition top-C + C-row
        # merge); the exact-rank window then runs on only C rows
        top = scored.orderBy(
            F.col(score_col).desc(), F.col("doc_id").asc()
        ).limit(_RRF_C)
        w = Window.orderBy(F.col(score_col).desc(), F.col("doc_id").asc())
        return top.select(
            "doc_id", F.row_number().over(w).alias(rank_name)
        )

    r1 = _toplist("s_bm25", "rank_bm25")
    r2 = _toplist("s_tfidf", "rank_tfidf")
    fused = r1.join(r2, "doc_id", "full_outer").select(
        "doc_id",
        "rank_bm25",
        "rank_tfidf",
        _halfup6(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_bm25")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_tfidf")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOP
    )


# the BM25 leg of the fusion oracle is the SAME algebra as bm25_topk's
_RRF_BM25_SQL = _BM25_PART_SQL
_RRF_TFIDF_SQL = " + ".join(
    f"(tf{i}::DOUBLE * (ln((n_docs + 1.0) / (df{i} + 1.0)) + 1.0))"
    for i in range(len(_BM25_TERMS))
)
ORACLE_RRF_FUSION = f"""
WITH base AS (
  SELECT doc_id,
         len({tokens_sql('text')}) AS dl,
         {_BM25_TF_SQL}
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
         sum((tf0 > 0)::BIGINT) AS df0,
         sum((tf1 > 0)::BIGINT) AS df1,
         sum((tf2 > 0)::BIGINT) AS df2
  FROM base
),
scored AS (
  SELECT doc_id,
         {_RRF_BM25_SQL} AS s_bm25,
         {_RRF_TFIDF_SQL} AS s_tfidf
  FROM base CROSS JOIN stats
  WHERE tf0 + tf1 + tf2 > 0
),
r1 AS (
  SELECT doc_id, rank_bm25 FROM (
    SELECT doc_id, row_number() OVER (ORDER BY s_bm25 DESC, doc_id ASC)
               AS rank_bm25
    FROM scored
  ) WHERE rank_bm25 <= {_RRF_C}
),
r2 AS (
  SELECT doc_id, rank_tfidf FROM (
    SELECT doc_id, row_number() OVER (ORDER BY s_tfidf DESC, doc_id ASC)
               AS rank_tfidf
    FROM scored
  ) WHERE rank_tfidf <= {_RRF_C}
),
fused AS (
  SELECT doc_id, rank_bm25::INT AS rank_bm25, rank_tfidf::INT AS rank_tfidf,
         floor((coalesce(1.0 / ({_RRF_K} + rank_bm25), 0.0)
                + coalesce(1.0 / ({_RRF_K} + rank_tfidf), 0.0))
               * 1e6 + 0.5) / 1e6 AS rrf
  FROM r1 FULL OUTER JOIN r2 USING (doc_id)
)
SELECT doc_id, rank_bm25, rank_tfidf, rrf
FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT {_RRF_TOP}
"""

register("rrf_fusion", q_rrf_fusion, ORACLE_RRF_FUSION)


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
        sea + seb > 0, _halfup6((ma - mb) / F.sqrt(sea + seb))
    )
    dof = F.when(
        sea + seb > 0,
        _halfup6(
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
        _halfup6(ma).alias("mean_a"),
        _halfup6(mb).alias("mean_b"),
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

register("ab_welch_ttest", q_ab_welch_ttest, ORACLE_AB_WELCH_TTEST)


# --------------------------------------------------------------------------
# fk_integrity_audit: referential-integrity profile of the warehouse —
# for each declared FK edge (orders→customer, lineitem→orders,
# lineitem→part, lineitem→supplier... the edges present in the gate
# tables), the row count, orphan count (left anti join), and orphan
# rate. The data-quality gate a pipeline runs after every load; the
# reference pipeline's equivalent is its cross-module schema contract.
#
# Scale shape: each edge is one LEFT ANTI equi-join — the dimension
# side broadcasts (customer/part/supplier are the small sides at any
# SF); counts are map-combinable. Edges union into one tiny frame.
# --------------------------------------------------------------------------


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")

    def edge(name: str, child: DataFrame, key: str, parent: DataFrame,
             pkey: str, broadcast_parent: bool) -> DataFrame:
        keys = (
            parent.select(F.col(pkey).alias("__pk"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        if broadcast_parent:
            keys = F.broadcast(keys)
        joined = child.select(F.col(key).alias("__pk")).join(
            keys, "__pk", "left"
        )
        return joined.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("__hit").isNull().cast("long")).alias("n_orphans"),
        ).select(F.lit(name).alias("fk"), "n_rows", "n_orphans")

    frames = [
        edge("orders->customer", orders, "o_custkey", customer, "c_custkey", True),
        edge("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey", False),
        edge("lineitem->part", lineitem, "l_partkey", part, "p_partkey", True),
        edge("lineitem->supplier", lineitem, "l_suppkey", supplier, "s_suppkey", True),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "fk",
        "n_rows",
        "n_orphans",
        _halfup6(F.col("n_orphans") / F.col("n_rows")).alias("orphan_rate"),
    )


ORACLE_FK_INTEGRITY_AUDIT = """
WITH e1 AS (
  SELECT 'orders->customer' AS fk, count(*) AS n_rows,
         sum((c.c_custkey IS NULL)::BIGINT) AS n_orphans
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
),
e2 AS (
  SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
         sum((o.o_orderkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
),
e3 AS (
  SELECT 'lineitem->part' AS fk, count(*) AS n_rows,
         sum((p.p_partkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey
),
e4 AS (
  SELECT 'lineitem->supplier' AS fk, count(*) AS n_rows,
         sum((s.s_suppkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON l.l_suppkey = s.s_suppkey
)
SELECT fk, n_rows, n_orphans::BIGINT AS n_orphans,
       floor(n_orphans / n_rows * 1e6 + 0.5) / 1e6 AS orphan_rate
FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
"""

register("fk_integrity_audit", q_fk_integrity_audit, ORACLE_FK_INTEGRITY_AUDIT)


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
            _halfup6(s_score / F.col("n")).alias("mean_score"),
            _halfup6(F.col("n_pos") / F.col("n")).alias("pos_rate"),
            _halfup6(
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

register("calibration_bins", q_calibration_bins, ORACLE_CALIBRATION_BINS)


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

register("gap_islands", q_gap_islands, ORACLE_GAP_ISLANDS)
