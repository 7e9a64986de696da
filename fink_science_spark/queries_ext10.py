"""Query registry, wave 11: the mergeable-sketch family.

Bloom-filter runtime join pruning, histogram quantile sketches, and
exact heavy hitters — the "compact summary of a huge side" operators a
100 TB curation pipeline leans on once full shuffles stop being an
option (operators/sketches.py for the scale arguments). All three
return EXACT answers; the sketch only prunes or pre-aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.queries import _fan_out, _t, _table_bytes
from fink_science_spark.queries_ext import (
    ORACLE_DEDUP_MINHASH_LSH as _ORACLE_MINHASH,
    ORACLE_DEDUP_NGRAM_JACCARD as _ORACLE_JACCARD,
    _doc_shingles,
)
from fink_science_spark.queries_ext6 import ORACLE_DECONTAMINATE as _ORACLE_DECON
from fink_science_spark.queries_ext9 import ORACLE_UDTF_SESSIONS as _ORACLE_UDTF_SESSIONS
from fink_science_spark.operators.dedup import jaccard_ppjoin_pairs
from fink_science_spark.operators.sketches import (
    bloom_bits_for,
    bloom_might_contain,
    build_bloom_bitset,
    heavy_hitters,
    histogram_quantiles,
    histogram_quantiles_oracle_sql,
)
from fink_science_spark.registry import register

# --------------------------------------------------------------------------
# bloom_prune_join: revenue of lineitems belonging to urgent high-value
# orders, with the fact side pruned by a Bloom bitset of the dim keys
# BEFORE any join machinery runs.
#
# At 100 TB the dim side (here: filtered orders) is often too large to
# broadcast as a hash table but its KEY SET fits a few hundred KB of
# Bloom bits. The bitset probe is a pure codegen predicate on the fact
# scan, so ~99.8% of non-matching lineitems (fp ≈ 0.24% at 16 bits/key)
# never reach the join exchange. False positives are eliminated by the
# real equi-join that follows — the result is exactly the plain join,
# which is what the oracle checks.
# --------------------------------------------------------------------------

_BLOOM_PRICE_MIN = 150_000.0
_BLOOM_K = 4


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")

    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > F.lit(_BLOOM_PRICE_MIN))
    ).select("o_orderkey")

    n_keys = dim.count()
    m_bits = bloom_bits_for(max(n_keys, 1))
    bitset = build_bloom_bitset(dim, "o_orderkey", m_bits, k=_BLOOM_K)

    pruned = lineitem.filter(
        bloom_might_contain("l_orderkey", bitset, m_bits, k=_BLOOM_K)
    )
    return (
        pruned.join(dim, pruned.l_orderkey == dim.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_BLOOM_PRUNE_JOIN = f"""
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN (SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_totalprice > {_BLOOM_PRICE_MIN!r}) dim
  ON l_orderkey = o_orderkey
GROUP BY l_returnflag
ORDER BY l_returnflag
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
# lm_quality_buckets: CCNet-style language-model quality scoring — train
# a bigram LM with stupid backoff on half the corpus (even doc ids),
# score EVERY document by average negative log2-likelihood, and bucket
# into head/middle/tail by score terciles.
#
# This is the classic perplexity-filter move of web-corpus curation
# (CCNet buckets CommonCrawl by KenLM perplexity terciles). Scale shape:
# the LM tables are corpus aggregates (vocab-sized — broadcast back);
# the scoring pass is tokenize → explode → two broadcast joins → one
# per-doc hash aggregation, so the 100 TB document side shuffles only
# (doc_id, partial sums). Tercile cutpoints come from the histogram
# quantile sketch (no global sort — the naive ntile(3) over all docs
# would be a single-partition window).
#
# Cross-engine determinism: every per-bigram log-likelihood is dyadically
# quantized (floor(x·2¹²+0.5)/2¹²) before summation — each term then
# carries ≤17 significant bits and a ≤64-term doc sum stays exact in a
# double, so hash-aggregate summation order cannot move the score (the
# host_pagerank / trailing_mean lesson, queries_ext9.py).
# --------------------------------------------------------------------------

_LM_BACKOFF = 0.4          # stupid-backoff discount
_LM_Q = float(1 << 12)     # dyadic log-likelihood quantum
_LM_T1, _LM_T2 = 1.0 / 3.0, 2.0 / 3.0
_LM_CUT_BINS = 64


def _lm_quant(col):
    return F.floor(col * F.lit(_LM_Q) + F.lit(0.5)) / F.lit(_LM_Q)


def q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    # fan the narrow (doc_id, text) rows out BEFORE tokenize/explode: the
    # single-row-group test file scans as ONE task, and this subtree is
    # re-evaluated by every broadcast build below (bigram model, unigrams,
    # n_train) — joblog measured four sequential ~0.2-0.4 s single-task
    # jobs here (no-op at scale, see queries._fan_out)
    base = _fan_out(
        spark, sf_dir, "documents",
        docs.select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", toks.alias("toks"))
    pairs = (
        base.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(toks)), j -> "
                    "struct(element_at(toks, j - 1) AS prev, "
                    "element_at(toks, j) AS w))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.prev", "p.w")
    )
    train = pairs.filter(F.col("doc_id") % 2 == 0)

    c2 = train.groupBy("prev", "w").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    bigram_model = c2.join(c1, "prev")

    train_toks = (
        base.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("toks").alias("w"))
    )
    uni = train_toks.groupBy("w").agg(F.count("*").alias("cu"))
    n_train = train_toks.agg(F.count("*").alias("n_train"))

    p = F.coalesce(
        F.col("c2").cast("double") / F.col("c1"),
        F.lit(_LM_BACKOFF) * (F.col("cu").cast("double") / F.col("n_train")),
        F.lit(_LM_BACKOFF) / F.col("n_train"),
    )
    per_doc = (
        pairs.join(F.broadcast(bigram_model), ["prev", "w"], "left")
        .join(F.broadcast(uni), ["w"], "left")
        .join(F.broadcast(n_train))
        .select("doc_id", _lm_quant(F.log2(p)).alias("ll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(-F.sum("ll") / F.count("*"), 6).alias("nll"),
        )
    )
    # per_doc feeds both the cutpoint sketch and the final projection —
    # materialize it once (doc-count-sized, tiny) so the train/score
    # pipeline with its three broadcast builds doesn't run twice.
    per_doc = per_doc.localCheckpoint(eager=False)
    # Evaluate the cutpoints EAGERLY (a 1-row result, the bounded-summary
    # contract of the bloom/PQ builds) and inline them as literals —
    # persist() would leave an unpersisted cache entry per invocation
    # that both pins storage memory and distorts repeat-run benchmarks
    # via CacheManager plan dedup.
    cut_row = (
        histogram_quantiles(
            per_doc.withColumn("grp", F.lit(1)),
            "grp",
            "nll",
            bins=_LM_CUT_BINS,
            qs=(_LM_T1, _LM_T2),
            q_names=("t1", "t2"),
        )
        .select("t1", "t2")
        .first()
    )
    t1, t2 = float(cut_row["t1"]), float(cut_row["t2"])
    return (
        per_doc.select(
            "doc_id",
            "n_bigrams",
            "nll",
            F.when(F.col("nll") <= F.lit(t1), F.lit("head"))
            .when(F.col("nll") <= F.lit(t2), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def _oracle_lm_quality_buckets() -> str:
    quant = f"floor(log2(p) * {_LM_Q!r} + 0.5) / {_LM_Q!r}"
    cuts_sql = histogram_quantiles_oracle_sql(
        "per_doc_g",
        "grp",
        "nll",
        bins=_LM_CUT_BINS,
        qs=(_LM_T1, _LM_T2),
        q_names=("t1", "t2"),
    )
    return f"""
WITH toksrc AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, u['prev'] AS prev, u['w'] AS w
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(2, len(toks)),
                                 j -> {{'prev': toks[j - 1], 'w': toks[j]}})) AS u
    FROM toksrc WHERE len(toks) >= 2
  )
),
c2 AS (
  SELECT prev, w, count(*)::BIGINT AS c2 FROM pairs
  WHERE doc_id % 2 = 0 GROUP BY prev, w
),
c1 AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY prev),
bigram_model AS (SELECT c2.prev, c2.w, c2.c2, c1.c1 FROM c2 JOIN c1 USING (prev)),
train_toks AS (
  SELECT unnest(toks) AS w FROM toksrc WHERE doc_id % 2 = 0
),
uni AS (SELECT w, count(*)::BIGINT AS cu FROM train_toks GROUP BY w),
n_train AS (SELECT count(*)::BIGINT AS n_train FROM train_toks),
scored AS (
  SELECT doc_id,
         coalesce(CAST(m.c2 AS DOUBLE) / m.c1,
                  {_LM_BACKOFF!r} * (CAST(u.cu AS DOUBLE) / t.n_train),
                  {_LM_BACKOFF!r} / t.n_train) AS p
  FROM pairs
  LEFT JOIN bigram_model m ON pairs.prev = m.prev AND pairs.w = m.w
  LEFT JOIN uni u ON pairs.w = u.w
  CROSS JOIN n_train t
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(-sum({quant}) / count(*), 6) AS nll
  FROM scored GROUP BY doc_id
),
per_doc_g AS (SELECT *, 1 AS grp FROM per_doc),
cuts AS ({cuts_sql})
SELECT doc_id, n_bigrams, nll,
       CASE WHEN nll <= t1 THEN 'head'
            WHEN nll <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM per_doc, cuts
ORDER BY doc_id
"""


ORACLE_LM_QUALITY_BUCKETS = _oracle_lm_quality_buckets()

# --------------------------------------------------------------------------
# pq_compression: product-quantization codes for the embedding store —
# split each 64-dim vector into 4 subspaces of 16 dims, train a
# 4-centroid codebook per subspace (deterministic hash-ranked seeds + one
# distributed Lloyd round), and emit each vector's 4 codes plus its
# reconstruction error. 4 codes × 2 bits ≈ 1 byte vs 256 bytes of
# float32 — the 100 TB embedding-store compression move (PQ/ADC, the
# standard IVF-PQ layout; codes join the IVF cells from ann_ivf_topk).
#
# Scale shape: codebooks are (S × K) rows — broadcast back for
# assignment; training is one hash aggregation per Lloyd round over
# (s, cell, dim) partial sums; the embedding table never shuffles except
# its per-(vec, s) argmin window, keyed by vec_id (uniform). Seeds are
# the K hash-smallest vectors (driver-bounded collect, K rows).
#
# Cross-engine determinism (the ann_ivf_topk contract): every distance
# is rounded to 9 decimals before an argmin (ties → smaller cell);
# Lloyd means are rounded to 6 decimals per dimension.
# --------------------------------------------------------------------------

_PQ_S = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (total 64)
_PQ_K = 4        # centroids per subspace


def _pq_ip(a, b):
    """Sequential left-fold inner product — fixed summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Deterministic-training memo (the _IVF_CODEBOOKS pattern): the codebook
# is a pure function of the input table, so re-deriving it per query call
# only costs time; a cold process reproduces the identical rows.
_PQ_CB_CACHE: dict[str, list[tuple[int, int, list[float]]]] = {}


def _pq_trained(spark: SparkSession, sf_dir: str):
    """Shared PQ pieces: (subs, assign, cb1) — the subspace explode, the
    argmin assigner, and the one-Lloyd-round codebook. Used by both
    pq_compression (codes + error) and pq_adc_topk (ADC search)."""
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.queries import _t

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("s"),
                        F.slice("v", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
                    )
                    for s in range(_PQ_S)
                ]
            )
        ).alias("p"),
    ).select("vec_id", "p.s", "p.sv")

    def assign(cb: DataFrame) -> DataFrame:
        score = F.round(
            _pq_ip(F.col("cv"), F.col("cv"))
            - F.lit(2.0) * _pq_ip(F.col("sv"), F.col("cv")),
            9,
        )
        # Reduce the N·K scored join with a map-side-combinable
        # min(struct(score, cell)) hash aggregate — identical winner to
        # the (score ASC, cell ASC) row_number it replaces (struct
        # comparison is lexicographic; scores have no nulls). The
        # previous window form SORTED the full N·K join output with
        # both subspace arrays on every row — ~70 GB of spill at the
        # ×64 replica stress (131M rows × ~550 B), a multi-minute hang;
        # here the arrays are projected out before the shuffle, the
        # partial aggregate reduces each partition to its (vec, s)
        # groups, and cv re-attaches from the broadcast codebook.
        scored = subs.join(F.broadcast(cb), "s").select(
            "vec_id",
            "s",
            "sv",
            F.struct(score.alias("sc"), F.col("cell").alias("cell")).alias(
                "__b"
            ),
        )
        best = (
            scored.groupBy("vec_id", "s")
            .agg(F.min("__b").alias("__b"), F.first("sv").alias("sv"))
            .select("vec_id", "s", "sv", F.col("__b.cell").alias("cell"))
        )
        return best.join(F.broadcast(cb), ["s", "cell"])

    cb1_data = _PQ_CB_CACHE.get(sf_dir)
    if cb1_data is None:
        seed_rows = (
            e.orderBy(hash64(F.col("vec_id").cast("string")), "vec_id")
            .limit(_PQ_K)
            # bounded-collect: PQ codebook seed rows, hard limit(_PQ_K) above
            .collect()
        )
        cb0 = spark.createDataFrame(
            [
                (s, cell, list(r["v"][s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]))
                for s in range(_PQ_S)
                for cell, r in enumerate(seed_rows)
            ],
            "s long, cell long, cv array<double>",
        )
        m1 = assign(cb0)
        cb1_rows = (
            m1.select("s", "cell", F.posexplode("sv").alias("i", "x"))
            .groupBy("s", "cell", "i")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("s", "cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("i", "m"))),
                    lambda t: t["m"],
                ).alias("cv")
            )
            # bounded-collect: _PQ_S*_PQ_K centroid rows (Lloyd partials aggregated distributed-side)
            .collect()
        )
        cb1_data = [(r["s"], r["cell"], list(r["cv"])) for r in cb1_rows]
        _PQ_CB_CACHE[sf_dir] = cb1_data
    # Materialize the trained codebook (S × K rows — driver-bounded like
    # the IVF codebook) so downstream consumers reference a literal table
    # instead of re-running the training subtree per consumer.
    cb1 = spark.createDataFrame(
        cb1_data, "s long, cell long, cv array<double>"
    )
    return subs, assign, cb1


_PQ_Q = float(1 << 20)  # dyadic quantum for per-subspace distances:
# d² < 8 → 3 integer + 20 fraction bits per term, a 4-term sum stays
# exact in a double, so hash-aggregate summation order cannot flip the
# round(,6) output (the host_pagerank / trailing_mean lesson).


def _pq_d2_quant(sv, cv):
    d2 = F.aggregate(
        F.zip_with(sv, cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(d2 * F.lit(_PQ_Q) + F.lit(0.5)) / F.lit(_PQ_Q)


def q_pq_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs, assign, cb1 = _pq_trained(spark, sf_dir)
    m2 = assign(cb1)
    d2r = _pq_d2_quant(F.col("sv"), F.col("cv"))
    code_cols = [
        F.max(F.when(F.col("s") == s, F.col("cell"))).alias(f"c{s}")
        for s in range(_PQ_S)
    ]
    return (
        m2.select("vec_id", "s", "cell", d2r.alias("d2"))
        .groupBy("vec_id")
        .agg(*code_cols, F.round(F.sum("d2"), 6).alias("recon_err"))
        .orderBy("vec_id")
    )


def _pq_score_sql(sv: str, cv: str) -> str:
    return (
        f"round(list_inner_product({cv}, {cv}) - "
        f"2.0 * list_inner_product({sv}, {cv}), 9)"
    )


def _pq_cte_prefix() -> str:
    """Shared oracle CTE chain through the trained-codebook assignment
    ``a2`` (columns: vec_id, s, sv, cell, cv, rn) — the SQL replay of
    :func:`_pq_trained` + ``assign(cb1)``."""
    from fink_science_spark.functions.hashing import hash64_sql

    h = hash64_sql("vec_id::VARCHAR")
    sd, s_, k = _PQ_SUBDIM, _PQ_S, _PQ_K
    score = _pq_score_sql
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
subs AS (
  SELECT vec_id, g.s::BIGINT AS s,
         v[g.s * {sd} + 1 : g.s * {sd} + {sd}] AS sv
  FROM e, generate_series(0, {s_ - 1}) g(s)
),
rk AS (
  SELECT vec_id, row_number() OVER (ORDER BY {h}, vec_id) AS rk FROM e
),
cb0 AS (
  SELECT subs.s, (rk.rk - 1)::BIGINT AS cell, subs.sv AS cv
  FROM subs JOIN rk ON subs.vec_id = rk.vec_id
  WHERE rk.rk <= {k}
),
a1 AS (
  SELECT subs.vec_id, subs.s, subs.sv, cb0.cell,
         row_number() OVER (PARTITION BY subs.vec_id, subs.s
             ORDER BY {score('subs.sv', 'cb0.cv')} ASC, cb0.cell ASC) AS rn
  FROM subs JOIN cb0 ON subs.s = cb0.s
),
m1 AS (SELECT vec_id, s, sv, cell FROM a1 WHERE rn = 1),
upd AS (
  SELECT s, cell, g.i AS i, round(avg(sv[g.i]), 6) AS m
  FROM m1, generate_series(1, {sd}) g(i)
  GROUP BY s, cell, g.i
),
cb1 AS (SELECT s, cell, list(m ORDER BY i) AS cv FROM upd GROUP BY s, cell),
a2 AS (
  SELECT subs.vec_id, subs.s, subs.sv, cb1.cell, cb1.cv,
         row_number() OVER (PARTITION BY subs.vec_id, subs.s
             ORDER BY {score('subs.sv', 'cb1.cv')} ASC, cb1.cell ASC) AS rn
  FROM subs JOIN cb1 ON subs.s = cb1.s
)"""


def _oracle_pq_compression() -> str:
    sd, s_ = _PQ_SUBDIM, _PQ_S
    code_cols = ",\n       ".join(
        f"max(CASE WHEN s = {s} THEN cell END)::BIGINT AS c{s}" for s in range(s_)
    )
    return (
        _pq_cte_prefix()
        + f""",
m2 AS (
  SELECT vec_id, s, cell,
         floor(list_sum(list_transform(generate_series(1, {sd}),
               i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))) * {_PQ_Q!r} + 0.5)
           / {_PQ_Q!r} AS d2
  FROM a2 WHERE rn = 1
)
SELECT vec_id,
       {code_cols},
       round(sum(d2), 6) AS recon_err
FROM m2 GROUP BY vec_id
ORDER BY vec_id
"""
    )


ORACLE_PQ_COMPRESSION = _oracle_pq_compression()

# --------------------------------------------------------------------------
# pq_adc_topk: asymmetric-distance ANN over the PQ codes — the search
# path that makes PQ useful. Each query precomputes a (subspace, cell)
# lookup table of quantized subspace distances to the trained codebook;
# corpus vectors are then ranked by the SUM OF 4 TABLE LOOKUPS on their
# codes — the full vectors never participate in scoring.
#
# Scale shape: the LUT is (queries × S × K) rows — broadcast; the corpus
# side contributes only its code rows (1 byte of payload per vector at
# production widths vs 256 bytes of float32 — the reason ADC scans
# 100 TB stores that raw vectors cannot). The relational join-aggregate
# form here is the oracle-checkable twin; the production kernel is the
# blocked mapInPandas scan of operators/similarity with the LUT as a
# numpy matrix (same plan family as ann_cosine_topk).
#
# Determinism: LUT entries are dyadically quantized (_pq_d2_quant), so
# the 4-term score sum is exact and order-independent; ranking ties
# break by ascending corpus id in both engines.
# --------------------------------------------------------------------------

_ADC_K = 3  # results per query


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    subs, assign, cb1 = _pq_trained(spark, sf_dir)
    codes = assign(cb1).select("vec_id", "s", "cell")
    qsubs = subs.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cb1), "s").select(
        "qid", "s", "cell", _pq_d2_quant(F.col("qsv"), F.col("cv")).alias("qd2")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "cell"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("approx_d2"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("approx_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_K)
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            "rank",
            F.round("approx_d2", 6).alias("approx_d2"),
        )
        .orderBy("qid", "rank")
    )


def _oracle_pq_adc_topk() -> str:
    sd = _PQ_SUBDIM
    return (
        _pq_cte_prefix()
        + f""",
codes AS (SELECT vec_id, s, cell FROM a2 WHERE rn = 1),
qsubs AS (SELECT vec_id AS qid, s, sv AS qsv FROM subs WHERE vec_id % 20 = 0),
lut AS (
  SELECT q.qid, q.s, c.cell,
         floor(list_sum(list_transform(generate_series(1, {sd}),
               i -> (q.qsv[i] - c.cv[i]) * (q.qsv[i] - c.cv[i])))
               * {_PQ_Q!r} + 0.5) / {_PQ_Q!r} AS qd2
  FROM qsubs q JOIN cb1 c ON q.s = c.s
),
scored AS (
  SELECT l.qid, codes.vec_id, sum(l.qd2) AS approx_d2
  FROM codes JOIN lut l ON codes.s = l.s AND codes.cell = l.cell
  WHERE codes.vec_id != l.qid
  GROUP BY l.qid, codes.vec_id
),
ranked AS (
  SELECT qid, vec_id, approx_d2,
         row_number() OVER (PARTITION BY qid
             ORDER BY approx_d2 ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id AS cid, rank, round(approx_d2, 6) AS approx_d2
FROM ranked WHERE rank <= {_ADC_K}
ORDER BY qid, rank
"""
    )


ORACLE_PQ_ADC_TOPK = _oracle_pq_adc_topk()

# --------------------------------------------------------------------------
# stream_heavy_hitters: the sketch family on the streaming surface —
# per-token frequency state maintained across micro-batches with
# applyInPandasWithState (update mode: each batch re-emits the tokens it
# touched), heavy threshold applied to the materialized final state.
#
# Scale shape: the state store is keyed by token (vocabulary-sized, not
# corpus-sized); each micro-batch shuffles only its own token partial
# counts. At web scale the stateless tokenize stage would pre-filter
# through a per-batch candidate pass exactly like the batch operator —
# the state layout is unchanged. The final emission of an availableNow
# run equals the batch aggregate, so the batch heavy-hitters SQL is the
# exact oracle.
# --------------------------------------------------------------------------


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from fink_science_spark.streaming.shell import (
        run_to_memory,
        scoped_shuffle_partitions,
        state_partitions,
    )

    schema = _t(spark, sf_dir, "documents").schema

    def update(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"token": [key[0]], "cnt": [n]})

    # the pandas update runs over every token row of its group, so its
    # work grows with the source: one store per 2 MB of documents, the
    # input _fan_out gives one Python task (measured on the x8 replica,
    # 4 cores: width 1 5.2 s, 2 3.6 s, 4 3.0 s, 8 3.4 s; at sf0.1 one
    # store is fastest, 1.6 s against 2.2 s at width 8)
    width = state_partitions(
        spark, _table_bytes(sf_dir, "documents"), bytes_per_store=2 << 20
    )
    with scoped_shuffle_partitions(spark, width):
        from fink_science_spark.streaming.shell import stream_table_load

        stream = stream_table_load(

            spark.readStream.schema(schema).format("parquet"),

            sf_dir,

            "documents",

        )
        toks = stream.select(
            F.explode(F.split("text", " ")).alias("token")
        ).filter(F.col("token") != "")
        out = toks.groupBy("token").applyInPandasWithState(
            update,
            outputStructType="token string, cnt long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        sink = run_to_memory(
            out, f"hh_{uuid.uuid4().hex[:8]}", spark, output_mode="update"
        )

    # Materialize the final state (vocabulary-sized) before returning —
    # the MemorySink otherwise retains every update-mode emission in
    # driver memory for as long as the returned frame reads it.
    from pyspark.sql.window import Window

    w = Window.partitionBy("token").orderBy(F.col("cnt").desc())
    final = (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("token", "cnt")
        # executor-side materialization (vocabulary-sized) instead of the
        # previous collect()+createDataFrame driver round-trip: same
        # sink-release effect (the checkpointed RDD no longer references
        # the memory sink) without funneling the token table through the
        # driver twice (r9, guide §5 "the driver should do no data work")
        .localCheckpoint(eager=True)
    )
    totals = final.agg(F.sum("cnt").alias("__nt"))
    return (
        final.join(F.broadcast(totals))
        .filter(F.col("cnt") * F.lit(_HH_M) > F.col("__nt"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") / F.col("__nt"), 6).alias("share"),
        )
        .orderBy("token")
    )


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

_US_PER_DAY = 86_400_000_000  # 1 day in microseconds (module-wide)
_RS_DAY_US = _US_PER_DAY  # alias kept for the resample family — the purchase
# series is sparse at daily resolution, so the fill path is exercised
# (a WEEKLY grid had zero empty buckets in every fixture)


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.queries import _events_us

    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts_us", "value", "event_id")
    )
    day = (F.col("ts_us") - (F.col("ts_us") % F.lit(_RS_DAY_US))) / F.lit(
        _RS_DAY_US
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
  SELECT user_id, (ts_us - (ts_us % {_RS_DAY_US})) / {_RS_DAY_US} AS day,
         value,
         row_number() OVER (
           PARTITION BY user_id, (ts_us - (ts_us % {_RS_DAY_US})) / {_RS_DAY_US}
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
    from fink_science_spark.queries import _events_us

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
    from fink_science_spark.queries_ext6 import _U_DENOM

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
    from fink_science_spark.queries_ext6 import _U_DENOM

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
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).filter(F.col("event_type") == "purchase")
    t = ((F.col("ts_us") - (F.col("ts_us") % F.lit(_RS_DAY_US))) / F.lit(
        _RS_DAY_US
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
         (epoch_us(ts) - (epoch_us(ts) % {_RS_DAY_US})) / {_RS_DAY_US} AS t,
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


# --------------------------------------------------------------------------
# pmi_collocations: top bigram collocations by pointwise mutual
# information — the corpus-analysis staple for multi-word-expression
# mining. PMI = ln(P(a,b) / (P(a)P(b))) with a minimum-count floor.
#
# Scale shape: bigram and unigram counts are the only shuffles (both
# map-combinable, vocabulary-sized outputs); the PMI algebra and top-k
# run on the aggregate. Determinism: PMI's argument is a ratio of two
# EXACT int64 products (c2·N² / B·ca·cb — bounds checked < 2^53, so the
# doubles are exactly representable before the one ln+round); ties
# break lexicographically.
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    # fan out before tokenize/explode: the bigram and unigram branches
    # each re-ran the chain in the ONE scan task (joblog: two 0.47 s
    # single-task jobs); no-op at scale (queries._fan_out)
    base = _fan_out(
        spark, sf_dir, "documents",
        docs.select("doc_id", "text"),
        key="doc_id",
    ).select(toks.alias("toks"))
    pairs = (
        base.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(toks)), j -> "
                    "struct(element_at(toks, j - 1) AS a, "
                    "element_at(toks, j) AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    c2 = pairs.groupBy("a", "b").agg(F.count("*").alias("c2"))
    n_big = c2.agg(F.sum("c2").alias("n_big"))
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    num = (F.col("c2") * F.col("n_tok") * F.col("n_tok")).cast("double")
    den = (F.col("n_big") * F.col("ca") * F.col("cb")).cast("double")
    return (
        c2.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(n_big))
        .select("a", "b", "c2", F.round(F.log(num / den), 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(_PMI_TOPK)
    )


ORACLE_PMI_COLLOCATIONS = f"""
WITH toksrc AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT u['a'] AS a, u['b'] AS b
  FROM (
    SELECT unnest(list_transform(generate_series(2, len(toks)),
                                 j -> {{'a': toks[j - 1], 'b': toks[j]}})) AS u
    FROM toksrc WHERE len(toks) >= 2
  )
),
uni AS (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(toks) AS w FROM toksrc) GROUP BY w
),
n_tok AS (SELECT sum(c)::BIGINT AS n_tok FROM uni),
c2 AS (SELECT a, b, count(*)::BIGINT AS c2 FROM pairs GROUP BY a, b),
n_big AS (SELECT sum(c2)::BIGINT AS n_big FROM c2)
SELECT c2.a, c2.b, c2.c2,
       round(ln(CAST(c2.c2 * t.n_tok * t.n_tok AS DOUBLE)
                / CAST(g.n_big * ua.c * ub.c AS DOUBLE)), 6) AS pmi
FROM c2
JOIN uni ua ON c2.a = ua.w
JOIN uni ub ON c2.b = ub.w
CROSS JOIN n_tok t CROSS JOIN n_big g
WHERE c2.c2 >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, c2.a, c2.b
LIMIT {_PMI_TOPK}
"""

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
# decontaminate_bloom: benchmark decontamination with a Bloom-pruned
# first phase — identical semantics (and oracle) to `decontaminate`,
# but the eval-suite n-gram set reaches the executors as a compact
# bitset and only the surviving ~0.3% of training grams enter the
# exact broadcast-join verify.
#
# Why it exists: the exact path broadcasts the full distinct eval-gram
# hash set (8 B/gram in a hash table with overhead — tens of GB at a
# 10⁹-gram eval suite). The bitset is 16 bits/gram (4–32× smaller) and
# the probe is pure codegen on the scan, so the expensive join only
# sees bloom survivors; false positives are eliminated by the exact
# join that follows. Same two-phase shape as bloom_prune_join.
# --------------------------------------------------------------------------


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.functions.text import tokens, word_shingles
    from fink_science_spark.queries import _t
    from fink_science_spark.queries_ext6 import _DECON_MOD, _DECON_N

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    grams = (
        docs.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(word_shingles("toks", _DECON_N))
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .select("doc_id", hash64("g").alias("h"))
    )
    # eval_grams feeds THREE consumers (the sizing count, the bitset
    # build, and the exact-verify broadcast join) — materialize it once
    # instead of re-running the corpus tokenize+shingle scan each time.
    eval_grams = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_eval = eval_grams.count()
    m_bits = bloom_bits_for(max(n_eval, 1))
    bitset = build_bloom_bitset(eval_grams, "h", m_bits)
    train_grams = grams.filter(F.col("doc_id") % _DECON_MOD != 0)
    candidates = train_grams.filter(bloom_might_contain("h", bitset, m_bits))
    return (
        candidates.join(F.broadcast(eval_grams), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") >= F.lit(1))
    )


# --------------------------------------------------------------------------
# dedup_jaccard_ppjoin: the SAME exact-Jaccard-pairs answer as
# dedup_ngram_jaccard, computed by prefix filtering (PPJoin) instead of
# posting-list C(k,2) expansion — the variant whose candidate volume is
# immune to stop-shingle skew, so it needs no max_doc_freq recall cap.
# Shares dedup_ngram_jaccard's oracle verbatim (same answer by design).
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# dup_span_profile: per-document duplicated-span metrics (the RefinedWeb /
# Lee-et-al. "what fraction of this doc is copied from elsewhere in the
# corpus" diagnostic that drives substring-level dedup decisions).
#
# A position's 5-gram is "duplicated" iff that gram occurs in >1 distinct
# document. Per doc: fraction of gram positions that are duplicated, and
# the longest CONSECUTIVE duplicated run (in tokens: run + 4), computed
# with the gaps-and-islands window (pos - row_number is constant within a
# run). Scale shape: the gram table is the standard posting-list explode;
# the distinct + groupBy(h) are map-combinable; the islands window
# partitions by doc (bounded partitions). The dup fraction is rounded
# HALF_UP in exact integer arithmetic ((2e6*dup + n) DIV (2n)) — no
# float-division boundary can diverge between engines.
# --------------------------------------------------------------------------

_SPAN_K = 5


def q_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplicated 5-gram coverage + longest duplicated run per doc."""
    from pyspark.sql.window import Window

    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.functions.text import word_shingles
    from fink_science_spark.queries_ext import _doc_tokens

    k = _SPAN_K
    docs = _doc_tokens(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.greatest(F.size("toks") - (k - 1), F.lit(0)).cast("long").alias("n_grams"),
        word_shingles("toks", k).alias("__sh"),
    )
    grams = (
        base.select("doc_id", F.posexplode_outer("__sh").alias("pos0", "__g"))
        .filter(F.col("__g").isNotNull())
        .select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), hash64("__g").alias("h")
        )
    )
    gdf = (
        grams.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("__ndocs"))
    )
    dups = grams.join(gdf, "h").filter(F.col("__ndocs") > 1)
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        dups.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "__grp")
        .agg(F.count("*").alias("__run"))
    )
    per = runs.groupBy("doc_id").agg(
        F.sum("__run").alias("n_dup"), F.max("__run").alias("__maxrun")
    )
    out = (
        base.drop("__sh")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(
                F.col("n_grams") > 0,
                F.expr(
                    "CAST((2000000 * coalesce(n_dup, 0) + n_grams) "
                    "DIV (2 * n_grams) AS DOUBLE) / 1000000.0"
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
            F.coalesce(F.col("__maxrun") + (k - 1), F.lit(0))
            .cast("long")
            .alias("longest_dup_tokens"),
        )
    )
    return out


def _oracle_dup_span_profile() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext import _DOCS_TOK_CTE

    k = _SPAN_K
    gram_hash = hash64_sql(f"array_to_string(list_slice(toks, i, i + {k - 1}), ' ')")
    return f"""
WITH {_DOCS_TOK_CTE},
base AS (
  SELECT doc_id, greatest(len(toks) - {k - 1}, 0)::BIGINT AS n_grams, toks
  FROM tok
),
g AS (
  SELECT doc_id, u['pos'] AS pos, u['h'] AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 0)),
                                 i -> {{'pos': i, 'h': {gram_hash}}})) AS u
    FROM base
  )
),
gdf AS (
  SELECT h, count(*) AS ndocs
  FROM (SELECT DISTINCT h, doc_id FROM g) GROUP BY h
),
dups AS (
  SELECT g.doc_id, g.pos,
         g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
  FROM g JOIN gdf ON g.h = gdf.h WHERE gdf.ndocs > 1
),
runs AS (
  SELECT doc_id, grp, count(*)::BIGINT AS run FROM dups GROUP BY doc_id, grp
),
per AS (
  SELECT doc_id, sum(run)::BIGINT AS n_dup, max(run)::BIGINT AS maxrun
  FROM runs GROUP BY doc_id
)
SELECT b.doc_id, b.n_grams,
       coalesce(p.n_dup, 0)::BIGINT AS n_dup,
       CASE WHEN b.n_grams > 0
            THEN ((2000000 * coalesce(p.n_dup, 0) + b.n_grams)
                  // (2 * b.n_grams))::DOUBLE / 1000000.0
            ELSE 0.0 END AS dup_frac,
       coalesce(p.maxrun + {k - 1}, 0)::BIGINT AS longest_dup_tokens
FROM base b LEFT JOIN per p ON b.doc_id = p.doc_id
"""


def q_dedup_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (threshold 0.5) via prefix-filtered
    set-similarity join (operators/dedup.jaccard_ppjoin_pairs)."""
    return jaccard_ppjoin_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles", threshold=0.5
    )


# --------------------------------------------------------------------------
# image_phash_dedup: perceptual-hash near-duplicate detection over binary
# image assets — decode (mapInPandas Arrow kernel, real decoders slot in
# via register_codec) → 60-bit average-hash signature → pigeonhole banded
# Hamming join (operators/dedup.hamming_pairs, shared with SimHash).
#
# The asset store is modeled deterministically: every document's blob is
# a 64-byte (8×8) deterministic fake image, and every 7th asset also has
# a "re-encoded" variant (one byte bumped +16) — the near-duplicate pair
# the query must find. With a REAL image decoder the same plan clusters
# visually-similar assets; with the md5-fake codec only planted variants
# and exact content clones land within the Hamming radius (avalanche).
# Pixel bytes never shuffle: only (asset_id, 8-byte signature) rows leave
# the decode stage.
# --------------------------------------------------------------------------

_PHASH_VARIANT_BASE = 1_000_000
_PHASH_MOD = 7


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash near-dup pairs (Hamming ≤ 3) over fake-decoded 8×8 assets."""
    from fink_science_spark.operators.dedup import hamming_pairs
    from fink_science_spark.operators.multimodal import image_ahash
    from fink_science_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5("text"),
        F.md5(F.concat(F.col("text"), F.lit("a"))),
        F.md5(F.concat(F.col("text"), F.lit("b"))),
        F.md5(F.concat(F.col("text"), F.lit("c"))),
    )
    base = docs.select(F.col("doc_id").alias("asset_id"), hx.alias("hx"))
    # re-encoded variant: byte 3 (hex chars 5-6) bumped +16 mod 256 —
    # pure string surgery on the hex payload, decoded by the same kernel
    b3 = F.conv(F.substring("hx", 5, 2), 16, 10).cast("int")
    nhx = F.concat(
        F.substring("hx", 1, 4),
        F.lpad(F.lower(F.conv(((b3 + 16) % 256).cast("string"), 10, 16)), 2, "0"),
        F.expr("substring(hx, 7)"),
    )
    variants = base.filter(F.col("asset_id") % _PHASH_MOD == 0).select(
        (F.col("asset_id") + F.lit(_PHASH_VARIANT_BASE)).alias("asset_id"),
        nhx.alias("hx"),
    )
    assets = base.unionByName(variants).select(
        "asset_id", F.unhex("hx").alias("blob")
    )
    # the union of two single-row-group scans yields TWO tasks, so the
    # decode+ahash kernel ran nearly serially (joblog: 0.67 s 2-task job);
    # fan the tiny (asset_id, 64 B blob) rows out first (no-op at scale)
    assets = _fan_out(spark, sf_dir, "documents", assets, key="asset_id")
    sigs = image_ahash(assets, "asset_id", "blob", width=8, height=8, bits=60)
    return hamming_pairs(
        sigs, "asset_id", "ahash", max_hamming=3, bits=60, chunks=4
    )


# --------------------------------------------------------------------------
# hard_negatives: contrastive-training pair mining — for each anchor,
# the top-k corpus vectors inside the "similar but NOT near-duplicate"
# cosine band [lo, hi). Positives come from the dedup family
# (semantic_dedup / dedup_embedding_cosine); this supplies the hard
# negatives that make the embedding model actually learn margins.
#
# Scale shape: the anchor batch is the bounded side (the ANN contract,
# SCALING.md) — it broadcasts onto one corpus scan; the band filter
# sits below the per-anchor top-k window so out-of-band rows never
# reach the rank exchange. Cosines round to 9 decimals before the rank
# (ties -> smallest corpus id), per the ANN determinism contract.
# --------------------------------------------------------------------------

_HN_LO, _HN_HI, _HN_K = 0.15, 0.30, 3


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 in-band (0.15 <= cos < 0.30) negatives per anchor vector,
    via the ANN block kernel with band masking (one corpus scan, local
    top-k per partition, tiny merge)."""
    from fink_science_spark.operators.similarity import cosine_topk_blocked
    from fink_science_spark.queries import _t

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = cosine_topk_blocked(
        corpus, anchors, "cid", "cv", "aid", "av",
        k=_HN_K, band=(_HN_LO, _HN_HI),
    )
    return out.select("aid", F.col("cid").alias("neg_id"), "rank", "cos")


ORACLE_HARD_NEGATIVES = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
a AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT a.aid, e.vec_id,
         round(list_inner_product(a.av, e.v) /
               sqrt(list_inner_product(a.av, a.av) *
                    list_inner_product(e.v, e.v)), 9) AS cosr
  FROM a JOIN e ON e.vec_id != a.aid
),
banded AS (
  SELECT aid, vec_id, cosr,
         row_number() OVER (PARTITION BY aid
             ORDER BY cosr DESC, vec_id ASC) AS rank
  FROM scored WHERE cosr >= {_HN_LO!r} AND cosr < {_HN_HI!r}
)
SELECT aid, vec_id AS neg_id, rank, round(cosr, 6) AS cos
FROM banded WHERE rank <= {_HN_K}
"""


# --------------------------------------------------------------------------
# temperature_mix_sample: the multilingual temperature-sampling recipe —
# resample languages toward p_l^alpha / sum(p^alpha) with alpha = 0.5,
# flattening the head (en) and boosting the tail, with per-doc keep
# rates DERIVED FROM THE CORPUS (two-phase: one tiny count aggregation,
# rates broadcast back, then the same md5-uniform per-row draw as
# domain_mix_sample — no RNG state, no second shuffle).
#
# Determinism contract: alpha = 0.5 so the exponent is sqrt — correctly
# rounded by IEEE in every engine (general pow is libm and diverges);
# each sqrt share is floor-quantized to a 2^-40 dyadic BEFORE the
# cross-language sum, so the normalizer is an exact small-integer sum in
# the double domain, not an order-dependent float fold.
# --------------------------------------------------------------------------

_TMIX_KEEP = 0.5  # target kept fraction of the corpus
_TMIX_Q = float(1 << 40)


def q_temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature resampling over the lang column."""
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.queries import _t
    from fink_science_spark.queries_ext6 import _U_DENOM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    tot = counts.agg(F.sum("n_l").alias("n_tot"))
    q_share = F.floor(
        F.sqrt(F.col("n_l") / F.col("n_tot")) * F.lit(_TMIX_Q)
    )  # exact 2^-40 dyadic numerator
    shares = counts.join(F.broadcast(tot)).select(
        "lang", "n_l", "n_tot", q_share.alias("__q")
    )
    norm = shares.agg(F.sum("__q").alias("__qsum"))  # exact integer sum
    rates = shares.join(F.broadcast(norm)).select(
        "lang",
        "n_l",
        F.least(
            F.lit(1.0),
            (F.col("__q") / F.col("__qsum"))
            * F.lit(_TMIX_KEEP)
            * (F.col("n_tot") / F.col("n_l")),
        ).alias("keep_rate"),
    )
    u = F.round(
        hash64(F.col("doc_id").cast("string"), seed="tmix") / F.lit(_U_DENOM), 9
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .withColumn("u", u)
        .filter(F.col("u") < F.col("keep_rate"))
        .select(
            "doc_id", "lang", F.round("keep_rate", 9).alias("keep_rate"), "u"
        )
    )


def _oracle_temperature_mix_sample() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext6 import _U_DENOM

    return f"""
WITH counts AS (SELECT lang, count(*)::BIGINT AS n_l FROM documents GROUP BY lang),
tot AS (SELECT sum(n_l)::BIGINT AS n_tot FROM counts),
shares AS (
  SELECT lang, n_l, n_tot,
         floor(sqrt(n_l / n_tot::DOUBLE) * {_TMIX_Q!r}) AS q
  FROM counts CROSS JOIN tot
),
norm AS (SELECT sum(q) AS qsum FROM shares),
rates AS (
  SELECT lang, n_l,
         least(1.0, (q / qsum) * {_TMIX_KEEP!r} * (n_tot / n_l::DOUBLE))
             AS keep_rate
  FROM shares CROSS JOIN norm
),
draws AS (
  SELECT d.doc_id, d.lang, r.keep_rate,
         round({hash64_sql('doc_id::VARCHAR', seed='tmix')} / {_U_DENOM!r}, 9)
             AS u
  FROM documents d JOIN rates r USING (lang)
)
SELECT doc_id, lang, round(keep_rate, 9) AS keep_rate, u
FROM draws WHERE u < keep_rate
"""


# --------------------------------------------------------------------------
# stream_dedup_lsh: NEAR-duplicate detection on the streaming surface —
# the MinHash band index lives in streaming STATE instead of a stored
# table. Each micro-batch computes its own band rows (shingle + md5
# signature per row — a narrow map, no aggregation before the stateful
# operator); state keyed by (band, band_hash) holds the ids seen in
# that bucket; a new arrival emits candidate pairs against the bucket's
# history plus within-batch pairs, then joins the bucket. The final
# pair SET is independent of how the stream is chunked (every
# same-bucket pair is emitted exactly when its later element arrives),
# so the verified output equals the batch dedup_minhash_lsh answer and
# SHARES ITS ORACLE. State size = the band index itself — the same
# artifact dedup_incremental persists to parquet, here owned by the
# state store (RocksDB in production).
# --------------------------------------------------------------------------


# physical stateful groups per band for stream_dedup_lsh: enough to
# spread across executors (4 bands × 64 = 256 groups), few enough that
# per-group Python overhead is amortized over ~hundreds of band_hashes
_SDL_STATE_BUCKETS = 64


def q_stream_dedup_lsh(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    n_map: int | None = None,
    n_state_partitions: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup pairs == batch dedup_minhash_lsh.

    ``source_dir``/``max_files_per_trigger`` let tests stream the same
    documents from a multi-file split one file per trigger, proving the
    band-index state survives micro-batch boundaries; the registered
    form streams the single sf parquet (one availableNow batch)."""
    import hashlib
    import os
    import uuid

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from fink_science_spark.functions.hashing import (
        MINHASH_PRIME,
        minhash_perm_coeffs,
    )
    from fink_science_spark.functions.text import tokens, word_shingles
    from fink_science_spark.queries_ext import _MH_BANDS, _MH_NUM
    from fink_science_spark.streaming.shell import scoped_shuffle_partitions

    rpb = _MH_NUM // _MH_BANDS
    coeffs = minhash_perm_coeffs(_MH_NUM)

    def band_rows(batches):
        # Python twin of the hash28→min-perm signature (bit-identical to
        # the JVM/oracle family — pinned by test_properties), computed
        # per row because the stateful operator below must be the ONLY
        # aggregation in the streaming query. Vectorized: md5 once per
        # UNIQUE shingle (batch-level cache), all 16 affine permutations
        # as one numpy broadcast, per-doc mins via minimum.reduceat —
        # exact int64 arithmetic, no per-token Python loop (the naive
        # row-loop form measured ~17 s at sf0.1; this is ~1 s).
        import numpy as np

        arr_a = np.array([a for a, _ in coeffs], dtype=np.int64)
        arr_b = np.array([b for _, b in coeffs], dtype=np.int64)
        cache: dict[str, int] = {}

        def h28(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                cache[s] = v
            return v

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"band": [], "band_hash": [], "content": []}
                ).astype({"band": "int32"})
                continue
            sh_lists = pdf["shingles"].tolist()
            lens = np.array([len(s) for s in sh_lists], dtype=np.int64)
            hs = np.array(
                [h28(s) for lst in sh_lists for s in lst], dtype=np.int64
            )
            offsets = np.zeros(len(sh_lists), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # (num_hashes, total_tokens) permuted hashes; a,h < 2^28 so
            # a*h + b < 2^57 — exact in int64
            perms = (arr_a[:, None] * hs[None, :] + arr_b[:, None]) % MINHASH_PRIME
            sig = np.minimum.reduceat(perms, offsets, axis=1)  # (16, n_docs)
            n_docs = sig.shape[1]
            # exact-duplicate collapse, streaming edition (the batch
            # family's round-5 fix): the state pipeline works on
            # CONTENT keys — md5 of the shingle array (its Spark twin
            # md5(concat_ws(US, shingles)) re-derives the same key
            # batch-side for member expansion). k byte-equal clones
            # collide in EVERY band and would cost C(k,2) emissions per
            # band (measured: a ×64 replica run blew the 1 GB driver
            # result cap and timed out); content-keyed state makes
            # candidate volume track DISTINCT content only.
            contents = [
                hashlib.md5("\x1f".join(lst).encode()).hexdigest()
                for lst in sh_lists
            ]
            bands, keys, conts = [], [], []
            for bnd in range(_MH_BANDS):
                part = sig[bnd * rpb : (bnd + 1) * rpb]
                bands.append(np.full(n_docs, bnd, dtype=np.int32))
                keys.extend(
                    ",".join(str(x) for x in part[:, j]) for j in range(n_docs)
                )
                conts.extend(contents)
            yield pd.DataFrame(
                {
                    "band": np.concatenate(bands),
                    "band_hash": keys,
                    "content": conts,
                }
            )

    def update(key, pdfs, state: GroupState):
        # Bucket-level state (the cogroup_reconcile lesson): the physical
        # group is (band, bucket) — ~hundreds of groups — and the state
        # holds EVERY band_hash of the bucket as a dict of DISTINCT
        # content keys encoded in three parallel arrays (hashes, flat
        # contents, cumulative offsets). A new content pairs with every
        # OTHER content previously seen under the same band_hash —
        # candidate volume and state size both track distinct content;
        # clone MEMBERSHIP (which ids carry each content) is resolved
        # batch-side at expansion time, so a re-arriving content updates
        # nothing and emits nothing.
        if state.exists:
            hashes, flat, offs = state.get
            seen_map: dict[str, list[str]] = {}
            prev = 0
            for h, end in zip(hashes, offs):
                seen_map[h] = [str(c) for c in flat[prev:end]]
                prev = end
        else:
            seen_map = {}
        a_out, b_out = [], []
        for pdf in pdfs:
            for h, c in zip(pdf["band_hash"], pdf["content"]):
                lst = seen_map.setdefault(h, [])
                if c in lst:
                    continue
                for old in lst:
                    lo, hi = (old, c) if old < c else (c, old)
                    a_out.append(lo)
                    b_out.append(hi)
                lst.append(c)
        hashes_out = list(seen_map)
        flat_out: list[str] = []
        offs_out: list[int] = []
        for h in hashes_out:
            flat_out.extend(seen_map[h])
            offs_out.append(len(flat_out))
        state.update((hashes_out, flat_out, offs_out))
        yield pd.DataFrame({"content_a": a_out, "content_b": b_out})

    schema = _t(spark, sf_dir, "documents").schema
    # stateful-stage width: with bucket-level state there are only
    # bands × _SDL_STATE_BUCKETS (= 256) physical groups and the
    # per-partition cost is dominated by state-store instance overhead
    # (commit files, provider setup), not Python work — a no-op stateful
    # stream floors at ~1.5 s with 4 partitions vs ~1.9 s with 8 and
    # 9-12 s with 32 at sf0.1. Not state_partitions' width 1 either: the
    # per-bucket pandas update is real work that a wider host spreads,
    # and one store saves nothing here (measured at sf0.1 on a 4-core
    # host: width 4 6.3-6.4 s, width 1 6.2-6.3 s). On a real cluster
    # scale this with group count, not core count.
    n_part = n_state_partitions if n_state_partitions is not None else 4
    with scoped_shuffle_partitions(spark, n_part):
        from fink_science_spark.streaming.shell import stream_table_load

        reader = spark.readStream.schema(schema).format("parquet")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if source_dir is not None:
            stream = reader.load(source_dir)
        else:
            # layout-aware load (bare file vs replica part-file dir) —
            # see stream_table_load; a pathGlobFilter on the parent dir
            # silently streamed NOTHING for the dir layout (round-6 find)
            stream = stream_table_load(reader, sf_dir, "documents")
        # the source is file-granular (one task per file per micro-batch);
        # fan the raw rows out across the executors BEFORE the expensive
        # per-doc work (interpreted shingle HOFs + the Python signature
        # kernel) — without this a single-file trigger runs the whole
        # tokenize→hash pipeline on ONE core (measured 11 s of the old
        # 13 s stream at sf0.1; raw text is the narrowest thing to
        # shuffle, ~120 B/doc here)
        # Fan-out is sized to the DATA (~2 MB of raw text per map task,
        # clamped to [8, cluster parallelism]): a tiny trigger doesn't pay
        # 32 python-worker handshakes for a 5000-row batch (measured
        # 4.5 s → 3.3 s at sf0.1), and a 100 GB trigger still spreads
        # across every core.
        if n_map is None:
            par = spark.sparkContext.defaultParallelism
            try:
                src = source_dir or sf_dir
                total = sum(
                    os.path.getsize(os.path.join(src, f))
                    for f in os.listdir(src)
                    if f.endswith(".parquet")
                    and (source_dir is not None or f == "documents.parquet")
                )
                n_map = max(8, min(par, int(total // (2 << 20)) + 1))
            except OSError:  # non-local source URI — size unknown
                n_map = par
        docs = stream.repartition(n_map).select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias("shingles"),
        ).filter(F.size("shingles") > 0)
        rows = docs.mapInPandas(
            band_rows, schema="band int, band_hash string, content string"
        ).withColumn(
            # physical-group key: hash-bucket of the band_hash. Grouping
            # stays deterministic and batch-order-independent; only the
            # packing of logical band_hash groups into Python calls
            # changes.
            "bucket",
            F.pmod(F.xxhash64("band_hash"), F.lit(_SDL_STATE_BUCKETS)),
        )
        cands = rows.groupBy("band", "bucket").applyInPandasWithState(
            update,
            outputStructType="content_a string, content_b string",
            stateStructType=(
                "hashes array<string>, flat array<string>, offs array<int>"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # Production drain (r3 verdict #1): candidate pairs land in a
        # parquet APPEND sink via foreachBatch — a distributed
        # executor-side write per micro-batch — and the exact-Jaccard
        # verify runs as a follow-on BATCH join over those files. The
        # previous memory-sink + driver collect() funneled the
        # unbounded pair stream (volume grows with corpus dup density)
        # through the driver; now nothing pair-shaped ever touches it.
        # The sink root follows the session's streaming checkpoint
        # location when one is configured (the shared filesystem every
        # multi-node deployment must already provide for the state
        # store); a driver-local tempdir is only the single-node
        # fallback.
        import tempfile

        base = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
        pair_dir = os.path.join(
            base or tempfile.gettempdir(), f"sdl_pairs_{uuid.uuid4().hex[:8]}"
        )

        def drain(batch_df: DataFrame, _epoch: int) -> None:
            batch_df.write.mode("append").parquet(pair_dir)

        q = (
            cands.writeStream.foreachBatch(drain)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    from pyspark.errors import AnalysisException

    try:
        raw_pairs = spark.read.parquet(pair_dir)
        # the same logical pair can collide in several bands (and
        # therefore several sink files); the verify groupBy below folds
        # those duplicates away, so no separate dropDuplicates shuffle is
        # needed. The eager localCheckpoint materializes the
        # (LSH-bounded, pair-sized) result on the executors so the sink
        # directory can be removed immediately — previously one parquet
        # dir leaked per invocation.
        pairs = raw_pairs.localCheckpoint(eager=True)
    except AnalysisException:  # zero micro-batches -> no sink dir
        pairs = spark.createDataFrame([], "content_a string, content_b string")
    finally:
        # delete through the Hadoop FileSystem API so a remote sink root
        # (hdfs://, s3a:// — the checkpointLocation case) is actually
        # removed; a local shutil.rmtree would silently no-op there and
        # leak one parquet dir per invocation
        try:
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(pair_dir)
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception:  # noqa: BLE001 - best-effort local fallback
            import shutil

            shutil.rmtree(pair_dir, ignore_errors=True)
    # Batch follow-on: verify once per CONTENT pair, expand to member
    # pairs combinatorially (the batch family's re-expansion). Content
    # groups come from ONE corpus scan (md5(concat_ws(US, shingles)) is
    # the exact Spark twin of the kernel's content key); the same
    # logical content pair can collide in several bands/files, so a
    # pair-sized distinct folds duplicates before the shingle verify.
    # Clone pairs (members of one content group) are exact duplicates by
    # construction — jaccard exactly 1.0 with no shingle work. Nothing
    # quadratic-in-clone-multiplicity is ever verified or shuffled: the
    # ×64 replica stress (64-way clone groups) previously blew the
    # driver result cap through a forced-broadcast id-level melt.
    docs_content = (
        _fan_out(
            spark, sf_dir, "documents",
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            key="doc_id",
        )
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokens("text"), 3)).alias(
                "shingles"
            ),
        )
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            "shingles",
            F.md5(F.concat_ws("\x1f", "shingles")).alias("content"),
        )
    )
    groups = docs_content.groupBy("content").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members"),
        F.first("shingles").alias("shingles"),
    # consumed THREE times below (ga, gb broadcast builds + clones):
    # without the checkpoint each consumer re-ran the whole
    # scan→shingle→md5→agg subtree as its own single-task job (measured
    # 2×1.5 s inside this query at sf0.1); one eager materialization of
    # the content-group table (LSH-bounded, pair-scale) feeds all three
    ).localCheckpoint(eager=True)
    cpairs = pairs.dropDuplicates(["content_a", "content_b"])
    ga = groups.select(
        F.col("content").alias("content_a"),
        F.col("members").alias("__ma"),
        F.col("shingles").alias("__sa"),
    )
    gb = groups.select(
        F.col("content").alias("content_b"),
        F.col("members").alias("__mb"),
        F.col("shingles").alias("__sb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jacc = inter / (F.size("__sa") + F.size("__sb") - inter)
    cross = (
        cpairs.join(ga, "content_a")
        .join(gb, "content_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.explode("__ma").alias("ma"),
            F.col("__mb"),
            "jaccard",
        )
        .select(
            "ma",
            F.explode("__mb").alias("mb"),
            "jaccard",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    clones = (
        groups.filter(F.size("members") >= 2)
        .select(F.posexplode("members").alias("__i", "id_a"), "members")
        .select(
            "id_a",
            F.explode(
                F.slice(
                    "members", F.col("__i") + 2, F.size("members")
                )
            ).alias("id_b"),
        )
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(clones)


# --------------------------------------------------------------------------
# shard_manifest: reproducible-training bookkeeping — one manifest row
# per training shard with an ORDER-INDEPENDENT content checksum (bit_xor
# of the 60-bit content hashes: any engine, any partitioning, any row
# order produces the same fingerprint), token totals, and id bounds.
# This is the artifact a training run pins so "the data changed" is a
# one-row diff instead of a forensic exercise. Pure map + one
# map-combinable aggregation; shard keys are md5-uniform (no skew).
# --------------------------------------------------------------------------

_MANIFEST_SHARDS = 8


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest: doc count, token total, xor content checksum."""
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.functions.text import token_count
    from fink_science_spark.queries import _t

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(
            hash64(F.col("doc_id").cast("string"), seed="shuffle"),
            F.lit(_MANIFEST_SHARDS),
        ).cast("int").alias("shard"),
        hash64("text").alias("__content"),
        token_count("text").cast("long").alias("__ntok"),
    )
    return docs.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("__ntok").alias("total_tokens"),
        F.call_function("bit_xor", F.col("__content")).alias("content_checksum"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _oracle_shard_manifest() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.functions.text import tokens_sql

    h_shard = hash64_sql("doc_id::VARCHAR", seed="shuffle")
    return f"""
WITH d AS (
  SELECT doc_id,
         ({h_shard}) % {_MANIFEST_SHARDS} AS shard,
         {hash64_sql('text')} AS content,
         len({tokens_sql('text')})::BIGINT AS ntok
  FROM documents
)
SELECT shard::INT AS shard, count(*) AS n_docs,
       sum(ntok)::BIGINT AS total_tokens,
       bit_xor(content) AS content_checksum,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM d GROUP BY shard
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
    from fink_science_spark.queries import _events_us

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
# semantic_dedup: SemDeDup-style semantic deduplication of the embedding
# store — cluster with the TRAINED IVF coarse quantizer (the codebook is
# shared with ann_ivf_topk via the per-dataset memo: train once, reuse
# everywhere), then inside each cluster drop every vector that has an
# earlier (smaller-id) neighbor with cosine >= tau. Keep-the-first is the
# paper's keep-one-exemplar rule made deterministic.
#
# Scale shape: assignment is a pure-map Arrow kernel against the
# broadcast codebook (vectors never shuffle for it); pruning shuffles
# each vector ONCE to its cluster and is O(cell^2) per cell — the
# SemDeDup contract is many clusters => small cells (same bounded-cell
# caveat as cosine_pairs_bucketed's max_bucket, documented in
# SCALING.md). Cosines are rounded to 9 decimals before every decision
# on BOTH engine sides per the ANN determinism contract.
# --------------------------------------------------------------------------

_SEM_TAU = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster embeddings with the trained IVF codebook; greedily keep
    the smallest-id exemplar among same-cluster vectors with cos >= tau."""
    import numpy as np

    from fink_science_spark.queries import _t
    from fink_science_spark.queries_ext3 import _ivf_codebook

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Exact-duplicate collapse on the embedding VALUE before the O(cell²)
    # per-cell greedy: byte-equal vectors land in the same cell and are
    # cosine-1.0 neighbors of each other, so a k-clone group inflates the
    # cell's pairwise matrix k² for information the group key already
    # carries (measured ×64 replica stress: 0.4 s → 25.6 s, the one
    # linear-in-data-BY-CELL-BLOWUP query in the family). The greedy is
    # collapse-safe because every group's EARLIEST member is its
    # representative: a rep is dropped iff some earlier same-cell vector
    # has cos ≥ τ, and the earliest such witness is itself a rep; every
    # non-rep member is dropped by its own earlier identical twin —
    # UNLESS the vector is degenerate (zero/NaN/inf norm), where numpy's
    # self-cosine is NaN and the pre-collapse greedy keeps every clone.
    # ``__selfdrop`` mirrors that exactly: Σx² finite-positive ⇔
    # cos(v, v) rounds to 1.0 ≥ τ.
    sq = F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
    grouped = (
        emb.groupBy("v")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.array_sort(F.collect_list("vec_id")).alias("__members"),
        )
        .withColumn(
            "__selfdrop",
            (sq > 0) & ~F.isnan(sq) & (sq < F.lit(float("inf"))),
        )
        .persist()
    )
    emb = grouped.select("vec_id", "v")
    trained = _ivf_codebook(spark, sf_dir)
    cent_ids = np.array([c for c, _ in trained], dtype=np.int64)
    CENT = np.array([v for _, v in trained], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cent_ids, CENT))

    def assign(batches):
        import pandas as pd

        ids_b, C = bc.value
        nc = np.sqrt((C * C).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(list(pdf["v"]), dtype=np.float64)
            nm = np.sqrt((M * M).sum(axis=1))
            S = np.round((M @ C.T) / (nm[:, None] * nc[None, :]), 9)
            # argmax returns the FIRST max -> smallest cell id on ties,
            # matching the oracle's (cos DESC, cell ASC) ranking
            a = S.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "cell": ids_b[a],
                    "v": pdf["v"].values,
                }
            )

    assigned = emb.mapInPandas(assign, "vec_id long, cell long, v array<double>")

    def prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        M = np.array(list(pdf["v"]), dtype=np.float64)
        nm = np.sqrt((M * M).sum(axis=1))
        C = np.round((M @ M.T) / (nm[:, None] * nm[None, :]), 9)
        dropped = np.triu(C >= _SEM_TAU, k=1).any(axis=0)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cell": pdf["cell"], "kept": ~dropped}
        )

    pruned = assigned.groupBy("cell").applyInPandas(
        prune, "vec_id long, cell long, kept boolean"
    )
    # fan the representative verdicts back out: the rep keeps its greedy
    # outcome; every other member of a non-degenerate group is dropped by
    # its earlier identical twin; degenerate clones are all kept (NaN
    # self-cosine never crosses τ in the pre-collapse greedy)
    return (
        pruned.join(
            grouped.select("vec_id", "__members", "__selfdrop"), "vec_id"
        )
        .select(
            F.col("vec_id").alias("__rep"),
            "cell",
            "kept",
            "__selfdrop",
            F.explode("__members").alias("vec_id"),
        )
        .select(
            "vec_id",
            "cell",
            F.when(F.col("vec_id") == F.col("__rep"), F.col("kept"))
            .otherwise(~F.col("__selfdrop"))
            .alias("kept"),
        )
    )


def _oracle_semantic_dedup() -> str:
    from fink_science_spark.queries_ext3 import _cos9_sql, _ivf_cells_cte_parts

    parts = _ivf_cells_cte_parts()
    parts.append(
        f"""dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos9_sql('a.v', 'b.v')} >= {_SEM_TAU!r})"""
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT c.vec_id, c.cell::BIGINT AS cell, (d.vec_id IS NULL) AS kept
FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""
    )


ORACLE_IMAGE_PHASH_DEDUP = f"""
WITH hx AS (
  SELECT doc_id AS asset_id,
         md5(text) || md5(text || 'a') || md5(text || 'b') || md5(text || 'c')
             AS hx
  FROM documents
),
px0 AS (
  SELECT asset_id,
         [('0x' || substr(hx, 2*i - 1, 2))::INT
          for i in generate_series(1, 64)] AS p
  FROM hx
),
pxall AS (
  SELECT asset_id, p FROM px0
  UNION ALL
  SELECT asset_id + {_PHASH_VARIANT_BASE} AS asset_id,
         [CASE WHEN i = 3 THEN (p[i] + 16) % 256 ELSE p[i] END
          for i in generate_series(1, 64)] AS p
  FROM px0 WHERE asset_id % {_PHASH_MOD} = 0
),
m AS (SELECT asset_id, p, list_avg(p) AS mean FROM pxall),
sig AS (
  SELECT asset_id,
         list_sum(list_transform(generate_series(1, 60),
            i -> CASE WHEN p[i] > mean THEN 1::BIGINT << (i - 1)
                 ELSE 0::BIGINT END))::BIGINT AS h
  FROM m
)
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       bit_count(xor(a.h, b.h)) AS hamming
FROM sig a JOIN sig b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.h, b.h)) <= 3
"""


# --------------------------------------------------------------------------
# dsir_select: Data Selection via Importance Resampling (Xie et al. 2023)
# — score every document by how much its hashed-unigram profile looks
# like a TARGET domain (here: lang='en') relative to the raw corpus,
# then keep the top-K. The standard "pick pretraining data that matches
# the downstream distribution" move.
#
#   feature b(tok)   = hash64(tok) mod B          (B tiny, e.g. 64)
#   weight  lw_b     = ln( p_target(b) / q_raw(b) )   (Laplace +1)
#   score(doc)       = sum over tokens of lw_{b(tok)}
#
# Scale shape: the token stream is the ONLY large flow and it feeds two
# map-combinable hash aggregates — (bucket) counts for the weight table
# (B rows, broadcast back) and (doc_id, bucket) counts for scoring; the
# final top-K is a tiny global sort. No join ever carries the corpus.
# Determinism: weights are dyadically quantized integers (2^-20 lanes),
# so the per-doc score is an EXACT int64 sum — engine/order independent
# — divided by a power of two only at output.
# --------------------------------------------------------------------------

_DSIR_B = 64  # hashed-feature buckets
_DSIR_K = 25  # selected documents
_DSIR_TARGET_LANG = "en"
_DSIR_Q = float(1 << 20)  # dyadic weight-quantization lanes


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.functions.hashing import hash64

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    # fan the narrow (doc_id, lang, text) rows out BEFORE tokenize/
    # explode/hash64 — the whole chain ran in the ONE scan task (joblog:
    # 0.87 s single-task job ahead of the persist); no-op at scale
    docs = _fan_out(
        spark, sf_dir, "documents",
        docs.select("doc_id", "lang", "text"),
        key="doc_id",
    )
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(toks).alias("w"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(hash64(F.col("w"), seed="dsir"), F.lit(_DSIR_B)).alias("bucket"),
    )
    # ONE corpus aggregate — (doc_id, lang, bucket) counts (lang is
    # functionally dependent on doc_id, so the key adds no cardinality).
    # Both the weight table and the scoring branch derive from THIS
    # exchange, which ReusedExchange computes once: the tokenize+explode
    # pass over the 100 TB corpus is paid exactly once (the earlier
    # two-independent-groupBys form re-ran it per branch).
    tok_counts = tok.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    # materialize once: the weight table is the BROADCAST side of the
    # scoring join, and broadcast builds run as a separate job that
    # exchange-reuse never connects to (same finding as the MinHash
    # signature table, operators/dedup.py) — without this the
    # tokenize+explode+agg pass over the corpus runs twice. The cached
    # table is (doc_id, lang, bucket, c) — ≤ 64 rows/doc, disk-spillable.
    tok_counts = tok_counts.persist()
    # weight table: B rows — target (lang='en') vs raw bucket counts;
    # the corpus totals are a window over those same B rows (no second
    # lineage of the corpus aggregate)
    wt = tok_counts.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("c")).otherwise(0)).alias(
            "ct"
        ),
        F.sum("c").alias("cr"),
    )
    wall = Window.partitionBy()
    wt = wt.select(
        "bucket",
        "ct",
        "cr",
        F.sum("ct").over(wall).alias("__nt"),
        F.sum("cr").over(wall).alias("__nr"),
    )
    # ln((ct+1)/(nt+B) / ((cr+1)/(nr+B))) as an exact int64 lane value
    lw_q = F.floor(
        F.log(
            ((F.col("ct") + F.lit(1)) * (F.col("__nr") + F.lit(_DSIR_B))).cast(
                "double"
            )
            / ((F.col("cr") + F.lit(1)) * (F.col("__nt") + F.lit(_DSIR_B))).cast(
                "double"
            )
        )
        * F.lit(_DSIR_Q)
        + F.lit(0.5)
    ).cast("long")
    weights = wt.select("bucket", lw_q.alias("lw_q"))
    per_doc = (
        tok_counts.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lw_q")).alias("score_q"),
            F.sum("c").alias("n_tok"),
        )
    )
    score = F.floor(
        F.col("score_q").cast("double") / F.lit(_DSIR_Q) * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tok", score.alias("dsir_score"))
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(_DSIR_K)
    )


ORACLE_DSIR_SELECT = f"""
WITH tok AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('dsir:' || w), 1, 15))::BIGINT % {_DSIR_B} AS bucket
  FROM (
    SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
    FROM documents
  )
),
wt AS (
  SELECT bucket,
         count(*) FILTER (lang = '{_DSIR_TARGET_LANG}')::BIGINT AS ct,
         count(*)::BIGINT AS cr
  FROM tok GROUP BY bucket
),
tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM wt),
weights AS (
  SELECT bucket,
         CAST(floor(ln(CAST((ct + 1) * (nr + {_DSIR_B}) AS DOUBLE)
                       / CAST((cr + 1) * (nt + {_DSIR_B}) AS DOUBLE))
                    * {_DSIR_Q!r} + 0.5) AS BIGINT) AS lw_q
  FROM wt, tot
),
per_doc AS (
  SELECT t.doc_id, sum(t.c * w.lw_q)::BIGINT AS score_q,
         sum(t.c)::BIGINT AS n_tok
  FROM (SELECT doc_id, bucket, count(*)::BIGINT AS c
        FROM tok GROUP BY doc_id, bucket) t
  JOIN weights w USING (bucket)
  GROUP BY t.doc_id
)
SELECT p.doc_id, d.lang, p.n_tok,
       floor(CAST(p.score_q AS DOUBLE) / {_DSIR_Q!r} * 1e6 + 0.5) / 1e6
         AS dsir_score
FROM per_doc p JOIN documents d USING (doc_id)
ORDER BY dsir_score DESC, p.doc_id
LIMIT {_DSIR_K}
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

    from fink_science_spark.queries import _events_us

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
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).select("user_id", "ts_us")
    day = F.floor(F.col("ts_us") / F.lit(_US_PER_DAY))
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
               CAST(floor(epoch_us(ts) / {_US_PER_DAY}) AS BIGINT) AS d
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

    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir).select("event_id", "user_id", "ts_us", "value")
    vq = F.floor(F.col("value") * F.lit(_RRW_Q) + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_RRW_DAYS * _US_PER_DAY, 0)
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
               RANGE BETWEEN {_RRW_DAYS * _US_PER_DAY} PRECEDING
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

    from fink_science_spark.queries import _events_us

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
    from fink_science_spark.queries_ext import _doc_shingles

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
WITH raw_edges AS (SELECT id_a, id_b FROM ({_ORACLE_MINHASH}) __mh),
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

    from fink_science_spark.queries import _events_us
    from fink_science_spark.queries_ext9 import _SESS_GAP_US

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

    from fink_science_spark.queries import _events_us

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
# correlated_subquery: TPC-H Q17-shaped correlated SCALAR subquery —
# "lineitems below 20% of their part's average quantity" — exercising
# Catalyst's subquery DECORRELATION: the optimizer must rewrite the
# per-row correlated aggregate into an aggregate-then-join (one
# per-part avg + one equi-join), not a re-executed subquery per row.
# The plan test pins exactly that. Revenue is summed in exact cents
# (int64) so the total is order/engine independent; the 0.2·avg
# threshold is the same two IEEE ops in both engines.
# --------------------------------------------------------------------------

_CSQ_BRANDS = ("Brand#1", "Brand#2")


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__csq_lineitem"
    )
    _t(spark, sf_dir, "part").createOrReplaceTempView(
        "__csq_part"
    )
    brands = ", ".join(f"'{b}'" for b in _CSQ_BRANDS)
    return spark.sql(
        f"""
        SELECT p.p_brand,
               count(*) AS n_small,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS small_revenue
        FROM __csq_lineitem l
        JOIN __csq_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ({brands})
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM __csq_lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
        GROUP BY p.p_brand
        ORDER BY p.p_brand
        """
    )


ORACLE_CORRELATED_SUBQUERY = f"""
SELECT p.p_brand,
       count(*)::BIGINT AS n_small,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS small_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN ({", ".join(f"'{b}'" for b in _CSQ_BRANDS)})
  AND l.l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
  )
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# --------------------------------------------------------------------------
# grouping_sets_id: explicit GROUPING SETS with grouping_id() —
# completes the multi-granularity aggregation family (rollup_counts /
# cube_counts cover the derived forms): arbitrary set lists in ONE scan
# via the same Expand, with grouping_id disambiguating NULL-as-ALL from
# NULL-as-value. Map-combinable before the single exchange.
# --------------------------------------------------------------------------


def q_grouping_sets_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "__gs_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


ORACLE_GROUPING_SETS_ID = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       count(*)::BIGINT AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""


# --------------------------------------------------------------------------
# set_ops_multiplicity: INTERSECT ALL / EXCEPT ALL — the bag-semantics
# set operators (the plain anti-join/union family in §2.6 is set-
# semantics). Spark plans both as a single hash aggregate computing
# per-key multiplicities then replaying min/difference counts — one
# shuffle each, no join. Inputs: customers with open vs fulfilled
# orders, a real "same key on both sides with multiplicity" workload.
# --------------------------------------------------------------------------


def q_set_ops_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = a.intersectAll(b).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    only_open = a.exceptAll(b).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_only")
    )
    return (
        both.join(only_open, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.coalesce("n_only", F.lit(0)).alias("n_only"),
        )
        .orderBy("o_custkey")
    )


ORACLE_SET_OPS_MULTIPLICITY = """
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
both_m AS (
  SELECT o_custkey, count(*)::BIGINT AS n_both
  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
  GROUP BY o_custkey
),
only_m AS (
  SELECT o_custkey, count(*)::BIGINT AS n_only
  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
  GROUP BY o_custkey
)
SELECT COALESCE(both_m.o_custkey, only_m.o_custkey) AS o_custkey,
       COALESCE(n_both, 0)::BIGINT AS n_both,
       COALESCE(n_only, 0)::BIGINT AS n_only
FROM both_m FULL OUTER JOIN only_m USING (o_custkey)
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# cogroup_reconcile: cross-source reconciliation via the COGROUPED
# Arrow surface (groupBy().cogroup().applyInPandas — the one PySpark
# UDF entry point the registry didn't yet exercise): events and orders
# are co-partitioned by key and each key's two record batches arrive in
# ONE Python call, which emits the per-key count/amount reconciliation
# row (the "do the two systems agree" data-quality report).
#
# Scale shape: both sides shuffle once on the key (the cogroup's
# required partitioning — same cost as the equivalent join) and the
# kernel is O(rows in key). Amounts are exact int64 cents summed inside
# the kernel; keys present on either side survive (3-arg form).
# --------------------------------------------------------------------------


def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "value"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    # cogroup by HASH BUCKET, not by raw key: FlatMapCoGroupsInPandas
    # makes one Python call per group, so per-key cogrouping pays the
    # call+Arrow constant |keys| times (measured 21.7 s at sf0.1 for
    # 15k keys). Bucketing amortizes that to a fixed 64 calls and the
    # per-key logic vectorizes as pandas groupby+merge inside the
    # kernel — the production cogroup pattern at any key cardinality.
    nb = 64
    evb = ev.withColumn("__b", F.pmod("k", F.lit(nb)))
    orb = orders.withColumn("__b", F.pmod("k", F.lit(nb)))

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        lv = pd.DataFrame(
            {
                "k": left["k"],
                "cents": np.floor(left["value"].to_numpy() * 100 + 0.5).astype(
                    "int64"
                ),
            }
        )
        rv = pd.DataFrame(
            {
                "k": right["k"],
                "cents": np.floor(
                    right["o_totalprice"].to_numpy() * 100 + 0.5
                ).astype("int64"),
            }
        )
        la = lv.groupby("k").agg(n_events=("cents", "size"), event_cents=("cents", "sum"))
        ra = rv.groupby("k").agg(n_orders=("cents", "size"), order_cents=("cents", "sum"))
        # nullable Int64 BEFORE the outer join: a plain join would
        # promote one-sided keys' columns to float64, rounding any cent
        # total past 2^53 — Int64 keeps missing as <NA>, exact at all
        # magnitudes, then fills to plain int64
        m = la.astype("Int64").join(ra.astype("Int64"), how="outer").reset_index()
        return pd.DataFrame(
            {
                "k": m["k"].astype("int64"),
                "n_events": m["n_events"].fillna(0).astype("int64"),
                "n_orders": m["n_orders"].fillna(0).astype("int64"),
                "event_cents": m["event_cents"].fillna(0).astype("int64"),
                "order_cents": m["order_cents"].fillna(0).astype("int64"),
            }
        )

    out = (
        evb.groupBy("__b")
        .cogroup(orb.groupBy("__b"))
        .applyInPandas(
            reconcile,
            schema="k long, n_events long, n_orders long, "
            "event_cents long, order_cents long",
        )
    )
    return out.orderBy("k")


ORACLE_COGROUP_RECONCILE = """
WITH e AS (
  SELECT user_id AS k, count(*)::BIGINT AS n_events,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS event_cents
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS n_orders,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
           AS order_cents
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(e.k, o.k) AS k,
       COALESCE(n_events, 0)::BIGINT AS n_events,
       COALESCE(n_orders, 0)::BIGINT AS n_orders,
       COALESCE(event_cents, 0)::BIGINT AS event_cents,
       COALESCE(order_cents, 0)::BIGINT AS order_cents
FROM e FULL OUTER JOIN o ON e.k = o.k
ORDER BY k
"""


# --------------------------------------------------------------------------
# cdc_apply: change-data-capture log compaction + apply — the lakehouse
# MERGE staple: an ordered change log (upserts + deletes) collapses to
# its last-writer-wins row per key, then merges onto the base snapshot.
# The log here is derived deterministically from events (purchase ⇒
# upsert of the account balance, error ⇒ delete), keyed onto supplier.
#
# Scale shape: compaction is ONE window shuffle on the log's key
# (row_number over (key, seq desc) → keep first) — the log, not the
# snapshot, is the high-churn side; the merge is a key-co-partitioned
# full-outer equi-join with the compacted log changed-keys-sized.
# Balances in exact int64 cents.
# --------------------------------------------------------------------------


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.queries import _events_us

    snap = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    n_keys = 100  # supplier key domain is 0..99 at every SF
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    log = ev.select(
        F.pmod("user_id", F.lit(n_keys)).alias("key"),
        F.col("ts_us").alias("seq"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("new_cents"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("seq").desc(), F.col("event_id").desc()
    )
    compacted = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "op", "new_cents")
    )
    # full-outer joins cannot broadcast in Spark (hint would be
    # ignored): the merge shuffles both sides on the key — at scale the
    # snapshot pays one co-partitioned pass, the compacted log is
    # changed-keys-sized
    merged = snap.join(compacted, snap.s_suppkey == compacted.key, "full_outer")
    return (
        merged.filter(F.coalesce(F.col("op"), F.lit("K")) != "D")
        .select(
            F.coalesce("s_suppkey", "key").alias("s_suppkey"),
            "s_name",
            F.when(F.col("op") == "U", F.col("new_cents"))
            .otherwise(F.col("bal_cents"))
            .alias("bal_cents"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_CDC_APPLY = """
WITH log AS (
  SELECT user_id % 100 AS key, epoch_us(ts) AS seq, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS new_cents
  FROM events WHERE event_type IN ('purchase', 'error')
),
compacted AS (
  SELECT key, op, new_cents FROM (
    SELECT *, row_number() OVER (PARTITION BY key
                                 ORDER BY seq DESC, event_id DESC) AS rn
    FROM log
  ) WHERE rn = 1
),
snap AS (
  SELECT s_suppkey, s_name,
         CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM supplier
)
SELECT COALESCE(s.s_suppkey, c.key) AS s_suppkey, s.s_name,
       CASE WHEN c.op = 'U' THEN c.new_cents ELSE s.bal_cents END AS bal_cents
FROM snap s FULL OUTER JOIN compacted c ON s.s_suppkey = c.key
WHERE COALESCE(c.op, 'K') <> 'D'
ORDER BY s_suppkey
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
    from fink_science_spark.queries import _events_us

    ev = _events_us(spark, sf_dir)
    bounds = ev.agg(
        F.floor(F.min("ts_us") / F.lit(_US_PER_DAY)).alias("__d0"),
        F.floor(F.max("ts_us") / F.lit(_US_PER_DAY)).alias("__d1"),
    )
    windows = (
        bounds.select(
            F.explode(F.sequence(F.col("__d0"), F.col("__d1"))).alias("day")
        )
        .filter(F.pmod("day", F.lit(7)) == 3)  # Sundays
        .select(
            "day",
            (F.col("day") * F.lit(_US_PER_DAY)).alias("ws"),
            (F.col("day") * F.lit(_US_PER_DAY) + F.lit(_IOJ_WINDOW_US)).alias(
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
    from fink_science_spark.queries_ext9 import _SESS_GAP_US

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
  SELECT CAST(floor(min(ts_us) / {_US_PER_DAY}) AS BIGINT) AS d0,
         CAST(floor(max(ts_us) / {_US_PER_DAY}) AS BIGINT) AS d1
  FROM ev
),
win AS (
  SELECT day, day * {_US_PER_DAY} AS ws,
         day * {_US_PER_DAY} + {_IOJ_WINDOW_US} AS we
  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds)
  WHERE day % 7 = 3
)
SELECT iv.user_id, iv.session_id,
       DATE '1970-01-01' + CAST(win.day AS INT) AS window_day,
       least(iv.end_us, win.we) - greatest(iv.start_us, win.ws) AS overlap_us
FROM iv JOIN win ON iv.start_us <= win.we AND win.ws <= iv.end_us
ORDER BY iv.user_id, iv.session_id, window_day
"""


register("bloom_prune_join", q_bloom_prune_join, ORACLE_BLOOM_PRUNE_JOIN)
register("sketch_quantiles", q_sketch_quantiles, ORACLE_SKETCH_QUANTILES)
register("heavy_hitters", q_heavy_hitters, ORACLE_HEAVY_HITTERS)
register("lm_quality_buckets", q_lm_quality_buckets, ORACLE_LM_QUALITY_BUCKETS)
register("pq_compression", q_pq_compression, ORACLE_PQ_COMPRESSION)
# stream_heavy_hitters: the final stateful emission equals the batch
# aggregate, so it shares the batch heavy-hitters oracle.
register("stream_heavy_hitters", q_stream_heavy_hitters, ORACLE_HEAVY_HITTERS)
register("pq_adc_topk", q_pq_adc_topk, ORACLE_PQ_ADC_TOPK)
register("resample_ffill", q_resample_ffill, ORACLE_RESAMPLE_FFILL)
register("feature_drift_psi", q_feature_drift_psi, ORACLE_FEATURE_DRIFT_PSI)
register("weighted_sample", q_weighted_sample, ORACLE_WEIGHTED_SAMPLE)
register("user_trend", q_user_trend, ORACLE_USER_TREND)
register("quantile_transform", q_quantile_transform, ORACLE_QUANTILE_TRANSFORM)
register("pmi_collocations", q_pmi_collocations, ORACLE_PMI_COLLOCATIONS)
# decontaminate_bloom: identical semantics to the exact path — the
# bloom only prunes; shares decontaminate's oracle.
register("decontaminate_bloom", q_decontaminate_bloom, _ORACLE_DECON)
# dedup_jaccard_ppjoin: prefix filtering changes the candidate set,
# not the answer — shares the exact-Jaccard-pairs oracle.
register("dedup_jaccard_ppjoin", q_dedup_jaccard_ppjoin, _ORACLE_JACCARD)
register("dup_span_profile", q_dup_span_profile, _oracle_dup_span_profile())
register("image_phash_dedup", q_image_phash_dedup, ORACLE_IMAGE_PHASH_DEDUP)
register("semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup())
register("hll_distinct_portable", q_hll_distinct_portable,
         _oracle_hll_distinct_portable())
register("shard_manifest", q_shard_manifest, _oracle_shard_manifest())
# stream_dedup_lsh: the chunk-independent candidate emission makes
# the verified streaming answer equal the batch LSH pairs — shares
# dedup_minhash_lsh's oracle.
register("stream_dedup_lsh", q_stream_dedup_lsh, _ORACLE_MINHASH)
register("temperature_mix_sample", q_temperature_mix_sample,
         _oracle_temperature_mix_sample())
register("hard_negatives", q_hard_negatives, ORACLE_HARD_NEGATIVES)
register("dsir_select", q_dsir_select, ORACLE_DSIR_SELECT)
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
register("sessions_native", q_sessions_native, _ORACLE_UDTF_SESSIONS)
register("cusum_changepoints", q_cusum_changepoints, ORACLE_CUSUM_CHANGEPOINTS)
register("correlated_subquery", q_correlated_subquery,
         ORACLE_CORRELATED_SUBQUERY)
register("grouping_sets_id", q_grouping_sets_id, ORACLE_GROUPING_SETS_ID)
register("set_ops_multiplicity", q_set_ops_multiplicity,
         ORACLE_SET_OPS_MULTIPLICITY)
register("cogroup_reconcile", q_cogroup_reconcile, ORACLE_COGROUP_RECONCILE)
register("cdc_apply", q_cdc_apply, ORACLE_CDC_APPLY)
register("interval_overlap_join", q_interval_overlap_join,
         _oracle_interval_overlap_join())
