"""Similarity-search and retrieval queries: exact and approximate
nearest neighbours (LSH, IVF, product quantization), reranking, BM25 and
fused retrieval, and embedding statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.exact import halfup6
from fink_science_spark.functions.hashing import hash64_sql
from fink_science_spark.functions.text import tokens, tokens_sql
from fink_science_spark.operators.similarity import (
    cosine_topk_blocked,
    ivf_topk_blocked,
    lsh_bucket_sql,
)
from fink_science_spark.registry import register
from fink_science_spark.tables import _fan_out, _t

# --------------------------------------------------------------------------
# Similarity search (M7) — embeddings
# --------------------------------------------------------------------------

_EMB_DIM = 64


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors (vec_id % 20 == 0)
    over the full corpus; JVM-side fold dot products, broadcast queries
    (SURVEY M7 similarity search, baseline path)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return cosine_topk_blocked(corpus, queries, "cid", "cv", "qid", "qv", k=5)


ORACLE_ANN_COSINE_TOPK = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN e c ON c.vec_id != q.qid
),
ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC) AS rank
  FROM scored
)
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= 5
"""
_LSH_BITS = 6


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 within sign-random-projection LSH buckets
    (6 hash-derived hyperplanes → 64 buckets) — the scale path that
    replaces the full corpus scan with a bucket equi-join (SURVEY M7)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return cosine_topk_blocked(
        corpus, queries, "cid", "cv", "qid", "qv", k=3,
        nbits=_LSH_BITS, dim=_EMB_DIM,
    )


ORACLE_ANN_LSH_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {lsh_bucket_sql('v', _LSH_BITS, _EMB_DIM)} AS bucket FROM e),
q AS (SELECT vec_id qid, v qv, bucket FROM b WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.qid
),
ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC) AS rank
  FROM scored
)
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= 3
"""


# sign-random-projection bits of the embedding-cosine LSH buckets (shared
# with dedup_embedding_cosine)
_COS_BITS = 6


# --------------------------------------------------------------------------
# IVF similarity search (M7: "an IVF or LSH-bucketed variant")
# --------------------------------------------------------------------------


_IVF_CELLS, _IVF_ROUNDS, _IVF_NPROBE, _IVF_K, _IVF_DIM = 8, 2, 2, 3, 64
_IVF_OVERSAMPLE = 4

# Train-once codebook memo, keyed by corpus directory. An IVF index
# amortizes its build: at 100 TB the coarse quantizer is trained once and
# persisted as a tiny codebook table; retraining per query would be a
# design bug, not a cost. This process-local memo is the in-repo analogue
# of that persisted table (training stays fully deterministic, so a cold
# process reproduces the identical codebook — nothing about correctness
# depends on the cache being warm).
_IVF_CODEBOOKS: dict[str, list[tuple[int, list[float]]]] = {}


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 with a TRAINED coarse quantizer: 8 centroids
    from a deterministic k-means||-style init (hash-ranked 4× oversample
    → driver-local maximin seed selection) + 2 distributed Lloyd rounds
    (train_ivf_centroids — mapInPandas partial sums, one persisted-scan
    per round), nprobe=2 probing, exact cosine inside the probed cells.
    One numpy block kernel per corpus partition (SURVEY M7 scale path).
    The oracle replays the identical training (oversample + unrolled
    maximin picks + unrolled Lloyd rounds in SQL) — cosines rounded to 9
    decimals before every argmax/argmin in both engines so assignment
    boundaries cannot flip on engine ulp noise."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    trained = _ivf_codebook(spark, sf_dir)
    cents = spark.createDataFrame(
        trained, "centid long, centv array<double>"
    )
    return ivf_topk_blocked(
        corpus, queries, cents, "cid", "cv", "qid", "qv", "centid", "centv",
        k=_IVF_K, nprobe=_IVF_NPROBE,
    )


def _ivf_codebook(spark: SparkSession, sf_dir: str) -> list:
    """The trained coarse quantizer for ``sf_dir`` (process-memoized —
    see _IVF_CODEBOOKS). Shared by every query that clusters the
    embedding table with this codebook (ann_ivf_topk, semantic_dedup)."""
    from fink_science_spark.operators.similarity import train_ivf_centroids

    trained = _IVF_CODEBOOKS.get(sf_dir)
    if trained is None:
        emb = _t(spark, sf_dir, "embeddings")
        corpus = emb.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        )
        trained = train_ivf_centroids(
            corpus, "cid", "cv", n_centroids=_IVF_CELLS, rounds=_IVF_ROUNDS,
            oversample=_IVF_OVERSAMPLE,
        )
        _IVF_CODEBOOKS[sf_dir] = trained
    return trained


def _cos9_sql(a: str, b: str) -> str:
    return (
        f"round(list_inner_product({a}, {b}) / "
        f"sqrt(list_inner_product({a}, {a}) * "
        f"list_inner_product({b}, {b})), 9)"
    )


def _ivf_cells_cte_parts() -> list[str]:
    """Oracle CTE chain replaying the full IVF training + final
    assignment: ends with ``cells AS (vec_id, v, cell)`` and ``af`` (the
    per-vector cell ranking). Shared prefix of every trained-codebook
    oracle (ann_ivf_topk, semantic_dedup)."""
    h = hash64_sql("vec_id::VARCHAR")
    cos9 = _cos9_sql

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)",
        f"""s AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) AS rk, v
  FROM e ORDER BY {h}, vec_id LIMIT {_IVF_CELLS * _IVF_OVERSAMPLE})""",
        "p1 AS (SELECT rk, v FROM s WHERE rk = 1)",
    ]
    # maximin greedy, one single-row CTE per seed: the candidate whose
    # LARGEST rounded cosine to the already-picked seeds is smallest
    for i in range(2, _IVF_CELLS + 1):
        prev_ps = [f"p{j}" for j in range(1, i)]
        coses = [cos9("s.v", f"{p}.v") for p in prev_ps]
        maxcos = coses[0] if len(coses) == 1 else f"greatest({', '.join(coses)})"
        not_in = ", ".join(f"{p}.rk" for p in prev_ps)
        parts.append(
            f"""p{i} AS (
  SELECT s.rk, s.v FROM s, {', '.join(prev_ps)}
  WHERE s.rk NOT IN ({not_in})
  ORDER BY {maxcos} ASC, s.rk ASC LIMIT 1)"""
        )
    seeds = " UNION ALL ".join(
        f"SELECT {i - 1} AS cell, v AS cv FROM p{i}"
        for i in range(1, _IVF_CELLS + 1)
    )
    parts.append(f"c0 AS ({seeds})")
    prev = "c0"
    for r in range(1, _IVF_ROUNDS + 1):
        parts += [
            f"""a{r} AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos9('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN {prev} c)""",
            f"m{r} AS (SELECT vec_id, v, cell FROM a{r} WHERE rn = 1)",
            f"""c{r}d AS (
  SELECT cell, g.i AS i, round(avg(v[g.i]), 6) AS m
  FROM m{r}, generate_series(1, {_IVF_DIM}) AS g(i)
  GROUP BY cell, g.i)""",
            f"c{r} AS (SELECT cell, list(m ORDER BY i) AS cv "
            f"FROM c{r}d GROUP BY cell)",
        ]
        prev = f"c{r}"
    parts += [
        f"""af AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos9('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN {prev} c)""",
        "cells AS (SELECT vec_id, v, cell FROM af WHERE rn = 1)",
    ]
    return parts


def _oracle_ann_ivf_topk() -> str:
    """The trained-IVF oracle: k-means training unrolled round-by-round
    as SQL CTEs (init = hash-ranked oversample + maximin greedy seed
    picks unrolled one CTE per seed; per-dimension means rounded like
    the engine's), then assignment, nprobe probing and in-cell exact
    ranking."""
    parts = _ivf_cells_cte_parts()
    parts += [
        f"qp AS (SELECT vec_id AS qid, cell FROM af "
        f"WHERE rn <= {_IVF_NPROBE} AND vec_id % 20 = 0)",
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 20 = 0)",
        """scored AS (
  SELECT q.qid, c.vec_id AS cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN qp ON qp.qid = q.qid
         JOIN cells c ON c.cell = qp.cell AND c.vec_id != q.qid)""",
        """ranked AS (
  SELECT qid, cid, cosr,
         row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, cid ASC)
             AS rank
  FROM scored)""",
    ]
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT qid, cid, rank, round(cosr, 6) AS cos
FROM ranked WHERE rank <= {_IVF_K}
"""
    )


ORACLE_ANN_IVF_TOPK = _oracle_ann_ivf_topk()


# --------------------------------------------------------------------------
# Embedding-table aggregates: per-label centroids + cohesion
# --------------------------------------------------------------------------


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids and cluster cohesion: mean vector
    per label (posexplode → (label, dim) avg — partial aggregation
    collapses the 64× row expansion to 10×64 rows per task before the
    shuffle), then the 10-row centroid table broadcast back onto members
    for the mean member→centroid cosine. The embedding-quality rollup a
    curation pipeline tracks per source/cluster."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("c")))
                ),
                lambda s: s["c"],
            ).alias("cent")
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    joined = emb.join(F.broadcast(cent), "label")
    cn = F.sqrt(dot(F.col("cent"), F.col("cent")))
    cos = dot(F.col("embedding"), F.col("cent")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * cn
    )
    return (
        joined.select("label", cn.alias("cn"), cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.first("cn"), 5).alias("centroid_norm"),
            F.round(F.avg("cos"), 5).alias("avg_cos"),
        )
    )


ORACLE_EMBEDDING_CENTROIDS = """
WITH ex AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS pos, embedding
  FROM embeddings
),
c AS (
  SELECT label, pos, avg(embedding[pos]) AS c FROM ex GROUP BY label, pos
),
cent AS (
  SELECT label, list(c ORDER BY pos) AS cent FROM c GROUP BY label
),
m AS (
  -- embedding elements cast to DOUBLE before multiplying: duckdb would
  -- otherwise multiply in FLOAT while Spark's lambda promotes to double
  SELECT e.label,
         list_sum([e.embedding[i]::DOUBLE * t.cent[i]
                   for i in generate_series(1, len(e.embedding))])
         / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                           for i in generate_series(1, len(e.embedding))]))
            * sqrt(list_sum([t.cent[i] * t.cent[i]
                             for i in generate_series(1, len(t.cent))])))
           AS cos,
         sqrt(list_sum([t.cent[i] * t.cent[i]
                        for i in generate_series(1, len(t.cent))])) AS cn
  FROM embeddings e JOIN cent t ON e.label = t.label
)
SELECT label, count(*) AS n_vecs,
       round(any_value(cn), 5) AS centroid_norm,
       round(avg(cos), 5) AS avg_cos
FROM m GROUP BY label
"""


# --------------------------------------------------------------------------
# ann_rerank: two-stage retrieval (retrieve -> rerank) — the standard
# similarity-search shape a curation pipeline runs at scale: a cheap
# recall stage (blocked brute-force/LSH cosine top-k) followed by a
# cross-feature model over the tiny candidate set. Beyond the reference
# (its crossmatch is single-stage); first-class per the build brief's
# similarity-search mandate.
#
# Scale shape: stage 1 is the proven mapInPandas block kernel (corpus
# never shuffles, local top-k merge). Stage 2 BROADCASTS the candidate
# list (|queries| x k rows) back against the embedding table for
# metadata — the corpus is streamed, never collected — and the frozen
# rerank MLP evaluates NATIVELY (the mlp_score_sql expression compiles
# under whole-stage codegen via F.expr; no Python in stage 2). All
# rerank features are rounded/exact, so both engines rank identical
# inputs.
# --------------------------------------------------------------------------

_RR_K1 = 10   # recall-stage candidates per query
_RR_K2 = 3    # final reranked neighbors


def _rr_feats() -> list[str]:
    """Rerank features as SQL exprs over the joined candidate row (shared
    verbatim between the Spark plan and the DuckDB oracle)."""
    return [
        "cos",
        "(CASE WHEN q_label = c_label THEN 1.0 ELSE 0.0 END)",
        f"(rank / {float(_RR_K1)!r})",
        "(least(q_norm, c_norm) / greatest(q_norm, c_norm))",
    ]


def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.models import mlp_score_sql
    from fink_science_spark.operators.similarity import cosine_topk_blocked

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    cand = cosine_topk_blocked(
        corpus, queries, "cid", "cv", "qid", "qv", k=_RR_K1
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    meta = emb.select("vec_id", "label", norm.alias("norm"))
    joined = (
        meta.join(
            F.broadcast(cand), meta.vec_id == cand.qid, "inner"
        )
        .select(
            "qid", "cid", "rank", "cos",
            F.col("label").alias("q_label"), F.col("norm").alias("q_norm"),
        )
        .join(F.broadcast(meta), F.col("cid") == meta.vec_id, "inner")
        .select(
            "qid", "cid", "rank", "cos", "q_label", "q_norm",
            F.col("label").alias("c_label"), F.col("norm").alias("c_norm"),
        )
    )
    rerank = F.expr(mlp_score_sql(_rr_feats()))
    w2 = Window.partitionBy("qid").orderBy(
        F.col("rr").desc(), F.col("cid").asc()
    )
    return (
        joined.withColumn("rr", rerank)
        .withColumn("rr_rank", F.row_number().over(w2))
        .filter(F.col("rr_rank") <= _RR_K2)
        .select(
            "qid", "cid", "rr_rank", "cos",
            F.round("rr", 6).alias("rerank_score"),
        )
    )


def _oracle_ann_rerank() -> str:
    from fink_science_spark.operators.models import mlp_score_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings),
meta AS (
  SELECT vec_id, label,
         round(sqrt(list_inner_product(v, v)), 6) AS norm
  FROM e
),
q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id % 20 = 0),
scored AS (
  SELECT q.qid, c.vec_id cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9)
             AS cosr
  FROM q JOIN e c ON c.vec_id != q.qid
),
cand AS (
  SELECT qid, cid, rank, round(cosr, 6) AS cos FROM (
    SELECT qid, cid, cosr,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosr DESC, cid ASC) AS rank
    FROM scored
  ) r WHERE rank <= {_RR_K1}
),
joined AS (
  SELECT cand.qid, cand.cid, cand.rank, cand.cos,
         mq.label AS q_label, mq.norm AS q_norm,
         mc.label AS c_label, mc.norm AS c_norm
  FROM cand
  JOIN meta mq ON cand.qid = mq.vec_id
  JOIN meta mc ON cand.cid = mc.vec_id
),
rr AS (
  SELECT *, {mlp_score_sql(_rr_feats())} AS rr_score FROM joined
)
SELECT qid, cid, rr_rank, cos, round(rr_score, 6) AS rerank_score
FROM (
  SELECT qid, cid, cos, rr_score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rr_score DESC, cid ASC) AS rr_rank
  FROM rr
) z WHERE rr_rank <= {_RR_K2}
"""


ORACLE_ANN_RERANK = _oracle_ann_rerank()


# --------------------------------------------------------------------------
# knn_graph_stats: similarity-graph construction + degree profile — the
# corpus-structure diagnostic (clustering feed, UMAP-style viz input,
# duplicate-blob detector) built on the SAME bucketed pair generator as
# embedding near-dup (no all-pairs join ever): LSH-bucket candidates ->
# exact-cosine refine -> symmetric degree count per vector, with
# degree-0 vectors kept via a left anti-style union (isolated nodes are
# the interesting ones in curation). Output: degree histogram.
# --------------------------------------------------------------------------

_KG_THRESHOLD = 0.2


def q_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.similarity import (
        cosine_pairs_bucketed,
        lsh_bucket_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = lsh_bucket_udf(_EMB_DIM, _COS_BITS)
    pairs = cosine_pairs_bucketed(
        emb, "vec_id", "v",
        bucket_col=bucket(F.col("v")),
        threshold=_KG_THRESHOLD,
    )
    ends = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("degree"))
    all_deg = (
        emb.select("vec_id")
        .join(deg, emb.vec_id == deg.node, "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return all_deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def _oracle_knn_graph() -> str:
    from fink_science_spark.operators.similarity import lsh_bucket_sql

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {lsh_bucket_sql('v', _COS_BITS, _EMB_DIM)} AS bucket FROM e),
pairs AS (
  SELECT a.vec_id AS id_a, bb.vec_id AS id_b
  FROM b a JOIN b bb
    ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
  WHERE list_inner_product(a.v, bb.v) /
        sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
        >= {_KG_THRESHOLD}
),
ends AS (
  SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs
),
deg AS (SELECT node, count(*) AS degree FROM ends GROUP BY node),
all_deg AS (
  SELECT coalesce(d.degree, 0) AS degree
  FROM e LEFT JOIN deg d ON e.vec_id = d.node
)
SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes
FROM all_deg GROUP BY degree
"""


ORACLE_KNN_GRAPH_STATS = _oracle_knn_graph()


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
# mmr_diverse_topk: maximal-marginal-relevance selection — from each
# query's ANN candidate list, greedily pick K items maximizing
# λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s). The de-facto standard
# diversity re-rank between vector recall and a context window.
#
# Scale shape: recall comes from the blocked ANN kernel (corpus never
# shuffles; bounded query side); everything after operates on
# candidate-sized relations (Q × N rows, Q × N² pairwise sims) joined
# broadcast. The greedy is inherently sequential in K, so it unrolls
# into K−1 plan steps — each a broadcast join + one row_number window
# over candidates, nothing corpus-sized. Cross-engine determinism: all
# similarities quantized to 9 decimals before any argmax (the ANN
# contract); λ-arithmetic on quantized inputs is identical IEEE double
# math in both engines; ties break on cid asc.
# --------------------------------------------------------------------------

_MMR_N = 10     # recall candidates per query
_MMR_K = 4      # selected per query
_MMR_LAM = 0.7  # relevance weight


def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fink_science_spark.operators.similarity import cosine_topk_blocked

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    # eager checkpoint: cand is Q×N rows but its plan embeds the ANN
    # block-matmul kernel + rank window; the greedy references it in
    # every step (anti-join + rescore), which without the cut re-ran the
    # recall stage ~2 per step (measured 7.5-8.9 s → ~1.5 s at sf0.1)
    cand = (
        cosine_topk_blocked(corpus, queries, "cid", "cv", "qid", "qv", k=_MMR_N)
        .select("qid", "cid", F.col("cos").alias("rel"))
        .localCheckpoint(eager=True)
    )

    # pairwise candidate-candidate cosine (symmetric), candidate-sized
    vecs = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cv = cand.join(vecs, "cid").select("qid", "cid", "v")
    dotp = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("__va", "__va", lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        * F.aggregate(
            F.zip_with("__vb", "__vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    ca = cv.select("qid", F.col("cid").alias("__a"), F.col("v").alias("__va"))
    cb = cv.select("qid", F.col("cid").alias("__b"), F.col("v").alias("__vb"))
    pc = (
        ca.join(cb, "qid")
        .filter(F.col("__a") != F.col("__b"))
        .select("qid", "__a", "__b", F.round(dotp / norm, 9).alias("sim9"))
        .localCheckpoint(eager=True)
    )

    lam = F.lit(_MMR_LAM)
    w = Window.partitionBy("qid")
    pick1 = (
        cand.withColumn(
            "__rn",
            F.row_number().over(w.orderBy(F.col("rel").desc(), F.col("cid").asc())),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "qid",
            "cid",
            F.lit(1).alias("step"),
            F.round(lam * F.col("rel"), 9).alias("mmr"),
        )
    )
    sel = pick1
    for step in range(2, _MMR_K + 1):
        red = (
            pc.join(
                sel.select("qid", F.col("cid").alias("__b")), ["qid", "__b"]
            )
            .groupBy("qid", F.col("__a").alias("cid"))
            .agg(F.max("sim9").alias("red"))
        )
        remaining = cand.join(sel.select("qid", "cid"), ["qid", "cid"], "left_anti")
        scored = remaining.join(red, ["qid", "cid"]).withColumn(
            "mmr", F.round(lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("red"), 9)
        )
        nxt = (
            scored.withColumn(
                "__rn",
                F.row_number().over(
                    w.orderBy(F.col("mmr").desc(), F.col("cid").asc())
                ),
            )
            .filter(F.col("__rn") == 1)
            .select("qid", "cid", F.lit(step).alias("step"), "mmr")
        )
        # per-step cut: step i+1 references sel twice (redundancy join +
        # anti-join), so an uncut union tree re-evaluates 2^K times
        sel = sel.unionByName(nxt).localCheckpoint(eager=True)
    return sel.orderBy("qid", "step")


def _oracle_mmr() -> str:
    lam = repr(_MMR_LAM)
    one_minus = repr(1.0 - _MMR_LAM)
    steps = []
    sel_union = f"SELECT qid, cid, 1 AS step, round({lam} * rel, 9) AS mmr FROM s1"
    for i in range(2, _MMR_K + 1):
        steps.append(
            f"""
sel{i - 1} AS ({sel_union}),
red{i} AS (
  SELECT p.qid, p.a AS cid, max(p.sim9) AS red
  FROM pc p JOIN sel{i - 1} s ON s.qid = p.qid AND s.cid = p.b
  GROUP BY p.qid, p.a
),
s{i} AS (
  SELECT qid, cid, rel, mmr FROM (
    SELECT c.qid, c.cid, c.rel,
           round({lam} * c.rel - {one_minus} * r.red, 9) AS mmr,
           row_number() OVER (
             PARTITION BY c.qid ORDER BY
               round({lam} * c.rel - {one_minus} * r.red, 9) DESC,
               c.cid ASC
           ) AS rn
    FROM cand c
    JOIN red{i} r ON r.qid = c.qid AND r.cid = c.cid
    WHERE NOT EXISTS (
      SELECT 1 FROM sel{i - 1} s WHERE s.qid = c.qid AND s.cid = c.cid
    )
  ) z WHERE rn = 1
)"""
        )
        sel_union += (
            f"\nUNION ALL SELECT qid, cid, {i} AS step, mmr FROM s{i}"
        )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.qid, c.vec_id AS cid,
         round(list_inner_product(q.qv, c.v) /
               sqrt(list_inner_product(q.qv, q.qv) *
                    list_inner_product(c.v, c.v)), 9) AS cosr
  FROM q JOIN e c ON c.vec_id != q.qid
),
cand AS (
  SELECT qid, cid, round(cosr, 6) AS rel FROM (
    SELECT qid, cid, cosr,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosr DESC, cid ASC) AS rank
    FROM scored
  ) r WHERE rank <= {_MMR_N}
),
pc AS (
  SELECT a.qid, a.cid AS a, b.cid AS b,
         round(list_inner_product(ea.v, eb.v) /
               sqrt(list_inner_product(ea.v, ea.v) *
                    list_inner_product(eb.v, eb.v)), 9) AS sim9
  FROM cand a
  JOIN cand b ON a.qid = b.qid AND a.cid != b.cid
  JOIN e ea ON ea.vec_id = a.cid
  JOIN e eb ON eb.vec_id = b.cid
),
s1 AS (
  SELECT qid, cid, rel FROM (
    SELECT qid, cid, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel DESC, cid ASC) AS rn
    FROM cand
  ) z WHERE rn = 1
),
{",".join(s.lstrip() for s in steps)}
SELECT qid, cid, step, mmr FROM ({sel_union}) final
ORDER BY qid, step
"""


ORACLE_MMR_DIVERSE_TOPK = _oracle_mmr()


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
            halfup6(F.col("score")).alias("bm25"),
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
        halfup6(
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


register("ann_cosine_topk", q_ann_cosine_topk, ORACLE_ANN_COSINE_TOPK)
register("ann_lsh_topk", q_ann_lsh_topk, ORACLE_ANN_LSH_TOPK)
register("ann_ivf_topk", q_ann_ivf_topk, ORACLE_ANN_IVF_TOPK)
register("embedding_centroids", q_embedding_centroids,
         ORACLE_EMBEDDING_CENTROIDS)
register("ann_rerank", q_ann_rerank, ORACLE_ANN_RERANK)
register("knn_graph_stats", q_knn_graph_stats, ORACLE_KNN_GRAPH_STATS)
register("pq_compression", q_pq_compression, ORACLE_PQ_COMPRESSION)
register("pq_adc_topk", q_pq_adc_topk, ORACLE_PQ_ADC_TOPK)
register("hard_negatives", q_hard_negatives, ORACLE_HARD_NEGATIVES)
register("mmr_diverse_topk", q_mmr_diverse_topk, ORACLE_MMR_DIVERSE_TOPK)
register("bm25_topk", q_bm25_topk, ORACLE_BM25_TOPK)
register("fuzzy_match_names", q_fuzzy_match_names, ORACLE_FUZZY_MATCH_NAMES)
register("rrf_fusion", q_rrf_fusion, ORACLE_RRF_FUSION)
