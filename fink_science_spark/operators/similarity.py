"""Similarity search over embedding columns (array<float>).

Two tiers:

- :func:`cosine_topk` — exact brute-force top-k. The dot product is a
  JVM-side left fold (``zip_with`` + ``aggregate``) — no Python, no UDF.
  Query side is broadcast (queries ≪ corpus in every real workload), so
  the corpus is scanned exactly once with no shuffle for the join; the
  only shuffle is the per-query top-k window, whose key count = #queries.

- :func:`lsh_bucketed_topk` — the scale path: sign-random-projection LSH.
  Each vector gets a ``nbits``-bit bucket from the signs of dot products
  with deterministic pseudo-random hyperplanes (hash-derived, so both
  engines — and any re-run — agree bit-for-bit). Candidates = bucket
  equi-join, exact cosine refine within bucket. At 100 TB: bucket join
  shuffles on a small uniform key; brute-force comparisons drop by
  ~2^nbits.

Norms/dot products fold left-to-right in both Spark and the duckdb
oracle → bit-identical cosines (validated in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.hashing import hash64


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array<double> columns, JVM-side.

    With ``dim`` known (the embedding-table contract), expands to an
    explicit left-associated sum of ``element_at`` products — a plain
    whole-stage-codegen'd expression. Without it, falls back to a
    ``zip_with`` + ``aggregate`` fold, which Spark interprets per element
    (higher-order lambdas have no codegen) — ~10× slower in hot paths.
    Both forms add strictly left-to-right, matching the oracle engine's
    ``list_inner_product`` bit-for-bit."""
    if dim is None:
        return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))
    out = None
    for d in range(1, dim + 1):
        term = F.element_at(a, d) * F.element_at(b, d)
        out = term if out is None else out + term
    return out


def l2_norm_sq(a: Column, dim: int | None = None) -> Column:
    if dim is None:
        return _fold_sum(F.transform(a, lambda x: x * x))
    out = None
    for d in range(1, dim + 1):
        term = F.element_at(a, d) * F.element_at(a, d)
        out = term if out is None else out + term
    return out


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / F.sqrt(l2_norm_sq(a, dim) * l2_norm_sq(b, dim))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches by
    id). Deterministic ties: (cosine desc, corpus id asc).

    Norms are precomputed per side (once per vector, not once per pair);
    pass ``dim`` to get fully codegen'd dot products (see :func:`dot`).

    Returns (query_id, corpus_id, rank, cos).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("__qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        ).withColumn("__qn", l2_norm_sq(F.col("__qv"), dim))
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", l2_norm_sq(F.col("__cv"), dim))
    pairs = c.crossJoin(q).filter(F.col("__cid") != F.col("__qid"))
    scored = pairs.select(
        "__qid",
        "__cid",
        (
            dot(F.col("__qv"), F.col("__cv"), dim)
            / F.sqrt(F.col("__qn") * F.col("__cn"))
        ).alias("__cos"),
    )
    # rank on the 9-decimal-quantized cosine: numpy BLAS and any SQL
    # engine can disagree on the last ulp of near-equal cosines, and an
    # ulp flip at a rank boundary would flip top-k membership between
    # engines (cross-engine determinism contract; same rule as the IVF
    # centroid assignment).
    w = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 9).desc(), F.col("__cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            # round6(round9(x)) — the oracles emit round(cosr, 6) where
            # cosr is already 9-rounded; compose the same way so a value
            # at a 1e-6 half-boundary can't split the engines
            F.round(F.round("__cos", 9), 6).alias("cos"),
        )
    )


def _local_topk_frame(S, qids, cids, local_k):
    """Per-query local top-k emission from a score block, quantized for
    cross-engine determinism: scores are rounded to 9 decimals BEFORE any
    selection or ranking (BLAS dot reorders summation vs an engine's
    sequential fold, so near-equal full-precision cosines can flip rank
    between engines — the quantize-then-compare rule), and the emission
    is TIE-INCLUSIVE (every row at or above the local k-th rounded score
    goes out), so the global (cos desc, id asc) window sees every
    candidate any engine could rank into the top k."""
    import numpy as np
    import pandas as pd

    Sr = np.round(S, 9)
    kk = min(local_k, Sr.shape[0])
    part = np.argpartition(-Sr, kk - 1, axis=0)[:kk, :]
    qi, ci, cos = [], [], []
    for j in range(Sr.shape[1]):
        vals = Sr[part[:, j], j]
        keep = np.isfinite(vals)
        if not keep.any():
            continue
        thresh = vals[keep].min()
        col = Sr[:, j]
        mask = np.isfinite(col) & (col >= thresh)
        qi.extend([qids[j]] * int(mask.sum()))
        ci.extend(cids[mask])
        cos.extend(col[mask])
    return pd.DataFrame({"__qid": qi, "__cid": ci, "__cos": cos})


def cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    nbits: int | None = None,
    dim: int | None = None,
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query via a vectorized block kernel —
    the scale path for brute-force AND bucketed ANN.

    The query matrix (small by contract — it is the broadcast side of any
    ANN join) is collected once and shipped to executors inside a
    ``mapInPandas`` closure; each corpus partition computes one
    numpy ``C @ Qᵀ`` block matmul (Arrow in, BLAS inside) and emits only
    its LOCAL top-(k+1) rows per query, so the global window sees
    #partitions × #queries × (k+1) rows instead of |corpus| × |queries|.
    With ``nbits`` set, both sides are bucketed by sign-random-projection
    LSH and scores are masked to same-bucket pairs (the approximate path).
    With ``band = (lo, hi)`` only pairs with lo <= cos < hi (on the
    9-decimal-rounded score, matching the rank quantization) are ranked —
    the hard-negative-mining shape: "similar but not near-duplicate".

    At 100 TB: corpus scan is embarrassingly parallel, no shuffle until
    the tiny top-k merge; this is the standard distributed ANN shape.
    Returns (query_id, corpus_id, rank, cos) with deterministic ties
    (cos desc, corpus id asc).
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((Q * Q).sum(axis=1))

    H = None
    qbucket = None
    if nbits is not None:
        d = dim if dim is not None else Q.shape[1]
        H = np.array(
            [[hyperplane_component(j, i) for i in range(d)] for j in range(nbits)],
            dtype=np.float64,
        )
        qbucket = ((Q @ H.T) > 0).astype(np.int64) @ (1 << np.arange(nbits))

    # ship the query matrix as a broadcast variable, not a task closure:
    # one transfer per executor instead of per task (the TNS-catalog
    # broadcast pattern, ztf/xmatch/processor.py:363-364 — at real query
    # batch sizes the matrix is tens of MB)
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Q, qnorm, H, qbucket))

    local_k = k + 1  # +1 covers the self-match exclusion downstream

    def block(batches):
        qids, Q, qnorm, H, qbucket = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf[corpus_vec]), dtype=np.float64)
            cids = pdf[corpus_id].to_numpy(dtype=np.int64)
            cnorm = np.sqrt((C * C).sum(axis=1))
            S = (C @ Q.T) / (cnorm[:, None] * qnorm[None, :])
            if H is not None:
                cbucket = ((C @ H.T) > 0).astype(np.int64) @ (1 << np.arange(len(H)))
                S = np.where(cbucket[:, None] == qbucket[None, :], S, -np.inf)
            if band is not None:
                Sr = np.round(S, 9)
                S = np.where((Sr >= band[0]) & (Sr < band[1]), S, -np.inf)
            yield _local_topk_frame(S, qids, cids, local_k)

    candidates = corpus.select(corpus_id, corpus_vec).mapInPandas(
        block, schema="__qid long, __cid long, __cos double"
    )
    # rank on the 9-decimal-quantized cosine: numpy BLAS and any SQL
    # engine can disagree on the last ulp of near-equal cosines, and an
    # ulp flip at a rank boundary would flip top-k membership between
    # engines (cross-engine determinism contract; same rule as the IVF
    # centroid assignment).
    w = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 9).desc(), F.col("__cid").asc()
    )
    return (
        candidates.filter(F.col("__cid") != F.col("__qid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            # round6(round9(x)) — the oracles emit round(cosr, 6) where
            # cosr is already 9-rounded; compose the same way so a value
            # at a 1e-6 half-boundary can't split the engines
            F.round(F.round("__cos", 9), 6).alias("cos"),
        )
    )


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 8,
    rounds: int = 2,
    round_to: int = 6,
    oversample: int = 4,
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer: deterministic k-means||-style
    oversampled init + distributed Lloyd rounds (each round is ONE
    corpus scan emitting per-partition partial sums, merged on the
    driver; no shuffle of vectors, driver traffic is
    O(partitions × n_centroids × dim)).

    Init (k-means|| shape, deterministic): take the
    ``oversample × n_centroids`` vectors with the smallest portable md5
    hash of their id (a deterministic uniform oversample — one
    TakeOrdered scan, reproducible by any engine, unlike random
    seeding), then reduce to ``n_centroids`` seeds on the driver by
    maximin (farthest-point) greedy selection: seed 0 is the
    smallest-hash vector; each next seed is the candidate whose maximum
    cosine to the already-chosen set is smallest (cosines rounded to 9
    decimals, ties → smallest hash rank). Spread-out seeds start Lloyd
    near-balanced — the plain smallest-k-hashes init could draw several
    seeds from one dense cluster and leave cells empty. Cell ids are
    the selection order and are STABLE across rounds; cells that empty
    out are dropped, not renumbered.

    Assignment = max cosine with the cosine ROUNDED to 9 decimals before
    the argmax (ties → smallest cell id). The rounding is what makes
    training differentially testable: numpy and any SQL engine disagree
    on raw float cosines at the last ulp, and an ulp flip at an
    assignment boundary would cascade into different centroids. New
    centroid components are per-dimension means rounded to ``round_to``
    for the same reason.

    Returns [(cell_id, centroid_vector)] sorted by cell id — feed to
    :func:`ivf_topk_blocked`.
    """
    import numpy as np

    # One narrow projection, persisted across the init scan + every Lloyd
    # round (the MLlib k-means discipline: never re-read the source per
    # round). MEMORY_AND_DISK so a 100 TB corpus degrades to spilled
    # columnar batches instead of OOM.
    from pyspark import StorageLevel

    vecs = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    hashed = vecs.withColumn("__h", hash64(F.col("__id").cast("string")))
    sample_rows = (
        hashed.orderBy("__h", "__id")
        .limit(max(n_centroids * oversample, n_centroids))
        .select("__v")
        .collect()
    )
    S = np.array([list(r[0]) for r in sample_rows], dtype=np.float64)
    # maximin greedy: minimize the max (rounded) cosine to the chosen set
    nrm_s = np.sqrt((S * S).sum(axis=1))
    G = np.round((S @ S.T) / (nrm_s[:, None] * nrm_s[None, :]), 9)
    chosen = [0]  # smallest-hash vector
    while len(chosen) < min(n_centroids, len(S)):
        maxcos = G[:, chosen].max(axis=1)
        maxcos[chosen] = np.inf  # never re-pick
        chosen.append(int(maxcos.argmin()))  # argmin ties → smallest rank
    cent_ids = list(range(len(chosen)))
    CENT = S[chosen]

    sc = corpus.sparkSession.sparkContext
    dim = CENT.shape[1]

    for _ in range(rounds):
        bc = sc.broadcast((np.asarray(cent_ids, dtype=np.int64), CENT))

        def partials(batches):
            import pandas as pd

            ids_b, CENT_b = bc.value
            nrm_c = np.sqrt((CENT_b * CENT_b).sum(axis=1))
            sums = np.zeros((len(ids_b), CENT_b.shape[1]))
            counts = np.zeros(len(ids_b), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.array(list(pdf["__v"]), dtype=np.float64)
                nrm = np.sqrt((M * M).sum(axis=1))
                S = np.round(
                    (M @ CENT_b.T) / (nrm[:, None] * nrm_c[None, :]), 9
                )
                a = S.argmax(axis=1)
                for j in range(len(ids_b)):
                    sel = a == j
                    if sel.any():
                        sums[j] += M[sel].sum(axis=0)
                        counts[j] += int(sel.sum())
            out = [
                (int(ids_b[j]), int(counts[j]), [float(x) for x in sums[j]])
                for j in range(len(ids_b))
                if counts[j] > 0
            ]
            yield pd.DataFrame(out, columns=["cell", "cnt", "vsum"])

        rows = (
            vecs.select("__v")
            .mapInPandas(
                partials, schema=f"cell long, cnt long, vsum array<double>"
            )
            .collect()
        )
        merged: dict[int, tuple[int, "np.ndarray"]] = {}
        for r in rows:
            c, n0, s = r["cell"], r["cnt"], np.asarray(r["vsum"])
            if c in merged:
                merged[c] = (merged[c][0] + n0, merged[c][1] + s)
            else:
                merged[c] = (n0, s)
        cent_ids = sorted(merged)
        CENT = np.array(
            [np.round(merged[c][1] / merged[c][0], round_to) for c in cent_ids],
            dtype=np.float64,
        )
    vecs.unpersist()
    return [(c, [float(x) for x in CENT[i]]) for i, c in enumerate(cent_ids)]


def ivf_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    centroid_id: str,
    centroid_vec: str,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: every corpus vector is assigned to its
    nearest centroid (max cosine rounded to 9 decimals, smallest centroid
    id on ties); a query probes its ``nprobe`` nearest centroids' inverted
    lists. The centroid table is the 'coarse quantizer' — train it with
    :func:`train_ivf_centroids` (at 100 TB it is the k-means codebook);
    both the assignment and the in-list search run inside one numpy block
    kernel per corpus partition (same shape as :func:`cosine_topk_blocked`).

    Recall grows with nprobe (nprobe = n_centroids degenerates to exact
    brute force); nprobe ≥ 2 also covers the query-near-a-cell-boundary
    case that nprobe=1 systematically misses.

    Returns (query_id, corpus_id, rank, cos)."""
    import numpy as np
    import pandas as pd

    crows = sorted(
        centroids.select(centroid_id, centroid_vec).collect(), key=lambda r: r[0]
    )
    cent_ids = np.array([r[0] for r in crows], dtype=np.int64)
    CENT = np.array([list(r[1]) for r in crows], dtype=np.float64)
    cent_norm = np.sqrt((CENT * CENT).sum(axis=1))

    def cell_scores(M: "np.ndarray") -> "np.ndarray":
        nrm = np.sqrt((M * M).sum(axis=1))
        return np.round((M @ CENT.T) / (nrm[:, None] * cent_norm[None, :]), 9)

    qrows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    # top-nprobe cells per query: argsort of (-cos) is stable, so equal
    # rounded cosines break toward the smaller cell index (= smaller id;
    # CENT is sorted by cell id)
    nprobe = min(nprobe, len(CENT))
    qcells = np.argsort(-cell_scores(Q), axis=1, kind="stable")[:, :nprobe]

    # broadcast the codebook + query block once per executor (see
    # cosine_topk_blocked)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, Q, qnorm, qcells, CENT, cent_norm)
    )

    local_k = k + 1

    def block(batches):
        qids, Q, qnorm, qcells, CENT_b, cent_norm_b = bc.value
        # inverted probe lists: queries probing each cell, built once per
        # task. Scoring then loops cells present in the batch and matmuls
        # ONLY (corpus rows of cell c) × (queries probing cell c) — the
        # actual IVF pruning. vs the previous full C @ Qᵀ + -inf mask:
        # FLOPs drop by ~ncells/nprobe (4× here) and the masked scores
        # are never computed at all — this is what makes nprobe a real
        # knob at 100 TB instead of a post-hoc filter. Emission per cell
        # is a SUPERSET of the old per-batch emission (a cell-local
        # top-k threshold is ≤ the batch-level one), and the global
        # quantized (cos desc, cid asc) window downstream ranks exactly,
        # so results are identical.
        ncells = len(CENT_b)
        probe_lists = [
            np.nonzero((qcells == c).any(axis=1))[0] for c in range(ncells)
        ]

        def assign_b(M):
            nrm = np.sqrt((M * M).sum(axis=1))
            S = np.round(
                (M @ CENT_b.T) / (nrm[:, None] * cent_norm_b[None, :]), 9
            )
            return S.argmax(axis=1)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf[corpus_vec]), dtype=np.float64)
            cids = pdf[corpus_id].to_numpy(dtype=np.int64)
            cnorm = np.sqrt((C * C).sum(axis=1))
            ccell = assign_b(C)
            for c in np.unique(ccell):
                qsel = probe_lists[c]
                if len(qsel) == 0:
                    continue
                rows = np.nonzero(ccell == c)[0]
                Sc = (C[rows] @ Q[qsel].T) / (
                    cnorm[rows][:, None] * qnorm[qsel][None, :]
                )
                yield _local_topk_frame(
                    Sc, qids[qsel], cids[rows], local_k
                )

    candidates = corpus.select(corpus_id, corpus_vec).mapInPandas(
        block, schema="__qid long, __cid long, __cos double"
    )
    # rank on the 9-decimal-quantized cosine: numpy BLAS and any SQL
    # engine can disagree on the last ulp of near-equal cosines, and an
    # ulp flip at a rank boundary would flip top-k membership between
    # engines (cross-engine determinism contract; same rule as the IVF
    # centroid assignment).
    w = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 9).desc(), F.col("__cid").asc()
    )
    return (
        candidates.filter(F.col("__cid") != F.col("__qid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            # round6(round9(x)) — the oracles emit round(cosr, 6) where
            # cosr is already 9-rounded; compose the same way so a value
            # at a 1e-6 half-boundary can't split the engines
            F.round(F.round("__cos", 9), 6).alias("cos"),
        )
    )


def lsh_bucket_udf(dim: int, nbits: int = 8):
    """Vectorized (Arrow/numpy) form of :func:`lsh_bucket`: one H-matrix
    matmul per batch instead of an nbits×dim-term literal expression tree
    (which at 64 dims × 6 bits is ~1300 expression nodes — heavy to
    codegen and evaluate node-by-node). Bit-identical buckets: the sign
    of a dot product agrees between the sequential fold and the BLAS
    matmul except within ~1e-15 of zero."""
    import numpy as np

    H = np.array(
        [[hyperplane_component(j, d) for d in range(dim)] for j in range(nbits)],
        dtype=np.float64,
    )
    weights = 1 << np.arange(nbits)

    @F.pandas_udf("long")
    def bucket(v):
        import pandas as pd

        M = np.array(list(v), dtype=np.float64)
        return pd.Series(((M @ H.T) > 0).astype(np.int64) @ weights)

    return bucket


def cosine_pairs_bucketed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col,
    threshold: float,
    max_bucket: int | None = None,
) -> DataFrame:
    """All same-bucket pairs with cosine ≥ threshold, via ONE shuffle:
    groupBy bucket → per-bucket numpy pairwise matmul inside applyInPandas.
    Replaces the aliased self-join + per-pair JVM dot products (the join
    evaluates the bucket expression on both sides and scores pair-by-pair;
    the grouped matmul scores a whole bucket at once). Bucket sizes are
    bounded by the LSH bit count at 100 TB — each group is one small
    dense block.

    ``max_bucket`` is the skew guard (the embedding-space analogue of
    n-gram dedup's ``max_doc_freq`` stop-shingle cap): a bucket with more
    than ``max_bucket`` members — near-duplicate mass collapsing into one
    hyperplane cell, or adversarial skew — would cost O(bucket²) in both
    the matmul and the pair output. Such buckets contribute NO pairs (the
    whole bucket is dropped, logged with its size on the executor), so one
    hot cell can't blow up a 100 TB run; callers needing those pairs
    should re-bucket with more bits instead. None (default) keeps the
    exact all-same-bucket-pairs semantics."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        bucket_col.alias("__b"),
    )

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if max_bucket is not None and n > max_bucket:
            import logging

            logging.getLogger(__name__).warning(
                "cosine_pairs_bucketed: dropping bucket %s with %d > %d "
                "members (skew cap)",
                pdf["__b"].iloc[0], n, max_bucket,
            )
            n = 0
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosr": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosr": "float64"}
            )
        order = np.argsort(pdf["__id"].to_numpy())
        ids = pdf["__id"].to_numpy()[order]
        M = np.array(list(pdf["__v"]), dtype=np.float64)[order]
        nrm = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / (nrm[:, None] * nrm[None, :])
        ia, ib = np.triu_indices(n, k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cosr": S[ia, ib][keep]}
        )

    return src.groupBy("__b").applyInPandas(
        pairs, schema="id_a long, id_b long, cosr double"
    )


def hyperplane_component(bit: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5 of "bit,dim" — reproducible in any engine (the
    duckdb oracle inlines the same literals), no RNG state."""
    import hashlib

    h = int(hashlib.md5(f"{bit},{d}".encode()).hexdigest()[:15], 16)
    return (h % 2000) / 1000.0 - 1.0


def lsh_bucket(vec: Column, dim: int, nbits: int = 8) -> Column:
    """Sign-random-projection bucket id: bit j = 1 iff dot(vec, H_j) > 0,
    packed into a BIGINT. H_j components are plan-time literals, so at
    runtime this is ``nbits`` multiply-add folds over the vector, fully
    codegen'd."""
    bits = []
    for j in range(nbits):
        proj = None
        for d in range(dim):
            term = F.element_at(vec, d + 1) * F.lit(hyperplane_component(j, d))
            proj = term if proj is None else proj + term
        bits.append(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_bucket_sql(vec: str, nbits: int, dim: int) -> str:
    """The DuckDB SQL twin of :func:`lsh_bucket` over the ``DOUBLE[]``
    column ``vec``, for oracles: the same hyperplane literals, the same
    bit packing."""
    bits = []
    for j in range(nbits):
        terms = " + ".join(
            f"{vec}[{d + 1}] * ({hyperplane_component(j, d)!r})"
            for d in range(dim)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN (1::BIGINT << {j}) ELSE 0 END)")
    return "(" + " | ".join(bits) + ")"


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    dim: int,
    k: int = 5,
    nbits: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    exact cosine refine inside. Returns (query_id, corpus_id, rank, cos);
    queries whose bucket holds < k neighbors return fewer rows — the
    standard ANN recall trade-off."""
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("__qid"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        )
        .withColumn("__b", lsh_bucket(F.col("__qv"), dim, nbits))
        .withColumn("__qn", l2_norm_sq(F.col("__qv"), dim))
    )
    c = (
        corpus.select(
            F.col(corpus_id).alias("__cid"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        )
        .withColumn("__b", lsh_bucket(F.col("__cv"), dim, nbits))
        .withColumn("__cn", l2_norm_sq(F.col("__cv"), dim))
    )

    pairs = c.join(q, "__b").filter(F.col("__cid") != F.col("__qid"))
    scored = pairs.select(
        "__qid",
        "__cid",
        (
            dot(F.col("__qv"), F.col("__cv"), dim)
            / F.sqrt(F.col("__qn") * F.col("__cn"))
        ).alias("__cos"),
    )
    # rank on the 9-decimal-quantized cosine: numpy BLAS and any SQL
    # engine can disagree on the last ulp of near-equal cosines, and an
    # ulp flip at a rank boundary would flip top-k membership between
    # engines (cross-engine determinism contract; same rule as the IVF
    # centroid assignment).
    w = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 9).desc(), F.col("__cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            # round6(round9(x)) — the oracles emit round(cosr, 6) where
            # cosr is already 9-rounded; compose the same way so a value
            # at a 1e-6 half-boundary can't split the engines
            F.round(F.round("__cos", 9), 6).alias("cos"),
        )
    )
