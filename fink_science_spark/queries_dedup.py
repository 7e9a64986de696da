"""Near-duplicate and decontamination queries: exact, fingerprint,
n-gram Jaccard, MinHash-LSH, SimHash, embedding and span dedup, and the
curated corpus they produce."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.functions.hashing import (
    hash28_sql,
    hash64,
    hash64_sql,
    minhash_sql_hashed,
    simhash_sql_hashed,
)
from fink_science_spark.functions.text import (
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from fink_science_spark.operators.dedup import (
    exact_dedup,
    jaccard_ppjoin_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fink_science_spark.operators.similarity import lsh_bucket_sql
from fink_science_spark.operators.sketches import (
    bloom_bits_for,
    bloom_might_contain,
    build_bloom_bitset,
)
from fink_science_spark.queries_similarity import (
    _COS_BITS,
    _EMB_DIM,
    _cos9_sql,
    _ivf_cells_cte_parts,
    _ivf_codebook,
)
from fink_science_spark.queries_text import _DOCS_TOK_CTE, _doc_tokens
from fink_science_spark.registry import register
from fink_science_spark.tables import _fan_out, _t

def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_tokens(spark, sf_dir).withColumn(
        "shingles", F.array_distinct(word_shingles(F.col("toks"), 3))
    )


# --------------------------------------------------------------------------
# Dedup family (M7 / BASELINE north star)
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (hash-groupBy on a 60-bit content
    hash; SURVEY §2.4 distinct/dedup)."""
    docs = _doc_tokens(spark, sf_dir).withColumn(
        "norm", F.concat_ws(" ", "toks")
    )
    return exact_dedup(docs, "doc_id", "norm")


ORACLE_DEDUP_EXACT = f"""
WITH {_DOCS_TOK_CTE}
SELECT min(doc_id) AS doc_id, count(*) AS n_dups
FROM (SELECT doc_id, {hash64_sql("array_to_string(toks, ' ')")} AS h FROM tok)
GROUP BY h
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint clustering: 60-bit hash of the first 8 tokens —
    cheap head-dedup for near-identical document heads."""
    docs = _doc_tokens(spark, sf_dir)
    fp = hash64(F.concat_ws(" ", F.slice("toks", 1, 8)))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_same_head"))
    )


ORACLE_DEDUP_FINGERPRINT = f"""
WITH {_DOCS_TOK_CTE}
SELECT {hash64_sql("array_to_string(list_slice(toks, 1, 8), ' ')")} AS fingerprint,
       min(doc_id) AS doc_id, count(*) AS n_same_head
FROM tok
GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs (threshold 0.5) via the
    inverted-index self-join — no probabilistic step (SURVEY M7)."""
    return ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles", threshold=0.5
    )


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, b.n nb, count(*) inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / (na + nb - inter) >= 0.5
"""
_MH_NUM, _MH_BANDS = 16, 8  # 8 bands × 2 rows


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates + exact-Jaccard verification
    (threshold 0.5). Signatures are md5-derived → the oracle reproduces
    the exact candidate set (SURVEY M7 scale path)."""
    return minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        tokens_col="shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        shingles_col="shingles",
    )


def _minhash_band_eq_sql() -> str:
    rows = _MH_NUM // _MH_BANDS
    conds = []
    for b in range(_MH_BANDS):
        lo, hi = b * rows + 1, (b + 1) * rows
        conds.append(
            f"(list_slice(a.sig, {lo}, {hi}) = list_slice(b.sig, {lo}, {hi}))"
        )
    return " OR ".join(conds)


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_DOCS_TOK_CTE},
hashed AS (
  -- len > 0: docs with no shingles have no signature (mirrors the
  -- engine's explode-based signature computation)
  SELECT doc_id, shingles,
         list_transform(shingles, x -> {hash28_sql('x')}) AS th
  FROM sh WHERE len(shingles) > 0
),
sigs AS (
  SELECT doc_id, shingles, {minhash_sql_hashed('th', _MH_NUM)} AS sig
  FROM hashed
),
cand AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.shingles sa, b.shingles sb
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id AND ({_minhash_band_eq_sql()})
)
SELECT id_a, id_b,
       round(len(list_intersect(sa, sb)) * 1.0 /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sa, sb)) * 1.0 /
      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5
"""
_SH_BITS, _SH_CHUNKS, _SH_MAXHAM = 60, 4, 10


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 10 over 60 bits) via the
    pigeonhole chunk join (SURVEY M7). Signatures are over 3-gram
    shingles: unique-token SimHash degenerates on template-generated
    corpora (same vocabulary ⇒ thousands of colliding signatures ⇒
    quadratic pair blowup), while shingle SimHash keeps word order."""
    return simhash_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles",
        max_hamming=_SH_MAXHAM, bits=_SH_BITS, chunks=_SH_CHUNKS,
    )


_CHUNK_BITS = _SH_BITS // _SH_CHUNKS
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1
_SH_CHUNK_EQ = " OR ".join(
    f"(((a.sim >> {c * _CHUNK_BITS}) & {_CHUNK_MASK}) = "
    f"((b.sim >> {c * _CHUNK_BITS}) & {_CHUNK_MASK}))"
    for c in range(_SH_CHUNKS)
)
ORACLE_DEDUP_SIMHASH = f"""
WITH {_DOCS_TOK_CTE},
hs AS (
  -- len > 0: docs with no shingles have no signature (mirrors the
  -- engine's explode-based signature computation)
  SELECT doc_id,
         list_transform(shingles, x -> {hash64_sql('x')}) AS h
  FROM sh WHERE len(shingles) > 0
),
sims AS (SELECT doc_id, {simhash_sql_hashed('h', _SH_BITS)} AS sim FROM hs)
SELECT a.doc_id id_a, b.doc_id id_b,
       bit_count(xor(a.sim, b.sim)) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE ({_SH_CHUNK_EQ}) AND bit_count(xor(a.sim, b.sim)) <= {_SH_MAXHAM}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components
    (iterative min-label propagation) → (doc_id, cluster=min id). The
    canonical keep-one-per-cluster dedup ending; the oracle reproduces it
    with a recursive-CTE transitive closure (SURVEY M7 + the build
    brief's 'iterative algorithms' class, here still exactly checkable)."""
    from fink_science_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        tokens_col="shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        shingles_col="shingles",
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b", shuffle_partitions=8)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )


def _oracle_dedup_clusters() -> str:
    inner = ORACLE_DEDUP_MINHASH_LSH.strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({inner})),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
)
SELECT node AS doc_id, min(r) AS cluster
FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# Embedding cosine near-dup (M7 dedup family, 5th tier)
# --------------------------------------------------------------------------

_COS_THRESHOLD = 0.4


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate generation
    (same-bucket pairs only — the scale path) + exact cosine ≥ threshold
    refine, fully JVM-side (SURVEY M7 embedding-cosine near-dup)."""
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
        threshold=_COS_THRESHOLD,
    )
    return pairs.select("id_a", "id_b", F.round("cosr", 6).alias("cos"))


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {lsh_bucket_sql('v', _COS_BITS, _EMB_DIM)} AS bucket FROM e)
SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       round(list_inner_product(a.v, bb.v) /
             sqrt(list_inner_product(a.v, a.v) *
                  list_inner_product(bb.v, bb.v)), 6) AS cos
FROM b a JOIN b bb
  ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE list_inner_product(a.v, bb.v) /
      sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
      >= {_COS_THRESHOLD}
"""


_COS_CAP_FLOOR = 12
_COS_CAP_FRAC = 40  # cap = max(floor, n_rows // frac)


def q_dedup_embedding_cosine_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB-default variant of `dedup_embedding_cosine`: buckets
    larger than the cap contribute no pairs (skew guard — the embedding
    analogue of n-gram dedup's max_doc_freq stop-shingle cap), so one
    hot LSH cell can't go O(n²). The cap is RELATIVE to corpus size —
    max(12, n/40) ≈ 1.6× the mean occupancy at 64 cells — because with
    fixed nbits every bucket grows linearly with the corpus and any
    absolute cap eventually drops everything (surfaced by the sf0.1
    parity sweep: a fixed cap of 12 emptied the result at 2000 rows).
    At every test SF the relative cap drops the genuinely-skewed tail
    cells and keeps the rest, so the drop path is exercised
    non-vacuously."""
    from fink_science_spark.operators.similarity import (
        cosine_pairs_bucketed,
        lsh_bucket_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cap = max(_COS_CAP_FLOOR, emb.count() // _COS_CAP_FRAC)
    bucket = lsh_bucket_udf(_EMB_DIM, _COS_BITS)
    pairs = cosine_pairs_bucketed(
        emb, "vec_id", "v",
        bucket_col=bucket(F.col("v")),
        threshold=_COS_THRESHOLD,
        max_bucket=cap,
    )
    return pairs.select("id_a", "id_b", F.round("cosr", 6).alias("cos"))


ORACLE_DEDUP_EMBEDDING_COSINE_CAPPED = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT vec_id, v, {lsh_bucket_sql('v', _COS_BITS, _EMB_DIM)} AS bucket FROM e),
sz AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
cap AS (SELECT greatest({_COS_CAP_FLOOR}, count(*) // {_COS_CAP_FRAC}) AS c
        FROM e),
keep AS (SELECT b.* FROM b JOIN sz USING (bucket)
         WHERE sz.n <= (SELECT c FROM cap))
SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       round(list_inner_product(a.v, bb.v) /
             sqrt(list_inner_product(a.v, a.v) *
                  list_inner_product(bb.v, bb.v)), 6) AS cos
FROM keep a JOIN keep bb
  ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE list_inner_product(a.v, bb.v) /
      sqrt(list_inner_product(a.v, a.v) * list_inner_product(bb.v, bb.v))
      >= {_COS_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Winnowing document fingerprints (M7 rolling-hash fingerprinting)
# --------------------------------------------------------------------------

_WIN_W = 4


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash document-fingerprint
    scheme): hash every positional 3-gram shingle, take the min hash of
    each sliding window of 4, emit the distinct fingerprints per doc.
    Guarantees shared fingerprints for any shared run of ≥ w+n-1 tokens —
    the plagiarism/near-dup detection classic (SURVEY M7 doc
    fingerprinting)."""
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    sh = docs.select(
        "doc_id", word_shingles(F.col("toks"), 3).alias("sh")
    )
    hashed = sh.select(
        "doc_id", F.transform("sh", lambda x: hash64(x)).alias("hs")
    )
    nwin = F.size("hs") - (_WIN_W - 1)
    wins = hashed.select(
        "doc_id",
        F.when(
            nwin >= 1,
            F.transform(
                F.sequence(F.lit(1), nwin),
                lambda i: F.array_min(F.slice("hs", i, _WIN_W)),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("fps"),
    )
    return (
        wins.select("doc_id", F.explode_outer(F.array_distinct("fps")).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


ORACLE_DOC_WINNOWING = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id, {word_shingles_sql('t.toks', 3)} AS sh FROM tok t
),
hs AS (
  SELECT doc_id, list_transform(sh, x -> {hash64_sql('x')}) AS hs FROM sh
),
wins AS (
  SELECT doc_id,
         [ list_min(list_slice(hs, i, i + {_WIN_W - 1}))
           for i in generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 0)) ] AS fps
  FROM hs
)
SELECT doc_id, unnest(list_distinct(fps)) AS fp
FROM wins
"""


# --------------------------------------------------------------------------
# M7 dedup: incremental MinHash against a persisted band index
# --------------------------------------------------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — the streaming form of the dedup
    family: the corpus's LSH band index (doc_id % 10 != 0) is WRITTEN to
    parquet and read back (the maintained-index contract; production
    partitions/buckets it by (band, band_hash)); the new batch
    (doc_id % 10 == 0) computes only its own signatures and joins the
    stored index — O(batch) work, the corpus is never re-signed.
    Verification re-tokenizes matched corpus docs only."""
    import os
    import tempfile

    from fink_science_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_index,
    )

    docs = _doc_shingles(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    path = os.path.join(tempfile.gettempdir(), "fink_minhash_band_index")
    minhash_band_index(
        corpus, "doc_id", "shingles", num_hashes=_MH_NUM, bands=_MH_BANDS
    ).write.mode("overwrite").parquet(path)
    index = spark.read.parquet(path)
    return incremental_minhash_pairs(
        index,
        new,
        "doc_id",
        "shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        corpus_sets=corpus,
    )


def _oracle_dedup_incremental() -> str:
    from fink_science_spark.functions.hashing import hash28_sql, minhash_sql_hashed

    return f"""
WITH {_DOCS_TOK_CTE},
hashed AS (
  SELECT doc_id, shingles,
         list_transform(shingles, x -> {hash28_sql('x')}) AS th
  FROM sh WHERE len(shingles) > 0
),
sigs AS (
  SELECT doc_id, shingles, {minhash_sql_hashed('th', _MH_NUM)} AS sig
  FROM hashed
),
cand AS (
  SELECT a.doc_id id_new, b.doc_id id_corpus, a.shingles sa, b.shingles sb
  FROM sigs a JOIN sigs b
    ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
   AND ({_minhash_band_eq_sql()})
)
SELECT id_new, id_corpus,
       round(len(list_intersect(sa, sb)) * 1.0 /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sa, sb)) * 1.0 /
      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5
"""


# --------------------------------------------------------------------------
# M7 dedup: doc-frequency-capped exact Jaccard (the 100 TB default)
# --------------------------------------------------------------------------

# A shingle shared by k documents expands to C(k,2) pairs; one ubiquitous
# shingle in 10^6 docs emits 5*10^11 pairs. Capping posting-list length is
# the standard fix (drops only stop-shingles, which carry ~no identity
# signal); this is the documented DEFAULT at scale — the uncapped variant
# exists for exactness on bounded corpora.
_JACCARD_MAX_DOC_FREQ = 50


def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs with the doc-frequency cap ON (posting
    lists longer than max_doc_freq dropped before pair expansion) — the
    scale-default variant of dedup_ngram_jaccard. Set sizes |A|, |B| stay
    the full distinct-shingle counts; only intersection counting skips
    capped shingles, so the score is a (slightly conservative) lower
    bound on true Jaccard."""
    from fink_science_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        "shingles",
        threshold=0.5,
        max_doc_freq=_JACCARD_MAX_DOC_FREQ,
    )


def _oracle_dedup_ngram_jaccard_capped() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    return f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
df AS (SELECT g, count(*) AS k FROM inv GROUP BY g),
capped AS (
  SELECT inv.* FROM inv JOIN df USING (g)
  WHERE df.k > 1 AND df.k <= {_JACCARD_MAX_DOC_FREQ}
),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, b.n nb, count(*) inter
  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(inter * 1.0 / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / (na + nb - inter) >= 0.5
"""


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against an eval split)
# --------------------------------------------------------------------------

_DECON_N = 4  # word n-gram size (13-gram in prod; 4 here so the tiny
# synthetic vocab still yields overlaps to check)
_DECON_MOD = 13  # docs with doc_id % 13 == 0 play the "benchmark suite"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag training documents that share
    any word n-gram with the benchmark/eval split, with the count of
    distinct shared n-grams per document.

    The standard pre-training hygiene step (the GPT-3/PaLM 13-gram
    overlap check). Scale shape: the eval suite is tiny and fixed, so its
    distinct hashed n-gram set is BROADCAST — the 100 TB training side
    never shuffles; each task filters its exploded n-grams against the
    in-memory set and the only shuffle is the per-doc count aggregation
    (uniform doc_id key, map-side partial). n-grams travel as 60-bit
    md5-derived hashes (~8 B each), never as strings.
    """
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
    eval_grams = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0).select("h").distinct()
    )
    train_grams = grams.filter(F.col("doc_id") % _DECON_MOD != 0)
    return (
        train_grams.join(F.broadcast(eval_grams), "h")
        # (doc_id, h) is already distinct (array_distinct upstream), so
        # count(*) == count(DISTINCT h) without the distinct-agg cost
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .withColumn("contaminated", F.col("n_overlap") >= F.lit(1))
    )


ORACLE_DECONTAMINATE = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct({word_shingles_sql('t.toks', _DECON_N)}) AS shingles
  FROM tok t
),
ex AS (
  SELECT doc_id, {hash64_sql('g0')} AS h
  FROM (SELECT doc_id, unnest(shingles) AS g0 FROM sh)
),
ev AS (SELECT DISTINCT h FROM ex WHERE doc_id % {_DECON_MOD} = 0)
SELECT e.doc_id, count(*) AS n_overlap, count(*) >= 1 AS contaminated
FROM ex e JOIN ev USING (h)
WHERE e.doc_id % {_DECON_MOD} != 0
GROUP BY e.doc_id
"""


# --------------------------------------------------------------------------
# Span-level exact corpus dedup (C4-style repeated-span removal)
# --------------------------------------------------------------------------

_SPAN_W = 10
_SPAN_BASE = 1_000_000


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup over the whole corpus: every repeated 10-word
    span keeps only its first (doc_id, position) occurrence; docs are
    reassembled from surviving spans. Two map-combinable hash aggs, no
    join — see operators/dedup.span_dedup_docs for the skew story."""
    from fink_science_spark.operators.dedup import span_dedup_docs

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    out = span_dedup_docs(docs, "doc_id", "toks", span=_SPAN_W)
    return out.select("doc_id", "n_kept", "dedup_text")


ORACLE_DEDUP_SPANS = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(generate_series(0,
             cast(ceil(len(toks) / {float(_SPAN_W)!r}) AS BIGINT) - 1)) AS i
  FROM tok WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id * {_SPAN_BASE} + i AS code,
         array_to_string(list_slice(toks, i * {_SPAN_W} + 1,
                                    i * {_SPAN_W} + {_SPAN_W}), ' ') AS chunk
  FROM idx
),
win AS (
  SELECT chunk, min(code) AS code FROM ch GROUP BY chunk
)
SELECT code // {_SPAN_BASE} AS doc_id,
       count(*) AS n_kept,
       string_agg(chunk, ' ' ORDER BY code % {_SPAN_BASE}) AS dedup_text
FROM win
GROUP BY code // {_SPAN_BASE}
"""


# --------------------------------------------------------------------------
# Curated corpus: the end artifact (near-dup clusters → keep canonicals)
# --------------------------------------------------------------------------


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact a dedup pipeline actually ships: the corpus with
    every non-canonical near-duplicate removed. Composes the existing
    operators end to end — MinHash-LSH pairs → connected components →
    keep cluster minima — and anti-joins the (small) eviction list back
    onto the corpus. The eviction side is duplicates-only, orders of
    magnitude smaller than the corpus, so the anti-join broadcasts."""
    from fink_science_spark.operators.graph import connected_components
    from fink_science_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir),
        "doc_id",
        tokens_col="shingles",
        num_hashes=_MH_NUM,
        bands=_MH_BANDS,
        jaccard_threshold=0.5,
        shingles_col="shingles",
    ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b", shuffle_partitions=8)
    evict = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    return docs.join(F.broadcast(evict), "doc_id", "left_anti")


def _oracle_curated_corpus() -> str:
    return f"""
WITH clusters AS ({_oracle_dedup_clusters()})
SELECT doc_id, source, length(text) AS n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != cluster)
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
# containment_pairs: asymmetric set containment |A∩B|/|A| ≥ 0.8 over
# 3-gram shingles — the quote / excerpt / subset detector that
# symmetric Jaccard structurally misses (a short doc fully quoted in a
# long one has tiny Jaccard but containment 1.0). Exact, via
# probe-prefix × full-index prefix filtering (the relation LSH-Ensemble
# approximates) — operators/dedup.containment_pairs for the lemma.
# --------------------------------------------------------------------------

_CT_T = 0.8


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", "shingles", threshold=_CT_T
    )


def _oracle_containment() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    return f"""
WITH {_DOCS_TOK_CTE},
raw AS (SELECT doc_id, len(shingles) n, unnest(shingles) g0 FROM sh),
inv AS (SELECT doc_id, n, {hash64_sql('g0')} AS g FROM raw),
pairs AS (
  SELECT a.doc_id id_a, b.doc_id id_b, a.n na, count(*) inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3
)
SELECT id_a, id_b, round(inter * 1.0 / na, 6) AS containment
FROM pairs
WHERE inter * 1.0 / na >= {_CT_T!r}
"""


ORACLE_CONTAINMENT_PAIRS = _oracle_containment()


register("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT, bench=False)
register("dedup_fingerprint", q_dedup_fingerprint, ORACLE_DEDUP_FINGERPRINT,
         bench=False)
register("dedup_ngram_jaccard", q_dedup_ngram_jaccard,
         ORACLE_DEDUP_NGRAM_JACCARD)
register("dedup_minhash_lsh", q_dedup_minhash_lsh, ORACLE_DEDUP_MINHASH_LSH)
register("dedup_simhash", q_dedup_simhash, ORACLE_DEDUP_SIMHASH)
register("dedup_clusters", q_dedup_clusters, _oracle_dedup_clusters())
register("dedup_embedding_cosine", q_dedup_embedding_cosine,
         ORACLE_DEDUP_EMBEDDING_COSINE)
register("dedup_embedding_cosine_capped", q_dedup_embedding_cosine_capped,
         ORACLE_DEDUP_EMBEDDING_COSINE_CAPPED)
register("doc_winnowing", q_doc_winnowing, ORACLE_DOC_WINNOWING)
register("dedup_ngram_jaccard_capped", q_dedup_ngram_jaccard_capped,
         _oracle_dedup_ngram_jaccard_capped())
register("dedup_incremental", q_dedup_incremental, _oracle_dedup_incremental())
register("decontaminate", q_decontaminate, ORACLE_DECONTAMINATE)
register("dedup_spans", q_dedup_spans, ORACLE_DEDUP_SPANS)
register("curated_corpus", q_curated_corpus, _oracle_curated_corpus())
# decontaminate_bloom: identical semantics to the exact path — the
# bloom only prunes; shares decontaminate's oracle.
register("decontaminate_bloom", q_decontaminate_bloom, ORACLE_DECONTAMINATE)
# dedup_jaccard_ppjoin: prefix filtering changes the candidate set,
# not the answer — shares the exact-Jaccard-pairs oracle.
register("dedup_jaccard_ppjoin", q_dedup_jaccard_ppjoin, ORACLE_DEDUP_NGRAM_JACCARD)
register("dup_span_profile", q_dup_span_profile, _oracle_dup_span_profile())
register("image_phash_dedup", q_image_phash_dedup, ORACLE_IMAGE_PHASH_DEDUP)
register("semantic_dedup", q_semantic_dedup, _oracle_semantic_dedup())
register("containment_pairs", q_containment_pairs, ORACLE_CONTAINMENT_PAIRS)
