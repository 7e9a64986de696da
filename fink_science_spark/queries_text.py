"""Text and LM-curation queries: quality signals, language ID,
tokenization, packing, sharding, mixture sampling and corpus reports."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.hashing import hash64, hash64_sql
from fink_science_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    lang_id,
    punct_ratio,
    stopword_ratio,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from fink_science_spark.operators.sketches import (
    histogram_quantiles,
    histogram_quantiles_oracle_sql,
)
from fink_science_spark.operators.stats import ks_two_sample, ks_two_sample_sql
from fink_science_spark.registry import register
from fink_science_spark.tables import _fan_out, _t

# Shared oracle CTE: tokenized + 3-gram-shingled documents
_DOCS_TOK_CTE = f"""
tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT doc_id, toks,
         list_distinct({word_shingles_sql('t.toks', 3)}) AS shingles
  FROM tok t
)
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the narrow (doc_id, text) rows out BEFORE the tokenize/shingle
    # HOF chain: the single-row-group test files scan as ONE task, which
    # serialized every downstream doc-prep pipeline (see tables._fan_out)
    base = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    return base.select("doc_id", "text", tokens("text").alias("toks"))


# --------------------------------------------------------------------------
# Text analysis (M7)
# --------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, char length, punctuation
    ratio, stopword ratio, and a quality flag (SURVEY M7 text ops)."""
    docs = _doc_tokens(spark, sf_dir)
    n_tok = F.size("toks")
    sw = stopword_ratio("toks")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(sw, 6).alias("stopword_ratio"),
        ((n_tok >= 20) & (sw < 0.5)).alias("quality_ok"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
ORACLE_TEXT_QUALITY = f"""
WITH {_DOCS_TOK_CTE},
q AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         length(text) AS n_chars,
         CASE WHEN length(lower(text)) > 0
              THEN (length(lower(text)) -
                    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                   * 1.0 / length(lower(text))
              ELSE 0.0 END AS praw,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> x IN ({_SW_LIST})))
                   * 1.0 / len(toks)
              ELSE 0.0 END AS sraw
  FROM tok JOIN documents USING (doc_id)
)
SELECT doc_id, n_tokens, n_chars,
       round(praw, 6) AS punct_ratio,
       round(sraw, 6) AS stopword_ratio,
       (n_tokens >= 20 AND sraw < 0.5) AS quality_ok
FROM q
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID with deterministic argmax tie-break
    (SURVEY M7 language-ID heuristic); compared against the table's lang
    column."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    pred = lang_id("toks")
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("lang_match"),
    )


def _lang_scores_sql() -> str:
    per_lang = []
    for lang_code, markers in sorted(LANG_MARKERS.items()):
        marker_list = ", ".join(f"'{m}'" for m in markers)
        per_lang.append(
            f"len(list_filter(toks, x -> x IN ({marker_list}))) AS s_{lang_code}"
        )
    return ", ".join(per_lang)


def _lang_argmax_sql() -> str:
    # forward alphabetical fold, strict '>': the alphabetically smaller
    # code wins ties, and a 0-score language never displaces 'und' —
    # mirrors functions.text.lang_id exactly (both sides previously
    # folded in reverse, handing ties to the LAST code)
    expr_score, expr_lang = "0", "'und'"
    for lang_code in sorted(LANG_MARKERS):
        expr_lang = f"CASE WHEN s_{lang_code} > ({expr_score}) THEN '{lang_code}' ELSE ({expr_lang}) END"
        expr_score = f"CASE WHEN s_{lang_code} > ({expr_score}) THEN s_{lang_code} ELSE ({expr_score}) END"
    return expr_lang


ORACLE_LANG_ID = f"""
WITH {_DOCS_TOK_CTE},
scored AS (SELECT doc_id, {_lang_scores_sql()} FROM tok)
SELECT d.doc_id, {_lang_argmax_sql()} AS pred_lang,
       ({_lang_argmax_sql()}) = d.lang AS lang_match
FROM scored JOIN documents d USING (doc_id)
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with the BPE-style pre-tokenizer (letter/digit/punct
    runs — the GPT-family pre-tokenization shape) alongside the whitespace
    tokenizer; per-doc counts + ratio (build brief: 'token counting
    (whitespace + a BPE-ish regex)')."""
    from fink_science_spark.functions.text import bpe_tokens, tokens

    docs = _t(spark, sf_dir, "documents")
    n_ws = F.size(tokens("text"))
    n_bpe = F.size(bpe_tokens("text"))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_ws > 0, F.round(n_bpe / n_ws, 6)).otherwise(None).alias(
            "bpe_per_word"
        ),
    )


def _oracle_bpe_token_count() -> str:
    from fink_science_spark.functions.text import bpe_tokens_sql, tokens_sql

    return f"""
SELECT doc_id,
       len({tokens_sql('text')})      AS n_ws_tokens,
       len({bpe_tokens_sql('text')})  AS n_bpe_tokens,
       CASE WHEN len({tokens_sql('text')}) > 0
            THEN round(len({bpe_tokens_sql('text')}) * 1.0 /
                       len({tokens_sql('text')}), 6) END AS bpe_per_word
FROM documents
"""


# --------------------------------------------------------------------------
# M7 text hygiene: PII redaction + Gopher-style repetition metrics
# --------------------------------------------------------------------------

# The synthetic docs carry no PII, so the query plants a deterministic
# PII-bearing tail (email + IPv4 + phone derived from doc_id) with the
# IDENTICAL native expression in both engines, then redacts it — the
# operator under test is the sequential scrub in functions/text.py.


def _pii_payload_spark():
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1 555 "),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" now"),
    )


_PII_PAYLOAD_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.0.' "
    "|| (doc_id % 256)::VARCHAR || '.7 call +1 555 ' "
    "|| (1000 + doc_id % 9000)::VARCHAR || ' now'"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents (training-data hygiene): sequential
    email → IPv4 → phone regexp redaction, per-kind match counts, and an
    md5 fingerprint of the scrubbed text (the strong equality check —
    any divergence in match extents or replacement order breaks it).
    Narrow codegen'd per-row maps; no shuffle, no Python."""
    from fink_science_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _pii_payload_spark().alias("payload")
    )
    red, counts = redact_pii("payload")
    return docs.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ip"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    )


def _oracle_pii_redact() -> str:
    from fink_science_spark.functions.text import redact_pii_sql

    red, counts = redact_pii_sql(_PII_PAYLOAD_SQL)
    return f"""
SELECT doc_id,
       {counts['email']} AS n_email,
       {counts['ip']} AS n_ip,
       {counts['phone']} AS n_phone,
       md5({red}) AS redacted_md5
FROM documents
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    type-token ratio, duplicate-bigram fraction, top-token frequency
    fraction.

    Execution shape: the bigram ratios are per-row single-pass natives
    (size / array_distinct); the top-token count goes through explode →
    two-level hash aggregation on (doc_id, token) — measured ~4× faster
    than the per-row O(distinct·n) HOF scan (`functions/text.
    repetition_metrics`, kept for the shuffle-free composable form),
    because nested lambda HOFs are interpreted while explode + count
    stays in whole-stage codegen. Both shuffles share the doc_id key."""
    from fink_science_spark.functions.text import tokens, word_shingles

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("tok"))
    # Two scans by design: carrying the per-row array metrics through the
    # explode looks like it saves a scan, but CollapseProject inlines the
    # (expensive) bigram expressions into the Generate's child and they
    # get re-evaluated once per TOKEN instead of once per doc — measured
    # 25× slower. The join-back shape keeps each expression evaluated
    # once; the top-count side broadcasts.
    per_row = docs.select(
        "doc_id",
        F.size("tok").alias("__n"),
        F.size(F.array_distinct("tok")).alias("__nd"),
        F.size(word_shingles("tok", 2)).alias("__nb"),
        F.size(F.array_distinct(word_shingles("tok", 2))).alias("__nbd"),
    )
    top = (
        docs.select("doc_id", F.explode("tok").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("__top"))
    )
    return per_row.join(top, "doc_id").select(
        "doc_id",
        F.col("__n").alias("n_tokens"),
        F.round(F.col("__nd") / F.col("__n"), 6).alias("uniq_ratio"),
        F.round(
            F.when(
                F.col("__nb") > 0, 1.0 - F.col("__nbd") / F.col("__nb")
            ).otherwise(0.0),
            6,
        ).alias("dup_bigram_ratio"),
        F.round(F.col("__top") / F.col("__n"), 6).alias("top_token_ratio"),
    )


def _oracle_doc_repetition() -> str:
    from fink_science_spark.functions.text import tokens_sql, word_shingles_sql

    return f"""
WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
b AS (
  SELECT doc_id, toks, {word_shingles_sql('t.toks', 2)} AS bi FROM t
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(len(list_distinct(toks)) / len(toks), 6) AS uniq_ratio,
       round(CASE WHEN len(bi) > 0
                  THEN 1.0 - len(list_distinct(bi)) / len(bi)
                  ELSE 0.0 END, 6) AS dup_bigram_ratio,
       round(list_max([len(list_filter(toks, x -> x = d))
                       for d in list_distinct(toks)]) / len(toks), 6)
           AS top_token_ratio
FROM b
"""


# --------------------------------------------------------------------------
# Deterministic global shuffle + shard assignment
# --------------------------------------------------------------------------

_N_SHARDS = 16


def q_train_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every document gets a
    reproducible (shard, position) from a salted 60-bit hash of its id —
    the "shuffle once, stream forever" step before sequence packing.

    Scale shape: ONE shuffle on the uniform hash-derived shard key; the
    per-shard row_number is a sort within each shard's partitions (Spark
    window), which at 1000 executors is embarrassingly parallel because
    shards are hash-balanced by construction. No skew is possible: the
    key is md5 output, not a natural key.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        hash64(F.col("doc_id").cast("string"), seed="shuffle").alias("__k"),
    ).withColumn("shard", (F.col("__k") % _N_SHARDS).cast("int"))
    w = Window.partitionBy("shard").orderBy("__k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


ORACLE_TRAIN_SHARD_ASSIGN = f"""
WITH keyed AS (
  SELECT doc_id,
         {hash64_sql('doc_id::VARCHAR', seed='shuffle')} AS k
  FROM documents
)
SELECT doc_id, (k % {_N_SHARDS})::INT AS shard,
       row_number() OVER (PARTITION BY (k % {_N_SHARDS})::INT
                          ORDER BY k, doc_id) AS pos
FROM keyed
"""

# --------------------------------------------------------------------------
# Sequence packing into fixed token budgets
# --------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per packed sequence (2048/4096 in prod;
# small here so sf0.001 still produces multi-bin shards)
_PACK_SHARDS = 8


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences:
    shard by hash, order within shard, running-cumsum of token counts,
    bin = floor(cumsum_before / budget).

    This is the streaming-compatible packing rule (a document lands in
    the bin its running offset starts in; bins may overflow by at most
    one document) — the variant a 100 TB pipeline actually runs, because
    exact first-fit packing is inherently sequential per shard and this
    form is pure window algebra: one shuffle on the hash-balanced shard
    key, then codegen'd window cumsum + row_number, no Python, no state.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        (
            hash64(F.col("doc_id").cast("string"), seed="pack") % _PACK_SHARDS
        ).cast("int").alias("shard"),
    )
    w_cum = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn("__cum", F.sum("n_tokens").over(w_cum)).withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(_PACK_BUDGET)),
    )
    w_pos = Window.partitionBy("shard", "bin_id").orderBy("doc_id")
    return packed.select(
        "doc_id",
        "shard",
        "bin_id",
        "n_tokens",
        F.row_number().over(w_pos).alias("pos_in_bin"),
    )


ORACLE_SEQUENCE_PACKING = f"""
WITH tok AS (
  SELECT doc_id, len({tokens_sql('text')}) AS n_tokens,
         ({hash64_sql('doc_id::VARCHAR', seed='pack')} % {_PACK_SHARDS})::INT AS shard
  FROM documents
),
cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM tok
)
SELECT doc_id, shard,
       CAST(floor((c - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       n_tokens,
       row_number() OVER (
         PARTITION BY shard,
                      CAST(floor((c - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
         ORDER BY doc_id) AS pos_in_bin
FROM cum
"""

# --------------------------------------------------------------------------
# TF-IDF top-k terms per document
# --------------------------------------------------------------------------

_TFIDF_K = 3


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, the sklearn convention).

    Scale shape: term frequencies are one hash-agg on (doc_id, term);
    document frequencies reduce that to a VOCABULARY-sized table, which
    is broadcast back (vocab ≪ corpus — at 100 TB it is the only small
    side), as is the one-row corpus count. The final top-k is a window
    over doc_id — the same key the tf agg already shuffled on, so AQE
    reuses the partitioning. Ties break on term for determinism.
    """

    # fan out before tokenize/explode: the tf subtree is re-evaluated by
    # the two broadcast builds below (dfreq, n_docs), each a serial
    # 0.33 s single-task job under the single-row-group scan; no-op at
    # scale
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    )
    terms = (
        docs
        .select("doc_id", F.explode_outer(tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull())
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


ORACLE_TFIDF_TOPK = f"""
WITH terms AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, round(tfidf, 6) AS tfidf, rank
FROM ranked WHERE rank <= {_TFIDF_K}
"""

# --------------------------------------------------------------------------
# Weighted domain-mixture sampling
# --------------------------------------------------------------------------

# Target mixture: up/down-weight sources by name. Unlisted sources get
# the tail weight. (In prod this map comes from the data-mixing config.)
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.8, "src2": 0.6, "src3": 0.4}
_MIX_TAIL = 0.25


def _mix_weight_spark() -> F.Column:
    expr = F.lit(_MIX_TAIL)
    for src, wgt in reversed(_MIX_WEIGHTS.items()):
        expr = F.when(F.col("source") == src, F.lit(wgt)).otherwise(expr)
    return expr


def _mix_weight_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items()
    )
    # the ::DOUBLE matters: DuckDB types the bare decimal literals as
    # DECIMAL(3,2), which the driver's type-sensitive value hash treats
    # as a different value from Spark's double
    return f"(CASE {whens} ELSE {_MIX_TAIL} END)::DOUBLE"


_U_DENOM = float(1 << 60)  # hash64 is uniform on [0, 2^60)


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-source (domain) sampling toward a target mixture:
    keep a document iff its deterministic md5-uniform draw falls under
    its source's weight.

    The data-mixing step of a pre-training pipeline (up/down-sampling
    domains to a recipe). Deterministic — re-runs and the oracle see the
    same sample — and a pure per-row map: the weight lookup is a codegen'd
    CASE, the draw is md5 on the row's own id, no shuffle, no RNG state.
    At 100 TB this composes with the parquet scan (filter pushes to rows;
    only doc_id/source/n_chars are read).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = hash64(F.col("doc_id").cast("string"), seed="mix") / F.lit(_U_DENOM)
    return (
        docs.withColumn("w", _mix_weight_spark())
        .withColumn("u", F.round(u, 9))
        .filter(F.col("u") < F.col("w"))
        .select("doc_id", "source", "n_chars", "w", "u")
    )


ORACLE_DOMAIN_MIX_SAMPLE = f"""
WITH draws AS (
  SELECT doc_id, source, n_chars,
         {_mix_weight_sql()} AS w,
         round({hash64_sql('doc_id::VARCHAR', seed='mix')} / {_U_DENOM!r}, 9)
           AS u
  FROM documents
)
SELECT doc_id, source, n_chars, w, u FROM draws WHERE u < w
"""


# --------------------------------------------------------------------------
# fastText-shaped hashed-n-gram quality classifier (corpus-wide scoring)
# --------------------------------------------------------------------------


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/GPT-3-style quality filtering: a frozen hashed-bigram linear
    classifier scored over every document — feature hashing into 64
    buckets, dyadic-rational weights (exact order-independent sums),
    sigmoid, keep-threshold at 0.5. Pure per-row map at scan speed; see
    operators/models.py for the kernel contract."""
    from fink_science_spark.operators.models import ft_score_col

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        key="doc_id",
    ).select("doc_id", "source", tokens("text").alias("toks"))
    grams = F.concat(F.col("toks"), word_shingles(F.col("toks"), 2))
    return docs.select(
        "doc_id",
        "source",
        F.round(ft_score_col(grams), 6).alias("quality_score"),
    ).withColumn("keep", F.col("quality_score") > 0.5)


def _oracle_quality_classifier() -> str:
    from fink_science_spark.operators.models import ft_score_sql

    toks = tokens_sql("text")
    grams = f"(toks || {word_shingles_sql('toks', 2)})"
    return f"""
WITH tok AS (
  SELECT doc_id, source, {toks} AS toks FROM documents
),
s AS (
  SELECT doc_id, source,
         round({ft_score_sql(grams)}, 6) AS quality_score
  FROM tok
)
SELECT doc_id, source, quality_score, quality_score > 0.5 AS keep FROM s
"""


# --------------------------------------------------------------------------
# URL/host-level curation (C4-style blocklist + host aggregation)
# --------------------------------------------------------------------------

# The documents table carries no URL, so both engines derive the same
# deterministic one from (source, doc_id) — the operator under test is
# the host-extraction regexp, the broadcast blocklist anti-join, and the
# per-host rollup (the C4/RefinedWeb curation stage that filters and
# rates whole domains before any per-doc work).

_BLOCKED_SOURCES = ("src3", "src7")
_BLOCKED_HOSTS = [
    f"{s}.example-{k}.org" for s in _BLOCKED_SOURCES for k in range(3)
]
_HOST_RE = "https://([^/]+)/"


def q_host_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level curation: synthesize url → regexp host extraction →
    broadcast anti-join against a blocklist → per-host doc/char rollup.
    Blocklist is broadcast (never a shuffle); the host agg is one
    map-combinable shuffle keyed by host — the C4 domain-filter shape."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example-"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".org/p/"),
        F.col("doc_id").cast("string"),
    )
    hosts = docs.withColumn("host", F.regexp_extract(url, _HOST_RE, 1))
    block = spark.createDataFrame(
        [(h,) for h in _BLOCKED_HOSTS], "host string"
    )
    kept = hosts.join(F.broadcast(block), "host", "left_anti")
    return (
        kept.groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


ORACLE_HOST_CURATION = f"""
WITH u AS (
  SELECT doc_id, source, length(text) AS n_chars,
         'https://' || source || '.example-' || (doc_id % 3)
         || '.org/p/' || doc_id AS url
  FROM documents
),
h AS (
  SELECT regexp_extract(url, '{_HOST_RE}', 1) AS host, n_chars FROM u
)
SELECT host, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM h
WHERE host NOT IN ({", ".join(f"'{b}'" for b in _BLOCKED_HOSTS)})
GROUP BY host
"""


# --------------------------------------------------------------------------
# Corpus data-card rollup (per-source composition statistics)
# --------------------------------------------------------------------------


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source composition table a training run publishes with its
    data card: doc counts, char volume, token-count percentiles, and
    type-token ratio (lexical diversity). Two map-combinable aggs — doc
    grain and token grain — joined on the 20-row source key."""
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        key="doc_id",
    ).select(
        "source",
        F.length("text").alias("n_chars"),
        tokens("text").alias("toks"),
    )
    doc_stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.percentile(F.size("toks"), F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile(F.size("toks"), F.lit(0.9)), 4).alias("p90_tokens"),
    )
    tok_stats = (
        docs.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
        )
        .withColumn(
            "ttr",
            F.round(F.col("distinct_tokens") / F.col("total_tokens"), 6),
        )
    )
    return doc_stats.join(tok_stats, "source").select(
        "source", "n_docs", "total_chars", "p50_tokens", "p90_tokens",
        "total_tokens", "distinct_tokens", "ttr",
    )


ORACLE_CORPUS_DATACARD = f"""
WITH tok AS (
  SELECT source, length(text) AS n_chars, {tokens_sql('text')} AS toks
  FROM documents
),
d AS (
  SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
         round(quantile_cont(len(toks), 0.5), 4) AS p50_tokens,
         round(quantile_cont(len(toks), 0.9), 4) AS p90_tokens
  FROM tok GROUP BY source
),
t AS (
  SELECT source, count(*) AS total_tokens,
         count(DISTINCT w) AS distinct_tokens,
         round(count(DISTINCT w) * 1.0 / count(*), 6) AS ttr
  FROM (SELECT source, unnest(toks) AS w FROM tok)
  GROUP BY source
)
SELECT d.source, n_docs, total_chars, p50_tokens, p90_tokens,
       total_tokens, distinct_tokens, ttr
FROM d JOIN t ON d.source = t.source
"""


# --------------------------------------------------------------------------
# Sliding-window document chunking: long documents → fixed-size training
# chunks with overlap (the context-window preprocessing step between
# cleaning and sequence packing). Pure per-row map + Generate — no
# shuffle, no Python; at 100 TB this is a narrow scan-shaped pass whose
# output rows carry a fingerprint instead of the chunk text (the text
# re-materializes downstream only where needed).
# --------------------------------------------------------------------------

_CHUNK_SIZE = 32    # tokens per chunk
_CHUNK_OVERLAP = 8  # tokens shared with the previous chunk
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (doc, chunk): chunk k covers tokens
    [k·stride, k·stride + size); the last chunk starts only if it adds
    tokens beyond the previous chunk's coverage (start + overlap < n),
    so n_chunks = 1 + floor(max(n − overlap − 1, 0) / stride). Emits the
    chunk's token count and an md5 fingerprint of its joined tokens —
    enough for downstream dedup/packing without shipping text."""
    toks = tokens("text")
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
        .withColumn(
            "nc",
            (
                F.lit(1)
                + F.floor(
                    F.greatest(
                        F.col("n") - _CHUNK_OVERLAP - 1, F.lit(0)
                    ) / _CHUNK_STRIDE
                )
            ).cast("int"),
        )
    )
    exploded = docs.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(
            F.sequence(
                F.lit(0), (F.col("nc") - 1) * _CHUNK_STRIDE,
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("chunk_id", "start_tok"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("start_tok") + 1, F.lit(_CHUNK_SIZE)
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size(chunk).alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


ORACLE_DOC_CHUNKS = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         (1 + CAST(floor(greatest(len(toks) - {_CHUNK_OVERLAP} - 1, 0)
                         / {_CHUNK_STRIDE}) AS INT)) AS nc
  FROM tok WHERE len(toks) >= 1
)
SELECT doc_id,
       g.i AS chunk_id,
       g.i * {_CHUNK_STRIDE} AS start_tok,
       least({_CHUNK_SIZE}, n - g.i * {_CHUNK_STRIDE})::INT AS n_tok,
       md5(array_to_string(
           toks[g.i * {_CHUNK_STRIDE} + 1 :
                g.i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')) AS chunk_md5
FROM base,
     (SELECT unnest(generate_series(
          0, greatest((SELECT max(nc) FROM base) - 1, 0))) AS i) AS g
WHERE g.i < nc
"""


# --------------------------------------------------------------------------
# ks_source_drift: per-language two-sample KS between source cohorts
# --------------------------------------------------------------------------


def q_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distribution drift per language: document-length
    distributions of the even-numbered source cohort vs the odd cohort
    (reference kernel: the kstest distribution comparison of
    ztf/hostless_detection/powerspectrum.py:214-222; also the
    training-corpus drift check a curation pipeline runs per shard).
    Native single-window plan — see operators/stats.ks_two_sample."""
    docs = _t(spark, sf_dir, "documents")
    src_num = F.expr("CAST(substring(source, 4) AS INT)")
    ks = ks_two_sample(
        docs,
        group="lang",
        value="n_chars",
        in_a=src_num % 2 == 0,
        in_b=src_num % 2 == 1,
    )
    return ks.select(
        "lang", "n_a", "n_b", F.round("ks_stat", 9).alias("ks_stat")
    )


ORACLE_KS_SOURCE_DRIFT = (
    "SELECT lang, n_a, n_b, round(ks_stat, 9) AS ks_stat FROM ("
    + ks_two_sample_sql(
        "documents",
        group="lang",
        value="n_chars",
        in_a_sql="CAST(substr(source, 4) AS INT) % 2 = 0",
        in_b_sql="CAST(substr(source, 4) AS INT) % 2 = 1",
    )
    + ")"
)


# --------------------------------------------------------------------------
# bpe_train: distributed BPE merge training — the tokenizer-construction
# step of a training-data pipeline (count adjacent symbol pairs over the
# corpus, merge the most frequent, repeat). Iterative like CC / Lloyd /
# PageRank, but the per-round reduction is a corpus-wide pair count and
# the per-round "model" is ONE row (the argmax merge), which stays in
# the DAG as a broadcast cross-join — no driver round-trips.
#
# The merge APPLY step is exact BPE greedy (leftmost, non-overlapping)
# via plain string replace on a boundary-safe encoding: tokens joined
# with DOUBLE spaces and single sentinel spaces at the ends, so the
# pattern " A  B " always consumes one boundary space from each side
# and a triple "T T T" merges exactly once — the classic " a b a b "
# overlap bug cannot occur. Sequences are re-canonicalized (split on
# space runs, re-join) each round.
#
# At 100 TB each round is one map (pair explode) + one hash agg + a
# 1-row broadcast: shuffle payload is (pair, count), never documents.
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3
_BPE_PREFIX = 64  # chars of each doc considered (bounds the explode)


def _bpe_prepare(spark: SparkSession, sf_dir: str, extra: list) -> DataFrame:
    """Normalized char-level sequences in the double-space canonical form,
    carrying ``extra`` passthrough columns."""
    # fan out before the char-split prep: the prepared corpus is
    # checkpointed ONCE and consumed by every merge round's count job,
    # so a 1-partition checkpoint (inherited from the single-row-group
    # scan) serialized every round (measured: per-round 1-task jobs of
    # 0.17-0.28 s in bpe_encode_stats)
    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", *extra, "text"),
        key="doc_id",
    ).select(
        *extra,
        F.regexp_replace(
            F.lower(F.substring("text", 1, _BPE_PREFIX)), "[^a-z]", ""
        ).alias("s"),
    ).filter(F.length("s") >= 2)
    seq = F.concat(
        F.lit(" "),
        F.array_join(
            F.split(
                F.trim(F.regexp_replace(F.col("s"), "(.)", "$1 ")), " +"
            ),
            "  ",
        ),
        F.lit(" "),
    )
    return docs.select(*extra, seq.alias("seq"))


def _bpe_rounds(cur: DataFrame, extra: list):
    """Run the merge-training rounds; returns (final sequences DF with
    ``extra`` columns intact, list of 1-row merge DFs (round, pair,
    freq)).

    Job shape (r9 optimization, guide §1.2/§5): ONE distributed
    count+argmax job per merge round, nothing else. The prepared corpus
    is checkpointed once (the regex char-split is the expensive part,
    consumed by every round); each round's merge APPLY stays a LAZY
    replace+recanonicalize layer over that checkpoint — it is evaluated
    inside the next round's count job (and, for bpe_encode_stats, once
    in the final encode), never materialized on its own. The 1-row
    ``best`` IS eagerly checkpointed: it is consumed twice (merge output
    + the broadcast rewrite) and checkpointing it keeps the apply
    chain's lineage depth linear in rounds — each layer references a
    1-row checkpoint, not the previous round's whole aggregation (the
    connected_components lesson). vs the previous per-round eager corpus
    checkpoints: 3 fewer full-corpus materializations per query, and the
    LAST round's apply is never computed at all for bpe_train (its
    output is only the merge table). At 100 TB that is the difference
    between 2×rounds corpus passes and rounds+1."""
    merges = []
    cur = cur.localCheckpoint(eager=True)
    for rnd in range(1, _BPE_ROUNDS + 1):
        toks = F.split(F.trim(F.col("seq")), " +")
        pair = F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        counts = (
            cur.select(F.explode(pair).alias("pair"))
            .filter(F.col("pair").isNotNull())
            .groupBy("pair")
            .agg(F.count("*").alias("freq"))
        )
        best = (
            counts.orderBy(F.col("freq").desc(), F.col("pair").asc())
            .limit(1)
            .select(F.lit(rnd).alias("round"), "pair", "freq")
            .localCheckpoint(eager=True)
        )
        merges.append(best)
        pat = F.concat(
            F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        rep = F.concat(
            F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        applied = cur.crossJoin(
            F.broadcast(best.select("pair"))
        ).select(*extra, F.replace(F.col("seq"), pat, rep).alias("seq"))
        # re-canonicalize to the double-space form for the next round's
        # replace (the pattern needs exact double-space token boundaries;
        # the SPLIT in the count step is spacing-robust either way) —
        # lazy: one narrow string layer fused into whatever job consumes
        # it next
        cur = applied.select(
            *extra,
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.trim(F.col("seq")), " +"), "  "),
                F.lit(" "),
            ).alias("seq"),
        )
    return cur, merges


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = _bpe_prepare(spark, sf_dir, [])
    _final, merges = _bpe_rounds(cur, [])
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


ORACLE_BPE_TRAIN = r"""
WITH norm AS (
  SELECT regexp_replace(lower(substring(text, 1, 64)), '[^a-z]', '', 'g') AS s
  FROM documents
),
r0 AS (
  SELECT ' ' || array_to_string(
           regexp_split_to_array(
             trim(regexp_replace(s, '(.)', '\1 ', 'g')), ' +'), '  ') || ' '
         AS seq
  FROM norm WHERE len(s) >= 2
),
""" + ",\n".join(
    f"""p{k} AS (
  SELECT t[i] || ' ' || t[i+1] AS pair FROM
    (SELECT regexp_split_to_array(trim(seq), ' +') AS t FROM r{k - 1}) x,
    (SELECT unnest(generate_series(1, {_BPE_PREFIX})) AS i) g
  WHERE i < len(t)
),
m{k} AS (
  SELECT {k} AS round, pair, count(*) AS freq FROM p{k}
  GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 1
),
r{k} AS (
  SELECT ' ' || array_to_string(regexp_split_to_array(trim(
           replace(seq,
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '') || ' ')
         ), ' +'), '  ') || ' ' AS seq
  FROM r{k - 1}
)"""
    for k in range(1, _BPE_ROUNDS + 1)
) + f"""
SELECT CAST(round AS INT) AS round, pair, freq FROM (
  {" UNION ALL ".join(f"SELECT * FROM m{k}" for k in range(1, _BPE_ROUNDS + 1))}
) z
"""


# --------------------------------------------------------------------------
# bpe_encode_stats: the trained-tokenizer artifact applied corpus-wide —
# after the bpe_train merges, every document is ENCODED and the
# per-source compression is measured (tokens per char before vs after;
# the metric a tokenizer-budget planner actually consumes). Same shared
# round machinery as bpe_train, with the source column carried through
# the merge applications.
# --------------------------------------------------------------------------


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = _bpe_prepare(spark, sf_dir, [F.col("source")])
    final, _merges = _bpe_rounds(cur, [F.col("source")])
    n_tokens = F.size(F.split(F.trim(F.col("seq")), " +"))
    # chars = token characters only (spaces are encoding artifacts)
    n_chars = F.length(F.regexp_replace(F.col("seq"), " ", ""))
    enc = final.select("source", n_tokens.alias("n_tok"), n_chars.alias("n_ch"))
    return enc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_ch").alias("total_chars"),
        F.round(
            F.sum("n_tok").cast("double") / F.sum("n_ch").cast("double"), 6
        ).alias("tokens_per_char"),
    )


def _oracle_bpe_encode() -> str:
    rounds = []
    for k in range(1, _BPE_ROUNDS + 1):
        rounds.append(f"""p{k} AS (
  SELECT t[i] || ' ' || t[i+1] AS pair FROM
    (SELECT regexp_split_to_array(trim(seq), ' +') AS t FROM r{k - 1}) x,
    (SELECT unnest(generate_series(1, {_BPE_PREFIX})) AS i) g
  WHERE i < len(t)
),
m{k} AS (
  SELECT pair FROM p{k}
  GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1
),
r{k} AS (
  SELECT source, ' ' || array_to_string(regexp_split_to_array(trim(
           replace(seq,
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM m{k}), ' ', '') || ' ')
         ), ' +'), '  ') || ' ' AS seq
  FROM r{k - 1}
)""")
    return r"""
WITH norm AS (
  SELECT source,
         regexp_replace(lower(substring(text, 1, 64)), '[^a-z]', '', 'g') AS s
  FROM documents
),
r0 AS (
  SELECT source,
         ' ' || array_to_string(
           regexp_split_to_array(
             trim(regexp_replace(s, '(.)', '\1 ', 'g')), ' +'), '  ') || ' '
         AS seq
  FROM norm WHERE len(s) >= 2
),
""" + ",\n".join(rounds) + f"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(seq), ' +'))) AS BIGINT)
         AS total_tokens,
       CAST(sum(len(replace(seq, ' ', ''))) AS BIGINT) AS total_chars,
       round(CAST(sum(len(regexp_split_to_array(trim(seq), ' +')))
                  AS DOUBLE)
             / sum(len(replace(seq, ' ', ''))), 6) AS tokens_per_char
FROM r{_BPE_ROUNDS} GROUP BY source
"""


ORACLE_BPE_ENCODE_STATS = _oracle_bpe_encode()


# --------------------------------------------------------------------------
# eval_split: deterministic stratified train/val/test assignment — the
# split step every training pipeline runs before anything else. The
# split is a pure function of the document id (md5 uniform -> fraction
# thresholds): re-runs, different clusters, and the oracle all assign
# identically, and a document can never leak across splits. Stratification
# is free: the uniform draw is independent of `source`, so per-source
# fractions concentrate to the targets; the query reports realized
# per-(source, split) shares for drift monitoring.
# --------------------------------------------------------------------------

_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.9  # (train, val]; rest = test


def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.hashing import hash64

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = hash64(F.col("doc_id").cast("string"), seed="split") / F.lit(_U_DENOM)
    split = (
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = docs.select("source", split.alias("split"))
    wsrc = Window.partitionBy("source")
    per = assigned.groupBy("source", "split").agg(F.count("*").alias("n"))
    return per.select(
        "source",
        "split",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wsrc), 4
        ).alias("share"),
    )


def _oracle_eval_split() -> str:
    from fink_science_spark.functions.hashing import hash64_sql

    u = f"({hash64_sql('doc_id::VARCHAR', seed='split')} / {_U_DENOM!r})"
    return f"""
WITH assigned AS (
  SELECT source,
         CASE WHEN {u} < {_SPLIT_TRAIN!r} THEN 'train'
              WHEN {u} < {_SPLIT_VAL!r} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
per AS (
  SELECT source, split, count(*) AS n FROM assigned GROUP BY source, split
)
SELECT source, split, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY source), 4)
         AS share
FROM per
"""


ORACLE_EVAL_SPLIT = _oracle_eval_split()


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
# host_pagerank / trailing_mean lesson).
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
    # jobs here (no-op at scale, see tables._fan_out)
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
    # single-task jobs); no-op at scale (tables._fan_out)
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
# phrase_match: positional phrase search over the corpus — which
# documents contain an exact N-word phrase, and how many times. The
# inverted-index shape (token → (doc, position) postings, intersected
# with position arithmetic) rather than a substring scan: at 100 TB the
# postings for the PHRASE TOKENS ONLY are touched (predicate pushes the
# token filter into the posexplode output before any shuffle), while
# LIKE '%...%' must decompress and scan every byte of every document.
#
# The phrase is data-derived (the corpus's globally most frequent
# 3-gram, computed with two map-combinable aggs) so the query stays
# meaningful at every SF. Postings never carry text — (doc_id, pos)
# longs only.
# --------------------------------------------------------------------------

_PM_N = 3


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.functions.text import tokens, word_shingles

    docs = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).select("doc_id", tokens("text").alias("toks"))
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), _PM_N)).alias("g")
    )
    # data-derived needle: most frequent 3-gram, ties broken
    # lexicographically (1 row, broadcast).
    top = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("g"))
        .limit(1)
        .select(F.col("g").alias("needle"))
    )
    # positional postings restricted to the needle: the join predicate
    # prunes the exploded grams BEFORE the count aggregation.
    hits = (
        docs.select(
            "doc_id",
            F.posexplode(word_shingles(F.col("toks"), _PM_N)).alias(
                "pos", "g"
            ),
        )
        .join(F.broadcast(top), F.col("g") == F.col("needle"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )
    return hits


def _oracle_phrase_match() -> str:
    from fink_science_spark.functions.text import (
        tokens_sql,
        word_shingles_sql,
    )

    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
),
g AS (
  SELECT doc_id, unnest({word_shingles_sql('toks', _PM_N)}) AS gram,
         generate_subscripts({word_shingles_sql('toks', _PM_N)}, 1) AS pos1
  FROM tok
),
top AS (
  SELECT gram AS needle FROM g GROUP BY gram
  ORDER BY count(*) DESC, gram LIMIT 1
)
SELECT doc_id, count(*) AS n_occurrences,
       CAST(min(pos1) - 1 AS INTEGER) AS first_pos
FROM g JOIN top ON g.gram = top.needle
GROUP BY doc_id
ORDER BY doc_id
"""


ORACLE_PHRASE_MATCH = _oracle_phrase_match()


_KNUTH = 2654435761
_MERSENNE31 = 2147483647


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


register("text_quality", q_text_quality, ORACLE_TEXT_QUALITY)
register("lang_id", q_lang_id, ORACLE_LANG_ID, bench=False)
register("bpe_token_count", q_bpe_token_count, _oracle_bpe_token_count())
register("pii_redact", q_pii_redact, _oracle_pii_redact())
register("doc_repetition", q_doc_repetition, _oracle_doc_repetition())
register("train_shard_assign", q_train_shard_assign, ORACLE_TRAIN_SHARD_ASSIGN)
register("sequence_packing", q_sequence_packing, ORACLE_SEQUENCE_PACKING)
register("tfidf_topk", q_tfidf_topk, ORACLE_TFIDF_TOPK)
register("domain_mix_sample", q_domain_mix_sample, ORACLE_DOMAIN_MIX_SAMPLE)
register("quality_classifier", q_quality_classifier,
         _oracle_quality_classifier())
register("host_curation", q_host_curation, ORACLE_HOST_CURATION)
register("corpus_datacard", q_corpus_datacard, ORACLE_CORPUS_DATACARD)
register("doc_chunks", q_doc_chunks, ORACLE_DOC_CHUNKS)
register("ks_source_drift", q_ks_source_drift, ORACLE_KS_SOURCE_DRIFT)
register("bpe_train", q_bpe_train, ORACLE_BPE_TRAIN)
register("bpe_encode_stats", q_bpe_encode_stats, ORACLE_BPE_ENCODE_STATS)
register("eval_split", q_eval_split, ORACLE_EVAL_SPLIT)
register("lm_quality_buckets", q_lm_quality_buckets, ORACLE_LM_QUALITY_BUCKETS)
register("pmi_collocations", q_pmi_collocations, ORACLE_PMI_COLLOCATIONS)
register("shard_manifest", q_shard_manifest, _oracle_shard_manifest())
register("temperature_mix_sample", q_temperature_mix_sample,
         _oracle_temperature_mix_sample())
register("dsir_select", q_dsir_select, ORACLE_DSIR_SELECT)
register("phrase_match", q_phrase_match, ORACLE_PHRASE_MATCH)
register("length_bucket_batches", q_length_bucket_batches,
         ORACLE_LENGTH_BUCKET_BATCHES)
