"""The benchmark's workloads: which registered queries one pass runs.

Each workload is a subset of the families it is named after, chosen so
that one cold set-up, the warm-up passes, the counted passes and the
output checks of a run fit in well under a minute on four cores (see
README.md, "Why these operations").
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # The broker's per-night work on alerts: Python/Arrow model kernels
    # (gradient boosting, t2 transformer) in batch, and enrichment through
    # Structured Streaming runs inside the registry functions (file source,
    # foreachBatch parquet sink, memory sink with windowed state).
    "alerts": [
        "orphan_real",
        "t2_real",
        "stream_foreachbatch_enrich",
        "stream_weekly_counts",
    ],
    # LLM-data operators: shuffles, codegen and iterative driver loops;
    # model kernels and streaming unused.
    "corpus_curation": [
        "dedup_minhash_lsh",
        "bm25_topk",
        "text_quality",
        "pii_redact",
    ],
}

# DuckDB count of the rows each streaming operation's sources hold; the
# sum of numInputRows over its micro-batches must equal it.
STREAM_INPUT_SQL: dict[str, str] = {
    "stream_foreachbatch_enrich": "SELECT count(*) FROM events",
    "stream_weekly_counts": "SELECT count(*) FROM events",
}

# t2_real has no oracle; its row count must equal this cohort
# (queries_ext17.q_t2_real: clicks and purchases of every tenth user).
T2_ELIGIBLE_SQL = (
    "SELECT count(DISTINCT user_id) FROM events "
    "WHERE event_type IN ('click', 'purchase') AND user_id % 10 = 0"
)
