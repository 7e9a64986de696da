"""Format-agnostic ingestion contract: the SAME enrichment DAG over the
SAME rows must produce byte-identical results regardless of which source
fed it — batch parquet, a parquet file stream, a CSV file stream, or the
pure-Python alert_replay DataSource stream.

This is the offline stand-in for the Avro/Kafka wiring the environment
can't exercise (no spark-avro jar, no network — reference broker path:
fink_science/tester.py:89-105): the enrichment DAG takes whatever
DataFrame the source hands it, so swapping in `format("avro")` or
`format("kafka") + from_avro` is a config change, not a code change.
The equivalence below is what makes that claim checkable today.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _enrich(df):
    """A representative stateless enrichment DAG: tokenize, quality
    metrics, language id — the per-row science-module shape."""
    from fink_science_spark.functions.text import (
        lang_id,
        punct_ratio,
        token_count,
        tokens,
    )

    t = tokens(F.col("text"))
    return df.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct"),
        lang_id(t).alias("lang_guess"),
        F.length("text").alias("n_chars2"),
    )


def _canon_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def doc_sources(spark, tmp_path_factory):
    """The documents table materialized in three source layouts plus the
    original parquet."""
    base = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tmp_path_factory.mktemp("fmt_eq")
    pq_dir = str(root / "pq")
    csv_dir = str(root / "csv")
    base.coalesce(2).write.parquet(pq_dir)
    # CSV needs explicit quoting/escaping to round-trip free text
    base.coalesce(2).write.options(
        header=True, quote='"', escape='"', multiLine=True
    ).csv(csv_dir)
    return base, pq_dir, csv_dir


def test_same_enrichment_output_across_source_formats(spark, doc_sources):
    from fink_science_spark.streaming.shell import run_to_memory

    base, pq_dir, csv_dir = doc_sources
    schema = base.schema
    expected = _canon_rows(_enrich(base))
    assert len(expected) > 0

    got_pq_stream = _canon_rows(
        run_to_memory(
            _enrich(spark.readStream.format("parquet").schema(schema).load(pq_dir)),
            "fmt_eq_parquet",
            spark,
            output_mode="append",
            width=4,
        )
    )
    csv_reader = (
        spark.readStream.format("csv")
        .schema(schema)
        .options(header=True, quote='"', escape='"', multiLine=True)
    )
    got_csv_stream = _canon_rows(
        run_to_memory(
            _enrich(csv_reader.load(csv_dir)),
            "fmt_eq_csv",
            spark,
            output_mode="append",
            width=4,
        )
    )

    assert got_pq_stream == expected
    assert got_csv_stream == expected


def test_same_enrichment_output_via_replay_datasource(spark, doc_sources):
    """The custom pure-Python DataSource (batch side) feeds the identical
    DAG and must agree byte-for-byte with the native parquet scan."""
    from fink_science_spark.sources.replay import register_replay_source

    base, _, _ = doc_sources
    register_replay_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    replay = (
        spark.read.format("alert_replay")
        .option("path", os.path.join(SF, "documents.parquet"))
        .load()
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    assert _canon_rows(_enrich(replay)) == _canon_rows(_enrich(base))
