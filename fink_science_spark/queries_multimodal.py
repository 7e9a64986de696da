"""Multimodal queries: binary blob, image, audio and video columns."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.operators.multimodal import extract_blob_features
from fink_science_spark.registry import register
from fink_science_spark.tables import _fan_out, _t

# --------------------------------------------------------------------------
# Multimodal plumbing (M7) — binary columns through Arrow batches
# --------------------------------------------------------------------------


def q_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas (the cutout-stamp
    decode shape, with the deterministic fake codec): doc text → 16-byte
    blob (md5) → per-blob byte features (SURVEY M7 multimodal)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    return extract_blob_features(docs, "doc_id", "blob", codec="fake")


ORACLE_BLOB_FEATURES = """
SELECT doc_id,
       16 AS byte_len,
       ('0x' || substr(md5(text), 1, 2))::INT AS first_byte,
       (list_sum([('0x' || substr(md5(text), 2*i - 1, 2))::INT
                  for i in generate_series(1, 16)]) % 997)::BIGINT AS checksum
FROM documents
"""


def q_blob_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path (no fake): gzip-compress each doc's UTF-8 bytes
    (mtime=0 → deterministic), then decode through the registered 'gzip'
    codec — stdlib gunzip, the reference's exact stamp decode
    (ztf/hostless_detection/pipeline_utils.py:46-57) — and fingerprint
    the decompressed payload. The oracle recomputes the fingerprint
    (strlen + md5) straight from the text, so a wrong roundtrip anywhere
    (compress, Arrow binary transfer, gunzip) breaks the hash match."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # fan out before the gzip kernel: the single-row-group scan ran it
    # in ONE task (joblog: 0.42 s 1-task job); no-op at scale
    docs = _fan_out(spark, sf_dir, "documents", docs, key="doc_id")

    @F.pandas_udf("binary")
    def gz(text: pd.Series) -> pd.Series:
        import gzip

        return text.map(lambda t: gzip.compress(t.encode("utf-8"), mtime=0))

    blobs = docs.select("doc_id", gz("text").alias("blob"))
    return extract_blob_features(blobs, "doc_id", "blob", codec="gzip")


# md5(text) in duckdb hashes the string's UTF-8 bytes — identical input
# to hashlib.md5 over the gunzipped payload
ORACLE_BLOB_GZIP_ROUNDTRIP = """
SELECT doc_id, strlen(text) AS payload_len, md5(text) AS payload_md5
FROM documents
"""


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame/chunk sampling of binary payloads (video/audio shape): text
    bytes → up to 8 windows of 32 bytes, stride 64; per-doc frame count +
    sampled byte total — pure JVM byte slicing, no Python."""
    from fink_science_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    frames = sample_frames(docs, "doc_id", "blob", frame_size=32, stride=64,
                           max_frames=8)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.length("frame_bytes")).alias("sampled_bytes"),
    )


# strlen (BYTES), not length (characters): the engine slices the UTF-8
# payload as binary, so the oracle must count bytes — on non-ASCII text
# length(text) < strlen(text) and the two silently diverge (the round-1
# driver snapshot's only hash mismatches were exactly this class;
# tests/test_operators_unit.py pins it with non-ASCII payloads).
ORACLE_FRAME_SAMPLES = """
WITH f AS (
  SELECT doc_id, i,
         least(32, strlen(text) - (i * 64)) AS flen
  FROM documents, (SELECT unnest(generate_series(0, 7)) AS i)
  WHERE strlen(text) - (i * 64) > 0
)
SELECT doc_id, count(*) AS n_frames, sum(flen)::BIGINT AS sampled_bytes
FROM f GROUP BY doc_id
"""


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-matrix statistics over binary blobs (the cutout-stamp
    analysis shape): doc text → 16-byte md5 blob → 4×4 pixel matrix →
    mean / max / 2σ-clipped mean / center−edge contrast, via the
    mapInPandas numpy kernel. The deterministic decode makes even the
    sigma-clip exactly SQL-verifiable."""
    from fink_science_spark.operators.multimodal import image_matrix_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    # fan out before the numpy kernel (ran in the ONE scan task); no-op
    # at scale
    docs = _fan_out(spark, sf_dir, "documents", docs, key="doc_id")
    stats = image_matrix_stats(docs, "doc_id", "blob", width=4, height=4)
    return stats.select(
        "doc_id",
        F.round("px_mean", 6).alias("px_mean"),
        "px_max",
        F.round("clipped_mean", 6).alias("clipped_mean"),
        F.round("contrast", 6).alias("contrast"),
    )


ORACLE_IMAGE_STATS = """
WITH px AS (
  SELECT doc_id,
         [('0x' || substr(md5(text), 2*i - 1, 2))::INT
          for i in generate_series(1, 16)] AS p
  FROM documents
),
s AS (
  SELECT doc_id, p,
         list_avg(p) AS mean,
         sqrt(list_avg(list_transform(p, x -> x * x))
              - list_avg(p) * list_avg(p)) AS std
  FROM px
)
SELECT doc_id,
       round(mean, 6) AS px_mean,
       list_max(p)    AS px_max,
       round(list_avg(list_filter(p, x -> x <= mean + 2 * std)), 6)
           AS clipped_mean,
       round((p[6] + p[7] + p[10] + p[11]) / 4.0
             - (list_sum(p) - p[6] - p[7] - p[10] - p[11]) / 12.0, 6)
           AS contrast
FROM s
"""


# --------------------------------------------------------------------------
# Audio-shaped multimodal features (second modality on the codec registry)
# --------------------------------------------------------------------------


def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the blob-codec plumbing: each
    document's bytes stand in for an 8-bit PCM waveform; the pcm8 codec
    (mapInPandas, Arrow-batch-bounded, blob never shuffled) emits
    all-integer frame-energy features the oracle recomputes from ASCII
    codes — the image-stamp pattern applied to a second modality."""
    from fink_science_spark.operators.multimodal import extract_blob_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("blob")
    )
    return extract_blob_features(docs, "doc_id", "blob", codec="pcm8")


ORACLE_AUDIO_FRAME_ENERGY = """
WITH f AS (
  SELECT doc_id, length(text) AS n,
         [list_sum([(ascii(substr(text, (fr - 1) * 25 + j, 1)) - 128)
                    * (ascii(substr(text, (fr - 1) * 25 + j, 1)) - 128)
                    for j in generate_series(1,
                        least(25, length(text) - (fr - 1) * 25))])
          for fr in generate_series(1,
              cast(ceil(length(text) / 25.0) AS BIGINT))] AS frames
  FROM documents
)
SELECT doc_id,
       n AS n_samples,
       len(frames) AS n_frames,
       (CASE WHEN n > 0 THEN list_sum(frames) ELSE 0 END)::BIGINT
           AS total_energy,
       (CASE WHEN n > 0 THEN list_max(frames) ELSE 0 END)::BIGINT
           AS max_frame_energy
FROM f
"""


# --------------------------------------------------------------------------
# arrow_byte_profile: the mapInArrow surface — RecordBatch-level Python
# with NO pandas materialization (pyarrow.compute kernels straight on
# the Arrow buffers; the zero-copy path for byte-level work where even
# a pandas Series per column is waste). Per-doc UTF-8 byte vs character
# lengths — the multibyte gap a tokenizer-budget planner needs — then a
# plain per-source rollup. Oracle: DuckDB strlen (bytes) vs length
# (characters).
# --------------------------------------------------------------------------


def q_arrow_byte_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def profile(batches):
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pc.cast(pc.binary_length(batch.column("text")), pa.int64()),
                    pc.cast(pc.utf8_length(batch.column("text")), pa.int64()),
                ],
                names=["doc_id", "source", "n_bytes", "n_chars"],
            )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    prof = d.mapInArrow(
        profile, schema="doc_id long, source string, n_bytes long, n_chars long"
    )
    return prof.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("n_bytes") > F.col("n_chars")).cast("long")).alias(
            "n_multibyte_docs"
        ),
    )


ORACLE_ARROW_BYTE_PROFILE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN strlen(text) > length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_multibyte_docs
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# image_thumbnail: the multimodal resize stage — 4×4 deterministic
# byte-matrix images average-pooled to 2×2 thumbnails in one Arrow
# kernel (operators/multimodal.image_resize_pool). Pixel bytes never
# shuffle; block means of uint8 pixels are exact multiples of 1/4, so
# the SQL twin reproduces the thumbnail exactly.
# --------------------------------------------------------------------------


def q_image_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.multimodal import image_resize_pool

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.md5("text")).alias("blob")
    )
    return image_resize_pool(docs, "doc_id", "blob", width=4, height=4, factor=2)


ORACLE_IMAGE_THUMBNAIL = """
WITH px AS (
  SELECT doc_id,
         [('0x' || substr(md5(text), 2*i - 1, 2))::INT
          for i in generate_series(1, 16)] AS p
  FROM documents
),
t AS (
  SELECT doc_id,
         [round((p[1] + p[2] + p[5] + p[6]) / 4.0, 6),
          round((p[3] + p[4] + p[7] + p[8]) / 4.0, 6),
          round((p[9] + p[10] + p[13] + p[14]) / 4.0, 6),
          round((p[11] + p[12] + p[15] + p[16]) / 4.0, 6)] AS thumb
  FROM px
)
SELECT doc_id, thumb,
       round((thumb[1] + thumb[2] + thumb[3] + thumb[4]) / 4.0, 6)
           AS thumb_mean
FROM t
"""


# --------------------------------------------------------------------------
# video_scene_cuts: frame f of doc d has pixels md5(text || '#' || f)
# (16 bytes = a 4×4 luma plane); luma = pixel mean (exact: int sum /
# 16). A cut fires where |luma_f − luma_{f−1}| > threshold. Output per
# doc: frame count, cut count, the largest jump, first cut index.
#
# The frame ids pack as doc_id * 16 + frame_idx so the pixel kernel
# (which contracts to one id column) carries them through; unpacked
# after. The lag/aggregation runs on one (id, frame_idx, luma) row per
# frame — 6 rows per doc, one doc_id exchange.
# --------------------------------------------------------------------------

# Both sequence queries pack (doc_id, position) into one id as
# doc_id * _SEQ_STRIDE + position so the scalar kernels (which contract
# to a single id column) carry the pair through; the asserts keep a
# future "more frames/windows" tweak from silently colliding adjacent
# documents' positions.
_SEQ_STRIDE = 16
_VSC_FRAMES = 6
_VSC_CUT = 30.0
assert _VSC_FRAMES <= _SEQ_STRIDE


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.multimodal import image_matrix_stats

    frames = (
        # fan the narrow rows out before the frames-per-doc explode +
        # per-frame md5 + Arrow kernel: the single-row-group scan ran
        # the whole decode pipeline in ONE task (1.47 s of 1.77 s)
        _fan_out(
            spark, sf_dir, "documents",
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            key="doc_id",
        )
        # NULL text ⇒ NULL blobs, which the kernel skips while the
        # oracle's generator would still emit frame rows — both twins
        # define the query over non-null documents explicitly
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0), F.lit(_VSC_FRAMES - 1))).alias(
                "frame_idx", "__i"
            ),
        )
        .select(
            (F.col("doc_id") * _SEQ_STRIDE + F.col("frame_idx")).alias("fid"),
            F.unhex(
                F.md5(
                    F.concat(
                        F.col("text"),
                        F.lit("#"),
                        F.col("frame_idx").cast("string"),
                    )
                )
            ).alias("blob"),
        )
    )
    luma = image_matrix_stats(frames, "fid", "blob", width=4, height=4).select(
        F.expr(f"fid div {_SEQ_STRIDE}").alias("doc_id"),
        (F.col("fid") % _SEQ_STRIDE).alias("frame_idx"),
        F.col("px_mean").alias("luma"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    jumps = luma.withColumn(
        "jump", F.abs(F.col("luma") - F.lag("luma").over(w))
    )
    return jumps.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.coalesce(
            F.sum((F.col("jump") > _VSC_CUT).cast("long")), F.lit(0)
        ).alias("n_cuts"),
        F.max("jump").alias("max_jump"),
        F.min(
            F.when(F.col("jump") > _VSC_CUT, F.col("frame_idx"))
        ).alias("first_cut"),
    )


ORACLE_VIDEO_SCENE_CUTS = f"""
WITH m AS (
  SELECT doc_id, i AS frame_idx,
         list_avg([('0x' || substr(md5(text || '#' || i), 2*j - 1, 2))::INT
                   for j in generate_series(1, 16)]) AS luma
  FROM documents, (SELECT unnest(generate_series(0, {_VSC_FRAMES - 1})) AS i)
  WHERE text IS NOT NULL
),
j AS (
  SELECT doc_id, frame_idx,
         abs(luma - lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx))
           AS jump
  FROM m
)
SELECT doc_id, COUNT(*) AS n_frames,
       COALESCE(CAST(SUM((jump > {_VSC_CUT!r})::BIGINT) AS BIGINT), 0)
         AS n_cuts,
       MAX(jump) AS max_jump,
       MIN(CASE WHEN jump > {_VSC_CUT!r} THEN frame_idx END) AS first_cut
FROM j GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# audio_silence_map: window w of doc d has samples md5(text || '~' ||
# w) (16 unsigned-8-bit PCM samples); loudness = mean |sample − 128|
# (exact: int sum / 16). A window is silent when loudness < threshold;
# the longest consecutive silent stretch comes from gaps-and-islands
# (window_idx − row_number over silent windows), all riding the same
# doc_id partitioning as the classification.
# --------------------------------------------------------------------------

_ASM_WINDOWS = 8
_ASM_SILENT = 58.0
assert _ASM_WINDOWS <= _SEQ_STRIDE


def q_audio_silence_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fink_science_spark.operators.multimodal import window_mad

    # NULL-text documents are EXCLUDED (same contract as
    # video_scene_cuts): they have no decodable windows, and reporting
    # n_windows=8 / n_silent=0 for them would claim analysis that never
    # happened.

    # fan out before the windows explode + per-window md5 (ran in the
    # ONE scan task: 0.60 s 1-task job); no-op at scale
    docs_nn = _fan_out(
        spark, sf_dir, "documents",
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text"),
        key="doc_id",
    )
    wins = (
        docs_nn
        .select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0), F.lit(_ASM_WINDOWS - 1))).alias(
                "win_idx", "__i"
            ),
        )
        .select(
            (F.col("doc_id") * _SEQ_STRIDE + F.col("win_idx")).alias("wid"),
            F.unhex(
                F.md5(
                    F.concat(
                        F.col("text"),
                        F.lit("~"),
                        F.col("win_idx").cast("string"),
                    )
                )
            ).alias("blob"),
        )
    )
    mad = window_mad(wins, "wid", "blob", n_bytes=16).select(
        F.expr(f"wid div {_SEQ_STRIDE}").alias("doc_id"),
        (F.col("wid") % _SEQ_STRIDE).alias("win_idx"),
        (F.col("mad") < _ASM_SILENT).alias("silent"),
    )
    w = Window.partitionBy("doc_id").orderBy("win_idx")
    runs = (
        mad.filter("silent")
        .withColumn("grp", F.col("win_idx") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(
            F.sum("run_len").alias("n_silent"),
            F.max("run_len").alias("longest_silence"),
        )
    )
    # n_windows is the schema constant — deriving it by re-counting the
    # mad relation would re-run the md5 generation and the kernel a
    # second time (no AQE reuse across the filtered/unfiltered
    # branches); the oracle hardcodes the same constant
    totals = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.lit(_ASM_WINDOWS).cast("long").alias("n_windows"))
    )
    return totals.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("n_silent", F.lit(0)).alias("n_silent"),
        F.coalesce("longest_silence", F.lit(0)).alias("longest_silence"),
    )


ORACLE_AUDIO_SILENCE_MAP = f"""
WITH m AS (
  SELECT doc_id, i AS win_idx,
         list_avg([abs(('0x' || substr(md5(text || '~' || i), 2*j - 1, 2))::INT
                       - 128)
                   for j in generate_series(1, 16)]) AS loudness
  FROM (SELECT * FROM documents WHERE text IS NOT NULL) documents,
       (SELECT unnest(generate_series(0, {_ASM_WINDOWS - 1})) AS i)
),
s AS (
  SELECT doc_id, win_idx FROM m WHERE loudness < {_ASM_SILENT!r}
),
runs AS (
  SELECT doc_id,
         win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY win_idx)
           AS grp
  FROM s
),
per AS (
  SELECT doc_id, grp, COUNT(*) AS run_len FROM runs GROUP BY doc_id, grp
),
agg AS (
  SELECT doc_id, CAST(SUM(run_len) AS BIGINT) AS n_silent,
         MAX(run_len) AS longest_silence
  FROM per GROUP BY doc_id
)
SELECT d.doc_id, {_ASM_WINDOWS} AS n_windows,
       COALESCE(agg.n_silent, 0) AS n_silent,
       COALESCE(agg.longest_silence, 0) AS longest_silence
FROM (SELECT * FROM documents WHERE text IS NOT NULL) d
LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


register("blob_features", q_blob_features, ORACLE_BLOB_FEATURES, bench=False)
register("blob_gzip_roundtrip", q_blob_gzip_roundtrip,
         ORACLE_BLOB_GZIP_ROUNDTRIP)
register("frame_samples", q_frame_samples, ORACLE_FRAME_SAMPLES, bench=False)
register("image_stats", q_image_stats, ORACLE_IMAGE_STATS)
register("audio_frame_energy", q_audio_frame_energy, ORACLE_AUDIO_FRAME_ENERGY)
register("arrow_byte_profile", q_arrow_byte_profile, ORACLE_ARROW_BYTE_PROFILE)
register("image_thumbnail", q_image_thumbnail, ORACLE_IMAGE_THUMBNAIL)
register("video_scene_cuts", q_video_scene_cuts, ORACLE_VIDEO_SCENE_CUTS)
register("audio_silence_map", q_audio_silence_map, ORACLE_AUDIO_SILENCE_MAP)
