"""Query registry, wave 18: multimodal sequence analysis.

Two operators extending the multimodal family from per-blob statistics
to ACROSS-FRAME sequence analysis — the video/audio shapes that need
both the binary kernel path AND relational window logic:

- video_scene_cuts: per-document frame sequence → per-frame luma
  through the real Arrow pixel kernel (image_matrix_stats) → scene-cut
  detection as a lag window on the luma series (cut = |Δluma| >
  threshold), per-doc cut profile.
- audio_silence_map: per-document sample windows → per-window mean
  absolute deviation from the pcm8 center through the window_mad
  kernel → silence classification → LONGEST silent run via
  gaps-and-islands on the window index.

Frame/window payloads are the repo's deterministic md5-derived bytes
(the documented stand-in for real codecs — a PIL/ffmpeg decode slots
into the same kernel signature via register_codec), which is what
makes even the kernel outputs exactly SQL-verifiable: the oracle
regenerates identical bytes from md5 hex digits.

Scale shapes, per the engine contract:
- Pixels/samples NEVER shuffle: blobs are consumed inside mapInPandas
  kernels that emit one scalar row per frame/window; everything that
  shuffles afterwards is (id, frame_idx, scalar).
- The per-doc sequence windows partition on doc_id with
  frames-per-doc a schema CONSTANT (6 frames / 8 windows) — per-window
  state is bounded by design, and the lag/island logic rides one
  doc_id exchange.
- Per-frame luma (sum of 16 bytes / 16) and window MAD (integer sum /
  16) are exact in double — power-of-two divisors — so thresholds and
  diffs compare bit-identically across engines with NO rounding step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fink_science_spark.queries import _fan_out, _t
from fink_science_spark.registry import register


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

register("video_scene_cuts", q_video_scene_cuts, ORACLE_VIDEO_SCENE_CUTS)


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
    # happened (round-5 advice item).
    from fink_science_spark.queries import _fan_out

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

register("audio_silence_map", q_audio_silence_map, ORACLE_AUDIO_SILENCE_MAP)
