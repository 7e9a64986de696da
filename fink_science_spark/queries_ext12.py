"""Query registry, wave 13: Pareto skyline, segment overlap, and
MMR-diversified retrieval.

Three operators from the catalog/analytics edge the earlier waves did
not cover: multi-objective dominance filtering (the SKYLINE operator),
audience-overlap combinatorics compressed onto a bitmask histogram, and
maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) on
top of the ANN candidate stage — the "diverse top-k" step a retrieval
pipeline runs between recall and the LLM context window.

Scale shapes, per the engine contract:
- skyline: per-partition local frontier (vectorized numpy kernel, no
  shuffle) → tiny union → exact single-task refine. Local pruning is
  sound because partition-local dominance implies global dominance.
- segment_overlap: ONE user-keyed shuffle with a map-combinable bit_or;
  all pair combinatorics run on the ≤ 2^|types| mask histogram.
- mmr: candidates come from the bounded-query ANN kernel; the greedy
  loop joins only candidate-sized relations (broadcast), never the
  corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.queries import _t


# canonical home: functions/exact.py (re-exported here because every
# later wave already imports the underscore name from this module)
from fink_science_spark.functions.exact import halfup6 as _halfup6  # noqa: E402
from fink_science_spark.registry import register


# --------------------------------------------------------------------------
# skyline_frontier: the SKYLINE / Pareto-dominance operator (Börzsönyi
# et al., ICDE 2001) over the part catalog — "no other part is both
# cheaper and larger". x dominates y iff x.price <= y.price AND
# x.size >= y.size with at least one strict; the frontier is the
# non-dominated set (duplicate (price, size) points all survive —
# neither strictly dominates its twin).
#
# Scale shape: the classic distributed skyline — each partition computes
# its LOCAL frontier with a fully vectorized kernel (sort by price,
# per-price-group max via maximum.reduceat, exclusive prefix max across
# groups), which is sound because a point dominated inside one partition
# is dominated globally. The global refine is UNCONDITIONAL (r3 verdict
# #2 — the old single-task union was degenerate on anti-correlated
# dimensions, where the frontier is O(n)): local-frontier points are
# range-bucketed on price into a dominance grid, the same kernel prunes
# each grid task (pruning any union of points is sound), and
# cross-bucket domination reduces — in 2-D, with equal prices confined
# to one bucket — to "size must beat the exclusive prefix max of
# strictly-cheaper buckets", a B-row broadcast. No task ever holds more
# than its grid cell; no shuffle touches the full table.
# --------------------------------------------------------------------------


def _skyline_kernel(batches):
    """Vectorized 2-D skyline (minimize price, maximize size) over Arrow
    batches: keep row iff size == max size at its price group AND size >
    max size over all strictly-cheaper groups."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            yield pdf
            continue
        price = pdf["price"].to_numpy(dtype=np.float64)
        size = pdf["size"].to_numpy(dtype=np.int64)
        order = np.argsort(price, kind="stable")
        p_s, s_s = price[order], size[order]
        uniq, inv = np.unique(p_s, return_inverse=True)
        starts = np.searchsorted(p_s, uniq)
        gmax = np.maximum.reduceat(s_s, starts)
        run = np.empty(len(uniq), dtype=np.int64)
        run[0] = np.iinfo(np.int64).min
        if len(uniq) > 1:
            np.maximum.accumulate(gmax[:-1], out=run[1:])
        keep_sorted = (s_s == gmax[inv]) & (s_s > run[inv])
        keep = np.zeros(len(pdf), dtype=bool)
        keep[order] = keep_sorted
        yield pdf[keep]


def _skyline_refine_whole_partition(batches):
    """Exact-refine wrapper: concatenate the partition's Arrow batches
    before pruning. The kernel is only complete over what it sees in one
    frame; feeding it batch-by-batch would miss dominated pairs that
    straddle a batch boundary inside the same price bucket."""
    import pandas as pd

    pdfs = [p for p in batches if len(p)]
    if pdfs:
        yield from _skyline_kernel([pd.concat(pdfs, ignore_index=True)])


# refine-task sizing: one grid cell per ~_SKY_TARGET_CELL local-frontier
# points (the kernel is vectorized numpy — 4k rows is sub-millisecond),
# capped at _SKY_MAX_BINS cells. The cell count comes from the MEASURED
# local-frontier size, so a typical correlated table (tiny frontier)
# refines in one cheap task while an anti-correlated one (frontier =
# O(n)) fans out — the guard the single-task refine lacked.
_SKY_TARGET_CELL = 4096
_SKY_MAX_BINS = 1024


def q_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    schema = "p_partkey long, price double, size long"
    # eager cut: the local frontier feeds both the grid-bounds scan and
    # the refine; without it each leg re-runs the full-table kernel pass
    local = parts.mapInPandas(_skyline_kernel, schema=schema).localCheckpoint(
        eager=True
    )
    stats = local.agg(
        F.count("*").alias("n"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
    # bounded-collect: single-row stats frame (count/min/max)
    ).collect()[0]
    if stats["n"] == 0:
        return local.orderBy("price", "p_partkey")
    lo, hi = float(stats["lo"]), float(stats["hi"])
    n_bins = min(_SKY_MAX_BINS, max(1, -(-int(stats["n"]) // _SKY_TARGET_CELL)))
    width = (hi - lo) / n_bins
    # value-binning (not rank-binning) so EQUAL prices share a bucket:
    # that makes "x in a lower bucket" imply x.price < y.price strictly,
    # and cross-bucket domination needs only x.size >= y.size
    bucket = (
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("price") - F.lit(lo)) / F.lit(width)),
        ).cast("int")
        if width > 0
        else F.lit(0)
    )
    bucketed = local.withColumn("__bk", bucket).repartition(n_bins, "__bk")
    # per-task kernel: a hash partition may pack several buckets, which
    # only HELPS (the kernel removes genuinely-dominated points from any
    # union it sees); __bk rides through for the cross-bucket prune.
    # The refine MUST see its whole partition as ONE frame: per-batch
    # pruning (fine for the streamed local pass, whose output only needs
    # to be a superset) would let a within-bucket dominated point
    # survive whenever Arrow splits its bucket across record batches —
    # the cross-bucket prefix-max only removes strictly-cheaper-bucket
    # domination. Partition size is bounded by the grid sizing
    # (~_SKY_TARGET_CELL rows per cell), so the concat is small.
    refined = bucketed.mapInPandas(
        _skyline_refine_whole_partition, schema=schema + ", __bk int"
    )
    from pyspark.sql.window import Window

    # B-row exclusive prefix max over bucket maxima — the only
    # single-partition window is _SKY_BINS rows, then broadcast back
    bk_max = refined.groupBy("__bk").agg(F.max("size").alias("__mx"))
    prefix = bk_max.withColumn(
        "__run",
        F.max("__mx").over(
            Window.orderBy("__bk").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("__bk", "__run")
    frontier = (
        refined.join(F.broadcast(prefix), "__bk")
        .filter(F.col("__run").isNull() | (F.col("size") > F.col("__run")))
        .drop("__bk", "__run")
    )
    return frontier.orderBy("price", "p_partkey")


ORACLE_SKYLINE_FRONTIER = """
SELECT p_partkey, p_retailprice AS price, p_size::BIGINT AS size
FROM part y
WHERE NOT EXISTS (
  SELECT 1 FROM part x
  WHERE x.p_retailprice <= y.p_retailprice AND x.p_size >= y.p_size
    AND (x.p_retailprice < y.p_retailprice OR x.p_size > y.p_size)
)
ORDER BY price, p_partkey
"""


# --------------------------------------------------------------------------
# segment_overlap: audience-overlap matrix — for every pair of behavior
# segments (event types), how many users are active in both, and the
# Jaccard overlap of the two audiences. The naive form is a distinct
# self-join of (user, type); at 100 TB that is a second full shuffle of
# the event table.
#
# Scale shape: ONE user-keyed shuffle computing a map-combinable
# bit_or(1 << bit) per user, sharded into 63-bit LANES (lane =
# tid div 63, bit = tid mod 63 — shiftleft masks its shift amount to 6
# bits, so a single 64-bit mask would silently wrap at 64 types; the
# lane count is fixed at plan time from the driver-side type count).
# Users then collapse to a lane-vector HISTOGRAM of at most
# min(users, 2^|types|) rows, and every pairwise count is a filtered
# sum over that tiny table: the full pair matrix costs no second pass
# over the data. The same histogram answers any boolean audience
# algebra (A∩B, A\\B, 3-way overlaps) for free.
# --------------------------------------------------------------------------


def q_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    # eager checkpoint: the |types|-row dimension feeds three legs (mask
    # build + both pair sides); without the cut each leg re-runs the
    # distinct over the event scan
    types = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "tid",
            F.row_number().over(Window.orderBy("event_type")) - F.lit(1),
        )
        .localCheckpoint(eager=True)
    )
    # lane count is a plan-time constant: the checkpointed dimension is
    # tiny, and fixing it on the driver keeps every downstream
    # expression codegen-able (no data-dependent mask width)
    n_types = types.count()
    n_lanes = max(1, (n_types + 62) // 63)
    lane_aggs = [
        F.expr(
            f"bit_or(if(tid div 63 = {ln}, shiftleft(1L, tid % 63), 0L))"
        ).alias(f"__m{ln}")
        for ln in range(n_lanes)
    ]
    masks = (
        ev.join(F.broadcast(types), "event_type")
        .groupBy("user_id")
        .agg(*lane_aggs)
        .select(
            F.array(*[F.col(f"__m{ln}") for ln in range(n_lanes)]).alias(
                "lanes"
            )
        )
    )
    hist = masks.groupBy("lanes").agg(F.count("*").alias("n_users"))

    ta = types.select(F.col("event_type").alias("type_a"), F.col("tid").alias("__ia"))
    tb = types.select(F.col("event_type").alias("type_b"), F.col("tid").alias("__ib"))
    pairs = ta.join(F.broadcast(tb), F.col("__ia") < F.col("__ib"))

    # one pass over the histogram: join every pair with the lane vectors
    # that contain EITHER bit, then split n_a / n_b / n_both as
    # conditional sums — hist (and therefore the user-level aggregation)
    # is consumed exactly once
    bit_a = F.expr(
        "(shiftright(element_at(lanes, int(__ia div 63) + 1), __ia % 63) & 1) = 1"
    )
    bit_b = F.expr(
        "(shiftright(element_at(lanes, int(__ib div 63) + 1), __ib % 63) & 1) = 1"
    )
    joined = pairs.join(F.broadcast(hist), bit_a | bit_b)
    agg = joined.groupBy("type_a", "type_b").agg(
        F.sum(F.when(bit_a, F.col("n_users")).otherwise(0)).alias("n_a"),
        F.sum(F.when(bit_b, F.col("n_users")).otherwise(0)).alias("n_b"),
        F.sum(F.when(bit_a & bit_b, F.col("n_users")).otherwise(0)).alias(
            "n_both"
        ),
    )
    return (
        agg.filter(F.col("n_both") > 0)
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            _halfup6(
                F.col("n_both") / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


ORACLE_SEGMENT_OVERLAP = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
s AS (SELECT event_type, count(*)::BIGINT AS n FROM ut GROUP BY 1),
b AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         count(*)::BIGINT AS n_both
  FROM ut a JOIN ut c
    ON a.user_id = c.user_id AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
       floor(n_both / (sa.n + sb.n - n_both) * 1e6 + 0.5) / 1e6 AS jaccard
FROM b
JOIN s sa ON sa.event_type = type_a
JOIN s sb ON sb.event_type = type_b
ORDER BY type_a, type_b
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


register("skyline_frontier", q_skyline_frontier, ORACLE_SKYLINE_FRONTIER)
register("segment_overlap", q_segment_overlap, ORACLE_SEGMENT_OVERLAP)
register("mmr_diverse_topk", q_mmr_diverse_topk, ORACLE_MMR_DIVERSE_TOPK)


# --------------------------------------------------------------------------
# hll_rollup: sketch RE-AGGREGATION — the property that makes sketches
# worth their error bars at 100 TB. The event scan is aggregated ONCE
# into per-(event_type, register) HLL state; the per-type estimates AND
# the all-types estimate both derive from that state — the rollup is a
# 64·|types|-row max-merge, not a second pass over the data. Same
# portable-register construction as hll_distinct_portable (md5 hash64,
# bit-smear rank, dyadic 2^-rho sums), so DuckDB reproduces every
# estimate bit-for-bit.
# --------------------------------------------------------------------------


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type + rolled-up-total distinct-(user, day) HLL estimates
    from one scan; the total merges the per-type registers."""
    from fink_science_spark.functions.hashing import hash64
    from fink_science_spark.queries import _events_us
    from fink_science_spark.queries_ext10 import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_P,
        _HLL_SCALE,
        _HLL_WBITS,
    )

    ev = _events_us(spark, sf_dir)
    day_us = 24 * 3600 * 1_000_000
    key = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.expr(f"ts_us DIV {day_us}").cast("string"),
    )
    h = hash64(key)
    s = F.shiftright(h, _HLL_P)
    for sh in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, sh))
    rho = F.lit(_HLL_WBITS + 1) - F.bit_count(s)
    # the ONE data-sized aggregation; checkpointed because both grouping
    # levels consume it (64·|types| rows — free to materialize)
    regs = (
        ev.select(
            "event_type", F.pmod(h, F.lit(_HLL_M)).alias("reg"), rho.alias("rho")
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mj"))
        .localCheckpoint(eager=True)
    )
    total_regs = regs.groupBy("reg").agg(F.max("mj").alias("mj")).withColumn(
        "event_type", F.lit("__all")
    )
    both = regs.unionByName(total_regs.select("event_type", "reg", "mj"))

    per = both.groupBy("event_type").agg(
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.lit(_HLL_SCALE) - F.col("mj")).cast("int"),
            )
        ).alias("s_obs"),
        F.count("*").alias("n_obs"),
    )
    s_total = F.col("s_obs") + (F.lit(_HLL_M) - F.col("n_obs")) * F.lit(
        1 << _HLL_SCALE
    )
    est = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)) / s_total
    )
    return per.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("n_obs")).cast("int").alias("zero_regs"),
        F.round(est, 2).alias("hll_estimate"),
    ).orderBy("event_type")


def _oracle_hll_rollup() -> str:
    from fink_science_spark.functions.hashing import hash64_sql
    from fink_science_spark.queries_ext10 import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_P,
        _HLL_SCALE,
        _HLL_WBITS,
    )

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
lvl AS (
  SELECT event_type, reg, mj FROM regs
  UNION ALL
  SELECT '__all' AS event_type, reg, max(mj) AS mj FROM regs GROUP BY reg
),
per AS (
  SELECT event_type,
         sum((1::BIGINT << ({_HLL_SCALE} - mj)))::BIGINT AS s_obs,
         count(*) AS n_obs
  FROM lvl GROUP BY event_type
)
SELECT event_type,
       ({_HLL_M} - n_obs)::INT AS zero_regs,
       round({_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_SCALE)!r}
             / (s_obs + ({_HLL_M} - n_obs) * (1::BIGINT << {_HLL_SCALE})), 2)
           AS hll_estimate
FROM per
ORDER BY event_type
"""


ORACLE_HLL_ROLLUP = _oracle_hll_rollup()

register("hll_rollup", q_hll_rollup, ORACLE_HLL_ROLLUP)


# --------------------------------------------------------------------------
# median_bracket: EXACT global median of a 100 TB column in bounded
# passes — the sketch-guided-exact pattern. A single exact percentile
# aggregate buffers every value in one executor; instead: (1) a tiny
# min/max/count scan, (2) a map-combinable fixed-histogram scan whose
# cumulative counts locate the bin(s) holding the middle ranks, (3) a
# bracket scan whose range predicate PUSHES DOWN to parquet, selecting
# the exact order statistics from the ~n/B rows that survive. Every
# pass is a narrow pruned scan; the only non-combinable step sorts the
# bracket (n/B rows — bounded by construction, B sized to the target).
# Even-n median = mean of the two middle values (engine parity with
# DuckDB's median()).
# --------------------------------------------------------------------------

_MB_BINS = 1024


def q_median_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("v")
    )
    stats = li.agg(
        F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    # bounded-collect: single-row stats frame (count/min/max)
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        return spark.createDataFrame(
            [(0, None)], "n long, median double"
        )
    lo, hi = float(stats["lo"]), float(stats["hi"])
    k1, k2 = (n + 1) // 2, (n + 2) // 2

    if hi == lo:
        return spark.createDataFrame([(n, lo)], "n long, median double")

    width = (hi - lo) / _MB_BINS
    bin_col = F.least(
        F.lit(_MB_BINS - 1), F.floor((F.col("v") - F.lit(lo)) / F.lit(width))
    ).cast("int")
    hist = (
        li.groupBy(bin_col.alias("b"))
        .agg(F.count("*").alias("c"))
        .orderBy("b")
        # bounded-collect: fixed _MB_BINS-row histogram
        .collect()
    )
    cum = 0
    bounds = {}
    for r in hist:
        for k in (k1, k2):
            if k not in bounds and cum < k <= cum + r["c"]:
                bounds[k] = (r["b"], k - cum)  # (bin, rank inside bin)
        cum += r["c"]
    b_lo = min(b for b, _ in bounds.values())
    b_hi = max(b for b, _ in bounds.values())
    # ranks inside the bracket = global rank − rows in bins before b_lo
    before = sum(r["c"] for r in hist if r["b"] < b_lo)
    r1, r2 = k1 - before, k2 - before

    # widen the pushdown range by one bin on each side: a row can land
    # in bin b via float division rounding while sitting one ulp outside
    # the recomputed lo + b*width bound — the exact bin_col re-filter
    # below only narrows, so an excluded row would silently shift the
    # selected order statistics. Widening costs only pushdown
    # selectivity (~n/B extra rows), never correctness.
    lo_val = lo + max(0, b_lo - 1) * width
    hi_val = hi if b_hi >= _MB_BINS - 2 else lo + (b_hi + 2) * width
    bracket = li.filter(
        (F.col("v") >= F.lit(lo_val)) & (F.col("v") <= F.lit(hi_val))
    )
    # re-apply the exact bin predicate (float boundary rows from the
    # neighbouring bin may slip through the widened range filter; the
    # range form exists so the parquet scan can push it down)
    bracket = bracket.filter(
        (bin_col >= F.lit(b_lo)) & (bin_col <= F.lit(b_hi))
    )
    w = Window.orderBy("v")
    picked = (
        bracket.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r").isin(r1, r2))
        .agg(F.avg("v").alias("median"))
    )
    return picked.select(F.lit(n).alias("n"), "median")


ORACLE_MEDIAN_BRACKET = """
SELECT count(*)::BIGINT AS n, median(l_extendedprice::DOUBLE) AS median
FROM lineitem
"""

register("median_bracket", q_median_bracket, ORACLE_MEDIAN_BRACKET)


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

register("image_thumbnail", q_image_thumbnail, ORACLE_IMAGE_THUMBNAIL)
