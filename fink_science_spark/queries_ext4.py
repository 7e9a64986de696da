"""Query registry, wave 5: the remote-service crossmatch pipeline
(pluggable-transport cdsxmatch shape, Unknown + NULL sentinel variants),
storage-layout operators (bucketed co-located joins, partition-pruned
scans), the as-of join, skew remedies (salted join, two-phase distinct),
reshaping (pivot, rollup, ranking windows), upper-limit fallback
lookback, image-matrix stats, foreachBatch enrichment, and the catalog
registry — each with a duckdb oracle (HLL sketch and seeded sampling are
rows-only by design).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fink_science_spark.operators.remote import local_table_resolver, service_xmatch
from fink_science_spark.queries import _events_us, _fan_out, _t

from fink_science_spark.queries_ext2 import _SCRATCH
from fink_science_spark.registry import register
_XMATCH_RADIUS = 10.0


# --------------------------------------------------------------------------
# Remote-service crossmatch (§2.1 HTTP source / §2.3 remote service join)
# --------------------------------------------------------------------------


def q_remote_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cdsxmatch pipeline (reference:
    ztf/xmatch/processor.py:124-195): batch positions through a transport,
    arg-min dedup the returned candidates, left join back, "Unknown" fill.
    Transport here is the deterministic local resolver (supplier table as
    the 'remote catalog', loaded once per worker via ExecutorRegistry);
    production swaps in the HTTP POST callable — the pipeline is
    transport-agnostic by construction."""
    sup_path = os.path.join(sf_dir, "supplier.parquet")

    def load_catalog():
        import pandas as pd

        return pd.read_parquet(sup_path, columns=["s_suppkey", "s_acctbal"])

    transport = local_table_resolver(
        load_catalog,
        registry_key=f"supplier_catalog:{sup_path}",
        coord_col="c_acctbal",
        name_col="s_suppkey",
        ref_coord_col="s_acctbal",
        radius=_XMATCH_RADIUS,
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # fan out the batched-transport kernel (ran in the ONE scan task:
    # 0.78 s 1-task job); no-op at scale
    cust = _fan_out(spark, sf_dir, "customer", cust, key="c_custkey")
    out = service_xmatch(
        cust, "c_custkey", ["c_acctbal"], transport, out_col="xmatch"
    )
    return out.select(
        "c_custkey", "xmatch", F.round("xmatch_dist", 6).alias("xmatch_dist")
    )


ORACLE_REMOTE_XMATCH = f"""
WITH cand AS (
  SELECT c_custkey, s_suppkey::VARCHAR AS name,
         abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= {_XMATCH_RADIUS}
),
best AS (
  SELECT c_custkey, name, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY dist ASC, name ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT c.c_custkey,
       coalesce(b.name, 'Unknown') AS xmatch,
       round(b.dist, 6)            AS xmatch_dist
FROM customer c LEFT JOIN best b USING (c_custkey)
"""


# --------------------------------------------------------------------------
# Bucketed co-located join (§4 partitioning: shuffle-free fact joins)
# --------------------------------------------------------------------------


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table join: both fact tables written bucketed+sorted by
    the join key, then joined WITHOUT a shuffle (bucket pruning replaces
    the exchange — the storage-layout answer to repeated big joins at
    100 TB; see test_plans for the no-Exchange assertion)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"b_lineitem_{tag}", f"b_orders_{tag}"

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    (
        li.write.mode("overwrite")
        .option("path", os.path.join(_SCRATCH, lt))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(lt)
    )
    (
        orders.write.mode("overwrite")
        .option("path", os.path.join(_SCRATCH, ot))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(ot)
    )
    jl, jo = spark.table(lt), spark.table(ot)
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        jl.join(jo, jl.l_orderkey == jo.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.round(revenue, 2).alias("revenue"), F.count("*").alias("n_items"))
    )


ORACLE_BUCKETED_JOIN = """
SELECT o_orderstatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Partition-pruned scan (§4 partition pruning)
# --------------------------------------------------------------------------


def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout: events written partitionBy(event_type),
    read back with a partition filter — the scan touches ONE partition
    directory (PartitionFilters in the plan), the disk-layout form of the
    reference's manual dec-band pruning (SURVEY §4 partition pruning)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(_SCRATCH, f"events_by_type_{tag}")
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


ORACLE_PARTITIONED_SCAN = """
SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Catalog registry (§1.4) + remaining §2 surface: SQL-string filters,
# map-typed columns, seeded sampling
# --------------------------------------------------------------------------


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped promo-revenue share through the CatalogRegistry: the
    part table registered once (cached), broadcast-joined onto lineitem —
    the engine's replacement for the reference's in-UDF catalog loads
    (SURVEY §1.4; ztf/xmatch/utils.py:105-244)."""
    from fink_science_spark.sources.catalogs import CatalogRegistry

    reg = CatalogRegistry(spark)
    reg.register_parquet(
        f"part:{sf_dir}",
        os.path.join(sf_dir, "part.parquet"),
        select=["p_partkey", "p_type"],
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = reg.broadcast_join(
        li, f"part:{sf_dir}", li.l_partkey == reg.get(f"part:{sf_dir}").p_partkey,
        how="inner",
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return joined.agg(
        F.round(F.sum(promo), 2).alias("promo_revenue"),
        F.round(F.sum(rev), 2).alias("total_revenue"),
        F.round(F.sum(promo) / F.sum(rev) * 100.0, 6).alias("promo_pct"),
    )


ORACLE_PROMO_REVENUE = """
SELECT round(sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END), 2) AS promo_revenue,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
       round(sum(CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)) * 100.0, 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q_sql_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-supplied SQL-string filter with spherical trig + LIKE — the
    anomaly-detection gating shape (reference:
    ztf/anomaly_detection/processor.py:73-82): the engine accepts raw SQL
    predicates and Catalyst still plans/pushes them."""
    ev = _t(spark, sf_dir, "events")
    gated = ev.filter(
        "SIN(RADIANS(value)) > 0.5 AND event_type LIKE '%ick%' AND value < 400"
    )
    return gated.groupBy("user_id").agg(F.count("*").alias("n_gated"))


ORACLE_SQL_STRING_FILTER = """
SELECT user_id, count(*) AS n_gated
FROM events
WHERE sin(radians(value)) > 0.5 AND event_type LIKE '%ick%' AND value < 400
GROUP BY user_id
"""


def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns (§1.3: the reference's UDFs return
    MapType(String, …) and consumers use getItem): per-user map of
    event_type → count built with map_from_entries, then key extraction
    back to flat columns (output flattened so any engine can verify)."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    mapped = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id",
        F.coalesce(F.col("type_counts").getItem("click"), F.lit(0)).alias("n_click"),
        F.coalesce(F.col("type_counts").getItem("purchase"), F.lit(0)).alias(
            "n_purchase"
        ),
        F.size("type_counts").alias("n_types"),
    )


ORACLE_MAP_OPS = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(DISTINCT event_type)                AS n_types
FROM events
GROUP BY user_id
"""


def q_salted_type_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join on a maximally skewed key: events joined to a
    per-type threshold table on event_type (a handful of distinct values —
    without salting, one reducer per type takes the whole table). The
    deterministic salt spreads each type across 16 sub-keys; results
    equal the plain join exactly (the 'salting for skew' pattern of the
    build brief, demonstrated end-to-end)."""
    from fink_science_spark.operators.salting import salted_equi_join

    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.75)).alias("__p75")
    )
    joined = salted_equi_join(
        ev.select("event_id", "event_type", "value"),
        per_type,
        on=["event_type"],
        unique_col="event_id",
        salt_buckets=16,
    )
    return (
        joined.withColumn("above", F.col("value") > F.col("__p75"))
        .groupBy("event_type", "above")
        .agg(F.count("*").alias("n"))
    )


ORACLE_SALTED_TYPE_JOIN = """
WITH th AS (
  SELECT event_type, quantile_cont(value, 0.75) AS p75
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.value > th.p75 AS above, count(*) AS n
FROM events e JOIN th USING (event_type)
GROUP BY e.event_type, above
"""


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-user event counts fanned into one column
    per event type — explicit pivot values so the output schema is
    deterministic in any engine."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("n_click"),
            F.coalesce("view", F.lit(0)).alias("n_view"),
            F.coalesce("purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("error", F.lit(0)).alias("n_error"),
        )
    )


ORACLE_PIVOT_COUNTS = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'view')     AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'error')    AS n_error
FROM events GROUP BY user_id
"""


def q_ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions (rank / dense_rank / ntile / cume-style
    percent): top-5 orders per priority by price with full rank columns —
    the ranking surface beyond the arg-min row_number the reference uses."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return ranked.filter(F.col("rn") <= 5)


ORACLE_RANKING_WINDOWS = """
SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
       rn, rnk, drnk, quartile
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         row_number() OVER w AS rn,
         rank()       OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         ntile(4)     OVER w AS quartile
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC)
)
WHERE rn <= 5
"""


def q_lookback_with_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The get_last_alert semantics (reference:
    ztf/fast_transient_rate/processor.py:33-115): walking back through a
    history where faint epochs carry NULL measurement and only an upper
    limit, report the last real measurement per (user, band) AND the last
    upper limit SINCE that measurement (the reference's fallback pair).
    Values < 10 model the below-threshold epochs (magpsf NULL +
    diffmaglim set, FIXTURES §1 prv_candidates note)."""
    ev = _events_us(spark, sf_dir)
    meas = F.when(F.col("value") >= 10.0, F.col("value"))
    limit = F.when(F.col("value") < 10.0, F.col("value"))
    shaped = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        meas.alias("meas"),
        limit.alias("lim"),
    )
    agg = shaped.groupBy("user_id", "event_type").agg(
        F.max_by("meas", F.when(F.col("meas").isNotNull(), F.col("ts_us"))).alias(
            "last_meas"
        ),
        F.max(F.when(F.col("meas").isNotNull(), F.col("ts_us"))).alias(
            "last_meas_ts"
        ),
        F.max_by("lim", F.when(F.col("lim").isNotNull(), F.col("ts_us"))).alias(
            "last_lim"
        ),
        F.max(F.when(F.col("lim").isNotNull(), F.col("ts_us"))).alias(
            "last_lim_ts"
        ),
    )
    newer_lim = F.col("last_lim_ts") > F.coalesce(
        F.col("last_meas_ts"), F.lit(-1)
    )
    return agg.select(
        "user_id",
        "event_type",
        F.round("last_meas", 6).alias("last_meas"),
        F.round(F.when(newer_lim, F.col("last_lim")), 6).alias(
            "limit_since_meas"
        ),
    )


ORACLE_LOOKBACK_WITH_LIMITS = """
WITH shaped AS (
  SELECT user_id, event_type, epoch_us(ts) AS t,
         CASE WHEN value >= 10.0 THEN value END AS meas,
         CASE WHEN value < 10.0 THEN value END  AS lim
  FROM events
),
agg AS (
  SELECT user_id, event_type,
         max_by(meas, CASE WHEN meas IS NOT NULL THEN t END) AS last_meas,
         max(CASE WHEN meas IS NOT NULL THEN t END)          AS last_meas_ts,
         max_by(lim, CASE WHEN lim IS NOT NULL THEN t END)   AS last_lim,
         max(CASE WHEN lim IS NOT NULL THEN t END)           AS last_lim_ts
  FROM shaped GROUP BY user_id, event_type
)
SELECT user_id, event_type,
       round(last_meas, 6) AS last_meas,
       round(CASE WHEN last_lim_ts > coalesce(last_meas_ts, -1)
                  THEN last_lim END, 6) AS limit_since_meas
FROM agg
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (order priority → status → grand total) — the
    multi-level reporting aggregation, with grouping-null indicators made
    explicit so any engine agrees on the subtotal rows."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total",
        )
    )


ORACLE_ROLLUP_COUNTS = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL')   AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
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


def q_stream_foreachbatch_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch enrichment — the broker's execution mode (SURVEY §2.9:
    stateless per-micro-batch column appends applied inside a streaming
    query): stream → per-batch the SAME batch enrichment DAG (json decode
    + flag derivation) → append parquet sink → read back and aggregate.
    One code path for batch and stream is the engine's core streaming
    contract."""
    import shutil

    from fink_science_spark.streaming.shell import stream_table_load

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    out_path = os.path.join(_SCRATCH, f"foreachbatch_{tag}")
    shutil.rmtree(out_path, ignore_errors=True)

    events = _t(spark, sf_dir, "events")

    def enrich(batch_df: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").cast("int")
        flag = (
            F.when(F.col("value") > 100, "high")
            .when(F.col("value") > 30, "mid")
            .otherwise("low")
        )
        return batch_df.select(
            "event_id", "value", k.alias("k"), flag.alias("flag")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        enrich(batch_df).write.mode("append").parquet(out_path)

    # per-batch enrichment holds no state: the session's width stands
    stream = stream_table_load(
        spark.readStream.schema(events.schema).format("parquet"),
        sf_dir,
        "events",
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the sink's schema is known: reading it back needs no inference job
    back = spark.read.schema(enrich(events).schema).parquet(out_path)
    return back.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.round(F.avg("k"), 6).alias("avg_k"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_STREAM_FOREACHBATCH = """
WITH e AS (
  SELECT event_id, value,
         json_extract_string(props, '$.k')::INT AS k,
         CASE WHEN value > 100 THEN 'high'
              WHEN value > 30 THEN 'mid'
              ELSE 'low' END AS flag
  FROM events
)
SELECT flag, count(*) AS n, round(avg(k), 6) AS avg_k,
       round(sum(value), 2) AS sum_value
FROM e GROUP BY flag
"""


def q_skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per LOW-cardinality (maximally skewed) key:
    event_type has only a handful of values, so a naive
    count(DISTINCT user_id) funnels every row through a reducer per key.
    The two-phase form — dedup on (key, value) first (high-cardinality
    uniform shuffle with map-side partials), then count per key — bounds
    every task regardless of key skew. The manual expression of what
    salting + partial aggregation buy at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    per_pair = ev.select("event_type", "user_id").distinct()
    return per_pair.groupBy("event_type").agg(
        F.count("*").alias("n_distinct_users")
    )


ORACLE_SKEW_SAFE_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
FROM events
GROUP BY event_type
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct sketch (approx_count_distinct, rsd=0.01) —
    the sketch path for cardinality at 100 TB (constant memory per key,
    mergeable partials). Engine-specific sketch → rows-only check; the
    exact twin above is the oracle-checked baseline."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attach to each purchase the user's most recent
    click at or before it (value + age). Union-and-scan implementation —
    one shuffle, no range probe — verified against DuckDB's native ASOF
    JOIN. The cross-table generalization of the reference's
    last-in-band history lookback (SURVEY §2.5)."""
    from fink_science_spark.operators.asof import asof_join

    ev = _events_us(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value"
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts_us", right_ts="ts_us",
        right_values=["value"],
    )
    return out.select(
        "event_id",
        F.round("asof_value", 6).alias("last_click_value"),
        (F.col("ts_us") - F.col("asof_ts")).alias("click_age_us"),
    )


ORACLE_ASOF_CLICK = """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(ts) AS t, value FROM events
      WHERE event_type = 'click')
SELECT p.event_id,
       round(c.value, 6) AS last_click_value,
       p.t - c.t         AS click_age_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.t <= p.t
"""


def q_remote_xmatch_nullsem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Rubin null-semantics variant of the service crossmatch: same
    pipeline as remote_xmatch but unmatched rows keep NULL instead of the
    'Unknown' sentinel (the tri-state contract documented at
    rubin/xmatch/processor.py:69-74)."""
    sup_path = os.path.join(sf_dir, "supplier.parquet")

    def load_catalog():
        import pandas as pd

        return pd.read_parquet(sup_path, columns=["s_suppkey", "s_acctbal"])

    transport = local_table_resolver(
        load_catalog,
        registry_key=f"supplier_catalog:{sup_path}",
        coord_col="c_acctbal",
        name_col="s_suppkey",
        ref_coord_col="s_acctbal",
        radius=_XMATCH_RADIUS,
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = service_xmatch(
        cust, "c_custkey", ["c_acctbal"], transport, out_col="xmatch",
        unmatched=None,
    )
    return out.select(
        "c_custkey", "xmatch", F.round("xmatch_dist", 6).alias("xmatch_dist")
    )


ORACLE_REMOTE_XMATCH_NULLSEM = f"""
WITH cand AS (
  SELECT c_custkey, s_suppkey::VARCHAR AS name,
         abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= {_XMATCH_RADIUS}
),
best AS (
  SELECT c_custkey, name, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY dist ASC, name ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT c.c_custkey, b.name AS xmatch, round(b.dist, 6) AS xmatch_dist
FROM customer c LEFT JOIN best b USING (c_custkey)
"""


def q_sampled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling (§2.5: df.sample(frac, seed=0),
    ztf/ssoft/processor.py:812). Spark's sampler is engine-specific, so
    this is a rows-only check (deterministic across runs for a fixed seed,
    but not reproducible in SQL)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.sample(fraction=0.1, seed=42)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
    )


register("remote_xmatch", q_remote_xmatch, ORACLE_REMOTE_XMATCH)
register("bucketed_join", q_bucketed_join, ORACLE_BUCKETED_JOIN, bench=False)
register("partitioned_scan", q_partitioned_scan, ORACLE_PARTITIONED_SCAN,
         bench=False)
register("promo_revenue", q_promo_revenue, ORACLE_PROMO_REVENUE)
register("sql_string_filter", q_sql_string_filter, ORACLE_SQL_STRING_FILTER,
         bench=False)
register("map_ops", q_map_ops, ORACLE_MAP_OPS, bench=False)
# sampled_stats: engine-specific seeded sampler — rows-only by design
register("sampled_stats", q_sampled_stats, bench=False)
register("asof_click_before_purchase", q_asof_click_before_purchase,
         ORACLE_ASOF_CLICK)
register("remote_xmatch_nullsem", q_remote_xmatch_nullsem,
         ORACLE_REMOTE_XMATCH_NULLSEM, bench=False)
register("skew_safe_distinct", q_skew_safe_distinct, ORACLE_SKEW_SAFE_DISTINCT,
         bench=False)
# approx_distinct: HLL sketch is engine-specific — rows-only by design
register("approx_distinct", q_approx_distinct, bench=False)
register("stream_foreachbatch_enrich", q_stream_foreachbatch_enrich,
         ORACLE_STREAM_FOREACHBATCH)
register("image_stats", q_image_stats, ORACLE_IMAGE_STATS)
register("rollup_counts", q_rollup_counts, ORACLE_ROLLUP_COUNTS, bench=False)
register("pivot_counts", q_pivot_counts, ORACLE_PIVOT_COUNTS, bench=False)
register("ranking_windows", q_ranking_windows, ORACLE_RANKING_WINDOWS,
         bench=False)
register("lookback_with_limits", q_lookback_with_limits,
         ORACLE_LOOKBACK_WITH_LIMITS, bench=False)
register("salted_type_join", q_salted_type_join, ORACLE_SALTED_TYPE_JOIN,
         bench=False)
