"""Relational queries: TPC-H-shaped scans, joins and aggregates, and the
SQL surface (decoders, scalar functions, windows, rollups, pivots, set
operations, change feeds, catalog and layout operations)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fink_science_spark.functions.exact import halfup6
from fink_science_spark.functions.exact import REV_MICRO_SQL as _REV_MICRO_SQL
from fink_science_spark.functions.exact import cents as _cents
from fink_science_spark.functions.exact import cents_sql as _cents_sql
from fink_science_spark.functions.exact import rev_micro as _rev_micro
from fink_science_spark.operators.dedup import argmin_dedup
from fink_science_spark.operators.sketches import (
    bloom_bits_for,
    bloom_might_contain,
    build_bloom_bitset,
)
from fink_science_spark.operators.spatial import (
    nearest_join_1d,
    range_count_join_1d,
)
from fink_science_spark.registry import register
from fink_science_spark.tables import _SCRATCH, _events_us, _t

# --------------------------------------------------------------------------
# §2.1/2.2/2.4 — relational core: scan, filter, project, group-agg
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: predicate pushdown + column pruning
    + partial aggregation (SURVEY §2.2 row filters, §2.4 group-agg)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped shipping-priority: 3-way join + group-agg + top-k with
    deterministic tie-break (SURVEY §2.3 joins, §2.5 sort/limit)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped multi-way star join; small dims broadcast so the fact
    table never shuffles for them (SURVEY §2.3 broadcast catalog join)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


ORACLE_REGION_REVENUE = """
SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate/flag derivation: banded CASE, n-ary least, coalesce of a
    sentinel remap — the transient_features pattern (SURVEY §2.2;
    reference shape: ztf/transient_features/processor.py:52-126)."""
    orders = _t(spark, sf_dir, "orders")
    price_band = (
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
    )
    is_urgent = (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")) & (
        F.col("o_orderstatus") != "F"
    )
    # sentinel remap: pretend status 'P' is a sentinel → NULL → 'UNKNOWN'
    status_clean = F.coalesce(
        F.when(F.col("o_orderstatus") != "P", F.col("o_orderstatus")),
        F.lit("UNKNOWN"),
    )
    capped = F.least(F.col("o_totalprice"), F.lit(250000.0))
    return orders.select(
        F.col("o_orderkey"),
        price_band.alias("price_band"),
        is_urgent.alias("is_urgent"),
        status_clean.alias("status_clean"),
        F.round(capped, 2).alias("capped_price"),
    )


ORACLE_ORDER_FLAGS = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END                                   AS price_band,
       (o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND o_orderstatus != 'F')                            AS is_urgent,
       coalesce(CASE WHEN o_orderstatus != 'P'
                     THEN o_orderstatus END, 'UNKNOWN')      AS status_clean,
       round(least(o_totalprice, 250000.0), 2)               AS capped_price
FROM orders
"""


def q_cheapest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min dedup per group — keep the single best match per key
    (SURVEY §2.3/2.4; reference shape: min-angDist-per-objectId,
    ztf/xmatch/processor.py:167-169)."""
    orders = _t(spark, sf_dir, "orders")
    best = argmin_dedup(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
    )
    return best.select(
        "o_custkey",
        F.col("o_orderkey").alias("cheapest_orderkey"),
        F.round("o_totalprice", 2).alias("cheapest_price"),
    )


ORACLE_CHEAPEST_ORDER = """
SELECT o_custkey, o_orderkey AS cheapest_orderkey,
       round(o_totalprice, 2) AS cheapest_price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY §2.3 anti-join upsert half): customers with no
    large order (>250k)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
"""


def q_returned_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): orders having ≥1 returned lineitem, counted per
    priority (SURVEY §2.2 EXISTS quantifier at table level)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_returned_orders"))
    )


ORACLE_RETURNED_ORDERS = """
SELECT o_orderpriority, count(*) AS n_returned_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_lineitem_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k scan with deterministic tie-break (SURVEY §2.5 take/limit)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(15)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


ORACLE_LINEITEM_TOPK = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 15
"""


def q_supplier_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-refresh upsert: anti-join + unionByName (SURVEY §2.6;
    reference shape: blazar_catalog_production.py:139-169)."""
    sup = _t(spark, sf_dir, "supplier")
    old = sup.select(
        "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"), F.lit("old").alias("src")
    )
    new = (
        sup.filter(F.col("s_acctbal") > 5000)
        .select(
            "s_suppkey",
            F.round(F.col("s_acctbal") + 100.0, 2).alias("acctbal"),
            F.lit("new").alias("src"),
        )
    )
    kept = old.join(new.select("s_suppkey"), "s_suppkey", "left_anti")
    return kept.unionByName(new)


ORACLE_SUPPLIER_UPSERT = """
WITH old AS (SELECT s_suppkey, round(s_acctbal, 2) AS acctbal, 'old' AS src
             FROM supplier),
     new AS (SELECT s_suppkey, round(s_acctbal + 100.0, 2) AS acctbal, 'new' AS src
             FROM supplier WHERE s_acctbal > 5000)
SELECT * FROM old WHERE s_suppkey NOT IN (SELECT s_suppkey FROM new)
UNION ALL
SELECT * FROM new
"""


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + group stats (SURVEY §2.7 JSON: from_json /
    get_json_object replaces the reference's driver-side eval)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_EVENTS_JSON_STATS = """
SELECT event_type, count(*) AS n,
       round(avg(json_extract_string(props, '$.k')::INT), 6) AS avg_k,
       min(json_extract_string(props, '$.k')::INT)           AS min_k,
       max(json_extract_string(props, '$.k')::INT)           AS max_k
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Spatial (crossmatch-shaped) joins — M3
# --------------------------------------------------------------------------


def q_spatial_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed 1-NN join: each customer's nearest supplier by account
    balance within radius 10 (the crossmatch shape: bucket equi-join +
    distance refine + arg-min; SURVEY §2.3 flagship join)."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nn = nearest_join_1d(
        cust, sup, "c_custkey", "c_acctbal", "s_suppkey", "s_acctbal",
        radius=10.0,
    )
    return nn.select("c_custkey", "s_suppkey", F.round("dist", 6).alias("dist"))


ORACLE_SPATIAL_NN = """
WITH cand AS (
  SELECT c_custkey, s_suppkey, abs(c_acctbal - s_acctbal) AS dist
  FROM customer, supplier
  WHERE abs(c_acctbal - s_acctbal) <= 10.0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey
                               ORDER BY dist ASC, s_suppkey ASC) AS rn
  FROM cand
)
SELECT c_custkey, s_suppkey, round(dist, 6) AS dist
FROM ranked WHERE rn = 1
"""


def q_spatial_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range (band) join: customers within ±50 acctbal of each
    supplier (SURVEY §2.3 dec-band prune generalized)."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    return range_count_join_1d(
        sup, cust, "s_suppkey", "s_acctbal", "c_acctbal", radius=50.0
    )


ORACLE_SPATIAL_RANGE_COUNT = """
SELECT s_suppkey,
       (SELECT count(*) FROM customer
        WHERE abs(c_acctbal - s_acctbal) <= 50.0) AS n_neighbors
FROM supplier
"""


# --------------------------------------------------------------------------
# Decode patterns (§3.2 decode-struct, §2.7 JSON)
# --------------------------------------------------------------------------


def q_decode_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xmatch_cds decode pattern (reference shape:
    ztf/xmatch/processor.py:287-292): one packed delimiter-string column
    fanned out into N typed columns via split + getItem + cast."""
    orders = _t(spark, sf_dir, "orders")
    packed = F.concat_ws(
        "|", "o_orderstatus", "o_orderpriority", F.col("o_custkey").cast("string")
    )
    df = orders.select("o_orderkey", packed.alias("__packed"))
    split = F.split("__packed", "\\|")
    return df.select(
        "o_orderkey",
        split.getItem(0).alias("status"),
        split.getItem(1).alias("priority"),
        split.getItem(2).cast("long").alias("custkey"),
    )


ORACLE_DECODE_CSV = """
WITH p AS (
  SELECT o_orderkey,
         o_orderstatus || '|' || o_orderpriority || '|' || o_custkey::VARCHAR
             AS packed
  FROM orders
)
SELECT o_orderkey,
       string_split(packed, '|')[1]           AS status,
       string_split(packed, '|')[2]           AS priority,
       string_split(packed, '|')[3]::BIGINT   AS custkey
FROM p
"""


def q_json_struct_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (replacing the reference's
    driver-side eval, ztf/ssoft/processor.py:858-865): parse props into a
    typed struct, then aggregate per k-bucket."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("j", F.from_json("props", "k INT"))
    return (
        parsed.withColumn("k_bucket", F.col("j.k") % 10)
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


ORACLE_JSON_STRUCT_DECODE = """
SELECT (json_extract_string(props, '$.k')::INT) % 10 AS k_bucket,
       count(*) AS n, round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1
"""


def q_scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 scalar-function coverage in one narrow projection: log10/sqrt/
    abs/mod (math), upper/substring/concat_ws/LIKE (string), least/greatest
    and coalesce (conditional) — all codegen'd, column-pruned to 7 cols."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log10(F.col("l_quantity") + 1.0), 6).alias("log_qty"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_disc"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        F.upper(F.substring("l_returnflag", 1, 1)).alias("flag_u"),
        F.concat_ws(":", "l_returnflag", "l_linestatus").alias("flag_status"),
        F.col("l_linestatus").like("%F%").alias("is_fo"),
        F.round(
            F.least("l_quantity", F.lit(25.0))
            + F.greatest(F.col("l_tax"), F.lit(0.04)),
            6,
        ).alias("capped"),
    )


ORACLE_SCALAR_KITCHEN_SINK = """
SELECT l_orderkey, l_linenumber,
       round(log10(l_quantity + 1.0), 6)       AS log_qty,
       round(sqrt(l_extendedprice), 6)         AS sqrt_price,
       round(abs(l_discount - 0.05), 6)        AS abs_disc,
       l_orderkey % 7                          AS mod7,
       upper(substr(l_returnflag, 1, 1))       AS flag_u,
       l_returnflag || ':' || l_linestatus     AS flag_status,
       l_linestatus LIKE '%F%'                 AS is_fo,
       round(least(l_quantity, 25.0) + greatest(l_tax, 0.04), 6) AS capped
FROM lineitem
"""


# --------------------------------------------------------------------------
# Sink/source roundtrip (§2.1): parquet sink, CSV sink+source
# --------------------------------------------------------------------------


def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink coverage: aggregate → write CSV (header) → read CSV with an
    explicit schema → write parquet → read parquet → return. Exercises
    df.write.csv/parquet and spark.read.csv/parquet end-to-end
    (SURVEY §2.1 parquet sink + pandas-catalog CSV reads)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    csv_path = os.path.join(_SCRATCH, f"roundtrip_{tag}_csv")
    pq_path = os.path.join(_SCRATCH, f"roundtrip_{tag}_parquet")

    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    agg.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_path)
    back = spark.read.schema("o_orderpriority string, n long, total double").option(
        "header", True
    ).csv(csv_path)
    back.write.mode("overwrite").parquet(pq_path)
    return spark.read.parquet(pq_path)


ORACLE_SINK_ROUNDTRIP = """
SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderpriority
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


# --------------------------------------------------------------------------
# SCD2 dimension history build (warehouse merge pattern)
# --------------------------------------------------------------------------


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change feed: per
    user, the coarse attribute floor(value/100) observed at each purchase
    becomes a VERSION row only when it CHANGES (lag collapse), with
    [valid_from, valid_to) intervals from lead() and an is_current flag.

    Scale shape: both window passes share one (user_id) partitioning —
    a single shuffle; ties break on event_id so both engines pick the
    same version boundaries. This is the batch MERGE a warehouse runs to
    maintain dimension history."""
    ev = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts_us",
            F.floor(F.col("value") / 100).cast("long").alias("attr"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = ev.withColumn("prev_attr", F.lag("attr").over(w)).filter(
        F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changed.select(
        "user_id",
        "attr",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.lead("ts_us").over(w2).isNull().alias("is_current"),
    )


ORACLE_SCD2_HISTORY = """
WITH feed AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         cast(floor(value / 100) AS BIGINT) AS attr
  FROM events WHERE event_type = 'purchase'
),
ch AS (
  SELECT *,
         lag(attr) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_attr
  FROM feed
),
v AS (
  SELECT user_id, event_id, attr, ts_us AS valid_from_us
  FROM ch WHERE prev_attr IS NULL OR attr != prev_attr
)
SELECT user_id, attr, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us, event_id)
         AS valid_to_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us, event_id)
         IS NULL AS is_current
FROM v
"""


# host link graph shared with host_pagerank: doc ids map to _PR_N hosts and
# each host links on by an LCG step
_PR_N = 64          # host-node count
_PR_EDGE_A = 7919   # LCG link derivation
_PR_EDGE_B = 11


# --------------------------------------------------------------------------
# incremental_agg: incremental aggregate maintenance via mergeable
# partial states — the 100 TB refresh pattern: a stored rollup is never
# recomputed from scratch; the new batch contributes PARTIAL states
# (count/sum/sumsq/min/max — all commutative monoids) that merge with
# the stored ones, and finalization happens on the merged state. The
# oracle recomputes the rollup from the FULL table directly, proving
# merge-equivalence. Sums run in the integer-quantized domain (value has
# 2 exact decimals) so the equivalence is bit-exact, not approximate —
# the same trick that makes the mulens forest features portable.
# Complements dedup_incremental (the dedup-index instance of the same
# incremental pattern).
# --------------------------------------------------------------------------

_INC_SPLIT_MOD = 10  # event_id % 10 == 9 -> the "new batch" (~10%)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_us(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("qv"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"),
            F.sum("qv").alias("s1"),
            F.sum(F.col("qv") * F.col("qv")).alias("s2"),
            F.min("qv").alias("mn"),
            F.max("qv").alias("mx"),
        )

    stored = partials(ev.filter(F.col("event_id") % _INC_SPLIT_MOD != 9))
    batch = partials(ev.filter(F.col("event_id") % _INC_SPLIT_MOD == 9))
    merged = (
        stored.unionByName(batch)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n") / F.lit(100.0)
    var = (
        F.col("s2").cast("double") / F.col("n")
        - (F.col("s1").cast("double") / F.col("n"))
        * (F.col("s1").cast("double") / F.col("n"))
    ) / F.lit(10000.0)
    return merged.select(
        "user_id",
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_value"),
        ((F.col("mx") - F.col("mn")).cast("double") / F.lit(100.0)).alias(
            "amplitude"
        ),
    )


ORACLE_INCREMENTAL_AGG = """
WITH q AS (
  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS qv
  FROM events
),
full_agg AS (
  SELECT user_id, event_type, count(*) AS n,
         sum(qv) AS s1, sum(qv * qv) AS s2, min(qv) AS mn, max(qv) AS mx
  FROM q GROUP BY user_id, event_type
)
SELECT user_id, event_type, n,
       round(CAST(s1 AS DOUBLE) / n / 100.0, 6) AS mean_value,
       round(sqrt(greatest((CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                  / 10000.0, 0.0)), 6) AS std_value,
       CAST(mx - mn AS DOUBLE) / 100.0 AS amplitude
FROM full_agg
"""


# --------------------------------------------------------------------------
# evolved_scan: schema-evolution reads — the lakehouse reality that a
# 100 TB table is written over years by pipeline versions with different
# schemas. Two partition generations are written with DIFFERENT columns
# (v2 adds a `channel` column); `mergeSchema` reconciles them at read
# time, old rows surface NULL for the new column, and the aggregation
# treats generations uniformly. Oracle: the same union-with-null-fill in
# SQL. (Spark-side file writes happen under _scratch; the oracle only
# needs the logical content, derived from the same source table.)
# --------------------------------------------------------------------------


def q_evolved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _os.path.join(_SCRATCH, f"evolved_{tag}")
    ev = _events_us(spark, sf_dir)
    v1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    )
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "value",
        (F.col("event_id") % 4).cast("int").alias("channel"),
    )
    v1.write.mode("overwrite").parquet(_os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(_os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", True).parquet(base)
    return (
        merged.groupBy(F.coalesce("channel", F.lit(-1)).alias("channel"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_EVOLVED_SCAN = """
WITH v1 AS (
  SELECT event_id, user_id, value, CAST(NULL AS INT) AS channel
  FROM events WHERE event_id % 2 = 0
),
v2 AS (
  SELECT event_id, user_id, value, CAST(event_id % 4 AS INT) AS channel
  FROM events WHERE event_id % 2 = 1
),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT coalesce(channel, -1) AS channel, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM merged GROUP BY coalesce(channel, -1)
"""


# --------------------------------------------------------------------------
# variant_stats: the Spark 4 VARIANT path for open-schema columns —
# parse_json into the binary semi-structured encoding, typed
# variant_get extraction, then plain relational aggregation. The modern
# lakehouse answer to "the props column has no fixed schema" (the
# events_json_stats query covers the classic get_json_object string
# path; this is the typed-encoding successor). Oracle: DuckDB JSON
# extraction — same values, different encodings.
# --------------------------------------------------------------------------


def q_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_VARIANT_STATS = """
SELECT event_type, count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS INT)) AS max_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# recursive_reach: recursive CTE (Spark 4 WITH RECURSIVE) — BFS distance
# from host 0 over the corpus-derived link graph of host_pagerank. The
# edge map (47·s + 11 mod 64) is a permutation, so every node has
# exactly one out-edge: the recursion is a bounded linear walk (≤ MAX
# hops × 64 rows), terminated by the hop guard — the pure-SQL
# counterpart of the operator-level iterative family (connected
# components / Lloyd / power iteration).
# --------------------------------------------------------------------------

_RR_MAX_HOPS = 10


def q_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _PR_N).alias("src"),
        ((F.col("doc_id") * _PR_EDGE_A + _PR_EDGE_B) % _PR_N).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    docs.createOrReplaceTempView("__reach_edges")
    return spark.sql(f"""
        WITH RECURSIVE walk(node, dist) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, w.dist + 1
          FROM walk w JOIN __reach_edges e ON e.src = w.node
          WHERE w.dist < {_RR_MAX_HOPS}
        )
        SELECT node, min(dist) AS hops FROM walk GROUP BY node
    """)


ORACLE_RECURSIVE_REACH = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT doc_id % {_PR_N} AS src,
         (doc_id * {_PR_EDGE_A} + {_PR_EDGE_B}) % {_PR_N} AS dst
  FROM documents
  WHERE doc_id % {_PR_N} != (doc_id * {_PR_EDGE_A} + {_PR_EDGE_B}) % {_PR_N}
),
walk(node, dist) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {_RR_MAX_HOPS}
)
SELECT node, min(dist) AS hops FROM walk GROUP BY node
"""


# --------------------------------------------------------------------------
# temporal_dim_join: point-in-time (temporal) dimension lookup — every
# click event joined to the SCD2 dimension version valid AT its event
# time (equi user key + ts in [valid_from, valid_to) residual range
# predicate). The consumption side of q_scd2_history's build: together
# they are the full warehouse dimension-history lifecycle.
#
# Scale shape: the range condition rides on an EQUI hash join (user_id)
# as a residual filter — never a range-only join. Versions-per-key is
# small by construction (changes, not events), so the per-key probe is
# a short scan; clicks before a user's first version fall out (inner).
# --------------------------------------------------------------------------


def q_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = q_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "attr",
        "valid_from_us",
        F.coalesce("valid_to_us", F.lit(2**62)).alias("valid_to_us"),
    )
    clicks = (
        _events_us(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts_us")
    )
    joined = clicks.join(
        dim,
        (clicks.user_id == dim.d_user)
        & (clicks.ts_us >= dim.valid_from_us)
        & (clicks.ts_us < dim.valid_to_us),
        "inner",
    )
    return joined.groupBy("attr").agg(
        F.count("*").alias("n_clicks"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_TEMPORAL_DIM_JOIN = """
WITH feed AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         cast(floor(value / 100) AS BIGINT) AS attr
  FROM events WHERE event_type = 'purchase'
),
ch AS (
  SELECT *,
         lag(attr) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS prev_attr
  FROM feed
),
v AS (
  SELECT user_id, event_id, attr, ts_us AS valid_from_us
  FROM ch WHERE prev_attr IS NULL OR attr != prev_attr
),
dim AS (
  SELECT user_id AS d_user, attr, valid_from_us,
         coalesce(lead(valid_from_us) OVER (PARTITION BY user_id
                    ORDER BY valid_from_us, event_id),
                  4611686018427387904) AS valid_to_us
  FROM v
),
clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
)
SELECT attr, count(*) AS n_clicks, count(DISTINCT user_id) AS n_users
FROM clicks c JOIN dim d
  ON c.user_id = d.d_user
 AND c.ts_us >= d.valid_from_us AND c.ts_us < d.valid_to_us
GROUP BY attr
"""

# --------------------------------------------------------------------------
# cube_counts: the CUBE aggregation (all 2^k grouping-set combinations +
# grouping_id provenance) — completes the OLAP trio with rollup_counts
# (linear hierarchy) and sky_pixel_multires (explicit grouping sets).
# Same engine shape: ONE scan, map-side Expand, one exchange.
# --------------------------------------------------------------------------


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
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


ORACLE_CUBE_COUNTS = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""

# --------------------------------------------------------------------------
# unpivot_metrics: wide -> long melt (DataFrame.unpivot / SQL UNPIVOT) —
# the inverse of pivot_counts, turning lineitem's four numeric measures
# into (metric, value) rows for uniform per-metric statistics. The melt
# is a map-side Expand (rows x k, no shuffle until the aggregate).
# --------------------------------------------------------------------------


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
        F.round(F.sum("value"), 2).alias("sum_v"),
    )


ORACLE_UNPIVOT_METRICS = """
SELECT metric, count(*) AS n,
       round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
       round(sum(value), 2) AS sum_v
FROM (
  UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
           FROM lineitem)
  ON l_quantity, l_extendedprice, l_discount, l_tax
  INTO NAME metric VALUE value
) GROUP BY metric
"""


# --------------------------------------------------------------------------
# bloom_prune_join: revenue of lineitems belonging to urgent high-value
# orders, with the fact side pruned by a Bloom bitset of the dim keys
# BEFORE any join machinery runs.
#
# At 100 TB the dim side (here: filtered orders) is often too large to
# broadcast as a hash table but its KEY SET fits a few hundred KB of
# Bloom bits. The bitset probe is a pure codegen predicate on the fact
# scan, so ~99.8% of non-matching lineitems (fp ≈ 0.24% at 16 bits/key)
# never reach the join exchange. False positives are eliminated by the
# real equi-join that follows — the result is exactly the plain join,
# which is what the oracle checks.
# --------------------------------------------------------------------------

_BLOOM_PRICE_MIN = 150_000.0
_BLOOM_K = 4


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")

    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > F.lit(_BLOOM_PRICE_MIN))
    ).select("o_orderkey")

    n_keys = dim.count()
    m_bits = bloom_bits_for(max(n_keys, 1))
    bitset = build_bloom_bitset(dim, "o_orderkey", m_bits, k=_BLOOM_K)

    pruned = lineitem.filter(
        bloom_might_contain("l_orderkey", bitset, m_bits, k=_BLOOM_K)
    )
    return (
        pruned.join(dim, pruned.l_orderkey == dim.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_BLOOM_PRUNE_JOIN = f"""
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN (SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_totalprice > {_BLOOM_PRICE_MIN!r}) dim
  ON l_orderkey = o_orderkey
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# correlated_subquery: TPC-H Q17-shaped correlated SCALAR subquery —
# "lineitems below 20% of their part's average quantity" — exercising
# Catalyst's subquery DECORRELATION: the optimizer must rewrite the
# per-row correlated aggregate into an aggregate-then-join (one
# per-part avg + one equi-join), not a re-executed subquery per row.
# The plan test pins exactly that. Revenue is summed in exact cents
# (int64) so the total is order/engine independent; the 0.2·avg
# threshold is the same two IEEE ops in both engines.
# --------------------------------------------------------------------------

_CSQ_BRANDS = ("Brand#1", "Brand#2")


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__csq_lineitem"
    )
    _t(spark, sf_dir, "part").createOrReplaceTempView(
        "__csq_part"
    )
    brands = ", ".join(f"'{b}'" for b in _CSQ_BRANDS)
    return spark.sql(
        f"""
        SELECT p.p_brand,
               count(*) AS n_small,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS small_revenue
        FROM __csq_lineitem l
        JOIN __csq_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ({brands})
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM __csq_lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
        GROUP BY p.p_brand
        ORDER BY p.p_brand
        """
    )


ORACLE_CORRELATED_SUBQUERY = f"""
SELECT p.p_brand,
       count(*)::BIGINT AS n_small,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100.0 AS small_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN ({", ".join(f"'{b}'" for b in _CSQ_BRANDS)})
  AND l.l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
  )
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# --------------------------------------------------------------------------
# grouping_sets_id: explicit GROUPING SETS with grouping_id() —
# completes the multi-granularity aggregation family (rollup_counts /
# cube_counts cover the derived forms): arbitrary set lists in ONE scan
# via the same Expand, with grouping_id disambiguating NULL-as-ALL from
# NULL-as-value. Map-combinable before the single exchange.
# --------------------------------------------------------------------------


def q_grouping_sets_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "__gs_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


ORACLE_GROUPING_SETS_ID = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       count(*)::BIGINT AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""


# --------------------------------------------------------------------------
# set_ops_multiplicity: INTERSECT ALL / EXCEPT ALL — the bag-semantics
# set operators (the plain anti-join/union family in §2.6 is set-
# semantics). Spark plans both as a single hash aggregate computing
# per-key multiplicities then replaying min/difference counts — one
# shuffle each, no join. Inputs: customers with open vs fulfilled
# orders, a real "same key on both sides with multiplicity" workload.
# --------------------------------------------------------------------------


def q_set_ops_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = a.intersectAll(b).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    only_open = a.exceptAll(b).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_only")
    )
    return (
        both.join(only_open, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.coalesce("n_only", F.lit(0)).alias("n_only"),
        )
        .orderBy("o_custkey")
    )


ORACLE_SET_OPS_MULTIPLICITY = """
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
both_m AS (
  SELECT o_custkey, count(*)::BIGINT AS n_both
  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
  GROUP BY o_custkey
),
only_m AS (
  SELECT o_custkey, count(*)::BIGINT AS n_only
  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
  GROUP BY o_custkey
)
SELECT COALESCE(both_m.o_custkey, only_m.o_custkey) AS o_custkey,
       COALESCE(n_both, 0)::BIGINT AS n_both,
       COALESCE(n_only, 0)::BIGINT AS n_only
FROM both_m FULL OUTER JOIN only_m USING (o_custkey)
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# cogroup_reconcile: cross-source reconciliation via the COGROUPED
# Arrow surface (groupBy().cogroup().applyInPandas — the one PySpark
# UDF entry point the registry didn't yet exercise): events and orders
# are co-partitioned by key and each key's two record batches arrive in
# ONE Python call, which emits the per-key count/amount reconciliation
# row (the "do the two systems agree" data-quality report).
#
# Scale shape: both sides shuffle once on the key (the cogroup's
# required partitioning — same cost as the equivalent join) and the
# kernel is O(rows in key). Amounts are exact int64 cents summed inside
# the kernel; keys present on either side survive (3-arg form).
# --------------------------------------------------------------------------


def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "value"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    # cogroup by HASH BUCKET, not by raw key: FlatMapCoGroupsInPandas
    # makes one Python call per group, so per-key cogrouping pays the
    # call+Arrow constant |keys| times (measured 21.7 s at sf0.1 for
    # 15k keys). Bucketing amortizes that to a fixed 64 calls and the
    # per-key logic vectorizes as pandas groupby+merge inside the
    # kernel — the production cogroup pattern at any key cardinality.
    nb = 64
    evb = ev.withColumn("__b", F.pmod("k", F.lit(nb)))
    orb = orders.withColumn("__b", F.pmod("k", F.lit(nb)))

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        lv = pd.DataFrame(
            {
                "k": left["k"],
                "cents": np.floor(left["value"].to_numpy() * 100 + 0.5).astype(
                    "int64"
                ),
            }
        )
        rv = pd.DataFrame(
            {
                "k": right["k"],
                "cents": np.floor(
                    right["o_totalprice"].to_numpy() * 100 + 0.5
                ).astype("int64"),
            }
        )
        la = lv.groupby("k").agg(n_events=("cents", "size"), event_cents=("cents", "sum"))
        ra = rv.groupby("k").agg(n_orders=("cents", "size"), order_cents=("cents", "sum"))
        # nullable Int64 BEFORE the outer join: a plain join would
        # promote one-sided keys' columns to float64, rounding any cent
        # total past 2^53 — Int64 keeps missing as <NA>, exact at all
        # magnitudes, then fills to plain int64
        m = la.astype("Int64").join(ra.astype("Int64"), how="outer").reset_index()
        return pd.DataFrame(
            {
                "k": m["k"].astype("int64"),
                "n_events": m["n_events"].fillna(0).astype("int64"),
                "n_orders": m["n_orders"].fillna(0).astype("int64"),
                "event_cents": m["event_cents"].fillna(0).astype("int64"),
                "order_cents": m["order_cents"].fillna(0).astype("int64"),
            }
        )

    out = (
        evb.groupBy("__b")
        .cogroup(orb.groupBy("__b"))
        .applyInPandas(
            reconcile,
            schema="k long, n_events long, n_orders long, "
            "event_cents long, order_cents long",
        )
    )
    return out.orderBy("k")


ORACLE_COGROUP_RECONCILE = """
WITH e AS (
  SELECT user_id AS k, count(*)::BIGINT AS n_events,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS event_cents
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS k, count(*)::BIGINT AS n_orders,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
           AS order_cents
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(e.k, o.k) AS k,
       COALESCE(n_events, 0)::BIGINT AS n_events,
       COALESCE(n_orders, 0)::BIGINT AS n_orders,
       COALESCE(event_cents, 0)::BIGINT AS event_cents,
       COALESCE(order_cents, 0)::BIGINT AS order_cents
FROM e FULL OUTER JOIN o ON e.k = o.k
ORDER BY k
"""


# --------------------------------------------------------------------------
# cdc_apply: change-data-capture log compaction + apply — the lakehouse
# MERGE staple: an ordered change log (upserts + deletes) collapses to
# its last-writer-wins row per key, then merges onto the base snapshot.
# The log here is derived deterministically from events (purchase ⇒
# upsert of the account balance, error ⇒ delete), keyed onto supplier.
#
# Scale shape: compaction is ONE window shuffle on the log's key
# (row_number over (key, seq desc) → keep first) — the log, not the
# snapshot, is the high-churn side; the merge is a key-co-partitioned
# full-outer equi-join with the compacted log changed-keys-sized.
# Balances in exact int64 cents.
# --------------------------------------------------------------------------


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    snap = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
    )
    n_keys = 100  # supplier key domain is 0..99 at every SF
    ev = _events_us(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    log = ev.select(
        F.pmod("user_id", F.lit(n_keys)).alias("key"),
        F.col("ts_us").alias("seq"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("new_cents"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("seq").desc(), F.col("event_id").desc()
    )
    compacted = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("key", "op", "new_cents")
    )
    # full-outer joins cannot broadcast in Spark (hint would be
    # ignored): the merge shuffles both sides on the key — at scale the
    # snapshot pays one co-partitioned pass, the compacted log is
    # changed-keys-sized
    merged = snap.join(compacted, snap.s_suppkey == compacted.key, "full_outer")
    return (
        merged.filter(F.coalesce(F.col("op"), F.lit("K")) != "D")
        .select(
            F.coalesce("s_suppkey", "key").alias("s_suppkey"),
            "s_name",
            F.when(F.col("op") == "U", F.col("new_cents"))
            .otherwise(F.col("bal_cents"))
            .alias("bal_cents"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_CDC_APPLY = """
WITH log AS (
  SELECT user_id % 100 AS key, epoch_us(ts) AS seq, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS new_cents
  FROM events WHERE event_type IN ('purchase', 'error')
),
compacted AS (
  SELECT key, op, new_cents FROM (
    SELECT *, row_number() OVER (PARTITION BY key
                                 ORDER BY seq DESC, event_id DESC) AS rn
    FROM log
  ) WHERE rn = 1
),
snap AS (
  SELECT s_suppkey, s_name,
         CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM supplier
)
SELECT COALESCE(s.s_suppkey, c.key) AS s_suppkey, s.s_name,
       CASE WHEN c.op = 'U' THEN c.new_cents ELSE s.bal_cents END AS bal_cents
FROM snap s FULL OUTER JOIN compacted c ON s.s_suppkey = c.key
WHERE COALESCE(c.op, 'K') <> 'D'
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# snapshot_diff: reconciliation of two table snapshots — the
# data-versioning diff (Delta/Iceberg snapshot compare; cdc_apply is
# the log-apply twin). Snapshot A and B are derived deterministically
# from orders (A drops keys ≡0 mod 97, B drops ≡0 mod 89 and bumps the
# price of keys ≡0 mod 7), full-outer joined on the key, and every row
# classified added / removed / changed / unchanged; the output is the
# per-class row count and value checksum that a versioned-table audit
# reports.
#
# Scale shape: ONE full-outer sort-merge equi-join on the snapshot key
# (both sides shuffle once on the same key), then a map-combinable
# conditional aggregation. No window, no collect.
# --------------------------------------------------------------------------


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snap_a = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("va")
    )
    snap_b = (
        orders.filter(F.col("o_orderkey") % 89 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("vb"),
        )
    )
    joined = snap_a.join(snap_b, "k", "full_outer")
    cls = (
        F.when(F.col("va").isNull(), F.lit("added"))
        .when(F.col("vb").isNull(), F.lit("removed"))
        .when(F.col("va") != F.col("vb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    # the per-class value delta sums in EXACT integer cents: prices are
    # 2-decimal, and a double sum of ~n/97 prices carries O(n·ulp)
    # engine-order-dependent error that crosses a 1e-6 rounding grain
    # around sf0.1 (caught by the sf0.1 parity sweep) — integer sums are
    # order-independent at any scale
    def cents(col: str) -> F.Column:
        return F.floor(
            F.coalesce(col, F.lit(0.0)) * F.lit(100.0) + F.lit(0.5)
        ).cast("long")

    return (
        joined.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("vb") - cents("va")).alias("delta_cents"),
        )
        .select(
            "cls", "n", (F.col("delta_cents") / F.lit(100.0)).alias("value_delta")
        )
    )


ORACLE_SNAPSHOT_DIFF = """
WITH snap_a AS (
  SELECT o_orderkey AS k, o_totalprice AS va
  FROM orders WHERE o_orderkey % 97 <> 0
),
snap_b AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS vb
  FROM orders WHERE o_orderkey % 89 <> 0
),
joined AS (
  SELECT coalesce(a.k, b.k) AS k, a.va, b.vb
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT CASE WHEN va IS NULL THEN 'added'
            WHEN vb IS NULL THEN 'removed'
            WHEN va <> vb THEN 'changed'
            ELSE 'unchanged' END AS cls,
       count(*) AS n,
       sum(floor(coalesce(vb, 0.0) * 100.0 + 0.5)::BIGINT
           - floor(coalesce(va, 0.0) * 100.0 + 0.5)::BIGINT) / 100.0
           AS value_delta
FROM joined GROUP BY 1
"""


# --------------------------------------------------------------------------
# fk_integrity_audit: referential-integrity profile of the warehouse —
# for each declared FK edge (orders→customer, lineitem→orders,
# lineitem→part, lineitem→supplier... the edges present in the gate
# tables), the row count, orphan count (left anti join), and orphan
# rate. The data-quality gate a pipeline runs after every load; the
# reference pipeline's equivalent is its cross-module schema contract.
#
# Scale shape: each edge is one LEFT ANTI equi-join — the dimension
# side broadcasts (customer/part/supplier are the small sides at any
# SF); counts are map-combinable. Edges union into one tiny frame.
# --------------------------------------------------------------------------


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")

    def edge(name: str, child: DataFrame, key: str, parent: DataFrame,
             pkey: str, broadcast_parent: bool) -> DataFrame:
        keys = (
            parent.select(F.col(pkey).alias("__pk"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        if broadcast_parent:
            keys = F.broadcast(keys)
        joined = child.select(F.col(key).alias("__pk")).join(
            keys, "__pk", "left"
        )
        return joined.agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("__hit").isNull().cast("long")).alias("n_orphans"),
        ).select(F.lit(name).alias("fk"), "n_rows", "n_orphans")

    frames = [
        edge("orders->customer", orders, "o_custkey", customer, "c_custkey", True),
        edge("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey", False),
        edge("lineitem->part", lineitem, "l_partkey", part, "p_partkey", True),
        edge("lineitem->supplier", lineitem, "l_suppkey", supplier, "s_suppkey", True),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "fk",
        "n_rows",
        "n_orphans",
        halfup6(F.col("n_orphans") / F.col("n_rows")).alias("orphan_rate"),
    )


ORACLE_FK_INTEGRITY_AUDIT = """
WITH e1 AS (
  SELECT 'orders->customer' AS fk, count(*) AS n_rows,
         sum((c.c_custkey IS NULL)::BIGINT) AS n_orphans
  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
),
e2 AS (
  SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
         sum((o.o_orderkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
),
e3 AS (
  SELECT 'lineitem->part' AS fk, count(*) AS n_rows,
         sum((p.p_partkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey
),
e4 AS (
  SELECT 'lineitem->supplier' AS fk, count(*) AS n_rows,
         sum((s.s_suppkey IS NULL)::BIGINT) AS n_orphans
  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON l.l_suppkey = s.s_suppkey
)
SELECT fk, n_rows, n_orphans::BIGINT AS n_orphans,
       floor(n_orphans / n_rows * 1e6 + 0.5) / 1e6 AS orphan_rate
FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2
      UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
"""


# --------------------------------------------------------------------------
# min_cost_supplier (Q2 shape): for every STANDARD part of size ≤ 15,
# the EUROPE-region supplier(s) offering the minimum observed unit
# price. The supply relation is derived from lineitem: unit price =
# l_extendedprice / l_quantity (IEEE double division is exactly-rounded
# and engine-identical), min per (part, supplier).
#
# Plan shape: the correlated `cost = (SELECT min(cost) ... WHERE
# partkey = outer.partkey)` of the classic formulation decorrelates to
# supply → groupBy(partkey).min → equi-join back on (partkey, cost).
# part and the regional supplier dim are broadcast; the only wide
# exchanges are the two hash aggregates over the supply relation, and
# the second one rides the first's partitioning (partkey ⊂ (partkey,
# suppkey) — Spark reuses the narrower hash partitioning, no re-shuffle
# of the full fact).
# --------------------------------------------------------------------------


def _europe_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nat.join(
                    F.broadcast(reg),
                    nat.n_regionkey == reg.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    esup = _europe_suppliers(spark, sf_dir)
    epart = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_name")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * F.lit(100)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("unit_cents"),
    )
    supply = (
        li.join(F.broadcast(epart.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(esup.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cents").alias("cost_cents"))
    )
    best = supply.groupBy("l_partkey").agg(F.min("cost_cents").alias("cost_cents"))
    return (
        supply.join(best, ["l_partkey", "cost_cents"])
        .join(F.broadcast(esup), F.col("l_suppkey") == esup.s_suppkey)
        .join(F.broadcast(epart), F.col("l_partkey") == epart.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("cost_cents") / F.lit(100.0)).alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_UNIT_CENTS_SQL = (
    "CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)"
)
ORACLE_MIN_COST_SUPPLIER = f"""
WITH esup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
epart AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_type = 'STANDARD' AND p_size <= 15
),
supply AS (
  SELECT l_partkey, l_suppkey, MIN({_UNIT_CENTS_SQL}) AS cost_cents
  FROM lineitem
  JOIN epart ON l_partkey = p_partkey
  JOIN esup ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, MIN(cost_cents) AS cost_cents FROM supply GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, supply.l_partkey AS p_partkey, p_name,
       supply.cost_cents / 100.0 AS cost
FROM supply
JOIN best ON supply.l_partkey = best.l_partkey
         AND supply.cost_cents = best.cost_cents
JOIN esup ON supply.l_suppkey = s_suppkey
JOIN epart ON supply.l_partkey = p_partkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# market_share (Q8 shape): per order-year, the fraction of revenue on
# sales to ASIA-region customers that was supplied by NATION_5
# suppliers. Conditional-sum ratio: sum(case when ...)/sum(*), both in
# exact micro-units, divided ONCE at the end through the shared
# half-up-6 idiom.
#
# Plan shape: lineitem⋈orders is the only fact-fact shuffle (orderkey);
# customer routes through a broadcast of the ASIA customer-key set is
# NOT possible at scale (customers scale with data), so customer joins
# by custkey shuffle and nation/region stay broadcast; the supplier
# flag is a broadcast map. One final hash agg on year (25 groups).
# --------------------------------------------------------------------------


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nat = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select("n_nationkey")
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    n5 = nat.filter(F.col("n_name") == "NATION_5").select(
        F.col("n_nationkey").alias("n5_key")
    )
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n5), F.col("s_nationkey") == F.col("n5_key"), "left"
    ).select("s_suppkey", F.col("n5_key").isNotNull().alias("is_n5"))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_micro().alias("rev_micro")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("is_n5"), F.col("rev_micro")).otherwise(F.lit(0))).alias(
            "n5_micro"
        ),
        F.sum("rev_micro").alias("total_micro"),
    )
    # total_micro = 0 is reachable (all-zero prices) and would
    # DIVIDE_BY_ZERO under ANSI — share is undefined there, so NULL,
    # with the identical CASE on the DuckDB side
    return agg.select(
        "o_year",
        F.when(
            F.col("total_micro") > 0,
            halfup6(F.col("n5_micro") / F.col("total_micro")),
        ).alias("mkt_share"),
        (F.col("total_micro") / F.lit(10000.0)).alias("total_revenue"),
    )


ORACLE_MARKET_SHARE = f"""
WITH joined AS (
  SELECT year(o_orderdate) AS o_year,
         {_REV_MICRO_SQL} AS rev_micro,
         (SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) = 'NATION_5'
           AS is_n5
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey IN (
    SELECT n_nationkey FROM nation
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
  )
),
agg AS (
  SELECT o_year,
         CAST(SUM(CASE WHEN is_n5 THEN rev_micro ELSE 0 END) AS BIGINT) AS n5_micro,
         CAST(SUM(rev_micro) AS BIGINT) AS total_micro
  FROM joined GROUP BY o_year
)
SELECT o_year,
       CASE WHEN total_micro > 0
            THEN floor(n5_micro / total_micro * 1e6 + 0.5) / 1e6 END
         AS mkt_share,
       total_micro / 10000.0 AS total_revenue
FROM agg
"""


# --------------------------------------------------------------------------
# product_profit (Q9 shape): profit per (supplier nation, order year)
# on parts whose name contains 'bolt'. Without a supplycost column the
# unit cost is the part's retail price: profit_micro =
# price_cents*(100-disc_cents) - retail_cents*qty*100 — every term an
# exact int64.
#
# Plan shape: the LIKE-filtered part dim and supplier→nation map are
# broadcast; lineitem⋈orders shuffles on orderkey; single final hash
# agg on (n_name, o_year). The part filter lands BEFORE the orders
# join, so the orderkey shuffle moves only 'bolt' lineitems.
# --------------------------------------------------------------------------


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey", _cents("p_retailprice").alias("retail_cents"))
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        _rev_micro().alias("rev_micro"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    profit = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "n_name",
            "o_year",
            (
                F.col("rev_micro")
                - F.col("retail_cents") * F.col("qty") * F.lit(100)
            ).alias("profit_micro"),
        )
    )
    return (
        profit.groupBy("n_name", "o_year")
        .agg(F.sum("profit_micro").alias("profit_micro"))
        .select(
            "n_name",
            "o_year",
            (F.col("profit_micro") / F.lit(10000.0)).alias("profit"),
        )
    )


ORACLE_PRODUCT_PROFIT = f"""
WITH profit AS (
  SELECT n_name, year(o_orderdate) AS o_year,
         {_REV_MICRO_SQL}
           - {_cents_sql('p_retailprice')}
             * CAST(l_quantity AS BIGINT) * 100 AS profit_micro
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%bolt%'
)
SELECT n_name, o_year,
       CAST(SUM(profit_micro) AS BIGINT) / 10000.0 AS profit
FROM profit GROUP BY n_name, o_year
"""


# --------------------------------------------------------------------------
# important_parts (Q11 shape): parts whose supplied value (revenue from
# AMERICA-region suppliers) exceeds 2× the average part's value.
# GROUP BY + HAVING-against-global-scalar: the scalar (total, n_parts)
# is a 1-row broadcast. The threshold is RELATIVE to the average so the
# query keeps meaningful selectivity at every scale factor (a fixed
# fraction-of-total goes vacuous as the part count grows — caught by
# review at sf0.1). The compare is exact integer arithmetic with no
# overflow at any scale: value > 2·avg ⟺ value·n > 2·total ⟺
# value > (2·total) DIV n for positive ints (the DIV form bounds every
# intermediate by 2·total_cents, where the cross-multiply's value·n
# would overflow int64 on extreme inputs).
#
# Plan shape: one hash agg on partkey over the region-filtered fact
# (map-combined), one global 1-row agg REUSING the per-part aggregate
# (re-aggregation of the small grouped result, not a second fact scan),
# then broadcast-nested-loop of the 1-row total.
# --------------------------------------------------------------------------


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    am_sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
                .select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _cents("l_extendedprice").alias("price_cents")
    )
    per_part = (
        li.join(F.broadcast(am_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("price_cents").alias("value_cents"))
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents")
            > F.expr("(2 * total_cents) div n_parts")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_cents") / F.lit(100.0)).alias("value"),
        )
    )


ORACLE_IMPORTANT_PARTS = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
  )
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value_cents / 100.0 AS value
FROM per_part
WHERE value_cents > (SELECT (2 * CAST(SUM(value_cents) AS BIGINT)) // COUNT(*)
                     FROM per_part)
"""


# --------------------------------------------------------------------------
# custorder_distribution (Q13 shape): distribution of customers by how
# many non-'4-*'-priority orders they placed, INCLUDING the zero bucket
# (the left-outer preservation is the whole point of the shape).
#
# Plan shape: orders pre-aggregate to one row per custkey BEFORE the
# customer join (map-combinable count, then a 1-row-per-key join)
# instead of the classic join-then-count — at 100 TB this shrinks the
# join's probe side from |orders| rows to |active customers| rows. The
# zero bucket comes back via left join + coalesce(0). Final histogram
# agg is 2-level (c_count has ~tens of distinct values).
# --------------------------------------------------------------------------


def q_custorder_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        _t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").like("4%"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


ORACLE_CUSTORDER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderpriority NOT LIKE '4%'
  ) o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# top_supplier (Q15 shape): the supplier(s) with the maximum revenue on
# lineitems shipped in 1996-Q1. Aggregate "view" + scalar MAX subquery
# — the MAX runs as a global window over the PER-SUPPLIER aggregate,
# whose row count is bounded by the supplier dimension, not by data
# volume (the single-partition window is safe by the same bounded-
# cardinality argument as acf_lags' day series). The scalar-subquery
# formulation would re-derive the aggregate from a second fact scan
# (AQE grants it no exchange reuse — measured); this form scans the
# fact ONCE. ALL maximizers survive the equality, deterministically.
# --------------------------------------------------------------------------


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", _rev_micro().alias("rev_micro"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev_micro").alias("total_micro"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn(
            "max_micro", F.max("total_micro").over(Window.partitionBy())
        )
        .filter(F.col("total_micro") == F.col("max_micro"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_micro") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


ORACLE_TOP_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS total_micro
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_micro / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_micro = (SELECT MAX(total_micro) FROM rev)
"""


# --------------------------------------------------------------------------
# supplier_part_counts (Q16 shape): how many distinct suppliers supply
# each surviving (brand, type, size) combination — excluding one brand,
# one type family, a size whitelist, and a supplier blocklist
# (suppliers with negative account balance), the NOT-IN of the classic
# form expressed as a broadcast LEFT ANTI join (null-safe by
# construction, unlike SQL NOT IN).
#
# Plan shape: the supply relation is distinct (partkey, suppkey) — one
# shuffle; the part filter broadcasts; the blocklist broadcasts as an
# anti side; the COUNT(DISTINCT suppkey) per (brand,type,size) rides a
# second distinct + count (Spark expands count-distinct to exactly
# this, so we write it directly).
# --------------------------------------------------------------------------

_SPC_SIZES = (1, 4, 9, 16, 25, 36, 49)


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    supply = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    parts = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(*_SPC_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blocked = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        supply.join(F.broadcast(parts), supply.l_partkey == parts.p_partkey)
        .join(
            F.broadcast(blocked),
            supply.l_suppkey == blocked.s_suppkey,
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count("*").alias("supplier_cnt"))
    )


ORACLE_SUPPLIER_PART_COUNTS = f"""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN {_SPC_SIZES!r}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# small_qty_revenue (Q17 shape): average yearly revenue lost if Brand#3
# orders below 20% of that part's average quantity were not filled.
# The correlated `l_quantity < 0.2 * (SELECT avg(l_quantity) ... WHERE
# partkey = outer.partkey)` decorrelates to a per-part aggregate joined
# back. avg(l_quantity) is exact (integral quantities, |group| small);
# the 0.2* threshold is the same double expression on both engines.
#
# Plan shape: the Brand#3 part-key set broadcasts into BOTH the
# aggregate input and the probe side, so only Brand#3 lineitems ever
# shuffle; the per-part average is map-combined; the join back is
# 1-row-per-key.
# --------------------------------------------------------------------------


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    b3 = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", _cents("l_extendedprice").alias("price_cents"))
        .join(F.broadcast(b3), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    qlim = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    kept = li.join(qlim, "l_partkey").filter(F.col("l_quantity") < F.col("qty_limit"))
    return kept.agg(
        (F.sum("price_cents") / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly")
    )


ORACLE_SMALL_QTY_REVENUE = f"""
WITH li AS (
  SELECT l_partkey, l_quantity,
         {_cents_sql('l_extendedprice')} AS price_cents
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3')
),
qlim AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_limit
  FROM li GROUP BY l_partkey
)
SELECT CAST(SUM(price_cents) AS BIGINT) / 100.0 / 7.0 AS avg_yearly
FROM li JOIN qlim USING (l_partkey)
WHERE l_quantity < qty_limit
"""


# --------------------------------------------------------------------------
# large_volume_customers (Q18 shape): customers whose single order
# carries more than 300 units. The classic `o_orderkey IN (SELECT
# l_orderkey ... GROUP BY ... HAVING sum > 300)` — here the aggregate
# IS the driving table (inner join on its keys), no separate semi pass.
#
# Plan shape: one map-combined hash agg on orderkey (exact: integral
# quantities summed as long), then orderkey-join to orders (reuses the
# agg partitioning) and custkey-join to customer. Top-100 by
# (o_totalprice desc, o_orderkey) via TakeOrderedAndProject.
# --------------------------------------------------------------------------


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


ORACLE_LARGE_VOLUME_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# disjunctive_revenue (Q19 shape): revenue from three brand/size/qty
# bands OR-ed together across the part⋈lineitem join. Catalyst pushes a
# top-level conjunct through a join but does NOT derive the implied
# per-side superset of an OR-of-ANDs — so the superset conjuncts
# (p_brand IN (...) AND p_size BETWEEN 1 AND 15; l_quantity BETWEEN 1
# AND 30) are written explicitly on each side. At 100 TB that is the
# difference between scanning 3 brands' parts and the whole part table.
# --------------------------------------------------------------------------

_DJ_BANDS = (
    ("Brand#1", 5, 1, 11),
    ("Brand#2", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    brands = [b for b, _, _, _ in _DJ_BANDS]
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(brands) & F.col("p_size").between(1, 15))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", _rev_micro().alias("rev_micro"))
    )
    cond = None
    for brand, max_size, qlo, qhi in _DJ_BANDS:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )
        cond = branch if cond is None else (cond | branch)
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .filter(cond)
        .agg((F.sum("rev_micro") / F.lit(10000.0)).alias("revenue"))
    )


_DJ_BANDS_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
    f" AND l_quantity BETWEEN {ql} AND {qh})"
    for b, s, ql, qh in _DJ_BANDS
)
ORACLE_DISJUNCTIVE_REVENUE = f"""
SELECT CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_DJ_BANDS_SQL}
"""


# --------------------------------------------------------------------------
# sole_late_supplier (Q21 shape): suppliers who were the ONLY late
# shipper on a finished multi-supplier order ("late" = shipped more
# than 90 days after the order date). The classic form is a double
# correlation — EXISTS(another supplier on the order) AND NOT
# EXISTS(another LATE supplier on the order) — each of which would
# re-probe lineitem per outer row. Decorrelated here as ONE per-order
# hash aggregate whose late-supplier set carries both the correlation
# test and the answer:
#   n_supp >= 2      ⇔ EXISTS other-supplier line
#   |late_supps| == 1 ⇔ exactly one late supplier — and that set's
#                       single element IS the sole late supplier, so
#                       there is no join-back and no window.
# The ORACLE is written in the correlated EXISTS/NOT-EXISTS form, so
# parity proves the rewrite, not just the arithmetic.
#
# Plan shape: lineitem⋈orders('F') as a SHUFFLE-HASH join (nothing
# downstream needs sort order; SMJ's fact sort measured 98 s vs 22 s
# at ×64) feeding a map-combinable ObjectHashAggregate on the same
# orderkey partitioning; final count per supplier name is a tiny
# shuffle; supplier names broadcast. Top-50 via TakeOrderedAndProject.
# --------------------------------------------------------------------------


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    # shuffle-hash on purpose: nothing downstream needs sort order (the
    # per-order reduction is a hash aggregate), so SMJ's full sort of
    # the fact is pure waste — measured 98 s vs 22 s at ×64 replicas.
    # The build side is 1-row-per-order, skew-free (≤ lines-per-order
    # fan-in), and per-partition-bounded under AQE sizing; at small SFs
    # AQE upgrades it to broadcast regardless of the hint.
    lf = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    # ONE per-order aggregate carries everything the double correlation
    # needs: the distinct-supplier count AND the set of late suppliers —
    # when that set has exactly one element on a multi-supplier order,
    # ITS element IS the sole late supplier, so there is no join-back
    # and no window at all. (Both rejected alternatives re-walk the
    # fact: groupBy + join-back computes the fact-fact join twice — AQE
    # grants it no exchange reuse; windowed counts force a 12.8M-row
    # sort that measured ×58 wall at ×64 replicas where this hash
    # aggregate holds the family's sub-linear curve.) collect_set
    # partials merge map-side; per-group state is bounded by
    # lines-per-order, a schema constant.
    waiters = (
        lf.groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_suppkey")).alias("n_supp"),
            F.collect_set(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).alias("late_supps"),
        )
        .filter((F.col("n_supp") >= 2) & (F.size("late_supps") == 1))
        .select(F.element_at("late_supps", 1).alias("l_suppkey"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiters.join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(50)
    )


ORACLE_SOLE_LATE_SUPPLIER = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT a.l_orderkey, a.l_suppkey
  FROM l1 a
  WHERE a.l_shipdate > a.o_orderdate + INTERVAL 90 DAY
    AND EXISTS (
      SELECT 1 FROM l1 b
      WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM l1 c
      WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
        AND c.l_shipdate > c.o_orderdate + INTERVAL 90 DAY
    )
) w
JOIN supplier ON w.l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 50
"""


# --------------------------------------------------------------------------
# dormant_customers (Q22 shape): per nation (over a 5-nation segment),
# the count and total balance of above-average-balance customers with
# NO order since 2000-01-01. The scalar AVG threshold is the exact
# integer cross-multiply acct_cents * n_pos > pos_total_cents (avg over
# positive balances in the segment); the NOT EXISTS is a left-anti
# against the distinct recent-orderer key set.
#
# Plan shape: the 1-row (n_pos, pos_total_cents) aggregate broadcasts;
# recent orders pre-aggregate to distinct custkeys BEFORE the anti join
# (shrinks the build side to |recent customers|); final agg on
# nationkey (5 groups).
# --------------------------------------------------------------------------

_DORMANT_NATIONS = (1, 6, 11, 16, 21)
_DORMANT_CUTOFF = "2000-01-01"


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*_DORMANT_NATIONS))
        .select("c_custkey", "c_nationkey", _cents("c_acctbal").alias("acct_cents"))
    )
    pos = cust.filter(F.col("acct_cents") > 0).agg(
        F.count("*").alias("n_pos"), F.sum("acct_cents").alias("pos_total_cents")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _DORMANT_CUTOFF)
        .select("o_custkey")
        .distinct()
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("acct_cents") * F.col("n_pos") > F.col("pos_total_cents")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        (F.sum("acct_cents") / F.lit(100.0)).alias("totacctbal"),
    )


ORACLE_DORMANT_CUSTOMERS = f"""
WITH seg AS (
  SELECT c_custkey, c_nationkey,
         {_cents_sql('c_acctbal')} AS acct_cents
  FROM customer
  WHERE c_nationkey IN {_DORMANT_NATIONS!r}
),
pos AS (
  SELECT COUNT(*) AS n_pos,
         CAST(SUM(acct_cents) AS BIGINT) AS pos_total_cents
  FROM seg WHERE acct_cents > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(acct_cents) AS BIGINT) / 100.0 AS totacctbal
FROM seg, pos
WHERE acct_cents * n_pos > pos_total_cents
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '{_DORMANT_CUTOFF}'
  )
GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# partition_skew_report: one row per candidate shuffle key of the
# lineitem fact — (n_rows, n_keys, max_cnt, top_key, skew_ratio).
# skew_ratio = max_cnt / (n_rows / n_keys) computed as the exact
# rational max_cnt * n_keys / n_rows, half-up-6. top_key is the
# heaviest key, ties broken to the HIGHEST key id via a single
# max(struct(cnt, key)) — no second pass, no argmax window.
#
# Scale shape: per key column, ONE map-combinable count aggregate over
# the fact and ONE 1-row reduction of the (bounded) per-key table; the
# three key columns' reports union into a 3-row frame. The fact is
# scanned once per column with only that column read (pruned scan).
# --------------------------------------------------------------------------

_SKEW_KEYS = ("l_partkey", "l_suppkey", "l_orderkey")


def q_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    reports = []
    for key in _SKEW_KEYS:
        counts = li.groupBy(key).agg(F.count("*").alias("cnt"))
        reports.append(
            counts.agg(
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_cnt"),
                F.max(F.struct(F.col("cnt"), F.col(key).alias("k")))["k"].alias(
                    "top_key"
                ),
            ).select(
                F.lit(key).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_cnt",
                "top_key",
                # double FIRST: the long cross-product max_cnt*n_keys can
                # exceed int64 at extreme scale (and DuckDB would error
                # where Spark wraps); each IEEE op is exact-rounded and
                # engine-identical in this fixed order
                halfup6(
                    F.col("max_cnt").cast("double")
                    * F.col("n_keys")
                    / F.col("n_rows")
                ).alias("skew_ratio"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _skew_report_sql(key: str) -> str:
    return f"""
  SELECT '{key}' AS key_col,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         COUNT(*) AS n_keys,
         MAX(cnt) AS max_cnt,
         (SELECT MAX(k) FROM counts_{key}
          WHERE cnt = (SELECT MAX(cnt) FROM counts_{key})) AS top_key,
         floor(CAST(MAX(cnt) AS DOUBLE) * COUNT(*)
               / CAST(SUM(cnt) AS BIGINT) * 1e6 + 0.5) / 1e6 AS skew_ratio
  FROM counts_{key}"""


ORACLE_PARTITION_SKEW_REPORT = (
    "WITH "
    + ", ".join(
        f"counts_{k} AS (SELECT {k} AS k, COUNT(*) AS cnt FROM lineitem GROUP BY {k})"
        for k in _SKEW_KEYS
    )
    + " UNION ALL ".join(_skew_report_sql(k) for k in _SKEW_KEYS)
)


# --------------------------------------------------------------------------
# compaction_plan: greedy in-order bin packing of each directory's
# files into ~target-byte output groups — the small-file compaction
# planner (Iceberg binpack / Delta OPTIMIZE shape). Modeled on the
# documents manifest: source = directory, doc = file, n_chars = bytes;
# a file opens a new bin when the bytes BEFORE it reach the next
# target multiple (bin = cum_before DIV target — the standard
# streaming assignment, identical in both engines as integer
# division).
#
# Scale shape: ONE shuffle on the directory key; the running sum is a
# per-directory window over the MANIFEST (rows = file count per
# directory, not data volume — the planner reads listings, never file
# contents). Per-directory sequential planning is inherent to in-order
# packing; directories parallelize.
# --------------------------------------------------------------------------

_COMPACT_TARGET = 2000  # bytes per output group (documents.n_chars units)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    binned = docs.withColumn(
        "bin",
        F.expr(f"coalesce(sum(n_chars) over "
               f"(partition by source order by doc_id "
               f"rows between unbounded preceding and 1 preceding), 0)"
               f" div {_COMPACT_TARGET}"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_COMPACTION_PLAN = f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {_COMPACT_TARGET} AS BIGINT) AS bin
  FROM documents
)
SELECT source, bin, COUNT(*) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM binned GROUP BY source, bin
"""


# --------------------------------------------------------------------------
# balanced_ranges: exact K-way range-partitioner boundaries at key
# granularity — bucket b = K * rows_before_key DIV total_rows over the
# key-sorted per-key histogram, then (lo, hi, rows) per bucket. This
# is the exact version of what Spark's sampling RangePartitioner
# estimates; a key whose count straddles a boundary stays whole (range
# partitioning never splits a key), so bucket sizes are balanced up to
# the heaviest single key.
#
# Scale shape: the fact contributes one map-combinable count
# aggregate; the cumulative window and the bucket rollup run on the
# BOUNDED per-key table (documented single-reducer over key
# cardinality, the acf_lags argument). Assignment is exact integer
# arithmetic — K * cum DIV total — no float boundary wobble.
# --------------------------------------------------------------------------

_RANGE_K = 8


def q_balanced_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    # both windows ride ONE sort of the bounded per-key table
    w_cum = Window.orderBy("l_partkey").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    assigned = counts.select(
        "l_partkey",
        "cnt",
        (
            F.lit(_RANGE_K)
            * F.coalesce(F.sum("cnt").over(w_cum), F.lit(0))
        ).alias("scaled"),
        F.sum("cnt").over(w_all).alias("total"),
    ).select(
        "l_partkey",
        "cnt",
        F.expr("scaled div total").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.min("l_partkey").alias("lo_key"),
        F.max("l_partkey").alias("hi_key"),
        F.sum("cnt").alias("n_rows"),
    )


ORACLE_BALANCED_RANGES = f"""
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
),
assigned AS (
  SELECT l_partkey, cnt,
         CAST(({_RANGE_K} * COALESCE(SUM(cnt) OVER (
            ORDER BY l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
           // (SUM(cnt) OVER ()) AS BIGINT) AS bucket
  FROM counts
)
SELECT bucket, MIN(l_partkey) AS lo_key, MAX(l_partkey) AS hi_key,
       CAST(SUM(cnt) AS BIGINT) AS n_rows
FROM assigned GROUP BY bucket
"""


register("pricing_summary", q_pricing_summary, ORACLE_PRICING_SUMMARY)
register("top_revenue_orders", q_top_revenue_orders, ORACLE_TOP_REVENUE_ORDERS)
register("region_revenue", q_region_revenue, ORACLE_REGION_REVENUE)
register("order_flags", q_order_flags, ORACLE_ORDER_FLAGS, bench=False)
register("cheapest_order_per_customer", q_cheapest_order_per_customer,
         ORACLE_CHEAPEST_ORDER)
register("customers_without_orders", q_customers_without_orders,
         ORACLE_CUSTOMERS_WITHOUT_ORDERS, bench=False)
register("returned_orders_by_priority", q_returned_orders_by_priority,
         ORACLE_RETURNED_ORDERS, bench=False)
register("lineitem_topk", q_lineitem_topk, ORACLE_LINEITEM_TOPK, bench=False)
register("supplier_upsert", q_supplier_upsert, ORACLE_SUPPLIER_UPSERT,
         bench=False)
register("events_json_stats", q_events_json_stats, ORACLE_EVENTS_JSON_STATS,
         bench=False)
register("spatial_nn", q_spatial_nn, ORACLE_SPATIAL_NN)
register("spatial_range_count", q_spatial_range_count,
         ORACLE_SPATIAL_RANGE_COUNT, bench=False)
register("decode_csv", q_decode_csv, ORACLE_DECODE_CSV, bench=False)
register("json_struct_decode", q_json_struct_decode, ORACLE_JSON_STRUCT_DECODE,
         bench=False)
register("scalar_kitchen_sink", q_scalar_kitchen_sink,
         ORACLE_SCALAR_KITCHEN_SINK, bench=False)
register("sink_roundtrip", q_sink_roundtrip, ORACLE_SINK_ROUNDTRIP,
         bench=False)
register("bucketed_join", q_bucketed_join, ORACLE_BUCKETED_JOIN, bench=False)
register("partitioned_scan", q_partitioned_scan, ORACLE_PARTITIONED_SCAN,
         bench=False)
register("promo_revenue", q_promo_revenue, ORACLE_PROMO_REVENUE)
register("sql_string_filter", q_sql_string_filter, ORACLE_SQL_STRING_FILTER,
         bench=False)
register("map_ops", q_map_ops, ORACLE_MAP_OPS, bench=False)
# sampled_stats: engine-specific seeded sampler — rows-only by design
register("sampled_stats", q_sampled_stats, bench=False)
register("skew_safe_distinct", q_skew_safe_distinct, ORACLE_SKEW_SAFE_DISTINCT,
         bench=False)
# approx_distinct: HLL sketch is engine-specific — rows-only by design
register("approx_distinct", q_approx_distinct, bench=False)
register("rollup_counts", q_rollup_counts, ORACLE_ROLLUP_COUNTS, bench=False)
register("pivot_counts", q_pivot_counts, ORACLE_PIVOT_COUNTS, bench=False)
register("ranking_windows", q_ranking_windows, ORACLE_RANKING_WINDOWS,
         bench=False)
register("salted_type_join", q_salted_type_join, ORACLE_SALTED_TYPE_JOIN,
         bench=False)
register("scd2_history", q_scd2_history, ORACLE_SCD2_HISTORY)
register("incremental_agg", q_incremental_agg, ORACLE_INCREMENTAL_AGG)
register("evolved_scan", q_evolved_scan, ORACLE_EVOLVED_SCAN)
register("variant_stats", q_variant_stats, ORACLE_VARIANT_STATS)
register("recursive_reach", q_recursive_reach, ORACLE_RECURSIVE_REACH)
register("temporal_dim_join", q_temporal_dim_join, ORACLE_TEMPORAL_DIM_JOIN)
register("cube_counts", q_cube_counts, ORACLE_CUBE_COUNTS)
register("unpivot_metrics", q_unpivot_metrics, ORACLE_UNPIVOT_METRICS)
register("bloom_prune_join", q_bloom_prune_join, ORACLE_BLOOM_PRUNE_JOIN)
register("correlated_subquery", q_correlated_subquery,
         ORACLE_CORRELATED_SUBQUERY)
register("grouping_sets_id", q_grouping_sets_id, ORACLE_GROUPING_SETS_ID)
register("set_ops_multiplicity", q_set_ops_multiplicity,
         ORACLE_SET_OPS_MULTIPLICITY)
register("cogroup_reconcile", q_cogroup_reconcile, ORACLE_COGROUP_RECONCILE)
register("cdc_apply", q_cdc_apply, ORACLE_CDC_APPLY)
register("snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF)
register("fk_integrity_audit", q_fk_integrity_audit, ORACLE_FK_INTEGRITY_AUDIT)
register("min_cost_supplier", q_min_cost_supplier, ORACLE_MIN_COST_SUPPLIER)
register("market_share", q_market_share, ORACLE_MARKET_SHARE)
register("product_profit", q_product_profit, ORACLE_PRODUCT_PROFIT)
register("important_parts", q_important_parts, ORACLE_IMPORTANT_PARTS)
register("custorder_distribution", q_custorder_distribution,
         ORACLE_CUSTORDER_DISTRIBUTION)
register("top_supplier", q_top_supplier, ORACLE_TOP_SUPPLIER)
register("supplier_part_counts", q_supplier_part_counts,
         ORACLE_SUPPLIER_PART_COUNTS)
register("small_qty_revenue", q_small_qty_revenue, ORACLE_SMALL_QTY_REVENUE)
register("large_volume_customers", q_large_volume_customers,
         ORACLE_LARGE_VOLUME_CUSTOMERS)
register("disjunctive_revenue", q_disjunctive_revenue,
         ORACLE_DISJUNCTIVE_REVENUE)
register("sole_late_supplier", q_sole_late_supplier, ORACLE_SOLE_LATE_SUPPLIER)
register("dormant_customers", q_dormant_customers, ORACLE_DORMANT_CUSTOMERS)
register("partition_skew_report", q_partition_skew_report,
         ORACLE_PARTITION_SKEW_REPORT)
register("compaction_plan", q_compaction_plan, ORACLE_COMPACTION_PLAN)
register("balanced_ranges", q_balanced_ranges, ORACLE_BALANCED_RANGES)
