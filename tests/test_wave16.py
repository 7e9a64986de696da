"""Edge-case pins for the wave-16 decorrelation suite (queries_relational).

The differential oracle proves parity on the shipped data; these tests
feed synthetic mini-tables through the SAME registered callables to pin
the decision boundaries the shipped distribution may not exercise:
sole-late semantics (all-late orders, single-supplier orders, repeated
late lines), scalar-MAX ties (all maximizers kept), the zero-order
bucket, and the strict > on the dormant-customer balance threshold.
"""

from __future__ import annotations

import datetime

import pytest


def _write(spark, tmp_path, name: str, rows, schema: str) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / f"{name}.parquet"))


_TS = datetime.datetime


def test_sole_late_supplier_edges(spark, tmp_path):
    from fink_science_spark.queries_relational import q_sole_late_supplier

    od = _TS(1996, 1, 1)
    on_time = _TS(1996, 2, 1)   # +31d: not late
    late = _TS(1996, 6, 1)      # +152d: late
    _write(
        spark, tmp_path, "orders",
        [
            (1, "F", od),   # two suppliers, only 10 late -> 10 counted
            (2, "F", od),   # two suppliers, both late -> nobody
            (3, "F", od),   # single supplier, late -> no other supplier
            (4, "F", od),   # supplier 10 late on TWO lines -> one order
            (5, "O", od),   # not finished -> excluded entirely
        ],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
    )
    _write(
        spark, tmp_path, "lineitem",
        [
            (1, 10, late), (1, 20, on_time),
            (2, 10, late), (2, 20, late),
            (3, 10, late),
            (4, 10, late), (4, 10, late), (4, 20, on_time),
            (5, 10, late), (5, 20, on_time),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    )
    _write(
        spark, tmp_path, "supplier",
        [(10, "SUPP_10"), (20, "SUPP_20")],
        "s_suppkey long, s_name string",
    )
    rows = {
        r["s_name"]: r["numwait"]
        for r in q_sole_late_supplier(spark, str(tmp_path)).collect()
    }
    assert rows == {"SUPP_10": 2}  # orders 1 and 4, once each


def test_top_supplier_keeps_all_maximizers(spark, tmp_path):
    from fink_science_spark.queries_relational import q_top_supplier

    ship = _TS(1996, 2, 1)
    _write(
        spark, tmp_path, "lineitem",
        [
            (1, 10, ship, 100.0, 0.1),
            (2, 20, ship, 100.0, 0.1),          # exact tie with 10
            (3, 30, ship, 50.0, 0.0),           # below max
            (4, 10, _TS(1997, 1, 1), 900.0, 0.0),  # outside the window
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp,"
        " l_extendedprice double, l_discount double",
    )
    _write(
        spark, tmp_path, "supplier",
        [(10, "A"), (20, "B"), (30, "C")],
        "s_suppkey long, s_name string",
    )
    rows = sorted(
        (r["s_name"], r["total_revenue"])
        for r in q_top_supplier(spark, str(tmp_path)).collect()
    )
    assert rows == [("A", 90.0), ("B", 90.0)]


def test_custorder_distribution_zero_bucket(spark, tmp_path):
    from fink_science_spark.queries_relational import q_custorder_distribution

    _write(
        spark, tmp_path, "customer",
        [(1,), (2,), (3,)],
        "c_custkey long",
    )
    _write(
        spark, tmp_path, "orders",
        [
            (100, 1, "1-URGENT"),
            (101, 1, "5-LOW"),
            (102, 2, "4-NOT SPECIFIED"),  # filtered out -> cust 2 has 0
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    rows = {
        r["c_count"]: r["custdist"]
        for r in q_custorder_distribution(spark, str(tmp_path)).collect()
    }
    assert rows == {2: 1, 0: 2}


def test_dormant_customers_strict_threshold(spark, tmp_path):
    from fink_science_spark.queries_relational import (
        _DORMANT_NATIONS,
        q_dormant_customers,
    )

    nat = _DORMANT_NATIONS[0]
    # positive balances 100.00 and 300.00 -> avg 200.00; the customer AT
    # the average must NOT qualify (strict >), 300.00 must
    _write(
        spark, tmp_path, "customer",
        [
            (1, nat, 100.0),
            (2, nat, 300.0),
            (3, nat, 200.0),   # exactly avg -> excluded
            (4, 99, 9999.0),   # outside the nation segment
        ],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    _write(
        spark, tmp_path, "orders",
        [(100, 2, _TS(2001, 1, 1))],  # cust 2 ordered recently -> not dormant
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    rows = q_dormant_customers(spark, str(tmp_path)).collect()
    assert rows == []  # 2 is recent, 3 is at-threshold, 1 is below avg


def test_important_parts_strict_2x_average(spark, tmp_path):
    from fink_science_spark.queries_relational import q_important_parts

    _write(
        spark, tmp_path, "region",
        [(0, "AMERICA")],
        "r_regionkey int, r_name string",
    )
    _write(
        spark, tmp_path, "nation",
        [(0, "NATION_0", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _write(
        spark, tmp_path, "supplier",
        [(10, 0)],
        "s_suppkey long, s_nationkey int",
    )
    # values {100,100,100,300}: total 600, threshold (2*600) DIV 4 =
    # 300 -> the part valued EXACTLY 2x the average must NOT qualify
    _write(
        spark, tmp_path, "lineitem",
        [(1, 10, 100.0), (2, 10, 100.0), (3, 10, 100.0), (4, 10, 300.0)],
        "l_partkey long, l_suppkey long, l_extendedprice double",
    )
    rows = {r["p_partkey"]: r["value"] for r in
            q_important_parts(spark, str(tmp_path)).collect()}
    assert rows == {}


def test_important_parts_above_threshold(spark, tmp_path):
    from fink_science_spark.queries_relational import q_important_parts

    _write(
        spark, tmp_path, "region",
        [(0, "AMERICA")],
        "r_regionkey int, r_name string",
    )
    _write(
        spark, tmp_path, "nation",
        [(0, "NATION_0", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _write(
        spark, tmp_path, "supplier",
        [(10, 0)],
        "s_suppkey long, s_nationkey int",
    )
    # values {100,100,100,301}: total 601, threshold (2*601) DIV 4 =
    # 300 -> one cent past the 2x-average boundary qualifies
    _write(
        spark, tmp_path, "lineitem",
        [(1, 10, 100.0), (2, 10, 100.0), (3, 10, 100.0), (4, 10, 301.0)],
        "l_partkey long, l_suppkey long, l_extendedprice double",
    )
    rows = {r["p_partkey"]: r["value"] for r in
            q_important_parts(spark, str(tmp_path)).collect()}
    assert rows == {4: 301.0}


def test_min_cost_supplier_keeps_cost_ties(spark, tmp_path):
    from fink_science_spark.queries_relational import q_min_cost_supplier

    _write(
        spark, tmp_path, "region",
        [(0, "EUROPE"), (1, "ASIA")],
        "r_regionkey int, r_name string",
    )
    _write(
        spark, tmp_path, "nation",
        [(0, "NATION_0", 0), (1, "NATION_1", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    _write(
        spark, tmp_path, "supplier",
        [(10, "A", 5.0, 0), (20, "B", 7.0, 0), (30, "C", 9.0, 1)],
        "s_suppkey long, s_name string, s_acctbal double, s_nationkey int",
    )
    _write(
        spark, tmp_path, "part",
        [(1, "p one", "STANDARD", 5), (2, "p two", "PROMO", 5)],
        "p_partkey long, p_name string, p_type string, p_size int",
    )
    # suppliers 10 and 20 tie on unit cost 2.00 for part 1; supplier 30
    # is cheaper but outside EUROPE; part 2 is filtered by type
    _write(
        spark, tmp_path, "lineitem",
        [
            (1, 1, 10, 20.0, 10.0),
            (2, 1, 20, 10.0, 5.0),
            (3, 1, 30, 1.0, 1.0),
            (4, 2, 10, 999.0, 1.0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_extendedprice double, l_quantity double",
    )
    rows = sorted(
        (r["s_name"], r["p_partkey"], r["cost"])
        for r in q_min_cost_supplier(spark, str(tmp_path)).collect()
    )
    assert rows == [("A", 1, 2.0), ("B", 1, 2.0)]
