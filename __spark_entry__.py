"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship TPC-H Q1-shaped query on sf0.001.
``queries()``      — one (spark, sf_dir) -> DataFrame per implemented
                     operator group from SURVEY.md §2 + the LLM-pipeline
                     extras (dedup / similarity / text / events).
``oracle_sql()``   — DuckDB-equivalent ANSI SQL for every query above
                     (same column names; aggregates rounded identically
                     on both sides so the order-insensitive value hash
                     matches bit-for-bit).

Determinism rules used throughout:
- every LIMIT/top-k query fully determines its order (unique tie-break);
- float aggregates are rounded to 6 decimals on BOTH engines;
- timestamps in the testdata are TIMESTAMP_NTZ on the Spark side and
  naive TIMESTAMP in DuckDB — wall-clock identical, timezone-free;
- all hashing (dedup/LSH/simhash) is md5-based so DuckDB reproduces the
  exact buckets.
"""

from __future__ import annotations

import atexit
import datetime as dt
import os
import shutil
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

import pydiverse_transform_spark as pdt  # noqa: E402
from pydiverse_transform_spark import C  # noqa: E402
# base-table reads memoize the inferred schema per (application, path)
# — skips the repeated ~0.2 s parquet schema-inference job (r14);
# metadata-only, fingerprint-invalidated, every frame recomputes data
from pydiverse_transform_spark.sources import (  # noqa: E402
    spark_read_parquet as _rp,
)

_QUERIES: dict[str, Callable] = {}
_ORACLE: dict[str, str] = {}


def _q(sql: str | None):
    def deco(fn):
        _QUERIES[fn.__name__] = fn
        if sql is not None:
            _ORACLE[fn.__name__] = sql
        return fn

    return deco


# Root of the files the queries below stage, one per process: two
# registry runs in one checkout (both ANSI modes at once) would otherwise
# overwrite each other's tables mid-query.  Fixed at import, removed at
# exit (by the importing process only: a forked child inherits the hook).
_SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".tmp_stream", f"p{os.getpid()}")


def _scratch(name: str) -> str:
    return os.path.join(_SCRATCH_ROOT, name)


@atexit.register
def _drop_scratch(pid: int = os.getpid()) -> None:
    if os.getpid() == pid:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


def _t(spark: SparkSession, sf_dir: str, name: str) -> "pdt.Table":
    return pdt.read_parquet(spark, f"{sf_dir}/{name}.parquet", name=name)


# =============================================================================
# TPC-H-shaped relational queries (verbs: filter/group_by/summarize/arrange/
# join/mutate/select/...)
# =============================================================================

@_q("""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6)                                AS sum_qty,
       round(sum(l_extendedprice), 6)                           AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6)        AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6)
                                                                AS sum_charge,
       round(avg(l_quantity), 6)                                AS avg_qty,
       round(avg(l_extendedprice), 6)                           AS avg_price,
       round(avg(l_discount), 6)                                AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.filter(li.l_shipdate <= pdt.lit(dt.datetime(1998, 9, 2)))
        >> pdt.group_by(li.l_returnflag, li.l_linestatus)
        >> pdt.summarize(
            sum_qty=li.l_quantity.sum().round(6),
            sum_base_price=li.l_extendedprice.sum().round(6),
            sum_disc_price=(li.l_extendedprice * (1 - li.l_discount))
            .sum().round(6),
            sum_charge=(
                li.l_extendedprice * (1 - li.l_discount) * (1 + li.l_tax)
            ).sum().round(6),
            avg_qty=li.l_quantity.mean().round(6),
            avg_price=li.l_extendedprice.mean().round(6),
            avg_disc=li.l_discount.mean().round(6),
            count_order=pdt.count(),
        )
        >> pdt.arrange(C.l_returnflag, C.l_linestatus)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def q03_shipping_priority(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = pdt.lit(dt.datetime(1998, 3, 15))
    return (
        cu
        >> pdt.filter(cu.c_mktsegment == pdt.lit("BUILDING"))
        >> pdt.inner_join(o, on=cu.c_custkey == o.o_custkey)
        >> pdt.filter(o.o_orderdate < cutoff)
        >> pdt.inner_join(li, on=o.o_orderkey == li.l_orderkey)
        >> pdt.filter(li.l_shipdate > cutoff)
        >> pdt.group_by(o.o_orderkey, o.o_orderdate)
        >> pdt.summarize(
            revenue=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6)
        )
        >> pdt.select(o.o_orderkey, C.revenue, o.o_orderdate)
        >> pdt.arrange(C.revenue.descending(), C.o_orderkey)
        >> pdt.slice_head(10)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*) AS n_items
FROM region JOIN nation   ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey   = c_custkey
            JOIN lineitem ON l_orderkey  = o_orderkey
            JOIN supplier ON l_suppkey   = s_suppkey
                          AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
""")
def q05_local_supplier(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        r
        >> pdt.filter(r.r_name == pdt.lit("ASIA"))
        >> pdt.inner_join(n, on=n.n_regionkey == r.r_regionkey)
        >> pdt.inner_join(cu, on=cu.c_nationkey == n.n_nationkey)
        >> pdt.inner_join(o, on=o.o_custkey == cu.c_custkey)
        >> pdt.filter(
            o.o_orderdate >= pdt.lit(dt.datetime(1996, 1, 1)),
            o.o_orderdate < pdt.lit(dt.datetime(1998, 1, 1)),
        )
        >> pdt.inner_join(li, on=li.l_orderkey == o.o_orderkey)
        >> pdt.inner_join(
            s,
            on=[li.l_suppkey == s.s_suppkey, s.s_nationkey == cu.c_nationkey],
        )
        >> pdt.group_by(n.n_name)
        >> pdt.summarize(
            revenue=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6),
            n_items=pdt.count(),
        )
        >> pdt.arrange(C.revenue.descending())
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q04_order_priority(spark, sf_dir):
    """EXISTS as a true semi-join (LeftSemi with a theta residual): no
    row multiplication, so the join+distinct workaround — and its extra
    dedup shuffle — disappears."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o
        >> pdt.filter(
            o.o_orderdate >= pdt.lit(dt.datetime(1997, 1, 1)),
            o.o_orderdate < pdt.lit(dt.datetime(1997, 10, 1)),
        )
        >> pdt.semi_join(
            li,
            on=[li.l_orderkey == o.o_orderkey, li.l_shipdate > o.o_orderdate],
        )
        >> pdt.group_by(o.o_orderpriority)
        >> pdt.summarize(order_count=pdt.count())
        >> pdt.arrange(C.o_orderpriority)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""")
def q06_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan + predicate + global aggregate.  The whole
    thing pushes to a single parquet scan with every filter in
    PushedFilters — the 100-TB shape is one map stage plus a
    2-row-per-partition final reduce."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.filter(
            li.l_shipdate >= pdt.lit(dt.datetime(1997, 1, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1998, 1, 1)),
            li.l_discount >= 0.05,
            li.l_discount <= 0.07,
            li.l_quantity < 24,
        )
        >> pdt.summarize(
            revenue=(li.l_extendedprice * li.l_discount).sum().round(6)
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 6) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier JOIN lineitem ON s_suppkey  = l_suppkey
                JOIN orders   ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey  = o_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def q07_volume_shipping(spark, sf_dir):
    """TPC-H Q7: nation joined twice (alias = UUID reset), OR across the
    two join branches, extracted-year grouping.  Both nation joins are
    25-row broadcasts; the OR filter runs post-join JVM-side."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation") >> pdt.alias("n1")
    n2 = _t(spark, sf_dir, "nation") >> pdt.alias("n2")
    pair = ((n1.n_name == pdt.lit("NATION_1"))
            & (n2.n_name == pdt.lit("NATION_2"))) | (
           (n1.n_name == pdt.lit("NATION_2"))
            & (n2.n_name == pdt.lit("NATION_1")))
    return (
        s
        >> pdt.inner_join(li, on=s.s_suppkey == li.l_suppkey)
        >> pdt.filter(
            li.l_shipdate >= pdt.lit(dt.datetime(1996, 1, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1998, 1, 1)),
        )
        >> pdt.inner_join(o, on=o.o_orderkey == li.l_orderkey)
        >> pdt.inner_join(cu, on=cu.c_custkey == o.o_custkey)
        >> pdt.inner_join(n1, on=s.s_nationkey == n1.n_nationkey)
        >> pdt.inner_join(n2, on=cu.c_nationkey == n2.n_nationkey)
        >> pdt.filter(pair)
        >> pdt.mutate(
            supp_nation=n1.n_name,
            cust_nation=n2.n_name,
            l_year=li.l_shipdate.dt.year(),
            volume=li.l_extendedprice * (1 - li.l_discount),
        )
        >> pdt.group_by(C.supp_nation, C.cust_nation, C.l_year)
        >> pdt.summarize(revenue=C.volume.sum().round(6))
        >> pdt.arrange(C.supp_nation, C.cust_nation, C.l_year)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part JOIN lineitem  ON p_partkey  = l_partkey
            JOIN supplier  ON s_suppkey  = l_suppkey
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey  = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region    ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
    AND p_type = 'ECONOMY'
)
GROUP BY o_year
ORDER BY o_year
""")
def q08_market_share(spark, sf_dir):
    """TPC-H Q8: 8-table join (nation twice), conditional-sum ratio.
    part/supplier/nation/region broadcast; lineitem⋈orders⋈customer are
    the only shuffle exchanges."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation") >> pdt.alias("n1")
    n2 = _t(spark, sf_dir, "nation") >> pdt.alias("n2")
    r = _t(spark, sf_dir, "region")
    return (
        p
        >> pdt.filter(p.p_type == pdt.lit("ECONOMY"))
        >> pdt.inner_join(li, on=p.p_partkey == li.l_partkey)
        >> pdt.inner_join(s, on=s.s_suppkey == li.l_suppkey)
        >> pdt.inner_join(o, on=li.l_orderkey == o.o_orderkey)
        >> pdt.filter(
            o.o_orderdate >= pdt.lit(dt.datetime(1996, 1, 1)),
            o.o_orderdate < pdt.lit(dt.datetime(1998, 1, 1)),
        )
        >> pdt.inner_join(cu, on=o.o_custkey == cu.c_custkey)
        >> pdt.inner_join(n1, on=cu.c_nationkey == n1.n_nationkey)
        >> pdt.inner_join(r, on=n1.n_regionkey == r.r_regionkey)
        >> pdt.filter(r.r_name == pdt.lit("AMERICA"))
        >> pdt.inner_join(n2, on=s.s_nationkey == n2.n_nationkey)
        >> pdt.mutate(
            o_year=o.o_orderdate.dt.year(),
            volume=li.l_extendedprice * (1 - li.l_discount),
        )
        >> pdt.group_by(C.o_year)
        >> pdt.summarize(
            mkt_share=(
                pdt.when(n2.n_name == pdt.lit("NATION_3"))
                .then(C.volume).otherwise(0.0).sum()
                / C.volume.sum()
            ).round(6)
        )
        >> pdt.arrange(C.o_year)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders   ON c_custkey  = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: 4-table join, grouped top-20 by revenue (deterministic:
    c_custkey tie-break).  LIMIT compiles to TakeOrderedAndProject — no
    global sort materializes."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        cu
        >> pdt.inner_join(o, on=cu.c_custkey == o.o_custkey)
        >> pdt.filter(
            o.o_orderdate >= pdt.lit(dt.datetime(1996, 7, 1)),
            o.o_orderdate < pdt.lit(dt.datetime(1996, 10, 1)),
        )
        >> pdt.inner_join(li, on=li.l_orderkey == o.o_orderkey)
        >> pdt.filter(li.l_returnflag == pdt.lit("R"))
        >> pdt.inner_join(n, on=cu.c_nationkey == n.n_nationkey)
        >> pdt.group_by(cu.c_custkey, cu.c_name, cu.c_acctbal, n.n_name)
        >> pdt.summarize(
            revenue=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6)
        )
        >> pdt.select(cu.c_custkey, cu.c_name, C.revenue, cu.c_acctbal,
                      n.n_name)
        >> pdt.arrange(C.revenue.descending(), C.c_custkey)
        >> pdt.slice_head(20)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13, pre-aggregated shape (r8 verdict #7): orders collapse
    to per-customer counts BEFORE the join, so the join input shrinks
    from |orders| rows to |custkeys-with-orders| and the customer side
    shuffles against an already-aggregated build side — measured ~0.8x
    of the join-then-aggregate shape at sf0.1/sf1, and the shuffle
    volume ratio only improves with orders-per-customer at 100 TB.
    Equivalent to the classic left join + count(col): a customer with
    no qualifying orders gets a null count from the left join, mapped
    to 0 by coalesce — exactly count()'s empty-group value.  The oracle
    keeps TPC-H's original join-then-aggregate SQL, pinning the
    equivalence."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    o_cnt = (
        o
        >> pdt.filter(o.o_orderpriority != pdt.lit("1-URGENT"))
        >> pdt.group_by(o.o_custkey)
        >> pdt.summarize(n=o.o_orderkey.count())
    )
    per_cust = (
        cu
        >> pdt.left_join(o_cnt, on=cu.c_custkey == o_cnt.o_custkey)
        >> pdt.mutate(c_count=pdt.coalesce(o_cnt.n, pdt.lit(0)))
    )
    return (
        per_cust
        >> pdt.group_by(per_cust.c_count)
        >> pdt.summarize(custdist=pdt.count())
        >> pdt.arrange(C.custdist.descending(), C.c_count.descending())
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""")
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14: conditional aggregation ratio over a broadcast join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc = li.l_extendedprice * (1 - li.l_discount)
    return (
        li
        >> pdt.filter(
            li.l_shipdate >= pdt.lit(dt.datetime(1997, 9, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1997, 10, 1)),
        )
        >> pdt.inner_join(p, on=li.l_partkey == p.p_partkey)
        >> pdt.summarize(
            promo_revenue=(
                100.0
                * pdt.when(p.p_type == pdt.lit("PROMO"))
                .then(disc).otherwise(0.0).sum()
                / disc.sum()
            ).round(6)
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""")
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: scalar subquery (max over derived table) expressed as
    an unpartitioned window max over the aggregate — one extra exchange
    of the already-aggregated (tiny) revenue table, never of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        li
        >> pdt.filter(
            li.l_shipdate >= pdt.lit(dt.datetime(1997, 1, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1997, 4, 1)),
        )
        >> pdt.group_by(li.l_suppkey)
        >> pdt.summarize(
            total_revenue=(li.l_extendedprice * (1 - li.l_discount))
            .sum().round(6)
        )
        >> pdt.mutate(max_rev=C.total_revenue.max())
        >> pdt.filter(C.total_revenue == C.max_rev)
    )
    return (
        s
        >> pdt.inner_join(revenue, on=s.s_suppkey == revenue.l_suppkey)
        >> pdt.select(s.s_suppkey, s.s_name, revenue.total_revenue)
        >> pdt.arrange(C.s_suppkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly
FROM (
  SELECT l_extendedprice, l_quantity,
         avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#23'
)
WHERE l_quantity < 0.2 * avg_qty
""")
def q17_small_quantity(spark, sf_dir):
    """TPC-H Q17: correlated scalar subquery (per-part avg quantity)
    re-expressed as a window aggregate over the join — one pass instead
    of a re-scan of lineitem, the idiomatic Spark decorrelation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li
        >> pdt.inner_join(p, on=p.p_partkey == li.l_partkey)
        >> pdt.filter(p.p_brand == pdt.lit("Brand#23"))
        >> pdt.mutate(avg_qty=li.l_quantity.mean(partition_by=li.l_partkey))
        >> pdt.filter(li.l_quantity < 0.2 * C.avg_qty)
        >> pdt.summarize(
            avg_yearly=(li.l_extendedprice.sum() / 7.0).round(6)
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 6) AS sum_qty
FROM customer JOIN orders   ON c_custkey  = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""")
def q18_large_volume(spark, sf_dir):
    """TPC-H Q18: IN-subquery with HAVING expressed as a semi-join
    against the aggregated key set (aggregate → filter → join), the
    standard Spark decorrelation."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li
        >> pdt.group_by(li.l_orderkey)
        >> pdt.summarize(qty=li.l_quantity.sum())
        >> pdt.filter(C.qty > 300)
        >> pdt.select(li.l_orderkey)
    )
    li2 = _t(spark, sf_dir, "lineitem") >> pdt.alias("li2")
    return (
        big
        >> pdt.inner_join(o, on=big.l_orderkey == o.o_orderkey)
        >> pdt.inner_join(cu, on=o.o_custkey == cu.c_custkey)
        >> pdt.inner_join(li2, on=li2.l_orderkey == o.o_orderkey)
        >> pdt.group_by(cu.c_name, cu.c_custkey, o.o_orderkey,
                        o.o_orderdate, o.o_totalprice)
        >> pdt.summarize(sum_qty=li2.l_quantity.sum().round(6))
        >> pdt.select(cu.c_name, cu.c_custkey, o.o_orderkey, o.o_orderdate,
                      o.o_totalprice, C.sum_qty)
        >> pdt.arrange(C.o_totalprice.descending(), C.o_orderkey)
        >> pdt.slice_head(100)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""")
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19: disjunction of conjunctive range predicates spanning
    both join sides — Catalyst splits the common p_partkey equi-key out
    and keeps the OR as a residual join condition."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    arm = (
        lambda brand, smax, qlo, qhi:
        (p.p_brand == pdt.lit(brand))
        & (p.p_size >= 1) & (p.p_size <= smax)
        & (li.l_quantity >= qlo) & (li.l_quantity <= qhi)
    )
    return (
        li
        >> pdt.inner_join(p, on=p.p_partkey == li.l_partkey)
        >> pdt.filter(
            arm("Brand#12", 5, 1, 11)
            | arm("Brand#23", 10, 10, 20)
            | arm("Brand#24", 15, 20, 30)
        )
        >> pdt.summarize(
            revenue=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6)
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 6) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2001-01-01'
  )
GROUP BY n_name
ORDER BY n_name
""")
def q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 (adapted to the trimmed schema: nation instead of phone
    country code): scalar subquery via unpartitioned window mean +
    NOT EXISTS via left-anti pattern (left join on the filtered order
    keys, keep is_null)."""
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    recent = (
        o
        >> pdt.filter(o.o_orderdate >= pdt.lit(dt.datetime(2001, 1, 1)))
        >> pdt.select(o.o_custkey)
    )
    return (
        cu
        >> pdt.mutate(
            avg_bal=pdt.when(cu.c_acctbal > 0.0).then(cu.c_acctbal)
            .otherwise(pdt.lit(None, pdt.Float64())).mean()
        )
        >> pdt.filter(cu.c_acctbal > C.avg_bal)
        >> pdt.anti_join(recent, on=cu.c_custkey == recent.o_custkey)
        >> pdt.inner_join(n, on=cu.c_nationkey == n.n_nationkey)
        >> pdt.group_by(n.n_name)
        >> pdt.summarize(
            numcust=pdt.count(),
            totacctbal=cu.c_acctbal.sum().round(6),
        )
        >> pdt.arrange(C.n_name)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       round(l_extendedprice / l_quantity, 6) AS unit_price
FROM (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         l_extendedprice, l_quantity,
         min(l_extendedprice / l_quantity)
           OVER (PARTITION BY p_partkey) AS min_price
  FROM part JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_size >= 40 AND p_type = 'STANDARD'
)
WHERE l_extendedprice / l_quantity = min_price
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def q02_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adapted to the trimmed schema (no partsupp): the
    correlated `= (SELECT min(..))` subquery becomes a window min over
    p_partkey — single pass, no re-scan (same decorrelation as Q17).
    The LIMIT order is fully deterministic: rows tying on the whole sort
    key are bit-identical in every output column (p_partkey determines
    p_brand and min unit price)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    unit = li.l_extendedprice / li.l_quantity
    return (
        p
        >> pdt.filter(p.p_size >= 40, p.p_type == pdt.lit("STANDARD"))
        >> pdt.inner_join(li, on=p.p_partkey == li.l_partkey)
        >> pdt.inner_join(s, on=s.s_suppkey == li.l_suppkey)
        >> pdt.inner_join(n, on=s.s_nationkey == n.n_nationkey)
        >> pdt.mutate(min_price=unit.min(partition_by=p.p_partkey))
        >> pdt.filter(unit == C.min_price)
        >> pdt.mutate(unit_price=unit.round(6))
        >> pdt.select(s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
                      p.p_brand, C.unit_price)
        >> pdt.arrange(C.s_acctbal.descending(), C.n_name, C.s_name,
                       C.p_partkey)
        >> pdt.slice_head(100)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS profit
FROM lineitem JOIN supplier ON s_suppkey  = l_suppkey
              JOIN orders   ON o_orderkey = l_orderkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN part     ON p_partkey  = l_partkey
WHERE contains(p_name, 'red')
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
""")
def q09_product_profit(spark, sf_dir):
    """TPC-H Q9 adapted (no partsupp ⇒ profit = discounted revenue):
    5-table join with a substring filter on part pushed below the big
    joins; part/supplier/nation broadcast, lineitem⋈orders is the only
    large exchange."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    return (
        p
        >> pdt.filter(p.p_name.str.contains("red", allow_regex=False))
        >> pdt.inner_join(li, on=p.p_partkey == li.l_partkey)
        >> pdt.inner_join(s, on=s.s_suppkey == li.l_suppkey)
        >> pdt.inner_join(o, on=o.o_orderkey == li.l_orderkey)
        >> pdt.inner_join(n, on=s.s_nationkey == n.n_nationkey)
        >> pdt.mutate(nation=n.n_name, o_year=o.o_orderdate.dt.year())
        >> pdt.group_by(C.nation, C.o_year)
        >> pdt.summarize(
            profit=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6)
        )
        >> pdt.arrange(C.nation, C.o_year.descending())
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH val AS (
  SELECT l_partkey,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS value
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  WHERE s_nationkey = 7
  GROUP BY l_partkey
)
SELECT l_partkey, value FROM val
WHERE value > (SELECT sum(value) * 0.001 FROM val)
ORDER BY value DESC, l_partkey
""")
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 adapted: per-part value restricted to one nation's
    suppliers, kept when above a fraction of the total.  The scalar
    subquery is an unpartitioned window sum over the already-aggregated
    (small) value table — lineitem is scanned exactly once."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li
        >> pdt.inner_join(s, on=s.s_suppkey == li.l_suppkey)
        >> pdt.filter(s.s_nationkey == 7)
        >> pdt.group_by(li.l_partkey)
        >> pdt.summarize(
            value=(li.l_extendedprice * (1 - li.l_discount)).sum().round(6)
        )
        >> pdt.mutate(threshold=C.value.sum() * 0.001)
        >> pdt.filter(C.value > C.threshold)
        >> pdt.select(li.l_partkey, C.value)
        >> pdt.arrange(C.value.descending(), C.l_partkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""")
def q12_late_shipments(spark, sf_dir):
    """TPC-H Q12 adapted (no shipmode/commitdate): lines shipped ≥60
    days after order placement, split into high/low-priority counts via
    conditional sums.  The ship-vs-order-date predicate is a cross-table
    comparison evaluated post-join, JVM-side."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    is_high = o.o_orderpriority.is_in(pdt.lit("1-URGENT"), pdt.lit("2-HIGH"))
    return (
        o
        >> pdt.inner_join(li, on=o.o_orderkey == li.l_orderkey)
        >> pdt.filter(
            li.l_shipdate >= o.o_orderdate + pdt.lit(dt.timedelta(days=60)),
            li.l_shipdate >= pdt.lit(dt.datetime(1996, 1, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1997, 1, 1)),
        )
        >> pdt.group_by(li.l_linestatus)
        >> pdt.summarize(
            high_line_count=pdt.when(is_high).then(1).otherwise(0).sum(),
            low_line_count=pdt.when(is_high).then(0).otherwise(1).sum(),
        )
        >> pdt.arrange(C.l_linestatus)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 adapted: distinct-supplier counts per part attribute,
    excluding an unwanted supplier set.  NOT IN becomes a left join on
    the (tiny, broadcast) exclusion keys + IS NULL filter; the count is
    n_distinct after the hash-agg shuffle on the part attributes."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    bad = (
        s
        >> pdt.filter(s.s_acctbal < 0.0)
        >> pdt.select(s.s_suppkey)
    )
    return (
        p
        >> pdt.filter(
            p.p_brand != pdt.lit("Brand#45"),
            p.p_type != pdt.lit("MEDIUM"),
            p.p_size.is_in(1, 4, 9, 14, 23, 36, 45, 49),
        )
        >> pdt.inner_join(li, on=p.p_partkey == li.l_partkey)
        >> pdt.anti_join(bad, on=li.l_suppkey == bad.s_suppkey)
        >> pdt.group_by(p.p_brand, p.p_type, p.p_size)
        >> pdt.summarize(supplier_cnt=li.l_suppkey.n_distinct())
        >> pdt.arrange(C.supplier_cnt.descending(), C.p_brand, C.p_type,
                       C.p_size)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT s_name, round(s_acctbal, 6) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE contains(p_name, 'blue')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
  )
ORDER BY s_name
""")
def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 adapted: IN over an aggregated-and-filtered key set —
    semi-join via inner join against the (distinct-by-construction)
    grouped keys, the standard Spark decorrelation (same as Q18)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    heavy = (
        li
        >> pdt.inner_join(p, on=p.p_partkey == li.l_partkey)
        >> pdt.filter(
            p.p_name.str.contains("blue", allow_regex=False),
            li.l_shipdate >= pdt.lit(dt.datetime(1997, 1, 1)),
            li.l_shipdate < pdt.lit(dt.datetime(1998, 1, 1)),
        )
        >> pdt.group_by(li.l_suppkey)
        >> pdt.summarize(qty=li.l_quantity.sum())
        >> pdt.filter(C.qty > 100)
        >> pdt.select(li.l_suppkey)
    )
    return (
        s
        >> pdt.inner_join(n, on=s.s_nationkey == n.n_nationkey)
        >> pdt.filter(n.n_name == pdt.lit("NATION_5"))
        >> pdt.inner_join(heavy, on=s.s_suppkey == heavy.l_suppkey)
        >> pdt.mutate(s_acctbal=s.s_acctbal.round(6))
        >> pdt.select(s.s_name, C.s_acctbal)
        >> pdt.arrange(C.s_name)
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH late AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 30 DAY AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM late GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM late JOIN per_order USING (l_orderkey)
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
WHERE is_late AND n_supp >= 2 AND n_late_supp = 1 AND n_name = 'NATION_3'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""")
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 adapted (late = shipped >30 days after order date):
    the EXISTS / NOT EXISTS pair over correlated lineitem self-scans is
    decorrelated into per-order DISTINCT-count window aggregates —
    n_supp ≥ 2 replaces EXISTS(other supplier), n_late_supp = 1 replaces
    NOT EXISTS(other late supplier) given the current row is late.
    lineitem is scanned ONCE (no self-join): the distinct counts are
    size(collect_set) over a window on l_orderkey, a single shuffle.
    The filtered-distinct count uses the `filter=` aggregation kwarg."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li
        >> pdt.inner_join(o, on=o.o_orderkey == li.l_orderkey)
        >> pdt.filter(o.o_orderstatus == pdt.lit("F"))
        >> pdt.mutate(
            is_late=li.l_shipdate
            > o.o_orderdate + pdt.lit(dt.timedelta(days=30))
        )
        >> pdt.group_by(li.l_orderkey)
        >> pdt.mutate(
            n_supp=li.l_suppkey.n_distinct(),
            n_late_supp=li.l_suppkey.n_distinct(filter=C.is_late),
        )
        >> pdt.ungroup()
        >> pdt.filter(C.is_late, C.n_supp >= 2, C.n_late_supp == 1)
        >> pdt.inner_join(s, on=li.l_suppkey == s.s_suppkey)
        >> pdt.inner_join(n, on=s.s_nationkey == n.n_nationkey)
        >> pdt.filter(n.n_name == pdt.lit("NATION_3"))
        >> pdt.group_by(s.s_name)
        >> pdt.summarize(numwait=pdt.count())
        >> pdt.arrange(C.numwait.descending(), C.s_name)
        >> pdt.slice_head(100)
        >> pdt.export(pdt.Spark)
    )


# =============================================================================
# verb-focused queries
# =============================================================================

@_q("""
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 6)
         AS s_F,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 6)
         AS s_O,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 6)
         AS s_P,
       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
         AS n_F
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q_pivot_wider(spark, sf_dir):
    """Long→wide reshape: one conditional hash-aggregate, single
    shuffle regardless of pivot width (operators/verbs.py pivot_wider;
    no reference analog — dplyr/polars-style extension verb)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o
        >> pdt.group_by(o.o_orderpriority)
        >> pdt.pivot_wider(
            names_from=o.o_orderstatus, values_from=o.o_totalprice,
            values=["F", "O", "P"], agg="sum", name_fmt="s_{}",
        )
    )
    cnt = (
        o
        >> pdt.group_by(o.o_orderpriority)
        >> pdt.pivot_wider(
            names_from=o.o_orderstatus, values_from=o.o_totalprice,
            values=["F"], agg="count", name_fmt="n_{}",
        )
        >> pdt.alias("cnt")
    )
    return (
        wide
        >> pdt.inner_join(
            cnt, on=wide.o_orderpriority == cnt.o_orderpriority
        )
        >> pdt.mutate(
            s_F=wide.s_F.round(6), s_O=wide.s_O.round(6),
            s_P=wide.s_P.round(6),
        )
        >> pdt.select(wide.o_orderpriority, C.s_F, C.s_O, C.s_P, cnt.n_F)
        >> pdt.arrange(C.o_orderpriority)
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH wide AS (
  SELECT o_orderpriority,
         round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 6)
           AS s_F,
         round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 6)
           AS s_O,
         round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 6)
           AS s_P
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, status, total FROM (
  SELECT o_orderpriority, 's_F' AS status, s_F AS total FROM wide
  UNION ALL SELECT o_orderpriority, 's_O', s_O FROM wide
  UNION ALL SELECT o_orderpriority, 's_P', s_P FROM wide
)
ORDER BY o_orderpriority, status
""")
def q_pivot_longer(spark, sf_dir):
    """Wide→long round-trip: pivot_wider then pivot_longer — the melt
    is a map-side explode of an inline array<struct>, no shuffle
    (operators/verbs.py pivot_longer)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o
        >> pdt.group_by(o.o_orderpriority)
        >> pdt.pivot_wider(
            names_from=o.o_orderstatus, values_from=o.o_totalprice,
            values=["F", "O", "P"], agg="sum", name_fmt="s_{}",
        )
        >> pdt.mutate(
            s_F=C.s_F.round(6), s_O=C.s_O.round(6), s_P=C.s_P.round(6),
        )
    )
    return (
        wide
        >> pdt.pivot_longer(["s_F", "s_O", "s_P"], names_to="status",
                            values_to="total")
        >> pdt.arrange(C.o_orderpriority, C.status)
        >> pdt.export(pdt.Spark)
    )

@_q("""
SELECT p_partkey,
       p_brand AS brand,
       round(p_retailprice * 1.1, 6)  AS markup,
       p_size % 7                     AS size_mod,
       (p_size - 15) // 4             AS size_div,
       length(p_name)                 AS name_len
FROM part
WHERE p_size >= 10
""")
def q_mutate_project(spark, sf_dir):
    """mutate / rename / drop / select / floordiv-mod C semantics."""
    p = _t(spark, sf_dir, "part")
    return (
        p
        >> pdt.filter(p.p_size >= 10)
        >> pdt.mutate(
            markup=(p.p_retailprice * 1.1).round(6),
            size_mod=p.p_size % 7,
            size_div=(p.p_size - 15) // 4,
            name_len=p.p_name.str.len(),
        )
        >> pdt.rename({"p_brand": "brand"})
        >> pdt.drop(C.p_type, C.p_name, C.p_retailprice, C.p_size)
        >> pdt.select(p.p_partkey, C.brand, C.markup, C.size_mod, C.size_div,
                      C.name_len)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey,
       c_mktsegment IN ('BUILDING', 'AUTOMOBILE')           AS is_target_seg,
       CASE WHEN c_acctbal IS NULL THEN NULL
            ELSE greatest(least(c_acctbal, 5000.0), 0.0) END AS bal_clipped,
       coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER')  AS seg_filled,
       (c_acctbal > 1000.0 AND c_nationkey < 13)
         OR (c_acctbal < 0.0)                                AS flag_or,
       (c_acctbal > 1000.0) <> (c_nationkey < 13)            AS flag_xor,
       NOT (c_acctbal > 1000.0)                              AS flag_not,
       c_acctbal IS NULL                                     AS bal_is_null,
       c_acctbal IS NOT NULL                                 AS bal_not_null
FROM customer
""")
def q_filter_bool_ops(spark, sf_dir):
    """is_in / clip / fill_null / Kleene and-or-xor-invert / is_null."""
    cu = _t(spark, sf_dir, "customer")
    seg_null = pdt.when(cu.c_mktsegment == pdt.lit("MACHINERY")) \
        .then(pdt.lit(None)).otherwise(cu.c_mktsegment)
    return (
        cu
        >> pdt.mutate(
            is_target_seg=cu.c_mktsegment.is_in(
                pdt.lit("BUILDING"), pdt.lit("AUTOMOBILE")
            ),
            bal_clipped=cu.c_acctbal.clip(pdt.lit(0.0), pdt.lit(5000.0)),
            seg_filled=seg_null.fill_null(pdt.lit("OTHER")),
            flag_or=((cu.c_acctbal > 1000.0) & (cu.c_nationkey < 13))
            | (cu.c_acctbal < 0.0),
            flag_xor=(cu.c_acctbal > 1000.0) ^ (cu.c_nationkey < 13),
            flag_not=~(cu.c_acctbal > 1000.0),
            bal_is_null=cu.c_acctbal.is_null(),
            bal_not_null=cu.c_acctbal.is_not_null(),
        )
        >> pdt.select(cu.c_custkey, C.is_target_seg, C.bal_clipped,
                      C.seg_filled, C.flag_or, C.flag_xor, C.flag_not,
                      C.bal_is_null, C.bal_not_null)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_orderkey, l_linenumber,
       round(l_quantity + l_extendedprice, 6)        AS a_add,
       round(l_extendedprice - l_quantity, 6)        AS a_sub,
       round(l_quantity * l_discount, 6)             AS a_mul,
       round(l_extendedprice / l_quantity, 6)        AS a_div,
       (l_linenumber - 3) // 2                       AS a_fdiv,
       (l_linenumber - 3) % 2                        AS a_mod,
       round(pow(l_quantity, 2), 6)                  AS a_pow,
       abs(l_linenumber - 3)                         AS a_abs,
       -(l_linenumber)                               AS a_neg,
       +(l_linenumber)                               AS a_pos,
       round(l_extendedprice, 1)                     AS a_round1,
       floor(l_extendedprice)                        AS a_floor,
       ceil(l_extendedprice)                         AS a_ceil
FROM lineitem
WHERE l_orderkey <= 500
""")
def q_arithmetic(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.filter(li.l_orderkey <= 500)
        >> pdt.mutate(
            a_add=(li.l_quantity + li.l_extendedprice).round(6),
            a_sub=(li.l_extendedprice - li.l_quantity).round(6),
            a_mul=(li.l_quantity * li.l_discount).round(6),
            a_div=(li.l_extendedprice / li.l_quantity).round(6),
            a_fdiv=(li.l_linenumber - 3) // 2,
            a_mod=(li.l_linenumber - 3) % 2,
            a_pow=(li.l_quantity ** 2).round(6),
            a_abs=(li.l_linenumber - 3).abs(),
            a_neg=-(li.l_linenumber),
            a_pos=+(li.l_linenumber),
            a_round1=li.l_extendedprice.round(1),
            a_floor=li.l_extendedprice.floor(),
            a_ceil=li.l_extendedprice.ceil(),
        )
        >> pdt.select(li.l_orderkey, li.l_linenumber, C.a_add, C.a_sub,
                      C.a_mul, C.a_div, C.a_fdiv, C.a_mod, C.a_pow, C.a_abs,
                      C.a_neg, C.a_pos, C.a_round1, C.a_floor,
                      C.a_ceil)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT s_suppkey,
       round(exp(s_suppkey / 50.0), 6)       AS m_exp,
       round(ln(s_acctbal + 10000.0), 6)     AS m_log,
       round(log10(s_acctbal + 10000.0), 6)  AS m_log10,
       round(sqrt(abs(s_acctbal)), 6)        AS m_sqrt,
       round(cbrt(s_acctbal), 6)             AS m_cbrt,
       round(sin(s_suppkey), 6)              AS m_sin,
       round(cos(s_suppkey), 6)              AS m_cos,
       round(tan(s_suppkey), 6)              AS m_tan,
       round(asin((s_suppkey % 100) / 100.0), 6) AS m_asin,
       round(acos((s_suppkey % 100) / 100.0), 6) AS m_acos,
       round(atan(s_acctbal), 6)             AS m_atan,
       isinf(CASE WHEN s_suppkey % 3 = 0 THEN 'infinity'::DOUBLE
                  ELSE s_acctbal END)        AS m_isinf,
       NOT isinf(CASE WHEN s_suppkey % 3 = 0 THEN 'infinity'::DOUBLE
                      ELSE s_acctbal END)    AS m_isnotinf,
       isnan(CASE WHEN s_suppkey % 4 = 0 THEN 'nan'::DOUBLE
                  ELSE s_acctbal END)        AS m_isnan,
       NOT isnan(CASE WHEN s_suppkey % 4 = 0 THEN 'nan'::DOUBLE
                      ELSE s_acctbal END)    AS m_isnotnan
FROM supplier
""")
def q_math_fns(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    frac = (s.s_suppkey % 100) / 100.0
    maybe_inf = pdt.when(s.s_suppkey % 3 == 0) \
        .then(pdt.lit(float("inf"))).otherwise(s.s_acctbal)
    maybe_nan = pdt.when(s.s_suppkey % 4 == 0) \
        .then(pdt.lit(float("nan"))).otherwise(s.s_acctbal)
    return (
        s
        >> pdt.mutate(
            m_exp=(s.s_suppkey / 50.0).exp().round(6),
            m_log=(s.s_acctbal + 10000.0).log().round(6),
            m_log10=(s.s_acctbal + 10000.0).log10().round(6),
            m_sqrt=s.s_acctbal.abs().sqrt().round(6),
            m_cbrt=s.s_acctbal.cbrt().round(6),
            m_sin=s.s_suppkey.sin().round(6),
            m_cos=s.s_suppkey.cos().round(6),
            m_tan=s.s_suppkey.tan().round(6),
            m_asin=frac.asin().round(6),
            m_acos=frac.acos().round(6),
            m_atan=s.s_acctbal.atan().round(6),
            m_isinf=maybe_inf.is_inf(),
            m_isnotinf=maybe_inf.is_not_inf(),
            m_isnan=maybe_nan.is_nan(),
            m_isnotnan=maybe_nan.is_not_nan(),
        )
        >> pdt.select(s.s_suppkey, C.m_exp, C.m_log, C.m_log10, C.m_sqrt,
                      C.m_cbrt, C.m_sin, C.m_cos, C.m_tan, C.m_asin, C.m_acos,
                      C.m_atan, C.m_isinf, C.m_isnotinf, C.m_isnan,
                      C.m_isnotnan)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT p_partkey,
       upper(p_name)                            AS s_upper,
       lower(p_brand)                           AS s_lower,
       length(p_name)                           AS s_len,
       regexp_replace(p_name, '^\\s+|\\s+$', '', 'g') AS s_strip,
       replace(p_name, ' ', '_')                AS s_replaced,
       p_name LIKE 'a%'                         AS s_starts,
       p_name LIKE '%e'                         AS s_ends,
       regexp_matches(p_name, 'a.*e')           AS s_contains_re,
       contains(p_name, 'al')                   AS s_contains_lit,
       substr(p_name, 3, 5)                     AS s_slice,
       p_brand || '#' || p_type                 AS s_concat
FROM part
""")
def q_string_ops(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p
        >> pdt.mutate(
            s_upper=p.p_name.str.upper(),
            s_lower=p.p_brand.str.lower(),
            s_len=p.p_name.str.len(),
            s_strip=p.p_name.str.strip(),
            s_replaced=p.p_name.str.replace_all(" ", "_"),
            s_starts=p.p_name.str.starts_with(pdt.lit("a")),
            s_ends=p.p_name.str.ends_with(pdt.lit("e")),
            s_contains_re=p.p_name.str.contains("a.*e"),
            s_contains_lit=p.p_name.str.contains("al", allow_regex=False),
            s_slice=p.p_name.str.slice(pdt.lit(2), pdt.lit(5)),
            s_concat=p.p_brand + pdt.lit("#") + p.p_type,
        )
        >> pdt.select(p.p_partkey, C.s_upper, C.s_lower, C.s_len, C.s_strip,
                      C.s_replaced, C.s_starts, C.s_ends, C.s_contains_re,
                      C.s_contains_lit, C.s_slice, C.s_concat)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey,
       len(string_split(o_orderpriority, '-'))                     AS n_parts,
       string_split(o_orderpriority, '-')[1]                       AS part0,
       string_split(o_orderpriority, '-')[2]                       AS part1,
       list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS has_urgent,
       array_to_string(string_split(o_orderpriority, '-'), '/')    AS rejoined
FROM orders
""")
def q_split_list(spark, sf_dir):
    """str.split (literal separator) + element-wise list namespace ops
    (len / 0-based get / contains / join) — all JVM-side array functions."""
    o = _t(spark, sf_dir, "orders")
    parts = o.o_orderpriority.str.split("-")
    return (
        o
        >> pdt.mutate(
            n_parts=parts.list.len(),
            part0=parts.list.get(0),
            part1=parts.list.get(1),
            has_urgent=parts.list.contains("URGENT"),
            rejoined=parts.list.join("/"),
        )
        >> pdt.select(o.o_orderkey, C.n_parts, C.part0, C.part1,
                      C.has_urgent, C.rejoined)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       count(*)                                          AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def q_salted_join(spark, sf_dir):
    """Deterministic salted equi-join (skew toolkit): lineitem's orderkey
    spread over 8 salts, orders replicated 8x — must equal the plain
    join bit-for-bit."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.skew import salted_join

    li = _rp(spark, f"{sf_dir}/lineitem.parquet") \
        .withColumnRenamed("l_orderkey", "okey")
    orders = _rp(spark, f"{sf_dir}/orders.parquet") \
        .select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    j = salted_join(li, orders, on=["okey"], n_salt=8, how="inner",
                    skewed="left")
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_q("""
SELECT count(*) AS n, true AS in_range FROM orders
""")
def q_rand_bounds(spark, sf_dir):
    """pdt.rand() is nondeterministic by nature; the oracle checks the
    range invariant (every draw in [0, 1)) plus the row count."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.mutate(r=pdt.rand())
        >> pdt.summarize(
            n=pdt.count(),
            in_range=((C.r >= pdt.lit(0.0)) & (C.r < pdt.lit(1.0))).all(),
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey,
       year(o_orderdate)       AS d_year,
       month(o_orderdate)      AS d_month,
       day(o_orderdate)        AS d_day,
       isodow(o_orderdate)     AS d_dow,
       dayofyear(o_orderdate)  AS d_doy,
       CAST(o_orderdate AS VARCHAR)                        AS d_str,
       CAST(strptime('2001-07-16 12:30:45',
                     '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)    AS d_parsed,
       (epoch_us(o_orderdate)
          - epoch_us(TIMESTAMP '1995-01-01')) // 86400000000 AS d_days_since,
       (epoch_us(o_orderdate)
          - epoch_us(TIMESTAMP '1995-01-01')) // 3600000000  AS d_hours_since,
       o_orderdate + INTERVAL 36 HOUR                      AS d_plus_36h
FROM orders
WHERE o_orderkey <= 2000
""")
def q_datetime_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    since = o.o_orderdate - pdt.lit(dt.datetime(1995, 1, 1))
    return (
        o
        >> pdt.filter(o.o_orderkey <= 2000)
        >> pdt.mutate(
            d_year=o.o_orderdate.dt.year(),
            d_month=o.o_orderdate.dt.month(),
            d_day=o.o_orderdate.dt.day(),
            d_dow=o.o_orderdate.dt.day_of_week(),
            d_doy=o.o_orderdate.dt.day_of_year(),
            d_str=o.o_orderdate.cast(pdt.String()),
            d_parsed=pdt.lit("2001-07-16 12:30:45").str.to_datetime(),
            d_days_since=since.dur.days(),
            d_hours_since=since.dur.hours(),
            d_plus_36h=o.o_orderdate + pdt.lit(dt.timedelta(hours=36)),
        )
        >> pdt.select(o.o_orderkey, C.d_year, C.d_month, C.d_day, C.d_dow,
                      C.d_doy, C.d_str, C.d_parsed, C.d_days_since,
                      C.d_hours_since, C.d_plus_36h)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, o_custkey,
       row_number() OVER w                                   AS rn,
       rank() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderpriority)                AS rnk,
       dense_rank() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderpriority)          AS drnk,
       lag(o_totalprice) OVER w                              AS prev_price,
       lead(o_totalprice) OVER w                             AS next_price,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                                                             AS cum_spend,
       round(percent_rank() OVER w, 6)                       AS pr,
       ntile(4) OVER w                                       AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_window_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    key = [C.o_orderdate, C.o_orderkey]
    return (
        o
        >> pdt.group_by(o.o_custkey)
        >> pdt.mutate(
            rn=pdt.row_number(arrange=key),
            rnk=pdt.rank(arrange=[C.o_orderpriority]),
            drnk=pdt.dense_rank(arrange=[C.o_orderpriority]),
            prev_price=o.o_totalprice.shift(1, arrange=key),
            next_price=o.o_totalprice.shift(-1, arrange=key),
            cum_spend=o.o_totalprice.cum_sum(arrange=key).round(6),
            pr=pdt.percent_rank(arrange=key).round(6),
            quartile=pdt.ntile(4, arrange=key),
        )
        >> pdt.ungroup()
        >> pdt.select(o.o_orderkey, o.o_custkey, C.rn, C.rnk, C.drnk,
                      C.prev_price, C.next_price, C.cum_spend, C.pr,
                      C.quartile)
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH e AS (SELECT event_type, CAST(ts AS TIME) AS t FROM events)
SELECT event_type,
       epoch_us(MIN(t))                                      AS min_t,
       epoch_us(MAX(t))                                      AS max_t,
       CAST(MAX(t) AS VARCHAR)                               AS max_s,
       CAST(SUM(CASE WHEN t >= TIME '12:00:00'
                THEN 1 ELSE 0 END) AS BIGINT)                AS n_pm
FROM e
GROUP BY event_type
ORDER BY event_type
""")
def q_time_ops(spark, sf_dir):
    """The Time dtype end-to-end (r14; types.py Time, reference
    tree/types.py Time + ops/ops/comparison.py COMPARABLE): extract
    time-of-day from event timestamps via cast(Time()), compare
    against a datetime.time literal, aggregate min/max (COMPARABLE
    signatures), and round-trip the max through the String cast.
    The oracle runs DuckDB's NATIVE TIME type for every one of those
    steps — epoch_us exposes the same µs-since-midnight integers the
    engine uses physically, and the VARCHAR cast pins the text
    format."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev
        >> pdt.mutate(t=ev.ts.cast(pdt.Time()))
        >> pdt.group_by(ev.event_type)
        >> pdt.summarize(
            min_t=C.t.min(),
            max_t=C.t.max(),
            n_pm=(C.t >= dt.time(12, 0)).cast(pdt.Int64()).sum(),
        )
        >> pdt.mutate(max_s=C.max_t.cast(pdt.String()))
        >> pdt.select(C.event_type, C.min_t, C.max_t, C.max_s, C.n_pm)
        >> pdt.arrange(C.event_type)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_nationkey,
       round(sum(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS nation_total,
       round(c_acctbal / sum(c_acctbal) OVER (PARTITION BY c_nationkey), 6)
                                                                AS bal_share,
       count(*) OVER (PARTITION BY c_nationkey)                 AS nation_n,
       round(avg(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS nation_avg,
       round(min(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS nation_min,
       round(max(c_acctbal) OVER (PARTITION BY c_nationkey), 6) AS nation_max
FROM customer
""")
def q_agg_in_mutate(spark, sf_dir):
    """Aggregate-in-mutate auto-promotes to a window over the grouping."""
    cu = _t(spark, sf_dir, "customer")
    return (
        cu
        >> pdt.group_by(cu.c_nationkey)
        >> pdt.mutate(
            nation_total=cu.c_acctbal.sum().round(6),
            bal_share=(cu.c_acctbal / cu.c_acctbal.sum()).round(6),
            nation_n=pdt.count(),
            nation_avg=cu.c_acctbal.mean().round(6),
            nation_min=cu.c_acctbal.min().round(6),
            nation_max=cu.c_acctbal.max().round(6),
        )
        >> pdt.ungroup()
        >> pdt.select(cu.c_custkey, cu.c_nationkey, C.nation_total,
                      C.bal_share, C.nation_n, C.nation_avg, C.nation_min,
                      C.nation_max)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey,
       CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
            ELSE 0 END                                       AS seg_code,
       CASE WHEN c_acctbal > 5000.0 THEN 'high'
            WHEN c_acctbal > 0.0 THEN 'mid'
            ELSE 'low' END                                   AS tier,
       CAST(trunc(c_acctbal) AS BIGINT)                      AS bal_int,
       CAST(c_custkey AS VARCHAR)                            AS key_str,
       CAST(c_nationkey AS DOUBLE)                           AS nkey_f
FROM customer
""")
def q_case_map_cast(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    return (
        cu
        >> pdt.mutate(
            seg_code=cu.c_mktsegment.map(
                {"BUILDING": 1, "AUTOMOBILE": 2}, default=0
            ),
            tier=pdt.when(cu.c_acctbal > 5000.0).then(pdt.lit("high"))
            .when(cu.c_acctbal > 0.0).then(pdt.lit("mid"))
            .otherwise(pdt.lit("low")),
            bal_int=cu.c_acctbal.cast(pdt.Int64()),
            key_str=cu.c_custkey.cast(pdt.String()),
            nkey_f=cu.c_nationkey.cast(pdt.Float64()),
        )
        >> pdt.select(cu.c_custkey, C.seg_code, C.tier, C.bal_int, C.key_str,
                      C.nkey_f)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_name,
       round(coalesce(t.cust_total, 0.0), 6) AS total_filled,
       coalesce(t.n_orders, 0)               AS n_orders_filled,
       t.cust_total IS NULL                  AS no_orders
FROM customer LEFT JOIN (
    SELECT o_custkey, round(sum(o_totalprice), 6) AS cust_total,
           count(*) AS n_orders
    FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY o_custkey
) t ON c_custkey = t.o_custkey
""")
def q_left_join_fill(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    osum = (
        o
        >> pdt.filter(o.o_orderdate < pdt.lit(dt.datetime(1996, 1, 1)))
        >> pdt.group_by(o.o_custkey)
        >> pdt.summarize(
            cust_total=o.o_totalprice.sum().round(6),
            n_orders=pdt.count(),
        )
    )
    return (
        cu
        >> pdt.left_join(osum, on=cu.c_custkey == osum.o_custkey)
        >> pdt.mutate(
            total_filled=C.cust_total.fill_null(pdt.lit(0.0)),
            n_orders_filled=C.n_orders.fill_null(pdt.lit(0)),
            no_orders=C.cust_total.is_null(),
        )
        >> pdt.select(cu.c_custkey, cu.c_name, C.total_filled,
                      C.n_orders_filled, C.no_orders)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT a.o_orderpriority AS prio,
       a.n AS n_1995, b.n AS n_2000
FROM      (SELECT o_orderpriority, count(*) AS n FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01'
             AND o_orderdate < TIMESTAMP '1996-01-01'
           GROUP BY o_orderpriority) a
FULL JOIN (SELECT o_orderpriority, count(*) AS n FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01'
             AND o_orderdate < TIMESTAMP '2001-01-01'
           GROUP BY o_orderpriority) b
       ON a.o_orderpriority = b.o_orderpriority
""")
def q_full_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")

    def prio_counts(lo, hi):
        t = _t(spark, sf_dir, "orders")
        return (
            t
            >> pdt.filter(
                t.o_orderdate >= pdt.lit(lo), t.o_orderdate < pdt.lit(hi)
            )
            >> pdt.group_by(t.o_orderpriority)
            >> pdt.summarize(n=pdt.count())
        )

    a = prio_counts(dt.datetime(1995, 1, 1), dt.datetime(1996, 1, 1))
    b = prio_counts(dt.datetime(2000, 1, 1), dt.datetime(2001, 1, 1))
    return (
        a
        >> pdt.full_join(b, on=a.o_orderpriority == b.o_orderpriority,
                         suffix="_b")
        >> pdt.rename({"o_orderpriority": "prio", "n": "n_1995",
                       "n_b": "n_2000"})
        >> pdt.select(C.prio, C.n_1995, C.n_2000)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1998-01-01')
ORDER BY c_custkey
""")
def q_semi_join(spark, sf_dir):
    """semi_join extension verb — LeftSemi hash join, right columns
    never materialize (operators/verbs.py semi_join)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    recent = o >> pdt.filter(o.o_orderdate >= pdt.lit(dt.datetime(1998, 1, 1)))
    return (
        cu
        >> pdt.semi_join(recent, on=cu.c_custkey == recent.o_custkey)
        >> pdt.select(cu.c_custkey, cu.c_name)
        >> pdt.arrange(C.c_custkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1998-01-01')
ORDER BY c_custkey
""")
def q_anti_join(spark, sf_dir):
    """anti_join extension verb — LeftAnti, no null-flag column, row
    never widens (operators/verbs.py anti_join)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    recent = o >> pdt.filter(o.o_orderdate >= pdt.lit(dt.datetime(1998, 1, 1)))
    return (
        cu
        >> pdt.anti_join(recent, on=cu.c_custkey == recent.o_custkey)
        >> pdt.select(cu.c_custkey, cu.c_name)
        >> pdt.arrange(C.c_custkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS piece
FROM orders
ORDER BY o_orderkey, piece
""")
def q_unnest(spark, sf_dir):
    """unnest extension verb: list column → one row per element, a
    map-side generator with no shuffle (operators/verbs.py unnest)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.mutate(piece=o.o_orderpriority.str.split("-"))
        >> pdt.unnest(C.piece)
        >> pdt.select(o.o_orderkey, C.piece)
        >> pdt.arrange(C.o_orderkey, C.piece)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT a.r_name AS name_a, b.r_name AS name_b
FROM region a CROSS JOIN region b
WHERE a.r_regionkey <> b.r_regionkey
""")
def q_cross_join_alias(spark, sf_dir):
    """cross_join + alias (UUID reset enables the self-product)."""
    r = _t(spark, sf_dir, "region")
    r2 = r >> pdt.alias("r2")
    return (
        r
        >> pdt.cross_join(r2)
        >> pdt.filter(r.r_regionkey != r2.r_regionkey)
        >> pdt.mutate(name_a=r.r_name, name_b=r2.r_name)
        >> pdt.select(C.name_a, C.name_b)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, n1.n_regionkey AS rkey
FROM nation n1 JOIN nation n2
  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
""")
def q_self_join(spark, sf_dir):
    n1 = _t(spark, sf_dir, "nation")
    n2 = n1 >> pdt.alias("n2")
    return (
        n1
        >> pdt.inner_join(
            n2,
            on=[n1.n_regionkey == n2.n_regionkey,
                n1.n_nationkey < n2.n_nationkey],
        )
        >> pdt.mutate(nation_a=n1.n_name, nation_b=n2.n_name,
                      rkey=n1.n_regionkey)
        >> pdt.select(C.nation_a, C.nation_b, C.rkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0
UNION
SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9500.0
""")
def q_union_distinct(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    a = cu >> pdt.filter(cu.c_acctbal > 9000.0) >> pdt.select(
        cu.c_custkey, cu.c_acctbal
    )
    cu2 = _t(spark, sf_dir, "customer")
    b = cu2 >> pdt.filter(cu2.c_acctbal > 9500.0) >> pdt.select(
        cu2.c_custkey, cu2.c_acctbal
    )
    return a >> pdt.union(b, distinct=True) >> pdt.export(pdt.Spark)


@_q("""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")
def q_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.select(li.l_returnflag, li.l_linestatus)
        >> pdt.distinct()
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 5
""")
def q_slice_head(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.arrange(o.o_totalprice.descending(), o.o_orderkey)
        >> pdt.slice_head(15, offset=5)
        >> pdt.select(o.o_orderkey, o.o_totalprice)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_orderkey, l_linenumber,
       round(greatest(l_quantity, l_discount * 100, l_tax * 100), 6) AS h_max,
       round(least(l_quantity, l_discount * 100, l_tax * 100), 6)    AS h_min,
       round(l_quantity + l_discount + l_tax, 6)                     AS h_sum,
       (l_quantity > 25.0 OR l_discount > 0.05)                      AS h_any,
       (l_quantity > 25.0 AND l_discount > 0.05)                     AS h_all,
       coalesce(NULLIF(l_returnflag, 'N'), 'none')                   AS h_coal
FROM lineitem
WHERE l_orderkey <= 300
""")
def q_horizontal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rf_null = pdt.when(li.l_returnflag == pdt.lit("N")) \
        .then(pdt.lit(None)).otherwise(li.l_returnflag)
    return (
        li
        >> pdt.filter(li.l_orderkey <= 300)
        >> pdt.mutate(
            h_max=pdt.max(li.l_quantity, li.l_discount * 100,
                          li.l_tax * 100).round(6),
            h_min=pdt.min(li.l_quantity, li.l_discount * 100,
                          li.l_tax * 100).round(6),
            h_sum=pdt.sum(li.l_quantity, li.l_discount, li.l_tax).round(6),
            h_any=pdt.any(li.l_quantity > 25.0, li.l_discount > 0.05),
            h_all=pdt.all(li.l_quantity > 25.0, li.l_discount > 0.05),
            h_coal=pdt.coalesce(rf_null, pdt.lit("none")),
        )
        >> pdt.select(li.l_orderkey, li.l_linenumber, C.h_max, C.h_min,
                      C.h_sum, C.h_any, C.h_all, C.h_coal)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_returnflag,
       round(var_samp(l_quantity), 4)    AS v_var,
       round(stddev_samp(l_quantity), 4) AS v_std,
       round(median(l_quantity), 6)      AS v_median,
       count(DISTINCT l_suppkey)         AS v_ndist,
       bool_or(l_discount > 0.08)        AS v_any,
       bool_and(l_quantity > 1.0)        AS v_all,
       min(l_shipdate)                   AS v_min_date,
       max(l_linestatus)                 AS v_max_str,
       count(l_orderkey)                 AS v_count_col,
       count(*)                          AS v_count_star,
       count(*) FILTER (WHERE l_quantity > 25.0)           AS v_count_filt,
       round(coalesce(cast(sum(cast(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_discount > 0.05) AS DOUBLE), 0.0), 6) AS v_sum_filt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")
def q_agg_extras(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.group_by(li.l_returnflag)
        >> pdt.summarize(
            v_var=li.l_quantity.var().round(4),
            v_std=li.l_quantity.std().round(4),
            v_median=li.l_quantity.median().round(6),
            v_ndist=li.l_suppkey.n_distinct(),
            v_any=(li.l_discount > 0.08).any(),
            v_all=(li.l_quantity > 1.0).all(),
            v_min_date=li.l_shipdate.min(),
            v_max_str=li.l_linestatus.max(),
            v_count_col=li.l_orderkey.count(),
            v_count_star=pdt.count(),
            v_count_filt=pdt.count(filter=li.l_quantity > 25.0),
            # sum as DECIMAL: exact and summation-order-independent, so the
            # 32-way partial agg hashes identically to any oracle engine
            # (a double sum differs by ~1e-6 after 30k additions)
            v_sum_filt=li.l_extendedprice.cast(pdt.Decimal(18, 2))
            .sum(filter=li.l_discount > 0.05).cast(pdt.Float64())
            .fill_null(pdt.lit(0.0)).round(6),
        )
        >> pdt.arrange(C.l_returnflag)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT c_nationkey,
       arg_min(c_name, c_custkey)                  AS first_name,
       arg_max(c_name, c_custkey)                  AS last_name,
       round(arg_max(c_acctbal, c_custkey), 6)     AS last_bal
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
""")
def q_arg_minmax(spark, sf_dir):
    """Value-at-extremum aggregates (min_by/max_by): one hash-agg, same
    single-shuffle shape as min/max.  The by-key (c_custkey) is unique,
    so ties cannot occur and both engines agree exactly."""
    cu = _t(spark, sf_dir, "customer")
    return (
        cu
        >> pdt.group_by(cu.c_nationkey)
        >> pdt.summarize(
            first_name=cu.c_name.arg_min(cu.c_custkey),
            last_name=cu.c_name.arg_max(cu.c_custkey),
            last_bal=cu.c_acctbal.arg_max(cu.c_custkey).round(6),
        )
        >> pdt.arrange(C.c_nationkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_custkey,
       first(o_totalprice ORDER BY o_orderdate, o_orderkey)
         AS first_total,
       last(o_orderpriority ORDER BY o_orderdate, o_orderkey)
         AS last_prio,
       first(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)
         AS biggest_order
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""")
def q_first_last(spark, sf_dir):
    """Ordered first/last aggregates — collect_list(struct)+array_sort,
    JVM-side, deterministic because the arrange key is made total with
    the unique o_orderkey tiebreak."""
    o = _t(spark, sf_dir, "orders")
    key = [C.o_orderdate, C.o_orderkey]
    return (
        o
        >> pdt.group_by(o.o_custkey)
        >> pdt.summarize(
            first_total=o.o_totalprice.first(arrange=key),
            last_prio=o.o_orderpriority.last(arrange=key),
            biggest_order=o.o_orderkey.first(
                arrange=[C.o_totalprice.descending(), C.o_orderkey]
            ),
        )
        >> pdt.arrange(C.o_custkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name)          AS names_asc,
       string_agg(n_name, '|' ORDER BY n_nationkey DESC) AS names_by_key_desc,
       count(*) AS n
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""")
def q_str_join_agg(spark, sf_dir):
    """Ordered string aggregation (collect_list+array_sort, JVM-side)."""
    n = _t(spark, sf_dir, "nation")
    return (
        n
        >> pdt.group_by(n.n_regionkey)
        >> pdt.summarize(
            names_asc=n.n_name.str.join(",", arrange=[C.n_name]),
            names_by_key_desc=n.n_name.str.join(
                "|", arrange=[C.n_nationkey.descending()]
            ),
            n=pdt.count(),
        )
        >> pdt.arrange(C.n_regionkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS exact_suppliers,
       true AS hll_within_10pct,
       true AS quantile_within_range
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")
def q_approx_sketches(spark, sf_dir):
    """HLL++ distinct-count and GK-quantile sketches.  The raw estimates
    differ per engine by design, so the oracle checks *invariants* that
    both engines agree on: the HLL estimate is within 10% of the exact
    distinct count (HLL++ default rsd is 5%) and the approximate median
    lies between the group's min and max.  The exact distinct count
    itself is hash-compared."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.group_by(li.l_returnflag)
        >> pdt.summarize(
            approx_suppliers=li.l_suppkey.approx_n_distinct(),
            approx_median_qty=li.l_quantity.approx_quantile(0.5),
            exact_suppliers=li.l_suppkey.n_distinct(),
            qty_min=li.l_quantity.min(),
            qty_max=li.l_quantity.max(),
        )
        >> pdt.mutate(
            hll_within_10pct=(
                (C.approx_suppliers - C.exact_suppliers).abs()
                <= 0.1 * C.exact_suppliers
            ),
            quantile_within_range=(C.approx_median_qty >= C.qty_min)
            & (C.approx_median_qty <= C.qty_max),
        )
        >> pdt.select(C.l_returnflag, C.exact_suppliers, C.hll_within_10pct,
                      C.quantile_within_range)
        >> pdt.arrange(C.l_returnflag)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_regionkey,
       len(keys) AS n_keys,
       keys[1] AS first_key,
       list_contains(keys, 0) AS has_zero,
       n
FROM (
  SELECT n_regionkey,
         list(n_nationkey ORDER BY n_nationkey) AS keys,
         count(*) AS n
  FROM nation GROUP BY n_regionkey
)
ORDER BY n_regionkey
""")
def q_list_agg(spark, sf_dir):
    """list.agg with ordered collection, reduced to scalar columns
    (len / first element / membership) so the driver's pandas
    canonicalizer never sorts a raw array column — the r3 failure mode
    (TypeError: unhashable type 'list').  Exercises list.agg +
    list.len/get/contains end-to-end with a full hash-checked oracle."""
    n = _t(spark, sf_dir, "nation")
    return (
        n
        >> pdt.group_by(n.n_regionkey)
        >> pdt.summarize(
            keys=n.n_nationkey.list.agg(arrange=[C.n_nationkey]),
            n=pdt.count(),
        )
        >> pdt.mutate(
            n_keys=C.keys.list.len(),
            first_key=C.keys.list.get(0),
            has_zero=C.keys.list.contains(0),
        )
        >> pdt.select(C.n_regionkey, C.n_keys, C.first_key, C.has_zero, C.n)
        >> pdt.arrange(C.n_regionkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_regionkey,
       array_to_string(list(n_nationkey ORDER BY n_nationkey), ',')
           AS keys_rendered,
       array_to_string(list(n_name ORDER BY n_nationkey DESC), '|')
           AS names_rendered,
       count(*) AS n
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""")
def q_list_agg_rendered(spark, sf_dir):
    """Ordered list.agg made hash-checkable: the collected arrays are
    rendered to delimiter-joined strings on both engines (the driver's
    value hash cannot compare raw array columns)."""
    n = _t(spark, sf_dir, "nation")
    return (
        n
        >> pdt.group_by(n.n_regionkey)
        >> pdt.summarize(
            keys=n.n_nationkey.cast(pdt.String()).list.agg(
                arrange=[C.n_nationkey]
            ),
            names=n.n_name.list.agg(
                arrange=[C.n_nationkey.descending()]
            ),
            n=pdt.count(),
        )
        >> pdt.mutate(
            keys_rendered=C.keys.list.join(","),
            names_rendered=C.names.list.join("|"),
        )
        >> pdt.select(C.n_regionkey, C.keys_rendered, C.names_rendered, C.n)
        >> pdt.arrange(C.n_regionkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, month_num, month_name FROM (
  SELECT o_orderkey,
         month(o_orderdate) AS month_num,
         CASE month(o_orderdate)
              WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar'
              WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun'
              WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep'
              WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' ELSE 'Dec' END
           AS month_name
  FROM orders WHERE o_orderkey <= 1000
)
""")
def q_map_month(spark, sf_dir):
    """col.map with a larger mapping (chained CASE)."""
    o = _t(spark, sf_dir, "orders")
    names = {1: "Jan", 2: "Feb", 3: "Mar", 4: "Apr", 5: "May", 6: "Jun",
             7: "Jul", 8: "Aug", 9: "Sep", 10: "Oct", 11: "Nov"}
    return (
        o
        >> pdt.filter(o.o_orderkey <= 1000)
        >> pdt.mutate(
            month_num=o.o_orderdate.dt.month(),
            month_name=o.o_orderdate.dt.month().map(names, default="Dec"),
        )
        >> pdt.select(o.o_orderkey, C.month_num, C.month_name)
        >> pdt.export(pdt.Spark)
    )


# =============================================================================
# LLM-pipeline extras: text analysis / dedup / similarity / events
# =============================================================================

@_q("""
SELECT t.doc_id, t.lang, t.n_chars, CAST(u.thr AS BIGINT) AS thr
FROM (SELECT doc_id, lang, n_chars FROM documents
      WHERE n_chars IS NOT NULL) t
JOIN (SELECT lang, quantile_disc(n_chars, 0.8) AS thr
      FROM documents WHERE n_chars IS NOT NULL GROUP BY lang) u
  ON t.lang = u.lang
WHERE t.n_chars >= u.thr
ORDER BY t.doc_id
""")
def q_quantile_filter(spark, sf_dir):
    """Percentile quality gate (extras/sampling.py filter_by_quantile,
    exact path): keep documents at or above the per-language 0.8
    DISCRETE length quantile — a value-threshold cut (ties at the
    threshold kept), identical on the exact and sketch paths.  The
    exact path's cume_dist threshold IS DuckDB's quantile_disc, so the
    oracle states the contract directly; the approximate
    sketch-threshold path for 100-TB corpora is pinned against this one
    in tests/test_sampling.py."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import sampling as sp

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = sp.filter_by_quantile(
        docs.select("doc_id", "lang", "n_chars"),
        "n_chars", 0.8, partition_by=["lang"], exact=True,
        keep_quantile_col=True,
    )
    return (
        out.select("doc_id", "lang", "n_chars",
                   F.col("__thr").cast("long").alias("thr"))
        .orderBy("doc_id")
    )

_TOKENS_SQL = (
    "string_split_regex(lower(regexp_replace({col}, '^\\s+|\\s+$', '', 'g')),"
    " '\\s+')"
)


def _stopword_count_sql(lang_words: list[str], toks="toks") -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return (f"len(list_filter({toks}, w -> w IN ({inlist})))")


@_q(None)  # filled in below (generated SQL)
def q_doc_stats(spark, sf_dir):
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = tx.doc_stats(docs, "text")
    return out.select("doc_id", "n_tokens", "n_chars_computed", "punct_ratio",
                      "stopword_ratio_en", "quality", "lang_pred", "fp")


def _doc_stats_sql() -> str:
    from pydiverse_transform_spark.extras.text import STOPWORDS

    sw = {lang: _stopword_count_sql(words, "ltoks")
          for lang, words in STOPWORDS.items()}
    # lang-id argmax with the exact tie-break loop of extras/text.py:lang_id
    best, best_n = "'und'", "CAST(-1 AS BIGINT)"
    for lang in sorted(STOPWORDS):
        c = f"c_{lang}"
        best = f"CASE WHEN {c} > {best_n} THEN '{lang}' ELSE {best} END"
        best_n = f"CASE WHEN {c} > {best_n} THEN {c} ELSE {best_n} END"
    toks = _TOKENS_SQL.format(col="text")
    return f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(len({toks}) AS BIGINT) END AS n_tokens,
         CAST(length(text) AS BIGINT)              AS n_chars_computed,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text,
                    '[[:punct:]]', '', 'g'))) * 1.0 / length(text) END
                                                   AS punct_raw,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[0-9]', '',
                    'g'))) * 1.0 / length(text) END AS digit_raw,
         md5(lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), tok AS (
  SELECT *, CASE WHEN n_tokens = 0 THEN CAST([] AS VARCHAR[])
                 ELSE {_TOKENS_SQL.format(col="lower(text)")} END AS ltoks
  FROM base
), counts AS (
  SELECT *, {sw['en']} AS c_en, {sw['de']} AS c_de, {sw['es']} AS c_es,
            {sw['fr']} AS c_fr
  FROM tok
), scored AS (
  SELECT *,
    CASE WHEN n_tokens = 0 THEN 0.0 ELSE c_en * 1.0 / n_tokens END AS sw_ratio,
    least(n_tokens / 64.0, 1.0)                     AS length_score,
    greatest(0.0, 1.0 - (punct_raw + digit_raw) * 2) AS noise_score
  FROM counts
)
SELECT doc_id, n_tokens, n_chars_computed,
       round(punct_raw, 6)  AS punct_ratio,
       round(sw_ratio, 6)   AS stopword_ratio_en,
       round(length_score * 0.4 + noise_score * 0.4
             + least(sw_ratio * 5, 1.0) * 0.2, 6) AS quality,
       CASE WHEN n_tokens = 0 THEN 'und' ELSE {best} END AS lang_pred,
       fp
FROM scored
"""


_ORACLE["q_doc_stats"] = _doc_stats_sql()


_CORPUS_TOKENS_SQL = f"""
  SELECT doc_id, unnest({_TOKENS_SQL.format(col='text')}) AS token
  FROM documents
"""


@_q(f"""
WITH toks AS ({_CORPUS_TOKENS_SQL}),
t2 AS (SELECT token FROM toks WHERE token <> ''),
counts AS (
  SELECT token, count(*) AS tf FROM t2
  GROUP BY token HAVING count(*) >= 2
)
SELECT token, tf, rank FROM (
  SELECT token, tf,
         row_number() OVER (ORDER BY tf DESC, token) AS rank
  FROM counts)
WHERE rank <= 50
ORDER BY rank
""")
def q_build_vocab(spark, sf_dir):
    """Frequency vocabulary (extras/text.py build_vocab): top 50 corpus
    tokens with min_count=2 hapax pruning.  explode + map-side-combined
    hash agg; the rank sort runs over the aggregated token table only."""
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return tx.build_vocab(docs, "text", min_count=2, top_n=50).orderBy("rank")


@_q(f"""
WITH toks AS ({_CORPUS_TOKENS_SQL}),
t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t2 GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
)
SELECT doc_id, token, tf, round(tfidf, 6) AS tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rn
  FROM scored)
WHERE rn <= 3 AND doc_id <= 100
ORDER BY doc_id, tfidf DESC, token
""")
def q_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by smooth TF-IDF
    (extras/text.py tfidf_top_terms): tf hash-agg + df token join +
    scalar-subplan N, top-k over the aggregated table."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = tx.tfidf_top_terms(docs, "text", "doc_id", k=3)
    return (
        out.filter(F.col("doc_id") <= 100)
        .select("doc_id", "token", "tf",
                F.round(F.col("tfidf"), 6).alias("tfidf"))
        .orderBy("doc_id", F.col("tfidf").desc(), "token")
    )


def _gopher_ctes() -> str:
    """DuckDB twin of extras/text.py gopher metrics as reusable CTEs:
    `base` (split arrays + passthrough lang/n_chars) and `m` (the seven
    rule metrics, rounded to 6 like the Spark side)."""
    req = " + ".join(f"list_contains(ltoks, '{w}')::INT"
                     for w in ["the", "be", "to", "of", "and", "that",
                               "have", "with"])
    return r"""base AS (
  SELECT doc_id, lang, n_chars, text,
         CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')
         END AS toks,
         CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     lower(regexp_replace(text, '^\s+|\s+$', '', 'g')),
                     '\s+')
         END AS ltoks,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id, lang, n_chars, text,
         CAST(len(toks) AS BIGINT) AS n_words,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE round(list_aggregate(
                     list_transform(toks, w -> length(w)), 'sum')
                   * 1.0 / len(toks), 6) END AS mean_word_len,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE round(((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3.0)
                   / len(toks), 6) END AS symbol_word_ratio,
         CASE WHEN len(lines) = 0 THEN 0.0
              ELSE round(len(list_filter(lines,
                     l -> regexp_matches(regexp_replace(l, '^\s+', ''),
                                         '^[-*]')))
                   * 1.0 / len(lines), 6) END AS bullet_line_ratio,
         CASE WHEN len(lines) = 0 THEN 0.0
              ELSE round(len(list_filter(lines,
                     l -> regexp_matches(regexp_replace(l, '\s+$', ''),
                                         '\.\.\.$')))
                   * 1.0 / len(lines), 6) END AS ellipsis_line_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE round(len(list_filter(toks,
                     w -> regexp_matches(w, '[A-Za-z]')))
                   * 1.0 / len(toks), 6) END AS alpha_word_ratio,
         CAST(""" + req + r""" AS BIGINT) AS n_required_words
  FROM base
)"""


# the lowered thresholds (min_words 10, min_required_words 1) the driver
# queries use so the synthetic corpus exercises both gate outcomes
_GOPHER_GATE_SQL = """(n_words >= 10 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_ratio <= 0.9
        AND ellipsis_line_ratio <= 0.3
        AND alpha_word_ratio >= 0.8
        AND n_required_words >= 1)"""


@_q(f"""
WITH {_gopher_ctes()}
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_ratio,
       ellipsis_line_ratio, alpha_word_ratio, n_required_words,
       {_GOPHER_GATE_SQL} AS gopher_pass
FROM m ORDER BY doc_id
""")
def q_gopher_quality(spark, sf_dir):
    """Gopher-rule document quality filter (extras/text.py
    gopher_quality; rules per Rae et al. 2021 appendix A1.1): word-count
    bounds, mean word length, symbol/word ratio, bullet and ellipsis
    line ratios, alphabetic-word ratio, required stop words.  One
    map-only codegen pass over a single tokenization; min_words and
    min_required_words lowered (10 / 1) so the synthetic corpus
    exercises both outcomes of the composite gate.
    """
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = tx.gopher_quality(docs, "text", min_words=10,
                            min_required_words=1)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_ratio", "ellipsis_line_ratio", "alpha_word_ratio",
        "n_required_words", "gopher_pass",
    ).orderBy("doc_id")


@_q(f"""
WITH {_gopher_ctes()},
gated AS (
  SELECT doc_id, lang, n_chars, text FROM m WHERE {_GOPHER_GATE_SQL}
), fp AS (
  SELECT doc_id, lang, n_chars,
         md5(lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS fp
  FROM gated
), ded AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp)
  WHERE rn = 1
), mix AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT doc_id, lang, n_chars,
           sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM ded)
  WHERE cum - n_chars < 5000
)
SELECT doc_id, lang, n_chars, shard, shard_pos FROM (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(h, 1, 4))::BIGINT % 8)             AS shard,
         CAST(row_number() OVER (
              PARTITION BY (('0x' || substr(h, 1, 4))::BIGINT % 8)
              ORDER BY h, doc_id) AS BIGINT)                 AS shard_pos
  FROM (SELECT *, md5(CAST(doc_id AS VARCHAR) || 'pre') AS h FROM mix)
)
ORDER BY shard, shard_pos
""")
def q_pretrain_pipeline(spark, sf_dir):
    """Flagship end-to-end pretraining-data pipeline, four stages
    composed from the extras layer: Gopher quality gate (gopher_filter,
    map-only single-tokenization predicate) -> exact near-identical
    removal (exact_dedup_rows, one fingerprint shuffle) -> per-language
    token-budget fill (take_token_budget, one window cumsum) ->
    deterministic corpus shuffle (deterministic_shuffle, one bounded
    shard shuffle).  Three key shuffles total for the whole pipeline;
    every stage is a pure function of the rows, which is what lets one
    DuckDB CTE chain reproduce the exact (shard, shard_pos) addressing
    of the final corpus order."""
    from pydiverse_transform_spark.extras import dedup as dd
    from pydiverse_transform_spark.extras import sampling as sp
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    gated = tx.gopher_filter(docs, "text", min_words=10,
                             min_required_words=1)
    ded = dd.exact_dedup_rows(gated, "text", "doc_id")
    mix = sp.take_token_budget(
        ded.select("doc_id", "lang", "n_chars"),
        "n_chars", 5000, order_by="doc_id", partition_by=["lang"],
    )
    out = sp.deterministic_shuffle(mix, "doc_id", salt="pre", n_shards=8)
    return out.select("doc_id", "lang", "n_chars", "shard",
                      "shard_pos").orderBy("shard", "shard_pos")


_NB_LTOKS = (
    "CASE WHEN length(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'))"
    " = 0 THEN CAST([] AS VARCHAR[]) ELSE list_distinct(string_split_regex("
    "regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END"
)


@_q(f"""
WITH labeled AS (
  SELECT doc_id, (lang = 'en') AS y, {_NB_LTOKS} AS toks
  FROM documents WHERE lang IS NOT NULL
), cls AS (
  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM labeled
), tok AS (
  SELECT unnest(toks) AS token, y FROM labeled
), counts AS (
  SELECT token,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS df_pos,
         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS df_neg
  FROM tok WHERE token <> '' GROUP BY token
), weights AS (
  SELECT token,
         round(ln((df_pos + 0.5) / (n_pos + 1.0))
               - ln((df_neg + 0.5) / (n_neg + 1.0)), 6) AS weight
  FROM counts CROSS JOIN cls
), doc_tok AS (
  SELECT doc_id, unnest({_NB_LTOKS}) AS token FROM documents
)
SELECT doc_id, round(sum(coalesce(w.weight, 0.0)), 4) AS nb_score
FROM (SELECT * FROM doc_tok WHERE token <> '') dt
LEFT JOIN weights w USING (token)
GROUP BY doc_id ORDER BY doc_id
""")
def q_nb_classifier(spark, sf_dir):
    """Model-based quality/language scoring (extras/classify.py
    nb_train + nb_score — the cheap stand-in for the fastText-style
    classifiers real pipelines train): binary Naive Bayes trained on
    lang=='en' labels, then every document scored by summed token
    log-odds.  Training is one explode + map-side-combined hash-agg;
    scoring broadcasts the small weights table — the corpus shuffles
    once.  Weights round to 6 and scores to 4 so the <=1-ulp ln()
    and sum-order differences between engines cannot flip the hash."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import classify as cl

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    w = cl.nb_train(docs, F.col("lang") == "en")
    return cl.nb_score(docs, w).orderBy("doc_id")


_LM_LTOKS = (
    "CASE WHEN length(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'))"
    " = 0 THEN CAST([] AS VARCHAR[]) ELSE string_split_regex("
    "regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END"
)


def _lm_ctes(src: str) -> str:
    """The bigram-LM train+score CTE chain over source relation ``src``
    (must expose doc_id, text) ending in ``lmscored(doc_id,
    lm_logprob)`` — shared by q_lm_perplexity and the scored
    pipeline."""
    return f"""toks AS (
  SELECT doc_id, list_concat(['<s>'], {_LM_LTOKS}) AS t FROM {src}
), bg AS (
  SELECT doc_id,
         CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
              ELSE list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i + 1]) END AS gs
  FROM toks
), ex AS (
  SELECT doc_id, unnest(gs) AS bigram FROM bg
), grams AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS n_bigram
  FROM ex GROUP BY bigram
), ctx AS (
  SELECT string_split(bigram, ' ')[1] AS w1,
         CAST(sum(n_bigram) AS BIGINT) AS n_ctx
  FROM grams GROUP BY 1
), lp AS (
  SELECT e.doc_id,
         round(ln((coalesce(g.n_bigram, 0) + 0.5)
                  / (coalesce(c.n_ctx, 0) + 0.5 * 65536)), 6) AS lp
  FROM ex e
  LEFT JOIN grams g USING (bigram)
  LEFT JOIN ctx c ON string_split(e.bigram, ' ')[1] = c.w1
), lmscored AS (
  SELECT doc_id, round(avg(lp), 4) AS lm_logprob FROM lp GROUP BY doc_id
)"""


@_q(f"""
WITH {_lm_ctes('documents')}
SELECT doc_id, lm_logprob FROM lmscored ORDER BY doc_id
""")
def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity gate (extras/classify.py bigram_lm_train +
    lm_score — the KenLM-style 'reads like the reference corpus'
    filter of CCNet-shaped pipelines): model trained on the corpus
    itself, every document scored by mean smoothed bigram
    log-probability.  Two hash-agg passes to train, broadcast joins to
    score — the corpus shuffles once; ln() and float-sum rounding
    pinned at 6/4 decimals for engine parity."""
    from pydiverse_transform_spark.extras import classify as cl

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    grams, ctx = cl.bigram_lm_train(docs)
    return cl.lm_score(docs, grams, ctx).orderBy("doc_id")


def _pretrain_scored_sql() -> str:
    return f"""
WITH {_gopher_ctes()},
gated AS (
  SELECT doc_id, lang, n_chars, text FROM m WHERE {_GOPHER_GATE_SQL}
), fp AS (
  SELECT doc_id, lang, n_chars, text,
         md5(lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS fpp
  FROM gated
), ded AS (
  SELECT doc_id, lang, n_chars, text FROM (
    SELECT *, row_number() OVER (PARTITION BY fpp ORDER BY doc_id) AS rn
    FROM fp)
  WHERE rn = 1
), {_lm_ctes('ded')},
enriched AS (
  SELECT d.doc_id, d.lang, d.n_chars, s.lm_logprob
  FROM ded d JOIN lmscored s USING (doc_id)
), keep AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT *, min(CASE WHEN cd >= 0.2 THEN lm_logprob END)
                OVER (PARTITION BY lang) AS thr
    FROM (SELECT *, cume_dist() OVER (PARTITION BY lang
                                      ORDER BY lm_logprob) AS cd
          FROM enriched))
  WHERE lm_logprob >= thr
), mix AS (
  SELECT doc_id, lang, n_chars FROM (
    SELECT doc_id, lang, n_chars,
           sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM keep)
  WHERE cum - n_chars < 5000
)
SELECT doc_id, lang, n_chars, shard, shard_pos FROM (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(h, 1, 4))::BIGINT % 8)             AS shard,
         CAST(row_number() OVER (
              PARTITION BY (('0x' || substr(h, 1, 4))::BIGINT % 8)
              ORDER BY h, doc_id) AS BIGINT)                 AS shard_pos
  FROM (SELECT *, md5(CAST(doc_id AS VARCHAR) || 'pre2') AS h FROM mix)
)
ORDER BY shard, shard_pos
"""


@_q(_pretrain_scored_sql())
def q_pretrain_pipeline_scored(spark, sf_dir):
    """Model-in-the-loop curation pipeline: the v1 chain (Gopher gate ->
    exact dedup) plus a bigram-LM perplexity gate — the model is
    TRAINED on the surviving corpus, every survivor scored, and the
    bottom 20% per language dropped by exact percentile
    (filter_by_quantile) — then the per-language token budget and
    deterministic shuffle.  The oracle replays gate, dedup, LM
    training, scoring, the percentile cut and the final (shard,
    shard_pos) addressing in one CTE chain — every stage is a pure
    function of the rows."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import classify as cl
    from pydiverse_transform_spark.extras import dedup as dd
    from pydiverse_transform_spark.extras import sampling as sp
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    gated = tx.gopher_filter(docs, "text", min_words=10,
                             min_required_words=1)
    # the deduped corpus feeds FOUR consumers (LM bigram counts, context
    # counts, scoring explode, and the score join) — persist it once or
    # the gate + fingerprint window recompute per consumer (4 scans, 4
    # tokenizations; plan-audited in tests)
    ded = dd.exact_dedup_rows(gated, "text", "doc_id").persist()
    grams, ctx = cl.bigram_lm_train(ded)
    scored = cl.lm_score(ded, grams, ctx)
    enriched = ded.select("doc_id", "lang", "n_chars").join(scored,
                                                            "doc_id")
    keep = sp.filter_by_quantile(enriched, "lm_logprob", 0.2,
                                 partition_by=["lang"])
    mix = sp.take_token_budget(
        keep.select("doc_id", "lang", "n_chars"),
        "n_chars", 5000, order_by="doc_id", partition_by=["lang"],
    )
    out = sp.deterministic_shuffle(mix, "doc_id", salt="pre2",
                                   n_shards=8)
    return out.select("doc_id", "lang", "n_chars", "shard",
                      "shard_pos").orderBy("shard", "shard_pos")


@_q("""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def q_doc_agg(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d
        >> pdt.group_by(d.lang)
        >> pdt.summarize(
            n_docs=pdt.count(),
            total_chars=d.n_chars.sum(),
            avg_chars=d.n_chars.mean().round(6),
        )
        >> pdt.arrange(C.lang)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM (SELECT doc_id,
             md5(lower(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) AS fp
      FROM documents)
GROUP BY fp
""")
def q_dedup_exact(spark, sf_dir):
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return dedup.exact_dedup(docs, "text", "doc_id")


def _shingle_sql(col: str, k: int = 3) -> str:
    # NULL docs coalesce to '' — the engine contract of
    # extras/dedup.py word_shingles (one empty shingle, so null and
    # empty texts behave identically in every engine); without it the
    # oracle silently diverges on null text (found by
    # tests/test_minhash_index.py::test_fuzz_lookup_matches_duckdb)
    words = _TOKENS_SQL.format(col=f"coalesce({col}, '')")
    return (
        f"list_distinct(list_transform("
        f"range(0, greatest(len({words}) - {k}, 0) + 1), "
        f"j -> array_to_string(({words})[j + 1: j + {k}], ' ')))"
    )


def _minhash_sql(base_hashes: str, n_hashes: int = 16) -> list[str]:
    """Affine minhash family over the per-shingle base hash — mirrors
    extras/dedup.py (MINHASH_A/B/P)."""
    from pydiverse_transform_spark.extras.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    return [
        f"list_min(list_transform({base_hashes}, "
        f"h -> (h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(n_hashes)
    ]


def _lsh_pairs_sql(threshold: float) -> str:
    sig = _minhash_sql("bh", 16)
    rows = 4
    bands = [
        "md5(" + " || '|' || ".join(sig[b * rows:(b + 1) * rows]) + ")"
        for b in range(4)
    ]
    band_structs = ", ".join(
        f"{{'band': {b}, 'h': {bands[b]}}}" for b in range(4)
    )
    return f"""
WITH sh_t AS (
  SELECT doc_id, {_shingle_sql('text')} AS sh FROM documents
), bh_t AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)
           AS bh
  FROM sh_t
), buckets AS (
  SELECT doc_id, bb.band AS band, bb.h AS h
  FROM bh_t, UNNEST([{band_structs}]) AS t(bb)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.h = b.h
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) = 0
             THEN 0.0
             ELSE len(list_intersect(sa.sh, sb.sh)) * 1.0
                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
             END, 6) AS jaccard
FROM cand JOIN sh_t sa ON cand.id_a = sa.doc_id
          JOIN sh_t sb ON cand.id_b = sb.doc_id
WHERE CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) = 0
      THEN 0.0
      ELSE len(list_intersect(sa.sh, sb.sh)) * 1.0
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
      END >= {threshold}
"""


@_q(_lsh_pairs_sql(0.2))
def q_dedup_minhash(spark, sf_dir):
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return dedup.minhash_dedup_pairs(docs, "text", "doc_id", k=3,
                                     n_hashes=16, bands=4, threshold=0.2)


def _minhash_sides_sql(corpus_pred: str = "doc_id % 4 <> 0",
                       probe_pred: str = "doc_id % 4 = 0") -> str:
    """CTEs replaying the persisted-index banding for a corpus
    (default ``doc_id % 4 <> 0``) and a probe increment (default
    ``doc_id % 4 = 0``): per side (doc_id, sig BIGINT[16], band, h)
    — the exact rows write_minhash_index persists and
    minhash_index_lookup derives.  The predicates parameterize the
    index/increment split (q_neardup_backfill uses the half-vs-half
    backfill shape)."""
    sig = ", ".join(_minhash_sql("bh", 16))
    bands = ", ".join(
        f"{{'band': {b}, "
        f"'h': md5(array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '|'))}}"
        for b in range(4)
    )
    return f"""
corpus AS (SELECT doc_id, text FROM documents WHERE {corpus_pred}),
probe AS (SELECT doc_id, text FROM documents WHERE {probe_pred}),
c_bh AS (
  SELECT doc_id,
         list_transform({_shingle_sql('text')},
                        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS bh
  FROM corpus
), c_sig AS (SELECT doc_id, [{sig}] AS sig FROM c_bh),
c_b AS (
  SELECT doc_id, sig, bb.band AS band, bb.h AS h
  FROM c_sig, UNNEST([{bands}]) AS t(bb)
), p_bh AS (
  SELECT doc_id,
         list_transform({_shingle_sql('text')},
                        s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS bh
  FROM probe
), p_sig AS (SELECT doc_id, [{sig}] AS sig FROM p_bh),
p_b AS (
  SELECT doc_id, sig, bb.band AS band, bb.h AS h
  FROM p_sig, UNNEST([{bands}]) AS t(bb)
)"""


_MINHASH_EST_SQL = ("round(len(list_filter(range(1, 17), "
                    "i -> p.sig[i] = c.sig[i])) / 16.0, 6)")


def _minhash_index_tmp(sf_dir: str, tag: str) -> str:
    import shutil

    base = _scratch(f"mhidx_{tag}_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    return base


@_q(f"""
WITH {_minhash_sides_sql()}
SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS index_id,
       {_MINHASH_EST_SQL} AS est_jaccard
FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
WHERE {_MINHASH_EST_SQL} >= 0.2
ORDER BY probe_id, index_id
""")
def q_minhash_index_lookup(spark, sf_dir):
    """Persisted MinHash-LSH index lifecycle (extras/dedup.py
    write_minhash_index + minhash_index_lookup): the corpus 3/4 of
    documents is indexed as band-partitioned parquet with a parameter
    sidecar; the remaining 1/4 probes it as a daily increment.  The
    oracle replays the identical banding + signature-agreement
    estimator in SQL, pinning the persisted rows, the sidecar-driven
    probe hashing and the estimator arithmetic.  The probe side
    broadcasts — the index is scanned in place, never shuffled
    (tests/test_minhash_index.py pins the plan shape)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "lkp")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), base)
    return dedup.minhash_index_lookup(
        spark, base, docs.filter(F.col("doc_id") % 4 == 0),
        threshold=0.2,
    ).orderBy("probe_id", "index_id")


@_q(f"""
WITH {_minhash_sides_sql()},
cand AS (
  SELECT p.doc_id AS probe_id, c.doc_id AS index_id,
         any_value(p.sig) AS psig, any_value(c.sig) AS csig,
         count(DISTINCT p.band) AS nb
  FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
  GROUP BY p.doc_id, c.doc_id
), est_t AS (
  SELECT probe_id, index_id,
         round(len(list_filter(range(1, 17),
                               i -> psig[i] = csig[i])) / 16.0, 6)
           AS est_jaccard
  FROM cand WHERE nb >= 2
), ranked AS (
  SELECT probe_id, index_id, est_jaccard,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY est_jaccard DESC, index_id) AS rn
  FROM est_t WHERE est_jaccard >= 0.2
)
SELECT probe_id, index_id, est_jaccard FROM ranked WHERE rn <= 3
ORDER BY probe_id, index_id
""")
def q_minhash_lookup_governed(spark, sf_dir):
    """Governed LSH index lookup (r10, VERDICT r9 next #2): the same
    index/probe split as q_minhash_index_lookup but with the
    candidate-volume governors ON — pairs must collide in >= 2
    distinct bands before estimator verification (min_bands=2) and
    each probe keeps only its 3 best matches (top_k=3, index_id
    tie-break).  The oracle replays the banding, the distinct-band
    count, the estimator and the row_number cut in SQL; governors-OFF
    equivalence with the ungoverned path and the subset contract are
    pinned in tests/test_r10_fixes.py."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "gov")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), base)
    return dedup.minhash_index_lookup(
        spark, base, docs.filter(F.col("doc_id") % 4 == 0),
        threshold=0.2, min_bands=2, top_k=3,
    ).orderBy("probe_id", "index_id")


@_q(f"""
WITH {_minhash_sides_sql()},
cand AS (
  SELECT p.doc_id AS probe_id, c.doc_id AS index_id,
         any_value(p.sig) AS psig, any_value(c.sig) AS csig,
         count(DISTINCT p.band) AS nb
  FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
  GROUP BY p.doc_id, c.doc_id
), est_t AS (
  SELECT probe_id, index_id,
         round(len(list_filter(range(1, 17),
                               i -> psig[i] = csig[i])) / 16.0, 6)
           AS est_jaccard
  FROM cand WHERE nb >= 2
), ranked AS (
  SELECT probe_id, index_id, est_jaccard,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY est_jaccard DESC, index_id) AS rn
  FROM est_t WHERE est_jaccard >= 0.2
)
SELECT probe_id, index_id, est_jaccard FROM ranked WHERE rn <= 100
ORDER BY probe_id, index_id
""")
def q_minhash_lookup_auto(spark, sf_dir):
    """AUTO-governed LSH index lookup (r13, VERDICT r12 next #1): the
    default lookup projects the bucket join's exact candidate-row
    count before shuffling anything and engages min_bands=2/top_k=100
    when the projection exceeds the budget — at sf100 the ungoverned
    default emitted 230M pairs, a lane no verify stage can consume
    (SCALE_BENCH_r12).  Here the budget is pinned to 0 so the engaged
    route runs at oracle scale: the result must hash-match the
    explicit min_bands=2/top_k=100 SQL replay (band evidence via
    count(DISTINCT band), estimator, row_number cut).  Under-budget
    bit-equivalence with governors='off' and the no-warning contract
    are pinned in tests/test_minhash_index.py."""
    import warnings

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "auto")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), base)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        out = dedup.minhash_index_lookup(
            spark, base, docs.filter(F.col("doc_id") % 4 == 0),
            threshold=0.2, governors="auto", auto_budget=0,
        )
    return out.orderBy("probe_id", "index_id")


@_q(f"""
WITH {_minhash_sides_sql()}
SELECT DISTINCT p.doc_id AS probe_id, c.doc_id AS index_id,
       {_MINHASH_EST_SQL} AS est_jaccard
FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
WHERE {_MINHASH_EST_SQL} >= 0.2
ORDER BY probe_id, index_id
""")
def q_minhash_maintain(spark, sf_dir):
    """Minhash index maintenance (extras/dedup.py
    minhash_index_maintain, r9): the indexed corpus gets a slice
    RE-appended twice (the at-least-once streaming replay shape), the
    maintenance fold drops the duplicate (id, band) rows and compacts
    via journaled atomic swap, and the post-fold lookup must equal the
    clean-index oracle exactly — how the index reached its state is
    invisible to the query (same contract as q_ivfpq_maintain)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "mnt")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    dedup.write_minhash_index(corpus, base)
    replay = corpus.filter(F.col("doc_id") % 8 == 1)
    dedup.minhash_index_append(spark, base, replay)
    dedup.minhash_index_append(spark, base, replay)
    dedup.minhash_index_maintain(spark, base)
    return dedup.minhash_index_lookup(
        spark, base, docs.filter(F.col("doc_id") % 4 == 0),
        threshold=0.2,
    ).orderBy("probe_id", "index_id")


@_q(f"""
WITH {_minhash_sides_sql()},
hits AS (
  SELECT DISTINCT p.doc_id
  FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
  WHERE {_MINHASH_EST_SQL} >= 0.45
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
ORDER BY doc_id
""")
def q_neardup_filter_new(spark, sf_dir):
    """The daily-ingest primitive (extras/dedup.py neardup_filter_new):
    arriving docs with an estimated near-dup already in the persisted
    index are dropped; survivors are ADMITTED (their bucket rows
    appended) — the returned frame is rebuilt from a checkpointed id
    snapshot so the append cannot re-evaluate it to empty (the
    refreshByPath hazard documented on the function)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "new")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), base)
    surv = dedup.neardup_filter_new(
        spark, base, docs.filter(F.col("doc_id") % 4 == 0),
        threshold=0.45, admit=True,
    )
    return surv.select("doc_id", "lang", "source").orderBy("doc_id")


@_q(f"""
WITH {_minhash_sides_sql("doc_id % 2 <> 0", "doc_id % 2 = 0")},
hits AS (
  SELECT DISTINCT p.doc_id
  FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
  WHERE {_MINHASH_EST_SQL} >= 0.45
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
ORDER BY doc_id
""")
def q_neardup_backfill(spark, sf_dir):
    """BACKFILL-shaped ingest dedup (r14): the increment is as large
    as the index itself (half the corpus against the other half), the
    shape where the pre-r14 pair lane emitted one shuffle row per
    candidate pair (230M at sf100, SCALE_BENCH_r12/r13) and hit the
    wall the lookup governor exists for.  neardup_filter_new now runs
    the EXISTS-semantics lane (extras/dedup.py _probe_hits_exists):
    shuffle volume bounded by the increment's id count, recall
    identical — this oracle is the same full pair semantics."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    base = _minhash_index_tmp(sf_dir, "backfill")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 2 != 0), base)
    surv = dedup.neardup_filter_new(
        spark, base, docs.filter(F.col("doc_id") % 2 == 0),
        threshold=0.45, admit=False,
    )
    return surv.select("doc_id", "lang", "source").orderBy("doc_id")


@_q("""
WITH sh_t AS (SELECT doc_id, {SH} AS sh FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM sh_t a JOIN sh_t b ON b.doc_id = a.doc_id + 1
)
SELECT id_a, id_b,
       round(CASE WHEN u = 0 THEN 0.0 ELSE i * 1.0 / u END, 6) AS jaccard
FROM pairs
""".replace("{SH}", _shingle_sql("text")))
def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard between consecutive doc pairs."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    sh = dedup.shingled(docs, "text", "doc_id", 3) \
        .withColumnRenamed("__sh", "sh")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=b.id_b == a.id_a + 1, how="inner")
        .select(
            "id_a", "id_b",
            F.round(dedup.jaccard(F.col("sh_a"), F.col("sh_b")), 6)
            .alias("jaccard"),
        )
    )


def _char_shingle_sql(col: str, k: int = 5) -> str:
    t = f"lower(regexp_replace({col}, '\\s+', ' ', 'g'))"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(length({t}) - {k} + 1, 1) + 1), "
        f"j -> substr({t}, j, {k})))"
    )


@_q("""
WITH sh_t AS (SELECT doc_id, {SH} AS sh FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM sh_t a JOIN sh_t b ON b.doc_id = a.doc_id + 5
)
SELECT id_a, id_b,
       round(CASE WHEN u = 0 THEN 0.0 ELSE i * 1.0 / u END, 6) AS jaccard
FROM pairs
""".replace("{SH}", _char_shingle_sql("text")))
def q_char_shingle_jaccard(spark, sf_dir):
    """Character-5-gram Jaccard between (doc, doc+5) pairs — the
    char-shingle variant of the n-gram near-dup machinery."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    sh = dedup.char_shingled(docs, "text", "doc_id", 5) \
        .withColumnRenamed("__sh", "sh")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=b.id_b == a.id_a + 5, how="inner")
        .select(
            "id_a", "id_b",
            F.round(dedup.jaccard(F.col("sh_a"), F.col("sh_b")), 6)
            .alias("jaccard"),
        )
    )


@_q("""
SELECT event_id,
       CAST(props->>'k' AS BIGINT) AS k_val,
       event_type
FROM events
WHERE CAST(props->>'k' AS BIGINT) > 80
""")
def q_events_json_props(spark, sf_dir):
    """JSON payload extraction from the events props column
    (get_json_object — JVM-side, no UDF)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev

    df = ev.load_events(spark, sf_dir)
    return (
        df.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_val"),
            "event_type",
        )
        .filter(F.col("k_val") > 80)
    )


@_q("""
SELECT o_orderkey,
       coalesce(lag(o_totalprice) OVER w, -1.0)  AS prev_filled,
       lead(o_totalprice, 2) OVER w              AS next2
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_shift_fill(spark, sf_dir):
    """shift with fill_value and negative offsets."""
    o = _t(spark, sf_dir, "orders")
    key = [C.o_orderdate, C.o_orderkey]
    return (
        o
        >> pdt.group_by(o.o_custkey)
        >> pdt.mutate(
            prev_filled=o.o_totalprice.shift(1, fill_value=pdt.lit(-1.0),
                                             arrange=key),
            next2=o.o_totalprice.shift(-2, arrange=key),
        )
        >> pdt.ungroup()
        >> pdt.select(o.o_orderkey, C.prev_filled, C.next2)
        >> pdt.export(pdt.Spark)
    )


def _simhash_sql(bits: int = 16) -> str:
    toks = _TOKENS_SQL.format(col="lower(text)")
    th = (f"list_transform({toks}, "
          f"w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)")
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(th, "
        f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
SELECT doc_id, ({terms}) AS sh FROM
(SELECT doc_id, {th} AS th FROM documents)
"""


@_q(_simhash_sql(16))
def q_simhash(spark, sf_dir):
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return dedup.simhash_df(docs, "text", "doc_id", bits=16, out_col="sh")


_QVEC = [((i * 37) % 101 - 50) / 50.0 for i in range(64)]


def _vec_sql(vec: list[float]) -> str:
    return "[" + ", ".join(f"{v!r}" for v in vec) + "]::DOUBLE[]"


@_q(f"""
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {_vec_sql(_QVEC)})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({_vec_sql(_QVEC)}, {_vec_sql(_QVEC)}))),
             6) AS cos_sim
FROM embeddings
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""")
def q_cosine_topk(spark, sf_dir):
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_topk(emb, _QVEC, k=10)


def _signlsh_sql() -> str:
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    planes = hyperplanes(64, 4)
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(plane, _QVEC)) > 0:
            qbits += 2 ** p
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], {_vec_sql(pl)}) > 0 "
        f"THEN {2 ** p} ELSE 0 END"
        for p, pl in enumerate(planes)
    )
    return f"""
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {_vec_sql(_QVEC)})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({_vec_sql(_QVEC)}, {_vec_sql(_QVEC)}))),
             6) AS cos_sim
FROM embeddings
WHERE ({bucket}) = {qbits}
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@_q(_signlsh_sql())
def q_signlsh_topk(spark, sf_dir):
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.signlsh_topk(emb, _QVEC, k=10, n_planes=4)


def _embedding_neardup_sql(threshold: float) -> str:
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    planes = hyperplanes(64, 4)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], {_vec_sql(pl)}) > 0 "
        f"THEN {2 ** p} ELSE 0 END"
        for p, pl in enumerate(planes)
    )
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding::DOUBLE[] AS e, ({bucket}) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cos_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({cos}, 6) >= {threshold}
"""


def _semdedup_sql(threshold: float, n_cells: int = 16) -> str:
    """DuckDB twin of similarity.semdedup: fixed md5-derived cell
    centroids (argmin squared L2), within-cell cosine pairs >=
    threshold, recursive-CTE connected components, keep the minimum id
    of every cluster."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, n_cells, seed="semdedup")
    # ||e-c||^2 = |e|^2 - 2 e.c + |c|^2, and |e|^2 is constant within a
    # row, so argmin over cells of (-2 e.c + |c|^2) IS the squared-L2
    # argmin — one list_dot_product node per cell instead of 128
    # explicit product terms (the explicit form is a ~8000-node
    # expression that DuckDB re-plans per CTE inline: measured 13 s per
    # inline on 500 rows; this form is milliseconds).  Float near-ties
    # between cells would break exact parity with Spark's explicit-sum
    # argmin; with md5-random centroids the margin is astronomically
    # larger than double rounding.
    def vec(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"

    dists = ", ".join(
        f"(-2.0 * list_dot_product(e, {vec(cen)}) + "
        f"{sum(c * c for c in cen)!r})"
        for cen in cents
    )
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH RECURSIVE celled AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_position([{dists}], list_min([{dists}])) - 1 AS cell
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM celled a JOIN celled b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({cos}, 6) >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != comp)
ORDER BY vec_id
"""


def _embedding_filter_new_sql(threshold: float, n_cells: int) -> str:
    """DuckDB twin of similarity.embedding_filter_new at n_probe=1: the
    corpus quarter-split is celled with the same argmin form as
    _semdedup_sql, arriving vectors hit when an indexed vector shares
    their cell at cosine >= threshold, survivors are the anti-join."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, n_cells, seed="efn")

    def vec(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"

    dists = ", ".join(
        f"(-2.0 * list_dot_product(e, {vec(cen)}) + "
        f"{sum(c * c for c in cen)!r})"
        for cen in cents
    )
    cos = ("list_dot_product(p.e, c.e) / "
           "(sqrt(list_dot_product(p.e, p.e)) * "
           "sqrt(list_dot_product(c.e, c.e)))")
    return f"""
WITH celled AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_position([{dists}], list_min([{dists}])) - 1 AS cell
  FROM embeddings
), hits AS (
  SELECT DISTINCT p.vec_id
  FROM celled p JOIN celled c
    ON p.cell = c.cell AND p.vec_id % 4 = 0 AND c.vec_id % 4 <> 0
  WHERE round({cos}, 6) >= {threshold}
)
SELECT vec_id FROM embeddings
WHERE vec_id % 4 = 0 AND vec_id NOT IN (SELECT vec_id FROM hits)
ORDER BY vec_id
"""


@_q(_embedding_filter_new_sql(0.4, n_cells=16))
def q_embedding_filter_new(spark, sf_dir):
    """Semantic ingest dedup (extras/similarity.py embedding_filter_new
    — SemDeDup for increments): the corpus 3/4 of embeddings is a
    persisted IVF-PQ index; the arriving quarter is cell-assigned
    (flat-plan numpy kernel), the probed cells are pushed as a LITERAL
    partition filter into the index scan (static pruning — only those
    cells' files are read), exact cosine on the pruned candidates, and
    survivors are the anti-join.  The oracle replays the celled join in
    SQL with the same argmin form as q_semdedup's."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 16, seed="efn")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    base = _scratch("efn_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(base, ignore_errors=True)
    similarity.write_ivfpq(emb.filter(F.col("vec_id") % 4 != 0),
                           base, cents, cbs, residual=True)
    surv = similarity.embedding_filter_new(
        spark, base, emb.filter(F.col("vec_id") % 4 == 0),
        threshold=0.4, n_probe=1, probe_margin=None,
    )
    return surv.select("vec_id").orderBy("vec_id")


@_q(_embedding_filter_new_sql(0.4, n_cells=16))
def q_stream_semantic_ingest(spark, sf_dir):
    """Micro-batch semantic ingest dedup (streaming/__init__.py
    semantic_ingest_stream, snapshot mode): the probe quarter of the
    embeddings arrives as 4 micro-batches against a persisted IVF-PQ
    index; each batch reads only its probed cells (partition pruning)
    and lands survivors in idempotent per-batch dirs.  Snapshot mode is
    order-independent, so the streamed survivor set equals the batch
    embedding_filter_new — the oracle is that SQL.  The
    batching-dependent admit lane (first-come-wins, replay own-id
    exclusion, schema-aligned appends) is pinned by
    tests/test_streaming.py."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 16, seed="efn")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    root = _scratch("sefn_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(root, ignore_errors=True)
    idx = os.path.join(root, "idx")
    similarity.write_ivfpq(emb.filter(F.col("vec_id") % 4 != 0),
                           idx, cents, cbs, residual=True)
    src = os.path.join(root, "src")
    emb.filter(F.col("vec_id") % 4 == 0).repartition(4) \
        .write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(root, "out")
    q = st.semantic_ingest_stream(stream, idx, out,
                                  os.path.join(root, "ckpt"),
                                  threshold=0.4, n_probe=1,
                                  probe_margin=None, admit=False,
                                  available_now=True)
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "q_stream_semantic_ingest: availableNow drain exceeded "
            "180s — failing loudly instead of comparing a partial sink")
    return (spark.read.parquet(out)
            .select("vec_id").orderBy("vec_id"))


@_q(_semdedup_sql(0.4, n_cells=64))
def q_semdedup(spark, sf_dir):
    """SemDeDup (extras/similarity.py semdedup; Abbas et al. 2023):
    embedding near-duplicate clusters found WITHIN quantizer cells
    (cell equi-join, never all-pairs), connected components, keep the
    canonical minimum-id vector per semantic cluster.  Fixed
    md5-derived centroids here so the oracle re-derives the cells;
    production trains them (kmeans_fit(spherical=True))."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    # 64 cells: candidate pairs shrink ~quadratically with cell count
    # (the SCALE.md sizing rule) — measured 4.8 s -> ~1.5 s at sf0.1.
    # assign_method='numpy' (r8): even at k=64 the broadcast-matrix
    # kernel beats the literal fold (110 vs 456 us/row,
    # ASSIGN_SWEEP_r08.json) and its 183-char plan sidesteps the
    # per-call analysis + whole-stage-codegen of a 159 KB literal
    # expression — the creeping q_semdedup bench row (r6 3.4 s -> r7
    # 4.1 s -> r8 5.1 s) tracked exactly that fresh-plan literal cost.
    cents = similarity.hyperplanes(64, 64, seed="semdedup")
    return (
        similarity.semdedup(emb, cents, threshold=0.4,
                            assign_method="numpy")
        .select("vec_id").orderBy("vec_id")
    )


@_q(_semdedup_sql(0.4, n_cells=64))
def q_semdedup_cells(spark, sf_dir):
    """SemDeDup forced onto the CELL-LOCAL component backend (r11,
    VERDICT r10 next #2): same quantizer family / threshold / oracle as
    q_semdedup, but connectivity is solved INSIDE the per-cell Arrow
    kernel (extras/similarity.py _cell_components_kernel: blocked-BLAS
    cosines + min-label propagation + pointer jumping) instead of
    materializing the pair relation for global connected components —
    the route auto picks above ~4M projected pairs (O(corpus) shuffle
    at any duplication density; sf100 pairs-route host-death -> 64.7 s,
    SCALE_BENCH_r10.json).  At oracle scale factors auto routes to the
    pairs path, so this row PINS component_backend='cells' to give the
    kernel a driver-hash correctness row (it previously had pytest
    backend-equality evidence only).  Threshold 0.4 sits away from the
    half-even/half-up 5e-7 rounding boundary the kernel docstring
    documents, so both backends agree bit-for-bit here (asserted
    against the pairs lane in tests/test_r11_fixes.py)."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 64, seed="semdedup")
    return (
        similarity.semdedup(emb, cents, threshold=0.4,
                            assign_method="numpy",
                            component_backend="cells")
        .select("vec_id").orderBy("vec_id")
    )


# q_semdedup_kprop quantizer (r10, VERDICT r9 next #1): k must GROW
# with the corpus (k ~ n/100) and the cells must be re-derivable by the
# DuckDB oracle.  The r9 oracle embedded every argmin centroid as a SQL
# literal (k capped at 256); the first r10 cut staged a 32k argmin
# family as parquet — and the sf100 sweep then showed argmin over
# UNTRAINED random centroids does not quantize clustered data at all
# (121/20000 cells occupied, 840k vectors in one cell, 4.8e11
# within-cell pairs).  Sign-LSH buckets spread by construction — every
# hyperplane splits the space — so k = 2^p cells fill evenly
# (measured sf100: 5105 occupied, max cell 5k, pair volume ~ the true
# 1e9 clique floor), and p*64 plane components are cheap literals in
# BOTH engines at any k: p = clamp(ceil(log2(n/100)), 4, 15) gives
# 16 .. 32768 cells with no literal budget and no staged fixture.
_KPROP_MIN_PLANES = 4
_KPROP_MAX_PLANES = 15
_KPROP_DIVISOR = 100
_KPROP_SEED = "semdedup-kprop-lsh"


def _kprop_planes() -> list[list[float]]:
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    return hyperplanes(64, _KPROP_MAX_PLANES, seed=_KPROP_SEED)


def _kprop_n_planes(n: int) -> int:
    import math

    return max(_KPROP_MIN_PLANES,
               min(_KPROP_MAX_PLANES,
                   math.ceil(math.log2(max(1, n // _KPROP_DIVISOR)))))


def _semdedup_kprop_sql(threshold: float) -> str:
    """DuckDB twin of q_semdedup_kprop: p = clamp(ceil(log2(n/100)),
    4, 15) sign-LSH planes derived from the corpus size at run time,
    bucket = sum over the first p planes of 2^(i-1) * (e . plane_i > 0)
    — bit-identical to similarity.signlsh_bucket over the same
    hyperplanes(64, p) family (both engines fold the dot product
    left-to-right over doubles), then within-bucket pairs -> recursive
    transitive closure -> keep each component's minimum id."""
    planes = _kprop_planes()

    def vec(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"

    plane_list = ", ".join(vec(pl) for pl in planes)
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH RECURSIVE params AS (
  SELECT greatest({_KPROP_MIN_PLANES},
                  least({_KPROP_MAX_PLANES},
                        CAST(ceil(log2(greatest(1, count(*) // {_KPROP_DIVISOR}))) AS INT))) AS p
  FROM embeddings
), planes AS (
  SELECT list_slice([{plane_list}], 1, (SELECT p FROM params)) AS pl
), celled AS (
  SELECT vec_id, e,
         list_sum(list_transform(pl, (pv, i) ->
           CASE WHEN list_dot_product(e, pv) > 0
                THEN 2 ** (i - 1) ELSE 0 END)) AS cell
  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
  CROSS JOIN planes
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM celled a JOIN celled b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({cos}, 6) >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != comp)
ORDER BY vec_id
"""


@_q(_semdedup_kprop_sql(0.4))
def q_semdedup_kprop(spark, sf_dir):
    """SemDeDup at the SCALE_KNOBS operating point (r9; quantizer made
    scale-real in r10 per VERDICT r9 next #1): the cell count GROWS
    with the corpus — p = clamp(ceil(log2(n/100)), 4, 15) sign-LSH
    planes give k = 2^p ≈ n/100 cells — so per-cell occupancy (and the
    quadratic within-cell pair volume) stays ~flat as data scales,
    unlike q_semdedup's deliberately fixed k=64 whose sf0.1→sf1 slope
    is the documented cost of ignoring the sizing rule.  Sign-LSH is
    the oracle-reproducible quantizer that actually SPREADS clustered
    data (the first r10 cut's argmin-over-random-centroids put 840k of
    sf100's 2M vectors in one cell; see the _KPROP constants note), and
    both engines derive the buckets from the same md5 hyperplane
    family with only p*64 literals.  At sf10 this runs k=2048, at
    sf100 k=32768 — the operating points the r9 gate couldn't reach.
    semdedup's auto component backend then keeps the dup-saturated
    edge volume in-kernel (cells lane) instead of shuffling O(pairs)
    through global connected components."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    planes = _kprop_planes()[: _kprop_n_planes(n)]
    return (
        similarity.semdedup(
            emb, None, threshold=0.4,
            cells=similarity.signlsh_bucket(F.col("embedding"), planes),
            vec_dim=64,
        )
        .select("vec_id").orderBy("vec_id")
    )


def _semdedup_multiprobe_sql(threshold: float, n_cells: int = 16) -> str:
    """DuckDB twin of similarity.semdedup with DIRECTED 2-probe
    blocking (r8): every vector is a home member of its argmin cell and
    a visitor in its second-nearest cell only when that cell's cid is
    LOWER than home's; candidate pairs join a home member to any
    member.  The sorted (distance, cid) struct list reproduces the
    ties-to-lowest-cid probe order of assign_cells_multi's stable
    argsort."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, n_cells, seed="semdedup")

    def vec(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"

    dists = ", ".join(
        f"(-2.0 * list_dot_product(e, {vec(cen)}) + "
        f"{sum(c * c for c in cen)!r})"
        for cen in cents
    )
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH RECURSIVE celled AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_sort(list_transform([{dists}],
                                  (d, i) -> {{'d': d, 'c': i - 1}})) AS sc
  FROM embeddings
), members AS (
  SELECT vec_id, e, sc[1].c AS cell, TRUE AS is_home FROM celled
  UNION ALL
  SELECT vec_id, e, sc[2].c AS cell, FALSE
  FROM celled WHERE sc[2].c < sc[1].c
), pairs AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
         greatest(a.vec_id, b.vec_id) AS id_b
  FROM members a JOIN members b ON a.cell = b.cell
  WHERE a.is_home AND a.vec_id != b.vec_id
    AND round({cos}, 6) >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != comp)
ORDER BY vec_id
"""


@_q(_semdedup_multiprobe_sql(0.4, n_cells=64))
def q_semdedup_multiprobe(spark, sf_dir):
    """SemDeDup with directed multi-probe blocking (r8; extras/
    similarity.py semdedup n_probe=2, probe_margin=None so the oracle
    needs no margin arithmetic): boundary-straddling near-dup pairs
    that single-cell blocking misses are recovered by each vector
    visiting its lower-cid second cell; the oracle replays home/visitor
    membership, the directed home x member join, pair-key dedup, and
    the same connected components.  Driver-hashes the r7 pytest-only
    multi-probe component (r8 verdict #6 family)."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 64, seed="semdedup")
    return (
        similarity.semdedup(emb, cents, threshold=0.4, n_probe=2,
                            probe_margin=None)
        .select("vec_id").orderBy("vec_id")
    )


def _semdedup_margin_sql(threshold: float, margin: float,
                         n_cells: int = 16) -> str:
    """DuckDB twin of directed 2-probe SemDeDup with the probe_margin
    gate (r8): a visitor row exists only when the second cell is both
    lower-cid AND within ``margin`` Euclidean distance of the home-cell
    distance.  True distance recovered as sqrt(max(d_expr + |e|^2, 0))
    since the stored comparator is -2 e.c + |c|^2 = d^2 - |e|^2 —
    the same clamped expansion the numpy kernel uses.  The parameters
    are chosen result-SENSITIVE on this corpus (kept differs from both
    the unpruned and single-probe answers), so the hash pins the gate
    arithmetic itself."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, n_cells, seed="semdedup")

    def vec(v):
        return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"

    dists = ", ".join(
        f"(-2.0 * list_dot_product(e, {vec(cen)}) + "
        f"{sum(c * c for c in cen)!r})"
        for cen in cents
    )
    cos = ("list_dot_product(a.e, b.e) / "
           "(sqrt(list_dot_product(a.e, a.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH RECURSIVE celled AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_dot_product(embedding::DOUBLE[],
                          embedding::DOUBLE[]) AS ee,
         list_sort(list_transform([{dists}],
                                  (d, i) -> {{'d': d, 'c': i - 1}})) AS sc
  FROM embeddings
), members AS (
  SELECT vec_id, e, sc[1].c AS cell, TRUE AS is_home FROM celled
  UNION ALL
  SELECT vec_id, e, sc[2].c AS cell, FALSE
  FROM celled
  WHERE sc[2].c < sc[1].c
    AND sqrt(greatest(sc[2].d + ee, 0.0))
        <= sqrt(greatest(sc[1].d + ee, 0.0)) + {margin}
), pairs AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
         greatest(a.vec_id, b.vec_id) AS id_b
  FROM members a JOIN members b ON a.cell = b.cell
  WHERE a.is_home AND a.vec_id != b.vec_id
    AND round({cos}, 6) >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != comp)
ORDER BY vec_id
"""


@_q(_semdedup_margin_sql(0.3, 0.25, n_cells=64))
def q_semdedup_probe_margin(spark, sf_dir):
    """Margin-pruned directed multi-probe SemDeDup (r8): only vectors
    within 0.25 Euclidean of their cell boundary become visitors.  At
    threshold 0.3 on this corpus the kept-set differs from BOTH the
    unpruned multi-probe answer and the single-probe answer, so the
    hash verifies the margin gate's distance arithmetic (clamped
    norm-expansion, sqrt, additive margin), not just the blocking
    topology."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 64, seed="semdedup")
    return (
        similarity.semdedup(emb, cents, threshold=0.3, n_probe=2,
                            probe_margin=0.25)
        .select("vec_id").orderBy("vec_id")
    )


def _semantic_decon_sql(threshold: float, n_cells: int = 16,
                        bench_max_id: int = 20) -> str:
    """DuckDB twin of similarity.semantic_decontaminate: same fixed
    cells, cross-side within-cell cosine >= threshold marks a corpus id
    contaminated; survivors are the anti-join."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, n_cells, seed="semdedup")
    dists = ", ".join(
        f"(-2.0 * list_dot_product(e, ["
        + ", ".join(repr(float(x)) for x in cen)
        + f"]::DOUBLE[]) + {sum(c * c for c in cen)!r})"
        for cen in cents
    )
    cos = ("list_dot_product(c.e, b.e) / "
           "(sqrt(list_dot_product(c.e, c.e)) * "
           "sqrt(list_dot_product(b.e, b.e)))")
    return f"""
WITH celled AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_position([{dists}], list_min([{dists}])) - 1 AS cell
  FROM embeddings
), corpus AS (SELECT * FROM celled WHERE vec_id >= {bench_max_id}),
bench AS (SELECT * FROM celled WHERE vec_id < {bench_max_id}),
bad AS (
  SELECT DISTINCT c.vec_id
  FROM corpus c JOIN bench b ON c.cell = b.cell
  WHERE round({cos}, 6) >= {threshold}
)
SELECT vec_id FROM corpus
WHERE vec_id NOT IN (SELECT vec_id FROM bad)
ORDER BY vec_id
"""


@_q(_semantic_decon_sql(0.3))
def q_semantic_decontaminate(spark, sf_dir):
    """Semantic benchmark decontamination (extras/similarity.py
    semantic_decontaminate): corpus vectors whose cosine to ANY
    benchmark vector (here: the 20 smallest-id embeddings, a
    deterministic eval-set stand-in) reaches 0.3 are dropped — the
    embedding-space sibling of the exact-shingle q_decontaminate,
    catching paraphrases that share no n-grams.  Candidates come from
    a quantizer-cell equi-join with the benchmark side BROADCAST —
    the corpus never shuffles."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    cents = similarity.hyperplanes(64, 16, seed="semdedup")
    return (
        similarity.semantic_decontaminate(corpus, bench, cents,
                                          threshold=0.3)
        .select("vec_id").orderBy("vec_id")
    )


@_q(_embedding_neardup_sql(0.35))
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH bucket self-join +
    exact cosine verification (never all-pairs)."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_neardup_pairs(emb, threshold=0.35,
                                              n_planes=4, dim=64)


def _ivf_sql() -> str:
    from pydiverse_transform_spark.extras.similarity import ivf_centroids

    centroids = ivf_centroids(64, 8)
    scores = [
        (sum(a * b for a, b in zip(cen, _QVEC)), c)
        for c, cen in enumerate(centroids)
    ]
    probe = [c for _, c in sorted(scores, key=lambda t: (-t[0], t[1]))][:2]
    dots = ", ".join(
        f"list_dot_product(embedding::DOUBLE[], {_vec_sql(cen)})"
        for cen in centroids
    )
    return f"""
WITH celled AS (
  SELECT vec_id, embedding,
         list_position([{dots}],
                       list_max([{dots}])) - 1 AS cell
  FROM embeddings
)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {_vec_sql(_QVEC)})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({_vec_sql(_QVEC)}, {_vec_sql(_QVEC)}))),
             6) AS cos_sim
FROM celled
WHERE cell IN ({', '.join(map(str, probe))})
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


def _sq_sql(qvec: list[float], offset: int = 0) -> str:
    """Explicit left-assoc squared-L2 between e[offset+1..] and a
    literal vector — bit-identical to Spark's aggregate fold."""
    return "(" + " + ".join(
        f"(e[{offset + i + 1}] - ({qvec[i]!r}))"
        f"*(e[{offset + i + 1}] - ({qvec[i]!r}))"
        for i in range(len(qvec))) + ")"


def _pq_fragments(qvec: list[float], cbs: list) -> tuple[str, str]:
    """(adc, exact) SQL fragments of the PQ scorer over column `e`:
    encode argmin per subspace + literal LUT lookup, and the exact
    squared-L2 re-rank — each mirroring the Spark expressions'
    float-add order exactly."""
    m, dsub = len(cbs), len(cbs[0][0])
    luts = [
        [sum((qvec[j * dsub + i] - cen[i]) ** 2 for i in range(dsub))
         for cen in cbs[j]]
        for j in range(m)
    ]
    terms = []
    for j in range(m):
        dists = ", ".join(_sq_sql(cen, offset=j * dsub) for cen in cbs[j])
        lut = "[" + ", ".join(repr(v) for v in luts[j]) + "]::DOUBLE[]"
        terms.append(
            f"({lut})[list_position([{dists}], list_min([{dists}]))]")
    return " + ".join(terms), _sq_sql(qvec)


def _pq_sql() -> str:
    """DuckDB twin of pq_topk(pool=100) with the fixed md5-derived
    codebooks: same encode argmin (explicit left-assoc squared sums, so
    float arithmetic is bit-identical to Spark's aggregate fold), same
    literal ADC lookup tables, same pool cut and exact re-rank."""
    from pydiverse_transform_spark.extras.similarity import pq_codebooks

    adc, exact = _pq_fragments(_QVEC, pq_codebooks(64, m=8, k=16))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pool AS (
  SELECT vec_id, e FROM base
  ORDER BY {adc}, vec_id
  LIMIT 100
)
SELECT vec_id, round({exact}, 6) AS l2_dist
FROM pool ORDER BY l2_dist, vec_id LIMIT 10
"""


@_q(_pq_sql())
def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (extras/similarity.py pq_encode /
    pq_topk; Jégou et al. 2011): vectors compress to 8 sub-centroid
    codes (argmin vs fixed md5-derived codebooks), the full scan reads
    only codes + a literal per-query lookup table (ADC), and the exact
    squared-L2 re-rank runs on just the 100-row candidate pool — at
    100 TB the code column is ~32x smaller than the float32 vectors it
    stands in for."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    return similarity.pq_topk(emb, _QVEC, k=10, codebooks=cbs, pool=100)


def _ivfpq_sql() -> str:
    """DuckDB twin of write_ivfpq(residual=False) + ivfpq_topk(nprobe=2,
    pool=100): same fixed centroids and codebooks, same cell argmin,
    probe set computed once in Python, ADC over probed cells, exact
    re-rank of the pool."""
    from pydiverse_transform_spark.extras.similarity import (
        hyperplanes,
        pq_codebooks,
    )

    cents = hyperplanes(64, 8, seed="ivfpq")
    d2 = [
        (sum((q - c) ** 2 for q, c in zip(_QVEC, cen)), ci)
        for ci, cen in enumerate(cents)
    ]
    probe = [ci for _, ci in sorted(d2)][:2]
    cell_dists = ", ".join(_sq_sql(cen) for cen in cents)
    cell = f"list_position([{cell_dists}], list_min([{cell_dists}])) - 1"
    adc, exact = _pq_fragments(_QVEC, pq_codebooks(64, m=8, k=16))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
celled AS (SELECT vec_id, e, {cell} AS cell FROM base),
pool AS (
  SELECT vec_id, e FROM celled
  WHERE cell IN ({', '.join(map(str, probe))})
  ORDER BY {adc}, vec_id
  LIMIT 100
)
SELECT vec_id, round({exact}, 6) AS l2_dist
FROM pool ORDER BY l2_dist, vec_id LIMIT 10
"""


@_q(_ivfpq_sql())
def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ index on parquet (extras/similarity.py write_ivfpq /
    ivfpq_topk — the FAISS IVFADC layout): coarse cells are PARTITION
    directories (metadata-only pruning at the scan), PQ codes are the
    scanned bytes, and the exact re-rank touches only the 100-row pool.
    Fixed md5-derived centroids/codebooks and residual=False here so
    the DuckDB oracle re-derives every stage; production trains both
    (kmeans_fit / pq_fit) and encodes residuals."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 8, seed="ivfpq")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    staged = _scratch("ivfpq_" + os.path.basename(sf_dir.rstrip("/")))
    similarity.write_ivfpq(emb, staged, cents, cbs, residual=False)
    return similarity.ivfpq_topk(spark, staged, _QVEC, cents, cbs,
                                 k=10, nprobe=2, residual=False, pool=100)


@_q(_ivfpq_sql())
def q_stream_ivfpq_ingest(spark, sf_dir):
    """Streaming index ingest (streaming/__init__.py
    ivfpq_append_stream): the base index holds the even vec_ids, the
    odd ones arrive as a STREAM into a staging root (exactly-once
    checkpointed sink, same cell layout, model from the index's own
    sidecar), and ivfpq_topk_auto queries base + staging together —
    the answer must equal the batch oracle over ALL vectors.  The
    oracle is the same CTE as q_ivfpq_topk: how the index was built
    (batch, stream, or both) is invisible to the query contract."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 8, seed="ivfpq")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    base = _scratch("ivfpq_ing_" + os.path.basename(sf_dir.rstrip("/")))
    staging, ckpt, src = base + "_stg", base + "_ckpt", base + "_src"
    for p in (staging, ckpt, src):
        shutil.rmtree(p, ignore_errors=True)
    similarity.write_ivfpq(emb.filter(F.col("vec_id") % 2 == 0),
                           base, cents, cbs, residual=False)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write \
        .mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = st.ivfpq_append_stream(stream, base, staging, ckpt,
                               available_now=True)
    q.awaitTermination(120)
    return similarity.ivfpq_topk_auto(spark, base, _QVEC, k=10,
                                      nprobe=2, pool=100,
                                      extra_paths=[staging])


@_q(_ivf_sql())
def q_ivf_topk(spark, sf_dir):
    """IVF-style ANN: fixed md5-derived coarse quantizer, nprobe=2 of 8
    cells scanned."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(emb, _QVEC, k=10, n_cells=8, nprobe=2)


def _assign_cells_sql() -> str:
    """DuckDB twin of assign_cells (numpy path): per-row argmin of
    squared L2 over the same fixed md5-derived centroids, ties to the
    lower cid (list_position returns the FIRST minimum — the package
    tie contract in every assignment strategy)."""
    from pydiverse_transform_spark.extras.similarity import hyperplanes

    cents = hyperplanes(64, 8, seed="cells")
    dists = ", ".join(_sq_sql(cen) for cen in cents)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT vec_id,
       list_position([{dists}], list_min([{dists}])) - 1 AS cell
FROM base ORDER BY vec_id
"""


@_q(_assign_cells_sql())
def q_assign_cells(spark, sf_dir):
    """Large-k cell assignment via the broadcast-matrix numpy kernel
    (extras/similarity.py assign_cells, method='numpy' — the r7 scale
    path whose plan stays flat in k; see ASSIGN_SWEEP_r07.json).  The
    oracle replays the argmin in SQL over the same literal centroids,
    pinning the BLAS argmax trick (x.c - |c|^2/2) to plain summed
    squared-L2 and the ties-to-lowest-cid contract."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 8, seed="cells")
    return (
        similarity.assign_cells(emb.select("vec_id", "embedding"),
                                cents, method="numpy")
        .select("vec_id", F.col("__cell").cast("long").alias("cell"))
        .orderBy("vec_id")
    )


@_q(_ivfpq_sql())
def q_ivfpq_maintain(spark, sf_dir):
    """One-call index maintenance (extras/similarity.py ivfpq_maintain):
    base index holds the even vec_ids, the odds land in a staging root,
    the maintenance pass folds+compacts them into a fresh index and
    atomically swaps it in (journaled crash recovery tested in
    tests/test_r7_fixes.py) — after which a sidecar-driven query with
    NO extra_paths must equal the batch oracle over ALL vectors.  Same
    contract as q_stream_ivfpq_ingest: how the index reached its state
    is invisible to the query."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    cents = similarity.hyperplanes(64, 8, seed="ivfpq")
    cbs = similarity.pq_codebooks(64, m=8, k=16)
    base = _scratch("ivfpq_mnt_" + os.path.basename(sf_dir.rstrip("/")))
    staging = base + "_stg"
    for p in (base, staging):
        shutil.rmtree(p, ignore_errors=True)
    similarity.write_ivfpq(emb.filter(F.col("vec_id") % 2 == 0),
                           base, cents, cbs, residual=False)
    similarity.ivfpq_encode(
        emb.filter(F.col("vec_id") % 2 == 1), cents, cbs,
        residual=False,
    ).write.partitionBy("cell").parquet(staging)
    similarity.ivfpq_maintain(spark, base, staging)
    return similarity.ivfpq_topk_auto(spark, base, _QVEC, k=10,
                                      nprobe=2, pool=100)


@_q("""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
         embedding::DOUBLE[] AS c
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
), scored AS (
  SELECT e.vec_id, cent.cid,
         list_distance(e.embedding::DOUBLE[], cent.c) AS d,
         e.embedding::DOUBLE[] AS emb
  FROM embeddings e CROSS JOIN cent
), best AS (
  SELECT vec_id, emb, cid, d * d AS d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT cid, count(*) AS n_members,
       round(avg(emb[1]), 6) AS c_first,
       round(avg(emb[64]), 6) AS c_last,
       round(sum(d2), 4) AS inertia
FROM best GROUP BY cid ORDER BY cid
""")
def q_kmeans_step(spark, sf_dir):
    """One oracle-checkable Lloyd iteration of the learned IVF coarse
    quantizer (extras/similarity.py kmeans_*): deterministic seeds = the
    embeddings of the 8 smallest vec_ids, broadcast-join assignment with
    argmin(d2, cid), then per-cell mean/count/inertia via the
    map-side-combinable posexplode aggregation.  The full trainer
    (kmeans_fit) iterates this same step with literal-fold map-only
    assignment; training parity is pinned by
    tests/test_kmeans.py::test_assign_variants_agree."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    seeds = similarity.kmeans_seed_centroids(emb, 8)
    upd = similarity.kmeans_update(similarity.kmeans_assign(emb, seeds))
    return (
        upd.select(
            "cid",
            "n_members",
            F.round(F.col("centroid")[0], 6).alias("c_first"),
            F.round(F.col("centroid")[63], 6).alias("c_last"),
            F.round(F.col("inertia"), 4).alias("inertia"),
        )
        .orderBy("cid")
    )


@_q("""
WITH ev AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(session_id) AS BIGINT) AS n_sessions
FROM sess GROUP BY user_id ORDER BY user_id
""")
def q_sessionize(spark, sf_dir):
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev

    df = ev.load_events(spark, sf_dir)
    s = ev.sessionize(df, "user_id", "ts", gap_minutes=30)
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("session_id").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


@_q("""
WITH base AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
), tagged AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY us)
), sess AS (
  SELECT user_id, us,
         sum(ns) OVER (PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM tagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(us) AS session_start_us, max(us) AS session_end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
""")
def q_sessionize_scalable(spark, sf_dir):
    """Skew-proof two-level sessionization (local per time-chunk windows,
    then interval-merge over the reduced session set) — the oracle is the
    naive single-window sessionization, which it must equal exactly."""
    from pydiverse_transform_spark.extras import events as ev

    df = ev.load_events(spark, sf_dir)
    return ev.sessionize_scalable(df, "user_id", "ts", gap_minutes=30,
                                  chunk_minutes=120)


@_q("""
SELECT bucket, event_type, n_events, sum_value,
       make_timestamp(bucket * 3600000000) AS window_start
FROM (
  SELECT (epoch_us(ts::TIMESTAMP) // 3600000000) AS bucket, event_type,
         count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
)
""")
def q_tumbling_agg(spark, sf_dir):
    from pydiverse_transform_spark.extras import events as ev

    df = ev.load_events(spark, sf_dir)
    return ev.tumbling_agg(df, "ts", every_minutes=60, keys=["event_type"])


@_q("""
SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right,
       round(r.value, 6) AS purchase_value
FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def q_asof_join(spark, sf_dir):
    """Point-in-time join: each click matched to the user's latest
    preceding purchase (inclusive).  Implemented as union + one
    last-value window over (user_id, ts) — a single shuffle of
    |left|+|right| rows, no range-join candidate explosion (see
    extras/asof.py).  The oracle is DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev
    from pydiverse_transform_spark.extras.asof import asof_join

    df = ev.load_events(spark, sf_dir)
    clicks = df.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    purchases = df.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    return asof_join(clicks, purchases, on="ts", by=["user_id"]).select(
        "event_id", "user_id", "ts", "ts_right",
        F.round(F.col("value"), 6).alias("purchase_value"),
    )


@_q("""
SELECT o_orderpriority, year(o_orderdate) AS o_year,
       round(sum(o_totalprice), 6) AS total, count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderpriority, year(o_orderdate))
""")
def q_rollup(spark, sf_dir):
    """Hierarchical subtotals via Spark's native rollup — (priority,
    year), (priority), and grand-total grouping sets in ONE shuffle with
    map-side partial aggregation."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.mutate(o_year=o.o_orderdate.dt.year())
        >> pdt.rollup(
            C.o_orderpriority, C.o_year,
            total=o.o_totalprice.sum().round(6),
            n=pdt.count(),
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderpriority, year(o_orderdate) AS o_year, count(*) AS n,
       CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
""")
def q_cube(spark, sf_dir):
    """All-subsets aggregation via Spark's native cube, with the
    GROUPING_ID bitmask distinguishing subtotal NULLs from data NULLs."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.mutate(o_year=o.o_orderdate.dt.year())
        >> pdt.cube(C.o_orderpriority, C.o_year, grouping_id="gid",
                    n=pdt.count())
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT user_id, count(*) AS n_rows
FROM events GROUP BY user_id HAVING count(*) > 70
""")
def q_heavy_hitters(spark, sf_dir):
    """Skew-toolkit heavy-hitter detection: exact partial-aggregated
    counts (shuffle volume = #distinct keys, not #rows), keys above the
    threshold drive salted_join / pre-filtering decisions."""
    from pydiverse_transform_spark.extras import events as ev
    from pydiverse_transform_spark.extras.skew import heavy_hitters

    df = ev.load_events(spark, sf_dir)
    return heavy_hitters(df, ["user_id"], threshold=70)


@_q("""
SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right,
       round(r.value, 6) AS purchase_value
FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def q_asof_join_scalable(spark, sf_dir):
    """Skew-proof two-level as-of join (local per-chunk windows + a
    chunk-summary carry-in pass; extras/asof.py) — must equal the plain
    asof_join, so it shares the DuckDB ASOF JOIN oracle."""
    import datetime as _dtmod

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev
    from pydiverse_transform_spark.extras.asof import asof_join_scalable

    df = ev.load_events(spark, sf_dir)
    clicks = df.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    purchases = df.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    return asof_join_scalable(
        clicks, purchases, on="ts", by=["user_id"],
        chunk=_dtmod.timedelta(days=1),
    ).select(
        "event_id", "user_id", "ts", "ts_right",
        F.round(F.col("value"), 6).alias("purchase_value"),
    )


def _event_log_staged(spark, sf_dir) -> str:
    """Stage (idempotently, per call) the bucketed sorted event-log
    layout for ``sf_dir`` — events bucketed by user_id, files sorted by
    (user_id, ts, event_prio) with purchase=0 < click=1 so the
    inclusive as-of tie order is physical — and return the catalog
    table name.  Shared by q_asof_join_presorted and
    q_sessionize_presorted; the scale sweep stages once per sf and
    times the layout separately (SCALE_BENCH_r11 event_log_layout)."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev

    tag = (os.path.basename(sf_dir.rstrip("/"))
           .replace(".", "_").replace("-", "_"))
    name = f"ev_log_{tag}"
    base = _scratch(f"evlog_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    df = ev.load_events(spark, sf_dir)
    prio = (F.when(F.col("event_type") == "purchase", 0)
            .when(F.col("event_type") == "click", 1))
    ev.write_event_log(df, name, by="user_id", on="ts",
                       priority=prio, buckets=32, path=base)
    return name


@_q("""
SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right,
       round(r.value, 6) AS purchase_value
FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
                WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def q_asof_join_presorted(spark, sf_dir):
    """As-of join over the SORTED EVENT-LOG layout (r11, VERDICT r10
    next #6): both sides live in the same events table, so the staged
    bucketed-sorted layout (events.write_event_log) lets
    asof.asof_join_colocated run Scan -> Filter -> Window with NO
    Exchange and NO Sort — q_asof_join's union + window pays one
    shuffle+sort of |clicks|+|purchases| rows per run, this lane pays
    the sort once at ingest and amortizes it over every downstream
    time-ordered query.  Same DuckDB ASOF JOIN oracle; the sort-free
    plan is pinned in tests/test_event_log_layout.py and the sf10/sf100
    wall-clock comparison lives in SCALE_BENCH_r11.json."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev
    from pydiverse_transform_spark.extras.asof import asof_join_colocated

    t = ev.read_event_log(spark, _event_log_staged(spark, sf_dir))
    res = asof_join_colocated(t, on="ts", by=["user_id"],
                              side_col="event_prio", payload=["value"])
    return res.select(
        "event_id", "user_id", "ts", "ts_right",
        F.round(F.col("value_right"), 6).alias("purchase_value"),
    )


@_q("""
WITH base AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
), tagged AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY us)
), sess AS (
  SELECT user_id, us,
         sum(ns) OVER (PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM tagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(us) AS session_start_us, max(us) AS session_end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
""")
def q_sessionize_presorted(spark, sf_dir):
    """Sessionization over the SORTED EVENT-LOG layout (r11): the
    gap-window runs directly on the bucketed-sorted scan — no Exchange
    (bucketing satisfies the per-user distribution), no Sort (file
    order satisfies the window order), and even the per-session
    aggregate reuses the bucket partitioning (user_id is a subset of
    the grouping keys) — the whole query is ONE stage, zero shuffles.
    Same oracle as q_sessionize_scalable (whose two-level shape is the
    answer when the layout is NOT pre-sorted / a user is pathologically
    hot); plan pinned in tests/test_event_log_layout.py."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev

    t = ev.read_event_log(spark, _event_log_staged(spark, sf_dir))
    s = ev.sessionize(t, "user_id", "ts", gap_minutes=30)
    return (
        s.select("user_id", "session_id",
                 ev.epoch_us(F.col("ts")).alias("__us"))
        .groupBy("user_id", "session_id")
        .agg(F.min("__us").alias("session_start_us"),
             F.max("__us").alias("session_end_us"),
             F.count(F.lit(1)).alias("n_events"))
    )


@_q("""
SELECT l.event_id, r.event_id AS error_id, l.user_id, l.ts
FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'click') l
JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 4 HOUR
""")
def q_interval_join(spark, sf_dir):
    """Range join (clicks within 4h after an error, per user) via the
    bucketized equi-join in extras/interval.py — replicate intervals to
    fixed time buckets, equi-join on (user_id, bucket), residual exact
    BETWEEN filter.  One bounded shuffle instead of the
    BroadcastNestedLoopJoin the raw inequality predicate would plan."""
    import datetime as _dtmod

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev
    from pydiverse_transform_spark.extras.interval import interval_join

    df = ev.load_events(spark, sf_dir)
    clicks = df.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    windows = (
        df.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("w_end"),
            F.col("event_id").alias("error_id"),
        )
    )
    return interval_join(
        clicks, windows, on="ts", start="w_start", end="w_end",
        by=["user_id"], bucket=_dtmod.timedelta(hours=4),
    ).select("event_id", "error_id", "user_id", "ts")


@_q("""
WITH ev AS (
  SELECT event_id, user_id, value, ts::TIMESTAMP AS ts FROM events
)
SELECT event_id,
       lag(value) OVER w          AS prev_value,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                                  AS cum_value
FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_events_window_dsl(spark, sf_dir):
    """DSL window functions over the event stream table."""
    from pydiverse_transform_spark.extras import events as ev

    e = pdt.Table(ev.load_events(spark, sf_dir), "events")
    key = [C.ts, C.event_id]
    return (
        e
        >> pdt.group_by(e.user_id)
        >> pdt.mutate(
            prev_value=e.value.shift(1, arrange=key),
            cum_value=e.value.cum_sum(arrange=key).round(6),
        )
        >> pdt.ungroup()
        >> pdt.select(e.event_id, C.prev_value, C.cum_value)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT event_type,
       count(*) AS n,
       round(sum(value), 6) AS total_value,
       round(avg(value), 6) AS avg_value,
       round(quantile_cont(value, 0.5), 6) AS median_value
FROM events
GROUP BY event_type ORDER BY event_type
""")
def q_events_by_type(spark, sf_dir):
    from pydiverse_transform_spark.extras import events as ev

    e = pdt.Table(ev.load_events(spark, sf_dir), "events")
    return (
        e
        >> pdt.group_by(e.event_type)
        >> pdt.summarize(
            n=pdt.count(),
            total_value=e.value.sum().round(6),
            avg_value=e.value.mean().round(6),
            median_value=e.value.median().round(6),
        )
        >> pdt.arrange(C.event_type)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12, 2))) AS DOUBLE)
                                                  AS total_dec,
       CAST(min(CAST(o_totalprice AS DECIMAL(12, 2))) AS DOUBLE)
                                                  AS min_dec,
       CAST(max(CAST(o_totalprice AS DECIMAL(12, 2))) AS DOUBLE)
                                                  AS max_dec,
       count(*)                                   AS n
FROM orders
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")
def q_decimal_agg(spark, sf_dir):
    """Decimal(p,s) path: cast, aggregate, exact fixed-point compare."""
    o = _t(spark, sf_dir, "orders")
    dec = o.o_totalprice.cast(pdt.Decimal(12, 2))
    return (
        o
        >> pdt.mutate(dec_price=dec)
        >> pdt.group_by(o.o_orderstatus)
        >> pdt.summarize(
            total_dec=C.dec_price.sum().cast(pdt.Float64()),
            min_dec=C.dec_price.min().cast(pdt.Float64()),
            max_dec=C.dec_price.max().cast(pdt.Float64()),
            n=pdt.count(),
        )
        >> pdt.arrange(C.o_orderstatus)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT doc_id,
       64 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 1985  AS width,
       64 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 1985  AS height,
       round(('0x' || substr(md5(text), 9, 4))::BIGINT / 65535.0, 6)
                                                              AS mean_luma,
       round(('0x' || substr(md5(text || '0'), 1, 2))::BIGINT / 255.0, 6)
                                                              AS f0,
       round(('0x' || substr(md5(text || '0'), 31, 2))::BIGINT / 255.0, 6)
                                                              AS f15
FROM documents
""")
def q_media_decode_features(spark, sf_dir):
    """Multimodal plumbing: binary payload column + Arrow-batched
    mapInPandas decode/feature kernels (md5-derived deterministic stub,
    reproducible in the SQL oracle)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import multimodal as mm

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    media = mm.with_media_column(docs, "text", mime="text/plain")
    decoded = mm.decode_image(media, "media", "doc_id",
                              deterministic_fake=True)
    feats = mm.image_features(media, "media", "doc_id", dim=16)
    return (
        decoded.join(feats, "id")
        .select(
            F.col("id").alias("doc_id"), "width", "height", "mean_luma",
            F.round(F.col("features")[0], 6).alias("f0"),
            F.round(F.col("features")[15], 6).alias("f15"),
        )
    )


@_q("""
SELECT bucket_start, event_type, n_events, sum_value
FROM (
  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // 3600000000) * 3600000000)
           AS bucket_start,
         event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
)
""")
def q_stream_tumbling(spark, sf_dir):
    """Structured-Streaming tumbling rollup drained with availableNow —
    must equal the batch hourly rollup the oracle computes."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src_dir = f"{sf_dir}/events.parquet"
    # file stream needs µs timestamps; stage a converted copy once
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")))
    ev.load_events(spark, sf_dir).write.mode("overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=batch_schema)
    out = st.run_to_memory(
        st.tumbling_window_agg(
            stream, "ts", window="1 hour", watermark="0 seconds",
            keys=["event_type"],
            aggs={"n_events": "count(1)",
                  "sum_value": "round(sum(value), 6)"},
        ),
        f"q_stream_tumbling_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("bucket_start"),
        "event_type", "n_events", "sum_value",
    )


@_q("""
SELECT l.event_id, r.event_id AS error_id, l.user_id, l.ts
FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'click') l
JOIN (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
      WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 4 HOUR
""")
def q_stream_interval_join(spark, sf_dir):
    """Watermark-bounded stream-stream time-range join drained with
    availableNow — must equal the batch range join (same oracle as
    q_interval_join).  The watermark is what bounds the join state: a
    buffered error event is dropped once no future click can match it."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")))
    ev.load_events(spark, sf_dir).write.mode("overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema

    def side(event_type, cols):
        return st.read_event_stream(spark, staged, schema=batch_schema) \
            .filter(F.col("event_type") == event_type).select(*cols)

    clicks = side("click", ["event_id", "user_id", "ts"])
    errors = side("error", [F.col("event_id").alias("error_id"),
                            "user_id", "ts"])
    joined = st.stream_interval_join(
        clicks, errors, ts_col="ts", by=["user_id"], within="4 hours",
    )
    out = st.run_to_memory(
        joined, f"q_stream_ivj_{uuid.uuid4().hex[:8]}"
    )
    return out.select(
        "event_id", "error_id", "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


@_q("""
SELECT window_start, event_type, n_events, sum_value
FROM (
  SELECT make_timestamp(
           ((epoch_us(ts::TIMESTAMP) // 1800000000) - k) * 1800000000)
           AS window_start,
         event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM events, (SELECT unnest([0, 1]) AS k)
  GROUP BY 1, 2
)
""")
def q_stream_sliding(spark, sf_dir):
    """Structured-Streaming sliding windows (1h window / 30m slide —
    every event lands in 2 overlapping windows).  The oracle reproduces
    Spark's epoch-aligned window family with a 2-offset cross join."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")))
    ev.load_events(spark, sf_dir).write.mode("overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=batch_schema)
    out = st.run_to_memory(
        st.sliding_window_agg(
            stream, "ts", window="1 hour", slide="30 minutes",
            watermark="0 seconds", keys=["event_type"],
            aggs={"n_events": "count(1)",
                  "sum_value": "round(sum(value), 6)"},
        ),
        f"q_stream_sliding_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type", "n_events", "sum_value",
    )


@_q("""
SELECT event_id,
       hour(ts::TIMESTAMP)                                        AS d_hour,
       minute(ts::TIMESTAMP)                                      AS d_minute,
       (epoch_us(ts::TIMESTAMP) % 60000000) // 1000000            AS d_second,
       (epoch_us(ts::TIMESTAMP) % 1000000) // 1000                AS d_ms,
       epoch_us(ts::TIMESTAMP) % 1000000                          AS d_us,
       (epoch_us(ts::TIMESTAMP) - epoch_us(TIMESTAMP '2024-01-01'))
         // 60000000                                              AS m_since,
       (epoch_us(ts::TIMESTAMP) - epoch_us(TIMESTAMP '2024-01-01'))
         // 1000000                                               AS s_since,
       (epoch_us(ts::TIMESTAMP) - epoch_us(TIMESTAMP '2024-01-01'))
         // 1000                                                  AS ms_since,
       (epoch_us(ts::TIMESTAMP) - epoch_us(TIMESTAMP '2024-01-01'))
                                                                  AS us_since,
       CAST(DATE '2024-03-15' AS VARCHAR)                         AS d_const
FROM events
""")
def q_datetime_fine(spark, sf_dir):
    """Sub-day datetime accessors (hour..microsecond) + fine-grained
    duration components + str.to_date, over the microsecond event
    timestamps."""
    from pydiverse_transform_spark.extras import events as ev

    e = pdt.Table(ev.load_events(spark, sf_dir), "events")
    since = e.ts - pdt.lit(dt.datetime(2024, 1, 1))
    return (
        e
        >> pdt.mutate(
            d_hour=e.ts.dt.hour(),
            d_minute=e.ts.dt.minute(),
            d_second=e.ts.dt.second(),
            d_ms=e.ts.dt.millisecond(),
            d_us=e.ts.dt.microsecond(),
            m_since=since.dur.minutes(),
            s_since=since.dur.seconds(),
            ms_since=since.dur.milliseconds(),
            us_since=since.dur.microseconds(),
            d_const=pdt.lit("2024-03-15").str.to_date()
            .cast(pdt.String()),
        )
        >> pdt.select(e.event_id, C.d_hour, C.d_minute, C.d_second, C.d_ms,
                      C.d_us, C.m_since, C.s_since, C.ms_since, C.us_since,
                      C.d_const)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT event_id,
       round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6)
         AS zscore
FROM events WINDOW w AS (PARTITION BY event_type)
""")
def q_map_groups_zscore(spark, sf_dir):
    """map_groups (Arrow applyInPandas): per-event-type z-score computed
    by a pandas kernel; the oracle is the equivalent window SQL
    (pandas ``std()`` is ddof=1 == stddev_samp)."""
    from pydiverse_transform_spark.extras import events as ev

    e = pdt.Table(ev.load_events(spark, sf_dir), "events")

    def zscore(pdf):
        m, s = pdf["value"].mean(), pdf["value"].std()
        out = pdf[["event_id"]].copy()
        out["zscore"] = ((pdf["value"] - m) / s).round(6)
        return out

    return (
        e
        >> pdt.group_by(e.event_type)
        >> pdt.map_groups(
            zscore, {"event_id": pdt.Int64(), "zscore": pdt.Float64()}
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT doc_id,
       CAST(CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0
            THEN 0
            ELSE len(string_split_regex(
                   regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
            END AS BIGINT) AS n_tokens
FROM documents
""")
def q_map_batches_tokens(spark, sf_dir):
    """map_batches (Arrow mapInPandas): whitespace token counts from a
    pandas kernel, oracle-checked against the SQL tokenizer."""
    import re

    docs = pdt.Table(
        _rp(spark, f"{sf_dir}/documents.parquet"), "documents"
    )

    def count_tokens(batches):
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["n_tokens"] = pdf["text"].map(
                lambda t: len(re.findall(r"\S+", t))
            )
            yield out

    return (
        docs
        >> pdt.map_batches(
            count_tokens, {"doc_id": pdt.Int64(), "n_tokens": pdt.Int64()}
        )
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 250000.0
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 350000.0
""")
def q_union_all(spark, sf_dir):
    """union(distinct=False) keeps duplicate rows (UNION ALL)."""
    o = _t(spark, sf_dir, "orders")
    a = o >> pdt.filter(o.o_totalprice > 250000.0) >> pdt.select(
        o.o_orderkey, o.o_totalprice
    )
    o2 = _t(spark, sf_dir, "orders")
    b = o2 >> pdt.filter(o2.o_totalprice > 350000.0) >> pdt.select(
        o2.o_orderkey, o2.o_totalprice
    )
    return a >> pdt.union(b, distinct=False) >> pdt.export(pdt.Spark)


@_q("""
SELECT c_custkey, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
""")
def q_validate_join(spark, sf_dir):
    """join(validate='m:1') — the duplicate-key assertion is compiled
    into the plan (raise_error on violation), zero jobs at build time;
    nation keys are unique so the probe passes."""
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        cu
        >> pdt.inner_join(n, on=cu.c_nationkey == n.n_nationkey,
                          validate="m:1")
        >> pdt.select(cu.c_custkey, n.n_name)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 6) AS total_qty
FROM lineitem WHERE l_quantity > 45.0
GROUP BY l_returnflag ORDER BY l_returnflag
""")
def q_collect_mid(spark, sf_dir):
    """collect() mid-pipeline: materializes (persist + count) and the
    downstream aggregation reads the persisted blocks."""
    li = _t(spark, sf_dir, "lineitem")
    staged = li >> pdt.filter(li.l_quantity > 45.0) >> pdt.collect()
    return (
        staged
        >> pdt.group_by(li.l_returnflag)
        >> pdt.summarize(n=pdt.count(), total_qty=li.l_quantity.sum().round(6))
        >> pdt.arrange(C.l_returnflag)
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH a AS (SELECT r_regionkey, r_name,
                  row_number() OVER (ORDER BY r_regionkey) AS rn
           FROM region),
     b AS (SELECT r_name AS rev_name,
                  row_number() OVER (ORDER BY r_regionkey DESC) AS rn
           FROM region)
SELECT a.r_regionkey, a.r_name, b.rev_name FROM a JOIN b USING (rn)
""")
def q_eval_aligned(spark, sf_dir):
    """eval_aligned: positional zip of two relations — both sides carry
    an explicit arrange so the alignment is deterministic."""
    r = _t(spark, sf_dir, "region")
    r2 = r >> pdt.alias("r2") >> pdt.arrange(C.r_regionkey.descending())
    rr = r >> pdt.arrange(C.r_regionkey)
    return (
        rr
        >> pdt.mutate(rev_name=pdt.eval_aligned(r2.r_name, with_=rr))
        >> pdt.select(r.r_regionkey, r.r_name, C.rev_name)
        >> pdt.export(pdt.Spark)
    )


@_q("""
WITH ev AS (
  SELECT user_id, ts::TIMESTAMP AS ts FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sess GROUP BY user_id, sid
""")
def q_stream_session(spark, sf_dir):
    """Structured-Streaming session windows (gap 30 min) drained with
    availableNow — must equal the batch gap-based sessionization the
    oracle computes (session start = first event in session)."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")))
    ev.load_events(spark, sf_dir).write.mode("overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=batch_schema)
    out = st.run_to_memory(
        st.session_window_agg(
            stream, "ts", gap="30 minutes", watermark="0 seconds",
            keys=["user_id"], aggs={"n_events": "count(1)"},
        ),
        f"q_stream_session_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
    )


@_q(f"""
WITH RECURSIVE lshp AS ({_lsh_pairs_sql(0.2)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lshp
  UNION
  SELECT id_b, id_a FROM lshp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT node, CAST(comp AS BIGINT) AS comp FROM (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
ORDER BY node
""")
def q_neardup_clusters(spark, sf_dir):
    """Connected components over the verified LSH near-dup pairs —
    hash-min label propagation on Spark vs a recursive-CTE transitive
    closure in DuckDB."""
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", k=3,
                                      n_hashes=16, bands=4, threshold=0.2)
    cc = dedup.connected_components(pairs)
    from pyspark.sql import functions as F

    return cc.select("node", F.col("comp").cast("long").alias("comp")) \
        .orderBy("node")


@_q(f"""
WITH RECURSIVE lshp AS ({_lsh_pairs_sql(0.2)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lshp
  UNION
  SELECT id_b, id_a FROM lshp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT node, CAST(comp AS BIGINT) AS comp FROM (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
ORDER BY node
""")
def q_neardup_clusters_star(spark, sf_dir):
    """Same clustering as q_neardup_clusters but via alternating
    large-star/small-star (extras/dedup.py connected_components_star,
    Kiveris et al. SoCC 2014): O(log^2 n) rounds independent of graph
    diameter, for corpora whose duplicate chains are long.  Identical
    oracle — both algorithms must produce the same minimum-id
    labeling."""
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", k=3,
                                      n_hashes=16, bands=4, threshold=0.2)
    cc = dedup.connected_components_star(pairs)
    from pyspark.sql import functions as F

    return cc.select("node", F.col("comp").cast("long").alias("comp")) \
        .orderBy("node")


@_q(f"""
WITH RECURSIVE lshp AS ({_lsh_pairs_sql(0.2)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lshp
  UNION
  SELECT id_b, id_a FROM lshp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS node, least(src, min(dst)) AS comp
  FROM reach GROUP BY src
)
SELECT count(*)                        AS n_docs,
       CAST(sum(doc_id) AS BIGINT)     AS id_sum
FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
""")
def q_neardup_corpus(spark, sf_dir):
    """Full corpus dedup: every near-dup cluster keeps only its
    minimum-id document; summarized as (count, id-sum) for a
    deterministic scalar comparison."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    kept = dedup.neardup_dedup(docs, "text", "doc_id", k=3, n_hashes=16,
                               bands=4, threshold=0.2)
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


# =============================================================================
# verb-interaction shapes (mirrors tests/test_verb_interactions.py /
# test_window_interactions.py / test_union_interactions.py /
# test_casts_diff.py — the reference's chained-verb equivalence cases)
# =============================================================================

@_q("""
SELECT r_name,
       count(*)                          AS n_pairs,
       CAST(sum(n_nationkey) AS BIGINT)  AS sum_nk
FROM nation JOIN region ON n_regionkey <= r_regionkey
GROUP BY r_name
ORDER BY r_name
""")
def q_theta_join(spark, sf_dir):
    """Inequality (theta) join — compiles to a broadcast nested-loop on
    a small side, never a cartesian shuffle of the big side."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n
        >> pdt.inner_join(r, on=n.n_regionkey <= r.r_regionkey)
        >> pdt.group_by(r.r_name)
        >> pdt.summarize(n_pairs=pdt.count(), sum_nk=n.n_nationkey.sum())
        >> pdt.arrange(C.r_name)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderkey, o_custkey,
       round(max(o_totalprice) OVER w, 6) AS run_max,
       round(min(o_totalprice) OVER w, 6) AS run_min
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_cum_extrema(spark, sf_dir):
    """Running max/min per customer in order-date order (extension
    window ops cum_max/cum_min — same single-shuffle frame as
    cum_sum)."""
    o = _t(spark, sf_dir, "orders")
    key = [C.o_orderdate, C.o_orderkey]
    return (
        o
        >> pdt.group_by(o.o_custkey)
        >> pdt.mutate(
            run_max=o.o_totalprice.cum_max(arrange=key).round(6),
            run_min=o.o_totalprice.cum_min(arrange=key).round(6),
        )
        >> pdt.ungroup()
        >> pdt.select(o.o_orderkey, o.o_custkey, C.run_max, C.run_min)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_custkey, o_totalprice, mn, mx, round(span, 6) AS span
FROM (
    SELECT o_custkey, o_totalprice,
           min(o_totalprice) OVER (PARTITION BY o_custkey) AS mn,
           max(o_totalprice) OVER (PARTITION BY o_custkey) AS mx,
           max(o_totalprice) OVER (PARTITION BY o_custkey)
             - min(o_totalprice) OVER (PARTITION BY o_custkey) AS span
    FROM orders
)
ORDER BY o_custkey, o_totalprice
LIMIT 500
""")
def q_window_chained(spark, sf_dir):
    """Chained grouped mutates — the second references the first's
    results; both windows share one hash-partition shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.group_by(o.o_custkey)
        >> pdt.mutate(mn=o.o_totalprice.min(), mx=o.o_totalprice.max())
        >> pdt.mutate(span=(C.mx - C.mn).round(6))
        >> pdt.ungroup()
        >> pdt.arrange(o.o_custkey, o.o_totalprice)
        >> pdt.slice_head(500)
        >> pdt.select(o.o_custkey, o.o_totalprice, C.mn, C.mx, C.span)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderpriority,
       round(avg(cnt), 6)  AS avg_cust_orders
FROM (
    SELECT o_custkey, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY o_custkey, o_orderpriority
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def q_chained_summarize(spark, sf_dir):
    """summarize over the result of a summarize (two agg scopes)."""
    o = _t(spark, sf_dir, "orders")
    g = (
        o
        >> pdt.group_by(o.o_custkey, o.o_orderpriority)
        >> pdt.summarize(cnt=pdt.count())
        >> pdt.alias("g")
    )
    return (
        g
        >> pdt.group_by(g.o_orderpriority)
        >> pdt.summarize(avg_cust_orders=C.cnt.mean().round(6))
        >> pdt.arrange(C.o_orderpriority)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT o_orderstatus,
       round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 6)
                                                           AS urgent_rev,
       count(*) FILTER (WHERE year(o_orderdate) = 1995)    AS n_1995
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""")
def q_agg_filter_kwarg(spark, sf_dir):
    """filter= kwarg on aggregates (reference aggregation.py:29-33)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o
        >> pdt.group_by(o.o_orderstatus)
        >> pdt.summarize(
            urgent_rev=o.o_totalprice.sum(
                filter=o.o_orderpriority == "1-URGENT").round(6),
            n_1995=pdt.count(filter=o.o_orderdate.dt.year() == 1995),
        )
        >> pdt.arrange(C.o_orderstatus)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT k, count(*) AS n FROM (
    SELECT c_nationkey AS k FROM customer
    UNION ALL
    SELECT s_nationkey AS k FROM supplier
)
GROUP BY k
ORDER BY k
""")
def q_union_rename(spark, sf_dir):
    """union of two differently-named projections via rename."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c >> pdt.select(c.c_nationkey) >> pdt.rename({"c_nationkey": "k"})
    b = s >> pdt.select(s.s_nationkey) >> pdt.rename({"s_nationkey": "k"})
    return (
        a
        >> pdt.union(b)
        >> pdt.group_by(C.k)
        >> pdt.summarize(n=pdt.count())
        >> pdt.arrange(C.k)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT CAST(trunc(l_extendedprice) AS BIGINT)     AS price_int,
       CAST(l_linenumber AS VARCHAR)              AS ln_str,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR)  AS ship_day,
       l_orderkey
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 400
""")
def q_cast_roundtrip(spark, sf_dir):
    """Cast semantics: float→int truncates toward zero (DuckDB CAST
    rounds — the oracle uses trunc), int→string, timestamp→date→string."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li
        >> pdt.mutate(
            price_int=li.l_extendedprice.cast(pdt.Int64()),
            ln_str=li.l_linenumber.cast(pdt.String()),
            ship_day=li.l_shipdate.cast(pdt.Date()).cast(pdt.String()),
        )
        >> pdt.arrange(li.l_orderkey, li.l_linenumber)
        >> pdt.slice_head(400)
        >> pdt.select(C.price_int, C.ln_str, C.ship_day, li.l_orderkey)
        >> pdt.export(pdt.Spark)
    )


def _bpe_oracle_sql() -> str:
    from pydiverse_transform_spark.extras.text import BPE_PRETOKEN_PATTERN

    pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
       length(regexp_extract_all(text, '{pat}'))        AS n_bpe,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\\s+'))
       END                                              AS n_ws
FROM documents
"""


@_q(_bpe_oracle_sql())
def q_bpe_tokens(spark, sf_dir):
    """Token-cost budgeting: whitespace count + GPT-2-shaped BPE
    pre-token count, both pure codegen regex expressions with an
    RE2-compatible pattern so any engine reproduces the exact stream
    (extras/text.py BPE_PRETOKEN_PATTERN)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.text import (
        bpe_token_count,
        token_count,
    )

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    return df.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
    )


@_q("""
SELECT doc_id, CAST(s // 150 AS BIGINT) AS chunk_id,
       substring(text, CAST(s AS INT) + 1, 200) AS chunk
FROM (
  SELECT doc_id, text,
         unnest(range(0, greatest(length(text), 1), 150)) AS s
  FROM documents
)
ORDER BY doc_id, chunk_id
""")
def q_chunk_text(spark, sf_dir):
    """Overlapping character chunking (size=200, overlap=50) — the
    training-data prep step between cleaning and tokenization.  Pure
    map-side sequence+transform+posexplode, no shuffle
    (extras/text.py chunk_text)."""
    from pydiverse_transform_spark.extras.text import chunk_text

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    return chunk_text(df, "text", size=200, overlap=50) \
        .select("doc_id", "chunk_id", "chunk")


@_q(f"""
WITH chunks AS (
  SELECT doc_id, lang, CAST(s // 400 AS BIGINT) AS chunk_id,
         substring(text, CAST(s AS INT) + 1, 400) AS chunk
  FROM (SELECT doc_id, lang, text,
               unnest(range(0, greatest(length(text), 1), 400)) AS s
        FROM documents)
), toks AS (
  SELECT lang, doc_id * 10000 + chunk_id AS k,
         {{tok}} AS n_tok
  FROM chunks
), packed AS (
  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS before
  FROM toks
)
SELECT lang, CAST(before // 256 AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(k) AS first_k, max(k) AS last_k
FROM packed GROUP BY lang, bin_id
ORDER BY lang, bin_id
""".format(tok=(
    "CASE WHEN length(regexp_replace(chunk, '^\\s+|\\s+$', '', 'g')) = 0 "
    "THEN CAST(0 AS BIGINT) ELSE CAST(len(string_split_regex("
    "regexp_replace(chunk, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS BIGINT) "
    "END")))
def q_packed_batches(spark, sf_dir):
    """End-to-end context-window assembly — the last mile of a
    pretraining data pipeline: chunk documents to bounded pieces
    (map-only), count tokens per chunk, lay chunks into 256-token bins
    with the concat-and-split packing cumsum (one window shuffle per
    language shard), and assemble per-bin manifests (one hash
    aggregation).  Two shuffles end-to-end; the oracle replays
    chunking, token counts, the packing layout and the bin rollup."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import sampling as sp
    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    chunks = tx.chunk_text(docs, "text", size=400, overlap=0)
    toks = chunks.select(
        "lang",
        (F.col("doc_id") * 10000 + F.col("chunk_id")).alias("k"),
        tx.token_count(F.col("chunk")).alias("n_tok"),
    )
    packed = sp.pack_sequences(toks, "n_tok", budget=256,
                               order_by="k", partition_by="lang")
    return (
        packed.groupBy("lang", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum("n_tok").alias("n_tokens"),
             F.min("k").alias("first_k"),
             F.max("k").alias("last_k"))
        .orderBy("lang", "bin_id")
    )


def _shingle_all_sql(col: str, k: int = 3) -> str:
    """Non-deduplicated k-word shingle list (mirrors the windows of
    extras.dedup.word_shingles before array_distinct)."""
    words = _TOKENS_SQL.format(col=col)
    return (
        f"list_transform(range(0, greatest(len({words}) - {k}, 0) + 1), "
        f"j -> array_to_string(({words})[j + 1: j + {k}], ' '))"
    )


@_q(f"""
SELECT doc_id,
       round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
         AS rep_ratio
FROM (SELECT doc_id, {_shingle_all_sql('text')} AS sh FROM documents)
ORDER BY doc_id
""")
def q_repetition_ratio(spark, sf_dir):
    """Within-document repetition (1 - distinct/total 3-word shingles) —
    boilerplate/template-spam quality signal, pure array expressions
    (extras/text.py repetition_ratio)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.text import repetition_ratio

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    return df.select(
        "doc_id", repetition_ratio(F.col("text")).alias("rep_ratio")
    )


@_q(f"""
WITH probe AS (
  SELECT DISTINCT unnest({_shingle_sql('text')}) AS psh
  FROM documents WHERE doc_id % 97 = 0
),
doc_sh AS (
  SELECT doc_id, unnest({_shingle_sql('text')}) AS psh FROM documents
),
bad AS (SELECT DISTINCT doc_id FROM doc_sh JOIN probe USING (psh))
SELECT count(*) AS n_clean, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
""")
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: drop every document sharing a 3-word
    shingle with the probe set (doc_id % 97 = 0 stands in for an eval
    benchmark).  The probe shingle set broadcasts, so the corpus never
    shuffles (extras/dedup.py decontaminate)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    probe = docs.filter(F.col("doc_id") % 97 == 0)
    clean = dedup.decontaminate(docs, probe)
    return clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@_q(f"""
WITH probe AS (
  SELECT DISTINCT unnest({_shingle_sql('text')}) AS psh
  FROM documents WHERE doc_id % 97 = 0
),
doc_sh AS (
  SELECT doc_id, unnest({_shingle_sql('text')}) AS psh FROM documents
),
bad AS (SELECT DISTINCT doc_id FROM doc_sh JOIN probe USING (psh))
SELECT count(*) AS n_clean, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
""")
def q_decontaminate_bloom(spark, sf_dir):
    """Same decontamination semantics through the Bloom-prefilter lane
    (extras/bloom.py, r11): the probe shingle set becomes an
    ~1.2-byte/key bitmap broadcast as ONE row; the corpus-side
    membership test is a codegen conjunction of element_at bit probes
    (map-only, no false negatives), and only the ~fpp surviving
    candidate shingles reach the exact verify semi-join — the lane for
    probe sets too large to broadcast as a JVM hash relation.  The
    verify join removes every false positive, so the oracle is the
    exact-decontamination SQL, byte-identical results."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    probe = docs.filter(F.col("doc_id") % 97 == 0)
    clean = dedup.decontaminate(docs, probe, method="bloom", fpp=0.01)
    return clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@_q(r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           text || ' contact: ' || source || '@corp.example id '
                || CAST(doc_id + 1000 AS VARCHAR),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
           '<EMAIL>', 'g'),
         '[0-9][0-9][0-9]+', '<NUM>', 'g') AS scrubbed
FROM documents
ORDER BY doc_id
""")
def q_redact_pii(spark, sf_dir):
    """PII scrubbing: email + long-digit-run redaction with an
    RE2-compatible pattern so Java regex (Spark) and RE2 (DuckDB) make
    identical replacements.  The redacted text is derived from real
    columns (text ⧺ source-based address ⧺ numeric id) so the rewrite
    actually fires on every row (extras/text.py redact_pii)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.text import redact_pii

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    synth = F.concat(
        F.col("text"), F.lit(" contact: "), F.col("source"),
        F.lit("@corp.example id "),
        (F.col("doc_id") + 1000).cast("string"),
    )
    return df.select("doc_id", redact_pii(synth).alias("scrubbed"))


@_q("""
SELECT doc_id, source,
       CAST(FLOOR(before / 512) AS BIGINT) AS bin_id,
       CAST(before % 512 AS BIGINT)        AS bin_pos
FROM (
  SELECT doc_id, source,
         coalesce(sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM documents
)
ORDER BY doc_id
""")
def q_pack_sequences(spark, sf_dir):
    """Concat-and-split sequence packing for training batches: documents
    laid out per source in doc_id order and cut every 512 tokens
    (n_chars stands in for the token count).  One window cum-sum,
    sharded on source so no single-reducer window at scale
    (extras/sampling.py pack_sequences)."""
    from pydiverse_transform_spark.extras.sampling import pack_sequences

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    return pack_sequences(df, "n_chars", budget=512, order_by="doc_id",
                          partition_by="source") \
        .select("doc_id", "source", "bin_id", "bin_pos")


# =============================================================================
# deterministic sampling / splitting / mixing (extras.sampling)
# =============================================================================

# DuckDB twin of extras.sampling.hash_uniform
def _uni_sql(key: str, salt: str = "") -> str:
    return (f"(('0x' || substr(md5({key}::VARCHAR || '{salt}'), 1, 8))"
            f"::BIGINT / 4294967296.0)")


@_q(f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_uni_sql('doc_id')} < 0.2
""")
def q_hash_sample(spark, sf_dir):
    """Deterministic 20% sample keyed on md5(doc_id) — identical row
    selection in any engine / any partitioning (extras/sampling.py)."""
    from pydiverse_transform_spark.extras.sampling import hash_sample

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    return hash_sample(df, 0.2, "doc_id").select(
        "doc_id", "lang", "n_chars")


@_q(f"""
SELECT split, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM (
  SELECT doc_id,
         CASE WHEN {_uni_sql('doc_id', 'split')} < 0.8 THEN 'train'
              WHEN {_uni_sql('doc_id', 'split')} < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
ORDER BY split
""")
def q_hash_split(spark, sf_dir):
    """Permanent train/val/test assignment: a row's split never changes
    under appends/repartitioning (extras/sampling.py hash_split)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.sampling import hash_split

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1},
                     "doc_id", salt="split")
    return (
        out.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("doc_id").alias("min_id"),
             F.max("doc_id").alias("max_id"))
        .orderBy("split")
    )


@_q(f"""
SELECT lang, count(*) AS n
FROM documents
WHERE {_uni_sql('doc_id', 'strat')} <
      CASE WHEN lang = 'en' THEN 0.1
           WHEN lang = 'de' THEN 0.5
           ELSE 1.0 END
GROUP BY lang
ORDER BY lang
""")
def q_stratified_sample(spark, sf_dir):
    """Per-stratum rates (downsample dominant languages, keep the rest)
    as ONE map-stage CASE filter — no sampleByKey job, no count pass
    (extras/sampling.py stratified_sample)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.sampling import stratified_sample

    df = _rp(spark, f"{sf_dir}/documents.parquet")
    out = stratified_sample(df, {"en": 0.1, "de": 0.5}, "lang", "doc_id",
                            salt="strat", default_fraction=1.0)
    return (out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang"))


@_q(f"""
SELECT src, count(*) AS n
FROM (
  SELECT 0 AS src FROM documents WHERE {_uni_sql('doc_id', 'mix#0')} < 1.0
  UNION ALL
  SELECT 1 AS src FROM documents WHERE {_uni_sql('doc_id', 'mix#1')} < 0.3
)
GROUP BY src
ORDER BY src
""")
def q_weighted_mix(spark, sf_dir):
    """Training-mixture recipe: per-source keep rates + UNION ALL, zero
    shuffles before the final count (extras/sampling.py weighted_mix)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.sampling import weighted_mix

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = weighted_mix([(docs, 1.0), (docs, 0.3)], "doc_id", salt="mix",
                       source_col="src")
    return (out.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("src"))


@_q("""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey
""")
def q_topk_per_group(spark, sf_dir):
    """Top-k rows per group (quality filtering shape): one shuffle on
    the group key, deterministic via tiebreak column
    (extras/sampling.py topk_per_group)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.sampling import topk_per_group

    o = _rp(spark, f"{sf_dir}/orders.parquet")
    return topk_per_group(
        o, ["o_orderpriority"], "o_totalprice", 3,
        tiebreak_col="o_orderkey",
    ).select("o_orderpriority", "o_orderkey", "o_totalprice").orderBy(
        "o_orderpriority", F.col("o_totalprice").desc(), "o_orderkey")


@_q("""
SELECT doc_id, shard, shard_pos FROM (
  SELECT doc_id,
         (('0x' || substr(h, 1, 4))::BIGINT % 16)            AS shard,
         CAST(row_number() OVER (
              PARTITION BY (('0x' || substr(h, 1, 4))::BIGINT % 16)
              ORDER BY h, doc_id) AS BIGINT)                 AS shard_pos
  FROM (SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || 's1') AS h
        FROM documents)
)
ORDER BY shard, shard_pos
""")
def q_deterministic_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle (extras/sampling.py
    deterministic_shuffle): every row gets a (shard, shard_pos) address
    that is a pure function of md5(key || salt) — the oracle reproduces
    the exact addressing in SQL, so the hash check proves the
    permutation is engine-independent (the whole point of the op vs
    orderBy(rand()))."""
    from pydiverse_transform_spark.extras.sampling import (
        deterministic_shuffle,
    )

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = deterministic_shuffle(docs, "doc_id", salt="s1", n_shards=16)
    return out.select("doc_id", "shard", "shard_pos") \
        .orderBy("shard", "shard_pos")


@_q("""
WITH words AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS ws
  FROM documents
), numbered AS (
  SELECT doc_id, ws,
         unnest(generate_series(1,
                CAST(ceil(len(ws) / 3.0) AS BIGINT))) AS pos
  FROM words
  WHERE len(ws) > 0
), segs AS (
  SELECT doc_id, pos,
         array_to_string(
           ws[CAST((pos - 1) * 3 + 1 AS BIGINT):
              CAST(least(pos * 3, len(ws)) AS BIGINT)], ' ') AS seg
  FROM numbered
), hot AS (
  SELECT seg FROM segs GROUP BY seg HAVING count(*) > 2
), kept AS (
  SELECT s.doc_id, s.pos, s.seg FROM segs s
  ANTI JOIN hot h ON s.seg = h.seg
), rebuilt AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS n_clean_chars,
       CASE WHEN length(coalesce(r.clean_text, '')) = 0 THEN 0.0
            ELSE (length(coalesce(r.clean_text, ''))
                  - length(regexp_replace(coalesce(r.clean_text, ''),
                                          '\\s', '', 'g'))) * 1.0
                 / length(coalesce(r.clean_text, '')) END AS ws_ratio
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
""")
def q_remove_repeated_segments(spark, sf_dir):
    """Corpus-level boilerplate removal (extras/text.py
    remove_repeated_segments, the C4/RefinedWeb trick at word-segment
    granularity): 3-word segments occurring >2 times corpus-wide are
    dropped and documents reassembled from the survivors in order.  The
    oracle rebuilds the same pipeline in SQL (unnest + anti join +
    ordered string_agg).  Also covers segment_words and
    whitespace_ratio."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import text as tx

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = tx.remove_repeated_segments(docs, "text", "doc_id",
                                      seg_words=3, max_df=2)
    return (
        out.withColumn("n_clean_chars",
                       F.length("clean_text").cast("long"))
        .withColumn("ws_ratio", tx.whitespace_ratio(F.col("clean_text")))
        .select("doc_id", "clean_text", "n_clean_chars", "ws_ratio")
        .orderBy("doc_id")
    )


@_q("""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g'),
             '\\s+'), x -> x <> '') AS ws
  FROM documents
), numbered AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST(len(ws) - 8 AS BIGINT))) AS pos
  FROM words WHERE len(ws) >= 8
), occ AS (
  SELECT doc_id, pos,
         md5(array_to_string(
             ws[CAST(pos + 1 AS BIGINT):CAST(pos + 8 AS BIGINT)], ' ')) AS h
  FROM numbered
), ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM occ
), bad AS (
  SELECT doc_id, pos AS s, pos + 8 AS e FROM ranked WHERE cnt >= 2 AND rn > 1
), flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w THEN 1 ELSE 0
         END AS nw
  FROM bad
  WINDOW w AS (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT doc_id, s, e,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM flagged
), merged AS (
  SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g
), covered AS (
  SELECT doc_id,
         unnest(generate_series(CAST(s AS BIGINT), CAST(e - 1 AS BIGINT))) AS idx
  FROM merged
), tokpos AS (
  SELECT doc_id,
         unnest(ws) AS tok,
         unnest(generate_series(0, CAST(len(ws) - 1 AS BIGINT))) AS idx
  FROM words WHERE len(ws) > 0
), kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM tokpos t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_after
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(len(w.ws) AS BIGINT) AS n_tokens_before,
       CAST(coalesce(r.n_after, 0) AS BIGINT) AS n_tokens_after
FROM words w LEFT JOIN rebuilt r USING (doc_id)
ORDER BY w.doc_id
""")
def q_substring_dedup(spark, sf_dir):
    """Cross-document substring dedup (extras/dedup.py substring_dedup):
    the ExactSubstr operation of Lee et al. 2022 as a Spark pipeline —
    hash every sliding 8-token window, find hashes occurring >= 2 times
    corpus-wide, cut every non-canonical occurrence (canonical = min
    (doc_id, pos)) after merging overlapping removal intervals per doc
    (gaps-and-islands), and rebuild survivors map-side with a codegen
    `exists` over the merged-interval array.  The oracle replays the
    whole pipeline in SQL: same tokenization, same md5 window hashes,
    same canonical rule (row_number over (doc_id, pos)), same interval
    merge, anti-join token cut and ordered string_agg rebuild — so the
    value hash pins window hashing, canonicalization, interval algebra
    and reassembly all at once."""
    from pydiverse_transform_spark.extras.dedup import substring_dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return (
        substring_dedup(docs, "text", "doc_id", window=8)
        .select("doc_id", "clean_text", "n_tokens_before",
                "n_tokens_after")
        .orderBy("doc_id")
    )


@_q("""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g'),
             '\\s+'), x -> x <> '') AS ws
  FROM documents
), numbered AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST(len(ws) - 6 AS BIGINT))) AS pos
  FROM words WHERE len(ws) >= 6
), occ AS (
  SELECT doc_id, pos,
         md5(array_to_string(
             ws[CAST(pos + 1 AS BIGINT):CAST(pos + 6 AS BIGINT)], ' ')) AS h
  FROM numbered
), ranked AS (
  SELECT h, doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM occ
)
SELECT h, CAST(cnt AS BIGINT) AS n_occurrences,
       CAST(doc_id AS BIGINT) AS canon_id,
       CAST(pos AS BIGINT) AS canon_pos
FROM ranked WHERE rn = 1 AND cnt >= 2
ORDER BY n_occurrences DESC, h LIMIT 20
""")
def q_duplicate_spans(spark, sf_dir):
    """Corpus duplication profile (extras/dedup.py duplicate_spans —
    the detection stage of substring_dedup's "rescan" strategy, whose
    groupBy + min(struct) canonicalization the driver's substring-dedup
    row bypasses via the default "sort" strategy): the 20
    most-duplicated 6-token windows with occurrence counts and the
    canonical (min doc_id, min pos) occurrence.  Fully ordered (ties on
    n_occurrences break by hash); the oracle re-derives the canonical
    rule with row_number over (doc_id, pos)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras.dedup import duplicate_spans

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return (
        duplicate_spans(docs, "text", "doc_id", window=6)
        .select(
            "h",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("canon_id").cast("long").alias("canon_id"),
            F.col("canon_pos").cast("long").alias("canon_pos"),
        )
        .orderBy(F.col("n_occurrences").desc(), "h")
        .limit(20)
    )


@_q("""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g'),
             '\\s+'), x -> x <> '') AS ws
  FROM documents
), numbered AS (
  SELECT doc_id, ws,
         unnest(generate_series(0, CAST(len(ws) - 8 AS BIGINT))) AS pos
  FROM words WHERE len(ws) >= 8
), occ AS (
  SELECT doc_id, pos,
         md5(array_to_string(
             ws[CAST(pos + 1 AS BIGINT):CAST(pos + 8 AS BIGINT)], ' ')) AS h
  FROM numbered
), counted AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM occ
), bad AS (
  SELECT doc_id, pos AS s, pos + 8 AS e FROM counted WHERE cnt >= 2
), flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w THEN 1 ELSE 0
         END AS nw
  FROM bad
  WINDOW w AS (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
  SELECT doc_id, s, e,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM flagged
), merged AS (
  SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g
), covered AS (
  SELECT doc_id,
         unnest(generate_series(CAST(s AS BIGINT), CAST(e - 1 AS BIGINT))) AS idx
  FROM merged
), tokpos AS (
  SELECT doc_id,
         unnest(ws) AS tok,
         unnest(generate_series(0, CAST(len(ws) - 1 AS BIGINT))) AS idx
  FROM words WHERE len(ws) > 0
), kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM tokpos t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text,
         count(*) AS n_after
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(len(w.ws) AS BIGINT) AS n_tokens_before,
       CAST(coalesce(r.n_after, 0) AS BIGINT) AS n_tokens_after
FROM words w LEFT JOIN rebuilt r USING (doc_id)
ORDER BY w.doc_id
""")
def q_stream_span_cut(spark, sf_dir):
    """Streaming span removal (streaming/__init__.py span_cut_stream):
    duplicated 8-token window hashes learned batch-side over the corpus
    (duplicate_spans) are applied to the SAME corpus replayed as a
    stream — stateless mapInPandas with a broadcast hash set, so every
    occurrence of a duplicated window is cut (no canonical election:
    that is the documented streaming contract, distinct from batch
    substring_dedup).  The oracle replays it in SQL: identical CTE
    chain to q_substring_dedup's minus the rn > 1 canonical filter."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras.dedup import duplicate_spans

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    dup = duplicate_spans(docs, "text", "doc_id", window=8)
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")) + "_spancut")
    docs.coalesce(1).write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = spark.readStream.schema(schema).parquet(staged)
    out = st.run_to_memory(
        st.span_cut_stream(stream, dup, "text", window=8)
        .select("doc_id", "clean_text", "n_tokens_before",
                "n_tokens_after"),
        f"q_stream_span_cut_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.orderBy("doc_id")


@_q(f"""
WITH {_minhash_sides_sql()},
hits AS (
  SELECT DISTINCT p.doc_id
  FROM p_b p JOIN c_b c ON p.band = c.band AND p.h = c.h
  WHERE {_MINHASH_EST_SQL} >= 0.45
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
ORDER BY doc_id
""")
def q_stream_neardup_ingest(spark, sf_dir):
    """Micro-batch ingest dedup against the persisted MinHash-LSH index
    (streaming/__init__.py neardup_ingest_stream, snapshot mode): the
    probe quarter of the corpus arrives as 4 micro-batches; each batch
    drops docs with an estimated near-dup in the index and lands the
    survivors under an idempotent per-batch partition dir.  Snapshot
    mode (admit=False) is order-independent, so the streamed survivor
    set equals the batch neardup_filter_new — the oracle is that batch
    SQL.  The cross-batch admit lane (first-come-wins, replay-safe
    own-row exclusion) is batching-dependent by design and pinned by
    tests/test_streaming.py instead."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import dedup

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    root = _minhash_index_tmp(sf_dir, "stream")
    idx = os.path.join(root, "idx")
    dedup.write_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), idx)
    src = os.path.join(root, "src")
    inc = docs.filter(F.col("doc_id") % 4 == 0) \
        .select("doc_id", "text", "lang", "source")
    inc.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1").parquet(src)
    out = os.path.join(root, "out")
    q = st.neardup_ingest_stream(stream, idx, out,
                                 os.path.join(root, "ckpt"),
                                 threshold=0.45, admit=False,
                                 available_now=True)
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "q_stream_neardup_ingest: availableNow drain exceeded 180s "
            "— failing loudly instead of comparing a partial sink")
    return (spark.read.parquet(out)
            .select("doc_id", "lang", "source").orderBy("doc_id"))


@_q("""
WITH ev AS (
  SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
), flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(session_id) AS BIGINT) AS n_sessions
FROM sess GROUP BY user_id ORDER BY user_id
""")
def q_stream_stateful_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (streaming/__init__.py
    stateful_sessionize, applyInPandasWithState): per-event gap-based
    session ids assigned incrementally with per-user state, drained with
    availableNow and aggregated per user — must equal the batch
    window-function sessionization the oracle computes."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # single-file staging => the availableNow drain is ONE micro-batch,
    # so the per-batch event-time sort inside the kernel covers the
    # whole corpus (the operator's documented cross-batch contract is
    # per-key time-ordered arrival; the multi-batch path is exercised
    # by tests/test_streaming.py with time-ordered files)
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")) + "_one")
    ev.load_events(spark, sf_dir).coalesce(1).write.mode(
        "overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=batch_schema)
    sess = st.stateful_sessionize(stream, gap_minutes=30)
    out = st.run_to_memory(
        sess, f"q_stream_sess_ids_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.max("session_id").alias("n_sessions"))
        .orderBy("user_id")
    )


@_q("""
SELECT event_id, user_id, event_type, round(value, 6) AS value_r
FROM events ORDER BY event_id
""")
def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming/__init__.py dedup_stream,
    dropDuplicatesWithinWatermark): the staged events are doubled
    (union all) before streaming; deduping on a full-row content
    fingerprint (md5 over the JSON of every column) must recover
    exactly the original rows."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    doubled = _scratch(os.path.basename(sf_dir.rstrip("/")) + "_doubled")
    base = ev.load_events(spark, sf_dir)
    # single file => one availableNow micro-batch, and a watermark wider
    # than the corpus time-span => no fingerprint can expire before its
    # duplicate arrives, whatever the replay batching
    base.unionAll(base).coalesce(1).write.mode(
        "overwrite").parquet(doubled)
    schema = spark.read.parquet(doubled).schema
    stream = st.read_event_stream(spark, doubled, schema=schema)
    # full-row fingerprint: to_json(struct(*)) is unambiguous across
    # same-schema rows (a null field is omitted, nothing else is), so
    # an event_id collision with a differing payload is NOT dropped
    deduped = st.dedup_stream(
        stream,
        F.md5(F.to_json(F.struct(*[F.col(c) for c in schema.fieldNames()]))),
        ts_col="ts", watermark="800 hours",
    )
    out = st.run_to_memory(
        deduped, f"q_stream_dedup_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.select(
        "event_id", "user_id", "event_type",
        F.round("value", 6).alias("value_r"),
    ).orderBy("event_id")


def _stream_neardup_sql(bits: int = 16) -> str:
    """Batch twin of neardup_stream: keep the first (arrival = doc_id
    order) document per simhash sketch — same md5 token hashes and
    sign-sum folds as extras/dedup.py simhash."""
    toks = _TOKENS_SQL.format(col="lower(text)")
    th = (f"list_transform({toks}, "
          f"w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)")
    terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(th, "
        f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id) AS rn
  FROM (SELECT doc_id, lang, n_chars, ({terms}) AS sh
        FROM (SELECT doc_id, lang, n_chars, {th} AS th FROM documents)))
WHERE rn = 1 ORDER BY doc_id
"""


@_q(_stream_neardup_sql(16))
def q_stream_neardup(spark, sf_dir):
    """Streaming near-dup suppression (streaming/__init__.py
    neardup_stream): documents arrive as a stream in doc_id order and
    the first document per 16-bit simhash sketch survives; the oracle
    replays the sketch and the keep-first rule in batch SQL.  The
    watermark is wider than the synthesized event-time span, so no
    sketch expires mid-replay — arrival order is the dedup order."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _scratch("neardup_" + os.path.basename(sf_dir.rstrip("/")))
    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    # one file in doc_id order => one availableNow micro-batch whose
    # row order IS the oracle's keep-first order
    (docs.orderBy("doc_id")
     .withColumn("ts", F.timestamp_seconds(
         F.lit(1700000000) + F.col("doc_id")))
     .coalesce(1).write.mode("overwrite").parquet(staged))
    schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=schema)
    kept = st.neardup_stream(stream, "text", ts_col="ts",
                             watermark="4000 hours", bits=16)
    out = st.run_to_memory(
        kept, f"q_stream_neardup_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@_q("""
SELECT bucket_start, event_type, n_events
FROM (
  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // 3600000000)
                        * 3600000000) AS bucket_start,
         event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
WHERE bucket_start + INTERVAL 1 HOUR
      <= (SELECT max(ts::TIMESTAMP) FROM events)
ORDER BY bucket_start, event_type
""")
def q_stream_parquet_sink(spark, sf_dir):
    """Durable streaming sink (streaming/__init__.py
    write_stream_parquet): hourly rollup written to parquet with a
    checkpoint (exactly-once), availableNow drain, then read back.  In
    append mode only watermark-closed windows emit, so the oracle
    excludes windows not closed by the final watermark (= max event
    time)."""
    import uuid

    from pyspark.sql import functions as F

    from pydiverse_transform_spark import streaming as st
    from pydiverse_transform_spark.extras import events as ev

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _scratch(os.path.basename(sf_dir.rstrip("/")))
    ev.load_events(spark, sf_dir).write.mode("overwrite").parquet(staged)
    batch_schema = spark.read.parquet(staged).schema
    stream = st.read_event_stream(spark, staged, schema=batch_schema)
    agg = st.tumbling_window_agg(
        stream, "ts", window="1 hour", watermark="0 seconds",
        keys=["event_type"], aggs={"n_events": "count(1)"},
    )
    run_id = uuid.uuid4().hex[:8]
    sink = _scratch(f"sink_{run_id}")
    q = st.write_stream_parquet(
        agg, os.path.join(sink, "data"),
        os.path.join(sink, "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    return (
        spark.read.parquet(os.path.join(sink, "data"))
        .select(
            F.col("window_start").cast("timestamp_ntz")
            .alias("bucket_start"),
            "event_type", "n_events",
        )
        .orderBy("bucket_start", "event_type")
    )


@_q("""
WITH h AS (
  SELECT doc_id, md5(text) AS hx FROM documents
), dims AS (
  SELECT doc_id,
         64 + ('0x' || substr(hx, 1, 4))::BIGINT % 1985   AS w0,
         64 + ('0x' || substr(hx, 5, 4))::BIGINT % 1985   AS h0,
         500 + ('0x' || substr(hx, 1, 6))::BIGINT % 30000 AS duration_ms
  FROM h
)
SELECT doc_id,
       CASE WHEN greatest(w0, h0) > 256
            THEN CAST(floor(w0 * (256.0 / greatest(w0, h0))) AS BIGINT)
            ELSE w0 END AS width,
       CASE WHEN greatest(w0, h0) > 256
            THEN CAST(floor(h0 * (256.0 / greatest(w0, h0))) AS BIGINT)
            ELSE h0 END AS height,
       CAST(ceil(duration_ms / 1000.0) AS BIGINT)              AS n_frames,
       CAST((ceil(duration_ms / 1000.0) - 1) * 1000 AS BIGINT) AS last_ts_ms
FROM dims
ORDER BY doc_id
""")
def q_media_resize_frames(spark, sf_dir):
    """Multimodal resize + video frame-sampling plumbing
    (extras/multimodal.py resize_images / extract_frames): aspect-
    preserving resize of the md5-derived stub dimensions, and the 1->N
    ``mapInPandas`` frame explosion aggregated back to (n_frames,
    last_ts) per doc.  The oracle reproduces the deterministic stub
    math bit-for-bit (Python int() truncation == SQL floor on the same
    IEEE expression order)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import multimodal as mm

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    media = mm.with_media_column(docs, "text", mime="image/x-stub")
    resized = mm.resize_images(media, "media", "doc_id", max_side=256,
                               deterministic_fake=True)
    frames = mm.extract_frames(media, "media", "doc_id", every_ms=1000,
                               deterministic_fake=True)
    frame_agg = frames.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )
    return (
        resized.select("id", "width", "height")
        .join(frame_agg, "id")
        .select(F.col("id").alias("doc_id"), "width", "height",
                "n_frames", "last_ts_ms")
        .orderBy("doc_id")
    )


@_q("""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'
GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_time_partitioned_scan(spark, sf_dir):
    """Time-partitioned corpus layout (extras/events.py
    write_time_partitioned + sources/sinks.py verb): events written with
    a derived day partition column, re-read with a dt range predicate
    that prunes at the PARTITION level (directories for other days are
    skipped from metadata — plan proof tests/test_time_partitioned.py),
    then rolled up per (day, event_type).  The oracle computes the same
    rollup from the raw events with a date filter — engine-independent
    results, partition pruning being purely a physical-layout win."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import events as ev

    staged = _scratch("daily_" + os.path.basename(sf_dir.rstrip("/")))
    ev.write_time_partitioned(ev.load_events(spark, sf_dir), staged,
                              ts_col="ts", granularity="day")
    return (
        spark.read.parquet(staged)
        .filter(F.col("dt").between("2024-01-02", "2024-01-03"))
        .groupBy(F.col("dt").cast("string").alias("dt"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("dt", "event_type")
    )


@_q("""
SELECT doc_id, lang, n_chars
FROM (SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents)
WHERE cum - n_chars < 20000
ORDER BY doc_id
""")
def q_token_budget(spark, sf_dir):
    """Training-mix budget fill (extras/sampling.py take_token_budget):
    walk each language's documents in doc_id order and keep rows until
    20k chars are taken (the crossing row is kept — every non-empty
    group fills to at least the budget).  ONE window cumsum per group,
    no iteration."""
    from pydiverse_transform_spark.extras import sampling as sp

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return (
        sp.take_token_budget(
            docs.select("doc_id", "lang", "n_chars"),
            "n_chars", 20000, order_by="doc_id", partition_by=["lang"],
        )
        .orderBy("doc_id")
    )


_DSIR_NB = 4096


def _dsir_ctes(nb: int = _DSIR_NB) -> str:
    """Shared DSIR oracle CTEs: tokenize -> unigrams+bigrams -> md5
    buckets -> Laplace-smoothed target/raw distributions -> per-doc
    log-ratio weight (extras/importance.py twin; target = lang='en')."""
    toks = _TOKENS_SQL.format(col="coalesce(text, '')")
    return f"""
toksd AS (
  SELECT doc_id, lang, {toks} AS t FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toksd
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(t[1:len(t)-1],
                               (w, i) -> w || ' ' || t[i+1])) AS g
  FROM toksd
), bucketed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {nb} AS b
  FROM grams
), tcnt AS (
  SELECT b, count(*) AS n FROM bucketed WHERE lang = 'en' GROUP BY b
), rcnt AS (
  SELECT b, count(*) AS n FROM bucketed GROUP BY b
), tot AS (
  SELECT (SELECT count(*) FROM bucketed WHERE lang = 'en') AS t_n,
         (SELECT count(*) FROM bucketed) AS r_n
), lut AS (
  SELECT r.b,
         ln((coalesce(t.n, 0) + 1.0) / (tot.t_n + {nb}))
         - ln((r.n + 1.0) / (tot.r_n + {nb})) AS lr
  FROM rcnt r LEFT JOIN tcnt t USING (b), tot
), wts AS (
  SELECT doc_id, sum(lr) AS w
  FROM bucketed JOIN lut USING (b) GROUP BY doc_id
)"""


_DSIR_MODELS: dict = {}


def _dsir_model(spark, sf_dir):
    """dsir_fit once per corpus, memoized — the fit/apply split
    (importance.dsir_fit/dsir_score): a real pipeline fits the model
    once and scores every batch/shard map-only with the cached LUT, so
    the queries below share one fit the same way.  The model is a
    deterministic pure function of the corpus; re-fitting per call
    cannot change any result, only re-pay the two training scans."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import importance as imp

    key = (sf_dir, _DSIR_NB)
    if key not in _DSIR_MODELS:
        docs = _rp(spark, f"{sf_dir}/documents.parquet")
        _DSIR_MODELS[key] = imp.dsir_fit(
            docs, F.col("lang") == "en", n_buckets=_DSIR_NB)
    return _DSIR_MODELS[key]


@_q(f"""
WITH {_dsir_ctes()}
SELECT d.doc_id, d.lang, round(wts.w, 6) AS dsir_w
FROM documents d JOIN wts USING (doc_id)
ORDER BY d.doc_id
""")
def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (extras/importance.py; Xie et al.
    2023): hashed unigram+bigram bucket distributions of the target
    (English subset) and the raw pool, per-document log-likelihood
    ratio.  Model fit = two bounded bucket-count aggregations
    (dsir_fit, memoized per corpus); scoring is map-only (dsir_score:
    the 4096-entry log-ratio LUT is a literal in the plan — zero
    joins, zero shuffles, plan-asserted in tests/test_importance.py)."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import importance as imp

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    out = imp.dsir_score(docs, _dsir_model(spark, sf_dir))
    return (
        out.select("doc_id", "lang",
                   F.round("dsir_weight", 6).alias("dsir_w"))
        .orderBy("doc_id")
    )


@_q(f"""
WITH {_dsir_ctes()},
scored AS (
  SELECT doc_id,
         w - ln(-ln(greatest(
             ('0x' || substr(md5(doc_id::VARCHAR || 'dsir'), 1, 8))::BIGINT
             / 4294967296.0,
             1.0 / 4294967296.0))) AS s
  FROM wts
)
SELECT doc_id, round(s, 6) AS gumbel_score
FROM scored ORDER BY s DESC, doc_id LIMIT 60
""")
def q_dsir_sample(spark, sf_dir):
    """Importance RESAMPLING: draw 60 documents without replacement
    with probability proportional to exp(dsir_weight), via the
    deterministic hash-Gumbel top-k (extras/importance.py gumbel_topk —
    the Gumbel-max / Efraimidis-Spirakis rule as ONE TakeOrdered).  The
    oracle replays weighting, the md5-Gumbel noise and the top-k.
    Scoring applies the memoized dsir_fit model (fit/apply split) —
    map-only, no refit."""
    from pyspark.sql import functions as F

    from pydiverse_transform_spark.extras import importance as imp

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    w = imp.dsir_score(docs, _dsir_model(spark, sf_dir))
    kept = imp.gumbel_topk(w, "dsir_weight", 60, "doc_id", salt="dsir",
                           score_col="__s")
    return (
        kept.select("doc_id", F.round("__s", 6).alias("gumbel_score"))
        .orderBy(F.col("gumbel_score").desc(), "doc_id")
    )


@_q("""
WITH c AS (
  SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang
), r AS (
  SELECT lang,
         least(1.0, pow(n, 0.5) / sum(pow(n, 0.5)) OVER ()
                    * sum(n) OVER () / n) AS rate
  FROM c
)
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN r USING (lang)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'tmix'), 1, 8))::BIGINT
      / 4294967296.0 < r.rate
ORDER BY d.doc_id
""")
def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled rebalancing (extras/importance.py
    temperature_mix; the multilingual-sampling recipe of XLM): the
    corpus is language-skewed (en ~2.2x any other lang), so the alpha=0.5
    keep rate downsamples English and keeps the small languages whole
    (their rates cap at 1) while preserving the expected corpus size.
    One bounded counts aggregation broadcast back — no driver action
    (plan-asserted job-free build in tests/test_importance.py)."""
    from pydiverse_transform_spark.extras import importance as imp

    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    return (
        imp.temperature_mix(docs, "lang", "doc_id", alpha=0.5,
                            salt="tmix")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


@_q("""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey BETWEEN 1000 AND 2000
ORDER BY o_orderkey
""")
def q_sorted_scan(spark, sf_dir):
    """Range-sorted corpus layout (sources/sinks.py write_sorted): orders
    written through ONE repartitionByRange shuffle into files with
    disjoint, ordered key ranges, re-read with a key-range predicate that
    parquet footer min/max stats satisfy from a subset of files (file/
    row-group skipping — layout proof tests/test_write_sorted.py).  The
    oracle reads the raw table: sorting is purely a physical-layout win,
    content is unchanged."""
    from pyspark.sql import functions as F

    import pydiverse_transform_spark as pdt

    staged = _scratch("sorted_" + os.path.basename(sf_dir.rstrip("/")))
    t = pdt.read_parquet(spark, f"{sf_dir}/orders.parquet", name="orders")
    t >> pdt.write_sorted(staged, "o_orderkey", num_files=8)
    return (
        spark.read.parquet(staged)
        .filter(F.col("o_orderkey").between(1000, 2000))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_q("""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def q_compacted_scan(spark, sf_dir):
    """Small-file compaction round-trip (sources/sinks.py
    compact_parquet): the corpus is deliberately fragmented into 24
    files, compacted back (zero-shuffle coalesce, file count sized from
    the Hadoop listing), and a manifest sidecar written; the aggregate
    over the compacted layout must equal the raw table — compaction is
    purely a physical-layout maintenance pass, content unchanged.  The
    query asserts the file count actually shrank and the manifest row
    count matches, so a silent no-op compaction fails the row."""
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.sources.sinks import (
        _hadoop_files,
        compact_parquet,
        write_manifest,
    )

    base = _scratch("compact_" + os.path.basename(sf_dir.rstrip("/")))
    frag, out = base + "_frag", base + "_out"
    shutil.rmtree(out, ignore_errors=True)
    docs = _rp(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(24).write.mode("overwrite").parquet(frag)
    stats = compact_parquet(spark, frag, out,
                            target_file_bytes=64 << 20)
    man = write_manifest(spark, out)
    n_after = len(_hadoop_files(spark, out))
    assert stats["files_before"] >= 24 and n_after < stats["files_before"]
    assert man["n_rows"] == docs.count()
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@_q("""
WITH b AS (
  SELECT min(user_id) AS umn, max(user_id) AS umx,
         min(epoch_us(ts)) AS tmn, max(epoch_us(ts)) AS tmx
  FROM events
)
SELECT count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       count(DISTINCT event_type) AS n_types
FROM events, b
WHERE user_id BETWEEN umn + (umx - umn) * 45 // 100
                  AND umn + (umx - umn) * 55 // 100
  AND ts BETWEEN make_timestamp(tmn + (tmx - tmn) * 45 // 100)
             AND make_timestamp(tmn + (tmx - tmn) * 55 // 100)
""")
def q_zorder_scan(spark, sf_dir):
    """Z-order clustered layout round-trip (sources/sinks.py
    write_zorder, r11): events re-written Morton-interleaved on
    (user_id, ts), then a 2-D box predicate (middle ~10% of each key
    range) aggregated over the layout.  Layout is content-neutral, so
    the oracle runs the same box over the RAW table.  The query
    asserts the layout actually prunes — row groups whose (user_id,
    ts) envelopes miss the box, measured from parquet footer stats,
    must be a strict minority — so a silently unclustered write fails
    the row, not just the benchmark."""
    import datetime
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.sources.sinks import (
        rowgroup_pruning_stats,
        zorder_key,
    )

    out = _scratch("zorder_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(out, ignore_errors=True)
    ev = _rp(spark, f"{sf_dir}/events.parquet")
    zdf, _ = zorder_key(ev, ["user_id", "ts"], bits=8)
    (
        zdf.repartitionByRange(16, "__z").sortWithinPartitions("__z")
        .drop("__z").write.mode("overwrite").parquet(out)
    )

    r = ev.agg(
        F.min("user_id").alias("umn"), F.max("user_id").alias("umx"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmn"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmx"),
    ).collect()[0]
    lo_u = r.umn + (r.umx - r.umn) * 45 // 100
    hi_u = r.umn + (r.umx - r.umn) * 55 // 100
    epoch = datetime.datetime(1970, 1, 1)
    lo_t = epoch + datetime.timedelta(
        microseconds=r.tmn + (r.tmx - r.tmn) * 45 // 100)
    hi_t = epoch + datetime.timedelta(
        microseconds=r.tmn + (r.tmx - r.tmn) * 55 // 100)

    stats = rowgroup_pruning_stats(
        out, {"user_id": (lo_u, hi_u), "ts": (lo_t, hi_t)})
    assert stats["row_groups_read"] * 2 <= stats["row_groups_total"], (
        f"z-order layout did not prune: {stats}")

    return (
        spark.read.parquet(out)
        .where(F.col("user_id").between(lo_u, hi_u)
               & F.col("ts").between(F.lit(lo_t), F.lit(hi_t)))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("event_id").cast("long").alias("id_sum"),
             F.countDistinct("event_type").alias("n_types"))
    )


@_q("""
WITH b AS (
  SELECT min(user_id) AS umn, max(user_id) AS umx,
         min(epoch_us(ts)) AS tmn, max(epoch_us(ts)) AS tmx
  FROM events
)
SELECT count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       count(DISTINCT event_type) AS n_types
FROM events, b
WHERE user_id BETWEEN umn + (umx - umn) * 45 // 100
                  AND umn + (umx - umn) * 55 // 100
  AND ts BETWEEN make_timestamp(tmn + (tmx - tmn) * 45 // 100)
             AND make_timestamp(tmn + (tmx - tmn) * 55 // 100)
""")
def q_compact_zorder(spark, sf_dir):
    """compact_parquet(zorder_by=) maintenance pass (sources/sinks.py,
    r11 lane, driver row r12): events scattered into many small files
    (a streaming sink's debris shape), then compacted AND re-clustered
    on (user_id, ts) in one pass — the OPTIMIZE ... ZORDER BY shape.
    Asserts the rewrite actually compacted (fewer files than the
    debris) and actually clustered (the same 2-D box as q_zorder_scan
    must prune row groups by footer stats), then aggregates over the
    compacted layout.  Layout is content-neutral, so the oracle runs
    the same box over the RAW table."""
    import datetime
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from pydiverse_transform_spark.sources.sinks import (
        compact_parquet,
        rowgroup_pruning_stats,
    )

    base = _scratch("czo_" + os.path.basename(sf_dir.rstrip("/")))
    debris, out = base + "_in", base + "_out"
    shutil.rmtree(debris, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    ev = _rp(spark, f"{sf_dir}/events.parquet")
    ev.repartition(64).write.mode("overwrite").parquet(debris)

    # size the target from the DEBRIS listing so the compaction ratio
    # is scale-invariant (r12 advice): ~total/32 per file → ~32 output
    # files < 64 debris files at ANY sf, with a 32 KB floor so sf0.01
    # still yields enough files for per-file z-ranges to prune.  /32
    # not /16: the 45-55% query box straddles the TOP Morton bit of
    # both dimensions (worst case for z-clustering — its cells scatter
    # across the key space), and 16 files measured only 10/17 row
    # groups pruned at sf0.1 — too coarse for the >= 2x assertion.
    total_in = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(debris, "*.parquet")))
    compact_parquet(spark, debris, out,
                    zorder_by=["user_id", "ts"], zorder_bits=8,
                    target_file_bytes=max(32 << 10, total_in // 32),
                    mode="overwrite")
    n_in = len(_glob.glob(os.path.join(debris, "*.parquet")))
    n_out = len(_glob.glob(os.path.join(out, "*.parquet")))
    assert 0 < n_out < n_in, (n_in, n_out)

    r = ev.agg(
        F.min("user_id").alias("umn"), F.max("user_id").alias("umx"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmn"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmx"),
    ).collect()[0]
    lo_u = r.umn + (r.umx - r.umn) * 45 // 100
    hi_u = r.umn + (r.umx - r.umn) * 55 // 100
    epoch = datetime.datetime(1970, 1, 1)
    lo_t = epoch + datetime.timedelta(
        microseconds=r.tmn + (r.tmx - r.tmn) * 45 // 100)
    hi_t = epoch + datetime.timedelta(
        microseconds=r.tmn + (r.tmx - r.tmn) * 55 // 100)

    stats = rowgroup_pruning_stats(
        out, {"user_id": (lo_u, hi_u), "ts": (lo_t, hi_t)})
    assert stats["row_groups_read"] * 2 <= stats["row_groups_total"], (
        f"compacted z-order layout did not prune: {stats}")

    return (
        spark.read.parquet(out)
        .where(F.col("user_id").between(lo_u, hi_u)
               & F.col("ts").between(F.lit(lo_t), F.lit(hi_t)))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("event_id").cast("long").alias("id_sum"),
             F.countDistinct("event_type").alias("n_types"))
    )


@_q(r"""
WITH RECURSIVE vars AS (
  SELECT pos - 1 AS pos, coalesce(var_samp(v), 0.0) AS var
  FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding::DOUBLE[], 1) AS pos
        FROM embeddings)
  GROUP BY pos
), ordered AS (
  SELECT pos, var, row_number() OVER (ORDER BY var DESC, pos) AS rn
  FROM vars
), step(rn, counts, sums, asg) AS (
  SELECT 0::BIGINT,
         list_transform(range(8), g -> 0::BIGINT),
         list_transform(range(8), g -> 0.0::DOUBLE),
         CAST([] AS STRUCT(pos BIGINT, g BIGINT)[])
  UNION ALL
  SELECT o.rn,
         list_transform(range(1, 9), i ->
           s.counts[i] + CASE WHEN i = list_position(
             list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END),
             list_min(list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END)))
           THEN 1 ELSE 0 END),
         list_transform(range(1, 9), i ->
           s.sums[i] + CASE WHEN i = list_position(
             list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END),
             list_min(list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END)))
           THEN o.var ELSE 0.0 END),
         list_append(s.asg, {pos: o.pos, g: list_position(
             list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END),
             list_min(list_transform(range(1, 9), j ->
               CASE WHEN s.counts[j] < 8 THEN s.sums[j] END))) - 1})
  FROM step s JOIN ordered o ON o.rn = s.rn + 1
), pairs AS (
  SELECT u.pos AS src_dim, u.g AS subspace
  FROM (SELECT unnest(asg) AS u FROM step WHERE rn = 64)
)
SELECT CAST(subspace * 8 + row_number() OVER (
         PARTITION BY subspace ORDER BY src_dim) - 1 AS BIGINT) AS p,
       CAST(src_dim AS BIGINT) AS src_dim,
       CAST(subspace AS BIGINT) AS subspace
FROM pairs ORDER BY p
""")
def q_opq_permutation(spark, sf_dir):
    """OPQ-lite energy-balancing permutation (extras/similarity.py
    opq_permutation): per-dimension variance via one posexplode
    aggregation, then the greedy LPT balanced assignment of dimensions
    to the m=8 PQ subspaces.  The oracle REPLAYS the whole algorithm in
    DuckDB — variance in SQL, the sequential greedy as a 64-step
    recursive CTE whose state is the per-subspace (count, sum) lists,
    with the same (sum, subspace) argmin tie contract — so the
    permutation itself is hash-verified, not just its shape.  Was
    pytest-only through r7 (r8 verdict #6)."""
    from pydiverse_transform_spark.extras import similarity

    emb = _rp(spark, f"{sf_dir}/embeddings.parquet")
    perm = similarity.opq_permutation(emb, m=8, dim=64)
    rows = [(p, int(d), p // 8) for p, d in enumerate(perm)]
    return spark.createDataFrame(rows, "p long, src_dim long, subspace long")


@_q("""
SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
FROM supplier ORDER BY s_suppkey
""")
def q_csv_roundtrip(spark, sf_dir):
    """Typed CSV round-trip (sources write_csv/read_csv): supplier is
    written as headered CSV and read back with an EXPLICIT schema (the
    production posture — inferSchema is a second full scan and a
    type-drift hazard at 100 TB); numeric/string columns must round-trip
    exactly.  Was pytest-only through r7 (r8 verdict #6)."""
    import shutil

    import pydiverse_transform_spark as pdt

    path = _scratch("csv_rt_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(path, ignore_errors=True)
    t = _t(spark, sf_dir, "supplier")
    t >> pdt.write_csv(path, mode="overwrite")
    back = pdt.read_csv(
        spark, path,
        schema=("s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double"),
    )
    return (
        back
        >> pdt.mutate(s_acctbal=back.s_acctbal.round(2))
        >> pdt.select(back.s_suppkey, back.s_name, back.s_nationkey,
                      C.s_acctbal)
        >> pdt.arrange(back.s_suppkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT n_nationkey, n_name, n_regionkey
FROM nation ORDER BY n_nationkey
""")
def q_catalog_roundtrip(spark, sf_dir):
    """Session-catalog round-trip (operators/verbs.py save_as_table +
    sources read_table): the nation table is saved as a managed table
    and read back through the catalog; content must be byte-identical
    to the parquet source.  Was pytest-only through r7 (r8 verdict #6).
    Table name is sf-suffixed so concurrent driver/builder runs at
    different scale factors don't clobber each other."""
    import shutil

    import pydiverse_transform_spark as pdt

    name = "nation_cat_" + os.path.basename(sf_dir.rstrip("/")) \
        .replace(".", "_")
    # drop the catalog entry AND any stale warehouse dir — a fresh
    # session's empty in-memory catalog can collide with a previous
    # session's leftover managed-table location (overwrite cannot
    # replace a location the catalog does not know about)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{loc.removeprefix('file:')}/{name}",
                  ignore_errors=True)
    t = _t(spark, sf_dir, "nation")
    t >> pdt.save_as_table(name, mode="overwrite")
    back = pdt.read_table(spark, name)
    return (
        back
        >> pdt.select(back.n_nationkey, back.n_name, back.n_regionkey)
        >> pdt.arrange(back.n_nationkey)
        >> pdt.export(pdt.Spark)
    )


@_q("""
SELECT s_nationkey, count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_acctbal
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
""")
def q_jdbc_roundtrip(spark, sf_dir):
    """JDBC round-trip (sources write_jdbc/read_jdbc) through an
    in-process Derby database (the derby jars ship with Spark for the
    Hive metastore, so no external service is needed): a supplier
    aggregate is written over JDBC and read back; grouped counts and
    rounded sums must round-trip exactly.  Was pytest-absent through
    r8 (r8 verdict stretch #8).  Embedded Derby is a single-JVM store
    — valid in local mode only; write_jdbc's docstring carries the
    cluster contract (networked url).  The db dir is sf-suffixed so
    concurrent runs at different scale factors don't contend for
    Derby's single-JVM boot lock."""
    import shutil

    import pydiverse_transform_spark as pdt

    dbdir = _scratch("jdbc_rt_" + os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(dbdir, ignore_errors=True)
    url = f"jdbc:derby:{dbdir}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    s = _t(spark, sf_dir, "supplier")
    agg = (
        s
        >> pdt.group_by(s.s_nationkey)
        >> pdt.summarize(n_suppliers=s.s_suppkey.count(),
                         total_acctbal=s.s_acctbal.sum().round(2))
    )
    agg >> pdt.write_jdbc(url, "supplier_agg", mode="overwrite",
                          **props)
    back = pdt.read_jdbc(spark, url, "supplier_agg", **props)
    return (
        back
        >> pdt.select(back.s_nationkey, back.n_suppliers,
                      back.total_acctbal)
        >> pdt.arrange(back.s_nationkey)
        >> pdt.export(pdt.Spark)
    )


# =============================================================================
# driver contract
# =============================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


# The driver verifies the first N registered queries per round (N=50).
# Rotation policy (stalest-first, mechanical — replaced the r2-r4
# hand-curated list per the round-4 brief): canaries are pinned to the
# front so a core-path regression is always caught by the external
# gate, then every other query ordered by the round of its most recent
# green driver row ascending (never-verified queries sort first at
# round 0), ties broken by registration order.  The per-query rounds
# come from the committed last_verified.json, regenerated each round
# from CORRECTNESS_r0N.json by `python tools/gen_last_verified.py` —
# with 142 queries and a 50-slot window, every query re-verifies at
# worst every ceil(142/50) = 3 rounds.
_CANARIES = ["q01_pricing_summary", "q21_waiting_supplier", "q_window_ops"]


def _last_verified() -> dict[str, int]:
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "last_verified.json")
    try:
        with open(path) as f:
            data = json.load(f)
        return {k: int(v) for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def _ordered(reg: dict) -> dict:
    last = _last_verified()
    idx = {n: i for i, n in enumerate(reg)}
    front = [c for c in _CANARIES if c in reg]
    rest = sorted((n for n in reg if n not in _CANARIES),
                  key=lambda n: (last.get(n, 0), idx[n]))
    return {n: reg[n] for n in [*front, *rest]}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLE)
