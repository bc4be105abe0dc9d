"""Relational analytics over the TPC-H-ish side tables — the join-planning
showcase: broadcast the small dimensions, push filters to the parquet scan,
partial-aggregate before the one shuffle, TakeOrdered for top-k.

Exactness discipline (driver oracle = DuckDB): floating-point SUMs are
addition-order-dependent, so every money aggregate here is computed as
per-row DOUBLE arithmetic (bit-identical across engines for identical
inputs) folded to an INTEGER number of micro-units via
``floor(x * 1e6 + 0.5)`` — floor is exactly defined on the identical
double, and BIGINT sums are associative. Suffix ``_micros`` marks those
columns; divide by 1e6 downstream for display. Overflow stance: BIGINT
sums bound the per-group row count (see ``_sum_micros``); pass
``exact_decimal=True`` (DECIMAL(38,0) accumulator) or enable ANSI mode for
groups that can exceed it.

At 100 TB: `lineitem` is the fact table — everything joins to it via
BROADCAST (nation 25 rows, region 5, customer/part/supplier thousands —
all << spark.sql.autoBroadcastJoinThreshold at real scale too, except
customer/part which would switch to shuffle joins as they grow; the
explicit F.broadcast hints below mark the ones that stay dimension-sized).
No query shuffles the fact table more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _micros(col: F.Column) -> F.Column:
    """Deterministic double → integer micro-units (see module docstring)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def _sum_micros(col: F.Column, exact_decimal: bool) -> F.Column:
    """Order-independent money sum with an explicit overflow stance.

    BIGINT mode (default, driver-oracle-compatible): int64 overflows at
    9.2e18 micros, i.e. ~9.2e12 in display units per group — TPC-H-style
    line amounts (~1e5 → 1e11 micros) are safe to ~9e7 rows PER GROUP.
    Under Spark 4's default ANSI mode an overflow raises
    ARITHMETIC_OVERFLOW (loud, verified in test_relational.py); a
    deployment that sets spark.sql.ansi.enabled=false instead WRAPS
    SILENTLY. Either way, a 100-TB run whose groups can exceed the bound
    (e.g. a Q1-style 4-group rollup over the whole fact table) should pass
    exact_decimal=True rather than fail or wrap.

    DECIMAL mode (exact_decimal=True): BOTH the per-row fold and the sum
    stay in DECIMAL — floor(cast(x*1e6+0.5 AS DECIMAL(38,18))) — so neither
    a huge per-row value nor a huge group total can overflow (r4 review
    finding: routing the row through the BIGINT floor first would reintro-
    duce the int64 bound per row). Scale 18 (not 6) because the cast rounds
    HALF_UP at the last decimal before the floor: at scale 6 a double like
    0.9999999999999997 rounds to 1.000000 and floors to 1 where the BIGINT
    fold gives 0 (second-pass review finding, reproduced live); at scale 18
    no representable double lies within 5e-19 below an integer (adjacent-
    double spacing near any integer ≥ 2^-53 ≈ 1.1e-16), so
    floor(cast₁₈(y)) == floor(y) for EVERY double — the two modes agree
    exactly wherever BIGINT mode is defined. Integer headroom remains
    1e20 micros per row (1e14 display units — beyond double's own integer
    precision). Not the default only because the correctness gate compares
    pandas dtypes bit-exactly and DuckDB lowers DECIMAL to float64 while
    Spark yields decimal.Decimal objects — an engine-conversion artifact,
    not a Spark semantics issue."""
    if exact_decimal:
        return F.sum(
            F.floor((col * F.lit(1000000.0) + F.lit(0.5)).cast("decimal(38,18)"))
        )
    return F.sum(_micros(col))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(
    spark: SparkSession, sf_dir: str, exact_decimal: bool = False
) -> DataFrame:
    """TPC-H Q1 analog: pricing summary report over lineitem. One scan, one
    shuffle of 4-ish grouped rows (map-side partial agg does the work)."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_micros(F.col("l_quantity"), exact_decimal).alias("sum_qty_micros"),
            _sum_micros(F.col("l_extendedprice"), exact_decimal).alias(
                "sum_base_price_micros"
            ),
            _sum_micros(disc_price, exact_decimal).alias("sum_disc_price_micros"),
            _sum_micros(charge, exact_decimal).alias("sum_charge_micros"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def revenue_by_nation(
    spark: SparkSession, sf_dir: str, exact_decimal: bool = False
) -> DataFrame:
    """TPC-H Q5-flavored: revenue per (region, nation) for orders in 1995.
    Plan shape: the o_orderdate filter pushes into the orders scan;
    customer/nation/region broadcast (no fact-table shuffle for the joins);
    the single exchange is the final 25-group aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(  # pushes into the parquet scan
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # NB: orders gets a broadcast hint because the 1995 filter shrinks it to
    # a fraction of a small table at test scale; at 100 TB orders is a fact
    # table and the hint should be dropped so Catalyst picks a shuffle join
    # for it, while the true dimensions (customer/nation/region) stay
    # broadcast.
    return (
        l.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            _sum_micros(revenue, exact_decimal).alias("revenue_micros"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


def top_brands_by_revenue(
    spark: SparkSession, sf_dir: str, k: int = 10, exact_decimal: bool = False
) -> DataFrame:
    """Top-k part brands by discounted revenue: broadcast part into the
    lineitem scan, aggregate by brand (partial agg), TakeOrdered(k) — no
    global sort. Deterministic tie-break on brand."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(_sum_micros(revenue, exact_decimal).alias("revenue_micros"))
        .orderBy(F.desc("revenue_micros"), F.asc("p_brand"))
        .limit(k)
    )


def supplier_nation_volume(
    spark: SparkSession, sf_dir: str, exact_decimal: bool = False
) -> DataFrame:
    """TPC-H Q7-flavored: shipped volume per supplier nation — lineitem ⋈
    supplier ⋈ nation with both dimensions broadcast; quantity summed as
    integer micros (order-independent)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            _sum_micros(F.col("l_quantity"), exact_decimal).alias("volume_micros"),
            F.countDistinct("s_suppkey").cast("long").alias("n_suppliers"),
        )
    )


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: orders per priority that have at least one line item
    shipped after the order date — a semi-join (EXISTS) the optimizer turns
    into a left-semi hash join; counts only, trivially exact."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    qualifying = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return qualifying.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders")
    )
