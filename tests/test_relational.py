"""Relational plans over the TPC-H tables: integer-micro money sums that,
in decimal mode, survive int64 overflow and do not depend on addition
order, broadcast dimension joins and a top-k without a global sort."""

import pytest
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.plans import relational
from dataflow_ordered_processing_spark.plans.relational import _micros, _sum_micros


def test_micros_sum_decimal_survives_int64_overflow(spark):
    """Two rows of ~9.2e18 micros each: the BIGINT accumulator overflows,
    the DECIMAL(38,0) accumulator is exact. Values chosen so the per-row double→micros fold itself is exact
    (9e12 * 1e6 = 9e18 < 2^63, representable as a double power-of-10)."""
    df = spark.createDataFrame([(9.0e12,), (9.0e12,)], "x double")
    exact = df.agg(_sum_micros(F.col("x"), exact_decimal=True).alias("s")).collect()[0]["s"]
    assert int(exact) == 18_000_000_000_000_000_000  # 1.8e19 > int64 max

    # BIGINT mode past the bound: loud ARITHMETIC_OVERFLOW under Spark 4's
    # default ANSI mode (ansi.enabled=true since 4.0); the silent wrap
    # applies only when a deployment disables ANSI, which _sum_micros's
    # docstring calls out.
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    bigint = lambda: df.agg(  # noqa: E731
        _sum_micros(F.col("x"), exact_decimal=False).alias("s")
    ).collect()[0]["s"]
    if ansi == "true":
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            bigint()
    else:  # non-ANSI deployment: documents the wrap hazard
        assert bigint() < 0

    # PER-ROW overflow: a single row past ~9.2e12
    # display units exceeds int64 micros on its own — decimal mode must
    # survive because its fold never touches BIGINT
    big = spark.createDataFrame([(1.0e13,), (2.5e13,)], "x double")
    got = big.agg(_sum_micros(F.col("x"), exact_decimal=True).alias("s")).collect()[0]["s"]
    assert int(got) == 35_000_000_000_000_000_000  # 3.5e19, exact

    # below the bound the two modes agree exactly
    small = spark.createDataFrame([(123.456789,), (0.000001,), (99999.5,)], "x double")
    a = small.agg(_sum_micros(F.col("x"), False).alias("s")).collect()[0]["s"]
    b = small.agg(_sum_micros(F.col("x"), True).alias("s")).collect()[0]["s"]
    assert int(a) == int(b)
    # sanity: the per-row fold is what it claims
    one = small.select(_micros(F.col("x")).alias("m")).orderBy("m").collect()
    assert [r["m"] for r in one] == [1, 123456789, 99999500000]


def test_relational_plan_shapes(spark, sf_dir):
    """The join-planning contract at 100 TB: dimensions broadcast (no
    sort-merge join anywhere), the date filter reaches the orders scan,
    and top-k is TakeOrdered (no global sort)."""
    plan = (
        relational.revenue_by_nation(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # predicate pushdown

    topk = (
        relational.top_brands_by_revenue(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in topk and "BroadcastHashJoin" in topk


def test_pricing_summary_micros_deterministic(spark, sf_dir, tmp_path, monkeypatch):
    """Integer-micro aggregation is addition-order independent: the same
    query over a reshuffled input yields bit-identical sums."""
    a = {
        (r["l_returnflag"], r["l_linestatus"]): r["sum_charge_micros"]
        for r in relational.pricing_summary(spark, sf_dir).collect()
    }
    d = str(tmp_path / "li13")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(13).write.parquet(d)
    orig = relational._t

    def patched(spark_, sf, name):
        if name == "lineitem":
            return spark_.read.parquet(d)
        return orig(spark_, sf, name)

    monkeypatch.setattr(relational, "_t", patched)
    b = {
        (r["l_returnflag"], r["l_linestatus"]): r["sum_charge_micros"]
        for r in relational.pricing_summary(spark, sf_dir).collect()
    }
    assert a == b
