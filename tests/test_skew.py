"""Two-phase salted ordering (skew path): output identical to the
single-phase SQL plan on every column (emit_seq and the running depth
included) with gaps, duplicates, block-boundary gaps and a mega-key;
building it runs no Spark job, and its executed plan does not regrow."""

import os
import re
import uuid

import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.ordered_batch import ordered_emit_batch
from dataflow_ordered_processing_spark.operators.skew import (
    adaptive_ordered_emit_batch,
    salted_ordered_emit_batch,
)
from dataflow_ordered_processing_spark.schemas import ORDERED_OUTPUT_SCHEMA, TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import conversation, scenario

COLS = ORDERED_OUTPUT_SCHEMA.names
BLOCKS = [1, 4, 16, 1024]
PLAN_DUMP = os.path.join(os.path.dirname(__file__), "../plans/r09/ordered_salted_after.txt")


def _df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def _pdf(df) -> pd.DataFrame:
    return df.select(*COLS).toPandas().sort_values(COLS[:2]).reset_index(drop=True)


def _assert_same(df, block: int, initial_idx: int) -> pd.DataFrame:
    """The single-phase plan is the oracle here: test_ordered_batch holds
    it to the serial oracle, test_depth to the depth oracle."""
    got = _pdf(salted_ordered_emit_batch(df, block=block, initial_idx=initial_idx))
    pd.testing.assert_frame_equal(
        got, _pdf(ordered_emit_batch(df, impl="sql", initial_idx=initial_idx))
    )
    return got


@pytest.mark.parametrize("name", ["skewed", "duplicates", "gap_never_arrives", "multi_conversation"])
@pytest.mark.parametrize("block", BLOCKS)
def test_salted_matches_oracle(spark, name, block):
    df = _df(spark, pd.concat(scenario(name), ignore_index=True))
    for initial_idx in (1, 3):  # 3: turns 1-2 are sub-initial history
        _assert_same(df, block, initial_idx)


@pytest.mark.parametrize("block", BLOCKS)
def test_block_boundary_gaps(spark, block):
    # block 1 of four 3.x-block conversations loses its first slot, its
    # last slot, all of it, or nothing (every block open, the last partial)
    n = 3 * block + 5
    for initial_idx in (1, 3):
        first, last = initial_idx + block, initial_idx + 2 * block - 1
        gaps = [[first], [last], list(range(first, last + 1)), []]
        convs = [conversation(i, n) for i in range(len(gaps))]
        df = _df(spark, pd.concat([c[~c["turn_idx"].isin(g)] for c, g in zip(convs, gaps)]))
        got = _assert_same(df, block, initial_idx).groupby("conv_id")["turn_idx"]
        ends = [first - 1, last - 1, first - 1, n]
        assert got.max().tolist() == ends
        assert got.count().tolist() == [e - initial_idx + 1 for e in ends]


def test_mega_key_with_gap_and_block_boundary(spark):
    # 5000-turn conversation, gap exactly at a block boundary (turn 2049
    # missing with block=1024) plus a gap inside a block (turn 100 missing).
    conv = conversation(7, 5000)
    damaged = conv[~conv["turn_idx"].isin([100, 2049])]
    out = salted_ordered_emit_batch(_df(spark, damaged), block=1024).toPandas()
    # prefix stops at 99 (first gap), regardless of block structure
    assert out["turn_idx"].max() == 99
    assert len(out) == 99
    assert sorted(out["emit_seq"]) == list(range(1, 100))


def test_adaptive_routing_matches_single_phase(spark):
    df = _df(spark, pd.concat(scenario("skewed"), ignore_index=True))
    adaptive = adaptive_ordered_emit_batch(df, hot_threshold=40, block=16)
    pd.testing.assert_frame_equal(_pdf(adaptive), _pdf(ordered_emit_batch(df, impl="sql")))


def test_building_the_plan_runs_no_job(spark):
    df = _df(spark, pd.concat(scenario("skewed"), ignore_index=True))
    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "plan construction")
    try:
        salted_ordered_emit_batch(df, block=4)
        adaptive_ordered_emit_batch(df, hot_threshold=40, block=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _plan_counts(plan: str) -> list[int]:
    # Exchange and Window counts, by the regexes of perfbench/batch.py
    return [
        len(re.findall(r"\b(?:Exchange|BroadcastExchange)\b", plan)),
        len(re.findall(r"(?m)^\W*Window\b", plan)),
    ]


def test_plan_no_larger_than_committed_dump(spark, sf_dir):
    """The ordered_salted gate query's plan (block=4: conversations span
    several blocks), once executed, has no more Exchange or Window
    operators than the committed after-dump of that query."""
    import __spark_entry__ as E

    out = salted_ordered_emit_batch(E._arrival_df(spark, sf_dir), block=4)
    out = out.select(*E._ORDERED_COLS)
    assert out.collect()  # runs out's own query execution: its plan is final
    got = _plan_counts(out._jdf.queryExecution().executedPlan().toString())
    with open(PLAN_DUMP) as f:
        want = _plan_counts("".join(ln for ln in f if not ln.startswith("#")))
    assert all(g <= w for g, w in zip(got, want)), (got, want)
