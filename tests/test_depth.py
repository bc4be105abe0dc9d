"""Per-turn running conversation-depth snapshot (MarketDepth analog): both
single-phase implementations agree with a pandas oracle (the salted plan is
held to the SQL one column for column in test_skew.py)."""

import numpy as np
import pandas as pd
import pytest

from dataflow_ordered_processing_spark.operators.ordered_batch import ordered_emit_batch
from dataflow_ordered_processing_spark.schemas import TRANSCRIPT_SCHEMA
from dataflow_ordered_processing_spark.sources.scenarios import scenario, serial_oracle

DEPTH = ["n_user_cum", "n_assistant_cum", "n_tool_cum", "chars_cum"]
KEYS = ["conv_id", "turn_idx"]


def _depth_oracle(batches):
    emitted = serial_oracle(batches).sort_values(KEYS)
    out = []
    for _, g in emitted.groupby("conv_id"):
        g = g.copy()
        g["n_user_cum"] = np.cumsum(g["role"] == "user")
        g["n_assistant_cum"] = np.cumsum(g["role"] == "assistant")
        g["n_tool_cum"] = np.cumsum(g["role"] == "tool")
        g["chars_cum"] = np.cumsum(g["text"].str.len().fillna(0)).astype("int64")
        out.append(g)
    return pd.concat(out, ignore_index=True)


@pytest.mark.parametrize("impl", ["sql", "pandas"])
def test_depth_matches_oracle(spark, impl):
    batches = scenario("multi_conversation")
    df = spark.createDataFrame(pd.concat(batches, ignore_index=True), schema=TRANSCRIPT_SCHEMA)
    got = ordered_emit_batch(df, impl=impl).select(*KEYS, *DEPTH).toPandas()
    got = got.sort_values(KEYS).reset_index(drop=True)
    want = _depth_oracle(batches)[KEYS + DEPTH].sort_values(KEYS).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    for c in DEPTH:
        got[c] = got[c].astype("int64")
        want[c] = want[c].astype("int64")
    pd.testing.assert_frame_equal(got, want)
