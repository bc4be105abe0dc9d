"""Batch (bounded-input) ordered processing.

Two interchangeable implementations, both keyed by ``conv_id`` and sequenced
by ``turn_idx`` (the reference's batch test path:
OrderBookProcessingPipelineTest.java:49-89, Create.of → same transform):

  impl='sql'    — pure Catalyst: dedupe + contiguous-prefix via window
                  functions. 100% JVM / whole-stage-codegen; ONE shuffle on
                  conv_id; this is the 100-TB scale path.
  impl='pandas' — groupBy(conv_id).applyInPandas over the SAME state-machine
                  core the streaming operator uses (ordered_core.apply_batch)
                  — proves batch/stream parity.

The contiguous-prefix trick: after dropping duplicate turn_idx values,
row_number() per key ordered by turn_idx equals turn_idx exactly for — and
only for — the maximal contiguous run starting at 1 (O1+O2). Rows past a gap
(the "still buffered" rows) are the remainder.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import ordered_core as core
from ..schemas import ORDERED_OUTPUT_SCHEMA, STATUS_SCHEMA, ddl

# running conversation depth columns and the per-row amount each one sums
DEPTHS = {
    "n_user_cum": "CASE WHEN role = 'user' THEN 1 ELSE 0 END",
    "n_assistant_cum": "CASE WHEN role = 'assistant' THEN 1 ELSE 0 END",
    "n_tool_cum": "CASE WHEN role = 'tool' THEN 1 ELSE 0 END",
    "chars_cum": "CAST(coalesce(length(text), 0) AS BIGINT)",
}


def _dedupe(df: DataFrame, initial_idx: int, *part: str) -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) deliveries, first-by-ts wins, and
    rows below ``initial_idx``: already-emitted history, which the streaming
    core discards as duplicates and which must not shift ranks.

    Implemented as lag() within the (conv_id, *part) partitioning (NOT a
    window over (conv_id, turn_idx)) so the downstream prefix window reuses
    the SAME exchange and sort: dedup and ranking share one shuffle."""
    w = Window.partitionBy("conv_id", *part).orderBy("turn_idx", "ts")
    prev = F.lag("turn_idx").over(w)
    return (
        df.filter(F.col("turn_idx").cast("long") >= initial_idx)
        .withColumn("_prev_idx", prev)
        .filter(F.col("_prev_idx").isNull() | (F.col("_prev_idx") != F.col("turn_idx")))
        .drop("_prev_idx")
    )


def ordered_emit_batch(
    df: DataFrame, impl: str = "sql", initial_idx: int = core.INITIAL_TURN_IDX
) -> DataFrame:
    """Emit, per conv_id, the maximal contiguous run of turns starting at
    ``initial_idx``, in order, with a 1-based ``emit_seq``. Rows beyond a gap
    are withheld (they'd stay buffered in the streaming engine)."""
    if impl == "sql":
        deduped = _dedupe(df, initial_idx)
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        wcum = w.rowsBetween(Window.unboundedPreceding, 0)
        emitted = (
            deduped.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("turn_idx").cast("long") == F.col("_rn") + (initial_idx - 1))
            .withColumn("emit_seq", F.col("_rn").cast("long"))
            .drop("_rn")
        )
        # per-turn running conversation depth (MarketDepth-snapshot analog);
        # same conv_id partitioning + turn_idx order → reuses the exchange
        return emitted.select(
            "*", *[F.sum(F.expr(v)).over(wcum).alias(c) for c, v in DEPTHS.items()]
        )
    if impl == "pandas":

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            st = core.OrderedState(last_emitted=initial_idx - 1)
            # deterministic duplicate winner: the streaming core keeps the
            # FIRST ARRIVAL; in batch mode partition order is not arrival
            # order (nor deterministic), so sort by ts first — matching the
            # SQL impl's first-by-ts rule
            pdf = pdf.sort_values("ts", kind="stable")
            batch = pdf.assign(ts_us=core.ts_to_us(pdf["ts"]))
            out = core.apply_batch(st, batch)
            return pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].iloc[0],
                    "turn_idx": out["turn_idx"].astype("int32"),
                    "role": out["role"],
                    "text": out["text"],
                    "tool": out["tool"],
                    "ts": pd.to_datetime(out["ts_us"], unit="us"),
                    **{c: out[c].astype("int64") for c in ("emit_seq", *DEPTHS)},
                }
            )

        return df.groupBy("conv_id").applyInPandas(run, ddl(ORDERED_OUTPUT_SCHEMA))
    raise ValueError(f"unknown impl {impl!r}")


def per_event_status_batch(
    df: DataFrame, seq_col: str = "arrival_seq", initial_idx: int = core.INITIAL_TURN_IDX
) -> DataFrame:
    """Per-ARRIVAL OrderedProcessingStatus history: one status row per input
    event, reflecting state right after that event was processed — the batch
    analog of the streaming operator's per-event status emission (O8;
    reference emits a ProcessingStatus per processed event,
    OrderedEventProcessor status output / ProcessingStatusToTableRowConverter).

    Input must carry a deterministic per-key arrival order in ``seq_col``
    (1-based, dense). Output: (conv_id, arrival_seq, status_ts, turn_idx,
    received_count, duplicate_count, last_emitted, result_count,
    buffered_count, latest_buffered, last_event_received).

    Plan shape: every window below partitions by conv_id, so the whole
    history is ONE hash exchange on conv_id plus in-partition sorts; the only
    extra shuffle is the completion-event self-join on (conv_id, seq) —
    completions are ≤ one row per distinct turn, far smaller than arrivals.
    `earliest_buffered` is intentionally omitted: the earliest pending turn
    after each arrival is not expressible as a running aggregate (emission
    removes from the bottom of the buffer); the final-status operator
    (ordered_status_batch) reports it exactly.
    """
    base = initial_idx - 1
    seq = F.col(seq_col).cast("long")
    warr = Window.partitionBy("conv_id").orderBy(seq_col)
    wcum = warr.rowsBetween(Window.unboundedPreceding, 0)
    wturn = Window.partitionBy("conv_id").orderBy("turn_idx")

    # duplicate = re-delivery of an already-seen turn, or a sub-initial turn
    # (the streaming core discards seq <= last_emitted as duplicates)
    ev = df.withColumn(
        "_occ", F.row_number().over(Window.partitionBy("conv_id", "turn_idx").orderBy(seq_col))
    ).withColumn(
        "_is_dup",
        ((F.col("_occ") > 1) | (F.col("turn_idx").cast("long") < initial_idx)).cast("int"),
    )

    # first arrivals, classified into the contiguous prefix; rmax = the
    # arrival seq at which turn t becomes emittable (all of 1..t have arrived)
    fa = (
        ev.filter(F.col("_is_dup") == 0)
        .withColumn("_rn", F.row_number().over(wturn))
        .withColumn("_rmax", F.max(seq).over(wturn.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(F.col("turn_idx").cast("long") == F.col("_rn") + base)
    )
    # completion events: the largest prefix-complete turn per completing
    # arrival (consecutive valid turns can share one completing arrival)
    compl = (
        fa.withColumn("_nxt", F.lead("_rmax").over(wturn))
        .filter(F.col("_nxt").isNull() | (F.col("_nxt") != F.col("_rmax")))
        .select(
            F.col("conv_id").alias("_c_conv"),
            F.col("_rmax").alias("_c_seq"),
            F.col("turn_idx").cast("long").alias("_emitted_to"),
        )
    )
    hist = ev.join(
        compl,
        (F.col("conv_id") == F.col("_c_conv")) & (seq == F.col("_c_seq")),
        "left",
    ).drop("_c_conv", "_c_seq")

    end_marker = ((F.col("role") == core.END_ROLE) & (F.col("text") == core.END_TEXT)).cast(
        "int"
    )
    out = (
        hist.withColumn("_last_emitted", F.coalesce(F.max("_emitted_to").over(wcum), F.lit(base).cast("long")))
        .withColumn("_dup_cum", F.sum("_is_dup").over(wcum).cast("long"))
        .withColumn("_max_turn", F.max(F.col("turn_idx").cast("long")).over(wcum))
        .withColumn("_end_cum", F.max(end_marker).over(wcum))
    )
    return out.select(
        "conv_id",
        seq.alias("arrival_seq"),
        F.col("ts").alias("status_ts"),
        "turn_idx",
        seq.alias("received_count"),
        F.col("_dup_cum").alias("duplicate_count"),
        # NULL until the first emission — matching ordered_status_batch and
        # the streaming status_dict (reference: lastEmitted unset before the
        # first in-order result)
        F.when(F.col("_last_emitted") > base, F.col("_last_emitted")).alias(
            "last_emitted"
        ),
        (F.col("_last_emitted") - base).alias("result_count"),
        (seq - F.col("_dup_cum") - (F.col("_last_emitted") - base)).alias("buffered_count"),
        F.when(F.col("_max_turn") > F.col("_last_emitted"), F.col("_max_turn")).alias(
            "latest_buffered"
        ),
        (F.col("_end_cum") == 1).alias("last_event_received"),
    )


def ordered_status_batch(df: DataFrame, initial_idx: int = core.INITIAL_TURN_IDX) -> DataFrame:
    """Final OrderedProcessingStatus per key after the whole bounded input —
    pure Catalyst (aggregates over the dedupe/prefix classification).

    Matches what the streaming operator's last status row per key reports.
    """
    base = initial_idx - 1
    # sub-initial rows count as duplicates (computed from received - rest)
    deduped = _dedupe(df, initial_idx)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    classified = deduped.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_emitted", F.col("turn_idx").cast("long") == F.col("_rn") + base
    )
    received = df.groupBy("conv_id").agg(F.count("*").alias("received_count"))
    per_key = classified.groupBy("conv_id").agg(
        F.max(F.when(F.col("_emitted"), F.col("turn_idx").cast("long"))).alias("last_emitted"),
        F.coalesce(
            F.sum(F.when(~F.col("_emitted"), F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("buffered_count"),
        F.min(F.when(~F.col("_emitted"), F.col("turn_idx").cast("long"))).alias(
            "earliest_buffered"
        ),
        F.max(F.when(~F.col("_emitted"), F.col("turn_idx").cast("long"))).alias(
            "latest_buffered"
        ),
        F.coalesce(
            F.sum(F.when(F.col("_emitted"), F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("result_count"),
        F.max(
            (F.col("role") == core.END_ROLE) & (F.col("text") == core.END_TEXT)
        ).alias("last_event_received"),
    )
    return (
        per_key.join(received, "conv_id")
        .withColumn(
            "duplicate_count", F.col("received_count") - F.col("buffered_count") - F.col("result_count")
        )
        .select(
            "conv_id",
            "last_emitted",
            "buffered_count",
            "earliest_buffered",
            "latest_buffered",
            "received_count",
            "result_count",
            "duplicate_count",
            "last_event_received",
        )
    )
