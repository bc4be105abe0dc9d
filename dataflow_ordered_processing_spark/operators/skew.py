"""Skew handling for mega-conversations: a salted two-phase plan whose
phase 2 is one window over a per-block table (north_rule requirement).

The reference deliberately GENERATES skew (per-contract rate ∝ 1-(i/n)^degree,
Simulator.java:61-69) and relies on many-keys parallelism; a single mega-key
still serializes onto one worker there. Here rows are salted into blocks of
``block`` slots, _block = floor((turn_idx - initial) / block), and every step
works on the (conv_id, _block) grain:

  Rank: a hash exchange on (conv_id, _block) — n_blocks-way parallelism
      INSIDE one conversation. Deliveries are deduped first-by-ts (lag),
      then ranked (_brn) with block-local running depth sums, all in that
      one partitioning and sort. (Both the aggregate and the release read
      it; with no checkpoint, the aggregate's copy carries only its columns.)
  Aggregate: one groupBy(conv_id, _block) — the finest shared aggregate —
      yields the in-slot count _bprefix and the four depth totals.
  Window (phase 2, one row per block): per conv_id by _block, exclusive
      running sums of _bprefix and of the depth totals. A block is open iff
      the earlier prefixes sum to _block·block (every earlier block exists
      and is complete); the depth sums are then its offsets.
  Release: broadcast-join the open blocks back, keep _brn <= _bprefix;
      emit_seq = turn_idx - initial + 1, each depth = offset + block-local
      sum. No per-key global sort; the payload never enters phase 2.

Exactness: within a block, turn_idx (strictly increasing after dedup) can
fall behind its expected slot only once — after the first gap every row
stays ahead — so count(turn_idx == expected slot) is the block's prefix
length and its in-slot rows are exactly its first _bprefix ranks. Every
block before an open one is complete, so its totals over all rows are its
totals over released rows. (Factor Windows, ICDE 2022, PAPERS.md: compute
the finest shared aggregate once, derive the correlated ones from it.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ordered_batch import DEPTHS, _dedupe, ordered_emit_batch


def salted_ordered_emit_batch(
    df: DataFrame, block: int = 1024, initial_idx: int = 1
) -> DataFrame:
    """Two-phase batch ordering; output identical to ordered_emit_batch."""
    t = F.col("turn_idx").cast("long")
    w_run = (
        Window.partitionBy("conv_id", "_block")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    salted = df.withColumn("_block", ((t - initial_idx) / block).cast("long"))
    ranked = _dedupe(salted, initial_idx, "_block").select(
        "*",
        F.row_number().over(w_run).alias("_brn"),
        *[F.sum(F.expr(v)).over(w_run).alias(f"_loc_{c}") for c, v in DEPTHS.items()],
    )

    in_slot = t == F.col("_block") * block + initial_idx + F.col("_brn") - 1
    blocks = ranked.groupBy("conv_id", "_block").agg(
        F.sum(in_slot.cast("long")).alias("_bprefix"),
        *[F.sum(F.expr(v)).alias(f"_tot_{c}") for c, v in DEPTHS.items()],
    )

    w_before = Window.partitionBy("conv_id").orderBy("_block").rowsBetween(
        Window.unboundedPreceding, -1
    )

    def before(c: str):  # sum over the conversation's earlier blocks
        return F.coalesce(F.sum(c).over(w_before), F.lit(0))

    open_blocks = blocks.select(
        "conv_id", "_block", "_bprefix",
        (before("_bprefix") == F.col("_block") * block).alias("_open"),
        *[before(f"_tot_{c}").alias(f"_off_{c}") for c in DEPTHS],
    ).filter("_open")

    return (
        ranked.join(F.broadcast(open_blocks), ["conv_id", "_block"])
        .filter(F.col("_brn") <= F.col("_bprefix"))
        .select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            (t - initial_idx + 1).alias("emit_seq"),
            *[(F.col(f"_off_{c}") + F.col(f"_loc_{c}")).alias(c) for c in DEPTHS],
        )
    )


def hot_keys(df: DataFrame, threshold: int) -> DataFrame:
    """Keys whose row count exceeds the hot threshold (broadcastable)."""
    return df.groupBy("conv_id").count().filter(F.col("count") > threshold).select("conv_id")


def adaptive_ordered_emit_batch(
    df: DataFrame, hot_threshold: int = 100_000, block: int = 1024
) -> DataFrame:
    """Route hot keys through the two-phase plan, cold keys through the
    single-phase plan; union the results. The hot-key set is broadcast —
    no extra shuffle of the big side beyond the two plans' own exchanges."""
    hot = F.broadcast(hot_keys(df, hot_threshold))
    hot_rows = df.join(hot, "conv_id", "left_semi")
    cold_rows = df.join(hot, "conv_id", "left_anti")
    return ordered_emit_batch(cold_rows, impl="sql").unionByName(
        salted_ordered_emit_batch(hot_rows, block=block)
    )
