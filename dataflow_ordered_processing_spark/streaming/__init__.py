from .ordered_stream import OrderedStreamConfig, ordered_stream
from .ordered_sharded import ordered_stream_sharded
from .sinks import split_sink, start_ordered_pipeline
from .hotkey import order_hot_channel, read_pipeline_output
from .metrics import BufferMetricsListener

# THE default streaming engine, read by build_ordered_stream,
# start_ordered_pipeline and run_pipeline --engine: the shard-keyed engine
# (same output as classic, one invocation per shard per batch).
DEFAULT_ENGINE = "sharded"


def resolve_n_shards(source, n_shards=None) -> int:
    """THE single definition of the shard-count default: None → 8 ×
    defaultParallelism (measured sweet spot, BENCH/BASELINE.md shard sweep
    — flat across 2-8 shards/core; 8 also spreads state across executors
    on real clusters). Every entrypoint resolves through here so pipelines,
    benchmarks, and the checkpoint marker can never disagree."""
    if n_shards is None:
        return 8 * source.sparkSession.sparkContext.defaultParallelism
    return n_shards


def build_ordered_stream(source, cfg=None, engine=DEFAULT_ENGINE, n_shards=None):
    """Single engine-dispatch point (used by the pipeline entrypoint, the
    sink wiring, and the test harness): 'classic' = state per conv_id,
    'sharded' = state per hash shard (same output, ~3x throughput)."""
    if engine == "sharded":
        # ordered_stream_sharded resolves n_shards=None itself (through
        # resolve_n_shards) — pass through, don't resolve twice
        return ordered_stream_sharded(source, cfg, n_shards=n_shards)
    if engine == "classic":
        return ordered_stream(source, cfg)
    raise ValueError(f"unknown engine {engine!r}")


__all__ = [
    "DEFAULT_ENGINE",
    "OrderedStreamConfig",
    "resolve_n_shards",
    "ordered_stream",
    "ordered_stream_sharded",
    "build_ordered_stream",
    "split_sink",
    "start_ordered_pipeline",
    "order_hot_channel",
    "read_pipeline_output",
    "BufferMetricsListener",
]
