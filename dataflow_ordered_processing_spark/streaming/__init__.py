from .ordered_stream import OrderedStreamConfig
from .ordered_sharded import ordered_stream
from .sinks import split_sink, start_ordered_pipeline
from .hotkey import order_hot_channel, read_pipeline_output
from .metrics import BufferMetricsListener


def resolve_n_shards(source, n_shards=None) -> int:
    """THE single definition of the shard-count default: None → 8 ×
    defaultParallelism (measured sweet spot, BENCH/BASELINE.md shard sweep
    — flat across 2-8 shards/core; 8 also spreads state across executors
    on real clusters). Every entrypoint resolves through here so pipelines,
    benchmarks, and the checkpoint marker can never disagree."""
    if n_shards is None:
        return 8 * source.sparkSession.sparkContext.defaultParallelism
    return n_shards


def build_ordered_stream(source, cfg=None, engine="sharded", n_shards=None):
    """The ordered stream as entrypoints name it: ``engine`` stays for
    callers that pass it, and 'sharded' (the shard-keyed ordered_stream)
    is the only value."""
    if engine != "sharded":
        raise ValueError(f"unknown engine {engine!r}: the only engine is 'sharded'")
    return ordered_stream(source, cfg, n_shards=n_shards)


__all__ = [
    "OrderedStreamConfig",
    "resolve_n_shards",
    "ordered_stream",
    "build_ordered_stream",
    "split_sink",
    "start_ordered_pipeline",
    "order_hot_channel",
    "read_pipeline_output",
    "BufferMetricsListener",
]
