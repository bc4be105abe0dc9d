"""PySpark-native per-key ordered event processing engine.

A brand-new Structured-Streaming reimplementation of the capabilities of
GoogleCloudPlatform/dataflow-ordered-processing (Apache Beam's
OrderedEventProcessor demo): consume out-of-order, per-key-sequenced events,
buffer them in keyed state, and emit them in strict per-key sequence order
together with OrderedProcessingStatus-style diagnostics.

Domain: multi-turn conversation / agent transcripts
    (conv_id: string, turn_idx: int32, role: string, text: string,
     tool: string, ts: timestamp)
keyed by ``conv_id`` and sequenced by ``turn_idx`` (the reference keys by
SessionContractKey and sequences by contractSeqId — see
reference order-book-pipeline ConvertOrderBookEventToKV.java:26-32).

Spark-first architecture:
  - batch ordering       : groupBy(conv_id).applyInPandas (Arrow, vectorized)
  - streaming ordering   : groupBy(conv_id).applyInPandasWithState
  - windows / joins      : built-in event-time windows + watermarked joins
  - analytics            : plain Spark SQL over the output tables
  - sinks                : parquet/Iceberg append + idempotent foreachBatch merge
"""

__version__ = "0.1.0"

INITIAL_TURN_IDX = 1  # reference: OrderBookEventExaminer.java:33-37 (seq starts at 1)
END_ROLE = "system"
END_TEXT = "__end__"  # lastContractMessage analog (marketdata.proto:39-41)

# Every worker-side import of our UDFs passes through this module, so a
# reused Python worker stops re-reading pyspark.zip and the spark-core jar
# on each task from its second task on (see zipimport_cache).
from .zipimport_cache import install as _install_zipimport_cache  # noqa: E402

_install_zipimport_cache()
