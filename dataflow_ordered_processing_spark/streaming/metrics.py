"""Per-partition lineage + buffer metrics (north_rule: "checkpoints capture
per-partition lineage and buffer metrics for resumable restarts").

Two layers:
  1. BufferMetricsListener — a StreamingQueryListener appending one JSON line
     per micro-batch progress event: rows/sec, state-store rows (= keys with
     open buffers) and the stateful stage's commit/update/removal times and
     provider metrics, per-epoch watermark, sink description. This is the
     engine-level analog of the reference's Dataflow job metrics.
  2. The status table itself (OrderedProcessingStatus rows) carries the
     per-KEY buffer depth/gap bounds — queryable lineage of every
     conversation's ordering progress (reference README.md:89-143 queries).
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class BufferMetricsListener(StreamingQueryListener):
    def __init__(self, out_path: str):
        self.out_path = out_path
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)

    def _emit(self, record: dict) -> None:
        with self._lock, open(self.out_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def onQueryStarted(self, event):
        self._emit({"event": "started", "id": str(event.id), "runId": str(event.runId)})

    def onQueryProgress(self, event):
        p = event.progress
        state_ops = [
            {
                "operator": s.operatorName,
                "rows_total": s.numRowsTotal,
                "rows_updated": s.numRowsUpdated,
                "rows_removed": s.numRowsRemoved,
                "memory_bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
                "updates_ms": s.allUpdatesTimeMs,
                "removals_ms": s.allRemovalsTimeMs,
                "num_shuffle_partitions": s.numShufflePartitions,
                # the provider's own metrics (RocksDB: commit, flush and sync latencies)
                "custom_metrics": dict(s.customMetrics or {}),
            }
            for s in (p.stateOperators or [])
        ]
        self._emit(
            {
                "event": "progress",
                "id": str(p.id),
                "batchId": p.batchId,
                "timestamp": p.timestamp,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs or {}),
                "stateOperators": state_ops,
                "watermark": (p.eventTime or {}).get("watermark"),
            }
        )

    def onQueryTerminated(self, event):
        self._emit(
            {
                "event": "terminated",
                "id": str(event.id),
                "exception": event.exception,
            }
        )

    def onQueryIdle(self, event):
        pass
