"""The session warm-up, timed in a fresh process of its own.

    python3 perfbench/warm_probe.py --result FILE

Builds the session the way run_pipeline does (``get_spark`` with
SPARK_GRAFT_WARM=1) and records two spans: ``session.get_spark_warm``
around the call and ``session.warm`` around the package's warm-up inside
it. Timed runs keep the warm-up off; this probe is how the traced
hotkey_batch run measures that layer.
"""

from __future__ import annotations

import argparse
import sys

from common import Spans, cpus, write_json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    spans = Spans()
    from dataflow_ordered_processing_spark import session

    warm = session._warm_session

    def timed_warm(spark, n_threads):
        with spans.span("session.warm"):
            warm(spark, n_threads)

    # get_spark looks the warm-up up in its module at call time
    session._warm_session = timed_warm
    with spans.span("session.get_spark_warm"):
        spark = session.get_spark("ordered-pipeline", master=f"local[{cpus()}]")
    write_json(args.result, {"spans": spans.items})  # before teardown
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
