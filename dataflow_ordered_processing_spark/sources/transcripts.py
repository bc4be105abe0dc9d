"""The transcripts input table, derived deterministically from the driver's
``events`` parquet (TESTDATA.md) with expressions that evaluate identically
in Spark SQL and DuckDB — so every transcript query has an exact DuckDB
oracle with no side-channel files.

Shape per BASELINE.json input_hint:
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Mapping (mirrors the reference's event model, marketdata.proto:21-73):
  conv_id   = 'conv-' || lpad(user_id, 6, '0')        (SessionContractKey analog)
  turn_idx  = row_number per user ordered by (ts, event_id)   (contractSeqId:
              1-based, contiguous, gap-free — marketdata.proto:26-32)
  role      = user → assistant → tool cycle; the final turn of each
              conversation is the 'system' / '__end__' sentinel
              (lastContractMessage analog, marketdata.proto:39-41)
  text      = deterministic unique payload (md5-derived) — makes "per-turn
              text equality under stable turn ordering" a strong oracle
  tool      = one of search/calc/code/browse on tool rows, else NULL
  ts        = the event's ts (strictly nondecreasing within a conversation)

Only dialect-portable constructs are used: CAST(.. AS STRING), concat, lpad,
substr, md5, %, CASE, row_number/count OVER.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPTS_SQL = """
SELECT conv_id, turn_idx,
       role,
       CASE WHEN role = 'system' THEN '__end__'
            ELSE concat(conv_id, ':', CAST(turn_idx AS STRING), ':', role, ':',
                        substr(md5(concat(conv_id, ':', CAST(turn_idx AS STRING))), 1, 16))
       END AS text,
       CASE WHEN role = 'tool' THEN
            CASE (event_id % 4) WHEN 0 THEN 'search' WHEN 1 THEN 'calc'
                                WHEN 2 THEN 'code' ELSE 'browse' END
       END AS tool,
       ts
FROM (
  SELECT conv_id, turn_idx, n_turns, event_id, ts,
         CASE WHEN turn_idx = n_turns THEN 'system'
              ELSE CASE ((turn_idx - 1) % 3) WHEN 0 THEN 'user'
                                             WHEN 1 THEN 'assistant'
                                             ELSE 'tool' END
         END AS role
  FROM (
    SELECT concat('conv-', lpad(CAST(user_id AS STRING), 6, '0')) AS conv_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS turn_idx,
           CAST(count(*) OVER (PARTITION BY user_id) AS INT) AS n_turns,
           event_id, ts
    FROM events
  ) keyed
) roled
"""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts DataFrame for a testdata scale-factor directory."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)


def shuffled_arrival(df: DataFrame, seed: int = 42) -> DataFrame:
    """A deterministic arrival permutation of a transcripts table — models the
    out-of-order delivery the reference's TestStream scripts
    (OrderBookProcessingPipelineTest.java:203-217). Pure column exprs; the
    arrival rank is derivable in any engine (hash-based, seeded)."""
    return (
        df.withColumn("_arr", F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.lit(seed)))
        .orderBy("_arr")
        .drop("_arr")
    )
