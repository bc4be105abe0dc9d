"""Training-data preparation operators: sequence packing (concat-and-chunk
assignment, distributed two-phase prefix sum), the cross-document
repeated-n-gram blocklist, and the curation steps training_mix composes
(repetition score, hash split, decontamination, stratified sampling)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_pack_sequences_matches_single_window(spark):
    """The distributed two-phase prefix sum must equal the naive global
    cumulative sum, for bucket sizes that split / don't split the data —
    and chunks must tile: offset = cum % max, seq strictly nondecreasing."""
    import pandas as pd

    from dataflow_ordered_processing_spark.functions.text import pack_sequences

    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "text": [" ".join(["w"] * (7 + (i * 13) % 40)) for i in range(100)],
        }
    )
    df = spark.createDataFrame(pdf)
    expect = None
    for buckets in (8192, 16, 1):  # one bucket / many / one-per-bucket widths
        got = (
            pack_sequences(df, 64, buckets=buckets)
            .orderBy("doc_id")
            .toPandas()
            .reset_index(drop=True)
        )
        if expect is None:
            # naive oracle in pandas
            n = pdf["text"].str.split().str.len()
            cum = n.cumsum().shift(fill_value=0)
            assert got["n_tokens"].tolist() == n.tolist()
            assert got["seq_id"].tolist() == (cum // 64).tolist()
            assert got["token_offset"].tolist() == (cum % 64).tolist()
            expect = got
        else:
            pd.testing.assert_frame_equal(got, expect)
    assert expect["seq_id"].is_monotonic_increasing
    assert expect["seq_id"].max() > 0


def test_pack_sequences_scale_shape(spark):
    """100-TB posture: the ONLY unpartitioned window runs over the bucket
    TOTALS (#buckets rows), never the corpus — the corpus-side window is
    partitioned by bucket, and the offsets come back via broadcast."""
    import pandas as pd

    from dataflow_ordered_processing_spark.functions.text import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "text": ["a b c"] * 50})
    )
    plan = (
        pack_sequences(df, 64, buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the offsets join must actually BE a broadcast hash join (review r7c:
    # an `or` here was vacuous — a ShuffledHashJoin degradation sailed
    # through)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the global window must be fed by the aggregate, not the raw rows:
    # exactly one single-partition exchange, downstream of a HashAggregate
    assert plan.count("Exchange SinglePartition") == 1


def test_repeated_ngrams_blocklist(spark):
    import pandas as pd

    from dataflow_ordered_processing_spark.functions.text import repeated_ngrams

    boiler = "the quick brown fox jumps"
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                f"{boiler} doc zero unique tail here",
                f"intro words then {boiler} and more",
                "completely unrelated content with no overlap at all",
                f"{boiler} appears a third time in this one",
                "another unique document body entirely different words",
                "yet another singleton document with its own phrasing",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = repeated_ngrams(df, shingle=5, min_docs=2).toPandas()
    # the boilerplate 5-gram is flagged with the right doc count
    import hashlib

    gh = hashlib.md5(boiler.encode()).hexdigest()
    hit = got[got.gh == gh]
    assert len(hit) == 1 and int(hit.n_docs.iloc[0]) == 3
    # a gram unique to one doc must be ABSENT — by hash, not via the
    # output's own >= min_docs filter (review r7c: that assert was
    # tautological)
    singleton = hashlib.md5(b"completely unrelated content with no").hexdigest()
    assert singleton not in set(got.gh)


def test_pack_sequences_sparse_order_and_ties(spark):
    """Sparse order values (snowflake-id spacing) must still land in
    ~`buckets` buckets (width from the actual range — not one doc per
    bucket), and order ties break deterministically by doc_id."""
    import pandas as pd

    from dataflow_ordered_processing_spark.functions.text import pack_sequences

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "ord_sparse": [i * 1_000_003 for i in range(40)],  # >> bucket count
            "text": [" ".join(["w"] * (5 + i % 9)) for i in range(40)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        pack_sequences(df, 32, order="ord_sparse", buckets=8)
        .orderBy("doc_id")
        .toPandas()
    )
    n = pdf["text"].str.split().str.len()
    cum = n.cumsum().shift(fill_value=0)
    assert got["seq_id"].tolist() == (cum // 32).tolist()
    assert got["token_offset"].tolist() == (cum % 32).tolist()
    # ties: same order value twice → doc_id breaks deterministically
    pdf2 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "ts_ord": [10, 10, 20, 20],
            "text": ["a b c", "d e", "f g h i", "j"],
        }
    )
    got2 = (
        pack_sequences(spark.createDataFrame(pdf2), 4, order="ts_ord")
        .orderBy("doc_id")
        .toPandas()
    )
    # doc order under ties = doc_id order: cum = 0,3,5,9
    assert got2["seq_id"].tolist() == [0, 0, 1, 2]
    assert got2["token_offset"].tolist() == [0, 3, 1, 1]
    # non-numeric order refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="numeric"):
        pack_sequences(
            spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a"]})),
            8,
            order="text",
        )


def test_pack_sequences_rejects_nonpositive_max_tokens(spark):
    """ADVICE r7 hardening: max_tokens=0 used to emit NULL
    seq_id/token_offset silently (DIV 0 / pmod 0); it must raise at entry."""
    import pytest

    from dataflow_ordered_processing_spark.functions import text

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_tokens"):
        text.pack_sequences(docs, 0)


def test_repetition_score(spark):
    from dataflow_ordered_processing_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),     # one distinct 3-gram
            (1, "all words here are fully distinct"), # no repeated 3-gram
            (2, "hi"),                                # < 3 words → 0.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rep_score"] for r in T.repetition_score(docs).collect()}
    assert got[0] == round(1 - 1 / 4, 6)  # 4 shingles, 1 distinct
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_dataset_split_deterministic_and_complete(spark):
    from dataflow_ordered_processing_spark.functions import text as T

    docs = spark.range(2000).selectExpr("id AS doc_id")
    a = {r["doc_id"]: r["split"] for r in T.dataset_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in T.dataset_split(docs).collect()}
    assert a == b  # content-independent, rerun-stable
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.85 < c["train"] / 2000 < 0.95  # ~90/5/5 hash split
    # growing the corpus never migrates existing docs
    grown = {r["doc_id"]: r["split"]
             for r in T.dataset_split(spark.range(4000).selectExpr("id AS doc_id")).collect()}
    assert all(grown[k] == v for k, v in a.items())


def test_decontaminate_flags_overlap_only(spark):
    from dataflow_ordered_processing_spark.functions import text as T

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
            (2, "entirely unrelated content with no overlap at all in any gram here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_contaminated_grams"]
           for r in T.decontaminate(docs, bench, shingle=8).collect()}
    assert 1 in got and got[1] >= 1  # shares the benchmark 8-grams
    assert 2 not in got              # clean doc not flagged


def test_sample_stratified_rates_and_stability(spark, sf_dir):
    """Per-stratum hash sampling: rate 1.0 keeps everything, 0.0 nothing;
    membership is identical across re-runs AND under corpus growth (the
    kept set of a subset equals the subset of the kept set — the property
    a seeded-RNG sample cannot give)."""
    from dataflow_ordered_processing_spark.functions import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.0}
    kept = text.sample_stratified(docs, rates, default_rate=0.4)
    n_src0 = docs.filter("source = 'src0'").count()
    assert kept.filter("source = 'src0'").count() == n_src0
    assert kept.filter("source = 'src1'").count() == 0
    ids1 = {r["doc_id"] for r in kept.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in text.sample_stratified(docs, rates, default_rate=0.4)
            .select("doc_id").collect()}
    assert ids1 == ids2  # re-run stable
    sub = docs.filter(F.col("doc_id") % 3 == 0)
    sub_kept = {r["doc_id"] for r in text.sample_stratified(sub, rates, default_rate=0.4)
                .select("doc_id").collect()}
    assert sub_kept == {i for i in ids1 if i % 3 == 0}  # growth stable
