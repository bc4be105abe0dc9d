"""Training-data pipeline operators over the driver's documents/embeddings
tables: dedup, similarity, text analysis, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_dedup_exact(docs):
    pdf = docs.toPandas()
    norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    got = dedup.dedup_exact(docs).toPandas()
    assert len(got) == norm.nunique()
    assert got["n_copies"].sum() == len(pdf)


def test_minhash_lsh_finds_exact_dups(docs):
    # exact duplicates must share every band → always candidates
    pdf = docs.toPandas()
    norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    dup_groups = pdf.assign(n=norm).groupby("n")["doc_id"].apply(list)
    expected_pairs = {
        (a, b)
        for ids in dup_groups
        for a in ids
        for b in ids
        if a < b
    }
    got = dedup.minhash_lsh_pairs(docs, k=8, bands=4)
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert expected_pairs <= got_pairs


def test_ngram_jaccard_on_candidates(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, k=8, bands=4)
    sims = dedup.ngram_jaccard(pairs, docs).toPandas()
    if len(sims):
        assert sims["jaccard"].between(0, 1).all()
    # exact dups have jaccard 1.0
    pdf = docs.toPandas()
    norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    dups = pdf.assign(n=norm).groupby("n")["doc_id"].apply(list)
    exact = [(min(a, b), max(a, b)) for ids in dups if len(ids) > 1 for a, b in [(ids[0], ids[1])]]
    if exact:
        merged = sims.set_index(["doc_a", "doc_b"])
        for p in exact:
            assert merged.loc[p, "jaccard"] == 1.0


def test_simhash_identical_for_exact_dups(docs):
    pdf = docs.toPandas()
    norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    got = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    for _, ids in pdf.assign(n=norm).groupby("n")["doc_id"]:
        ids = list(ids)
        if len(ids) > 1:
            assert got[ids].nunique() == 1
    assert got.notna().all()


def test_dedup_keep_first(docs):
    pairs = dedup.minhash_lsh_pairs(docs, k=8, bands=4)
    kept = dedup.dedup_keep_first(docs, pairs)
    assert 0 < kept.count() <= docs.count()


def test_brute_force_topk_matches_numpy(embs):
    pdf = embs.toPandas()
    queries = embs.limit(3).select(
        embs.vec_id.alias("query_id"), embs.embedding.alias("q_embedding")
    )
    got = similarity.brute_force_topk(embs, queries, k=5).toPandas()
    M = np.stack(pdf["embedding"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    for qid in got["query_id"].unique():
        qv = Mn[ids == qid][0]
        sims = Mn @ qv
        order = np.argsort(-sims, kind="stable")
        want = [int(ids[j]) for j in order if ids[j] != qid][:5]
        have = got[got["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        assert have == want


def test_lsh_topk_subset_of_bucket(embs):
    queries = embs.limit(2).select(
        embs.vec_id.alias("query_id"), embs.embedding.alias("q_embedding")
    )
    got = similarity.lsh_topk(embs, queries, k=5, n_planes=4).toPandas()
    assert (got["rank"] <= 5).all()
    assert got["cos_sim"].between(-1.001, 1.001).all()
    # recall vs brute force is imperfect but nonzero on 4 planes
    bf = similarity.brute_force_topk(embs, queries, k=5).toPandas()
    inter = set(map(tuple, got[["query_id", "vec_id"]].values)) & set(
        map(tuple, bf[["query_id", "vec_id"]].values)
    )
    assert len(inter) > 0


def test_cosine_near_dup_bounds(embs):
    nd = similarity.cosine_near_dup(embs.limit(200), threshold=0.8, n_planes=4).toPandas()
    assert (nd["vec_a"] < nd["vec_b"]).all() if len(nd) else True


def test_token_count_and_quality(docs):
    tc = text.token_count(docs).toPandas()
    pdf = docs.toPandas()
    want = pdf["text"].str.strip().str.split().str.len()
    got = tc.set_index("doc_id")["n_ws_tokens"][pdf["doc_id"]].to_numpy()
    assert (got == want.to_numpy()).all()
    q = text.quality_score(docs).toPandas()
    assert q["quality"].between(0, 1).all()


def test_lang_id_deterministic(docs):
    li = text.lang_id(docs).toPandas()
    assert li["lang_pred"].isin(["de", "en", "es", "fr"]).all()
    li2 = text.lang_id(docs).toPandas()
    pd.testing.assert_frame_equal(li, li2)


def test_fingerprint_exact_dups_share_fp(docs):
    fp = text.fingerprint(docs).toPandas()
    pdf = docs.toPandas()
    norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    merged = fp.merge(pdf.assign(n=norm)[["doc_id", "n"]], on="doc_id")
    assert (merged.groupby("n")["exact_fp"].nunique() == 1).all()
    assert (merged.groupby("n")["shingle_fp"].nunique() == 1).all()


def test_multimodal_features(spark):
    media = multimodal.synth_media(spark, n=32)
    feats = multimodal.extract_features(media).toPandas()
    assert len(feats) == 32
    vis = feats["kind"] != "audio"
    assert feats.loc[vis, "feat_mean"].between(0, 255).all()
    # audio is REALLY decoded: a pure sine has mean ~0 and rms ~amp/sqrt(2)
    aud = feats[feats["kind"] == "audio"]
    assert aud["feat_mean"].abs().max() < 1e-3
    assert ((aud["feat_rms"] - 0.5 / np.sqrt(2)).abs() < 1e-3).all()
    assert (feats.loc[feats["kind"] == "video", "n_sampled_frames"] >= 1).all()
    # deterministic across runs
    feats2 = multimodal.extract_features(media).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True),
    )


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", 4, 4, fake=False)


def test_wav_roundtrip_exact():
    # encode -> decode is bit-exact for int16 PCM
    samples = (np.sin(np.linspace(0, 20, 777)) * 20000).astype("<i2")
    payload = multimodal.encode_wav(samples, rate=8000)
    x, rate = multimodal.decode_audio(payload)
    assert rate == 8000
    np.testing.assert_array_equal((x * 32768.0).astype("<i2"), samples)


def test_decode_audio_rejects_non_pcm16():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError):
        multimodal.decode_audio(buf.getvalue())


def test_redact_pii_on_crafted_text(spark):
    rows = [
        (1, "mail me at alice.smith+x@example.co.uk or bob@test.io thanks"),
        (2, "server at 10.0.255.3 port 80; call +1 (415) 555-0199 now"),
        (3, "clean text with no secrets at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = text.redact_pii(df).toPandas().set_index("doc_id")
    assert got.loc[1, "n_email"] == 2
    assert "<EMAIL>" in got.loc[1, "redacted"] and "@" not in got.loc[1, "redacted"]
    assert got.loc[2, "n_ipv4"] == 1 and got.loc[2, "n_phone"] == 1
    assert "<IPV4>" in got.loc[2, "redacted"] and "<PHONE>" in got.loc[2, "redacted"]
    assert got.loc[3, "redacted"] == rows[2][1]
    assert (got[["n_email", "n_ipv4", "n_phone"]].loc[3] == 0).all()


def test_redact_counts_match_insertions(spark):
    df = spark.createDataFrame(
        [(1, "contact a@1.2.3.4.net or 5.6.7.8"), (2, "x@y.com a@1.2.3.4.net")],
        ["doc_id", "text"],
    )
    got = text.redact_pii(df).toPandas().set_index("doc_id")
    # doc 1: the email consumes 1.2.3.4 — only the standalone ip counts
    assert got.loc[1, "n_email"] == 1 and got.loc[1, "n_ipv4"] == 1
    assert got.loc[1, "redacted"].count("<IPV4>") == got.loc[1, "n_ipv4"]
    # doc 2: both matches are emails; no <IPV4> token is ever inserted
    assert got.loc[2, "n_email"] == 2 and got.loc[2, "n_ipv4"] == 0
    assert "<IPV4>" not in got.loc[2, "redacted"]


def test_bpe_regex_token_count(spark):
    df = spark.createDataFrame([(1, "Hello, world! x2 (42)")], "doc_id long, text string")
    got = text.token_count(df).toPandas().iloc[0]
    # Hello , world ! x 2 ( 4 2 )  -> 10 pieces
    assert got["n_bpe_regex"] == 10
    assert got["n_ws_tokens"] == 4


def test_ivf_topk_recall_and_self_cells(embs):
    queries = embs.limit(3).select(
        embs.vec_id.alias("query_id"), embs.embedding.alias("q_embedding")
    )
    got = similarity.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2).toPandas()
    assert (got["rank"] <= 5).all()
    # recall vs brute force is imperfect but nonzero with 8 cells / 2 probes
    bf = similarity.brute_force_topk(embs, queries, k=5).toPandas()
    inter = set(map(tuple, got[["query_id", "vec_id"]].values)) & set(
        map(tuple, bf[["query_id", "vec_id"]].values)
    )
    assert len(inter) > 0
    # a centroid vector must be assigned to its own cell (cos = 1 with itself)
    cent_rows = embs.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    cents = [(int(r["vec_id"]), list(r["embedding"])) for r in cent_rows]
    assigned = similarity.ivf_assign(embs.filter(F.col("vec_id") < 8), "embedding", cents)
    rows = assigned.toPandas()
    assert (rows["cell"] == rows["vec_id"]).all()


def _pairs(spark, *ab):
    return spark.createDataFrame(list(ab), "doc_a long, doc_b long")


def _docs(spark, n):
    return spark.range(n).selectExpr("id AS doc_id", "concat('doc ', id) AS text")


def test_dedup_clusters_chain(spark):
    """A~B~C~D chain → ONE cluster labelled by the minimum id; the isolated
    doc labels itself."""
    docs = _docs(spark, 6)
    pairs = _pairs(spark, (1, 2), (2, 3), (3, 4))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5}


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    """A 40-node chain through the distributed rounds (driver_max_edges=0)
    converges in at most ceil(log2 40) + 1 = 7 rounds thanks to label
    compression; min propagation alone would need ~40 rounds."""
    n = 40
    docs = _docs(spark, n)
    pairs = _pairs(spark, *[(i, i + 1) for i in range(n - 1)])
    stats = {}
    got = dedup.dedup_clusters(
        docs, pairs, max_iter=10, stats=stats, driver_max_edges=0
    ).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert stats["rounds"] <= 7, stats


def test_dedup_clusters_multiple_components_and_empty(spark):
    docs = _docs(spark, 8)
    pairs = _pairs(spark, (0, 7), (5, 6), (6, 3))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 7: 0, 5: 3, 6: 3, 3: 3, 1: 1, 2: 2, 4: 4}
    # no pairs at all → every doc is its own cluster
    none = dedup.dedup_clusters(docs, _pairs(spark)).collect()
    assert all(r["cluster_id"] == r["doc_id"] for r in none)


def test_dedup_clusters_distributed_rounds_match_driver_path(spark):
    """driver_max_edges=0 forces the iterative min-label rounds; on a small
    graph (chain, star via a larger doc, isolated docs) they must return
    exactly the driver union-find's labelling."""
    docs = _docs(spark, 12)
    pairs = _pairs(spark, (1, 2), (2, 3), (3, 4), (5, 9), (6, 9), (7, 10))

    def labels(**kw):
        return sorted(
            (r["doc_id"], r["cluster_id"])
            for r in dedup.dedup_clusters(docs, pairs, **kw).collect()
        )

    driver = labels()
    assert labels(driver_max_edges=0) == driver
    assert dict(driver)[4] == 1 and dict(driver)[9] == 5 and dict(driver)[11] == 11


def test_dedup_keep_first_transitive_beats_one_round(spark):
    """The motivating divergence: with pairs respecting the
    doc_a < doc_b contract, a component {1,2,3} reachable only through a
    shared larger doc — (1,3),(2,3) — has 2 never appearing as a doc_b, so
    one-round single-link wrongly keeps both 1 and 2; transitive keeps only
    the component minimum."""
    docs = _docs(spark, 5)
    pairs = _pairs(spark, (1, 2), (2, 3))
    legacy = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_first(docs, pairs, transitive=False).collect()
    )
    exact = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_first(docs, pairs, transitive=True).collect()
    )
    assert exact == [0, 1, 4]
    assert legacy == [0, 1, 4]  # star+chain coincide when every dup is a doc_b
    # divergent fixture: component {1,2,3} via (1,3),(2,3) — 2 is never doc_b
    pairs2 = _pairs(spark, (1, 3), (2, 3))
    legacy2 = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_first(docs, pairs2, transitive=False).collect()
    )
    exact2 = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_first(docs, pairs2, transitive=True).collect()
    )
    assert legacy2 == [0, 1, 2, 4]  # one-round keeps BOTH 1 and 2
    assert exact2 == [0, 1, 4]  # transitive keeps only the component min


@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None)
def test_dedup_clusters_matches_union_find(edges):
    """Property: for ANY pair graph, the min-label fixpoint equals a plain
    union-find's component minima (the reference implementation the Spark
    operator must agree with). hypothesis can't take pytest fixtures, so
    the session comes from get_spark's getOrCreate (same config as the
    conftest fixture — reuses it when already up)."""
    from dataflow_ordered_processing_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)

    n = 10
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in range(n)}

    docs = spark.range(n).selectExpr("id AS doc_id")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(0, 0)],
        "doc_a long, doc_b long",
    ).filter("doc_a <> doc_b")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert got == expected


def test_ann_plan_shapes(spark, sf_dir):
    """Plan pins for the reworked ANN paths: candidate generation must be a
    BROADCAST equi-join on the bucket/cell key (never a cartesian product,
    never a sort-merge join of the corpus), and the vectorized scorer must
    appear as a single Arrow-batched python stage (ArrowEvalPython), not a
    per-row codegen expression tree."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    lsh = plan(similarity.lsh_topk(embs, queries, k=5, n_planes=4, n_tables=4))
    assert "BroadcastHashJoin" in lsh
    assert "CartesianProduct" not in lsh and "SortMergeJoin" not in lsh
    assert "ArrowEvalPython" in lsh  # vectorized signatures + scorer

    ivf = plan(similarity.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2))
    assert "BroadcastHashJoin" in ivf
    assert "CartesianProduct" not in ivf and "SortMergeJoin" not in ivf
    assert "ArrowEvalPython" in ivf


def test_lsh_degenerate_bucket_capped(spark):
    """Adversarial corpus: 500 identical docs share every band key. Without
    a cap the band self-join expands 500²/2 pairs in ONE bucket; with the
    cap the bucket is dropped (the exact tier owns identical docs) and the
    query completes with no quadratic expansion."""
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.lit("same text everywhere here now").alias("text")
    )
    capped = dedup.minhash_lsh_pairs(docs, max_bucket=64)
    assert capped.count() == 0  # mega-bucket excluded from pair expansion
    stats = dedup.lsh_bucket_stats(docs).collect()
    assert stats[0]["n_docs"] == 500  # the audit query exposes the cluster
    # the cheaper exact tier still catches the cluster
    ex = dedup.dedup_exact(docs).collect()
    assert len(ex) == 1 and ex[0]["n_copies"] == 500
    # a cap above every bucket size is a no-op vs the uncapped default:
    # the capped path itself is lossless on benign data
    benign = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("distinct words for doc number "), F.col("id").cast("string")).alias("text"),
    )
    assert (
        dedup.minhash_lsh_pairs(benign, max_bucket=64).collect()
        == dedup.minhash_lsh_pairs(benign).collect()
    )


def test_vocab_topk_counts_and_tiebreak(spark):
    df = spark.createDataFrame([(1, "a b b c C"), (2, "b  a\t x")], ["doc_id", "text"])
    got = [(r["token"], r["n"]) for r in text.vocab_topk(df, k=3).collect()]
    # case-folded, whitespace-split; ties broken by token for a stable cut
    assert got == [("b", 3), ("a", 2), ("c", 2)]


def test_doc_length_stats_exact(spark):
    df = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate([4, 8, 10, 100])], ["doc_id", "text"]
    )
    row = text.doc_length_stats(df).collect()[0]
    assert row["n_docs"] == 4 and row["max_chars"] == 100
    assert row["p50_chars"] == 9.0  # exact percentile, linear interpolation
    assert row["mean_chars"] == 30.5
