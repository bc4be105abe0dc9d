"""Round-6 regressions: sample_stratified threshold rounding (ADVICE r5
low), LSH multiprobe and the trained IVF index."""

import fcntl
import glob
import json
import os
import shutil
from math import comb

import pytest
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.functions import similarity as S
from dataflow_ordered_processing_spark.locking import committed_dirs


def test_sample_stratified_threshold_rounds(spark):
    """The keep threshold must round, not truncate — rate 0.3
    is 299999.999… in float64; truncation silently drops bucket 299999."""
    from dataflow_ordered_processing_spark.functions import text

    docs = spark.createDataFrame(
        [(i, "src0") for i in range(4000)], "doc_id long, source string"
    )
    kept = text.sample_stratified(docs, {"src0": 0.3})
    bucket = text._md5_bucket(F.col("doc_id"), ":sample", 1_000_000)
    expect = docs.filter(bucket < 300000)  # exact integer threshold
    assert kept.count() == expect.count()
    assert kept.exceptAll(expect).count() == 0


def test_probe_masks_and_multiprobe_superset(spark, sf_dir):
    """Multiprobe masks are Hamming-≤depth; probing only ADDS query-side
    bucket rows (candidates are a superset of the exact-bucket set)."""
    assert S.probe_masks(4, 0) == [0]
    assert S.probe_masks(4, 1) == [0, 1, 2, 4, 8]
    m2 = S.probe_masks(4, 2)
    assert len(m2) == 1 + 4 + 6 and len(set(m2)) == len(m2)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in S.lsh_topk(emb, queries, n_planes=4, n_tables=2).collect()
    }
    mp = S.lsh_topk(emb, queries, n_planes=4, n_tables=2, multiprobe=1)
    got = {(r["query_id"], r["vec_id"]) for r in mp.collect()}
    # top-k can only improve (scores are exact; candidate set grew)
    assert len(got) >= len(exact)


def test_train_ivf_codebook_deterministic(spark, sf_dir):
    """Trained IVF: two training runs over differently-partitioned input
    produce the SAME codebook (integer-micros means are addition-order
    free) — the property the cross-engine oracle exactness rests on."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb1 = S.train_ivf_codebook(emb, n_cells=4, n_iter=2)
    cb2 = S.train_ivf_codebook(emb.repartition(7), n_cells=4, n_iter=2)
    assert cb1 == cb2
    assert [c for c, _ in cb1] == [0, 1, 2, 3]
    # training actually moved the centroids off the init vectors
    init = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    assert any(cb1[i][1] != init[i] for i in range(4))


def test_probe_masks_any_depth():
    """probe_masks never clamps the depth: depth d must
    enumerate every mask of popcount <= d (clamped to n_planes), with the
    depth-2 prefix unchanged from the shipped oracle definition."""
    n = 6
    m3 = S.probe_masks(n, 3)
    assert len(m3) == 1 + comb(n, 1) + comb(n, 2) + comb(n, 3)
    assert len(set(m3)) == len(m3)
    assert all(bin(m).count("1") <= 3 and m < (1 << n) for m in m3)
    # prefix stability: the depth<=2 definition is unchanged
    legacy = [0] + [1 << i for i in range(n)] + [
        (1 << i) | (1 << j) for i in range(n) for j in range(i + 1, n)
    ]
    assert m3[: len(legacy)] == legacy
    # depth beyond n_planes = full enumeration, no error
    assert len(S.probe_masks(3, 99)) == 8


def test_train_ivf_codebook_empty_init_raises(spark):
    emb = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="requires ids"):
        S.train_ivf_codebook(emb, "embedding", n_cells=8, n_iter=1)
    # partial init: 2 of 8 ids present must ALSO raise — a
    # silently smaller codebook mislabels every downstream artifact
    emb2 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="found 2 centroids"):
        S.train_ivf_codebook(emb2, "embedding", n_cells=8, n_iter=1)


def test_caller_codebook_normalized_and_validated():
    """A caller-supplied codebook must be sorted cell-ascending
    (ivf_assign's tie-break resolves to the earlier list POSITION, and the
    SQL oracle's tie-break is the smaller cell id) and duplicate cell ids
    rejected — the codebooks this module trains already guarantee both."""
    assert S._normalize_codebook([(2, [0.0]), (0, [1.0]), (1, [2.0])]) == [
        (0, [1.0]),
        (1, [2.0]),
        (2, [0.0]),
    ]
    with pytest.raises(ValueError, match="duplicate cell ids"):
        S._normalize_codebook([(0, [1.0]), (0, [2.0])])


def test_ivf_topk_codebook_override_matches_training(spark):
    """ivf_topk(codebook=...) must reproduce ivf_topk(train_iters=...) when
    given the codebook that training produces (the sweep-hoisting contract)."""
    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(4)]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qrows = [(i, r[1]) for i, r in zip(range(3), rows[5:8])]
    q = spark.createDataFrame(qrows, "query_id long, q_embedding array<float>")
    cb = S.train_ivf_codebook(emb, "embedding", n_cells=4, n_iter=2)
    a = S.ivf_topk(emb, q, k=3, n_cells=4, n_probe=2, train_iters=2)
    b = S.ivf_topk(emb, q, k=3, n_cells=4, n_probe=2, codebook=cb)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_training_mix_matches_stagewise_composition(spark, sf_dir):
    """training_mix's single-scan inline plan must return exactly what the
    five standalone operators produce when chained by joins — the
    composition is a plan-shape optimization, not a semantics change."""
    from dataflow_ordered_processing_spark.functions import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    got = text.training_mix(
        docs, bench, lang="en", min_quality=0.3,
        rates={"src0": 1.0, "src1": 0.5}, default_rate=0.2,
    )
    # stagewise reference: the standalone operators joined on doc_id
    lang_ok = text.lang_id(docs).filter(F.col("lang_pred") == "en").select("doc_id")
    q = text.quality_score(docs).filter(F.col("quality") >= 0.3).select(
        "doc_id", "n_tokens", "quality"
    )
    flagged = text.decontaminate(docs, bench).select("doc_id")
    surv = (
        docs.select("doc_id", "source")
        .join(lang_ok, "doc_id")
        .join(q, "doc_id")
        .join(flagged, "doc_id", "left_anti")
    )
    kept = text.sample_stratified(
        surv, {"src0": 1.0, "src1": 0.5}, default_rate=0.2
    )
    want = kept.join(text.dataset_split(kept), "doc_id").select(
        "doc_id", "source", "n_tokens", "quality", "split"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_training_mix_plan_shape(spark, sf_dir):
    """The 100-TB contract: exactly TWO corpus scans (inline features +
    the contamination gram explode), the anti-join is broadcast, and no
    sort-merge join anywhere."""
    from dataflow_ordered_processing_spark.functions import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = text.training_mix(
        docs, bench, lang="en", min_quality=0.3, rates={"src0": 1.0}
    )._jdf.queryExecution().executedPlan().toString()
    # scans: corpus (features) + corpus (doc grams) + bench (gram digest,
    # itself a filtered corpus scan) = 3 parquet scans of the file, but
    # only TWO full-corpus passes; no more than 3 scans total
    assert plan.count("Scan parquet") <= 3, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivf_index_build_query_matches_direct(spark, sf_dir, tmp_path):
    """ivf_topk_indexed over a materialized build_ivf_index layout must be
    bit-identical to per-call ivf_topk with the same parameters (same
    codebook recipe; JSON float round-trip is exact)."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    idx = str(tmp_path / "ivf")
    cb = S.build_ivf_index(embs, idx, n_cells=8, train_iters=3)
    assert len(cb) == 8
    direct = S.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2, train_iters=3)
    indexed = S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, indexed.collect())
    )
    # caller-supplied codebook (train once, build many indexes) must land
    # the identical layout + results
    idx2 = str(tmp_path / "ivf2")
    cb2 = S.build_ivf_index(embs, idx2, n_cells=8, codebook=cb)
    assert cb2 == cb
    indexed2 = S.ivf_topk_indexed(spark, idx2, queries, k=5, n_probe=2)
    assert sorted(map(tuple, indexed2.collect())) == sorted(
        map(tuple, indexed.collect())
    )


def test_ivf_index_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """The 100-TB contract of the materialized index: the corpus scan
    carries a static cell partition filter, so unprobed cell=N/ dirs are
    never opened."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(embs, idx, n_cells=8, train_iters=3)
    base = os.path.join(S._gen_dir(idx), "corpus", "epoch=base")
    n_cell_dirs = len([d for d in os.listdir(base) if d.startswith("cell=")])
    assert n_cell_dirs > 2  # the index actually fanned out
    # small-files guard: the clustered write lands ~files_per_cell (=1)
    # parquet files per cell dir, not one per upstream partition

    n_files = len(glob.glob(os.path.join(base, "cell=*", "*.parquet")))
    assert n_files <= 2 * n_cell_dirs, (n_files, n_cell_dirs)
    plan = (
        S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the scan must name a concrete cell partition filter, not scan-all
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120], plan


def test_ivf_append_epoch_grows_index_idempotently(spark, sf_dir, tmp_path):
    """append_ivf_epoch: the delta is assigned with the STORED codebook and
    committed as a _SUCCESS-gated epoch generation — results over the grown
    index equal per-call ivf_topk over the union corpus with the SAME
    (base-trained) codebook; a replay of a committed epoch is a no-op; a
    crashed half-written epoch is invisible until retried."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # range split: the strict deterministic init needs ids 0..n_cells-1
    # present in the training (base) corpus
    base = embs.filter(F.col("vec_id") < 300)
    delta = embs.filter(F.col("vec_id") >= 300)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    idx = str(tmp_path / "ivf")
    cb = S.build_ivf_index(base, idx, n_cells=8, train_iters=3)

    assert S.append_ivf_epoch(delta, idx, "e0001") is True
    grown = sorted(
        map(tuple, S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            S.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2, codebook=cb).collect(),
        )
    )
    assert grown == want

    # committed replay: no-op, results unchanged
    assert S.append_ivf_epoch(delta, idx, "e0001") is False
    assert (
        sorted(
            map(
                tuple,
                S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect(),
            )
        )
        == grown
    )

    # crashed half-write: epoch dir without _SUCCESS must be invisible...
    crashed = os.path.join(S._gen_dir(idx), "corpus", "epoch=e0002")
    src = os.path.join(S._gen_dir(idx), "corpus", "epoch=e0001")
    shutil.copytree(src, crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    assert (
        sorted(
            map(
                tuple,
                S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect(),
            )
        )
        == grown
    )
    # ...and a retry of that epoch cleans it up and commits
    extra = embs.filter(F.col("vec_id") < 0)  # empty delta is still an epoch
    assert S.append_ivf_epoch(extra, idx, "e0002") is True
    assert os.path.exists(os.path.join(crashed, "_SUCCESS"))

    # epoch name hygiene

    with pytest.raises(ValueError):
        S.append_ivf_epoch(delta, idx, "base")
    with pytest.raises(ValueError):
        S.append_ivf_epoch(delta, idx, "../evil")


def test_ivf_compact_folds_epochs_exactly_once(spark, sf_dir, tmp_path):
    """compact_ivf_index folds appended epochs back into one clustered
    epoch=base as a NEW generation: results unchanged, small files gone,
    replay of a folded epoch stays a no-op, appends keep working after
    the fold, and a held maintenance lock skips the pass."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(embs.filter(F.col("vec_id") < 300), idx, n_cells=8, train_iters=3)
    assert S.append_ivf_epoch(
        embs.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), idx, "e0001"
    )
    assert S.append_ivf_epoch(embs.filter(F.col("vec_id") >= 400), idx, "e0002")
    before = sorted(
        map(tuple, S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect())
    )
    files_before = len(
        glob.glob(os.path.join(S._gen_dir(idx), "corpus", "epoch=*", "cell=*", "*.parquet"))
    )

    assert S.compact_ivf_index(spark, idx) is True
    assert S._current_generation(idx) == 2
    gen2 = S._gen_dir(idx)
    # one committed base epoch, ~1 file per cell, no stray epochs
    assert [os.path.basename(p) for _, p in committed_dirs(
        os.path.join(gen2, "corpus"), "epoch", key=str)] == ["epoch=base"]
    files_after = len(
        glob.glob(os.path.join(gen2, "corpus", "epoch=base", "cell=*", "*.parquet"))
    )
    assert files_after < files_before, (files_after, files_before)
    after = sorted(
        map(tuple, S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect())
    )
    assert after == before
    with open(os.path.join(gen2, "codebook.json")) as f:
        assert json.load(f)["folded_epochs"] == ["e0001", "e0002"]

    # replay of an absorbed epoch: no-op — exactly-once survives the fold
    assert S.append_ivf_epoch(embs.filter(F.col("vec_id") >= 400), idx, "e0002") is False
    assert (
        sorted(
            map(
                tuple,
                S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect(),
            )
        )
        == before
    )

    # nothing left to fold
    assert S.compact_ivf_index(spark, idx) is False

    # appends keep working post-fold (fresh epoch id)
    assert S.append_ivf_epoch(embs.limit(0), idx, "e0003") is True
    assert S.compact_ivf_index(spark, idx) is True  # folds e0003 (empty)
    assert S._current_generation(idx) == 3

    # a held maintenance lock makes the pass a no-op skip

    fd = os.open(os.path.join(idx, "_index.lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        assert S.compact_ivf_index(spark, idx) is False
    finally:
        os.close(fd)


def test_ivf_retention_is_index_state(spark, sf_dir, tmp_path):
    """keep_generations is stored in the manifest and preserved by
    maintainers that don't re-specify it (a routine default
    compact must not sweep the window a build configured); negative
    retention is rejected before it can sweep the live generation."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    cb = S.build_ivf_index(embs, idx, n_cells=8, train_iters=3, keep_generations=2)
    assert S._read_manifest(idx)["keep_generations"] == 2
    # three more publishes with DEFAULT retention: the stored keep=2 must
    # persist, so gen N-1 and N-2 survive each publish
    for _ in range(3):
        S.build_ivf_index(embs, idx, n_cells=8, codebook=cb)

    assert S._current_generation(idx) == 4
    assert S._read_manifest(idx)["keep_generations"] == 2
    gens = sorted(d for d in os.listdir(idx) if d.startswith("gen="))
    assert gens == ["gen=00000002", "gen=00000003", "gen=00000004"]

    with pytest.raises(ValueError, match="keep_generations"):
        S.build_ivf_index(embs, idx, n_cells=8, codebook=cb, keep_generations=-1)


def test_ivf_rebuild_publishes_consistent_generation(spark, sf_dir, tmp_path):
    """A rebuild writes a complete gen=N dir (codebook + corpus together)
    and only then flips the manifest: the codebook/corpus pair is always
    consistent, a rebuild drops previously-appended epochs (clean corpus),
    a crashed rebuild attempt is invisible, the previous generation is
    retained for in-flight readers and older generations are swept."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = embs.filter(F.col("vec_id") < 300)
    delta = embs.filter(F.col("vec_id") >= 300)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    idx = str(tmp_path / "ivf")
    cb = S.build_ivf_index(base, idx, n_cells=8, train_iters=3)
    assert S._current_generation(idx) == 1
    S.append_ivf_epoch(delta, idx, "e0001")

    # rebuild over the FULL corpus: gen flips to 2, the appended epoch of
    # gen 1 is not part of the fresh corpus, and results equal a direct
    # full-corpus query with the gen-2 codebook
    cb2 = S.build_ivf_index(embs, idx, n_cells=8, train_iters=3)
    assert S._current_generation(idx) == 2
    assert os.path.isdir(os.path.join(idx, "gen=00000001"))  # in-flight readers
    got = sorted(
        map(tuple, S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            S.ivf_topk(embs, queries, k=5, n_cells=8, n_probe=2, codebook=cb2).collect(),
        )
    )
    assert got == want

    # crashed rebuild attempt: a gen=3 dir exists but the manifest never
    # flipped — readers still resolve gen 2 and a replayed epoch lands in 2
    crashed = os.path.join(idx, "gen=00000003")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "codebook.json"), "w") as f:
        json.dump({"partial": True}, f)
    assert S._current_generation(idx) == 2
    assert S.append_ivf_epoch(delta.limit(0), idx, "e0002") is True
    assert os.path.exists(
        os.path.join(idx, "gen=00000002", "corpus", "epoch=e0002", "_SUCCESS")
    )

    # the next build retries gen 3 from clean and sweeps gen 1
    cb3 = S.build_ivf_index(base, idx, n_cells=8, codebook=cb)
    assert cb3 == cb
    assert S._current_generation(idx) == 3
    assert not os.path.isdir(os.path.join(idx, "gen=00000001"))
    assert os.path.isdir(os.path.join(idx, "gen=00000002"))
    # gen 3 is the crashed dir name reborn — now complete and live
    got3 = sorted(
        map(tuple, S.ivf_topk_indexed(spark, idx, queries, k=5, n_probe=2).collect())
    )
    want3 = sorted(
        map(
            tuple,
            S.ivf_topk(base, queries, k=5, n_cells=8, n_probe=2, codebook=cb).collect(),
        )
    )
    assert got3 == want3
