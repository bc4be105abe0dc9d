"""Round-4 regression tests for the VERDICT/ADVICE round-3 findings:

  R4-A1  integer-micros money sums: BIGINT wraps silently past its per-group
         bound; exact_decimal=True must survive the same input (ADVICE #1)
  (R4-A3 max_bucket opt-in default is covered by the updated
   test_lsh_degenerate_bucket_capped)
"""

import pytest
from pyspark.sql import functions as F

from dataflow_ordered_processing_spark.plans.relational import _micros, _sum_micros


# ---------------------------------------------------------------- R4-A1

def test_micros_sum_decimal_survives_int64_overflow(spark):
    """Two rows of ~9.2e18 micros each: the BIGINT accumulator wraps (the
    silent-overflow hazard ADVICE flagged), the DECIMAL(38,0) accumulator is
    exact. Values chosen so the per-row double→micros fold itself is exact
    (9e12 * 1e6 = 9e18 < 2^63, representable as a double power-of-10)."""
    df = spark.createDataFrame([(9.0e12,), (9.0e12,)], "x double")
    exact = df.agg(_sum_micros(F.col("x"), exact_decimal=True).alias("s")).collect()[0]["s"]
    assert int(exact) == 18_000_000_000_000_000_000  # 1.8e19 > int64 max

    # BIGINT mode past the bound: loud ARITHMETIC_OVERFLOW under Spark 4's
    # default ANSI mode (ansi.enabled=true since 4.0) — the silent wrap
    # ADVICE warned about applies only when a deployment disables ANSI,
    # which _sum_micros's docstring calls out.
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    bigint = lambda: df.agg(  # noqa: E731
        _sum_micros(F.col("x"), exact_decimal=False).alias("s")
    ).collect()[0]["s"]
    if ansi == "true":
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            bigint()
    else:  # non-ANSI deployment: documents the wrap hazard
        assert bigint() < 0

    # PER-ROW overflow (review finding r4): a single row past ~9.2e12
    # display units exceeds int64 micros on its own — decimal mode must
    # survive because its fold never touches BIGINT
    big = spark.createDataFrame([(1.0e13,), (2.5e13,)], "x double")
    got = big.agg(_sum_micros(F.col("x"), exact_decimal=True).alias("s")).collect()[0]["s"]
    assert int(got) == 35_000_000_000_000_000_000  # 3.5e19, exact

    # below the bound the two modes agree exactly
    small = spark.createDataFrame([(123.456789,), (0.000001,), (99999.5,)], "x double")
    a = small.agg(_sum_micros(F.col("x"), False).alias("s")).collect()[0]["s"]
    b = small.agg(_sum_micros(F.col("x"), True).alias("s")).collect()[0]["s"]
    assert int(a) == int(b)
    # sanity: the per-row fold is what it claims
    one = small.select(_micros(F.col("x")).alias("m")).orderBy("m").collect()
    assert [r["m"] for r in one] == [1, 123456789, 99999500000]


# ---------------------------------------------------------------- R4-CC
# Connected-components near-dup resolution (VERDICT r3 next-round #3):
# chains are exactly what one-round single-link gets wrong.

def _pairs(spark, *ab):
    return spark.createDataFrame(list(ab), "doc_a long, doc_b long")


def _docs(spark, n):
    return spark.range(n).selectExpr("id AS doc_id", "concat('doc ', id) AS text")


def test_dedup_clusters_chain(spark):
    """A~B~C~D chain → ONE cluster labelled by the minimum id; the isolated
    doc labels itself."""
    from dataflow_ordered_processing_spark.functions import dedup

    docs = _docs(spark, 6)
    pairs = _pairs(spark, (1, 2), (2, 3), (3, 4))
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5}


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    """A 40-node chain converges well inside max_iter thanks to label
    compression (min propagation alone would need ~40 rounds)."""
    from dataflow_ordered_processing_spark.functions import dedup

    n = 40
    docs = _docs(spark, n)
    pairs = _pairs(spark, *[(i, i + 1) for i in range(n - 1)])
    got = dedup.dedup_clusters(docs, pairs, max_iter=10).collect()
    assert all(r["cluster_id"] == 0 for r in got)


def test_dedup_clusters_multiple_components_and_empty(spark):
    from dataflow_ordered_processing_spark.functions import dedup

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
    from dataflow_ordered_processing_spark.functions import dedup

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
    """The motivating divergence (VERDICT r3): with pairs respecting the
    doc_a < doc_b contract, a component {1,2,3} reachable only through a
    shared larger doc — (1,3),(2,3) — has 2 never appearing as a doc_b, so
    one-round single-link wrongly keeps both 1 and 2; transitive keeps only
    the component minimum."""
    from dataflow_ordered_processing_spark.functions import dedup

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


from hypothesis import given, settings, strategies as st


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
    from dataflow_ordered_processing_spark.functions import dedup
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


@given(st.data())
@settings(max_examples=5, deadline=None)
def test_keyidx_merge_property(data):
    """Property: for ANY contiguous-emission history with arbitrary
    cross-epoch replays, the merged sink holds exactly the first delivery
    of every key — same reference semantics as a set-based dedup."""
    import shutil
    import tempfile

    from dataflow_ordered_processing_spark.session import get_spark
    from dataflow_ordered_processing_spark.streaming import sinks as _sk

    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    path = tempfile.mkdtemp(prefix="keyidx-prop-") + "/data"
    try:
        wb = _sk.split_sink(
            _sk.SinkConfig(data_path=path, validate=False, merge_on_key=True)
        )
        convs = ["a", "b", "c"]
        next_turn = {c: 1 for c in convs}
        expected: set = set()
        n_epochs = data.draw(st.integers(2, 5))
        for e in range(n_epochs):
            rows = []
            for c in convs:
                # cross-epoch replay of a PRIOR-epoch prefix only (the
                # operator contract: a batch never duplicates its own fresh
                # emissions — r4e review: drawing the bound after adding
                # fresh turns allowed same-epoch duplicates the set compare
                # then masked)
                prev_hi = next_turn[c] - 1
                if prev_hi >= 1 and data.draw(st.booleans()):
                    upto = data.draw(st.integers(1, prev_hi))
                    rows.extend((c, t, "data") for t in range(1, upto + 1))
                # fresh contiguous turns (operator emission contract)
                k = data.draw(st.integers(0, 3))
                for t in range(next_turn[c], next_turn[c] + k):
                    rows.append((c, t, "data"))
                    expected.add((c, t))
                next_turn[c] += k
            if not rows:
                rows = [("a", 0, "status")]  # keep the epoch non-degenerate
            wb(
                spark.createDataFrame(
                    rows, "conv_id string, turn_idx long, row_type string"
                ),
                e,
            )
        from collections import Counter

        got = Counter(
            (r["conv_id"], r["turn_idx"])
            for r in _sk.read_sink(spark, path, table="unified")
            .filter("row_type = 'data'")
            .collect()
        )
        # MULTIPLICITY matters (a set compare would mask double-writes):
        # every key exactly once, no extras, none missing
        assert set(got) == expected
        assert all(v == 1 for v in got.values()), got
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


# ---------------------------------------------------------------- R4-TD
# Training-data pipeline additions: repetition quality signal, hash-split,
# benchmark decontamination.

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


# ---------------------------------------------------------------- R4-KX
# merge_on_key key index (VERDICT r3 what's-wrong #1): the merge filter must
# consult a COMPACT per-conversation high-watermark index whose scan volume
# is O(#conversations), never re-read the sink (O(rows ever written)).

import os  # noqa: E402

from dataflow_ordered_processing_spark.streaming import sinks as sk


def _unified_batch(spark, convs, turns):
    rows = [(c, t, "data") for c in convs for t in turns]
    return spark.createDataFrame(rows, "conv_id string, turn_idx long, row_type string")


def _data_keys(spark, path):
    df = sk.read_sink(spark, path, table="unified").filter("row_type = 'data'")
    return sorted((r["conv_id"], r["turn_idx"]) for r in df.collect())


def test_keyidx_merge_scan_bounded_and_exact(spark, tmp_path):
    """60 epochs × 10 convs × 1 new turn: the index scan stays bounded by
    O(#convs × compaction window) while the sink grows 60×; duplicates are
    still dropped exactly."""
    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, validate=False, merge_on_key=True)
    wb = sk.split_sink(cfg)
    convs = [f"c{i:02d}" for i in range(10)]
    scans = {}
    for e in range(60):
        wb(_unified_batch(spark, convs, [e + 1]), e)
        if e in (2, 29, 59):
            scans[e] = sk._keyidx_raw(spark, path).count()
    # scan volume: bounded by (compaction window + compact gen) × #convs —
    # NOT by the 600 data rows now in the sink
    bound = (sk._KEYIDX_COMPACT_AFTER + 2) * len(convs)
    assert scans[29] <= bound and scans[59] <= bound
    assert scans[59] <= scans[2] + bound  # no growth trend with history
    total = sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
    assert total == 600
    assert scans[59] < total / 3  # strictly sublinear vs sink size

    # cross-epoch duplicate: full replay of old turns at a NEW epoch id
    wb(_unified_batch(spark, convs, [1, 2, 3, 60]), 60)
    assert (
        sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
        == 600  # 1,2,3 are ≤ hi; 60 is ≤ hi; nothing lands twice
    )
    # genuinely fresh turn still lands
    wb(_unified_batch(spark, convs, [61]), 61)
    assert (
        sk.read_sink(spark, path, table="unified").filter("row_type='data'").count()
        == 610
    )


def test_keyidx_compact_read_partition_prunes(spark, tmp_path):
    """The compact generation is directory-partitioned by kbucket so a
    merge consults only the batch's buckets: the physical plan of a
    bucket-restricted index read must carry a kbucket PartitionFilter (true
    partition PRUNING — files of other buckets are never opened), not a
    post-scan row filter."""
    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, validate=False, merge_on_key=True)
    wb = sk.split_sink(cfg)
    convs = [f"c{i:02d}" for i in range(32)]
    for e in range(sk._KEYIDX_COMPACT_AFTER + 3):  # force a compaction
        wb(_unified_batch(spark, convs, [e + 1]), e)
    base = os.path.join(path, "_keyidx")
    compacts = [d for d in os.listdir(base) if d.startswith("compact=")]
    assert compacts, "compaction did not trigger"
    # the compact generation is laid out as kbucket=<n> partition dirs
    cdir = os.path.join(base, sorted(compacts)[-1])
    assert any(d.startswith("kbucket=") for d in os.listdir(cdir))
    pruned = sk._keyidx_raw(spark, path, buckets=[3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the kbucket predicate must appear in the partition filters, i.e.
    # BEFORE the data filters section of the scan node
    pf = plan[plan.index("PartitionFilters"):]
    assert "kbucket" in pf.split("DataFilters")[0]


def test_keyidx_crash_window_catchup(spark, tmp_path):
    """Data epoch committed but its index delta lost (crash between the two
    writes): the next merge derives the delta from that epoch alone and the
    duplicate is still dropped."""
    import shutil

    path = os.path.join(str(tmp_path), "data")
    cfg = sk.SinkConfig(data_path=path, validate=False, merge_on_key=True)
    wb = sk.split_sink(cfg)
    wb(_unified_batch(spark, ["a"], [1, 2]), 0)
    # simulate the crash window: delta for epoch 0 vanishes
    shutil.rmtree(os.path.join(path, "_keyidx", "epoch=0"))
    wb(_unified_batch(spark, ["a"], [1, 2, 3]), 1)  # replayed dups + fresh 3
    assert _data_keys(spark, path) == [("a", 1), ("a", 2), ("a", 3)]


# ---------------------------------------------------------------- R4-HK
# Streaming hot-key routing (VERDICT r3 what's-missing #5): mega-keys
# bypass keyed state into a raw side channel and get ordered by the
# distributed salted batch plan; detection comes from status received_count.

def _gen_input_subprocess(repo: str, src: str, rows: int, convs: int) -> int:
    """Run tools.scaling_bench.generate_input in a SUBPROCESS: it calls
    spark.stop() when done, which would kill the pytest session fixture's
    shared SparkContext if run in-process (r4 lesson: three tests failed
    with 'Cannot call methods on a stopped SparkContext')."""
    import subprocess
    import sys

    import duckdb

    subprocess.run(
        [
            sys.executable, "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "from tools.scaling_bench import generate_input; "
            "generate_input(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), cpus=4)",
            repo, src, str(rows), str(convs),
        ],
        check=True, capture_output=True, timeout=600,
    )
    return duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{src}/*.parquet')"
    ).fetchone()[0]


def test_hot_key_routing_pipeline(tmp_path):
    """run_pipeline --hot-keys routes the named conversation around the
    stateful operator: the data sink has no rows for it, <out>/hot_ordered
    holds its turns exactly ordered, nothing is lost, and a
    --hot-key-threshold report names the remaining biggest conversations."""
    import json
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(repo, src, 4000, 40)
    con = duckdb.connect()
    hot_conv, hot_n = con.execute(
        f"SELECT conv_id, count(*) FROM read_parquet('{src}/*.parquet') "
        "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 1"
    ).fetchone()
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "run_pipeline.py"),
            "--source", src, "--out", out, "--checkpoint", ckpt,
            "--available-now", "--master", "local[4]",
            "--shuffle-partitions", "4", "--no-warmup",
            "--hot-keys", hot_conv, "--hot-key-threshold", "1",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    lines = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    routed = next(l for l in lines if "hot_keys_routed" in l)
    result = lines[-1]
    assert routed["hot_keys_routed"] == [hot_conv]
    assert result["hot_rows_ordered"] == hot_n
    assert result["rows_emitted"] == n_input - hot_n  # cold side complete
    # the side channel is exactly ordered: turn_idx == 1..n in emit order
    # (layout r4c: pass=<n> commit dirs — incremental passes)
    got = con.execute(
        f"SELECT turn_idx FROM read_parquet('{out}/hot_ordered/*/*.parquet') "
        f"WHERE conv_id = '{hot_conv}' ORDER BY emit_seq"
    ).fetchall()
    assert [t[0] for t in got] == list(range(1, hot_n + 1))
    # no hot rows leaked into the keyed sink — enumerate the committed dirs
    # through the compaction-aware view (review r5 #5: a bare epoch=* glob
    # reads nothing from compact=L-lo-hi generations and would pass
    # vacuously once folds begin)
    from dataflow_ordered_processing_spark.streaming.sinks import sink_dirs

    data_files = [
        os.path.join(d, f)
        for d in sink_dirs(os.path.join(out, "data"))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    ]
    n_hot_in_data = con.execute(
        "SELECT count(*) FROM read_parquet($files) "
        "WHERE row_type = 'data' AND conv_id = $conv",
        {"files": data_files, "conv": hot_conv},
    ).fetchone()[0]
    assert n_hot_in_data == 0
    # detection report: with threshold 1 every remaining conv qualifies and
    # the routed one is excluded
    assert hot_conv not in result["hot_key_candidates"]
    assert len(result["hot_key_candidates"]) == 39


def test_hot_key_supersede_and_incremental(spark, tmp_path):
    """Review finding r4: a conversation routed from run 2 onward already
    has rows in the keyed data sink — the combined read must supersede
    them (no double count), and the second ordering pass must be
    incremental (writes only the new suffix)."""
    import subprocess
    import sys

    from dataflow_ordered_processing_spark.streaming.hotkey import (
        read_hot_ordered,
        read_pipeline_output,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(repo, src, 1200, 12)
    base_cmd = [
        sys.executable, os.path.join(repo, "jobs", "run_pipeline.py"),
        "--source", src, "--out", out, "--checkpoint", ckpt,
        "--available-now", "--master", "local[4]",
        "--shuffle-partitions", "4", "--no-warmup",
    ]
    # run 1: NO routing — conv-000000 lands in the keyed data sink
    r1 = subprocess.run(base_cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    # run 2: same source replayed via a FRESH pipeline (new ckpt), now
    # routing the biggest conv — its side channel re-reads the whole source
    import shutil

    shutil.rmtree(ckpt)
    r2 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000"],
        capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    combined = read_pipeline_output(spark, out)
    # no double count: routed conv's data-sink rows (from run 1) superseded
    assert combined.count() == n_input
    assert (
        combined.select("conv_id", "turn_idx").distinct().count() == n_input
    )
    hot1 = read_hot_ordered(spark, os.path.join(out, "hot_ordered"))
    n_hot = hot1.count()
    pass_dirs_1 = os.listdir(os.path.join(out, "hot_ordered"))

    # run 3: same checkpoint, no new source data — the ordering pass must
    # be a no-op (pass meta matches the raw state, rows_new == 0)
    r3 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000"],
        capture_output=True, text=True, timeout=600,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    import json as _json

    res3 = [_json.loads(l) for l in r3.stdout.splitlines() if l.startswith("{")][-1]
    assert res3.get("hot_rows_new", 0) == 0
    assert res3["hot_rows_ordered"] == n_hot
    assert os.listdir(os.path.join(out, "hot_ordered")) == pass_dirs_1

    # run 4: CHANGED routed set without reset → refused by the marker
    # (growing it would strand the new key's pre-checkpoint history)
    r4 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000,conv-000001"],
        capture_output=True, text=True, timeout=600,
    )
    assert r4.returncode != 0
    assert "reset-hot-channel" in (r4.stderr + r4.stdout)

    # run 5: same change WITH --reset-hot-channel → side channel replays
    # the whole source; both keys ordered; combined read still exact
    r5 = subprocess.run(
        base_cmd + ["--hot-keys", "conv-000000,conv-000001",
                    "--reset-hot-channel"],
        capture_output=True, text=True, timeout=600,
    )
    assert r5.returncode == 0, r5.stderr[-2000:]
    combined5 = read_pipeline_output(spark, out)
    assert combined5.count() == n_input
    assert combined5.select("conv_id", "turn_idx").distinct().count() == n_input
    hot5 = read_hot_ordered(spark, os.path.join(out, "hot_ordered"))
    assert hot5.select("conv_id").distinct().count() == 2


def test_order_hot_channel_incremental_offsets(spark, tmp_path):
    """The incremental pass must continue emit_seq and the running depth
    counters exactly where the prior pass stopped — the concatenated
    channel must equal a single-pass ordering of all rows."""
    import datetime

    from dataflow_ordered_processing_spark.operators.skew import (
        salted_ordered_emit_batch,
    )
    from dataflow_ordered_processing_spark.streaming.hotkey import (
        order_hot_channel,
        read_hot_ordered,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        raw_passthrough_sink,
    )

    raw_path = os.path.join(str(tmp_path), "hot_raw")
    out_path = os.path.join(str(tmp_path), "hot_ordered")
    roles = ["user", "assistant", "tool"]

    def rows(turns):
        return spark.createDataFrame(
            [
                ("h", t, roles[t % 3], f"text-{t}", None,
                 datetime.datetime(2026, 1, 1, 0, 0, t))
                for t in turns
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    sink = raw_passthrough_sink(raw_path)
    sink(rows([3, 1, 2, 7, 5, 4]), 0)  # epoch 0: prefix 1..5, gap at 6
    st1 = order_hot_channel(spark, raw_path, out_path)
    assert (st1["rows_total"], st1["rows_new"]) == (5, 5)

    sink(rows([6, 8, 2, 9]), 1)  # epoch 1: fills the gap, redelivers 2
    st2 = order_hot_channel(spark, raw_path, out_path)
    assert (st2["rows_total"], st2["rows_new"]) == (9, 4)  # 6..9 released

    got = (
        read_hot_ordered(spark, out_path)
        .orderBy("emit_seq")
        .collect()
    )
    want = (
        salted_ordered_emit_batch(rows([3, 1, 2, 7, 5, 4, 6, 8, 9]))
        .orderBy("emit_seq")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # idempotency: same raw state → no new pass
    st3 = order_hot_channel(spark, raw_path, out_path)
    assert (st3["rows_total"], st3["rows_new"]) == (9, 0)


def test_hot_marker_pins_routed_set(spark, tmp_path):
    """Second-pass review finding: growing the routed set strands the new
    key (side-channel checkpoint predates its history), shrinking strands
    the removed key (fresh keyed state waits for turn 1). Both must fail
    fast; --reset-hot-channel clears the channel and proceeds."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.run_pipeline import _check_hot_marker

    ckpt_hot = os.path.join(str(tmp_path), "ckpt-hot")
    hot_raw = os.path.join(str(tmp_path), "hot_raw")
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "b"}, reset=False)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b", "a"}, reset=False)  # same set ok
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "b", "c"}, reset=False)
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a"}, reset=False)
    os.makedirs(hot_raw, exist_ok=True)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "c"}, reset=True)  # reset allows
    assert not os.path.isdir(hot_raw)  # raw channel cleared for full replay
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"a", "c"}, reset=False)  # new set pinned
    # r4c: shrinking to EMPTY is still a routed-set change — must refuse
    with pytest.raises(ValueError, match="reset-hot-channel"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=False)
    # r4d: disabling routing via reset must PRESERVE hot_raw (no future
    # replay regenerates it; it may hold unreleased routed rows)
    os.makedirs(hot_raw, exist_ok=True)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=True)  # reset un-routes
    assert not os.path.exists(os.path.join(ckpt_hot, "_hot_keys.json"))
    assert os.path.isdir(hot_raw)
    # with routing never enabled, an empty set is a clean no-op
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, set(), reset=False)
    # r4e: RE-enabling routing over a preserved channel (committed epochs,
    # no marker) must refuse — a fresh side-channel checkpoint would replay
    # into epoch ids the idempotent raw sink skips, stranding the new key
    ep = os.path.join(hot_raw, "epoch=0")
    os.makedirs(ep, exist_ok=True)
    open(os.path.join(ep, "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="preserved"):
        _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b"}, reset=False)
    _check_hot_marker(spark, str(tmp_path), ckpt_hot, hot_raw, {"b"}, reset=True)  # reset clears it
    assert not os.path.isdir(hot_raw)


def test_read_pipeline_output_supersedes_per_turn(spark, tmp_path):
    """Supersede by (conv, turn ≤ hot watermark), not whole conv: keyed-sink
    rows ABOVE the hot channel's release watermark (e.g. after an un-route
    + reset) must survive the combined read."""
    import datetime

    from dataflow_ordered_processing_spark.streaming.hotkey import (
        order_hot_channel,
        read_pipeline_output,
    )
    from dataflow_ordered_processing_spark.streaming.sinks import (
        raw_passthrough_sink,
    )

    out = os.path.join(str(tmp_path), "out")
    # hot channel released turns 1..3 of conv h
    hot_sink = raw_passthrough_sink(os.path.join(out, "hot_raw"))
    hot_sink(
        spark.createDataFrame(
            [("h", t, "user", f"t{t}", None, datetime.datetime(2026, 1, 1))
             for t in (2, 1, 3)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        ),
        0,
    )
    st = order_hot_channel(
        spark, os.path.join(out, "hot_raw"), os.path.join(out, "hot_ordered")
    )
    assert st == {"rows_total": 3, "rows_new": 3}
    # keyed data sink holds STALE turns 1..2 of h plus LATER turns 4..5
    # (post-un-route) and an untouched conv c — full data schema so
    # read_sink's projection and the union with hot rows line up
    def full_batch(conv, turns, epoch):
        rows = [
            (conv, t, "user", f"t{t}", None, datetime.datetime(2026, 1, 1),
             t, t, 0, 0, 2, "data")
            for t in turns
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx long, role string, text string, "
            "tool string, ts timestamp, emit_seq long, n_user_cum long, "
            "n_assistant_cum long, n_tool_cum long, chars_cum long, "
            "row_type string",
        )

    wb = sk.split_sink(sk.SinkConfig(data_path=os.path.join(out, "data"),
                                     validate=False))
    wb(full_batch("h", [1, 2, 4, 5], 0), 0)
    wb(full_batch("c", [1], 1), 1)
    got = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in read_pipeline_output(spark, out).collect()
    )
    # h: 1,2,3 from hot (authoritative), 4,5 from data (kept!); c: 1
    assert got == [("c", 1), ("h", 1), ("h", 2), ("h", 3), ("h", 4), ("h", 5)]


def test_null_key_reaches_dlq_under_hot_routing(spark, tmp_path):
    """r4c fix regression: with hot routing active, a NULL conv_id row must
    stay in the MAIN stream and land in the DLQ (null_key) — a bare ~isin
    filter is NULL for NULL keys and silently dropped it from BOTH
    channels."""
    import datetime
    import glob
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    n_input = _gen_input_subprocess(repo, src, 600, 6)
    # inject one NULL-key arrival (explicit schema: an all-None object
    # column would otherwise be written as INT32)
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([None], type=pa.string()),
                "turn_idx": pa.array([1], type=pa.int32()),
                "role": pa.array(["user"], type=pa.string()),
                "text": pa.array(["orphan"], type=pa.string()),
                "tool": pa.array([None], type=pa.string()),
                "ts": pa.array([datetime.datetime(2026, 1, 1)],
                               type=pa.timestamp("us")),
            }
        ),
        os.path.join(src, "part-null-key.parquet"),
    )
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "run_pipeline.py"),
            "--source", src, "--out", out, "--checkpoint", ckpt,
            "--available-now", "--master", "local[4]",
            "--shuffle-partitions", "4", "--no-warmup",
            "--hot-keys", "conv-000000",
        ],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    dlq_files = glob.glob(os.path.join(out, "dlq", "epoch=*", "*.parquet"))
    assert dlq_files, "NULL-key row never reached the DLQ"
    import duckdb

    con = duckdb.connect()
    # the operator emits BOTH a data row and a status row for the NULL
    # group; both carry a NULL key and both belong in the DLQ
    n_null = con.execute(
        f"SELECT count(*) FROM read_parquet({dlq_files!r}) "
        "WHERE dlq_error = 'null_key'"
    ).fetchone()[0]
    assert n_null == 2
    n_data = con.execute(
        f"SELECT count(*) FROM read_parquet({dlq_files!r}) "
        "WHERE dlq_error = 'null_key' AND row_type = 'data' AND text = 'orphan'"
    ).fetchone()[0]
    assert n_data == 1


def test_keyidx_bootstraps_legacy_sink(spark, tmp_path):
    """A sink written before the index existed (merge_on_key off) gains the
    index on first merged epoch via a one-time catch-up; cross-epoch dups
    against the legacy rows are dropped."""
    path = os.path.join(str(tmp_path), "data")
    plain = sk.split_sink(sk.SinkConfig(data_path=path, validate=False))
    plain(_unified_batch(spark, ["a", "b"], [1, 2]), 0)
    assert not os.path.isdir(os.path.join(path, "_keyidx"))
    merged = sk.split_sink(
        sk.SinkConfig(data_path=path, validate=False, merge_on_key=True)
    )
    merged(_unified_batch(spark, ["a", "b"], [2, 3]), 1)  # 2 is a dup
    assert _data_keys(spark, path) == [
        ("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("b", 3),
    ]
