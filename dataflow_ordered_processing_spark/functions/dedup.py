"""Deduplication operators for training-data pipelines over `documents`.

Five tiers, all shuffle-aware for the 100-TB case:

  exact          hash-groupBy on normalized text (one shuffle on the digest,
                 never on the raw text — group by md5, not by the document)
  minhash_lsh    shingle → k MinHashes → b bands → bucket join. Hash = md5
                 (available in BOTH Spark and DuckDB → exact SQL oracle;
                 lexicographic min over hex digests is a valid min-hash)
  simhash        64-bit SimHash from token md5 prefixes; near-dups = equal
                 simhash (or banded prefixes at scale)
  ngram_jaccard  exact Jaccard over word n-gram sets for candidate pairs —
                 the verify stage after LSH blocking
  embedding near-dup lives in similarity.py (cosine threshold)

Everything below is built-in Spark SQL expressions (explode / groupBy /
join) — no Python UDFs; all joins are equi-joins on digests so Catalyst can
pick shuffle-hash/sort-merge, and candidate generation never materializes
the O(n²) pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(col: str = "text"):
    return F.lower(F.regexp_replace(F.col(col), r"\s+", " "))


def _word_shingles(col: str = "text", k: int = 5):
    words = F.split(F.trim(_norm(col)), " ")
    n = F.size(words)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
        )
    )


def dedup_exact(df: DataFrame, col: str = "text") -> DataFrame:
    """Exact dedup: keep the min doc_id per normalized-text digest.
    Returns (doc_id, exact_fp, n_copies). Shuffles 16-byte digests, not
    documents."""
    return (
        df.select("doc_id", F.md5(_norm(col)).alias("exact_fp"))
        .groupBy("exact_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(df: DataFrame, col: str = "text", k: int = 8, shingle: int = 5) -> DataFrame:
    """k MinHash values per doc: min over md5(seed_i || shingle) hex digests.
    (doc_id, mh_0..mh_{k-1})."""
    # Explode shingles once, then k min-aggregates. Keeping the shingle
    # expression inside k higher-order transforms makes Catalyst inline and
    # re-evaluate it k times (53 s for 500 docs); explode + groupBy-min
    # evaluates it once and gets map-side partial aggregation — the plan
    # that survives 100 TB (shuffles k×16-byte digests per doc, not text).
    ex = df.select("doc_id", F.explode(_word_shingles(col, shingle)).alias("s"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"seed{i}:"), F.col("s")))).alias(f"mh_{i}")
            for i in range(k)
        ]
    )


def _band_table(df: DataFrame, col: str, k: int, bands: int, shingle: int) -> DataFrame:
    """(doc_id, band_id, band_key) — ONE definition of the LSH band keys so
    the pair join and the bucket audit always describe the same buckets
    (band key = md5 of the '|'-joined row hashes of that band)."""
    rows = k // bands
    sigs = minhash_signatures(df, col, k, shingle)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)])
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", "band.band_id", "band.band_key"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band key.
    k MinHashes split into `bands` bands of k/bands rows each; band key =
    md5 of the concatenated row hashes. Returns distinct (doc_a, doc_b),
    doc_a < doc_b. The join is equi on (band_id, band_key) — bucketed, never
    all-pairs.

    ``max_bucket`` guards the adversarial case: a corpus with thousands of
    near-identical documents puts them all in ONE band bucket, and the
    self-join of that bucket is O(n²) pairs — a single straggler task that
    can kill the job at 100 TB. Band keys whose bucket exceeds the cap are
    dropped from candidate generation (standard LSH practice: such a
    mega-cluster is better handled by the cheaper exact tier — identical
    docs share an exact_fp — or by clustering on the bucket key directly).
    Audit what a cap would drop with ``lsh_bucket_stats``. The cap is
    OPT-IN (default None = exhaustive candidates): silently dropping pairs
    is a semantic change callers must ask for, and any oracle/expectation
    checked against this function must model the same cap. A production
    100-TB pass should set it (1024 is a reasonable ceiling) after reviewing
    ``lsh_bucket_stats``. Caller audit (ADVICE r5, default 1024→None flip):
    the only uncapped callers in this repo are the driver-gate queries in
    ``__spark_entry__`` over the bounded sf test corpora, where exhaustive
    candidates are exactly what the oracle models; no jobs/ or tools/ code
    path calls this without an explicit cap — new batch-pipeline callers
    must pass one."""
    exploded = _band_table(df, col, k, bands, shingle)
    # self-join: without materialization, BOTH sides recompute the whole
    # shingle→minhash pipeline. localCheckpoint (eager) computes the band
    # table ONCE — digests only, bands × 16-byte keys per doc, tiny relative
    # to the corpus — truncates its lineage, and needs no caller-visible
    # cache management (blocks are released with the RDD by GC), unlike the
    # round-1 module-global persist cache (thread-unsafe, surprising).
    # CAVEAT (cluster): localCheckpoint blocks live on executor-local
    # storage only — an executor lost between here and the join fails the
    # job instead of recomputing; with dynamic allocation or preemptible
    # executors prefer reliable checkpointing (set a checkpoint dir and use
    # .checkpoint()) or persist with replication.
    exploded = exploded.localCheckpoint(eager=True)
    if max_bucket is not None:
        # one extra shuffle of (band_id, band_key) digests — cheap insurance
        # against the quadratic bucket; map-side partial agg keeps it light
        sizes = exploded.groupBy("band_id", "band_key").agg(
            F.count("*").alias("_bsz")
        )
        exploded = exploded.join(
            sizes.filter(F.col("_bsz") <= max_bucket), ["band_id", "band_key"]
        ).drop("_bsz")
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_bucket_stats(
    df: DataFrame, col: str = "text", k: int = 8, bands: int = 4, shingle: int = 5
) -> DataFrame:
    """Band-bucket size distribution — the audit query for choosing
    ``max_bucket`` (returns (band_id, band_key, n_docs), largest first).
    Run this before a production dedup pass: any bucket in the thousands is
    a mega-cluster the pair join should not expand."""
    return (
        _band_table(df, col, k, bands, shingle)
        .groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"))
    )


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, col: str = "text", shingle: int = 3
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for candidate pairs
    (the verify stage after LSH blocking). `pairs` = (doc_a, doc_b)."""
    sh = docs.select(F.col("doc_id"), _word_shingles(col, shingle).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def simhash(df: DataFrame, col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over word tokens: bit j of the fingerprint = majority vote of
    bit j across md5-derived token hashes (conv(substr(md5(tok),1,8),16,10)).

    Plan: explode tokens ONCE → hash each token ONCE → `bits` conditional
    sums in a single groupBy. The round-1 version ran `bits` separate
    F.aggregate higher-order folds, and Catalyst re-inlines the hash
    expression under each fold — md5 evaluated `bits`× per token (the same
    trap documented for MinHash above). The explode shape evaluates md5 once
    per token AND gets map-side partial aggregation: what shuffles is one
    row of `bits` small ints per doc, not tokens. Docs with no tokens get
    simhash=0 via the left join (matches the oracle's LEFT JOIN+coalesce).
    Pure SQL; exact DuckDB oracle exists."""
    words = F.filter(
        F.array_distinct(F.split(F.trim(_norm(col)), " ")), lambda w: F.length(w) > 0
    )
    ex = df.select("doc_id", F.explode(words).alias("w")).select(
        "doc_id", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("hv")
    )
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp + bit
    return (
        df.select("doc_id")
        .join(votes, "doc_id", "left")
        .select("doc_id", F.coalesce(fp, F.lit(0).cast("long")).alias("simhash"))
    )


def _cc_driver(edges_rows) -> dict:
    """Union-find with min-label roots over a BOUNDED collected edge list —
    the driver-side fast path for small pair graphs. Returns
    {node: min label transitively reachable}."""
    parent: dict = {}

    def find(x):
        chain = []
        while parent.get(x, x) != x:
            chain.append(x)
            x = parent[x]
        for c in chain:  # path compression
            parent[c] = x
        return x

    for a, b in edges_rows:
        ra, rb = find(a), find(b)
        parent.setdefault(ra, ra)
        parent.setdefault(rb, rb)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    max_iter: int = 50,
    stats: dict | None = None,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs: every document
    gets ``cluster_id`` = the MINIMUM doc_id transitively reachable through
    the pair graph (singletons label themselves). This is the full
    transitive closure the one-round ``dedup_keep_first`` could not give —
    a chain A~B~C resolves to one cluster labelled A.

    Algorithm: iterative min-label propagation to fixpoint, all equi-joins
    on doc_id, with POINTER-JUMPING compression each round
    (label(v) ← label(label(v))) so convergence is O(log diameter) rounds
    rather than O(diameter) — a 1M-doc chain needs ~20 rounds, not 1M.
    Per round the working set is (doc_id, label) pairs — two 8-byte ints
    per node in the pair graph, NEVER the documents — shuffled by key; each
    round is localCheckpoint'ed to truncate the iterative lineage (at
    cluster scale with preemptible executors, use reliable .checkpoint()).
    Convergence check: labels only ever decrease, so an unchanged label
    checksum (SUM as DECIMAL(38,0) — overflow-proof) ⟺ fixpoint; the driver
    runs one tiny agg job per round. Raises if ``max_iter`` rounds don't
    converge (with pointer jumping that means a pathological graph far
    beyond any real corpus diameter).

    ``driver_max_edges`` (r8): pair graphs at or below this edge count are
    resolved with a driver-side union-find over the collected (bounded)
    edge list instead of the iterative rounds — near-dup graphs are tiny
    relative to their corpus, and for them the loop is pure fixed overhead.
    0 disables the fast path (test_functions.py's
    test_dedup_clusters_long_chain_pointer_jumping does, to bound the
    distributed rounds).

    At 100 TB this is the standard Spark shape for the problem (min-id
    propagation à la Kiveris et al. "Connected Components in MapReduce");
    the large-star/small-star variant would cut shuffle volume further on
    skewed degree distributions but needs the same round structure.
    Returns (doc_id, cluster_id) for EVERY doc in ``df``."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Small-graph fast path (r8): near-dup pair graphs are tiny by nature
    # (LSH+verify survivors ≪ corpus), and for them the distributed loop is
    # pure fixed overhead — 2+ rounds × (2 joins + checkpoint + checksum
    # job). When the ALREADY-MATERIALIZED edge list is bounded, collect it
    # and run union-find with min-label roots on the driver — the same
    # bounded-metadata pattern as collecting an IVF codebook — then
    # broadcast the label map back. The count is O(1)-ish on the
    # checkpointed edges; graphs above the threshold take the distributed
    # rounds unchanged (driver_max_edges=0 disables the fast path).
    if driver_max_edges and edges.count() <= driver_max_edges:
        from pyspark.sql import types as T

        mapping = _cc_driver(
            (r["src"], r["dst"]) for r in edges.select("src", "dst").collect()
        )
        if stats is not None:
            stats["rounds"] = 0
            stats["driver_path"] = True
        out_id = df.select("doc_id")
        if not mapping:
            return out_id.select("doc_id", F.col("doc_id").alias("cluster_id"))
        dt = edges.schema["src"].dataType
        lab = df.sparkSession.createDataFrame(
            list(mapping.items()),
            T.StructType(
                [T.StructField("doc_id", dt), T.StructField("label", dt)]
            ),
        )
        return out_id.join(F.broadcast(lab), "doc_id", "left").select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
        )
    # nodes touched by any pair; isolated docs join back at the end
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )

    def _checksum(lab: DataFrame) -> object:
        return lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev = _checksum(labels)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # propagate: label(v) ← min(label(v), min over neighbours label(u))
        via_edges = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .select(F.col("src").alias("doc_id"), "label")
        )
        labels = (
            labels.unionByName(via_edges)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # compress: label(v) ← label(label(v)) — pointer jumping halves the
        # remaining chain depth each round
        parent = labels.select(
            F.col("doc_id").alias("label"), F.col("label").alias("plabel")
        )
        labels = (
            labels.join(parent, "label", "left")
            .select("doc_id", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur = _checksum(labels)
        if cur == prev:
            if stats is not None:
                stats["rounds"] = rounds
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "pathological pair graph; raise max_iter or pre-partition the "
            "graph"
        )
    return (
        df.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
        )
    )


def dedup_keep_first(
    df: DataFrame, pairs: DataFrame, transitive: bool = True
) -> DataFrame:
    """Resolve near-dup pairs into a keep/drop decision: keep the earliest
    (minimum doc_id) document of each near-dup CLUSTER.

    ``transitive=True`` (default since r4): clusters are connected
    components of the pair graph (``dedup_clusters``), so a chain A~B~C
    keeps only A — the correct resolution for the near-identical corpora
    where chains actually arise. ``transitive=False`` keeps the old cheap
    one-round single-link (drop every doc_b) — exact only for star-shaped
    clusters, one anti-join, no iteration."""
    if transitive:
        lab = dedup_clusters(df, pairs)
        return df.join(
            lab.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return df.join(drop, "doc_id", "left_anti")
