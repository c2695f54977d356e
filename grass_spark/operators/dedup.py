"""Deduplication operators for large-scale training-data pipelines.

Four families, all JVM-side (higher-order functions + hash built-ins,
zero Python in the hot path):

* exact      — content-hash groupBy;
* minhash    — word-shingle MinHash signatures + banded LSH candidate
               pairs (the classic Broder / LSH construction);
* simhash    — Charikar 64-bit fingerprints (majority vote of
               shingle-hash bits);
* ngram_jaccard — exact Jaccard on shingle sets for candidate
               verification (or small corpora).

Scale shape: shingling is an ``explode`` (map-side), signatures are one
``groupBy(doc)`` with k ``min()`` aggregates, and the pair join is an
equi-join on (band_idx, band_hash) — all shuffles are on keys with
bounded fan-in.  The quadratic all-pairs comparison never happens; only
same-bucket candidates are compared, which is the whole point of LSH at
10^12-document scale.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grass_spark.operators.parallel import spread


def normalize_text(c: Column) -> Column:
    """Casefold + collapse whitespace (shared by all dedup families)."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: keep the smallest id per content hash."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def shingles_of_words(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a words array column.

    Built as a zip_with fold over n shifted slices, NOT as a lambda
    doing ``element_at(words, i+j)``: a lambda that captures ``words``
    as a free variable re-evaluates the whole upstream expression
    (regexp normalize + split) once per element after Catalyst inlines
    it — measured 20x slower on real documents.  Here ``words`` appears
    only as a top-level argument (n+2 evaluations per ROW, each cheap),
    and the per-element lambda touches only its bound inputs.
    """
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    parts = [F.slice(words, j + 1, k) for j in range(n)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda x, y: F.concat(x, F.lit(" "), y))
    # short docs (< n words): fall back to the whole text re-joined
    return F.array_distinct(
        F.when(F.size(words) >= n, sh).otherwise(F.array(F.concat_ws(" ", words)))
    )


def with_shingles(
    df: DataFrame, text_col: str, n: int = 3, out: str = "sh_arr"
) -> DataFrame:
    """Add a distinct word-n-gram shingle array column (fast path).

    The normalize+split+fold here is the dominant map-side cost of the
    whole dedup family, so the input is ``spread`` first: a small
    single-row-group parquet input would otherwise pin every
    downstream signature fold onto one scan task (no-op at scale).
    """
    return spread(df).withColumn(
        "_words", F.split(normalize_text(F.col(text_col)), " ")
    ).withColumn(out, shingles_of_words(F.col("_words"), n)).drop("_words")


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>) — sig[i] = min over shingles of
    xxhash64(shingle, i).

    Shape: a pure per-row fold — per shingle the k hashes
    (``transform``), then an element-wise-min ``aggregate`` with a
    ``zip_with(least)`` merge.  NO explode and NO groupBy: the round-1
    version shuffled the exploded shingle set (~20x the doc rows) back
    into k ``min()`` aggregates; the fold computes the same signature
    map-side, so the dedup pipeline's first shuffle is now the (band,
    hash) candidate join itself.  Inlining-proof per PLANS.md: the
    shingle array only ever appears as a top-level HOF argument
    (evaluated once per row), every lambda touches only its bound
    element.

    ``shingles``: optionally pass a precomputed (id, sh_arr) frame
    (``with_shingles`` output, ideally localCheckpoint()ed) so a
    pipeline that also verifies pairs builds shingles ONCE — the
    normalize+split+fold is the dominant per-doc cost."""
    sh = shingles if shingles is not None else with_shingles(df, text_col, shingle_n)
    per_shingle = F.transform(
        F.col("sh_arr"),
        lambda s: F.array(*[F.xxhash64(s, F.lit(i)) for i in range(n_hashes)]),
    )
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), n_hashes)
    sig = F.aggregate(
        per_shingle, init,
        lambda acc, h: F.zip_with(acc, h, lambda a, b: F.least(a, b)),
    )
    return sh.select(F.col(id_col), sig.alias("sig"))


def _cap_buckets(banded: DataFrame, bucket_cols: list[str], cap: int | None) -> DataFrame:
    """Drop LSH bucket rows whose bucket exceeds ``cap`` members.

    Boilerplate-heavy corpora produce hot buckets (thousands of docs
    sharing one band hash) whose pair join is quadratic *within the
    bucket* — the one LSH scale exposure (round-1 VERDICT #6).  Members
    of an oversized bucket almost always share other (smaller) bands,
    and true exact duplicates belong in :func:`exact_dedup` anyway, so
    dropping the hot bucket bounds worst-case work at cap² per bucket
    with negligible recall cost.

    The size census is a map-side-combinable ``groupBy().count()``
    joined back, NOT a ``count() OVER (PARTITION BY bucket)`` window:
    WindowExec buffers each partition's rows in one task, so the very
    bucket this cap exists to neutralize (1e8 copies of a license
    footer) would spill/straggle inside the guard itself.  Partial
    aggregation collapses the hot key map-side; the join back streams
    rows through a hash probe without buffering, and AQE skew-split
    can further divide the probe side.
    """
    if cap is None:
        return banded
    small = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__bucket_n"))
        .filter(F.col("__bucket_n") <= cap)
        .drop("__bucket_n")
    )
    return banded.join(small, on=bucket_cols, how="left_semi")


def minhash_candidates(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b; est_jaccard is
    the fraction of equal signature slots (unbiased MinHash estimate).
    Buckets over ``max_bucket_size`` members are dropped before the
    pair join (see :func:`_cap_buckets`); pass ``None`` to disable.
    """
    sig = signatures.select(id_col, "sig")
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    banded = sig.select(
        id_col,
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_idx"),
    ).select(
        id_col,
        "sig",
        "band_idx",
        F.xxhash64(
            F.slice(
                "sig",
                (F.col("band_idx") * rows_per_band + 1).cast("int"),
                rows_per_band,
            ).cast("string"),
            F.col("band_idx"),
        ).alias("band_hash"),
    )
    banded = _cap_buckets(banded, ["band_idx", "band_hash"], max_bucket_size)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
        "band_idx", "band_hash",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
        "band_idx", "band_hash",
    )
    pairs = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return pairs.select(
        "id_a", "id_b",
        (eq / F.size("sig_a")).alias("est_jaccard"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification pass).

    ``shingles``: precomputed (id, sh_arr) frame to reuse (see
    :func:`minhash_signatures`)."""
    base = shingles if shingles is not None else with_shingles(df, text_col, shingle_n)
    sh = base.select(F.col(id_col), F.col("sh_arr").alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a", "id_b", (inter / union).alias("jaccard"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Directed shingle-set containment for candidate pairs:
    ``containment(a in b) = |A ∩ B| / |A|`` — catches
    subset-duplicates (a doc quoted whole inside a longer doc) that
    symmetric Jaccard dilutes below any threshold.

    Returns ``(id_a, id_b, n_a, n_b, containment_a, containment_b,
    jaccard)``; containment is NULL for an empty shingle set.  Same
    candidate-bounded shape as :func:`ngram_jaccard_pairs` — the
    quadratic compare only ever touches LSH candidates.
    """
    base = (
        shingles
        if shingles is not None
        else with_shingles(df, text_col, shingle_n)
    )
    sh = base.select(F.col(id_col), F.col("sh_arr").alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    na = F.size("sh_a")
    nb = F.size("sh_b")
    return joined.select(
        "id_a",
        "id_b",
        na.alias("n_a"),
        nb.alias("n_b"),
        F.when(na > 0, F.round(inter / na, 6)).alias("containment_a"),
        F.when(nb > 0, F.round(inter / nb, 6)).alias("containment_b"),
        F.when(union > 0, F.round(inter / union, 6)).alias("jaccard"),
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 2,
    hash_fn: Callable[[Column], Column] | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """Charikar SimHash per doc: majority vote of shingle-hash bits
    (sum +1/-1 per bit position, sign -> bit).

    ``hash_fn`` maps the shingle Column to an integer hash (default
    xxhash64 — the fast JVM path); ``n_bits`` is the fingerprint width
    (use < 64 with hash functions that populate fewer bits, e.g. the
    md5-substring hash the DuckDB oracle can reproduce)."""
    h = (hash_fn or F.xxhash64)(F.col("sh"))
    exploded = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col), F.explode("sh_arr").alias("sh")
    ).withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = exploded.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(n_bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return agg.select(id_col, fp.alias("simhash"))


def dedup_clusters(
    pairs: DataFrame,
    *,
    max_iters: int | None = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs -> duplicate
    clusters: (doc_id, cluster_id = smallest id reachable).

    Min-label propagation WITH pointer doubling: each round every node
    adopts the minimum label among itself and its neighbors, then
    shortcuts to its label's label (``l <- l[l]``).  The shortcut makes
    label distances double per round, so convergence needs
    O(log(diameter)) rounds instead of O(diameter) — a chain of 10^4
    duplicates converges in ~14 rounds, no manual tuning (round-2
    VERDICT item #8; the old fixed ``max_iters=20`` plain propagation
    warned and returned stale labels on long chains).  Two shuffles per
    round (neighbor join + shortcut join); near-dup clusters are tiny
    (diameter 2-3) so real corpora still finish in 2-4 rounds, and the
    driver only checks a one-row convergence aggregate per round.

    ``max_iters``: safety bound; defaults to
    ``2 * ceil(log2(n_nodes)) + 4`` rounds, which covers every graph
    observed in practice (near-dup clusters have diameter 2-3; even a
    10^4-node chain converges in ~14 rounds).  The O(log n) round count
    is an empirical bound for this min-label + single-pointer-jump
    variant, not a proven worst case (literature gives O(log^2 n) for
    similar alternating schemes under adversarial id/topology layouts),
    so when the DEFAULT bound is exhausted the loop grants itself one
    doubling of the budget before raising.  An explicit ``max_iters`` is
    honored exactly — it is the escape hatch for pathological graphs
    (pass a larger value) and for capped best-effort runs alike.
    """
    import math
    import os

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .cache()
    )
    # Small-graph fast path: the distributed rounds cost ~2 jobs (6+
    # shuffle stages) EACH, which dominates end-to-end time when the
    # deduplicated edge set is tiny — the common case for verified
    # near-dup graphs at bench scale.  Below the gate, collect the
    # (bounded) edge list and run exact union-find driver-side: the
    # output contract (cluster_id = smallest reachable id) is a
    # well-defined function of the edge set, so the result is
    # IDENTICAL to the distributed rounds; string ids compare equal
    # too (Python code-point order == Spark UTF8 byte order).  The
    # count is one combinable job over the cached edges; above the
    # gate nothing changes.  Same bounded-collect class as the
    # literal-centroid / query-vocab collects (PLANS.md).
    # (an explicit max_iters keeps the distributed rounds — it is the
    # capped-best-effort / forced-bound contract and must still raise
    # on non-convergence)
    small_max = int(os.environ.get("SPARK_GRAFT_CC_LOCAL_EDGES", "100000"))
    if max_iters is None and small_max > 0:
        n_edges = edges.count()  # also materializes the cache for reuse
        if n_edges <= small_max:
            try:
                return _local_components(edges)
            finally:
                edges.unpersist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    ).localCheckpoint()
    defaulted = max_iters is None
    if defaulted:
        n_nodes = labels.count()  # cheap: post-checkpoint count
        max_iters = 2 * math.ceil(math.log2(max(n_nodes, 2))) + 4
    try:
        try:
            return _propagate_rounds(edges, labels, max_iters)
        except _NotConverged:
            if not defaulted:
                raise
            # default bound exhausted: pathological-but-valid graphs can
            # exceed the O(log n) heuristic — grant one doubling
            return _propagate_rounds(edges, labels, max_iters)
    except _NotConverged:
        total = max_iters if not defaulted else 2 * max_iters
        raise RuntimeError(
            f"dedup_clusters did not converge within {total} pointer-"
            "doubling rounds.  Likely causes: a nondeterministic pairs "
            "frame (e.g. ids regenerated per action), or a pathological "
            "graph needing more rounds — pass a larger max_iters to "
            "continue"
        ) from None
    finally:
        # the cached edge set must not outlive the call, including on
        # the non-convergence raise or a mid-loop Spark failure
        edges.unpersist()


class _NotConverged(Exception):
    pass


def _local_components(edges: DataFrame) -> DataFrame:
    """Exact union-find over a COLLECTED (bounded) edge list; returns
    the same (id, cluster_id = min reachable id) frame the distributed
    rounds produce.  Caller gates the collect size."""
    rows = edges.select("src", "dst").collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    out = [(node, comp_min[find(node)]) for node in parent]
    id_field = edges.schema["src"]
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("id", id_field.dataType, True),
            StructField("cluster_id", id_field.dataType, True),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def _propagate_rounds(edges, labels, max_iters: int):
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("cluster_id"))
        )
        # carry each node's OLD label through the round (labels has
        # exactly one row per id, so min over the tagged union recovers
        # it) — the convergence probe then filters the checkpointed
        # frame directly instead of shuffle-joining back onto the
        # previous round (one join + one shuffle stage less per round)
        propagated = (
            labels.select(
                "id", "cluster_id", F.col("cluster_id").alias("_old")
            )
            .unionByName(
                neigh.withColumn(
                    "_old",
                    F.lit(None).cast(dict(labels.dtypes)["cluster_id"]),
                )
            )
            .groupBy("id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min("_old").alias("_old"),
            )
        )
        # pointer doubling: follow the label's own label.  cluster_id is
        # always an existing node id, so the self-join resolves for
        # every row; min() keeps the semilattice property.
        parent = propagated.select(
            F.col("id").alias("p_id"), F.col("cluster_id").alias("p_cl")
        )
        # localCheckpoint truncates lineage — without it each round
        # re-executes every previous round (exponential plans)
        new_full = (
            propagated.join(parent, propagated.cluster_id == parent.p_id)
            .select(
                "id",
                F.least("cluster_id", "p_cl").alias("cluster_id"),
                "_old",
            )
        ).localCheckpoint()
        changed = (
            new_full.filter(F.col("cluster_id") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_full.select("id", "cluster_id")
        if changed == 0:
            return labels
    raise _NotConverged


def near_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-duplicate removal decision per document:

    1. MinHash signatures -> banded LSH candidate pairs (sub-quadratic);
    2. exact shingle-Jaccard verification >= ``jaccard_threshold``
       (kills LSH false positives — exact dups are a special case with
       Jaccard 1.0, so no separate exact pass is needed);
    3. connected components over verified pairs -> duplicate clusters;
    4. keep the smallest id per cluster.

    Returns (id_col, cluster_id, keep) for EVERY input document —
    singletons keep themselves.  The standard training-data dedup
    pipeline, one call.
    """
    # one shingle build for the whole pipeline: signatures AND the
    # exact-verify joins read the same checkpointed (id, sh_arr) frame
    sh = with_shingles(df, text_col, shingle_n).select(
        id_col, "sh_arr"
    ).localCheckpoint()
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col,
        n_hashes=n_hashes, shingle_n=shingle_n, shingles=sh,
    )
    cands = minhash_candidates(sigs, id_col=id_col, bands=bands)
    verified = ngram_jaccard_pairs(
        df, cands, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        shingles=sh,
    ).filter(F.col("jaccard") >= jaccard_threshold)
    clusters = dedup_clusters(verified)

    all_docs = df.select(F.col(id_col))
    labeled = all_docs.join(
        clusters.withColumnRenamed("id", id_col), on=id_col, how="left"
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    return labeled.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def elect_representatives(
    labeled: DataFrame,
    scores: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Keep-BEST representative election: re-decide each duplicate
    cluster's surviving document as the highest-``score_col`` member
    (ties -> smallest id) instead of :func:`near_dedup`'s smallest-id
    default.  Real pipelines keep the longest / highest-quality copy,
    not the one that happened to crawl first.

    ``labeled``: one row per document with (``id_col``,
    ``cluster_col``) — :func:`near_dedup` output, or :func:`dedup_clusters`
    labels coalesced over the full corpus.  ``scores``: per-document
    (``id_col``, ``score_col``); pass ``None`` if ``labeled`` already
    carries ``score_col``.

    Scale shape: two map-side-combinable groupBys on the cluster key
    (max score, then min id among the max-score members — the pair
    encodes argmax-with-tie-break without a struct ordering that would
    break on non-numeric ids) plus cluster-keyed joins.  Near-dup
    clusters are small by construction, so the cluster key has no hot
    rows; no window, no collect.  The score equality filter compares a
    carried column against itself (no arithmetic), so float scores are
    safe.
    """
    j = labeled if scores is None else labeled.join(
        scores.select(id_col, score_col), on=id_col, how="inner"
    )
    best = j.groupBy(cluster_col).agg(F.max(score_col).alias("_best"))
    winners = (
        j.join(best, on=cluster_col)
        .filter(F.col(score_col) == F.col("_best"))
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias("_keep_id"))
    )
    return (
        j.join(winners, on=cluster_col)
        .withColumn("keep", F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id")
    )


def dedup_report(
    decisions: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group dedup telemetry from a (id, cluster_id, keep)
    decisions frame (:func:`near_dedup` output or the store's labels):
    ``n_docs``, ``n_kept``, ``n_dropped``, ``dup_rate`` (6 dp) and
    ``n_clusters`` (distinct cluster ids with a member in the group —
    a cluster spanning groups counts in each group it touches).

    One groupBy on ``group_col`` (bounded cardinality by contract);
    counts are map-side-combinable, the distinct-cluster count is the
    standard two-phase partial distinct.  The report is the monitoring
    surface a recurring ingest watches for source-level contamination
    spikes — dup_rate jumping on one source is the classic mirror-site
    signature.
    """
    j = docs.select(id_col, group_col).join(decisions, id_col)
    kept = F.sum(F.col("keep").cast("long"))
    n = F.count(F.lit(1))
    return (
        j.groupBy(group_col)
        .agg(
            n.alias("n_docs"),
            kept.alias("n_kept"),
            (n - kept).alias("n_dropped"),
            F.round((n - kept) / n, 6).alias("dup_rate"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
    )


def dup_size_distribution(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate family-size histogram: ``(family_size,
    n_families, n_docs, frac_docs)`` — how much of the corpus lives in
    singletons vs. 2-copies vs. mirror blowups.  The monitoring view
    over :func:`exact_dedup`'s hash census (a corpus with a fat tail
    here wants the cap/boilerplate operators before anything else).

    Scale shape: two map-side-combinable groupBys — content hash ->
    family size, then family size -> counts (the second input is
    family-cardinality-sized); one 1-row total broadcast for the
    fraction.  Exact integers plus one rounded ratio.
    """
    fam = (
        df.select(F.md5(F.col(text_col).cast("string")).alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("family_size"))
    )
    hist = fam.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        F.sum("family_size").alias("n_docs"),
    )
    tot = hist.agg(F.sum("n_docs").alias("_t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "family_size",
            "n_families",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("_t").cast("double"),
                6,
            ).alias("frac_docs"),
        )
        .orderBy("family_size")
    )
