"""Training-data ops: dedup, similarity search, text stats."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from grass_spark.operators.dedup import (
    exact_dedup,
    minhash_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidates,
    word_shingles,
)
from grass_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup,
    lsh_topk,
)
from grass_spark.operators.textstats import (
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep green forest to find some food for the long cold winter"
)
NEAR = BASE.replace("green", "dark")  # one word changed
OTHER = (
    "completely different content about spark engines aggregating huge "
    "tables with shuffles joins and windows at massive petabyte scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)]  # 4 = exact dup of 1
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


# ---------------- dedup ----------------


def test_exact_dedup(spark, docs):
    out = {r["keep_id"]: r for r in exact_dedup(docs).collect()}
    assert out[1]["n_copies"] == 2 and out[1]["member_ids"] == [1, 4]
    assert out[2]["n_copies"] == 1
    assert out[3]["n_copies"] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    got = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert sorted(got) == ["a b c", "b c d"]
    short = spark.createDataFrame([("hi there",)], ["t"])
    got = short.select(word_shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert got == ["hi there"]


def test_minhash_near_dup_found(spark, docs):
    sigs = minhash_signatures(docs, n_hashes=32).cache()
    cands = minhash_candidates(sigs, bands=8).collect()
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0       # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5        # near dup
    assert (1, 3) not in pairs and (2, 3) not in pairs    # unrelated


def test_ngram_jaccard_verification(spark, docs):
    sigs = minhash_signatures(docs, n_hashes=32)
    cands = minhash_candidates(sigs, bands=8)
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, cands).collect()
    }
    assert verified[(1, 4)] == 1.0
    assert 0.5 < verified[(1, 2)] < 1.0


def test_simhash_near_dup(spark, docs):
    fp = simhash(docs).cache()
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert vals[1] == vals[4]
    # bands=16 -> 4-bit bands; a pair with hamming h < 16 shares at
    # least 16-h untouched bands (pigeonhole), so hamming-8 is found
    cands = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_candidates(fp, max_hamming=12, bands=16).collect()
    }
    assert (1, 4) in cands and cands[(1, 4)] == 0
    assert (1, 2) in cands and cands[(1, 2)] <= 12   # near dup
    assert (1, 3) not in cands                       # hamming 35, filtered


# ---------------- similarity ----------------


def _clustered_embeddings(spark, n_clusters=3, per=5, dim=16):
    import numpy as np

    rng = np.random.default_rng(0)
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.normal(scale=0.01, size=dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter("vec_id = 0")
    out = cosine_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["cosine"] > 0.99


def test_lsh_topk_finds_cluster_neighbors(spark):
    emb = _clustered_embeddings(spark).cache()
    q = emb.filter("vec_id = 0")
    got = lsh_topk(emb, q, dims=16, k=4, n_planes=8, n_tables=3).collect()
    ids = {r["neighbor_id"] for r in got}
    # same-cluster vectors (1..4) are nearly parallel to the query ->
    # must share buckets and dominate the top-k
    assert {1, 2, 3, 4} <= ids


def test_lsh_cosines_match_brute_force(spark):
    emb = _clustered_embeddings(spark)
    q = emb.filter("vec_id in (0, 5)")
    brute = {
        (r["q_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, q, k=14).collect()
    }
    approx = lsh_topk(emb, q, dims=16, k=5).collect()
    for r in approx:
        assert abs(brute[(r["q_id"], r["neighbor_id"])] - r["cosine"]) < 1e-12


def test_embedding_neardup(spark):
    emb = _clustered_embeddings(spark)
    pairs = embedding_neardup(emb, dims=16, threshold=0.999).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # all within-cluster pairs are near-identical (sigma=0.01)
    for c in range(3):
        base = c * 5
        for i in range(5):
            for j in range(i + 1, 5):
                assert (base + i, base + j) in got
    # no cross-cluster pair survives the threshold
    assert all((a // 5) == (b // 5) for a, b in got)


# ---------------- textstats ----------------


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], ["doc_id", "text"])
    r = token_counts(df).collect()[0]
    assert r["n_ws_tokens"] == 4
    # Hello , world ! 42 times
    assert r["n_bpe_tokens"] == 6


def test_quality_scores(spark):
    df = spark.createDataFrame([(1, "the cat and the dog.")], ["doc_id", "text"])
    r = quality_scores(df).collect()[0]
    assert r["n_tokens"] == 5
    assert r["stopword_ratio"] == pytest.approx(3 / 5)  # the, and, the
    assert r["punct_ratio"] == pytest.approx(1 / 20)
    assert 0 < r["alpha_ratio"] < 1


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "le chat et la maison est grande"),
            (3, "der hund und die katze ist hier"),
            (4, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "unknown"}


def test_fingerprints_match_hashlib(spark):
    txt = "  The   QUICK brown  fox  "
    df = spark.createDataFrame([(1, txt)], ["doc_id", "text"])
    r = fingerprints(df).collect()[0]
    norm = "the quick brown fox"
    assert r["fingerprint_md5"] == hashlib.md5(norm.encode()).hexdigest()
    assert isinstance(r["fingerprint_rolling"], int)


def test_fingerprint_rolling_shift_tolerant(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "PREFIX " + a  # shifted by one word: shares most 4-gram windows
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    rows = {r["doc_id"]: r["fingerprint_rolling"] for r in fingerprints(df).collect()}
    assert rows[1] != rows[2]  # different docs -> different hash
    # but both share window hashes: xor of the two fingerprints equals
    # xor of the symmetric-difference windows only (sanity: non-zero)
    assert rows[1] ^ rows[2] != 0


def test_dedup_clusters(spark):
    from grass_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 9), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 4: 1, 7: 1, 2: 2, 9: 2, 10: 10, 11: 10}


def test_dedup_clusters_chain(spark):
    from grass_spark.operators.dedup import dedup_clusters

    # a long chain needs label propagation across multiple hops
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert set(got.values()) == {1}


def test_ivf_topk_clustered(spark):
    from grass_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = _clustered_embeddings(spark, n_clusters=4, per=6, dim=16).cache()
    cents = train_ivf_centroids(emb, dims=16, n_centroids=4, sample=24, seed=1)
    assert len(cents) == 4 and len(cents[0]) == 16
    q = emb.filter("vec_id = 0")
    got = ivf_topk(emb, q, cents, k=5, nprobe=1).collect()
    ids = {r["neighbor_id"] for r in got}
    # with one probe, same-cluster vectors (1..5) fill the top-5
    assert ids == {1, 2, 3, 4, 5}
    # cosines are exact (match brute force)
    from grass_spark.operators.similarity import cosine_topk
    brute = {
        (r["q_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(emb, q, k=23).collect()
    }
    for r in got:
        assert abs(brute[(0, r["neighbor_id"])] - r["cosine"]) < 1e-12


def test_ivf_nprobe_widens_recall(spark):
    from grass_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = _clustered_embeddings(spark, n_clusters=4, per=6, dim=16)
    cents = train_ivf_centroids(emb, dims=16, n_centroids=4, sample=24, seed=1)
    q = emb.filter("vec_id = 0")
    n1 = ivf_topk(emb, q, cents, k=23, nprobe=1).count()
    n4 = ivf_topk(emb, q, cents, k=23, nprobe=4).count()
    assert n4 >= n1
    assert n4 == 23  # all candidates reachable with every cell probed


def test_near_dedup_end_to_end(spark, docs):
    from grass_spark.operators.dedup import near_dedup

    # one changed word in a ~25-word doc gives 3-gram Jaccard ~0.77
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in near_dedup(docs, jaccard_threshold=0.7).collect()
    }
    assert out[1] == (1, True)     # cluster head
    assert out[4] == (1, False)    # exact dup of 1
    assert out[2] == (1, False)    # near dup joins the cluster
    assert out[3] == (3, True)     # unrelated singleton keeps itself


def test_near_dedup_on_testdata(spark):
    from grass_spark.operators.dedup import near_dedup

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = near_dedup(d, jaccard_threshold=0.9).cache()
    assert out.count() == 500
    dropped = out.filter("NOT keep").count()
    # the synthetic corpus plants ~25 near-dup pairs
    assert dropped >= 20
    # every cluster head is the smallest member
    bad = out.filter("keep AND cluster_id <> doc_id").count()
    assert bad == 0


def test_lsh_bucket_cap_adversarial_boilerplate(spark):
    """1k identical-boilerplate docs (round-1 VERDICT #6): the hot band
    bucket is dropped at max_bucket_size, so the pair join stays
    sub-quadratic; distinct docs still pair up normally."""
    from grass_spark.operators.dedup import (
        minhash_candidates, minhash_signatures, simhash, simhash_candidates)

    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit")
              for i in range(1000)]
    long_a = ("the quick brown fox jumps over the lazy dog near the quiet "
              "river bank every sunny morning in spring")
    distinct = [(2000, long_a), (2001, long_a.replace("sunny", "rainy"))]
    df = spark.createDataFrame(boiler + distinct, ["doc_id", "text"])

    sigs = minhash_signatures(df, n_hashes=16, shingle_n=2)
    pairs = minhash_candidates(sigs, bands=8, max_bucket_size=100)
    got = pairs.select("id_a", "id_b").collect()
    # the boilerplate bucket (1000 members) was dropped: no pair touches it
    assert all(r["id_a"] >= 2000 for r in got)
    # the near-dup pair outside the hot bucket survives
    assert {(r["id_a"], r["id_b"]) for r in got} == {(2000, 2001)}

    # uncapped, the same corpus would build 1000*999/2 pairs; capped
    # simhash also completes with only the distinct pair
    fps = simhash(df, shingle_n=2)
    spairs = simhash_candidates(fps, max_hamming=16, bands=8, max_bucket_size=100)
    ids = {(r["id_a"], r["id_b"]) for r in spairs.collect()}
    assert (2000, 2001) in ids
    assert all(a >= 2000 for a, _ in ids)


def test_dedup_clusters_raises_on_forced_non_convergence(spark):
    from grass_spark.operators.dedup import dedup_clusters

    # a path graph 0-1-2-3-4-5 cannot converge in a single forced round;
    # with pointer doubling the auto bound always suffices, so hitting
    # it is an error, never a silent stale-label return
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=1)


def test_dedup_clusters_random_graphs_match_union_find(spark, monkeypatch):
    """Pointer-doubling CC vs a driver-side union-find oracle on seeded
    random graphs (cycles, multi-components, self-dup edges) — armor
    for the shortcut step's semilattice argument.  The small-graph
    fast path is disabled so the DISTRIBUTED rounds stay under test
    (the fast path itself is pinned by
    test_dedup_clusters_small_path_matches_distributed)."""
    import random

    from grass_spark.operators.dedup import dedup_clusters

    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "0")
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = rng.randint(5, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
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
        nodes = {x for e in edges for x in e}
        roots: dict[int, set[int]] = {}
        for x in nodes:
            roots.setdefault(find(x), set()).add(x)
        expected = {x: min(s) for s in roots.values() for x in s}

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
        assert got == expected, f"seed {seed}"


def test_dedup_clusters_small_path_matches_distributed(spark, monkeypatch):
    """The gated driver-side union-find fast path must return exactly
    the distributed rounds' labeling (same contract: cluster_id =
    smallest reachable id), on longs AND on string ids."""
    import random

    from grass_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "0")
    dist = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "100000")
    fast = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert fast == dist
    spairs = spark.createDataFrame(
        [(f"d{a:03d}", f"d{b:03d}") for a, b in edges], ["id_a", "id_b"]
    )
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "0")
    dist_s = {r["id"]: r["cluster_id"] for r in dedup_clusters(spairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "100000")
    fast_s = {r["id"]: r["cluster_id"] for r in dedup_clusters(spairs).collect()}
    assert fast_s == dist_s


def test_synth_documents_near_dedup_recall(spark):
    """The soak corpus generator (datagen.synth_documents) has known
    duplicate structure; near_dedup must catch essentially all near-dup
    copies, and the boilerplate hot set must not blow up the pair join
    (it either pairs under the cap at this size, or is culled above it
    — both bounded)."""
    from grass_spark.datagen import synth_documents
    from grass_spark.operators.dedup import near_dedup

    docs = synth_documents(spark, n_docs=2000, seed=11).cache()
    out = near_dedup(docs.select("doc_id", "text"), jaccard_threshold=0.8)
    copies = docs.filter(
        (F.col("true_cluster") >= 0) & (F.col("doc_id") != F.col("true_cluster"))
    ).select("doc_id")
    n_copies = copies.count()
    caught = copies.join(out.filter(~F.col("keep")), "doc_id").count()
    assert n_copies > 300
    assert caught / n_copies >= 0.99
    # determinism: same seed regenerates the identical corpus
    again = synth_documents(spark, n_docs=2000, seed=11)
    assert docs.exceptAll(again).count() == 0


def test_dedup_clusters_chain_of_100_autoconverges(spark):
    """Round-2 VERDICT #8 adversarial case: a 100-link duplicate chain
    (diameter 100) converges under the default bound — pointer doubling
    needs ~log2(100) rounds, not 100."""
    from grass_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert len(got) == 101 and set(got.values()) == {0}


def test_ivf_centroids_invariant_under_repartition(spark):
    """VERDICT round-1 #9: the quantizer sample orders by a seeded hash,
    so centroids don't change with partition layout."""
    import numpy as np
    from grass_spark.operators.similarity import train_ivf_centroids

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    c1 = train_ivf_centroids(df.repartition(1), 8, n_centroids=4, sample=64)
    c2 = train_ivf_centroids(df.repartition(13, "id"), 8, n_centroids=4, sample=64)
    assert c1 == c2


# ---------------------------------------------------------------------
# ANN recall on the REAL testdata embeddings (500 vectors, 10 labelled
# clusters, dim 64) — the recall story on clustered data, vs the
# documented ~10% SRP recall on *random* near-orthogonal vectors
# ---------------------------------------------------------------------

EMB_SF = "/root/testdata/sf0.001"


def _recall_at_k(approx_rows, brute_rows, k=10):
    def topsets(rows):
        per = {}
        for r in rows:
            per.setdefault(r["q_id"], []).append((r["rank"], r["neighbor_id"]))
        return {
            q: {nid for _, nid in sorted(v)[:k]} for q, v in per.items()
        }

    a, b = topsets(approx_rows), topsets(brute_rows)
    hits = sum(len(a.get(q, set()) & nb) for q, nb in b.items())
    return hits / sum(len(nb) for nb in b.values())


def test_ivf_recall_on_testdata_embeddings(spark):
    """The testdata embeddings are near-random (only ~13% of true
    top-10 neighbours share the query's label), i.e. the hard case for
    any space-partitioning index.  The honest property to pin is the
    recall/nprobe curve: monotone non-decreasing, and near-exhaustive
    probing recovers almost everything."""
    from grass_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{EMB_SF}/embeddings.parquet").cache()
    cents = train_ivf_centroids(
        emb, dims=64, n_centroids=10, sample=500, seed=7
    )
    q = emb.filter("vec_id < 20")
    brute = cosine_topk(emb, q, k=10).collect()
    recalls = [
        _recall_at_k(
            ivf_topk(emb, q, cents, k=10, nprobe=npb).collect(), brute, k=10
        )
        for npb in (1, 3, 8)
    ]
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    # measured on this table: ~0.59 @ nprobe=3, ~0.98 @ nprobe=8
    assert recalls[-1] >= 0.9, f"IVF recall@10 (nprobe=8) = {recalls[-1]:.3f}"


def test_srp_lsh_recall_on_testdata_embeddings(spark):
    """Same data property: SRP-LSH recall on near-orthogonal vectors is
    inherently low (CLAUDE.md) — pin the tuning direction instead of an
    absolute: fewer planes per table x more tables => wider buckets =>
    strictly better recall (measured 0.12 @ 8x6 -> 0.34 @ 6x8)."""
    from grass_spark.operators.similarity import cosine_topk, lsh_topk

    emb = spark.read.parquet(f"{EMB_SF}/embeddings.parquet").cache()
    q = emb.filter("vec_id < 20")
    brute = cosine_topk(emb, q, k=10).collect()
    narrow = _recall_at_k(
        lsh_topk(emb, q, dims=64, k=10, n_planes=8, n_tables=6, seed=3).collect(),
        brute, k=10,
    )
    wide = _recall_at_k(
        lsh_topk(emb, q, dims=64, k=10, n_planes=6, n_tables=8, seed=3).collect(),
        brute, k=10,
    )
    assert wide > narrow, f"wide={wide:.3f} narrow={narrow:.3f}"
    assert wide >= 0.25


def test_sig_fold_equals_exploded_aggregate(spark):
    """The per-row md5 fold in the oracle signature path must equal the
    exploded min() aggregate value-for-value (pins the F.transform
    2-arg-lambda trap: a second lambda parameter silently receives the
    ARRAY INDEX and corrupts every slot)."""
    from grass_spark.operators.dedup import with_shingles
    from grass_spark.queries.corpus import N_SIG

    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "pack my box with five dozen liquor jugs for the long trip"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "sphinx of black quartz judge my vow said the old professor"),
    ]
    d = spark.createDataFrame(texts, "doc_id long, text string")

    # build both forms directly over the same frame
    sh = with_shingles(d, "text", 3)
    exploded = sh.select("doc_id", F.explode("sh_arr").alias("s"))
    agg = exploded.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.col("s"), F.lit(f"#{i}")))).alias(f"h{i}")
        for i in range(N_SIG)
    ])

    def _slot(i):
        suffix = F.lit(f"#{i}")
        return F.array_min(
            F.transform(F.col("sh_arr"), lambda s: F.md5(F.concat(s, suffix)))
        ).alias(f"h{i}")

    folded = sh.where(F.size("sh_arr") > 0).select(
        "doc_id", *[_slot(i) for i in range(N_SIG)]
    )
    a = sorted(map(tuple, agg.collect()))
    b = sorted(map(tuple, folded.collect()))
    assert a == b
    # identical docs get identical signatures; distinct docs differ
    sig = {r[0]: r[1:] for r in b}
    assert sig[0] == sig[2] and sig[0] != sig[1]


def test_cap_buckets_is_combinable_not_a_window(spark):
    """The bucket-size guard itself must not buffer a hot bucket in one
    task: census = partial/final count aggregate + semi join, zero
    Window nodes (same fix class as the segdedup election)."""
    from grass_spark.operators.dedup import minhash_signatures, minhash_candidates

    docs = spark.createDataFrame(
        [(i, f"some document body number {i} with words") for i in range(30)],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs)
    plan = (
        minhash_candidates(sigs, bands=8, max_bucket_size=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_count" in plan


# ---------------- keep-best representative election ----------------


def test_elect_representatives_argmax_and_ties(spark):
    from grass_spark.operators.dedup import elect_representatives

    labeled = spark.createDataFrame(
        [
            # cluster 1: doc 3 has the best score -> keeps
            (1, 1, 5.0), (2, 1, 9.0), (3, 1, 12.0),
            # cluster 4: score tie between 4 and 5 -> smallest id keeps
            (4, 4, 7.0), (5, 4, 7.0),
            # singleton keeps itself
            (6, 6, 0.0),
        ],
        ["doc_id", "cluster_id", "score"],
    )
    out = {r["doc_id"]: r["keep"] for r in elect_representatives(labeled).collect()}
    assert out == {1: False, 2: False, 3: True, 4: True, 5: False, 6: True}


def test_elect_representatives_separate_scores_frame(spark):
    from grass_spark.operators.dedup import elect_representatives

    labeled = spark.createDataFrame(
        [(10, 10), (11, 10), (12, 12)], ["doc_id", "cluster_id"]
    )
    scores = spark.createDataFrame(
        [(10, 1.0), (11, 2.0), (12, 3.0)], ["doc_id", "q"]
    )
    out = {
        r["doc_id"]: (r["keep"], r["q"])
        for r in elect_representatives(
            labeled, scores, score_col="q"
        ).collect()
    }
    assert out[11][0] is True and out[10][0] is False
    assert out[12][0] is True
    # the score column rides along in the output
    assert out[11][1] == 2.0


def test_elect_representatives_no_window_no_cartesian(spark):
    from grass_spark.operators.dedup import elect_representatives

    labeled = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(50)],
        ["doc_id", "cluster_id", "score"],
    )
    plan = (
        elect_representatives(labeled)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
