"""Semantic dedup (SemDeDup-style) + training-export sharding."""

from __future__ import annotations

from pyspark.sql import functions as F

from grass_spark.operators.export import shard_assignments, write_shards
from grass_spark.operators.semdedup import (
    assign_clusters,
    seeded_centroid_frame,
    semantic_dedup,
    semantic_pairs,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


# ids 0-2 are the seeded centroids (one per axis); 3-7 are the corpus:
# a near-dup pair on x, a near-dup trio-with-centroid on y, a singleton
GROUPS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 1.0, 0.0, 0.0]),
    (2, [0.0, 0.0, 1.0, 0.0]),
    (3, [0.99, 0.1, 0.0, 0.0]),     # near-dup of 4 (x cluster)
    (4, [0.98, 0.12, 0.0, 0.0]),
    (5, [0.05, 0.99, 0.0, 0.0]),    # near-dup of 1 and 6 (y cluster)
    (6, [0.1, 0.95, 0.0, 0.0]),
    (7, [0.0, 0.1, 0.99, 0.0]),     # z cluster, alone near its centroid? no —
                                    # cos(7, 2) ~ 0.995 >= 0.9: pairs with 2
]


def test_semantic_dedup_groups_and_singletons(spark):
    out = semantic_dedup(_emb(spark, GROUPS), k=3, threshold=0.9)
    got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert got == {
        0: (0, True), 3: (0, False), 4: (0, False),   # x group incl. centroid
        1: (1, True), 5: (1, False), 6: (1, False),   # y group incl. centroid
        2: (2, True), 7: (2, False),                  # z pair
    }


def test_semantic_pairs_only_within_cluster(spark):
    emb = _emb(spark, GROUPS)
    cents = seeded_centroid_frame(emb, 3)
    assert cents.count() == 3
    assigned = assign_clusters(emb, cents)
    # every row lands in exactly one cluster
    assert assigned.count() == len(GROUPS)
    pairs = semantic_pairs(assigned, 0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # cross-axis pairs (cosine ~0) never appear even if clustered oddly
    assert got == {(0, 3), (0, 4), (3, 4), (1, 5), (1, 6), (5, 6), (2, 7)}
    for r in pairs:
        assert r["cosine"] >= 0.9


def test_semantic_cluster_cap_bounds_pairs(spark):
    emb = _emb(spark, GROUPS)
    assigned = assign_clusters(emb, seeded_centroid_frame(emb, 3))
    # cap 2: only the 2 smallest ids per cluster participate — each
    # cluster contributes at most one edge
    capped = {(r["id_a"], r["id_b"])
              for r in semantic_pairs(assigned, 0.9, cluster_cap=2).collect()}
    assert capped == {(0, 3), (1, 5), (2, 7)}


def test_semantic_dedup_deterministic(spark):
    emb = _emb(spark, GROUPS)
    a = sorted(map(tuple, semantic_dedup(emb, k=3, threshold=0.9).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, k=3, threshold=0.9).collect()))
    assert a == b


def test_assign_clusters_plan_is_map_side(spark):
    """Centroid assignment ships literals — zero Exchange, zero Python,
    no N x k row fan-out (the argmax is array_max over structs)."""
    emb = _emb(spark, GROUPS)
    assigned = assign_clusters(emb, seeded_centroid_frame(emb, 3))
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    for marker in ("Exchange", "CartesianProduct", "BatchEvalPython",
                   "BroadcastNestedLoopJoin", "Join"):
        assert marker not in plan, f"{marker} in assignment plan"


# ---------------------------------------------------------------------
# export sharding
# ---------------------------------------------------------------------


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )


def test_shard_assignments_partition_and_positions(spark):
    out = shard_assignments(_docs(spark), 4).collect()
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r["shard_id"] < 4
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    # positions are a contiguous 0-based range per shard
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # hash permutation balances shards (binomial: no empty/megashard)
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[0] > 0 and sizes[-1] < 200


def test_shard_assignments_deterministic_and_salted(spark):
    d = _docs(spark)
    a = sorted(map(tuple, shard_assignments(d, 4).collect()))
    b = sorted(map(tuple, shard_assignments(d, 4).collect()))
    assert a == b
    alt = sorted(map(tuple, shard_assignments(d, 4, salt="other").collect()))
    assert a != alt  # salt changes the permutation


def test_split_assignments_partition_of_corpus(spark):
    import pytest

    from grass_spark.operators.export import split_assignments

    d = _docs(spark, 400)
    out = split_assignments(
        d, {"train": 0.75, "val": 0.125, "test": 0.125}
    ).collect()
    assert len(out) == 400  # every row labeled exactly once
    sizes: dict[str, int] = {}
    for r in out:
        sizes[r["split"]] = sizes.get(r["split"], 0) + 1
    assert set(sizes) == {"train", "val", "test"}
    assert sizes["train"] > sizes["val"] and sizes["train"] > sizes["test"]
    # deterministic
    again = split_assignments(
        d, {"train": 0.75, "val": 0.125, "test": 0.125}
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        split_assignments(d, {"train": 0.5, "val": 0.1})


def test_write_shards_roundtrip(spark, tmp_path):
    d = _docs(spark, 100)
    path = str(tmp_path / "shards")
    write_shards(d, path, 4)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert set(back.columns) == {"doc_id", "text", "shard_id"}
    # the written layout matches shard_assignments' labeling
    expect = {
        (r["doc_id"], r["shard_id"])
        for r in shard_assignments(d, 4).select("doc_id", "shard_id").collect()
    }
    got = {(r["doc_id"], r["shard_id"]) for r in back.collect()}
    assert got == expect
    # determinism + the documented ORDER contract: each shard holds the
    # permutation (_u, doc_id) order, and a rewrite reproduces it
    # byte-identically.  Per-shard reads preserve file row order, and
    # the shard_id-prefixed sortWithinPartitions means the dynamic
    # partitionBy write inserts NO planner sort of its own.
    from grass_spark.operators.sampling import uniform_hash

    expect_order: dict[int, list] = {}
    for r in (
        d.withColumn("_u", uniform_hash(F.col("doc_id"), "export"))
        .withColumn("shard_id", F.floor(F.col("_u") * 4).cast("int"))
        .orderBy("_u", "doc_id")
        .collect()
    ):
        expect_order.setdefault(r["shard_id"], []).append(r["doc_id"])
    first = {
        s: [r["doc_id"] for r in spark.read.parquet(f"{path}/shard_id={s}").collect()]
        for s in expect_order
    }
    assert first == expect_order
    write_shards(d, path, 4)
    second = {
        s: [r["doc_id"] for r in spark.read.parquet(f"{path}/shard_id={s}").collect()]
        for s in expect_order
    }
    assert second == expect_order


def test_write_shards_plan_has_no_planner_inserted_sort(spark, tmp_path):
    """The write-side sort leads with shard_id, satisfying the dynamic
    partitionBy write's required ordering — exactly ONE Sort in the
    executed write plan (ours), not two."""
    d = _docs(spark, 50)
    u = __import__(
        "grass_spark.operators.sampling", fromlist=["uniform_hash"]
    ).uniform_hash(F.col("doc_id"), "export")
    out = (
        d.withColumn("_u", u)
        .withColumn("shard_id", F.floor(F.col("_u") * 4).cast("int"))
        .repartition(4, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "_u", "doc_id")
        .drop("_u")
    )
    # V1 write planning: requiredOrdering for partitionBy('shard_id')
    # is satisfied by the explicit sort; assert the logical frame has
    # one Sort node (the writer-inserted one would appear at execution;
    # the roundtrip-order test above is the behavioral pin)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Sort ") == 1


def test_assign_clusters_arrow_matches_expr(spark):
    """The Arrow (numpy matmul) assignment is the same function as the
    literal-expression path: identical cluster for every vector,
    including the smallest-centroid-id tie-break, on a corpus with
    planted near-dups AND exact ties (the zero vector is equidistant
    from everything; a duplicated centroid direction ties exactly)."""
    from grass_spark.datagen import synth_embeddings

    emb = synth_embeddings(spark, n_vecs=400, dims=16).select(
        "vec_id", "embedding"
    )
    cents = seeded_centroid_frame(emb, 24)
    a_expr = assign_clusters(emb, cents, method="expr")
    a_arrow = assign_clusters(emb, cents, method="arrow")
    diff = (
        a_expr.select("vec_id", F.col("cluster_id").alias("c1"))
        .join(a_arrow.select("vec_id", F.col("cluster_id").alias("c2")),
              "vec_id")
        .filter(F.col("c1") != F.col("c2"))
        .count()
    )
    assert diff == 0

    # exact-tie corpus: two centroids on the same direction -> both
    # paths must pick the smaller centroid id
    tie = _emb(spark, [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),   # same direction as 0: cosine ties at 1
        (2, [0.9, 0.0, 0.0, 0.0]),
    ])
    cents2 = seeded_centroid_frame(tie, 2)
    for m in ("expr", "arrow"):
        got = {
            r["vec_id"]: r["cluster_id"]
            for r in assign_clusters(tie, cents2, method=m).collect()
        }
        assert got == {0: 0, 1: 0, 2: 0}, m


def test_assign_clusters_auto_switches_on_kdims(spark):
    """auto = expr below _EXPR_KDIMS_LIMIT literals, arrow above (the
    literal plan measured minutes of codegen at k*dims ~ 50k)."""
    from grass_spark.operators import semdedup as sd

    emb = _emb(spark, GROUPS)
    cents = seeded_centroid_frame(emb, 3)
    small = assign_clusters(emb, cents, method="auto")
    # expr plan carries the centroid literals; arrow plan carries a UDF
    assert "arrow" not in small._jdf.queryExecution().executedPlan().toString().lower()
    big = sd.assign_clusters(
        emb, cents.withColumn(
            "ce", F.flatten(F.array_repeat(F.col("ce"), sd._EXPR_KDIMS_LIMIT))
        ),
        method="auto",
    )
    assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()


def test_multi_probe_assignment_and_recall(spark):
    """probes=2 soft assignment: (a) expr and arrow paths emit the same
    (id, cluster) row set; (b) it recovers planted near-dups whose
    members straddle a cluster boundary (the measured single-probe
    loss), at zero false positives."""
    from grass_spark.datagen import synth_embeddings

    emb = synth_embeddings(spark, n_vecs=2000, dims=32)  # 32 dims:
    # chance cos>=0.9 between random vectors is ~5 sigma (dims=16 put
    # ~1.5 expected chance pairs in 50k within-cluster comparisons)
    vecs = emb.select("vec_id", "embedding")
    cents = seeded_centroid_frame(vecs, 40)
    rows = lambda df: {  # noqa: E731
        (r["vec_id"], r["cluster_id"]) for r in df.collect()
    }
    a_expr = rows(assign_clusters(vecs, cents, method="expr", probes=2))
    a_arrow = rows(assign_clusters(vecs, cents, method="arrow", probes=2))
    assert a_expr == a_arrow
    assert len(a_expr) == 2 * 2000  # two rows per vector

    truth = emb.filter(F.col("true_head") >= 0).select("vec_id")
    nt = truth.count()

    def recall(probes):
        out = semantic_dedup(vecs, k=40, threshold=0.9,
                             assign_method="arrow", probes=probes)
        flagged = out.filter(~F.col("keep")).select("vec_id")
        caught = truth.join(flagged, "vec_id").count()
        return caught / nt, flagged.count() - caught

    r1, fp1 = recall(1)
    r2, fp2 = recall(2)
    assert fp1 == 0 and fp2 == 0
    assert r2 >= r1
    assert r2 >= 0.98


def test_semantic_pairs_arrow_matches_expr(spark):
    """The per-cluster BLAS matmul path emits the same (id_a, id_b)
    set with the same rounded cosines as the equi-join fold path, and
    respects cluster_cap identically."""
    from grass_spark.datagen import synth_embeddings

    emb = synth_embeddings(spark, n_vecs=1500, dims=32).select(
        "vec_id", "embedding"
    )
    assigned = assign_clusters(
        emb, seeded_centroid_frame(emb, 30), method="arrow", probes=2
    )
    for cap in (None, 40):
        p_expr = semantic_pairs(assigned, 0.9, cluster_cap=cap,
                                method="expr")
        p_arrow = semantic_pairs(assigned, 0.9, cluster_cap=cap,
                                 method="arrow")
        rows = lambda df: {  # noqa: E731
            (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
        }
        assert rows(p_expr) == rows(p_arrow), f"cap={cap}"
        assert len(rows(p_expr)) > 0


def test_semantic_dedup_auto_resolves_both_stages(spark):
    """auto at large k*dims routes BOTH assignment and pair scoring to
    arrow (FlatMapGroupsInPandas in the plan, no 100k-literal tree) and
    still returns exact keep decisions on planted dups."""
    from grass_spark.datagen import synth_embeddings

    emb = synth_embeddings(spark, n_vecs=3000, dims=32)
    vecs = emb.select("vec_id", "embedding")
    # k*dims = 150*32 = 4800 > _EXPR_KDIMS_LIMIT -> auto resolves arrow
    # for BOTH stages (the end-to-end plan hides them behind the CC
    # localCheckpoint, so assert at component level)
    cents = seeded_centroid_frame(vecs, 150)
    assigned = assign_clusters(vecs, cents, method="auto", probes=2)
    aplan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in aplan
    pplan = (
        semantic_pairs(assigned, 0.9, method="arrow")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in pplan
    out = semantic_dedup(vecs, k=150, threshold=0.9, probes=2)
    truth = emb.filter(F.col("true_head") >= 0).select("vec_id")
    flagged = out.filter(~F.col("keep")).select("vec_id")
    caught = truth.join(flagged, "vec_id").count()
    assert caught / truth.count() >= 0.98
    assert flagged.count() == caught


def test_semantic_dedup_with_trained_ivf_centroids(spark):
    """Caller-trained centroids bridged via centroid_frame drive the
    same pipeline — planted dups still collapse, at k-means-quality
    clusters instead of seeded ones."""
    from grass_spark.datagen import synth_embeddings
    from grass_spark.operators.kmeans import lloyd_refine
    from grass_spark.operators.semdedup import centroid_frame

    emb = synth_embeddings(spark, n_vecs=2000, dims=32)
    vecs = emb.select("vec_id", "embedding")
    trained, _ = lloyd_refine(vecs, 40, rounds=5)
    out = semantic_dedup(
        vecs, threshold=0.9, centroids=centroid_frame(spark, trained),
        probes=2,
    )
    truth = emb.filter(F.col("true_head") >= 0).select("vec_id")
    flagged = out.filter(~F.col("keep")).select("vec_id")
    caught = truth.join(flagged, "vec_id").count()
    assert caught / truth.count() >= 0.98
    assert flagged.count() == caught


def test_arrow_scorer_block_boundaries(spark, monkeypatch):
    """Row-blocked matmul is exact across block seams: force a tiny
    block height so every cluster spans many blocks, assert the pair
    set is unchanged vs the expr join."""
    from grass_spark.datagen import synth_embeddings
    from grass_spark.operators import semdedup as sd

    monkeypatch.setattr(sd, "_SCORE_BLOCK_ROWS", 7)
    emb = synth_embeddings(spark, n_vecs=800, dims=32).select(
        "vec_id", "embedding"
    )
    assigned = assign_clusters(
        emb, seeded_centroid_frame(emb, 8), method="arrow"
    )
    rows = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
    }
    got = rows(sd.semantic_pairs(assigned, 0.9, method="arrow"))
    want = rows(sd.semantic_pairs(assigned, 0.9, method="expr"))
    assert got == want and len(want) > 0


def test_auto_cluster_cap_bounds_degenerate_cluster(spark):
    """Adversarial all-one-cluster corpus: every vector points the same
    way, so seeded k=16 clustering funnels ALL n rows into centroid 0.
    The default cluster_cap="auto" (= ceil(8n/k)) bounds pair work to
    cap^2: only ids < cap participate in pairs, everyone past the cap
    is a singleton that keeps itself — instead of n^2 pair work."""
    import math

    n, k = 300, 16
    cap = math.ceil(8 * n / k)          # 150 < n: the cap binds
    rows = [(i, [1.0, float(i) * 1e-9, 0.0, 0.0]) for i in range(n)]
    emb = _emb(spark, rows)
    out = semantic_dedup(emb, k=k, threshold=0.99)   # cluster_cap="auto"
    got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert len(got) == n
    # capped participants collapse into the single semantic group
    for i in range(cap):
        assert got[i] == (0, i == 0), i
    # beyond the cap: untouched singletons (bounded work contract)
    for i in range(cap, n):
        assert got[i] == (i, True), i
    # opt-out: cluster_cap=None collapses EVERYTHING (quadratic work
    # accepted explicitly)
    out_all = semantic_dedup(emb, k=k, threshold=0.99, cluster_cap=None)
    assert out_all.filter(F.col("keep")).count() == 1


def test_semantic_dedup_string_ids_keep_label_type(spark):
    """cluster_id carries the id column's own type — with string ids it
    must be the surviving doc's id, not a silently-NULL long cast."""
    emb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", [0.999, 0.01]),   # near-dup of a
            ("c", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    # k=1: single centroid ("a"), every vector lands in its cluster, so
    # the near-dup pair (a, b) is actually scored
    out = semantic_dedup(emb, k=1, threshold=0.95)
    assert dict(out.dtypes)["cluster_id"] == "string"
    got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert got == {"a": ("a", True), "b": ("a", False), "c": ("c", True)}
    # arrow assignment path with string ids: same labeling
    out2 = semantic_dedup(emb, k=1, threshold=0.95, assign_method="arrow")
    got2 = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out2.collect()}
    assert got2 == got


def test_semantic_dedup_degenerate_inputs(spark):
    """Empty input (and thus an empty centroid frame) returns the
    all-keep labeling instead of raising; probes clamps to the
    available centroid count on tiny inputs."""
    empty = _emb(spark, [])
    assert semantic_dedup(empty, k=4, threshold=0.9).count() == 0
    one = _emb(spark, [(5, [1.0, 0.0, 0.0, 0.0])])
    got = semantic_dedup(one, k=4, threshold=0.9, probes=3).collect()
    assert [(r["vec_id"], r["cluster_id"], r["keep"]) for r in got] == [
        (5, 5, True)
    ]


def test_diversity_sample_caps_every_cluster(spark):
    """Composition exactness: diversity_sample == assign + the naive
    per-cluster (u, id) window, for any salts."""
    from grass_spark.operators.sampling import uniform_hash
    from grass_spark.operators.semdedup import (
        assign_clusters,
        diversity_sample,
        seeded_centroid_frame,
    )
    from pyspark.sql import Window

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 3 + 1).cast("double"),
            ((F.col("id") * 7) % 5).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    got = {
        (r["vec_id"], r["cluster_id"])
        for r in diversity_sample(emb, 5, k=4, salt="t", salts=3).collect()
    }
    cents = seeded_centroid_frame(emb, 4)
    naive = (
        assign_clusters(emb, cents)
        .select("vec_id", "cluster_id")
        .withColumn("_u", uniform_hash(F.col("vec_id"), "t"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy("_u", "vec_id")
            ),
        )
        .filter(F.col("_rn") <= 5)
    )
    want = {(r["vec_id"], r["cluster_id"]) for r in naive.collect()}
    assert got == want
    # every cluster at or under the cap, and at least one was capped
    sizes = [len([1 for _, c in got if c == cid])
             for cid in {c for _, c in got}]
    assert max(sizes) <= 5 and len(got) < 300


def test_diversity_sample_deterministic_and_salted(spark):
    from grass_spark.operators.semdedup import diversity_sample

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), F.lit(1.0)
        ).alias("embedding"),
    )
    a = {r["vec_id"] for r in diversity_sample(emb, 3, k=2).collect()}
    b = {r["vec_id"] for r in diversity_sample(emb, 3, k=2).collect()}
    c = {r["vec_id"] for r in diversity_sample(emb, 3, k=2,
                                               salt="other").collect()}
    assert a == b
    assert a != c  # different draw, same sizes
    assert len(a) == len(c)
