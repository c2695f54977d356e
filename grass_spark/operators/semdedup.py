"""Semantic deduplication over embedding columns (SemDeDup-style).

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the
corpus embeddings with a coarse k-means, then look for near-duplicate
pairs ONLY within a cluster — the cluster assignment bounds the
pairwise work the way LSH bands bound MinHash (never an all-pairs
join), and ``k`` scales with corpus size so per-cluster candidate sets
stay roughly constant.  Pairs above the cosine threshold form edges;
connected components pick one survivor per semantic group.

Spark shapes (100 TB story):

* cluster assignment — zero-shuffle, two physical strategies: literal
  expression argmax for small k (bit-identical to the DuckDB oracle)
  or an Arrow-batched numpy matmul for large k (one BLAS call per
  record batch).  The corpus never shuffles to get its cluster.
* within-cluster pairs — a self equi-join on ``cluster_id`` with an
  optional per-cluster cap (same contract as the LSH bucket cap in
  :mod:`grass_spark.operators.dedup`): a runaway cluster degrades to
  "first ``cap`` members considered", it never goes quadratic-global.
* components — :func:`grass_spark.operators.dedup.dedup_clusters`
  (min-label + pointer doubling, O(log diameter) rounds).

Centroids here are *seeded* deterministically (the ``k`` smallest ids)
rather than k-means-trained so the whole pipeline is reproducible in
any engine — the DuckDB oracle replays it bit-for-bit.  A trained
quantizer's centroids enter :func:`assign_clusters` via ``centroids=``
(see :func:`centroid_frame`).

Reference analog: the reference's sampling/topology machinery has no
embedding ops; this is part of the training-data wave the engine adds
on top of SURVEY §2 (grades as first-class per the round-3 verdict).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from grass_spark.functions.litexpr import darr, dlit, dot_sql, l2norm_sql
from grass_spark.operators.dedup import dedup_clusters
from grass_spark.operators.similarity import _as_double, dot, l2norm


def seeded_centroid_frame(
    emb: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid set: the ``k`` smallest ids' vectors.

    A tiny (k-row) frame meant for the broadcast side of
    :func:`assign_clusters`.  Seeding by id (not a sample of the value
    space) keeps the choice engine-portable; callers who want trained
    centroids pass their own frame of the same shape.
    """
    return (
        emb.select(
            F.col(id_col).alias("c_id"), _as_double(vec_col).alias("ce")
        )
        # sort+limit compiles to TakeOrderedAndProject: per-partition
        # partial top-k, no global sort — safe at corpus scale
        .orderBy("c_id")
        .limit(k)
    )


# Above this many k*dims literal doubles the expression-tree assignment
# stops being viable: at k=781 x 64 dims (a 200k-vec SemDeDup run) the
# plan carried a 7.2 MiB task binary and codegen alone ran for minutes.
# The Arrow path replaces the k-way expression fan-out with one numpy
# matmul per record batch — same rounded argmax, BLAS-speed.
_EXPR_KDIMS_LIMIT = 4096

# Row-block height for the per-cluster sims matmul: peak scorer memory
# is _SCORE_BLOCK_ROWS x |cluster| doubles regardless of cluster size.
_SCORE_BLOCK_ROWS = 2048


def centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """Bridge a trained quantizer's ``list[list[float]]`` centroids
    into the (c_id, ce) frame :func:`assign_clusters` consumes;
    ``c_id`` is the list index."""
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "c_id long, ce array<double>",
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    probes: int = 1,
) -> DataFrame:
    """Nearest-centroid (max cosine) assignment — fully map-side.

    The k-row centroid frame collects to the driver (bounded by
    construction: it IS the quantizer).  Two physical strategies, both
    zero-shuffle and with the identical contract (similarity rounded to
    6 decimals, argmax with similarity-desc / centroid-id-asc
    tie-break, so the DuckDB oracle replays the same assignment):

    * ``"expr"`` — centroids ship as literal arrays in the plan; the
      winner is ``array_max`` over (similarity, -centroid_id) structs,
      the same shape as IVF's ``_cell_of``.  Pure Catalyst expressions,
      bit-identical to the oracle — but the tree is O(k*dims) literals,
      which stops compiling usefully past a few thousand
      (``_EXPR_KDIMS_LIMIT``).
    * ``"arrow"`` — a vectorized ``pandas_udf``: the centroid matrix
      rides the closure once per executor and each Arrow record batch
      costs one numpy matmul (BLAS) + rounded argmax.  numpy's pairwise
      summation can differ from the expression fold in the last ulp
      *before* rounding, so this path is equivalent-after-rounding
      rather than bit-identical — the small-k oracle queries therefore
      stay on ``"expr"``.

    ``"auto"`` picks ``"arrow"`` when ``k*dims > _EXPR_KDIMS_LIMIT``.
    Adds ``cluster_id``; passes ``id_col`` + the double-cast vector
    through as ``_e`` for downstream pair scoring.

    ``probes > 1`` is IVF-style soft assignment: each vector lands in
    its ``probes`` nearest clusters (one output row per probe, same
    (-sim, centroid-id) ordering), recovering near-dup pairs whose
    members straddle a cluster boundary — measured 5.8% of planted
    dups at k=200 single-probe.  Pair work scales by at most
    ``probes``x; downstream components already ``distinct()`` edges,
    so duplicated pairs are harmless.
    """
    import math

    cents = [(r["c_id"], list(r["ce"])) for r in centroids.collect()]
    # ascending c_id so the arrow path's argmax-first == smallest-id
    # tie-break; harmless for the expr path (explicit -c_id in the max)
    cents.sort(key=lambda t: t[0])
    dims = len(cents[0][1]) if cents else 0
    if method == "auto":
        method = "arrow" if len(cents) * dims > _EXPR_KDIMS_LIMIT else "expr"
    if method not in ("expr", "arrow"):
        raise ValueError(f"method must be expr/arrow/auto, got {method!r}")
    if not 1 <= probes <= len(cents):
        raise ValueError(f"probes must be in [1, k], got {probes}")
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("_e"))
    # score on the centroid ORDINAL (position in c_id-ascending order)
    # so the argmax structs stay numeric for any c_id type; the winner
    # maps back to the real c_id via a k-element literal lookup.
    # Ordinal-asc == c_id-asc, so the tie-break is unchanged.
    cid_lits = F.array(*[F.lit(c) for c, _ in cents])
    if method == "expr":
        # the O(k*dims) literal struct array is emitted as ONE SQL
        # text parse (functions/litexpr.py) — the Column-by-Column
        # build cost seconds of py4j round-trips; the tree (and so the
        # bit-exact oracle contract) is unchanged
        parts = []
        for i, (_c_id, ce) in enumerate(cents):
            # same a/(b*c) shape and left-to-right norm sum as the DuckDB
            # oracle so the rounded value agrees bit-for-bit
            c_norm = math.sqrt(sum((v * v for v in ce), 0.0))
            parts.append(
                f"named_struct('s', round({dot_sql('_e', darr(ce))} / "
                f"({l2norm_sql('_e')} * {dlit(c_norm)}), 6), "
                f"'ni', CAST({-i} AS BIGINT))"
            )
        scored_arr = "array(" + ", ".join(parts) + ")"
        def _cid(t):
            return F.element_at(cid_lits, (-t["ni"]).cast("int") + 1)
        if probes == 1:
            best = F.array_max(F.expr(scored_arr))
            return e.withColumn("cluster_id", _cid(best))
        # struct sort is (s asc, ni asc); reversed = (s desc, c_id asc)
        top = F.slice(F.reverse(F.array_sort(F.expr(scored_arr))), 1, probes)
        return e.withColumn("cluster_id", F.explode(F.transform(top, _cid)))

    from pyspark.sql.functions import pandas_udf

    cid_type = dict(centroids.dtypes)["c_id"]
    try:
        c_ids = np.array([c for c, _ in cents], dtype=np.int64)
    except (TypeError, ValueError, OverflowError):
        c_ids = np.array([c for c, _ in cents], dtype=object)
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    c_norm = np.sqrt((cmat * cmat).sum(axis=1))

    @pandas_udf(f"array<{cid_type}>")
    def _nearest(batch: pd.Series) -> pd.Series:
        if len(batch) == 0:
            return pd.Series([], dtype="object")
        emat = np.vstack(batch.to_numpy())
        e_norm = np.sqrt((emat * emat).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round(
                (emat @ cmat.T) / (e_norm[:, None] * c_norm[None, :]), 6
            )
        # stable argsort on -sims: ties keep column order = c_id asc —
        # the same (-sim, centroid-id) ordering as the expr struct sort
        top = np.argsort(-sims, axis=1, kind="stable")[:, :probes]
        return pd.Series(list(c_ids[top]))

    assigned = e.withColumn("cluster_id", F.explode(_nearest("_e")))
    return assigned


def semantic_pairs(
    assigned: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    cluster_cap: int | None = None,
    method: str = "expr",
) -> DataFrame:
    """Within-cluster near-duplicate pairs: cosine >= ``threshold``.

    ``cluster_cap`` bounds a pathological cluster exactly like the LSH
    bucket cap — only the first ``cap`` members (by id) participate, so
    the worst cluster costs cap^2, never |cluster|^2.  The similarity
    is rounded to 6 decimals BEFORE the threshold compare so the
    predicate is engine-portable (same contract as knn_cosine).

    Two physical strategies:

    * ``"expr"`` — self equi-join on ``cluster_id`` (id_a < id_b) with
      the dot product as a zip_with fold.  Bit-identical to the DuckDB
      oracle, but each of the ~|cluster|^2/2 candidate pairs pays a
      64-element array allocation + fold in the JVM — measured 161 s
      for 102M candidates at 8 cores (the whole-pipeline bottleneck).
    * ``"arrow"`` — ``applyInPandas`` over cluster groups: one
      ``G @ G.T`` BLAS matmul per cluster, pairs emitted from the
      upper triangle.  The only data movement is one shuffle of the
      member rows (|corpus| x probes, NOT |pairs|); the matmul does
      the same 102M dots in a few GFLOP.  Equivalent-after-round(6)
      rather than bit-identical (BLAS pairwise summation), so oracle
      queries stay on ``"expr"``.  Per-group memory is cap^2 doubles —
      set ``cluster_cap`` when clusters can exceed ~10k members.

    With multi-probe assignment a pair sharing two clusters is emitted
    once per shared cluster (both strategies); downstream components
    ``distinct()`` edges, so duplicates are harmless.
    """
    a = assigned
    if cluster_cap is not None:
        w = Window.partitionBy("cluster_id").orderBy(F.col(id_col))
        a = (
            a.withColumn("_crn", F.row_number().over(w))
            .filter(F.col("_crn") <= cluster_cap)
            .drop("_crn")
        )
    if method not in ("expr", "arrow"):
        raise ValueError(f"method must be expr or arrow, got {method!r}")
    if method == "arrow":
        id_type = dict(a.dtypes)[id_col]

        def _score(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            emat = np.vstack(pdf["_e"].to_numpy())
            norm = np.sqrt((emat * emat).sum(axis=1))
            # row-blocked matmul: peak memory is B x |cluster| doubles
            # (~16 MB at B=2048 x 1M... no — B x n; a degenerate giant
            # cluster costs compute (the documented cap contract) but
            # never materializes the full n^2 sims matrix)
            blk = _SCORE_BLOCK_ROWS
            parts = []
            for s in range(0, len(ids), blk):
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round(
                        (emat[s:s + blk] @ emat.T)
                        / (norm[s:s + blk, None] * norm[None, :]), 6
                    )
                ia, ib = np.nonzero(sims >= threshold)
                keep = ids[ia + s] < ids[ib]
                parts.append(pd.DataFrame({
                    "id_a": ids[ia + s][keep],
                    "id_b": ids[ib][keep],
                    "cosine": sims[ia, ib][keep],
                }))
            return pd.concat(parts) if parts else pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []}
            )

        return (
            a.select("cluster_id", id_col, "_e")
            .groupBy("cluster_id")
            .applyInPandas(
                _score,
                f"id_a {id_type}, id_b {id_type}, cosine double",
            )
        )
    # hoist each row's norm above the cluster_id exchange: the shuffle
    # materializes it, so a pair costs one dot instead of dot + 2 norms
    # (same expression tree, same doubles — parity-safe)
    lhs = a.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_a"),
        F.col("_e").alias("_ea"),
        l2norm("_e").alias("_na"),
    )
    rhs = a.select(
        F.col("cluster_id"),
        F.col(id_col).alias("id_b"),
        F.col("_e").alias("_eb"),
        l2norm("_e").alias("_nb"),
    )
    sim = F.round(
        dot("_ea", "_eb") / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        lhs.join(rhs, on="cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    emb: DataFrame,
    *,
    k: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cluster_cap: int | None | str = "auto",
    max_iters: int | None = None,
    assign_method: str = "auto",
    probes: int = 1,
    train_rounds: int = 0,
) -> DataFrame:
    """End-to-end semantic dedup: every input id labeled with its
    semantic-group survivor.

    Returns (id_col, cluster_id = smallest reachable id over
    above-threshold within-cluster edges, keep = id == cluster_id);
    singletons keep themselves.  Deterministic.  ``cluster_id`` carries
    the id column's own type (it IS a member id).

    ``cluster_cap="auto"`` (the default) bounds a degenerate embedding
    distribution — all vectors piling into one centroid would otherwise
    cost |cluster|² pair work even though the row-blocked scorer bounds
    *memory*.  Auto = ``ceil(8 * n / k)`` (8× the expected balanced
    cluster size; a healthy k-means rarely exceeds 3-4× — see the
    adversarial one-cluster test).  Pass an int to override or ``None``
    to opt out (whole-corpus-in-one-cluster workloads).

    Degenerate inputs degrade instead of raising: an empty input (or
    empty centroid frame) returns the all-keep labeling, and ``probes``
    is clamped to the number of centroids actually available.

    ``train_rounds > 0`` refines the seeded centroids with that many
    distributed Lloyd iterations (:func:`kmeans.lloyd_refine`) before
    clustering — better-balanced clusters mean less pair work and
    higher within-cluster recall.  Trained centroids are deterministic
    only up to distributed fp sum order, so oracle-gated queries keep
    the default 0 (seeded).  Ignored when ``centroids`` is supplied.
    """
    import math

    if train_rounds and centroids is None:
        from grass_spark.operators.kmeans import lloyd_refine

        try:
            trained, _ = lloyd_refine(
                emb, k, rounds=train_rounds, id_col=id_col, vec_col=vec_col
            )
        except ValueError:
            trained = None  # fewer than k rows: stay on seeded/degrade
        if trained is not None:
            centroids = centroid_frame(emb.sparkSession, trained)
    cents = (
        centroids
        if centroids is not None
        else seeded_centroid_frame(emb, k, id_col=id_col, vec_col=vec_col)
    )
    id_type = dict(emb.dtypes)[id_col]
    # the centroid frame is k-row bounded by construction — this count
    # is cheap and feeds the probes clamp + the auto cap
    n_cents = cents.count()
    if n_cents == 0:
        return emb.select(
            F.col(id_col),
            F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("keep"),
        )
    probes = min(probes, n_cents)
    if cluster_cap == "auto":
        n = emb.count()
        cluster_cap = max(1, math.ceil(8 * n / n_cents))
    # resolve the physical strategy ONCE so assignment and pair scoring
    # switch together: past _EXPR_KDIMS_LIMIT the literal plan stops
    # compiling AND clusters are numerous enough that the per-cluster
    # BLAS matmul beats the JVM fold join (measured 161 s -> single
    # digits on 102M candidate pairs)
    resolved = assign_method
    if resolved == "auto":
        row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        dims = row["d"] if row else 0
        resolved = "arrow" if n_cents * dims > _EXPR_KDIMS_LIMIT else "expr"
    assigned = assign_clusters(
        emb, cents, id_col=id_col, vec_col=vec_col,
        method=resolved, probes=probes,
    )
    pairs = semantic_pairs(
        assigned, threshold, id_col=id_col, cluster_cap=cluster_cap,
        method=resolved,
    )
    comps = dedup_clusters(pairs, max_iters=max_iters)
    return (
        emb.select(F.col(id_col))
        .join(comps.withColumnRenamed("id", id_col), on=id_col, how="left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
        )
        .select(
            id_col,
            F.col("cluster_id").cast(id_type).alias("cluster_id"),
            (F.col(id_col) == F.col("cluster_id")).alias("keep"),
        )
    )


def diversity_sample(
    emb: DataFrame,
    cap: int,
    *,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    method: str = "auto",
    salt: str = "",
    salts: int = 16,
) -> DataFrame:
    """Cluster-balanced sampling: keep at most ``cap`` vectors per
    semantic cluster — the diversity-preserving downsample (cap the
    over-represented modes instead of uniform random sampling, which
    keeps the corpus's existing imbalance).

    Composition of two gated operators: :func:`assign_clusters`
    (zero-shuffle nearest-centroid labeling, seeded or caller-trained
    centroids) then :func:`grass_spark.operators.caps.cap_per_group`
    on the cluster id (deterministic md5 draw, skew-safe hot-cluster
    selection — a degenerate all-one-cluster embedding distribution is
    exactly the hot-group case the salted two-stage window bounds).

    Returns (id, cluster_id, u) — the kept rows with their 6-dp
    selection hash.  Exact for any ``salts``.
    """
    from grass_spark.operators.caps import cap_per_group

    cents = (
        centroids
        if centroids is not None
        else seeded_centroid_frame(emb, k, id_col=id_col, vec_col=vec_col)
    )
    assigned = assign_clusters(
        emb, cents, id_col=id_col, vec_col=vec_col, method=method
    ).select(id_col, "cluster_id")
    kept = cap_per_group(
        assigned, cap, group_col="cluster_id", id_col=id_col,
        salt=salt, salts=salts, keep_hash=True,
    )
    return kept.select(
        id_col, "cluster_id", F.round("_u", 6).alias("u")
    )


def cluster_quality(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster assignment-quality report over a centroid set:
    ``(cluster_id, n, mean_cohesion, min_cohesion, mean_margin)`` —
    cohesion is each member's cosine to its own centroid, margin the
    gap to the runner-up centroid (small margins = vectors on cluster
    boundaries; SemDeDup multi-probe exists exactly for those).

    Scale shape: the k-row centroid frame broadcasts onto the scan
    (the assign_clusters crossJoin shape); the best/second election is
    a window over the per-vector k-row candidate partition (bounded by
    the quantizer size, never the corpus — k >= 2 required); the
    report is one map-side-combinable ``groupBy(cluster)``.
    Similarities round to 6 dp BEFORE the argmax and margin (the
    assign_clusters tie contract), so a SQL replay agrees bit-for-bit.
    """
    e = emb.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_e")
    )
    sims = e.crossJoin(F.broadcast(centroids)).select(
        "_id",
        "c_id",
        F.round(
            dot("_e", "ce") / (l2norm("_e") * l2norm("ce")), 6
        ).alias("_sim"),
    )
    w = Window.partitionBy("_id").orderBy(
        F.desc("_sim"), F.asc("c_id")
    )
    ranked = sims.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= 2
    )
    per_vec = ranked.groupBy("_id").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("c_id"))).alias("cluster_id"),
        F.max(F.when(F.col("_rn") == 1, F.col("_sim"))).alias("_best"),
        F.max(F.when(F.col("_rn") == 2, F.col("_sim"))).alias("_second"),
    )
    return (
        per_vec.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_best"), 6).alias("mean_cohesion"),
            F.min("_best").alias("min_cohesion"),
            F.round(F.avg(F.col("_best") - F.col("_second")), 6)
            .alias("mean_margin"),
        )
        .orderBy("cluster_id")
    )


def centroid_shift(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantizer drift report: for each cluster, the cosine between
    its centroid and the MEAN vector of its assigned members —
    ``shift_cos`` near 1 means the centroid still represents its
    cluster; low values say the quantizer needs retraining (the Lloyd
    update in ``operators/kmeans.py`` is exactly one such step).

    Scale shape: assignment as in :func:`cluster_quality`; the mean
    vector is the posexplode + ``groupBy(cluster, pos)`` average (the
    Lloyd-update shape — a hot cluster absorbs map-side), with
    per-position means ROUNDED to 6 dp before the cosine so both
    engines fold identical inputs; the final cosine runs over k rows.
    """
    e = emb.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_e")
    )
    sims = e.crossJoin(F.broadcast(centroids)).select(
        "_id",
        "c_id",
        "_e",
        F.round(
            dot("_e", "ce") / (l2norm("_e") * l2norm("ce")), 6
        ).alias("_sim"),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("c_id"))
    assigned = (
        sims.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("c_id").alias("cluster_id"), "_e")
    )
    pos = assigned.select(
        "cluster_id", F.posexplode("_e").alias("_p", "_v")
    )
    means = (
        pos.groupBy("cluster_id", "_p")
        .agg(F.round(F.avg("_v"), 6).alias("_m"))
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_p", "_m"))),
                lambda s: s["_m"],
            ).alias("_mean")
        )
    )
    cnt = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    j = means.join(
        centroids.select(F.col("c_id").alias("cluster_id"), "ce"),
        "cluster_id",
    ).join(cnt, "cluster_id")
    den = l2norm("_mean") * l2norm("ce")
    return j.select(
        "cluster_id",
        "n",
        F.when(den > 0, F.round(dot("_mean", "ce") / den, 6))
        .alias("shift_cos"),
    ).orderBy("cluster_id")
