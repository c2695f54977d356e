"""Corpus drift diagnostics: token-distribution divergence between two
corpus snapshots (old crawl vs new crawl, or mixture A vs mixture B).

The QC gate a mixture pipeline runs when a new ingest lands: has the
token distribution shifted?  Computes smoothed KL(P‖Q), Jensen-Shannon
divergence and vocabulary overlap, plus PSI drift and the two-sample
KS test over numeric columns.

Scale shape: each corpus is scanned ONCE (the same map-side-combinable
word-frequency groupBy as BPE/TF-IDF); everything after runs on the
two vocabulary-sized frames (full-outer join on word, scalar aggs).
At 100 TB the cost is two corpus scans — the diagnostics are free.

Cross-engine parity: probabilities derive from exact integer counts;
log terms round only at the FINAL aggregate (6 dp) — same convention
as every oracle here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.operators.bpe import word_frequencies
from grass_spark.operators.prefix import exclusive_prefix_sums


def corpus_divergence(
    a: DataFrame,
    b: DataFrame,
    *,
    text_col: str = "text",
    smoothing: float = 0.5,
) -> DataFrame:
    """ONE summary row: token totals, vocab sizes/overlap, smoothed
    KL(a‖b) and symmetric JS divergence over the union vocabulary.

    Add-``smoothing`` (Laplace) on counts over the UNION vocabulary so
    absent words contribute finitely; JS uses the smoothed P, Q.
    """
    wa = word_frequencies(a, text_col=text_col).withColumnRenamed(
        "freq", "fa"
    )
    wb = word_frequencies(b, text_col=text_col).withColumnRenamed(
        "freq", "fb"
    )
    j = wa.join(wb, "word", "full_outer").select(
        "word",
        F.coalesce("fa", F.lit(0)).alias("fa"),
        F.coalesce("fb", F.lit(0)).alias("fb"),
    )
    # totals + union vocab size in one pass; then P/Q need them as
    # scalars — a 1-row broadcast crossJoin keeps the plan declarative
    tot = j.agg(
        F.sum("fa").alias("na"),
        F.sum("fb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
        F.sum((F.col("fa") > 0).cast("long")).alias("va"),
        F.sum((F.col("fb") > 0).cast("long")).alias("vb"),
        F.sum(
            ((F.col("fa") > 0) & (F.col("fb") > 0)).cast("long")
        ).alias("vboth"),
    )
    s = float(smoothing)
    jj = j.crossJoin(F.broadcast(tot))
    p = (F.col("fa") + s) / (F.col("na") + s * F.col("v"))
    q = (F.col("fb") + s) / (F.col("nb") + s * F.col("v"))
    m = (p + q) / 2.0
    terms = jj.select(
        "na", "nb", "v", "va", "vb", "vboth",
        (p * F.log(p / q)).alias("_kl"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("_js"),
    )
    return terms.groupBy("na", "nb", "v", "va", "vb", "vboth").agg(
        F.round(F.sum("_kl"), 6).alias("kl_ab"),
        F.round(F.sum("_js"), 6).alias("js"),
        F.round(
            F.first("vboth") / F.first("v").cast("double"), 6
        ).alias("vocab_overlap"),
    ).select(
        F.col("na").alias("tokens_a"),
        F.col("nb").alias("tokens_b"),
        F.col("v").alias("vocab_union"),
        F.col("va").alias("vocab_a"),
        F.col("vb").alias("vocab_b"),
        F.col("vboth").alias("vocab_both"),
        "vocab_overlap",
        "kl_ab",
        "js",
    )


def psi_bins(
    ref: DataFrame,
    cur: DataFrame,
    *,
    value_col: str,
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index detail: per-bucket drift between a
    reference and a current numeric distribution over ``n_bins``
    quantile buckets of the REFERENCE.  Returns one row per bucket
    0..n_bins-1: ``(bucket, ref_n, cur_n, ref_frac, cur_frac,
    psi_term)``.

    Bucket assignment is PURE INTEGER math on the union value census:
    ``bucket(v) = min(n_bins-1, (n_bins * #ref_values_below_v) div
    n_ref)`` — the reference-ECDF quantile bucket, portable across
    engines with no float edges, no asof join.  Current values below
    the reference min land in bucket 0, above the max in the last
    bucket.  Laplace ``smoothing`` over all n_bins buckets keeps empty
    buckets finite (heavy reference ties legitimately skip buckets).
    ``psi_term = (cur_frac - ref_frac) * ln(cur_frac / ref_frac)``
    rounds per bucket at 6 dp (transcendental discipline).

    Scale shape: each side collapses in ONE map-side-combinable value
    census; the cumulative window and bucket groupBy run on
    census-sized frames; the n_bins grid densifies from a 1-row
    sequence.  The per-crawl drift gate: two scans, diagnostics free.
    """
    if n_bins < 2:
        raise ValueError("psi_bins: n_bins must be >= 2")
    nb = int(n_bins)
    cr = ref.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_cr")
    )
    cc = cur.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_cc")
    )
    j = (
        cr.join(cc, "_v", "full_outer")
        .select(
            "_v",
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
            F.coalesce("_cc", F.lit(0)).alias("_cc"),
        )
        .localCheckpoint(eager=False)  # window + totals consumers
    )
    # bucketed exclusive prefix sums + 1-row broadcast totals — same
    # single-task-census avoidance as ks_test (operators/prefix.py)
    tot = j.agg(
        F.sum("_cr").alias("_nref"), F.sum("_cc").alias("_ncur")
    )
    staged = (
        exclusive_prefix_sums(j, "_v", ["_cr"])
        .withColumnRenamed("_prev__cr", "_prev")
        .crossJoin(F.broadcast(tot))
        .select("_cr", "_cc", "_prev", "_nref", "_ncur")
    ).withColumn(
        "bucket",
        F.least(
            F.lit(nb - 1),
            F.expr(f"({nb} * _prev) div _nref"),
        ).cast("int"),
    )
    bins = staged.groupBy("bucket").agg(
        F.sum("_cr").alias("ref_n"),
        F.sum("_cc").alias("cur_n"),
        F.max("_nref").alias("_nref"),
        F.max("_ncur").alias("_ncur"),
    ).localCheckpoint(eager=False)  # feeds the grid totals + the join
    tot = bins.agg(
        F.max("_nref").alias("_nref"), F.max("_ncur").alias("_ncur")
    )
    grid = tot.select(
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("bucket"),
        "_nref",
        "_ncur",
    )
    dense = grid.join(
        bins.select("bucket", "ref_n", "cur_n"), "bucket", "left"
    ).select(
        "bucket",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        "_nref",
        "_ncur",
    )
    s = float(smoothing)
    pr = (F.col("ref_n") + s) / (F.col("_nref").cast("double") + s * nb)
    pc = (F.col("cur_n") + s) / (F.col("_ncur").cast("double") + s * nb)
    return dense.select(
        "bucket",
        "ref_n",
        "cur_n",
        F.round(pr, 6).alias("ref_frac"),
        F.round(pc, 6).alias("cur_frac"),
        F.round((pc - pr) * F.log(pc / pr), 6).alias("psi_term"),
    ).orderBy("bucket")


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    *,
    value_col: str,
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """ONE summary row ``(n_ref, n_cur, n_bins, psi)`` — the scalar
    drift gate over :func:`psi_bins` (rule of thumb: psi < 0.1 stable,
    > 0.25 shifted)."""
    bins = psi_bins(
        ref, cur, value_col=value_col, n_bins=n_bins, smoothing=smoothing
    )
    return bins.agg(
        F.sum("ref_n").alias("n_ref"),
        F.sum("cur_n").alias("n_cur"),
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.round(F.sum("psi_term"), 6).alias("psi"),
    )


def ks_test(
    a: DataFrame,
    b: DataFrame,
    *,
    value_col: str,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic over a numeric
    column — ONE summary row ``(n_a, n_b, ks_stat, ks_at)``.

    ``ks_stat = max |ECDF_a(v) - ECDF_b(v)|`` over the union of
    observed values; ``ks_at`` is the smallest value attaining the
    max.  The ECDF gap is kept EXACT until the last step:
    ``|cum_a * n_b - cum_b * n_a|`` in DECIMAL(38,0) (cumulative
    counts at petabyte scale overflow int64 products), the max is
    taken over integers (no float-max ordering hazard), and one
    double division + round(6) lands the statistic — bit-identical
    across engines and shuffle orders.

    Scale shape: each side collapses in one map-side-combinable value
    census; the cumulative window runs over one row per DISTINCT
    value of the union census.  The length-distribution drift gate a
    100 TB ingest runs per crawl: two scans, diagnostics free.
    """
    ca = a.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_ca")
    )
    cb = b.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_cb")
    )
    j = ca.join(cb, "_v", "full_outer").select(
        "_v",
        F.coalesce("_ca", F.lit(0)).alias("_ca"),
        F.coalesce("_cb", F.lit(0)).alias("_cb"),
    )
    if checkpoint:  # the census feeds two consumers (max + argmin) —
        # without this, BOTH corpus scans re-execute per consumer
        j = j.localCheckpoint(eager=False)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # bucketed exclusive prefix sums (operators/prefix.py) — a census
    # over a continuous column is corpus-sized, so a bare orderBy
    # window would single-task it; totals come from a 1-row broadcast
    # aggregate, not a whole-frame window
    tot = j.agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    staged = (
        exclusive_prefix_sums(j, "_v", ["_ca", "_cb"])
        .crossJoin(F.broadcast(tot))
        .select(
            "_v",
            (F.col("_prev__ca") + F.col("_ca")).alias("_cuma"),
            (F.col("_prev__cb") + F.col("_cb")).alias("_cumb"),
            "_na",
            "_nb",
        )
        .withColumn(
            "_num",
            F.abs(dec("_cuma") * dec("_nb") - dec("_cumb") * dec("_na")),
        )
        .localCheckpoint(eager=False)  # feeds the max agg + argmin join
    )
    agg = staged.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.max("_num").alias("_mx"),
    )
    # smallest value attaining the max (deterministic tie-break):
    # second tiny pass over the census via a broadcast of the 1-row agg
    at = (
        staged.join(F.broadcast(agg), staged["_num"] == agg["_mx"])
        .agg(F.min("_v").alias("ks_at"))
    )
    return (
        agg.join(F.broadcast(at))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("_mx").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("ks_stat"),
            "ks_at",
        )
    )
