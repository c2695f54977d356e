"""Per-group document caps — skew-safe exact top-``cap`` per key.

Web-corpus pipelines bound any single source's contribution (RefinedWeb
caps URLs per domain; Gopher/MassiveText cap documents per host) so one
crawler-friendly site cannot dominate the mixture.  The selection must
be deterministic (same corpus -> same kept set on any engine), which
rules out ``sample()``: we keep the ``cap`` smallest by a portable
uniform hash of the document id (md5-derived, see
:func:`grass_spark.operators.sampling.uniform_hash`), tie-broken by id.

Scale shape (100 TB corpus, 10^9 docs, hot hosts with 10^8 docs):

* the naive plan — ``row_number() OVER (PARTITION BY source ORDER BY
  u)`` — funnels every row of a hot source into ONE task, the exact
  skew this engine's segment-dedup round already hit and fixed;
* here the corpus takes ONE map-side-combined ``groupBy(group)`` count,
  and the (tiny) set of groups *over* the cap is **broadcast** back;
* rows in under-cap groups keep immediately — no ordering work at all
  (at a meaningful cap that is almost the whole corpus);
* hot-group rows are selected in two bounded stages: a salted window
  over ``(group, shard)`` (each partition ~ n_group/salts rows) keeps a
  local top-``cap``, then a final window over ``group`` ranks only the
  ``<= salts * cap`` survivors per group.  Stage 1 is exact-superset:
  every row in a group's global top-``cap`` is also in the top-``cap``
  of its own shard, so the composition equals the single-window answer
  bit-for-bit (pinned by tests against the brute window).

Reference analog: none in GRASS — this is the training-corpus
source-balancing stage (RefinedWeb §3.1 / MassiveText repetition caps)
expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from grass_spark.operators.sampling import uniform_hash


def _skew_safe_top(
    staged: DataFrame,
    cap: int,
    group_col: str,
    id_col: str,
    order_cols: list,
    salt: str,
    salts: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared skew-safe exact top-``cap``-per-group core.

    ``order_cols`` is any TOTAL order (must end in a unique column —
    the id — so ranks are deterministic).  Stage 1 is exact-superset
    for any total order: a row in a group's global top-``cap`` is in
    the top-``cap`` of whichever shard it landed in, so the two-stage
    composition equals the single-window answer bit-for-bit.
    """
    # Tiny frame: only groups that actually exceed the cap.  The
    # census scan is column-pruned to the group column; checkpointing
    # stops the two broadcast joins below from each re-running it.
    hot = (
        staged.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(group_col)
        .localCheckpoint(eager=False)
    )

    # Under-cap groups keep everything — the corpus-sized frame takes
    # one broadcast anti-join and never shuffles.
    cold = staged.join(F.broadcast(hot), group_col, "left_anti")

    hot_rows = staged.join(F.broadcast(hot), group_col, "left_semi")
    shard = F.floor(
        uniform_hash(F.col(id_col), salt + "#shard") * F.lit(float(salts))
    ).cast("int")
    local = Window.partitionBy(group_col, "_s").orderBy(*order_cols)
    final = Window.partitionBy(group_col).orderBy(*order_cols)
    kept_hot = (
        hot_rows.withColumn("_s", shard)
        .withColumn("_rn", F.row_number().over(local))
        .filter(F.col("_rn") <= cap)
        .withColumn("_rn", F.row_number().over(final))
        .filter(F.col("_rn") <= cap)
        .drop("_s", "_rn")
    )
    return cold, kept_hot


def cap_per_group(
    df: DataFrame,
    cap: int,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    salts: int = 16,
    keep_hash: bool = False,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``group_col`` value.

    Kept rows are the ``cap`` smallest by ``(uniform_hash(id, salt),
    id)`` within each group — the deterministic, engine-portable
    analog of "random cap per domain".  Input columns pass through
    unchanged (plus ``_u`` when ``keep_hash=True``).

    ``salts`` bounds stage-1 window partitions to ~``n_group/salts``
    rows; size it so that fits one task comfortably (at 10^8-row hot
    hosts and 4M-row task budgets, ``salts=32``).  Exactness does not
    depend on ``salts``.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")

    staged = df.withColumn("_u", uniform_hash(F.col(id_col), salt))
    cold, kept_hot = _skew_safe_top(
        staged, cap, group_col, id_col, [F.col("_u"), F.col(id_col)],
        salt, salts,
    )
    out_cols = list(df.columns) + (["_u"] if keep_hash else [])
    return cold.select(*out_cols).unionByName(kept_hot.select(*out_cols))


def top_per_group(
    df: DataFrame,
    k: int,
    *,
    score_col: str = "score",
    group_col: str = "prompt_id",
    id_col: str = "doc_id",
    salts: int = 16,
) -> DataFrame:
    """Keep the ``k`` HIGHEST-``score_col`` rows per group — the
    rejection-sampling / best-of-N selection stage (keep the top-k
    scored completions per prompt; RFT-style pipelines train on them).

    Ranks on ``(round(score, 6) DESC, id ASC)`` — the 6-dp round makes
    the order engine-portable (distributed-sum / libm scores can
    differ in the last ulp, which would flip ranks at a tie), the
    unique id makes it total.  Input columns pass through unchanged.

    Scale shape: identical to :func:`cap_per_group` — a best-of-N
    sweep with one hot prompt (millions of scored completions on one
    key) never funnels into a single window task; the hot group goes
    through the salted two-stage superset selection, cold groups
    (n <= k) pass via one broadcast anti-join with no ordering work.
    Exact for any ``salts``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")

    staged = df.withColumn(
        "_s6", F.round(F.col(score_col).cast("double"), 6)
    )
    cold, kept_hot = _skew_safe_top(
        staged, k, group_col, id_col,
        [F.col("_s6").desc(), F.col(id_col)], "top", salts,
    )
    out_cols = list(df.columns)
    return cold.select(*out_cols).unionByName(kept_hot.select(*out_cols))


