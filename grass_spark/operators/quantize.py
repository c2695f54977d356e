"""Int8 embedding quantization for ANN storage.

Per-vector symmetric scalar quantization: ``scale = max|x| / 127``,
``q_i = round(x_i / scale)`` in [-127, 127].  The standard 4×
storage/bandwidth reduction for embedding indexes (FAISS SQ8 shape) —
at 100 TB the embedding column is the dominant ANN cost and int8 is
the first lever.  Dequantized cosine error stays small because the
vectors are per-vector scaled (no global clipping).

Scale shape: pure scan-stage higher-order functions — zero shuffles,
zero Python, fully codegen'd.

HOF-capture discipline (CLAUDE.md): a derived expression captured as
a free variable inside a ``transform`` lambda re-evaluates PER ELEMENT
(CollapseProject inlines it) — capturing ``scale`` in the quantizer
lambda would recompute ``array_max`` 64× per row.  So the scale enters
element space as an ``array_repeat`` ARGUMENT array (evaluated once
per row) and every lambda below touches only its own parameters.

Cross-engine parity: floats cast to double before any arithmetic
(DuckDB promotes FLOAT[] element math to double; Spark float math
stays float and drifts), and both engines' ``round`` ties away from
zero on doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame, *, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, dims, scale, qvec, mean_abs_err) — int8-ready vectors.

    ``scale`` rounds to 6 dp AND the quantizer divides by the rounded
    scale, so the stored (scale, qvec) pair is exactly reproducible
    from the table alone in any engine.  All-zero vectors get scale 0
    and an all-zero qvec (dequantize is exact).  ``mean_abs_err`` is
    the per-vector mean |x - q*scale| (rounded 6 dp) — the audit
    column for an index-build quality gate.
    """
    xs = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    d = df.select(id_col, xs.alias("_xs")).withColumn(
        "scale",
        F.round(
            F.array_max(F.transform(F.col("_xs"), F.abs)) / F.lit(127.0), 6
        ),
    )
    # scale broadcast into element space ONCE per row (argument array,
    # not a lambda capture)
    d = d.withColumn(
        "_sarr", F.array_repeat(F.col("scale"), F.size("_xs"))
    ).withColumn(
        "qvec",
        F.zip_with(
            "_xs",
            "_sarr",
            lambda x, s: F.when(s == 0.0, F.lit(0))
            .otherwise(F.round(x / s))
            .cast("int"),
        ),
    )
    err = F.aggregate(
        F.zip_with(
            F.zip_with(
                "qvec", "_sarr", lambda qi, s: qi.cast("double") * s
            ),
            F.col("_xs"),
            lambda deq, x: F.abs(x - deq),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    ) / F.size("_xs")
    return d.select(
        id_col,
        F.size("_xs").alias("dims"),
        "scale",
        "qvec",
        F.round(err, 6).alias("mean_abs_err"),
    )


