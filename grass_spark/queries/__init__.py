"""Driver-contract query library: engine queries + DuckDB oracle twins.

Each entry in :data:`QUERIES` is a callable ``(spark, sf_dir) -> DataFrame``
exercising one operator family from SURVEY.md §2 over the driver's
parquet tables; :data:`ORACLES` holds the equivalent ANSI SQL DuckDB
runs on the same tables.  Column names and types are aligned on both
sides (the driver hashes values after sorting columns by name).

The queries live in one module per domain (:mod:`.temporal`,
:mod:`.algebra`, :mod:`.corpus`, :mod:`.retrieval`, :mod:`.events`,
:mod:`.analytics`).  Each module's ``REGISTRY`` maps a key to
``(query, oracle_sql)``, once per key; the oracle is ``None`` for the
rows-only ``infer_granularity`` and ``bpe_merges`` (granularity
inference and the per-round BPE argmax are iterative, not one SQL
query).

Parity rules applied throughout (found by probing duckdb 1.0):

* every floating aggregate is ``round(x, 6)`` on BOTH sides — Spark's
  partial aggregation sums in a different order than DuckDB's serial
  sum, so raw doubles can differ in the last ulp;
* DuckDB ``sum(BIGINT)`` returns HUGEINT → explicit CASTs keep schemas
  aligned;
* DuckDB ``skewness``/``kurtosis`` are *sample*-normalized, GRASS's are
  population (``lib/stats/c_skew.c:43-45``) → the oracle composes the
  population formula from power sums instead;
* mode tie-breaks to the smallest value (``lib/stats/c_mode.c:5-37``):
  Spark ``mode(x, true)``; DuckDB via ordered-list-first trick;
* quantiles are Hyndman-Fan type 7 (``lib/stats/c_percentile.c:21-27``):
  Spark exact ``percentile`` == DuckDB ``quantile_cont``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from grass_spark.queries import algebra, analytics, corpus, events, retrieval, temporal

DOMAINS = (temporal, algebra, corpus, retrieval, events, analytics)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    key: query for mod in DOMAINS for key, (query, _) in mod.REGISTRY.items()
}
ORACLES: dict[str, str] = {
    key: sql
    for mod in DOMAINS
    for key, (_, sql) in mod.REGISTRY.items()
    if sql is not None
}
