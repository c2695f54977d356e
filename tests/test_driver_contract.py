"""The driver contract in ``__spark_entry__.py``, pinned without Spark.

``queries()`` and ``oracle_sql()`` are what the external driver runs and
hashes; their key order decides which queries a windowed driver sweep
records.  A change that only moves or re-registers queries leaves both
hashes below unchanged; adding, removing or reordering a query changes
them on purpose.
"""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as driver
from grass_spark.queries import DOMAINS, ORACLES, QUERIES

KEYS_SHA256 = "87121b46fdf6b6536bced5a882711f5954f781f4b5170a8d6fcbd7f5c0d1d293"
ORACLES_SHA256 = "538c73c18f99bf38f3154ff0ac797e7c9084328336f06c646f4d2a1396e7a3c0"


def _sha256(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_counts():
    assert len(driver.queries()) == 235
    assert len(driver.oracle_sql()) == 233


def test_rows_only_set():
    assert set(QUERIES) - set(ORACLES) == {"bpe_merges", "infer_granularity"}
    assert set(ORACLES) <= set(QUERIES)


def test_each_key_registers_once():
    keys = [k for mod in DOMAINS for k in mod.REGISTRY]
    assert len(keys) == len(set(keys)) == len(QUERIES)
    for mod in DOMAINS:
        for key, (query, sql) in mod.REGISTRY.items():
            assert callable(query), key
            assert sql is None or isinstance(sql, str), key


def test_priority_names_are_registered_once():
    # ``_ordered`` skips names it cannot find, so a misspelt entry would
    # silently drop out of the driver window.
    prio = driver._PRIORITY
    assert [k for k in prio if k not in QUERIES] == []
    assert len(prio) == len(set(prio))


def test_key_order_hash():
    assert _sha256(list(driver.queries())) == KEYS_SHA256


def test_oracle_sql_hash():
    assert _sha256(driver.oracle_sql()) == ORACLES_SHA256
