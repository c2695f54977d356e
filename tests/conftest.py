from __future__ import annotations

import os
import stat
import sys

import pytest

from grass_spark.session import get_spark


def _worker_python(bin_dir) -> str:
    """An interpreter wrapper for the session's Python workers.

    Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and
    the spark-core jar first on every worker's PYTHONPATH, and the
    worker calls ``importlib.invalidate_caches()`` before each task.
    Under CPython < 3.13 that makes every cached zipimporter re-read its
    archive's whole directory: about 0.3 CPU-s per task for the ~16
    importers a worker holds, paid by each of the thousands of tiny
    Python tasks the suite runs.  The wrapper drops the archives from
    PYTHONPATH, so workers import the same pyspark and py4j from
    site-packages, where the cache reset is cheap.
    """
    path = bin_dir / "python"
    path.write_text(
        "#!/bin/sh\n"
        "PYTHONPATH=$(printf '%s' \"$PYTHONPATH\" | tr ':' '\\n'"
        " | grep -vE '[.](zip|jar)$' | paste -sd: -)\n"
        "export PYTHONPATH\n"
        f'exec "{sys.executable}" "$@"\n'
    )
    path.chmod(path.stat().st_mode | stat.S_IXUSR)
    return str(path)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ["PYSPARK_PYTHON"] = _worker_python(
        tmp_path_factory.mktemp("worker_bin")
    )
    s = get_spark(
        "grass_spark_tests", cores=4, shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/grass_spark_test_warehouse"},
    )
    yield s
