"""SparkSession factory with scale-oriented defaults.

The session is configured the way we would run on a 1000-executor
cluster: AQE on (runtime shuffle-partition coalescing + skew-join
splitting), Arrow on (vectorized pandas_udf transfer), UTC timezone
(deterministic timestamp semantics vs the DuckDB oracle).

Python workers start from this package's ``_daemon`` module
(``spark.python.daemon.module``). Under stock ``pyspark.daemon`` every
task re-reads the directory of ``pyspark.zip`` once per zip importer,
about 0.13 s of worker CPU a task on CPython 3.11 (see ``_daemon``);
the hook re-reads only an archive that changed. So workers must import the
package; the directory holding it is added to their ``PYTHONPATH``
(``spark.executorEnv.PYTHONPATH``, after any value the caller passes).
With ``spark.python.use.daemon=false`` the hook is unused.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dvdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    (the driver's harness contract) and fall back to local[*]/32.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("DVDB_DRIVER_MEM", "8g"))
        # list<float> embedding columns compress poorly with dictionary pages
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "distributedvectordatabase_spark._daemon")
    )
    extra = dict(extra_conf or {})
    pythonpath = [extra.pop("spark.executorEnv.PYTHONPATH", None), _PKG_PARENT]
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, pythonpath)))
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
