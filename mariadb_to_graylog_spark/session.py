"""SparkSession factory tuned for this engine.

Scale notes (the settings below are chosen for a 1000-executor cluster and
merely *sized down* for local[N] testing):

* AQE on: runtime coalescing + skew-join splitting covers the long tail of
  skew that static planning can't see.
* Arrow on: every pandas UDF crosses the JVM<->Python boundary in columnar
  Arrow batches, never row-at-a-time (the reference forks a subprocess per
  slow-log entry, mariadb-log-consumer.py:864-865 -- the anti-pattern this
  engine exists to remove).
* Session timezone pinned to UTC: the reference parses timestamps with
  local-time mktime (mariadb-log-consumer.py:659,676), which is
  host-dependent; we pin UTC so results are reproducible and match the
  DuckDB oracle.
* ANSI off: the reference is a permissive parser (malformed input becomes
  NULL / continuation rows, never an error); try_-style null-on-error cast
  semantics match it.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_PACKAGE_ROOT = Path(__file__).resolve().parent.parent
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "mariadb_to_graylog_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); defaults to the
    ``SPARK_GRAFT_CPUS`` env var or ``*``.  On a real cluster this factory is
    bypassed by ``spark-submit`` conf; nothing here assumes local mode except
    the master URL default.

    Python workers get the package root on their ``PYTHONPATH`` (see
    ``get_or_create``).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_threads = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n_threads = cpus

    if shuffle_partitions is None:
        # ~1 partition per core locally; on a cluster this is set per-job
        # (AQE coalesces the excess anyway).
        shuffle_partitions = max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = get_or_create(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_or_create(builder: SparkSession.Builder) -> SparkSession:
    """``builder.getOrCreate()`` with the package root first on the Python
    workers' ``PYTHONPATH`` (the local-mode ``--py-files``), merged with --
    never replacing -- any value the builder, ``spark-submit --conf`` or
    spark-defaults.conf set.  Reading the launcher's value needs the JVM,
    so the gateway starts here with the builder's options (driver memory
    is fixed at launch) or attaches to spark-submit's."""
    SparkContext._ensure_initialized(conf=SparkConf().setAll(builder._options.items()))
    key = _WORKER_PATH_KEY
    configured = os.pathsep.join([builder._options.get(key, ""), SparkConf().get(key, "")])
    paths = [str(_PACKAGE_ROOT), *configured.split(os.pathsep)]
    merged = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    return builder.config(key, merged).getOrCreate()
