"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalesce + skew-join backstop), Arrow
on (every scoring kernel is a pandas UDF), UTC session timezone (oracle
comparisons against DuckDB are TZ-naive).

On a real cluster the same builder is used via ``spark-submit --py-files``;
only ``master`` / memory change (see README "Deploy").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_cpus() -> int:
    """Local parallelism when the caller names none: ``SPARK_GRAFT_CPUS``
    if set, else the CPUs this process may run on (its affinity set,
    not the host's count).

    At 10^12 docs the build shuffles by (term-bucket, salt); this
    default is for local runs only — cluster runs set
    spark.sql.shuffle.partitions ~ 2-3x total cores via spark-submit
    conf."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def get_spark(
    app_name: str = "sequential_query_expansion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[default_cpus()]`` and
    ``shuffle_partitions`` to ``default_cpus()``, so ``SPARK_GRAFT_CPUS``
    pins local parallelism (``bench.py --scaling`` runs the same build
    at N and 4N cores that way).
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def job_spark(app_name: str) -> SparkSession:
    """The session a job runs in: the active one when there is one
    (spark-submit's, or a caller's), else :func:`get_spark`. The active
    session comes first because ``getOrCreate`` on a live session would
    overwrite the ``spark.sql.shuffle.partitions`` spark-submit set."""
    return SparkSession.getActiveSession() or get_spark(app_name)


def read_input(spark: SparkSession, name: str) -> DataFrame:
    """A job's input: a parquet path when ``name`` contains ``/`` or ends
    in ``.parquet``, otherwise a metastore table. The rule looks only at
    the string, never at the driver's local filesystem, so it reads the
    same on every default filesystem."""
    if "/" in name or name.endswith(".parquet"):
        return spark.read.parquet(name)
    return spark.read.table(name)
