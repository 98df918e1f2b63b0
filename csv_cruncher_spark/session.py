"""SparkSession factory with scale-appropriate defaults.

Local mode here is a stand-in for a multi-executor cluster; every config is
one that also makes sense at 1000 executors (AQE, skew-join handling, Arrow
batching, UTC session time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_UNIT_SHIFT = {"b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def conf_bytes(value: str) -> int:
    """Bytes in a Spark byte-size conf value: a number with an optional
    unit, spelled as Spark accepts it ('134217728b', '134217728', '128m',
    '128mb', '1g', '1gb')."""
    s = str(value).strip().lower()
    if len(s) > 1 and s[-1] == "b" and s[-2] in _UNIT_SHIFT:
        s = s[:-1]  # 'mb' → 'm'
    if s and s[-1] in _UNIT_SHIFT:
        return int(float(s[:-1]) * (1 << _UNIT_SHIFT[s[-1]]))
    return int(float(s))


def get_spark(
    app_name: str = "csv-cruncher-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to $SPARK_GRAFT_MASTER, else local[$SPARK_GRAFT_CPUS],
    else local[*]. shuffle_partitions defaults to the core count of the
    master (local mode) — at cluster scale this would be set to a multiple
    of total executor cores instead of Spark's legacy default of 200.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            if inner == "*":
                shuffle_partitions = os.cpu_count() or 8
            else:
                shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 200

    # Make the package importable in executor Python workers no matter the
    # driver cwd. On a real cluster this is `spark-submit --py-files
    # csv_cruncher_spark.zip`; locally the env var reaches the forked
    # workers directly.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in worker_pp.split(os.pathsep):
        worker_pp = f"{pkg_root}{os.pathsep}{worker_pp}" if worker_pp else pkg_root

    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
