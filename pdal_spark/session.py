"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for every pandas-UDF
boundary, UTC session timezone so timestamp semantics match columnar
files and external oracles bit-for-bit.

Python workers start from ``pdal_spark._workerd`` instead of
``pyspark.daemon``. At the start of every task PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
Since Python 3.10 that makes every ``zipimport.zipimporter`` on the
worker's path re-read its archive's whole directory (a dozen importers
over ``pyspark.zip``, more over the py4j zip and the ``spark-core`` jar),
a fixed ~0.15 s per task before any row moves. The daemon makes
``zipimporter.invalidate_caches`` a no-op, the Python <= 3.9 behaviour.
That is safe because the archives on a worker's path do not change while
the worker lives, and a zip added later with ``addPyFile`` is a new path
whose importer reads its directory when it is created. ``FileFinder``
invalidation, which sees new plain files, is left as it is.

The daemon module is a static conf: a session built elsewhere and handed
in (``configure_session``) keeps the stock daemon and its per-task cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus or 32), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("PDAL_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    extra = dict(extra_conf or {})
    # the daemon module must import from any working directory
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = extra.pop("spark.executorEnv.PYTHONPATH", "")
    builder = (
        builder.config("spark.python.daemon.module", "pdal_spark._workerd")
        .config("spark.executorEnv.PYTHONPATH",
                os.pathsep.join(p for p in (root, pythonpath) if p))
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-created session.

    Used when the driver hands us a session (``__spark_entry__.entry``):
    only touches confs that are safe to set at runtime.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # some confs may be fixed by the driver; never fail on tuning
    return spark


def ensure_min_partitions(df):
    """Repartition up to the session's default parallelism when the
    input plan has FEWER partitions — a small-input artifact guard for
    compute-dense map phases (shingling, n-gram explodes): a 100 TB
    table arrives in thousands of scan splits and this is a no-op; a
    one-split bench file would otherwise run its whole pre-exchange
    phase on one core. The round-robin exchange carries only the raw
    input rows (pre-explode), the cheapest place to pay it."""
    try:
        want = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < want:
            return df.repartition(want)
    except Exception:
        pass
    return df
