"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster:
- AQE on (runtime coalesce, skew-join splitting) — the reference handles
  skew/caching by hand (/root/reference/server/routes/sessions.py:284-414
  canonical-key dedup); we delegate to AQE + explicit salting.
- shuffle partitions sized to cores, not the 200 default.
- Arrow enabled: every Python-side stage is a vectorized pandas UDF.
- UTC session timezone so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def zip_package(zpath: str) -> str:
    """Write every ``.py`` file of ``cyclegraph_spark`` into the zip at
    ``zpath`` (paths relative to the package's parent, the layout
    ``--py-files`` / ``addPyFile`` import from) and return ``zpath``."""
    import cyclegraph_spark

    pkg_dir = os.path.dirname(os.path.abspath(cyclegraph_spark.__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Ship ``cyclegraph_spark`` to executors (the --py-files discipline).

    Our pandas UDFs are module-level functions; executor Python processes
    must be able to import the package when unpickling them. On a real
    cluster this is ``spark-submit --py-files cyclegraph_spark.zip``;
    for an externally-created SparkSession (the driver harness) we zip
    the package once and ``addPyFile`` it. Idempotent per session.
    """
    if spark.conf.get("cyclegraph.shipped", "no") == "yes":
        return
    import cyclegraph_spark

    zpath = os.path.join(
        tempfile.gettempdir(), f"cyclegraph_spark_{cyclegraph_spark.__version__}.zip"
    )
    spark.sparkContext.addPyFile(zip_package(zpath))
    spark.conf.set("cyclegraph.shipped", "yes")


def get_spark(
    app_name: str = "cyclegraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster these settings ride along unchanged; only ``master``
    and memory sizing differ (spark-submit provides those).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nparts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
