"""SparkSession factory and runtime configuration.

The engine runs in two modes:

* self-hosted (tests, bench): :func:`get_spark` builds a local session
  with AQE and Arrow enabled.
* embedded (the correctness driver passes its own session): we may not
  rebuild the session, so :func:`configure` applies the *runtime*
  settables — most importantly ``spark.sql.legacy.parquet.nanosAsLong``
  (the driver testdata stores TIMESTAMP(NANOS) which Spark cannot read
  natively) and a pinned UTC session timezone so timestamp rendering is
  deterministic and matches the DuckDB oracle.

Scale posture: these defaults are tuned for local[N] testing, but the
knobs that matter at cluster scale (AQE, skew-join handling, partition
coalescing, Arrow batch size) are all on so the same plans re-optimize
at runtime when the data is 1000x larger.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, IllegalArgumentException
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import SparkSession

#: Conf entries safe to set on a live session (no restart needed).
_RUNTIME_CONFS: dict[str, str] = {
    # Driver testdata parquet uses INT64 TIMESTAMP(NANOS,false); Spark has
    # no nanosecond timestamp type, so read them as raw long nanos and
    # convert in the catalog layer (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics: all rendering/casting in UTC so
    # results match DuckDB's naive TIMESTAMP values.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing + skew-join
    # splitting; the key scale feature (re-plans per real stats).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Workers unpickle mapInPandas/UDF closures by importing their
    defining module — which fails when the driver process runs from a
    cwd that doesn't contain the package (the embedding harness does
    exactly that).  ``addPyFile`` distributes a zip of the package and
    prepends it to every worker's sys.path, independent of cwd.  A
    failed zip or ``addPyFile`` warns and leaves the session unmarked,
    so the next :func:`configure` retries."""
    sc = spark.sparkContext
    if getattr(sc, "_data_engineer_project_weather_analytics_spark_shipped", False):
        return
    try:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="data_engineer_project_weather_analytics_spark_")
        os.close(fd)
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        sc.addPyFile(zip_path)
    except (OSError, Py4JJavaError, CapturedException) as exc:
        # closures defined by-value still work; only module refs need this
        warnings.warn(
            f"could not ship the package to Spark workers: {exc}",
            RuntimeWarning,
            stacklevel=3,
        )
        return
    sc._data_engineer_project_weather_analytics_spark_shipped = True


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and cached: the catalog calls this per table load, and
    each ``conf.set`` is a py4j roundtrip — pure overhead after the
    first application."""
    if getattr(spark, "_data_engineer_project_weather_analytics_spark_configured", False):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except (AnalysisException, IllegalArgumentException) as exc:
            # Spark rejected the conf (static in this deployment, or an
            # invalid value): keep applying the rest, but say so — a
            # rejected nanosAsLong or UTC timezone changes every
            # timestamp result.
            warnings.warn(
                f"session conf {k}={v!r} was rejected: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
    _ship_package(spark)
    spark._data_engineer_project_weather_analytics_spark_configured = True
    return spark


def get_spark(
    app_name: str = "data_engineer_project_weather_analytics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a configured local SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores); ``shuffle_partitions`` defaults to the core count so local
    shuffles neither starve nor thrash — on a real cluster this is left
    to AQE's coalescing instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
