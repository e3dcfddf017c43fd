"""SparkSession factory.

The reference executes eagerly in single-threaded pandas with no tuning
surface (fotmob-dag.py:95-165).  Here every session is configured for a
multi-executor deployment even when running local[*]:

* AQE on — runtime shuffle-partition coalescing + skew-join splitting, so
  plans written at sf0.01 survive a 100x scale-up without re-tuning.
* Explicit shuffle partition count (overridable) — sized for the local
  test harness; a real cluster deployment would set this (or rely on AQE
  initialNum) to ~2-3x total cores.
* UTC session timezone — deterministic timestamp semantics vs the oracle.
* Arrow enabled — vectorized pandas interchange for the Pandas-UDF paths.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fotmobdatapipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning: on selective fact<->dim
        # shuffle joins, build a bloom of the filtered side's keys and
        # push might_contain() into the fact scan.  Size thresholds mean
        # it only fires at real scale (creation side >= 10 MB), which is
        # exactly when it pays; tests/test_plan_shapes.py pins the
        # injection with thresholds overridden.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Codegen cache (static conf, one cache per JVM, default 100
        # entries in 4 LRU segments).  Measured at local[2]: one pass of
        # the benchmark's shots_etl workload generated 101 distinct
        # classes and one of llm_data 123; at the default, 35 and 64 of
        # them were evicted and compiled again by Janino (and then by
        # the JIT) on every warm pass.  At 1024 a warm pass compiles 0.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_PKG_ZIP: str | None = None  # this process's package zip, built on first use
_PKG_ZIP_LOCK = threading.Lock()


def _package_zip() -> str:
    """Zip this package's sources once per process, into one temp
    directory removed at interpreter exit; later calls (and later
    sessions) reuse the same zip."""
    global _PKG_ZIP
    with _PKG_ZIP_LOCK:
        if _PKG_ZIP is not None:
            return _PKG_ZIP
        import atexit
        import shutil
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        tmp_dir = tempfile.mkdtemp(prefix="fotmob_pkg_")
        atexit.register(shutil.rmtree, tmp_dir, ignore_errors=True)
        zip_path = os.path.join(tmp_dir, "fotmobdatapipeline_spark.zip")
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            "fotmobdatapipeline_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PKG_ZIP = zip_path
        return zip_path


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver's cwd/sys.path: addPyFile a zip of it.  Required for any
    operator that crosses into Python workers (mapInPandas,
    applyInPandasWithState) — cloudpickle serializes module-level
    functions by reference, so workers must be able to import us.
    Idempotent per session; the zip is built once per process and
    shared by every session (see :func:`_package_zip`)."""
    sc = spark.sparkContext
    if getattr(sc, "_fotmob_pkg_shipped", False):
        return
    sc.addPyFile(_package_zip())
    sc._fotmob_pkg_shipped = True


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine settings to an externally-created session (the driver
    hands us one in ``entry(spark)``); only runtime-settable confs.  The
    static confs of :func:`get_spark`, such as the codegen cache size,
    are fixed when the session's JVM starts and cannot be set here."""
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the driver — keep going
    return spark
