"""SparkSession construction with scale-appropriate defaults.

The engine targets large clusters (100 TB-class inputs) but is tested on
``local[N]``.  Every setting below is chosen so the *same* logical plans scale:
AQE re-plans shuffles at runtime, skew-join handling splits hot partitions,
and Arrow keeps any unavoidable Python boundary vectorized.

Sessions built by :func:`get_spark` also run their Python workers under
:mod:`.worker_daemon`, set as ``spark.python.daemon.module``.  Spark's
worker re-reads the directory of every zip archive on its path (the Spark
core jar, ``pyspark.zip``) before each task; that daemon skips the re-read
while an archive's file stamp is unchanged, which saves tens of
milliseconds per Python task.  The package root is prepended to
``spark.executorEnv.PYTHONPATH`` so the daemon and engine code pickled into
UDFs import from any working directory.  The daemon module is a static
conf: a session whose SparkContext existed before ``get_spark`` ran, or a
plain session the engine did not build, keeps Spark's stock daemon.  Where
executors cannot import the package from that root, every Python task fails
at daemon launch; ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}`` restores the stock daemon.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# All confs here are runtime-settable; `ensure_runtime_confs` applies them to
# sessions we did not build (e.g. the verification driver's own session).
# nanosAsLong: some testdata generations ship events.ts as parquet
# TIMESTAMP(NANOS), which Spark only reads via this legacy flag (as raw
# nanosecond longs); catalog.ts_micros adapts to whichever encoding arrives.
# session.timeZone pinned UTC: TIMESTAMP_NTZ→TIMESTAMP casts and epoch
# extraction must be wall-clock-identity regardless of host timezone.
# autoBroadcastJoinThreshold at 64 MiB: vocabulary- and node-sized
# aggregates (e.g. the shingle document-frequency table) broadcast into
# their joins on every session, not only on sessions get_spark built.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime-settable: keeps toPandas/createDataFrame vectorized on sessions
    # we did not build (the verification driver's plain session)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}
# Results shift silently without these two, so failing to set them is fatal.
_CRITICAL_CONFS = frozenset(
    {"spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"}
)

# Static confs, so only sessions get_spark builds carry them (module docstring).
_DAEMON_MODULE = f"{__package__}.worker_daemon"
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine relies on to an existing session.

    A conf the host refuses raises for the correctness-critical keys and
    warns for the rest (those only cost speed)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if k in _CRITICAL_CONFS:
                raise RuntimeError(f"cannot set {k}={v}: {exc}") from exc
            warnings.warn(f"cannot set {k}={v}: {exc}", RuntimeWarning, stacklevel=2)
    return spark


def get_spark(
    app_name: str = "data-wrangling-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract); on a
    real cluster ``master`` is left to spark-submit.  ``extra_conf`` entries
    are applied last and win over the defaults; a
    ``spark.executorEnv.PYTHONPATH`` entry there is kept, after the
    package root.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    conf = {"spark.python.daemon.module": _DAEMON_MODULE, **(extra_conf or {})}
    conf[_WORKER_PATH_KEY] = os.pathsep.join(
        filter(None, (_PACKAGE_ROOT, conf.get(_WORKER_PATH_KEY)))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER") is None and "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return ensure_runtime_confs(builder.getOrCreate())
