"""SparkSession factory with scale-oriented defaults.

All defaults target correctness-at-scale: UTC session time (parity with the
DuckDB oracle on naive parquet timestamps), AQE on (runtime coalesce, skew-join
splitting, broadcast demotion), and Arrow for the pandas bridge used by the
ndarray materialization path.

Python workers: Spark starts its Python workers through
``bioio_spark.worker_daemon`` (``spark.python.daemon.module``, a fixed
default, not a user option). On CPython < 3.12 every Python task re-reads
the central directory of pyspark.zip once per imported subpackage, because
``importlib.invalidate_caches()`` runs at task start and zipimport re-reads
eagerly there (made lazy in 3.12, gh-103200). That floor costs 0.25-0.5
CPU-s per task; the daemon re-reads an archive only when it changed, a
guard it installs only on CPython < 3.12. For a local master the package's
parent directory is put on the workers' ``PYTHONPATH``, ahead of any entries
the caller passes, so the daemon and every reader closure import the
package whatever directory launched the session; on a cluster the package
must be installed on the executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the bioio_spark package
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

# Defaults chosen for the local[N] harness; on a real cluster, shuffle
# partitions are governed by AQE (advisory target) rather than a fixed count.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # opt-in for pushFilters on Python DataSources (the bioio_raw reader
    # prunes plane-file partitions from pushed predicates)
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate re-derives `size(arr) > 0` filters ahead of
    # explode() and pushes them below projections with full expression
    # substitution — for computed arrays (shingles) that re-evaluates the
    # whole lambda per row in the scan filter (measured 3-7x slowdowns).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # both fixture vintages of events.ts readable: TIMESTAMP(NANOS) arrives
    # as a raw long (converted in queries/base.load), MICROS natively
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.python.daemon.module": "bioio_spark.worker_daemon",
}


def get_session(app_name: str = "bioio_spark", master: str | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The driver harness constructs its own SparkSession; queries route through
    this so timezone/AQE parity holds regardless of who built the session.
    Memoized per session object: query hot paths (load, read_event_stream)
    call this on every invocation, and repeated conf.set calls both cost RPC
    round trips and can invalidate planner caches mid-session.

    Only SQL conf is applied here. An externally built session does not get
    the worker daemon or the workers' PYTHONPATH from ``get_session``:
    ``spark.python.daemon.module`` and ``spark.executorEnv.*`` are static,
    read once when the SparkContext starts.
    """
    if getattr(spark, "_bioio_conf_applied", False):
        return spark
    for k in ("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
              "spark.sql.execution.arrow.pyspark.enabled",
              "spark.sql.optimizer.excludedRules",
              "spark.sql.legacy.parquet.nanosAsLong"):
        try:
            spark.conf.set(k, _DEFAULTS[k])
        except Exception:
            pass  # conf may be non-runtime-settable in some deployments
    try:
        spark._bioio_conf_applied = True
    except Exception:
        pass  # exotic session proxies may reject attributes; just re-apply
    return spark
