"""SparkSession factory.

The reference pipeline hand-tunes parallelism with a process pool
(``/root/reference/dbfy.py:42,212-251``); here the equivalent knobs are
session-level SQL configs. Everything set below is also safe to apply to a
session we did not create (the driver hands us one), via :func:`configure`.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session we run queries on. These are
# deliberately all *dynamic* SQL confs (no static spark.* core confs) so they
# work on a shared/driver-owned session too.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp rendering regardless of host TZ; matches the
    # DuckDB oracle's naive (UTC) timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as epoch-nanos long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, convert to
    # broadcast joins when a side turns out small, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def env_int(name: str, default: int, *, lo: int, hi: int | None = None) -> int:
    """A deployment knob read from the environment variable ``name``
    (``default`` when unset): a value that is not an integer or is below
    ``lo`` raises a ValueError naming the variable, at import of the module
    that reads it; a value above ``hi`` is clamped to it."""
    raw = os.environ.get(name, str(default))
    try:
        n = int(raw)
    except ValueError:
        n = lo - 1
    if n < lo:
        raise ValueError(f"{name} must be an integer >= {lo}, got {raw!r}")
    return n if hi is None else min(n, hi)


# Partition-discovery strategy for multi-directory reads (the persisted
# index layouts here are 16-512 partition directories). Past this many
# paths Spark launches a distributed LISTING JOB — one tiny task per
# directory, measured 1.4-2.0s per read of a 512-dir index on local[32],
# paid by EVERY spark.read.parquet of an index root. Below it the driver
# lists with its own thread pool: ~0.17s for the same 512 dirs (μs-level
# metadata calls on local disk/HDFS NameNode). The job-based path only
# wins on high-latency object stores with tens of thousands of partitions,
# so the local default keeps listing driver-side and a deployment on s3a/
# abfs sets SPARK_GRAFT_LIST_JOB_THRESHOLD back down (e.g. to Spark's
# default 32) where the per-dir latency is ms, not μs. Validated at import:
# a bad value would otherwise reach spark.conf.set, whose error configure()
# swallows, silently leaving Spark's default of 32.
RUNTIME_CONFS["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(
    env_int("SPARK_GRAFT_LIST_JOB_THRESHOLD", 4096, lo=1)
)


def _cpu_budget() -> int:
    """The local core count ``SPARK_GRAFT_CPUS`` asks for: unset or ``*``
    means every core (``os.cpu_count()``, what :func:`get_session`'s
    ``local[*]`` takes), otherwise an integer >= 1; any other value raises
    a ValueError naming the variable, as :func:`env_int` does."""
    if os.environ.get("SPARK_GRAFT_CPUS", "*") == "*":
        return os.cpu_count() or 1
    return env_int("SPARK_GRAFT_CPUS", 1, lo=1)


# Two parallelism knobs with different consumers:
#  * shuffle.partitions is what STREAMING state uses (AQE is disabled in
#    stateful workloads, so this is the state-store count per micro-batch —
#    each store has fixed per-batch overhead). cores/4 keeps stores few at
#    local scale; on a real cluster set ~1-2x total cores.
#  * BATCH queries take their pre-coalesce width from AQE's
#    initialPartitionNum instead (2x cores here; ~2-3x total cores on a
#    cluster) and AQE coalesces down to the data, so batch parallelism is
#    unaffected by the small streaming value.
RUNTIME_CONFS["spark.sql.shuffle.partitions"] = str(max(8, _cpu_budget() // 4))
RUNTIME_CONFS["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
    2 * _cpu_budget()
)


_PYFILES_SHIPPED: set[str] = set()


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``wiki_mysql_spark`` importable on executor Python workers.

    Pandas-UDF / mapInPandas closures that reference module-level functions
    are cloudpickled BY REFERENCE, so the worker must be able to import this
    package — which it cannot when the driver process was started outside
    the repo (exactly how the round driver runs ``__spark_entry__``). Zip the
    package once per SparkContext and addPyFile it.
    """
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:
        return  # e.g. Spark Connect — no SparkContext handle
    if app_id in _PYFILES_SHIPPED:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"wiki_mysql_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"wiki_mysql_spark/{p.relative_to(pkg_dir)}")
    sc.addPyFile(zpath)
    _PYFILES_SHIPPED.add(app_id)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; never fail a query for it.
            pass
    _ship_package_to_workers(spark)
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, hpath)``: the Hadoop FileSystem resolved for ``path``'s
    scheme under the session's Hadoop configuration, and ``path`` as a
    Hadoop Path. Every file the engine writes or lists outside a Spark job
    (index headers, tombstones, listings, driver-written tables) goes
    through it, so it lands next to the Spark-written parquet on hdfs://
    and s3a:// paths too (os.path would only see local paths)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def get_session(app_name: str = "wiki_mysql_spark") -> SparkSession:
    """Build (or reuse) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle sizing comes from RUNTIME_CONFS: AQE's initialPartitionNum
    (2x cores) is the batch pre-coalesce width, while shuffle.partitions
    (cores/4) only governs streaming state-store count — see the comment on
    the confs above for the cluster-scale settings.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed layouts) go to a temp warehouse, not cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getpid()}"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
