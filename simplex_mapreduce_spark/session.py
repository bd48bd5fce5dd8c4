"""SparkSession construction and runtime configuration.

The reference engine's "cluster bring-up" (master RPC server + worker
registration, src/mapreduce.go:280-288, src/worker.go:59-91) maps to a
single ``SparkSession`` here — executors, scheduling, shuffle, and retry
are Spark-managed (SURVEY.md §2.1 O8-O14).

Two entry points:

- :func:`get_spark` — build our own tuned local session (tests, bench).
- :func:`apply_runtime_conf` — apply the runtime-settable confs we need
  to a session we did NOT build (the driver's).  Critical: the testdata
  parquet files carry ``TIMESTAMP(NANOS)`` columns which Spark refuses to
  read unless ``spark.sql.legacy.parquet.nanosAsLong`` is set.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that are safe to set on an already-running session.
RUNTIME_CONF = {
    # testdata timestamps are parquet TIMESTAMP(NANOS); read them as int64
    # epoch-nanos and convert explicitly (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow for Python UDTFs too (round-5): the table-function node then
    # executes as ArrowEvalPythonUDTF instead of pickle-row-batched
    # BatchEvalPythonUDTF, making the "Python only in Arrow-batched
    # form" plan invariant literally true (tests/test_plans.py sweep).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
}


# applications this process has already shipped the package zip to
_SHIPPED_APPS: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Any query that serializes a module-level function to workers
    (``MapReduceJob`` Map/Reduce closures, ``applyInPandas`` / ``mapInPandas`` /
    ``applyInPandasWithState`` callables) is pickled BY REFERENCE by
    cloudpickle: the worker re-imports ``simplex_mapreduce_spark``.  A
    foreign driver session whose PYTHONPATH / cwd does not include the
    repo root (the external driver imports ``__spark_entry__`` via
    ``sys.path`` surgery, which does NOT propagate to worker processes)
    would hit ``ModuleNotFoundError`` on every such query.  Shipping the
    package once per application makes the queries self-contained — the
    same mechanism (``--py-files``) a real cluster submit would use.
    """
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="smspark_pyfiles_"), "simplex_mapreduce_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "simplex_mapreduce_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # context shutting down; the next call retries
    else:
        _SHIPPED_APPS.add(app)


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a foreign session (idempotent),
    and make sure executor workers can import this package."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; leave the session as-is
    ensure_package_shipped(spark)
    return spark


def default_driver_memory() -> str:
    """About 60% of the box's physical memory (``MemTotal``), in MiB: a
    fixed 16g asks a 15 GB box for more heap than it has, and under load
    the JVM is then OOM-killed instead of spilling.  16g where
    ``/proc/meminfo`` is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "16g"
    return f"{kb * 6 // 10 // 1024}m"


def session_conf(
    cpus: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs :func:`get_spark` builds its session with; an explicit
    ``$SPARK_DRIVER_MEMORY`` or ``extra_conf`` entry wins over the
    defaults."""
    return {
        "spark.sql.shuffle.partitions": str(int(shuffle_partitions or cpus)),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY")
        or default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # testdata tables are single small parquet files; the default
        # 128 MiB split size would scan each on ONE core.  8 MiB keeps
        # local[32] busy at sf<=1 and is harmless at cluster scale where
        # files outnumber cores.
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        # one pass of the 13 headline queries generates 181 classes;
        # Spark's default cache of 100 evicts each before its next use,
        # so Janino recompiled all of them (190 compiles) every pass.
        # 256 is the smallest power of two at which a second pass
        # compiles nothing (sf0.01 and sf0.1).  Static: a session built
        # elsewhere keeps the default.
        "spark.sql.codegen.cache.maxEntries": "256",
        **RUNTIME_CONF,
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "simplex-mapreduce-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session sized like the driver's bench environment.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    ``shuffle_partitions`` defaults to the core count — measured right
    for sf<=1 on this box (a blanket 3x default was tried in round 7
    and cost 26% steady wall at sf0.1: AQE's parallelismFirst
    coalescing targets PARALLELISM, not per-task memory, so the extra
    partitions don't fold away for free).  The knob MUST scale with the
    deployment, though: the round-7 sf30 probe showed 45M-row window
    sorts spilling 4 GB at 32 partitions and not at 96
    (scale_bench.py --sf30 passes the scaled count explicitly and
    SCALING.json records both regimes); on a 1000-executor cluster this
    is 2-3x TOTAL cores, i.e. thousands.  The driver heap defaults to
    :func:`default_driver_memory`."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or 32)
    # local[N,2]: allow one task retry, mirroring the reference's
    # re-execute-on-failure scheduler (src/master.go:39-72) — local mode
    # defaults to maxFailures=1 (fail-fast), which would turn any
    # transient task error into a job failure.
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus},2]")
    for k, v in session_conf(cpus, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return apply_runtime_conf(builder.getOrCreate())
