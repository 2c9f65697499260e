"""SparkSession factory with engine-pinned configuration.

Single place where execution-relevant Spark configs are chosen so every
entry point (tests, bench, driver contract) runs with identical semantics:

- AQE on (runtime coalesce + skew-join handling) — at 100 TB the static
  shuffle-partition count is always wrong somewhere; AQE re-plans per stage.
- ``spark.sql.session.timeZone=UTC`` — required for bit-parity between Spark
  timestamps and the DuckDB oracle (which is UTC-naive).
- Arrow enabled — every pandas interchange (``applyInPandas``/``mapInPandas``
  and ``toPandas``) goes through columnar Arrow batches, not pickled rows.
- ``shuffle.partitions`` sized to cores for local runs; on a real cluster this
  is overridden (see ``tuned_conf_for_scale``).
- The JVM-wide cache of compiled generated classes holds
  ``CODEGEN_CACHE_ENTRIES`` classes, not Spark's default 100. One execution
  of ``curation_end_to_end`` compiles 169 distinct classes. A cache smaller
  than an execution's working set evicts each class before its next use, so
  every warm execution recompiled ~164 of them (0.6-1.0 s of Janino time)
  and the JIT never warmed the fresh classes. Thrash shows as a warm
  execution with a non-zero ``codegen_compiles`` delta.

A query names its own phases with :func:`phase`, so a job census
(``tools/measure.py census``) can split an execution's jobs by phase.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "wafer-defect-data-pipeline-spark"

#: ``spark.sql.codegen.cache.maxEntries``: the smallest round number at
#: least twice the largest per-execution class census (222 distinct classes,
#: ``similarity_ann_dispatch_redecide`` at sf0.1; CHANGES.md has the census).
#: ~8 KiB of metaspace per cached class. A static conf: it takes effect only
#: in the session that starts the JVM.
CODEGEN_CACHE_ENTRIES = 500

#: the Spark local property :func:`phase` sets; every job submitted under it
#: carries it in its ``SparkListenerJobStart`` properties
PHASE_PROPERTY = "wdps.phase"

#: the directory the package is imported from (its parent)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    """Local-mode thread count, overridable by the driver via SPARK_GRAFT_CPUS."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 4


def engine_conf(parallelism: int | None = None) -> dict[str, str]:
    """The pinned config dict (applied to new sessions, asserted by tests)."""
    p = parallelism or default_parallelism()
    return {
        "spark.sql.shuffle.partitions": str(p),
        "spark.default.parallelism": str(p),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # small-dim broadcast threshold: region/nation/supplier/part always fit
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        # driver's events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type, so read as long and convert at the source layer
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.sql.execution.pyspark.udf.faulthandler.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """``(count, ms)``: generated classes Janino has compiled in this JVM so
    far, and the time it took. Every compile is a miss of the codegen cache;
    the difference of two readings is what ran in between compiled, so a
    warm re-execution that fits the cache reads ``(0, 0.0)``."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), ns / 1e6


@contextmanager
def phase(spark: SparkSession, name: str):
    """Tag every job the block submits (from this thread) with ``name``.

    A local property, not the job group: a caller such as perfbench's span
    tracer owns the job group of the same jobs. The caller's value (or its
    absence) is back in place when the block returns or raises."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty(PHASE_PROPERTY)
    sc.setLocalProperty(PHASE_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(PHASE_PROPERTY, outer)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    parallelism: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine SparkSession, or return the active one as it is.

    An active session keeps its own confs: re-applying ``engine_conf``
    through the builder would overwrite the runtime confs its owner chose
    (a host at ``shuffle.partitions=8`` would read the cpu count after
    ``cli.main``), and the static ones cannot change anyway.

    In local mode one JVM hosts driver+executors, so ``spark.driver.memory``
    is the only heap knob; it must be set before JVM start, hence here.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    p = parallelism or default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{p}]")
    for k, v in engine_conf(p).items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    conf = dict(extra_conf or {})
    # Arrow kernels are pickled by reference to this package's modules, so
    # the Python workers must import it from wherever the driver started
    worker_path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, worker_path) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tuned_conf_for_scale(total_input_bytes: int, executor_mem_bytes: int = 8 << 30) -> dict[str, str]:
    """Config deltas for a real multi-executor cluster at a given input size.

    Partition-count discipline (SURVEY.md §7.7): target ~128 MiB of input per
    shuffle partition post-compression-expansion, bounded so each task's
    working set fits the executor memory with headroom for sort spill.
    At 100 TB this yields ~800k shuffle partitions — far beyond the default
    200, which would OOM; AQE then coalesces the small ones at runtime.
    """
    target_bytes_per_partition = 128 << 20
    n = max(64, total_input_bytes // target_bytes_per_partition)
    return {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.files.maxPartitionBytes": str(target_bytes_per_partition),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 << 20),
    }
