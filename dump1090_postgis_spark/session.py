"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[N]``); on a real cluster the same settings remain sensible:
AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow on (fast pandas interchange for the few Pandas-UDF
operators), UTC session timezone (all reference timestamps are UTC
instants; local-time binning is explicit via convert_timezone).

``job_scope`` names the Spark jobs the package runs, so the event log,
the status store and the UI say which entry point launched each one.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

_JOB_DESCRIPTION = "spark.job.description"


def get_spark(
    app_name: str = "dump1090_postgis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from the environment so the
    same code runs under the bench harness (SPARK_GRAFT_CPUS) and on a
    cluster (where ``master`` is injected by spark-submit and must NOT
    be overridden here).
    """
    # Python workers (Pandas UDFs, applyInPandasWithState handlers)
    # must be able to import this package regardless of the driver's
    # cwd — prepend the repo root to PYTHONPATH before the JVM and
    # worker pool start.  On a real cluster, ship the package with
    # --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    # Pin BLAS to one thread per Python worker.  local[32] forks 32
    # pyspark.daemon workers, and each numpy import would otherwise
    # spin up a FULL-WIDTH OpenBLAS/OMP pool — 32×32 threads fighting
    # the kernel scheduler.  Large single GEMMs merely degrade, but a
    # kernel issuing MANY SMALL matmuls (the two-level centroid
    # search: ~√k tiny GEMMs per block) collapses entirely: observed
    # 97% SYSTEM time across all cores and zero task completions for
    # 40 min at ×30000.  The 32 workers already saturate the host;
    # intra-GEMM threading is pure contention.  Workers inherit the
    # daemon's env, so this must be set before the JVM starts.  On a
    # real cluster set these via spark.executorEnv.* instead.
    for _tv in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(_tv, "1")
    # Keep large numpy buffers on the reusable heap instead of fresh
    # mmaps: glibc's 128 KiB mmap threshold makes every multi-MiB
    # scratch block a mmap/munmap cycle, and under transparent huge
    # pages each re-fault zeroes 2 MiB in the kernel — measured 24.9M
    # THP faults and ~75% system time across 32 workers during the
    # two-level assignment (little compute per allocated byte to
    # amortize the zeroing).  Heap memory is zeroed once and reused.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))

    # transformWithState needs a google.protobuf runtime in the
    # driver AND every Python worker; workers inherit PYTHONPATH from
    # the JVM environment, so discovery must happen before getOrCreate.
    # No-op when protobuf is installed normally (the cluster case).
    from .streaming.pbcompat import prepare_env as _pb_prepare_env

    _pb_prepare_env()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # honor an externally-submitted master (the docstring contract:
        # spark-submit --master yarn must NOT be overridden here —
        # forcing local[N] would silently run the cluster job
        # single-node on the driver host).  SPARK_GRAFT_MASTER is the
        # explicit env override; a --master in PYSPARK_SUBMIT_ARGS
        # means spark-submit owns the setting and we leave it alone.
        master = os.environ.get("SPARK_GRAFT_MASTER")
        if master is None and "--master" not in os.environ.get(
            "PYSPARK_SUBMIT_ARGS", ""
        ):
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Raise WindowExecBase's logger to ERROR.

    Every unpartitioned window in this package is bounded by
    construction (post-LIMIT top-k pages, explicit copy selections,
    broadcast-class dims — each site documented in place) and their
    input cardinality is pinned by
    tests/test_plans.py::test_documented_global_windows_are_input_bounded.
    Left at WARN, those sites spray "No Partition Defined for Window
    operation" on every bench run, which would mask a REAL corpus-sized
    global window the day one regresses — the plan test is the guard
    now, so the log noise goes."""
    try:
        jvm = spark.sparkContext._jvm
        for cls in ("WindowExec", "WindowExecBase", "WindowGroupLimitExec"):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                f"org.apache.spark.sql.execution.window.{cls}",
                jvm.org.apache.logging.log4j.Level.ERROR,
            )
    except Exception:
        pass  # non-log4j2 deployments keep the (harmless) warning


@contextmanager
def job_scope(name: str):
    """Name every Spark job started inside the block (or the decorated
    call) ``<caller's description> / <name>``, or just ``name`` when the
    caller set none; the caller's description is restored on exit.

    Nested scopes therefore read as a path, and a ``setJobGroup``
    description stays the prefix.  Pool threads wrapped with
    ``pyspark.util.inheritable_thread_target`` inherit the path.  The
    description, not ``callSite.short``, carries the name: PySpark sets
    and clears the call site around every DataFrame action.  Costs one
    get and two sets of a local property; no job."""
    sc = SparkContext._active_spark_context
    if sc is None:
        yield
        return
    outer = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setLocalProperty(_JOB_DESCRIPTION, f"{outer} / {name}" if outer else name)
    try:
        yield
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, outer)
