"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode for tests/bench (`local[N]`), but every knob here is chosen
for the 1000-executor case: AQE on (runtime re-plan + skew-join
backstop for hot cells), Arrow for all pandas-UDF traffic, shuffle
partitions sized to cores locally (cluster deploys override via
spark-submit conf). Local defaults come from the host: the cores the
process may use and a share of physical RAM for the driver heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default driver heap as a share of physical RAM: the JVM's own default
# (MaxRAMPercentage=25), leaving the rest to Python workers, off-heap
# buffers and the page cache. SPARK_GRAFT_DRIVER_MEM overrides it.
DRIVER_MEM_FRACTION = 0.25
# Largest LIMIT planned as a top-k (TakeOrderedAndProject). Its buffer
# is sized by the limit, so a caller-supplied k of 10^9 would reserve
# gigabytes; above this bound Spark plans a sort plus limit instead.
TOPK_SORT_FALLBACK_ROWS = 1_000_000


def default_cpus() -> int:
    """SPARK_GRAFT_CPUS if set, else the cores this process may run on
    (its CPU affinity), not the machine's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    cpus: int | None = None,
    app: str = "geo-import-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{max(int(ram * DRIVER_MEM_FRACTION) >> 20, 1024)}m"
    )
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    # Real-cluster override: SPARK_GRAFT_MASTER=yarn|spark://... makes
    # every entry point (bench.py, run_job.py, tests) submit against a
    # genuine multi-executor master; executor count/size then come
    # from spark-submit flags (--num-executors etc.), and `cpus` only
    # sizes shuffle partitions + GC threads. Unset = local[cpus].
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.execution.topKSortFallbackThreshold", str(TOPK_SORT_FALLBACK_ROWS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # GC threads default to the MACHINE's core count (32 here) —
        # a local[2] job would still spawn 32 parallel GC threads,
        # fighting the task threads for the VM's real capacity. Pin
        # them to the job's width. NOTE: this conf only takes effect
        # when the driver JVM is launched from Python; under
        # spark-submit the JVM already exists, so the submit scripts
        # (scripts/resume_demo.sh) pass --driver-java-options too.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={max(cpus, 2)} -XX:ConcGCThreads={max(cpus // 2, 1)}",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files geo_import_spark.zip`).
    Without this, pandas UDFs that close over package functions fail
    with ModuleNotFoundError on any worker whose sys.path lacks the
    repo root.

    Shipped ONCE per SparkContext: getOrCreate() returns the live
    session, and re-zipping on every get_spark() call re-adds a file
    Spark compares byte-for-byte against the first copy — if the
    package on disk changed meanwhile (an edit during a long test
    run), every subsequent job dies with "exists and does not match
    contents". The guard pins the session to the package snapshot it
    started with, which is also the correct semantics: a running
    cluster never hot-swaps its code."""
    import shutil
    import tempfile

    import geo_import_spark

    sc = spark.sparkContext
    if getattr(sc, "_geo_import_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(geo_import_spark.__file__))
    root = os.path.dirname(pkg_dir)
    base = os.path.join(tempfile.mkdtemp(prefix="geo_import_spark_py_"), "geo_import_spark")
    zip_path = shutil.make_archive(base, "zip", root_dir=root, base_dir="geo_import_spark")
    sc.addPyFile(zip_path)
    sc._geo_import_spark_shipped = True
