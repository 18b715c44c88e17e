"""SparkSession factory with engine defaults.

Defaults target correctness-compare against a UTC-naive oracle
(session timezone pinned to UTC) and sane local parallelism; on a real
cluster the same settings hold except parallelism, which should track
cluster cores (AQE coalescing makes the initial shuffle-partition
count forgiving).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Upper bound of the default driver heap.
DRIVER_MEMORY_MAX_MB = 32 * 1024


def default_driver_memory() -> str:
    """The default ``spark.driver.memory``: 32 GB, or three quarters of
    the box's physical RAM where that is less, so the local-mode heap
    (driver and executors in one JVM) can never be sized past the
    machine. ``SPARK_DRIVER_MEMORY`` overrides it in :func:`get_spark`."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf, or no such name
        return f"{DRIVER_MEMORY_MAX_MB}m"
    return f"{min(DRIVER_MEMORY_MAX_MB, phys * 3 // 4 // 2**20)}m"


def get_spark(
    app_name: str = "sressentials_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local core count. AQE is on so
    shuffle partition counts self-tune at runtime; Arrow is on for the
    few Pandas-UDF operators (multimodal, line numbering).
    """
    # Python workers (Pandas-UDF operators) must be able to import this
    # package regardless of the driver's cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Single-node latency: medium-sized single log files must still
        # fan out across local cores (a 30 MB file under the 128 MB
        # default is ONE task). On a 1000-executor cluster over many
        # files, raise this back toward 128 MB via the env override.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Read TIMESTAMP(NANOS) parquet (unsupported by Spark's reader)
        # as epoch-nanos longs; sources.tables converts them back to
        # timestamps (testdata is µs-exact, so the cast is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # upper/lower use the JVM's case mappings, not ICU's: the first
        # ICU call in a JVM initialises CollationAwareUTF8String, whose
        # static initialiser title-cases all 1,114,112 code points (~1.7 s
        # of CPU on one task while the stage's other tasks wait on the
        # class-init lock), and a one-shot CLI run pays it every time.
        # Both follow the JVM default locale; SCALING.md ("Global
        # posture") has the Unicode-version trade.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        # Many distinct query plans per session → lots of generated
        # classes; give the JIT head-room so hot codegen methods don't
        # linger interpreted (observed 10-50x slowdowns otherwise).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:CICompilerCount=6",
        )
        # Python workers fork from a daemon that has already imported
        # numpy, pandas and pyarrow: each worker's first task would pay
        # ~0.8 s for those imports otherwise (sressentials_spark/pydaemon.py).
        .config("spark.python.daemon.module", "sressentials_spark.pydaemon")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
