"""SparkSession factory.

The reference hard-codes ``master("local[threads]")`` and tries (and,
due to a trailing-space config key, fails) to disable auto-broadcast
joins (reference ``MTClassify.scala:131-137``; SURVEY.md §8 Q5). We do
the opposite deliberately: leave the master to the submitter, enable
AQE (runtime coalesce + skew-join splitting), keep broadcast joins ON
(small dimension tables *should* broadcast), pin the session timezone
to UTC so results compare bit-stable against external oracles, and
enable Arrow so the pandas-UDF surface is vectorized.

Scale notes (100 TB): every knob here is per-job tunable; defaults are
chosen so the same logical plans survive a 1000-executor deployment —
AQE handles partition sizing/skew at runtime, nothing below pins a
cluster topology.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local defaults follow the host: every core this process may run on,
# and half the physical memory as driver heap (local mode runs the
# tasks inside the driver JVM, whose resident set grows well past -Xmx),
# capped at 16g. A cgroup v2 memory limit, when lower, counts as the
# physical memory. SPARK_GRAFT_* override both; on a real cluster the
# submitter sets master/memory and AQE re-plans partition counts.


def _host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # macOS / Windows
        return os.cpu_count() or 1


def _host_driver_mem_gib() -> int:
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return 16
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            phys = min(phys, int(fh.read()))
    except (OSError, ValueError):  # no cgroup v2, or "max"
        pass
    return max(1, min(16, phys // 2 // 2**30))


_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cores())
_LOCAL_DRIVER_MEM = (
    os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{_host_driver_mem_gib()}g"
)

def get_spark(
    app_name: str = "mitoscape_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    AQE is on: at 100 TB the static shuffle-partition count is always
    wrong somewhere, so we set a generous initial number and let
    adaptive coalescing shrink post-shuffle partitions and the skew-join
    rule split hot keys (reference has neither; SURVEY.md §4.1).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # -- adaptive execution: runtime re-planning beats static guesses
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- deterministic cross-engine comparison (DuckDB oracle is UTC-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # -- Arrow for every pandas_udf / toPandas hop
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- parquet TIMESTAMP(NANOS) columns (events.ts) surface as long;
        #    catalog.load_table converts them to µs timestamps explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- zstd writes: measured (PERF.md) gzip-class ratio at
        #    faster-than-snappy speed — ~20% less storage AND scan I/O
        #    at 100 TB for free; readers autodetect per-file codecs so
        #    mixed tables stay readable
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- quieter local runs; harmless on a cluster
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        # Test/bench default; spark-submit on a cluster sets its own master
        # and this branch is skipped via the env flag.
        builder = builder.master(f"local[{_LOCAL_CORES}]")
        # local mode = one JVM for driver + all task threads; the 1 GiB
        # default heap OOMs on legitimately sized task state (e.g. packed
        # GEMM blocks). Only applied to the local harness — clusters size
        # executors via spark-submit. No effect if a JVM already exists.
        builder = builder.config("spark.driver.memory", _LOCAL_DRIVER_MEM)

    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _LOCAL_CORES)
    )
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
