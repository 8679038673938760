"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster submit would set per-job:
AQE on (skew-join + partition coalescing — the north-rule skew answer),
Arrow enabled for pandas-UDF scoring, UTC session timezone so results
compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def host_memory_bytes() -> int:
    """Memory this process may use: physical RAM, or the cgroup (v2
    ``memory.max`` / v1 ``memory.limit_in_bytes``) limit when lower."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                mem = min(mem, int(f.read().strip()))
        except (OSError, ValueError):
            pass  # no such cgroup file, or "max" (no limit)
    return mem


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of
    :func:`host_memory_bytes`, as a ``spark.driver.memory`` size."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{host_memory_bytes() // 2 // 2**20}m"


def package_zip() -> str:
    """Zip the wned_spark package for shipping to executors — the same
    artifact a ``spark-submit --py-files`` deployment would pass."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "wned_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("wned_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return out


def ship_package(spark: SparkSession) -> None:
    """Make wned_spark importable on Python workers regardless of the
    driver's cwd (UDFs unpickle module references executor-side)."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context


def get_spark(
    app_name: str = "wned_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults come from the host: ``master`` is ``local[cores]`` with the
    cores of this process's affinity mask (``SPARK_GRAFT_CPUS``
    overrides), and the driver heap is half of the memory the process
    may use (``SPARK_GRAFT_DRIVER_MEM`` overrides; see
    :func:`default_driver_memory`). ``extra_conf`` wins over both.

    At cluster scale the same confs apply; only ``master`` and memory
    sizing change. ``spark.sql.shuffle.partitions`` defaults to the
    core count locally — on a real cluster set it to ~2-3x total cores
    (AQE coalescing trims the excess at runtime).
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE sizes reducer counts by DATA, not core count (default
        # 1 MB floor): small shuffles coalesce to a few chunky tasks —
        # measured faster than forcing core-count partitions, because
        # local-mode scheduling overhead scales with task count while
        # sub-50ms tasks gain nothing from extra threads. Large
        # shuffles still fan out wide.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only: the heap serves all executor threads,
        # so it is sized to the host — half of RAM (or of the cgroup
        # limit), leaving the rest to off-heap, Python workers and the OS;
        # a heap above RAM lets G1 grow until the JVM dies on mmap
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
