"""SparkSession construction for the crawl engine.

Local-mode defaults are tuned for the sandbox (single JVM, up to 32 threads);
on a real cluster the same builder is used via ``spark-submit --py-files`` with
master/memory supplied by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem(mem_total_kib: int | None) -> str:
    """Local-mode heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 40% of the
    host's memory, capped at 48g (the size measured on a 128 GiB box). The
    rest is left to the Python workers and the OS cache; a fixed 48g on a
    15 GiB host would let the JVM grow past the machine. ``None`` (memory
    unknown) keeps the cap."""
    mb = 48 * 1024
    if mem_total_kib:
        mb = min(mb, int(mem_total_kib * 0.4) // 1024)
    return f"{mb}m"


def _mem_total_kib() -> int | None:
    """MemTotal of this host in KiB (Linux), None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app: str = "biz_crawlers_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to the core count: in local mode more
    partitions than cores only adds scheduling overhead, and the engine's
    per-epoch shuffles (salted repartition + MERGE join) are sized to cores.
    On a cluster, pass ``shuffle_partitions ≈ 2-3 × total executor cores``.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    # Make this package importable in executor Python workers. In local mode
    # workers inherit the driver env; on a cluster use spark-submit --py-files
    # (see bench.py / BENCH/BASELINE.md) — this is the local-mode equivalent.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
    # one BLAS thread per Python worker: N workers × multithreaded BLAS
    # oversubscribes cores and destroys mapInPandas scaling
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory coalesces the epoch's skinny-row merge joins
        # (600k frontier rows ≈ 70 MB) down to 1-2 partitions — serializing
        # them on one core; 8m keeps small-table joins parallel (measured:
        # 600k-URL epoch at 32 cores 98.3 s → 90.3 s)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local-mode heap: the ONE JVM hosts all `cores` concurrent tasks'
        # execution memory, so size it to the box, not to a driver's share —
        # 8g/32 tasks left ~150 MB of execution memory per task and forced
        # sort/aggregate spill on the wide queries (guide §5). The default
        # is derived from the host (default_driver_mem: 48g on a 128 GiB
        # box, 6g on 15 GiB), leaving room for the Python workers + OS
        # cache; on a cluster the submitter supplies driver/executor memory
        # explicitly and this knob is irrelevant (env-overridable either way).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_mem(_mem_total_kib()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd beats snappy on BOTH wall time and size for this workload
        # (staging write of 100k pages: 16.9 s/146 MB snappy → 13.1 s/140 MB
        # zstd — the binary image columns are already-compressed PNG/QJPG, so
        # cheap-but-weak codecs waste CPU for nothing)
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
