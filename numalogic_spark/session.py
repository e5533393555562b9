"""SparkSession factory tuned for the rollup engine.

Local mode is used for tests/bench; the same config block is what we would
pass to spark-submit on a real cluster (AQE on, skew-join on, Arrow on,
UTC session timezone so bucket boundaries are deterministic).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g. The driver JVM grows
    its heap up to this cap; a cap above the host's RAM let G1 try to
    commit a 16 GB expansion on a 15 GB host and abort the JVM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, ram // 2 // 2**30))}g"


def get_spark(
    app_name: str = "numalogic_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores: parallelism for local mode (``local[cores]``); defaults to
        ``$SPARK_GRAFT_CPUS`` or ``*``.
    shuffle_partitions: defaults to max(cores, 8) — sized so a partition of
        the sf-scaled input fits comfortably in memory; on a real cluster
        this scales with executor count (AQE coalesces the excess).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1): measured 1.2-1.8× on the engine's
        # equi-join paths (ccf pair grid, as-of, interval joins) with no
        # sort. Joins still fall back to sort-merge when the per-partition
        # build side is too large; override via extra_conf on memory-tight
        # executors (the build side must fit per partition).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch record cap: 10k, deliberately. A 100k raise was
        # shipped on a claimed 5-20% grouped-kernel framing win, then
        # OOM-crashed the bench's datagen (thin 8-byte-id input rows each
        # expand to ~4 KB of tokens INSIDE the kernel — the input-side
        # byte cap (maxBytesPerBatch, 64 MB default, closes a batch when
        # EITHER cap is hit) never sees the expansion, and 32 workers at
        # ~4 GB transient each tripped the kernel OOM killer). Controlled
        # back-to-back A/B at both values (pack fill, window build,
        # SemDeDup, AE scoring; 4 reps each) shows 10k EQUAL OR BETTER on
        # every row (e.g. salted pack 2.80 s vs 3.30 s warm) — the
        # claimed win was machine-state noise. datagen additionally
        # sub-chunks its ids (datagen.py) so its peak memory no longer
        # depends on this cap at all.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # token rows carry ~1k-element arrays: large columnar batches become
        # G1 "humongous" allocations (> half a heap region) and 32 allocating
        # threads then serialize in the GC — keep batches ~2 MB and raise the
        # region size so array buffers stay in normal regions
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m -XX:+UseG1GC",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
