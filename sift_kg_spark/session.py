"""SparkSession factory: Arrow on, AQE + skew-join on, UTC, tuned shuffles.

Local mode is the test harness; the same conf block is what we'd pass to
``spark-submit`` on a multi-executor cluster (see scripts/submit.sh).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# tmpfs scratch is only adopted when this much space is actually free:
# /dev/shm is RAM (commonly capped at 50% of memory), and a large shuffle
# landing on a small tmpfs fails with ENOSPC instead of spilling to disk.
_TMPFS_MIN_FREE_BYTES = 16 * 1024**3


def _local_scratch_dir() -> str:
    """Fastest writable scratch for shuffle files and spills.

    Priority: $SPARK_GRAFT_LOCAL_DIR > /dev/shm/sift_kg_spark_local (when
    /dev/shm is a writable tmpfs with >= 16 GiB free, or forced via
    SPARK_GRAFT_TMPFS=1; disabled via SPARK_GRAFT_TMPFS=0) > /tmp.
    Equivalent of pointing spark.local.dir at node-local NVMe on a real
    deployment; the free-space gate keeps small-tmpfs hosts on disk where
    shuffles can spill instead of ENOSPC-failing.
    """
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    tmpfs_flag = os.environ.get("SPARK_GRAFT_TMPFS")
    if tmpfs_flag == "0":
        return "/tmp"
    shm = "/dev/shm/sift_kg_spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        probe = os.path.join(shm, ".probe")
        with open(probe, "w") as fh:
            fh.write("x")
        os.remove(probe)
        st = os.statvfs(shm)
        if tmpfs_flag != "1" and st.f_bavail * st.f_frsize < _TMPFS_MIN_FREE_BYTES:
            return "/tmp"
        return shm
    except OSError:
        return "/tmp"


# Default driver heap: today's 24g where the host has room for it, else
# ~60% of physical memory, so the JVM, its Python workers and the OS page
# cache still fit on a small host.
_DRIVER_MEM_CAP_MB = 24 * 1024
_DRIVER_MEM_SHARE = 0.6


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when neither the caller nor
    $SPARK_GRAFT_DRIVER_MEM sets it: min(24g, 60% of MemTotal)."""
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    mb = int(total_kb * _DRIVER_MEM_SHARE) // 1024
    return "24g" if mb >= _DRIVER_MEM_CAP_MB else f"{mb}m"


# Static conf every launch mode applies when it builds the session:
# ``get_spark`` and ``scripts/run_pipeline.py`` (spark-submit). A static
# SQL conf is fixed when the JVM's session starts, so it cannot be set
# from ``__spark_entry__.entry(spark)``, which receives a session its
# caller has already built.
#
# spark.sql.codegen.cache.maxEntries (default 100): one pipeline call
# needs more distinct generated sources than that, so the LRU evicted
# every entry before its next use and each warm call recompiled ~135
# sources with Janino (and HotSpot re-JIT-compiled the fresh classes).
# Janino compilations per call from an empty cache (local[2], 2 shuffle
# partitions, dedupbench near_dup_dense seed 1): run_dedup 139 under the
# default config, 153 under capture_dedup, 166 under span_dedup
# (long_pages 138, the 400-page test corpus 135); run_dedup_incremental
# of a 5% batch 273; one process_batch generation 272. 2000 is > 7x the
# largest, and holds the union of those calls. After one run_dedup the
# cache holds 300 generated classes, 0.6 MB of bytecode (940 classes,
# 2.1 MB after a base run and its append), so 2000 entries stay near
# 10 MB.
SESSION_CONF = {"spark.sql.codegen.cache.maxEntries": "2000"}


def get_spark(
    app_name: str = "sift_kg_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the dedup pipeline.

    ``master`` overrides everything (e.g. ``local-cluster[8,4,7168]`` for
    real multi-JVM executors on one box). Otherwise ``cores=None`` means:
    respect an existing master / spark-submit master, defaulting to
    ``local[$SPARK_GRAFT_CPUS or *]`` when standalone.
    """
    if master is None:
        if cores is None:
            cores_env = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cores_env}]"
        else:
            master = f"local[{cores}]"

    n_shuffle = shuffle_partitions
    if n_shuffle is None:
        try:
            n_shuffle = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (cores or 32)
        except ValueError:
            n_shuffle = cores or 32

    heap = (
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _default_driver_memory()
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # AQE: runtime shuffle-partition coalescing + skew-join splitting —
        # the built-in half of the north rule's skew handling (the explicit
        # half is hot-band star reduction in operators/lsh.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Every Python touchpoint is an Arrow-batched pandas UDF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small Arrow batches: pandas-UDF workers then reuse allocator
        # arenas across batches instead of growing fresh ones (first-touch
        # page faults are expensive on memory-ballooned hosts); measured
        # ~2.5x faster feature extraction at 32 workers vs 2048-row batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", heap)
        # SPARK_GRAFT_PRETOUCH=1 adds -Xms=heap -XX:+AlwaysPreTouch:
        # fault the whole heap in ONCE at JVM startup. On lazily-backed
        # (ballooned/overcommitted) hosts, first-touch faults are the
        # scarce resource — without pre-touch they land inside GC
        # evacuation pauses, inflating GC 10x as the heap grows into
        # never-touched regions (event-log measurements,
        # BENCH/SCALING.md). Opt-in because the one-time pre-touch itself
        # takes minutes when the host's fault path is at its slowest; a
        # real cluster sets these two flags on its long-lived executors,
        # where startup cost amortizes over days.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS",
                "-XX:+UseG1GC"
                + (
                    " -XX:+AlwaysPreTouch -Xms" + heap
                    if os.environ.get("SPARK_GRAFT_PRETOUCH")
                    else ""
                ),
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # localCheckpoint materialization counts checkpointed blocks
        # against maxResultSize; the 1g default aborts mid-size CC runs.
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        # Smaller scan splits: fixture/crawl files compress ~10x, so a
        # 128MB split decompresses to >1GB of work — too coarse to keep
        # all cores busy on medium inputs.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Shuffle/spill local dir: on a real cluster this points at each
        # node's NVMe scratch. On this sandbox VM, buffered writes to the
        # root disk run at ~23 MB/s (page-cache writeback pathology;
        # direct IO on the same disk does 417 MB/s, tmpfs 1.9 GB/s) —
        # leaving shuffles there serializes every core behind one slow
        # writeback path. tmpfs is the honest per-node-scratch analog.
        .config("spark.local.dir", _local_scratch_dir())
        .config(map=SESSION_CONF)
    )
    if not os.environ.get("SPARK_GRAFT_KEEP_MASTER"):
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
