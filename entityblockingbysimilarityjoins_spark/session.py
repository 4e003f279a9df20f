"""SparkSession factory tuned for the entity-matching workload.

Defaults target the sandbox (single JVM, ``local[N]``); the same settings are
what we would submit on a real cluster via ``spark-submit --py-files`` —
AQE (with skew-join handling) on, Arrow on, sane shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(32g, ~70% of detected RAM), cgroup-aware; SPARK_DRIVER_MEMORY wins.

    A fixed 32g target OOM-killed the JVM on smaller CI containers; detect
    the real budget (cgroup v2/v1 limit if tighter than MemTotal)."""
    limit = None
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw != "max":
                limit = int(raw)
            break
        except (OSError, ValueError):
            continue
    try:
        with open("/proc/meminfo") as f:
            mem_total = int(f.readline().split()[1]) * 1024  # kB -> bytes
    except (OSError, ValueError, IndexError):
        mem_total = 64 << 30
    budget = min(x for x in (limit, mem_total) if x)
    gb = max(1, min(32, int(budget * 0.7 / (1 << 30))))
    return f"{gb}g"


def get_spark(
    app_name: str = "ebsj-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting — load-bearing for the
        # salted inverted-index self-join where hot prefix tokens skew shuffles.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let the planner pick shuffled-hash joins when the per-partition
        # build side fits (guide §9): sort-merge pays two sorts that the
        # mid-size dictionary/membership joins here never need; AQE still
        # falls back and handles skew.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Arrow for pandas UDF exchange (feature scoring, join verification).
        # 10k-row batches: A/B-measured against 20k on the numpy scorer UDFs
        # (JW/ME bulk, minhash) — 10k was equal or faster on every rep (the
        # padded per-batch string matrices stay L2-resident), so the default
        # stays at Spark's own.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # single-JVM local mode: the "driver" heap is also every executor's
        # heap — 8g GC-thrashes 32-thread shuffles at bench scale; capped by
        # the host/cgroup budget so small containers still start
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -Djava.net.preferIPv6Addresses=false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
