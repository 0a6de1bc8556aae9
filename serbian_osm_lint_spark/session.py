# -*- coding: utf-8 -*-
"""SparkSession factory with scale-oriented defaults.

AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to cores for local mode (a 1000-executor cluster would set this to
~2-3× total cores or rely on AQE coalescing), UTC session TZ (oracle
comparability), Arrow enabled for the pandas-UDF paths. Defaults follow
the box: the core count comes from the process's CPU affinity and the
default heap never asks for more than 60% of physical memory.
"""

from __future__ import annotations

import os

#: share of physical memory the default driver heap may take
HEAP_SHARE = 0.6


def default_heap_gb(cpus: int, phys_bytes: int) -> int:
    """Default driver heap in GB: 0.5 GB per task slot, at least 8, but
    never more than :data:`HEAP_SHARE` of ``phys_bytes`` (and at least 1)."""
    cap = max(1, int(HEAP_SHARE * phys_bytes / 2**30))
    return min(max(8, cpus // 2), cap)


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "serbian-osm-lint-spark",
    cpus: int | None = None,
    emulate_executors: bool = False,
):
    """Local session. ``emulate_executors=True`` makes local[N] a faithful
    proxy for an N-core *cluster slice*: the JVM is told it has exactly N
    processors (GC/JIT/common-pool threads otherwise use all machine cores,
    inflating low-parallelism throughput) and the heap scales with N (each
    simulated executor brings its own memory)."""
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (r6): spark.sql.adaptive.coalescePartitions.initialPartitionNum
        # was tried here (start wide, let AQE coalesce) to shrink the fat
        # band-join sorts; A/B showed it costs 10-50% at bench scale and
        # the real fixes were the SHUFFLE_HASH band join + skinny-fetch
        # pair generation (operators/dedup.py) + the 32m G1 regions below,
        # so it is deliberately NOT set.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # FAIR scheduling so concurrent jobs (resume buckets, ad-hoc
        # queries) share executors instead of a large early job starving
        # the rest under FIFO; threads opt in via a per-thread pool
        # (streaming/resume.py). Single-job workloads are unaffected.
        .config("spark.scheduler.mode", "FAIR")
    )
    # 32m G1 regions: shuffle/sort buffers for fat array columns (the
    # 12-long shingle sets) are ~32 MB humongous allocations against
    # G1's default region size, and G1 handles them with GCLocker stalls
    # that serialize executor threads — measured BISTABLE 18 s / 70 s
    # runs of the same 8 M-doc pair join at 16 cores; with 32m regions
    # the same job holds a steady ~25 s (r6 diagnosis).
    g1 = "-XX:G1HeapRegionSize=32m"
    if emulate_executors:
        builder = builder.config(
            "spark.driver.memory", f"{max(2, int(1.25 * cpus))}g"
        ).config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={cpus} {g1}",
        )
    else:
        # default heap scales with task slots (0.5 GB/core — what a real
        # 32-core executor slice would get), not a constant: the r4-era 8g
        # was sized at sf0.1, and the kNN window sort's volume grows
        # quadratically with the corpus (the 100×-proxy harness already
        # needs 24g), capped by the box's memory. SPARK_DRIVER_MEM still
        # overrides.
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        default_mem = f"{default_heap_gb(cpus, phys)}g"
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", default_mem)
        ).config("spark.driver.extraJavaOptions", g1)
    return builder.getOrCreate()


def local_df(spark, rows, schema: str):
    """A small constant table whose rows travel inside the plan
    (``LocalRelation``), built through Arrow. ``createDataFrame`` over a
    Python list gives an RDD scan instead, which Python workers
    unpickle on every execution of every plan that reads it."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.table(dict(zip(struct.names, map(list, zip(*rows)))))
    return spark.createDataFrame(table, struct)
