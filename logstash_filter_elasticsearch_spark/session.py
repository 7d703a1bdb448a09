"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by core
count for local testing: AQE on (runtime broadcast conversion + skew
join splitting), Arrow for any pandas-UDF stage, UTC session timezone
so timestamp semantics are stable across engines (the DuckDB oracle
also runs in UTC). The generated-code cache is sized to hold every
class the engine's queries compile, so a query shape is compiled once
per JVM rather than once per execution (see the comment at the conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lfes-spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2x parallelism: small enough to avoid tiny-task overhead at
        # test scale; AQE coalesces further at runtime. On a 1000-exec
        # cluster this would be set ~2-3x total cores instead.
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # spill/shuffle scratch on tmpfs when available: sort spills from
        # the fan-out write landed on slow disk and flattened the scaling
        # curve (measured 15.0s -> 12.7s at local[32]); on a real cluster
        # this is the NVMe local-dir equivalent
        .config(
            "spark.local.dir",
            os.environ.get(
                "LFES_LOCAL_DIR",
                "/dev/shm/lfes-spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # lookup snapshots are broadcast; be generous (driver has RAM)
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's whole-stage/expression codegen cache is an LRU of 100
        # classes by default, below this engine's working set: one
        # query_mix pass (perfbench's 8 queries) compiles 146-153
        # distinct classes, all 77 queries() 633 (sf0.01 and sf0.1
        # alike), one run_pipeline 32. At 100 every warm pass evicted and
        # recompiled them (146 Janino compiles per query_mix pass, 700
        # per pass over the 77); at 2048 (~3x the 633) both drop to 0
        # from the second pass on, and a pass over the 77 at sf0.01 takes
        # 21-23 s instead of 28-30 s (local[4]). Cost: +5 MB of Metaspace
        # (182.6 vs 177.5 MB after three passes over the 77 at sf0.1).
        # Static conf: it only takes effect when set before the first
        # SparkContext in the JVM. tools/profile_query.py prints the
        # working set; tests/test_fixed_cost.py fails on a warm recompile.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # snappy: re-measured on the 8M-row fan-out write under honest
        # core pinning (taskset + ActiveProcessorCount): snappy beats
        # zstd at every level (L2 47.4s vs 55.0s, L8 16.4s vs 18.3s
        # best-of-3) AND is stable run-to-run (±5% vs zstd's ±15% —
        # zstd-jni's JNI critical sections interact badly with G1 under
        # many allocating threads). An earlier 2M-row measurement had
        # preferred zstd; the larger honest measurement wins.
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Dynamic-partition writes stay on Spark's default SORT-based
        # writer (maxConcurrentOutputFileWriters=0): concurrent writers
        # hold one untracked ~128MB parquet buffer per open file per
        # task, which OOMs a 4g heap at 32 tasks x many routes (measured:
        # 8M-row fan-out write dies with 16 writers even at 16MB row
        # groups). The per-task sort is spill-safe at any scale.
        #
        # zstd-jni compresses inside JNI critical sections; under 32
        # allocating threads G1's GCLocker can hit its retry limit and
        # kill the task ("Retried waiting for GCLocker too often").
        # Raise the retry budget — costs nothing when uncontended.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # NOT larger: on this VM class, heap size anti-scales a 32-thread
        # allocation-heavy stage (measured: the same pure-CPU agg took
        # 0.9s at -Xmx4g vs 6.3s at -Xmx16g; -XX:+AlwaysPreTouch needed
        # 49s to first-touch 16 GiB — page faults are ~10x host cost).
        # G1 walking a huge cold heap serializes on memory, so keep the
        # heap small enough that the GC working set stays resident.
        .config("spark.driver.memory", os.environ.get("LFES_DRIVER_MEM", "4g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
