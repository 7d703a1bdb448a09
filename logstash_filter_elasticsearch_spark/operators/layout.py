"""Partition layout: spread a too-coarse scan before per-row work.

Guide §2.5 "input skew": a single-file (single-row-group) parquet table
scans as ONE task, so everything downstream (regex extraction, hashing,
numpy stages, pre-aggregation) would run on one core regardless of
cluster size. Spreading the raw rows to the session's shuffle
parallelism costs one exchange and parallelizes the rest. Deterministic
under retries (Spark sorts before a round-robin repartition,
SPARK-23207).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this plan-stats estimate a spread does not pay: fanning a small
# scan over the task pool costs more in exchange + per-task (and
# Python-worker) overhead than the parallelism returns (measured: ann_ivf
# at sf0.1 0.87s unspread vs 1.3s spread; every sf1.0 table is >10 MB).
TINY_PLAN_BYTES = 4 * 1024 * 1024


def spread(
    df: DataFrame, by: Sequence[str] = (), skip_tiny: bool = False
) -> DataFrame:
    """Repartition ``df`` to ``spark.sql.shuffle.partitions`` unless it is
    already laid out well enough.

    No-op for streams (partition introspection needs a batch plan) and
    for inputs that already have more than a quarter of the target
    partitions (e.g. the 64-file bench pipeline dataset), so well-laid-
    out tables never pay an extra shuffle.

    ``by``: hash-repartition on these key columns instead of
    round-robin, for inputs about to be grouped or windowed on them —
    one exchange both parallelizes the downstream operator and already
    satisfies its clustering requirement (guide §2.4 "share one
    exchange").

    ``skip_tiny``: also a no-op when the optimized plan's estimated size
    is under ``TINY_PLAN_BYTES``. For callers whose per-row work is
    CHEAP relative to task overhead (the similarity numpy stages, keyed
    pre-aggregations). Regex-heavy callers keep the default and always
    spread: even a 0.6 MB corpus measured faster spread than not.

    Both checks read plans only and start no job. The size estimate is
    the optimized plan's statistics, checked first as the cheaper of
    the two. The partition count is read from the physical plan before
    it is prepared for execution (``_partitions``), not from ``df.rdd``,
    which prepares the whole plan and wraps it for Python (a scan frame
    on 4 cores: 22 ms to build, 64 ms with the ``df.rdd`` probe, 43 ms
    with this count). The decisions are
    the same as that probe's for a scan, range, coalesce or repartition
    under narrow operators. Below a join or an aggregate the count is
    the sum of the leaves' partitions; the ``df.rdd`` probe ran such a
    plan's shuffle (a job) to read its adaptively coalesced count.
    """
    if df.isStreaming:
        return df
    qe = df._jdf.queryExecution()
    if skip_tiny and qe.optimizedPlan().stats().sizeInBytes() < TINY_PLAN_BYTES:
        return df
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if _partitions(qe.sparkPlan()) * 4 > target:
        return df
    return df.repartition(target, *[F.col(c) for c in by])


def _partitions(plan) -> int:
    """Partitions a physical plan produces, read without running it: its
    output partitioning when that fixes a count (range, coalesce,
    repartition), else the sum of its leaves' RDD partitions (a file
    scan's splits are known only once its RDD is built)."""
    n = plan.outputPartitioning().numPartitions()
    if n:
        return n
    leaves = plan.collectLeaves()
    return sum(leaves.apply(i).execute().getNumPartitions() for i in range(leaves.size()))
