"""Per-query fixed-cost profile: plan build vs execution.

For each named ``queries()`` entry, prints the median ``build_s`` (the
Python call that returns the DataFrame) and ``exec_s`` (running it into
the noop sink) over N warm repetitions, the Spark jobs started during
build and during execution, the py4j round trips made during build, and
the generated classes compiled during build and during execution.
One untimed warm-up pass runs first; each repetition is one pass over
all named queries, and cached frames are released after every pass.
The classes the warm-up pass compiled are printed as the working set:
``spark.sql.codegen.cache.maxEntries`` (``session.get_spark``) must stay
above it, or warm passes recompile.

Round trips are counted by wrapping py4j's ``send_command`` in this
process only; jobs are counted through a job group per phase and the
status tracker; compiles are the delta of Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` count, which lives in the
driver JVM (the executors' JVM too in local mode). The numbers are
exact, not sampled.

Usage: python tools/profile_query.py [--reps N] [--cores N]
           [--shuffle-partitions N] name... sf_dir

``name`` may be ``all`` for every ``queries()`` entry; ``sf_dir`` is the
directory of ``<table>.parquet`` files the queries read.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class RoundTrips:
    """Counts py4j commands sent while ``on`` is set, except the object
    releases py4j sends whenever Python's garbage collector happens to
    free Java references (they moved one query's median by ~100)."""

    def __init__(self):
        from py4j import clientserver, java_gateway

        self.on = False
        self.n = 0
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, command, *a, _original=original, **kw):
                if self.on and not command.startswith("m\nd\n"):
                    self.n += 1
                return _original(conn, command, *a, **kw)

            cls.send_command = counted


def compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def phase(spark, group: str, trips: RoundTrips | None, fn):
    """Run ``fn`` under job group ``group``; returns (result, seconds,
    jobs started, py4j round trips, classes compiled)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    compiled = compiles(spark)
    if trips is not None:
        trips.n, trips.on = 0, True
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        seconds = time.perf_counter() - t0
        if trips is not None:
            trips.on = False
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    compiled = compiles(spark) - compiled
    return out, seconds, jobs, (trips.n if trips is not None else 0), compiled


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("args", nargs="+", help="query names, then the sf dir")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    opts = ap.parse_args()
    *names, sf_dir = opts.args
    if not names or not os.path.isdir(sf_dir):
        ap.error("give one or more query names, then an sf dir")

    import __spark_entry__ as entry
    from logstash_filter_elasticsearch_spark.session import get_spark

    queries = entry.queries()
    if names == ["all"]:
        names = list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark(
        app_name="profile-query", cores=opts.cores,
        shuffle_partitions=opts.shuffle_partitions,
    )
    trips = RoundTrips()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    samples: dict[str, list[tuple]] = {n: [] for n in names}
    working_set = compiles(spark)
    for rep in range(opts.reps + 1):
        for name in names:
            tag = f"profile-{rep}-{name}"
            df, b_s, b_jobs, b_rt, b_cc = phase(
                spark, tag + "-build", trips, lambda: queries[name](spark, sf_dir)
            )
            _, e_s, e_jobs, _, e_cc = phase(spark, tag + "-exec", None, lambda: run(df))
            if rep:  # rep 0 is the warm-up pass
                samples[name].append((b_s, e_s, b_jobs, e_jobs, b_rt, b_cc, e_cc))
        spark.catalog.clearCache()
        if not rep:
            working_set = compiles(spark) - working_set

    print(
        f"# {len(names)} queries, sf_dir={sf_dir}, local[{opts.cores}], "
        f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')}, "
        f"median of {opts.reps} warm reps"
    )
    print(
        f"# working set: {working_set} classes compiled by the warm-up pass, "
        f"codegen cache maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')}"
    )
    widths = {
        "build_s": 9, "exec_s": 9, "build_jobs": 12, "exec_jobs": 11,
        "build_py4j": 12, "build_compiles": 16, "exec_compiles": 15,
    }

    def line(label, cells):  # seconds to 3 places, counts as they are
        return f"{label:<28}" + "".join(
            f"{v:>{w}{'.3f' if h.endswith('_s') else 'g'}}"
            for v, (h, w) in zip(cells, widths.items())
        )

    print(f"{'query':<28}" + "".join(f"{h:>{w}}" for h, w in widths.items()))
    tot = [0] * len(widths)
    for name in names:
        med = [statistics.median(c) for c in zip(*samples[name])]
        tot = [t + v for t, v in zip(tot, med)]
        print(line(name, med))
    print(line("TOTAL", tot))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
