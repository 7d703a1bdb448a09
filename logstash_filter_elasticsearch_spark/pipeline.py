"""End-to-end parse → enrich → route → aggregate pipeline.

Set-oriented reimagining of the reference's per-event loop
(elasticsearch.rb:214-216 -> dsl_executor.rb:28-91): one declarative
DataFrame program per batch instead of one RPC per event.

Physical plan shape (verified via .explain in tests):

    scan parquet (column-pruned, predicate pushdown)
      -> regexp parse projections        [whole-stage codegen]
      -> BroadcastHashJoin (lookup)      [no shuffle of the big side]
      -> route column
      -> partitioned fan-out write        [no shuffle]
    then a column-pruned scan of the staged files -> per-sink metrics

The event table never shuffles: every scan task writes its slice of
each route it sees (sort-free via spark.sql.maxConcurrentOutputFileWriters),
so the 60%-skewed route is spread over ALL tasks. File count is
tasks x routes. A salted (route, hash % n) shuffle before the write
measured 12.9s vs 4.0s direct on 2M rows at 32 threads.

Resume: checkpoint.Manifest records committed sinks + lineage +
metrics; re-running skips them (idempotent — tested by kill/resume).
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.checkpoint import Manifest, publish_atomic
from logstash_filter_elasticsearch_spark.fsio import fs_for
from logstash_filter_elasticsearch_spark.operators.enrich import EnrichSpec, Enricher
from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids
from logstash_filter_elasticsearch_spark.sources.tables import read_parquet

QUARANTINE_ROUTE = "_quarantine"


def _gc_unreferenced_snapshots(
    fs,
    out_dir: str,
    manifest: Manifest,
    current_run_id: str,
    grace_s: float,
) -> None:
    """Delete snapshot run-dirs no committed route references.

    Concurrent-safe: a dir is only reclaimed when it is provably not an
    in-flight run's staging area —
    * the CURRENT run's own dir (it contributed no routes, we own it);
    * a run recorded ``finished_at`` in the manifest (completed, every
      route since superseded);
    * a recorded run with no ``finished_at`` whose start is older than
      ``grace_s`` (crashed mid-write; the age gate is the same orphan-
      file discipline Iceberg's maintenance uses);
    * a dir with NO run record at all (foreign debris — every
      legitimate run begin_run-flushes before writing a byte).
    A recent unfinished run keeps its dir: it may still be writing.
    Granularity is the run dir: a partially committed crashed run keeps
    its dir while any route still points into it.

    Ordering against concurrent starters: the dir LISTING is taken
    first and the manifest is then RE-READ from disk — a run creates
    its dir only after its begin_run flush, so any dir in the listing
    belongs to a run whose record is already on disk by the time the
    fresh read happens. Classifying against this run's stale in-memory
    copy would label a just-started concurrent run 'foreign debris'
    and delete it mid-write."""
    import time as _t2

    snaps = os.path.join(out_dir, "snapshots")
    if not fs.exists(snaps):
        return
    names = list(fs.list_names(snaps))
    fresh = Manifest(manifest.path, fs=fs)
    referenced = {e["run_id"] for e in fresh.data["routes"].values()}
    runs_by_id = {e["run_id"]: e for e in fresh.data["runs"]}
    now = _t2.time()
    for name in names:
        if name in referenced:
            continue
        entry = runs_by_id.get(name)
        if entry is None:
            # no run record: normally foreign debris (every legitimate
            # run begin_run-flushes before writing a byte) — but an
            # out-of-contract concurrent writer whose record was
            # clobbered by another writer's whole-file manifest flush
            # would look identical while still mid-write. Apply the
            # same grace window, keyed on the dir's own mtime (it
            # moves while files land in it); unreadable mtime counts
            # as fresh, never as reclaimable. Object stores (S3A fake
            # directory markers) commonly report mtime 0 WITHOUT
            # raising — a non-positive mtime would make dir_age huge
            # and reclaim a mid-write dir instantly, so it counts as
            # fresh too.
            try:
                dir_mtime = fs.mtime(os.path.join(snaps, name))
                dir_age = (now - dir_mtime) if dir_mtime > 0 else 0.0
            except Exception:
                dir_age = 0.0
            reclaimable = dir_age > grace_s
        else:
            reclaimable = (
                name == current_run_id
                or entry.get("finished_at") is not None
                or now - entry.get("started_at", now) > grace_s
            )
        if reclaimable:
            fs.delete(os.path.join(snaps, name))


def committed_route_paths(out_dir: str, fs=None, spark=None) -> dict[str, str]:
    """route -> sink directory, resolved THROUGH the manifest.

    In snapshot publish mode this is the only correct way to find a
    sink (data dirs are per-run and immutable; the manifest pointer is
    the atomic truth — reading sinks/ or globbing snapshots/ would see
    uncommitted or superseded data). Works uniformly for rename mode.
    """
    fs = fs or fs_for(out_dir, spark)
    manifest = Manifest(os.path.join(out_dir, "_MANIFEST.json"), fs=fs)
    return {
        route: os.path.join(out_dir, e["path"])
        for route, e in manifest.data["routes"].items()
    }


@dataclass
class PipelineConfig:
    sequences_path: str
    lookup_path: str
    out_dir: str
    # Sink table format. "parquet" here (no Iceberg runtime jar in this
    # container); on a cluster set "iceberg" and the same partitionBy
    # write goes through the Iceberg committer, whose snapshot commit
    # subsumes publish_atomic (the manifest still carries metrics).
    sink_format: str = "parquet"
    # Publish protocol:
    #   "rename"   — stage + per-route rename into sinks/ (atomic on
    #                POSIX/HDFS; copy+delete on object stores).
    #   "snapshot" — Iceberg-style: sinks are IMMUTABLE per-run dirs
    #                under snapshots/<run_id>/ and the commit is the
    #                manifest pointer swap — the only operation that
    #                must be atomic, and the manifest already is
    #                (FileContext overwrite-rename + .prev fallback).
    #                No data rename ever happens, so the protocol is
    #                object-store-safe by construction; readers resolve
    #                sink paths through committed_route_paths().
    publish_mode: str = "rename"
    # snapshot mode: how long an unreferenced, unfinished run dir is
    # presumed in-flight (protected from GC) before being treated as
    # crashed debris
    snapshot_gc_grace_s: float = 86400.0
    # enrichment config (reference option names, elasticsearch.rb:59-161)
    fields: dict[str, str] = field(
        default_factory=lambda: {
            "payload.response": "resp_code",
            "payload.verb": "verb",
        }
    )
    docinfo_fields: dict[str, str] = field(default_factory=lambda: {"_id": "es_doc_id"})
    aggregation_fields: dict[str, tuple[str, str]] = field(
        default_factory=lambda: {"bytes_avg": ("avg", "payload.bytes")}
    )
    result_size: int = 1
    sort: list[tuple[str, str]] = field(
        default_factory=lambda: [("payload.timestamp_ms", "desc")]
    )
    add_tag_on_match: list[str] = field(default_factory=lambda: ["enriched"])


def build_enriched(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The lazy logical plan: parse + enrich + route column."""
    seqs = read_parquet(spark, cfg.sequences_path)
    lookup = read_parquet(spark, cfg.lookup_path)

    parsed = parse_doc_ids(seqs)
    spec = EnrichSpec(
        event_key="join_key",
        lookup_key="join_key",
        fields=cfg.fields,
        docinfo_fields=cfg.docinfo_fields,
        aggregation_fields=cfg.aggregation_fields,
        result_size=cfg.result_size,
        sort=cfg.sort,
        add_tag_on_match=cfg.add_tag_on_match,
        broadcast=True,
    )
    enriched = Enricher(spec).apply(parsed, lookup)
    # quarantine routing per tag_on_failure semantics (dsl_executor.rb:79-87)
    return enriched.withColumn(
        "route",
        F.when(F.col("parse_ok"), F.col("route_source")).otherwise(
            F.lit(QUARANTINE_ROUTE)
        ),
    )


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Execute with manifest-gated idempotent commits. Returns metrics.

    ONE pass over the event table: scan -> parse -> broadcast-join ->
    fan-out staged write. Per-sink aggregates are then computed from the
    STAGED files (a column-pruned scan of route/n_tok/matched only —
    parquet reads just those columns), so the manifest metrics describe
    exactly the bytes that get committed, and the expensive
    parse+enrich work is never executed twice.
    """
    import time as _time

    phase_t: dict[str, float] = {}
    t_start = _time.monotonic()

    fs = fs_for(cfg.out_dir, spark)
    fs.makedirs(cfg.out_dir)
    manifest = Manifest(os.path.join(cfg.out_dir, "_MANIFEST.json"), fs=fs)

    df = build_enriched(spark, cfg)

    committed_before = manifest.committed_routes
    run_id = manifest.begin_run(
        {
            "sequences_path": cfg.sequences_path,
            "lookup_path": cfg.lookup_path,
            "committed_before": sorted(committed_before),
        }
    )

    snapshot_mode = cfg.publish_mode == "snapshot"
    if cfg.publish_mode not in ("rename", "snapshot"):
        raise ValueError(f"publish_mode must be rename|snapshot, got {cfg.publish_mode!r}")
    # the staging dir name must not start with '_' or '.': Spark treats
    # such a directory as hidden and warns "All paths were ignored" on
    # the staged-metrics load below
    staging = (
        os.path.join(cfg.out_dir, "snapshots", run_id)
        if snapshot_mode
        else os.path.join(cfg.out_dir, f"staging-{run_id}")
    )
    writable = df
    if committed_before:  # resume: skip already-committed sinks
        writable = writable.filter(~F.col("route").isin(sorted(committed_before)))
    t0 = _time.monotonic()
    writable.write.mode("overwrite").partitionBy("route").format(
        cfg.sink_format
    ).save(staging)
    phase_t["write_job_s"] = round(_time.monotonic() - t0, 3)
    t0 = _time.monotonic()

    # staged dir names are Spark's %-escaped partition values; the
    # manifest/metrics key is the UNESCAPED route string, and the sink
    # dir reuses the escaped name verbatim so read-back stays Hive-
    # partition-compatible (the dir-name/column-value mismatch was a
    # KeyError/mis-named-sink bug class).
    staged_dirs = sorted(
        d for d in fs.list_names(staging) if d.startswith("route=")
    )
    route_metrics: dict[str, dict] = {}
    if staged_dirs:
        agg_rows = (
            spark.read.format(cfg.sink_format)
            # explicit schema: partition-value type inference would turn
            # a numeric-looking route into an int, and '01' -> 1 ->
            # cast-back '1' no longer matches the dir-derived manifest
            # key '01'. Declaring the writer's own schema pins route to
            # string, so the partition value round-trips verbatim.
            .schema(writable.schema)
            .load(staging)
            .groupBy("route")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_tok").alias("sum_n_tok"),
                F.sum(F.col("matched").cast("long")).alias("matched_rows"),
            )
            .collect()
        )
        route_metrics = {
            r["route"]: {
                "rows": r["rows"],
                "sum_n_tok": r["sum_n_tok"],
                "matched_rows": r["matched_rows"],
            }
            for r in agg_rows
        }
        phase_t["metrics_agg_s"] = round(_time.monotonic() - t0, 3)
        t0 = _time.monotonic()
        input_files = read_parquet(spark, cfg.sequences_path).inputFiles()
        for d in staged_dirs:
            route = urllib.parse.unquote(d.split("=", 1)[1])
            if snapshot_mode:
                # data stays where the writer left it (immutable per-run
                # dir); the manifest pointer swap IS the publish
                rel_path = f"snapshots/{run_id}/{d}"
            else:
                publish_atomic(
                    os.path.join(staging, d),
                    os.path.join(cfg.out_dir, "sinks", d),
                    fs=fs,
                )
                rel_path = f"sinks/{d}"
            manifest.commit_route(
                route,
                run_id,
                metrics=route_metrics[route],
                lineage={
                    "n_input_files": len(input_files),
                    "input_files_sample": sorted(input_files)[:5],
                    "lookup_path": cfg.lookup_path,
                },
                path=rel_path,
            )
    phase_t["publish_s"] = round(_time.monotonic() - t0, 3)
    manifest.finish_run(run_id)
    if snapshot_mode:
        _gc_unreferenced_snapshots(
            fs, cfg.out_dir, manifest, run_id, cfg.snapshot_gc_grace_s
        )
    else:
        fs.delete(staging)

    # per-sink aggregates sink (rebuilt from the manifest every run).
    # Written with pyarrow directly: it is driver-side metadata of
    # #routes rows — a Spark job here costs seconds of Python-worker
    # spin-up (createDataFrame pickles into defaultParallelism slices)
    # for zero distributed work.
    routes_sorted = sorted(manifest.data["routes"].items())
    pa_table = pa.table(
        {
            "route": [r for r, _ in routes_sorted],
            "rows": [e["metrics"]["rows"] for _, e in routes_sorted],
            "sum_n_tok": [e["metrics"]["sum_n_tok"] for _, e in routes_sorted],
            "matched_rows": [e["metrics"]["matched_rows"] for _, e in routes_sorted],
        },
        schema=pa.schema(
            [
                ("route", pa.string()),
                ("rows", pa.int64()),
                ("sum_n_tok", pa.int64()),
                ("matched_rows", pa.int64()),
            ]
        ),
    )
    agg_dir = os.path.join(cfg.out_dir, "aggregates.parquet")
    fs.makedirs(agg_dir)
    buf = pa.BufferOutputStream()
    pq.write_table(pa_table, buf)
    fs.write_bytes_atomic(
        os.path.join(agg_dir, "part-00000.parquet"),
        buf.getvalue().to_pybytes(),
    )

    all_metrics = {
        route: e["metrics"] for route, e in manifest.data["routes"].items()
    }
    phase_t["total_s"] = round(_time.monotonic() - t_start, 3)
    return {
        "run_id": run_id,
        "routes": all_metrics,
        "committed": sorted(manifest.committed_routes),
        "skipped_previously_committed": sorted(committed_before),
        "total_rows": sum(m["rows"] for m in all_metrics.values()),
        "total_tokens": sum(m["sum_n_tok"] for m in all_metrics.values()),
        "phase_seconds": phase_t,
    }
