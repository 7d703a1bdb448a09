"""End-to-end pipeline tests vs a pure-Python/pyarrow oracle.

Correctness gates from BASELINE.md: routed-row equality, per-row
``tokens`` array equality, per-sink aggregate counts, quarantine
semantics, idempotent checkpoint resume.
"""

import json
import os
import re
import shutil
import time

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from logstash_filter_elasticsearch_spark.pipeline import (
    PipelineConfig,
    QUARANTINE_ROUTE,
    run_pipeline,
)

DOC_ID_RE = re.compile(r"^([a-z][a-z0-9_]*)/(\d{4})/(\d{12})-(\d+)$")


def python_oracle(seq_dir):
    """Route + aggregate expectation computed without Spark."""
    tbl = pads.dataset(seq_dir).to_table().to_pylist()
    per_route = {}
    rows_by_doc = {}
    for r in tbl:
        m = DOC_ID_RE.match(r["doc_id"])
        route = m.group(1) if m else QUARANTINE_ROUTE
        agg = per_route.setdefault(route, {"rows": 0, "sum_n_tok": 0})
        agg["rows"] += 1
        agg["sum_n_tok"] += r["n_tok"]
        rows_by_doc[r["doc_id"]] = (route, r["tokens"])
    return per_route, rows_by_doc


@pytest.fixture(scope="module")
def pipeline_run(spark, seq_data, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
    )
    metrics = run_pipeline(spark, cfg)
    return cfg, metrics


def test_per_sink_aggregates_match_oracle(pipeline_run, seq_data):
    cfg, metrics = pipeline_run
    expected, _ = python_oracle(seq_data["seq_dir"])
    assert set(metrics["routes"]) == set(expected)
    for route, exp in expected.items():
        got = metrics["routes"][route]
        assert got["rows"] == exp["rows"], route
        assert got["sum_n_tok"] == exp["sum_n_tok"], route


def test_routed_rows_and_token_equality(pipeline_run, seq_data):
    """Every input row lands in exactly its route's sink with its exact
    token array (per-row token-array equality invariant)."""
    cfg, _ = pipeline_run
    _, expected_rows = python_oracle(seq_data["seq_dir"])
    seen = {}
    sinks = os.path.join(cfg.out_dir, "sinks")
    for route_dir in os.listdir(sinks):
        route = route_dir.split("=", 1)[1]
        t = pads.dataset(os.path.join(sinks, route_dir)).to_table(
            columns=["doc_id", "tokens"]
        )
        for r in t.to_pylist():
            seen[r["doc_id"]] = (route, r["tokens"])
    assert seen == expected_rows


def test_quarantine_semantics(pipeline_run):
    """Malformed doc_ids are tagged + quarantined, never dropped
    (dsl_executor.rb:79-87 tag_on_failure)."""
    cfg, metrics = pipeline_run
    qdir = os.path.join(cfg.out_dir, "sinks", f"route={QUARANTINE_ROUTE}")
    assert os.path.exists(qdir)
    t = pads.dataset(qdir).to_table().to_pylist()
    assert len(t) == metrics["routes"][QUARANTINE_ROUTE]["rows"]
    assert all("_grokparsefailure" in r["tags"] for r in t)
    assert all(not r["parse_ok"] for r in t)
    assert all(not r["matched"] for r in t)


def test_enrichment_matched_rows(pipeline_run, spark, seq_data):
    """matched_rows per sink equals a direct Spark oracle join."""
    cfg, metrics = pipeline_run
    lookup_keys = {
        r["join_key"]
        for r in pq.read_table(seq_data["lookup"], columns=["join_key"]).to_pylist()
    }
    _, rows = python_oracle(seq_data["seq_dir"])
    exp = {}
    for doc_id, (route, _) in rows.items():
        m = DOC_ID_RE.match(doc_id)
        key = f"{m.group(1)}/{m.group(2)}" if m else None
        exp[route] = exp.get(route, 0) + (1 if key in lookup_keys else 0)
    for route, n in exp.items():
        assert metrics["routes"][route]["matched_rows"] == n, route


def test_idempotent_resume(spark, seq_data, tmp_path_factory):
    """Kill-and-resume: partially committed manifest -> resume commits
    only missing sinks; final state identical to a clean run."""
    out = str(tmp_path_factory.mktemp("pipe_resume"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"], lookup_path=seq_data["lookup"], out_dir=out
    )
    m1 = run_pipeline(spark, cfg)
    manifest_path = os.path.join(out, "_MANIFEST.json")
    with open(manifest_path) as f:
        manifest = json.load(f)

    # simulate a crash that lost two sinks after commit of the rest
    lost = sorted(manifest["routes"])[:2]
    for route in lost:
        del manifest["routes"][route]
        shutil.rmtree(os.path.join(out, "sinks", f"route={route}"))
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    m2 = run_pipeline(spark, cfg)
    # only the lost routes were rewritten
    assert set(m2["skipped_previously_committed"]) == set(m1["routes"]) - set(lost)
    assert set(m2["committed"]) == set(m1["routes"])
    # sinks byte-stable row content: counts match the aggregates again
    expected, _ = python_oracle(seq_data["seq_dir"])
    for route in lost:
        t = pads.dataset(os.path.join(out, "sinks", f"route={route}")).to_table()
        assert t.num_rows == expected[route]["rows"]

    # third run: everything skipped, nothing rewritten
    m3 = run_pipeline(spark, cfg)
    assert m3["skipped_previously_committed"] == sorted(expected)


def test_no_python_udf_in_plan(spark, seq_data):
    """North rule: zero per-row Python — the plan must contain no
    BatchEvalPython/ArrowEvalPython nodes (BASELINE.json:6)."""
    from logstash_filter_elasticsearch_spark.pipeline import build_enriched

    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"], lookup_path=seq_data["lookup"], out_dir="/tmp/x"
    )
    plan = build_enriched(spark, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_pipeline_hadoop_fs_commit(spark, seq_data, tmp_path_factory):
    """Object-store-safe commit path: out_dir with a file:// scheme
    routes every staging/publish/manifest operation through the JVM
    Hadoop FileSystem (the same code path as s3a://hdfs://gs://) —
    no os.replace/os.listdir anywhere in the commit."""
    local = str(tmp_path_factory.mktemp("pipe_hfs"))
    out = "file://" + local
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
    )
    metrics = run_pipeline(spark, cfg)
    assert metrics["total_rows"] == 2000
    assert os.path.exists(os.path.join(local, "_MANIFEST.json"))
    assert os.path.isdir(os.path.join(local, "sinks"))
    # idempotent resume over the hadoop FS too
    again = run_pipeline(spark, cfg)
    assert sorted(again["skipped_previously_committed"]) == sorted(
        metrics["committed"]
    )


def test_route_names_with_special_chars(spark, tmp_path_factory):
    """Partition-escaped staging dirs vs manifest route keys: a route
    value needing %-escaping publishes under the escaped dir name while
    metrics/manifest use the unescaped string (no KeyError, no
    mis-named sink)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from logstash_filter_elasticsearch_spark.pipeline import build_enriched

    base = str(tmp_path_factory.mktemp("pipe_esc"))
    seq_dir = os.path.join(base, "sequences")
    os.makedirs(seq_dir)
    # doc_id grammar: route/yyyy/tsdigits-n ; use an UPPERCASE-free route
    # then inject the weird route via a direct column rewrite below.
    pq.write_table(
        pa.table({
            "doc_id": [f"web/2024/20240101000{i:03d}-{i}" for i in range(20)],
            "tokens": pa.array([[1, 2, 3]] * 20, type=pa.list_(pa.int32())),
            "n_tok": pa.array([3] * 20, type=pa.int32()),
            "source": ["s"] * 20,
        }),
        os.path.join(seq_dir, "part-0.parquet"),
    )
    payload_t = pa.struct([("response", pa.int64())])
    pq.write_table(
        pa.table({
            "join_key": ["web"],
            "payload": pa.array([{"response": 200}], type=payload_t),
        }),
        os.path.join(base, "lookup.parquet"),
    )
    out = os.path.join(base, "out")
    cfg = PipelineConfig(
        sequences_path=seq_dir,
        lookup_path=os.path.join(base, "lookup.parquet"),
        out_dir=out,
        fields={"payload.response": "resp_code"},
        docinfo_fields={},
        aggregation_fields={},
        sort=[],
    )
    # monkeypatch build: rewrite route to a value Spark must %-escape
    import logstash_filter_elasticsearch_spark.pipeline as pl

    orig = pl.build_enriched
    try:
        pl.build_enriched = lambda s, c: orig(s, c).withColumn(
            "route", F.lit("a b:c")
        )
        metrics = run_pipeline(spark, cfg)
    finally:
        pl.build_enriched = orig
    assert metrics["routes"]["a b:c"]["rows"] == 20
    sinks = os.listdir(os.path.join(out, "sinks"))
    assert len(sinks) == 1 and sinks[0].startswith("route=")
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert "a b:c" in manifest["routes"]


def test_hadoopfs_overwrite_rename_no_delete_window(spark, tmp_path_factory):
    """The manifest swap must never pass through a deleted state:
    FileContext OVERWRITE rename replaces dst in one FS call. Also
    exercises the park-at-.prev fallback (schemes with no
    AbstractFileSystem) and its crash window directly."""
    from logstash_filter_elasticsearch_spark.fsio import HadoopFS

    local = str(tmp_path_factory.mktemp("fsio"))
    fs = HadoopFS(spark, "file://" + local)
    dst = f"file://{local}/m.json"

    fs.write_text_atomic(dst, "v1")
    assert fs.read_text(dst) == "v1"
    # overwrite an existing dst through the FileContext path
    fs.write_text_atomic(dst, "v2")
    assert fs.read_text(dst) == "v2"
    assert not os.path.exists(os.path.join(local, "m.json.prev"))

    # fallback path: park-then-move keeps the old file at .prev
    tmp = f"file://{local}/m.json.tmp"
    stream = fs._fs.create(fs._path(tmp), True)
    stream.write(bytearray(b"v3"))
    stream.close()
    fs._rename_via_park(tmp, dst)
    assert fs.read_text(dst) == "v3"
    assert fs.read_text(dst + ".prev") == "v2"


def test_manifest_torn_publish_recovers_from_prev(tmp_path_factory):
    """Crash between 'park old manifest at .prev' and 'move new one in'
    (non-atomic object-store rename): resume must load .prev and keep
    every committed route instead of forgetting them all."""
    from logstash_filter_elasticsearch_spark.checkpoint import Manifest
    from logstash_filter_elasticsearch_spark.fsio import LocalFS

    base = str(tmp_path_factory.mktemp("manifest_prev"))
    path = os.path.join(base, "_MANIFEST.json")
    m = Manifest(path)
    m.commit_route("web", "r1", {"rows": 10}, {"files": ["f"]})
    m.commit_route("news", "r1", {"rows": 3}, {"files": ["g"]})

    # simulate the torn window: main parked at .prev, new never landed
    os.rename(path, path + ".prev")
    assert not os.path.exists(path)

    resumed = Manifest(path, LocalFS())
    assert resumed.committed_routes == {"web", "news"}
    assert resumed.route_entry("web")["metrics"]["rows"] == 10
    # next flush re-materializes the main manifest
    resumed.flush()
    assert os.path.exists(path)


def test_snapshot_publish_mode(spark, seq_data, tmp_path_factory):
    """Iceberg-style snapshot commit on our own machinery: sinks are
    immutable per-run dirs, publish is ONLY the manifest pointer swap
    (no data rename ever), readers resolve through the manifest, crash
    debris is GC'd once unreferenced."""
    from logstash_filter_elasticsearch_spark.pipeline import committed_route_paths

    out = str(tmp_path_factory.mktemp("pipe_snap"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
        publish_mode="snapshot",
    )
    m1 = run_pipeline(spark, cfg)
    expected, _ = python_oracle(seq_data["seq_dir"])
    assert sorted(m1["committed"]) == sorted(expected)
    # no rename-mode sinks dir; data lives under snapshots/<run_id>/
    assert not os.path.exists(os.path.join(out, "sinks"))
    paths = committed_route_paths(out)
    assert set(paths) == set(expected)
    for route, p in paths.items():
        assert f"snapshots/{m1['run_id']}/" in p
        t = pads.dataset(p).to_table()
        assert t.num_rows == expected[route]["rows"]

    # resume: everything skipped, no new snapshot dir kept
    m2 = run_pipeline(spark, cfg)
    assert sorted(m2["skipped_previously_committed"]) == sorted(expected)
    snaps = os.listdir(os.path.join(out, "snapshots"))
    assert snaps == [m1["run_id"]]  # m2's empty run dir was GC'd

    # crash-resume: forget one route -> only it is rewritten, into a NEW
    # run dir; the old dir survives (other routes still point there)
    manifest_path = os.path.join(out, "_MANIFEST.json")
    manifest = json.load(open(manifest_path))
    victim = sorted(expected)[0]
    del manifest["routes"][victim]
    json.dump(manifest, open(manifest_path, "w"))
    m3 = run_pipeline(spark, cfg)
    assert set(m3["skipped_previously_committed"]) == set(expected) - {victim}
    paths3 = committed_route_paths(out)
    assert f"snapshots/{m3['run_id']}/" in paths3[victim]
    assert f"snapshots/{m1['run_id']}/" in paths3[sorted(expected)[1]]
    t = pads.dataset(paths3[victim]).to_table()
    assert t.num_rows == expected[victim]["rows"]
    assert set(os.listdir(os.path.join(out, "snapshots"))) == {
        m1["run_id"], m3["run_id"]
    }

    # debris GC: a record-less dir gets the same grace window as a
    # crashed run (it may be a concurrent writer whose manifest record
    # was clobbered) — fresh it survives, aged past the grace it goes
    debris = os.path.join(out, "snapshots", "deadbeef0000")
    os.makedirs(debris)
    open(os.path.join(debris, "junk"), "w").write("x")
    run_pipeline(spark, cfg)
    assert os.path.exists(debris)  # younger than snapshot_gc_grace_s
    old = time.time() - cfg.snapshot_gc_grace_s - 60
    os.utime(debris, (old, old))
    run_pipeline(spark, cfg)
    assert not os.path.exists(debris)

    with pytest.raises(ValueError, match="publish_mode"):
        run_pipeline(
            spark,
            PipelineConfig(
                sequences_path=seq_data["seq_dir"],
                lookup_path=seq_data["lookup"],
                out_dir=out,
                publish_mode="nope",
            ),
        )


def test_epoch_overflow_quarantined_not_job_abort(spark):
    """A doc_id whose epoch has more digits than a long can hold passes
    the grammar regex but must be QUARANTINED, not abort the job with
    an ANSI cast overflow."""
    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids

    df = spark.createDataFrame(
        [
            ("web/2024/202401010000-17",),
            ("web/2024/202401010000-99999999999999999999999999",),
            ("junk",),
        ],
        "doc_id string",
    )
    rows = {r["doc_id"]: r for r in parse_doc_ids(df, "doc_id").collect()}
    ok = rows["web/2024/202401010000-17"]
    assert ok["parse_ok"] and ok["epoch"] == 17
    over = rows["web/2024/202401010000-99999999999999999999999999"]
    assert not over["parse_ok"] and over["epoch"] is None
    assert "_grokparsefailure" in over["tags"]
    assert not rows["junk"]["parse_ok"]


def test_snapshot_gc_protects_inflight_runs(spark, seq_data, tmp_path_factory):
    """A concurrent run's staging dir (recent run record, no
    finished_at) must survive another run's GC; once its grace expires
    it is reclaimed as crashed debris."""
    import time as _t

    out = str(tmp_path_factory.mktemp("pipe_gc"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
        publish_mode="snapshot",
    )
    run_pipeline(spark, cfg)

    # simulate an in-flight concurrent run: run record without
    # finished_at + its (still-writing) snapshot dir
    mp = os.path.join(out, "_MANIFEST.json")
    m = json.load(open(mp))
    m["runs"].append({"run_id": "feedfeedfeed", "started_at": _t.time()})
    json.dump(m, open(mp, "w"))
    inflight = os.path.join(out, "snapshots", "feedfeedfeed")
    os.makedirs(inflight)
    open(os.path.join(inflight, "part-x"), "w").write("d")

    run_pipeline(spark, cfg)
    assert os.path.exists(inflight)  # protected within grace

    cfg_fast = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
        publish_mode="snapshot",
        snapshot_gc_grace_s=0.0,
    )
    run_pipeline(spark, cfg_fast)
    assert not os.path.exists(inflight)  # grace expired -> crashed debris


def test_sink_format_orc_end_to_end(spark, seq_data, tmp_path_factory):
    """sink_format is a real parameter, not parquet-only plumbing: the
    same pipeline (staged write, typed metrics read-back, publish,
    resume) runs under ORC — the shape an Iceberg jar would slot into."""
    out = str(tmp_path_factory.mktemp("pipe_orc"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
        sink_format="orc",
    )
    metrics = run_pipeline(spark, cfg)
    expected, _ = python_oracle(seq_data["seq_dir"])
    assert {r: m["rows"] for r, m in metrics["routes"].items()} == {
        r: e["rows"] for r, e in expected.items()
    }
    # sinks really are ORC files, readable back with row equality
    some_route = sorted(expected)[1]
    sink = os.path.join(out, "sinks", f"route={some_route}")
    files = [f for f in os.listdir(sink) if f.endswith(".orc") or f.startswith("part-")]
    assert files
    back = spark.read.orc(sink)
    assert back.count() == expected[some_route]["rows"]
    # resume skips everything, same as parquet mode
    again = run_pipeline(spark, cfg)
    assert sorted(again["skipped_previously_committed"]) == sorted(expected)


def _iceberg_available(spark) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_sink_format_iceberg_smoke(spark, seq_data, tmp_path_factory):
    """Environment-gated real-Iceberg smoke: where the runtime jar is
    on the classpath, the same pipeline runs with sink_format=iceberg;
    without it (this sandbox ships no Iceberg jar and installs are
    unavailable) the test skips and the snapshot publish_mode remains
    the documented stand-in for Iceberg's immutable-dir + pointer-swap
    commit protocol."""
    if not _iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the Spark classpath")
    out = str(tmp_path_factory.mktemp("pipe_iceberg"))
    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"],
        lookup_path=seq_data["lookup"],
        out_dir=out,
        sink_format="iceberg",
    )
    metrics = run_pipeline(spark, cfg)
    expected, _ = python_oracle(seq_data["seq_dir"])
    assert {r: m["rows"] for r, m in metrics["routes"].items()} == {
        r: e["rows"] for r, e in expected.items()
    }
