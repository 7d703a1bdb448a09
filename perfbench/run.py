"""Closed-loop benchmark of the enrichment engine.

    python3 perfbench/run.py --workload pipeline_fanout --seed 1 --seconds 16 --trace 0

Run from the repository root. One client in this process drives one
workload with no think time at ``local[<cpus>]``:

* ``pipeline_fanout`` calls ``run_pipeline`` on a generated sequence
  table (parse, broadcast enrich, fan-out parquet write, publish);
* ``query_mix`` runs passes over a fixed set of ``queries()`` entries
  into the noop sink, in a seed-shuffled order; the last pass stops at
  the end of the measured window.

Every output is checked outside the timed region: pipeline sinks for row
and token conservation and per-route counts; each query execution's row
count, and in a final untimed pass each query's collected result,
against its ``oracle_sql()`` DuckDB twin. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import StatusStore, Tracer

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PACKAGE = ROOT / "logstash_filter_elasticsearch_spark"

# Enricher min_by and multi-hit paths, ES|QL and template translation, and
# the three slowest similarity leaves
QUERIES = [
    "enrich_left_join", "fields_multi_hit", "esql_stats_by", "esql_enrich",
    "query_template_render", "ngram_jaccard", "minhash_lsh", "ann_ivf",
]
WORKLOADS = ("pipeline_fanout", "query_mix")
# input sizes (pipeline rows, query-table scale factor); a run's fixed
# set-up and warm-up dominate, so larger inputs buy fewer measured
# operations per run (README.md, "Why two workloads")
SIZES = {"full": (200_000, 0.05), "smoke": (20_000, 0.001)}
PIPELINE_FILES = 4
SETUP_SAMPLES = 3
CACHE_KEEP = 4
QUARANTINE = "_quarantine"


# ------------------------------------------------------------ environment

def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout."""
    for d in ("spark-local", "tmp", "cache", "work", "traces"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["LFES_LOCAL_DIR"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # no /tmp/hsperfdata_<user> file either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    # Python workers import the package's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, str(ROOT))


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cached_inputs(kind: str, size, seed: int, make) -> tuple[Path, float]:
    """Generated inputs for (kind, size, seed), made once and kept for the
    next run with the same key. Returns the directory and the seconds
    generation took when it ran."""
    d = WORK / "cache" / f"{kind}-{size}-seed{seed}"
    marker = d / "_GENERATED.json"
    if marker.exists():
        os.utime(d)
        return d, json.loads(marker.read_text())["gen_s"]
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    make(str(d))
    gen_s = time.perf_counter() - t0
    marker.write_text(json.dumps({"gen_s": gen_s}))
    entries = sorted((WORK / "cache").iterdir(), key=lambda p: p.stat().st_mtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return d, gen_s


# ------------------------------------------------------------ sessions

def start_session(cores: int):
    """get_spark plus one small shuffle job; returns (spark, start_s, warmup_s)."""
    from logstash_filter_elasticsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores)
    t1 = time.perf_counter()
    spark.range(200_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    return spark, t1 - t0, time.perf_counter() - t1


def time_restarts(spark, cores: int, stats: dict):
    """setup_s: the median of in-process session restarts, taken after
    the workload, once the JVM's start-up compilation no longer competes
    with them."""
    samples = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores)[0]
        samples.append(time.perf_counter() - t0)
    stats["setup_s"] = statistics.median(samples)


def shut_down() -> None:
    """Stop the session and the gateway JVM (which takes its Python
    workers with it), and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def environment_record(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf().getAll()
    return {
        "nproc": cores,
        "spark": spark.version,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "conf": {k: v for k, v in sorted(conf) if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory", "spark.local.dir"))},
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ statistics

def tail(values: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile with at least ten
    samples above it (nearest rank), or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(values)[math.ceil(p / 100 * n) - 1]


def describe(name: str, values: list[float], unit: str = "s") -> str:
    t = tail(values)
    tail_text = f"p{t[0]}={t[1]:.4f}" if t else "tail n/a (<11 samples)"
    return f"{name}: median={statistics.median(values):.4f} {unit} {tail_text} n={len(values)}"


# ------------------------------------------------------------ pipeline_fanout

def pipeline_expectations(seq_dir: Path) -> dict:
    """Per-route rows and input totals counted by DuckDB over the
    generated parquet, independently of the engine's parser: a doc_id in
    the documented "{source}/{shard:04d}/{seq:012d}-{epoch}" form routes
    to its source, anything else to quarantine."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CASE WHEN regexp_full_match(doc_id, '[a-z][a-z0-9_]*/[0-9]{{4}}/[0-9]{{12}}-[0-9]+')
                        THEN split_part(doc_id, '/', 1) ELSE '{QUARANTINE}' END AS route,
                   count(*), sum(n_tok)
            FROM read_parquet('{seq_dir}/*.parquet') GROUP BY 1"""
    ).fetchall()
    return {
        "routes": {r: (int(n), int(t)) for r, n, t in rows},
        "rows": sum(int(n) for _, n, _ in rows),
        "tokens": sum(int(t) for _, _, t in rows),
        "bytes": sum(p.stat().st_size for p in seq_dir.glob("*.parquet")),
    }


def check_pipeline(result: dict, out_dir: Path, expect: dict) -> list[str]:
    """Conservation and per-route counts, from the returned metrics and
    from the committed sink files."""
    import duckdb

    problems = []
    if result["total_rows"] != expect["rows"]:
        problems.append(f"rows: input {expect['rows']} != routed {result['total_rows']}")
    if result["total_tokens"] != expect["tokens"]:
        problems.append(f"tokens: input {expect['tokens']} != routed {result['total_tokens']}")
    reported = {r: (m["rows"], m["sum_n_tok"]) for r, m in result["routes"].items()}
    sink = duckdb.connect().execute(
        f"""SELECT route, count(*), sum(n_tok) FROM read_parquet('{out_dir}/sinks/*/*.parquet',
            hive_partitioning = true, hive_types = {{'route': VARCHAR}}) GROUP BY route"""
    ).fetchall()
    written = {r: (int(n), int(t)) for r, n, t in sink}
    for label, got in (("reported", reported), ("sink", written)):
        if got != expect["routes"]:
            problems.append(f"{label} per-route (rows, tokens) {got} != expected {expect['routes']}")
    return problems


def sink_stats(out_dir: Path) -> tuple[int, int]:
    files = [p for p in (out_dir / "sinks").rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def run_pipeline_workload(spark, ctx: dict) -> list[dict]:
    from logstash_filter_elasticsearch_spark.data.gen import write_dataset
    from logstash_filter_elasticsearch_spark.operators.enrich import EnrichSpec, Enricher
    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids
    from logstash_filter_elasticsearch_spark.pipeline import (
        PipelineConfig,
        build_enriched,
        run_pipeline,
    )

    rows = ctx["rows"]
    data, ctx["gen.s"] = cached_inputs(
        "pipeline", rows, ctx["seed"],
        lambda d: write_dataset(d, n_rows=rows, seed=ctx["seed"], rows_per_file=rows // PIPELINE_FILES, mean_tok=48),
    )
    seq_dir, lookup = data / "sequences", data / "lookup.parquet"
    expect = pipeline_expectations(seq_dir)
    work = WORK / "work" / str(os.getpid())
    store = ctx.get("store")

    def iteration(i: int, tracer, deadline) -> dict:
        cfg = PipelineConfig(sequences_path=str(seq_dir), lookup_path=str(lookup), out_dir=str(work / f"out-{i}"))
        rec: dict = {"attempted": 1}
        if tracer.enabled:
            store.counts_since_mark()
        try:
            with tracer.span("run_pipeline") as s:
                t0 = time.perf_counter()
                result = run_pipeline(spark, cfg)
                rec["op_s"] = time.perf_counter() - t0
        except Exception as e:  # counted in `failed`, the loop goes on
            traceback.print_exc()
            shutil.rmtree(cfg.out_dir, ignore_errors=True)
            return {**rec, "failed": 1, "problems": [f"run_pipeline raised {type(e).__name__}"]}
        if tracer.enabled:
            s.counts = dict(store.counts_since_mark())
            rec.update(s.counts, phases=result["phase_seconds"], routes=result["routes"])
            rec["exec.s"] = rec["op_s"]
            rec.update(layer_probes(tracer, cfg))
        rec["problems"] = check_pipeline(result, Path(cfg.out_dir), expect)
        rec["failed"] = int(bool(rec["problems"]))
        rec["sink.files"], rec["sink.bytes"] = sink_stats(Path(cfg.out_dir))
        shutil.rmtree(cfg.out_dir, ignore_errors=True)
        spark.catalog.clearCache()
        return rec

    def layer_probes(tracer, cfg) -> dict:
        """Each public call of the pipeline's plan on its own, into the
        noop sink, after the run_pipeline call has warmed the same plan."""
        spec = EnrichSpec(
            event_key="join_key", lookup_key="join_key", fields=cfg.fields,
            docinfo_fields=cfg.docinfo_fields, aggregation_fields=cfg.aggregation_fields,
            result_size=cfg.result_size, sort=cfg.sort, add_tag_on_match=cfg.add_tag_on_match,
        )
        with tracer.span("build_enriched") as build:
            enriched = build_enriched(spark, cfg)
        with tracer.span("build_enriched.exec") as plan:
            noop(enriched)
        with tracer.span("parse_doc_ids") as parse:
            noop(parse_doc_ids(spark.read.parquet(str(seq_dir))))
        with tracer.span("prepare_lookup") as prepare:
            noop(Enricher(spec).prepare_lookup(spark.read.parquet(str(lookup))))
        return {
            "build.s": build.seconds, "plan_noop_s": plan.seconds,
            "parse.s": parse.seconds, "enrich.prepare_s": prepare.seconds,
        }

    records = closed_loop(ctx, iteration, warmup=4)
    for r in records:
        if "op_s" not in r:
            continue
        r["sink.bytes_per_input_byte"] = r["sink.bytes"] / expect["bytes"]
        if "phases" in r:
            ph = r.pop("phases")
            r["pipeline.write_job_s"] = ph["write_job_s"]
            r["pipeline.metrics_agg_s"] = ph.get("metrics_agg_s", 0.0)
            r["pipeline.publish_s"] = ph["publish_s"]
            r["pipeline.write_only_s"] = ph["write_job_s"] - r["plan_noop_s"]
            r["enrich.probe_s"] = r["plan_noop_s"] - r["parse.s"]
            routes = r.pop("routes")
            r["parse.quarantine_rows"] = routes.get(QUARANTINE, {}).get("rows", 0)
            r["enrich.matched_ratio"] = sum(m["matched_rows"] for m in routes.values()) / expect["rows"]
    ctx["input_rows"] = expect["rows"]
    return records


# ------------------------------------------------------------ query workloads

def frames_differ(spark_pdf, oracle_pdf) -> str | None:
    """The comparison of tools/check_oracle.py: row count, column names,
    then its order-insensitive multiset of normalized rows."""
    from tools.check_oracle import rows_to_multiset

    if len(spark_pdf) != len(oracle_pdf):
        return f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"schema spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    ms, mo = (rows_to_multiset(list(p.columns), p.itertuples(index=False, name=None))
              for p in (spark_pdf, oracle_pdf))
    if ms != mo:
        return f"values spark-only={list((ms - mo).items())[:2]} oracle-only={list((mo - ms).items())[:2]}"
    return None


def oracle_frames(names: list[str], sf_dir: Path) -> dict:
    """The result of each query's ``oracle_sql()`` DuckDB twin."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads = {cpu_count()}")
    for p in sf_dir.glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return {name: con.execute(oracles[name]).df() for name in names}


def run_query_workload(spark, ctx: dict, names: list[str]) -> list[dict]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    from tables import write_tables

    sf = ctx["sf"]
    sf_dir, ctx["gen.s"] = cached_inputs(
        "tables", sf, ctx["seed"], lambda d: write_tables(d, sf, ctx["seed"])
    )
    t0 = time.perf_counter()
    expected = oracle_frames(names, sf_dir)
    ctx["wall"]["oracle"] = time.perf_counter() - t0
    queries = entry.queries()
    order_rng = random.Random(ctx["seed"])
    store = ctx.get("store")

    def one_pass(i: int, tracer, deadline) -> dict:
        """Every query into noop, or those that start before ``deadline``;
        each execution's row count, observed in the same job, is checked
        against its oracle's."""
        order = list(names)
        order_rng.shuffle(order)
        rec: dict = {"steps": {}, "problems": [], "attempted": 0}
        if tracer.enabled:
            store.counts_since_mark()
        for name in order:
            if deadline is not None and time.perf_counter() >= deadline:
                break
            rec["attempted"] += 1
            try:
                with tracer.span(f"{name}.build") as b:
                    t0 = time.perf_counter()
                    df = queries[name](spark, str(sf_dir))
                    built = time.perf_counter() - t0
                observed = Observation()
                df = df.observe(observed, F.count(F.lit(1)).alias("rows"))
                with tracer.span(f"{name}.exec") as s:
                    t0 = time.perf_counter()
                    noop(df)
                    ran = time.perf_counter() - t0
                rows = observed.get["rows"]
            except Exception as e:  # counted in `failed`, the loop goes on
                traceback.print_exc()
                rec["problems"].append(f"{name} raised {type(e).__name__}")
                continue
            rec["steps"][name] = built + ran
            if rows != len(expected[name]):
                rec["problems"].append(f"{name}: {rows} rows, oracle {len(expected[name])}")
            if tracer.enabled:
                counts = store.counts_since_mark()
                s.counts = dict(counts)
                rec[f"{name}.build_s"], rec[f"{name}.exec_s"] = b.seconds, s.seconds
                rec[f"{name}.python_bytes_sent"] = counts.get("python.bytes_sent", 0.0)
                skew = max(rec.get("task.skew", 1.0), counts.pop("task.skew"))
                for k, v in counts.items():
                    rec[k] = rec.get(k, 0) + v
                rec["task.skew"] = skew
        if len(rec["steps"]) == len(order):
            rec["op_s"] = sum(rec["steps"].values())
        if tracer.enabled:
            rec["build.s"] = sum(rec[f"{n}.build_s"] for n in rec["steps"])
            rec["exec.s"] = sum(rec[f"{n}.exec_s"] for n in rec["steps"])
        rec["failed"] = len(rec["problems"])
        spark.catalog.clearCache()
        return rec

    def verification_pass() -> dict:
        """After the timed loop: every query collected and compared with
        its oracle row by row."""
        rec: dict = {"problems": [], "attempted": len(names)}
        for name in names:
            try:
                got = queries[name](spark, str(sf_dir)).toPandas()
            except Exception as e:  # counted in `failed`
                traceback.print_exc()
                rec["problems"].append(f"{name} raised {type(e).__name__} in the verification pass")
                continue
            ctx["rows_out"][name] = len(got)
            problem = frames_differ(got, expected[name])
            if problem:
                rec["problems"].append(f"{name}: {problem}")
        rec["failed"] = len(rec["problems"])
        spark.catalog.clearCache()
        return rec

    records = closed_loop(ctx, one_pass, warmup=1)
    t0 = time.perf_counter()
    ctx["rows_out"] = {n: 0 for n in names}
    records.append(verification_pass())
    ctx["wall"]["verify"] = time.perf_counter() - t0
    return records


# ------------------------------------------------------------ the loop

def closed_loop(ctx: dict, operation, warmup: int) -> list[dict]:
    """Warm-up operations, then operations back to back until
    ``seconds`` have passed (at least two when traced). Each operation
    after those first ones gets the end of the window as its deadline,
    so a query pass stops there instead of running past it. A traced
    run alternates untraced and traced operations so the tracing
    overhead is measured in the same window."""
    off = Tracer("", enabled=False)
    t0 = time.perf_counter()
    records = []
    for i in range(warmup):
        records.append(operation(i, off, None))
    steal0 = cpu_steal_ticks()
    ctx["wall"]["warmup"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    deadline = t0 + ctx["seconds"]
    first = 2 if ctx["trace"] else 1
    n = 0
    while True:
        traced = ctx["trace"] and n % 2 == 1
        tracer = ctx["tracer"] if traced else off
        with tracer.span("operation"):
            rec = operation(len(records), tracer, deadline if n >= first else None)
        n += 1
        rec["traced"] = traced
        rec["timed"] = True
        records.append(rec)
        if time.perf_counter() >= deadline and n >= first:
            break
    ctx["wall"]["timed"] = time.perf_counter() - t0
    steal1 = cpu_steal_ticks()
    ctx["steal_pct"] = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    return records


# ------------------------------------------------------------ reporting

PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.peak_rss_mb", "MB"), ("gen.s", "s"),
    ("build.s", "s"), ("exec.s", "s"), ("trace.overhead_s", "s"),
    ("task.run_s", "s"), ("task.cpu_s", "s"), ("task.gc_s", "s"),
    ("task.count", "count"), ("task.skew", "ratio"),
    ("shuffle.bytes_written", "B"), ("spill.bytes", "B"), ("task.peak_mem_bytes", "B"),
    ("python.bytes_sent", "B"), ("python.bytes_returned", "B"),
    ("sink.bytes", "B"), ("sink.files", "count"), ("sink.bytes_per_input_byte", "ratio"),
    ("parse.quarantine_rows", "count"), ("enrich.matched_ratio", "ratio"),
]
# layer times that only some workloads have: printed, not in the JSON line
LAYER_TABLE_ONLY = [
    ("parse.s", "s"), ("enrich.prepare_s", "s"), ("enrich.probe_s", "s"),
    ("pipeline.write_job_s", "s"), ("pipeline.write_only_s", "s"),
    ("pipeline.metrics_agg_s", "s"), ("pipeline.publish_s", "s"),
    ("pipeline.unattributed_s", "s"), ("sort.time_ms", "ms"),
    ("python.worker_start_ms", "ms"), ("python.worker_init_ms", "ms"), ("python.run_ms", "ms"),
]


# the layers a run_pipeline call's time is split into
ATTRIBUTION = [
    "parse.s", "enrich.probe_s", "pipeline.write_only_s", "pipeline.metrics_agg_s",
    "pipeline.publish_s", "pipeline.unattributed_s",
]


def median_of(records: list[dict], key: str) -> float:
    values = [r[key] for r in records if key in r]
    return statistics.median(values) if values else 0.0


def end_to_end(ctx: dict, timed: list[dict]) -> dict:
    ops = [r["op_s"] for r in timed if "op_s" in r]
    if not ops:
        raise RuntimeError("no timed operation completed")
    if ctx["workload"] == "pipeline_fanout":
        steps = {"run_pipeline": ops}
    else:
        steps = {}
        for r in timed:
            for name, s in r["steps"].items():
                steps.setdefault(name, []).append(s)
    medians = [statistics.median(v) for v in steps.values()]
    geomean = math.exp(statistics.fmean(math.log(m) for m in medians))
    print(describe("whole operations", ops) + " ops: " + " ".join(f"{v:.3f}" for v in ops))
    for name, v in sorted(steps.items()):
        print("  " + describe(f"step {name}", v))
    print(describe("single step (all)", [s for v in steps.values() for s in v]))
    print(f"driver_peak_rss_mb: {ctx['session.peak_rss_mb']:.1f} MB")
    if ctx["workload"] == "pipeline_fanout":
        print(f"pipeline_rows_per_s: {ctx['input_rows'] / statistics.median(ops):.1f} 1/s")
        print(f"sink_bytes_per_input_byte: {median_of(timed, 'sink.bytes_per_input_byte'):.4f}")
    return {
        "setup_s": (ctx["setup_s"], "s"),
        "pass_s": (sum(medians), "s"),
        "step_s_geomean": (geomean, "s"),
    }


def per_layer(ctx: dict, timed: list[dict]) -> dict:
    whole = [r for r in timed if "op_s" in r]
    traced = [r for r in whole if r["traced"]]
    plain = [r for r in whole if not r["traced"]]
    values = {k: median_of(traced, k) for k, _ in PER_LAYER + LAYER_TABLE_ONLY}
    for k in ("session.start_s", "session.warmup_s", "session.peak_rss_mb", "gen.s"):
        values[k] = ctx[k]
    values["trace.overhead_s"] = median_of(traced, "op_s") - median_of(plain, "op_s")
    if ctx["workload"] == "pipeline_fanout":
        for k in ("sink.bytes", "sink.files", "sink.bytes_per_input_byte"):
            values[k] = median_of(timed, k)
        # the part of the median run_pipeline time no named layer covers,
        # so that the layers add up to it exactly
        values["pipeline.unattributed_s"] = median_of(traced, "op_s") - sum(
            values[k] for k in ATTRIBUTION[:-1]
        )
    print(f"layer table ({len(traced)} traced, {len(plain)} untraced operations; medians):")
    for k, unit in PER_LAYER + LAYER_TABLE_ONLY:
        print(f"  {k:<28} {values[k]:>16.4f} {unit}")
    if ctx["workload"] == "pipeline_fanout":
        print("  run_pipeline median = " + " + ".join(f"{p} {values[p]:.3f}" for p in ATTRIBUTION)
              + f" = {median_of(traced, 'op_s'):.3f} s")
    else:
        for name in sorted(ctx["rows_out"]):
            print(f"  {name:<28} build_s={median_of(traced, name + '.build_s'):.4f} "
                  f"exec_s={median_of(traced, name + '.exec_s'):.4f} rows_out={ctx['rows_out'][name]} "
                  f"python_bytes_sent={median_of(traced, name + '.python_bytes_sent'):.0f}")
    return {k: (values[k], unit) for k, unit in PER_LAYER}


def run(args) -> dict:
    cores = cpu_count()
    rows, sf = SIZES["smoke" if args.smoke else "full"]
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "rows": rows, "sf": sf,
        "tracer": Tracer(run_id, enabled=bool(args.trace)), "wall": {},
    }
    t0 = time.perf_counter()
    try:
        # the first start launches the JVM
        spark, ctx["session.start_s"], ctx["session.warmup_s"] = start_session(cores)
        ctx["wall"]["setup"] = time.perf_counter() - t0
        env = environment_record(spark, cores)
        print("env " + json.dumps(env, sort_keys=True))
        if args.trace:
            ctx["store"] = StatusStore(spark)
        if args.workload == "pipeline_fanout":
            records = run_pipeline_workload(spark, ctx)
        else:
            records = run_query_workload(spark, ctx, QUERIES)
        from pyspark import SparkContext

        ctx["session.peak_rss_mb"] = vm_hwm_mb(SparkContext._gateway.proc.pid)
        t1 = time.perf_counter()
        time_restarts(spark, cores, ctx)
        ctx["wall"]["restarts"] = time.perf_counter() - t1
    finally:
        shut_down()
        shutil.rmtree(WORK / "work" / str(os.getpid()), ignore_errors=True)

    ctx["wall"]["total"] = time.perf_counter() - t0
    print("wall: " + " ".join(f"{k}={v:.1f}s" for k, v in ctx["wall"].items()))
    timed = [r for r in records if r.get("timed")]
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    for r in records:
        for p in r["problems"]:
            print(f"FAILED: {p}", file=sys.stderr)
    print(f"steal_pct: {ctx['steal_pct']:.2f}  error_rate: {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"setup: cold start {ctx['session.start_s']:.3f} s + warm-up {ctx['session.warmup_s']:.3f} s; "
          f"setup_s (median of {SETUP_SAMPLES} restarts) {ctx['setup_s']:.4f} s; gen.s {ctx['gen.s']:.3f} s")
    if args.trace:
        metrics = per_layer(ctx, timed)
        spans = WORK / "traces" / f"{run_id}.json"
        spans.write_text(json.dumps({"env": env, "spans": ctx["tracer"].records()}))
        print(f"spans: {spans.relative_to(ROOT)}")
    else:
        metrics = end_to_end(ctx, timed)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: the engine sources are missing under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
