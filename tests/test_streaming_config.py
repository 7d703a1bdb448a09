"""Streaming pipeline + config-validation tests."""

import os
import shutil
import time

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.config import ConfigError, QueryConfig, check_tables
from logstash_filter_elasticsearch_spark.streaming.pipeline import (
    run_streaming_pipeline,
    windowed_source_counts,
)


def test_streaming_fanout_matches_batch(spark, seq_data, tmp_path):
    """availableNow stream over the same input: routed rows equal the
    batch pipeline's totals; quarantine preserved."""
    out = str(tmp_path / "stream_out")
    q = run_streaming_pipeline(
        spark,
        seq_data["seq_dir"],
        seq_data["lookup"],
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    total = 0
    quarantined = 0
    for batch_dir in os.listdir(out):
        ds = pads.dataset(os.path.join(out, batch_dir)).to_table(columns=["doc_id", "tags"])
        total += ds.num_rows
        quarantined += sum(
            1 for t in ds.column("tags").to_pylist() if t and "_grokparsefailure" in t
        )
    assert total == 2000  # every input row delivered exactly once
    assert quarantined > 0


@pytest.fixture(scope="module")
def ordered_source(seq_data, tmp_path_factory):
    """The seq_data files copied with strictly increasing mtimes: a file
    source with maxFilesPerTrigger=1 reads them one micro-batch per
    file, oldest first. Returns (dir, file names in batch order)."""
    src = seq_data["seq_dir"]
    dst = str(tmp_path_factory.mktemp("ordered_src"))
    names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    base = time.time() - 3600
    for i, name in enumerate(names):
        shutil.copy(os.path.join(src, name), os.path.join(dst, name))
        os.utime(os.path.join(dst, name), (base + 60 * i, base + 60 * i))
    return dst, names


def _parsed_events(df):
    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids

    return parse_doc_ids(df).filter(F.col("parse_ok")).withColumn(
        "ts", F.to_timestamp(F.from_unixtime(F.col("epoch")))
    )


def test_windowed_counts_over_micro_batches(spark, ordered_source):
    """One micro-batch per file: the streamed window counts equal a
    batch groupBy of the same windows, exactly. Complete mode re-emits
    every window on each trigger (it never drops state by watermark),
    so rows of a later file that land in earlier windows still count."""
    src, names = ordered_source
    stream = spark.readStream.schema(spark.read.parquet(src).schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    counts = windowed_source_counts(
        _parsed_events(stream), ts_col="ts", key_col="route_source"
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("windowed_micro_batches")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch_rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    assert batch_rows == [
        pq.read_metadata(os.path.join(src, n)).num_rows for n in names
    ]

    got = sorted(tuple(r) for r in spark.table("windowed_micro_batches").collect())
    want = (
        _parsed_events(spark.read.parquet(src))
        .groupBy(F.window("ts", "10 minutes").alias("win"), "route_source")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("sum_n_tok"))
        .select("win.start", "win.end", "route_source", "rows", "sum_n_tok")
    )
    assert got == sorted(tuple(r) for r in want.collect())


def test_windowed_counts_on_static(spark, seq_data):
    """Window aggregation logic validated on a static frame (same plan
    shape Structured Streaming executes incrementally)."""
    from pyspark.sql import functions as F

    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids

    df = parse_doc_ids(spark.read.parquet(seq_data["seq_dir"])).withColumn(
        "ts", F.to_timestamp(F.from_unixtime(F.col("epoch")))
    ).filter(F.col("parse_ok"))
    out = windowed_source_counts(df, ts_col="ts", key_col="route_source", window="1 hour")
    rows = out.collect()
    assert sum(r["rows"] for r in rows) == df.count()
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_query_config_validation():
    QueryConfig(query_type="dsl", query="response:404").validate()
    QueryConfig(query_type="esql", query="FROM t | WHERE a == ?x",
                query_params={"x": 1}).validate()

    with pytest.raises(ConfigError, match="only one"):
        QueryConfig(query="a", query_template="b").validate()
    with pytest.raises(ConfigError, match="Either query or"):
        QueryConfig().validate()
    with pytest.raises(ConfigError, match="empty"):
        QueryConfig(query_template="   ").validate()
    with pytest.raises(ConfigError, match="ES\\|QL-only"):
        QueryConfig(query="a", query_params={"x": 1}).validate()
    with pytest.raises(ConfigError, match="not allowed with ES"):
        QueryConfig(query_type="esql", query="FROM t",
                    dsl_params={"index": "foo"}).validate()
    with pytest.raises(Exception, match="no matching query_params"):
        QueryConfig(query_type="esql", query="FROM t | WHERE a == ?x").validate()


def test_check_tables(spark, seq_data):
    check_tables(
        spark,
        {"sequences": seq_data["seq_dir"], "lookup": seq_data["lookup"]},
        required_cols={"sequences": ["doc_id", "tokens", "n_tok", "source"],
                       "lookup": ["join_key", "payload"]},
    )
    with pytest.raises(ConfigError, match="unreadable"):
        check_tables(spark, {"nope": "/nonexistent/path"})
    with pytest.raises(ConfigError, match="missing columns"):
        check_tables(spark, {"lookup": seq_data["lookup"]},
                     required_cols={"lookup": ["not_a_column"]})


def test_stateful_first_seen_dedup(spark, ordered_source, tmp_path):
    """applyInPandasWithState dedup over one micro-batch per file:
    exactly one output row per join_key, taken from the earliest file
    that holds the key."""
    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids
    from logstash_filter_elasticsearch_spark.streaming.pipeline import (
        stateful_first_seen,
    )

    src, names = ordered_source
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1  # force multiple micro-batches
    ).parquet(src)
    parsed = parse_doc_ids(stream).filter(F.col("parse_ok")).select(
        "doc_id", "join_key", "n_tok"
    )
    deduped = stateful_first_seen(parsed, "join_key")

    out = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    file_of: dict = {}  # doc_id -> file index
    first_file: dict = {}  # join_key -> earliest file index holding it
    for i, name in enumerate(names):
        rows = (
            parse_doc_ids(spark.read.parquet(os.path.join(src, name)))
            .filter(F.col("parse_ok"))
            .select("doc_id", "join_key")
            .collect()
        )
        for r in rows:
            file_of[r["doc_id"]] = i
            first_file.setdefault(r["join_key"], i)
    assert len(set(first_file.values())) > 1  # some keys first appear later

    got = pads.dataset(out).to_table(columns=["doc_id", "join_key"]).to_pylist()
    keys = [r["join_key"] for r in got]
    assert len(keys) == len(set(keys)) == len(first_file)
    assert all(file_of[r["doc_id"]] == first_file[r["join_key"]] for r in got)


def test_session_windows_on_static(spark, seq_data):
    """Session-window logic on a static frame: sessions split exactly at
    gaps > the threshold, and totals are preserved."""
    from pyspark.sql import functions as F

    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids
    from logstash_filter_elasticsearch_spark.streaming.pipeline import (
        sessionized_counts,
    )

    df = (
        parse_doc_ids(spark.read.parquet(seq_data["seq_dir"]))
        .filter(F.col("parse_ok"))
        .withColumn("ts", F.to_timestamp(F.from_unixtime(F.col("epoch"))))
    )
    out = sessionized_counts(df, ts_col="ts", key_col="route_source", gap="5 minutes")
    rows = out.collect()
    assert sum(r["rows"] for r in rows) == df.count()
    assert all(r["session_end"] > r["session_start"] for r in rows)
    # sessions for one key never overlap
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["route_source"], []).append(
            (r["session_start"], r["session_end"])
        )
    for spans in by_key.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1
