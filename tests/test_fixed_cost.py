"""Plan build does no Spark work: the per-query fixed cost guards.

Building a query's DataFrame must start no Spark job once its tables
have been read in the session (their schemas are inferred once per
session and file listing, ``sources.tables``), and the schema memo must
never serve a stale or foreign schema.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from logstash_filter_elasticsearch_spark.sources.tables import parquet_schema, read_parquet
from test_oracle import SF_DIR
TABLES = ["events", "customer", "orders", "documents", "embeddings"]
# ann_ivf is left out: it collects its query side while building, by design
NO_JOB_QUERIES = [
    "enrich_left_join", "fields_multi_hit", "esql_stats_by", "esql_enrich",
    "query_template_render", "ngram_jaccard", "minhash_lsh",
]


def jobs_started(spark, fn):
    """(result of fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"fixed-cost-{id(fn)}-{os.urandom(4).hex()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present")
@pytest.mark.parametrize("name", NO_JOB_QUERIES)
def test_query_build_starts_no_job(spark, name):
    for t in TABLES:
        read_parquet(spark, os.path.join(SF_DIR, f"{t}.parquet"))
    _, jobs = jobs_started(spark, lambda: entry.queries()[name](spark, SF_DIR))
    spark.catalog.clearCache()
    assert jobs == 0


def test_build_enriched_starts_no_job(spark, seq_data, tmp_path):
    from logstash_filter_elasticsearch_spark.pipeline import PipelineConfig, build_enriched

    cfg = PipelineConfig(
        sequences_path=seq_data["seq_dir"], lookup_path=seq_data["lookup"], out_dir=str(tmp_path)
    )
    read_parquet(spark, cfg.sequences_path)
    read_parquet(spark, cfg.lookup_path)
    _, jobs = jobs_started(spark, lambda: build_enriched(spark, cfg))
    assert jobs == 0


def test_schema_memo_follows_the_file_listing(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).columns == ["a"]
    df, jobs = jobs_started(spark, lambda: read_parquet(spark, path))
    assert jobs == 0 and df.collect()[1]["a"] == 2  # unchanged: memo, no inference
    # rewritten in place with another schema: inferred afresh
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df, jobs = jobs_started(spark, lambda: read_parquet(spark, path))
    assert jobs == 1 and df.columns == ["b", "c"] and df.collect()[0]["c"] == 1.5
    # a directory gaining a file changes the listing too
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    assert parquet_schema(spark, str(d)).names == ["a"]
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    df, jobs = jobs_started(spark, lambda: read_parquet(spark, str(d)))
    assert jobs == 1 and sorted(r["a"] for r in df.collect()) == [1, 2]
    # ... and so does a file under it rewritten with another schema
    d2 = tmp_path / "dir2"
    d2.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d2 / "part-0.parquet"))
    assert parquet_schema(spark, str(d2)).names == ["a"]
    pq.write_table(pa.table({"z": ["q"]}), str(d2 / "part-0.parquet"))
    assert parquet_schema(spark, str(d2)).names == ["z"]


def test_schema_memo_is_per_session(spark, tmp_path):
    path = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"k": [1]}), path)
    read_parquet(spark, path)
    other = spark.newSession()
    df, jobs = jobs_started(other, lambda: read_parquet(other, path))
    assert jobs == 1 and df.columns == ["k"]  # the other session infers its own


def test_minhash_signature_values(spark):
    """The single array(min(xxhash64(_s, i)), ...) aggregate gives the
    signatures the per-permutation aggregate columns gave."""
    from logstash_filter_elasticsearch_spark.operators.dedup import (
        minhash_signatures,
        with_word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "short"),
        ],
        "_id long, text string",
    )
    sh = with_word_shingles(docs, "text", 3).select("_id", "_sh")
    got = {r["_id"]: list(r["_sig"]) for r in minhash_signatures(sh, 8).collect()}
    shared = [
        -9213327934255662574, -6884962307884821852, -7190716267515777504,
        -8507051276803415256, -7698925786067961863, -9190863898320566651,
        -6128738170765522958,
    ]
    assert got == {
        1: shared + [-8900139452851570237],
        2: shared + [-2778312237863719336],
        3: [
            -3299370888631545098, 7541422381444471129, -233774341840682450,
            4993825675833391651, 568102987784072049, 5541587060064983686,
            -8022582287884469581, -4611013841295296251,
        ],
    }
