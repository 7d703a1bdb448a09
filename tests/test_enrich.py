"""Merge-semantics tests mirroring the reference's golden-fixture specs.

Each test reproduces a behavior pinned by a reference spec (cited) with
a pure-Python expectation.
"""

import pyspark.sql.functions as F
import pytest

from logstash_filter_elasticsearch_spark.operators.enrich import (
    EnrichSpec,
    Enricher,
    scalar_or_array_json,
    tag_failures,
)


@pytest.fixture(scope="module")
def tables(spark):
    # lookup mirrors the hit envelope of request_x_1.json:13-60
    lookup = spark.createDataFrame(
        [
            # key "a": one hit  -> scalar merge (elasticsearch_dsl_spec.rb:71-76)
            ("a", "idx-1", "id-a1", 2.0, (404, 294, "2014-08-26T00:00:01", ["x", "A"])),
            # key "b": 3 hits -> array merge (elasticsearch_dsl_spec.rb:100-119)
            ("b", "idx-1", "id-b1", 1.0, (200, 10, "2014-08-26T00:00:03", ["x", "B1"])),
            ("b", "idx-2", "id-b2", 3.0, (201, 20, "2014-08-26T00:00:02", ["x", "B2"])),
            ("b", "idx-2", "id-b3", 2.0, (202, 30, "2014-08-26T00:00:04", ["x", "B3"])),
        ],
        "join_key string, _index string, _id string, _score double, "
        "payload struct<response:int, bytes:int, ts:string, tags2:array<string>>",
    )
    events = spark.createDataFrame(
        [("e1", "a"), ("e2", "b"), ("e3", "missing"), ("e4", None)],
        "event_id string, key string",
    )
    return events, lookup


def test_scalar_single_hit_and_left_outer(spark, tables):
    """1 hit -> scalar; unmatched events pass through un-enriched
    (dsl_executor.rb:51-60; spec elasticsearch_dsl_spec.rb:180-199)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        fields={"payload.response": "code"},
        docinfo_fields={"_id": "document_id"},
        result_size=1,
        sort=[("payload.ts", "desc")],
    )
    out = {r["event_id"]: r for r in Enricher(spec).apply(events, lookup).collect()}
    assert out["e1"]["code"] == [404]
    assert out["e1"]["document_id"] == ["id-a1"]
    assert out["e1"]["matched"] is True
    assert out["e1"]["_meta_total_hits"] == 1
    # top-1 by ts desc for key b -> the 00:00:04 hit (sort, docs/index.asciidoc:510-516)
    assert out["e2"]["code"] == [202]
    assert out["e2"]["_meta_total_hits"] == 3
    # unmatched: NULL fields, matched False, total_hits 0, row NOT dropped
    assert out["e3"]["code"] is None
    assert out["e3"]["matched"] is False
    assert out["e3"]["_meta_total_hits"] == 0
    assert out["e4"]["matched"] is False


def test_multi_hit_array_and_json_rule(spark, tables):
    """k hits -> array of k values; scalar-vs-array JSON parity
    (dsl_executor.rb:58; spec elasticsearch_dsl_spec.rb:100-119)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        fields={"payload.response": "code"},
        result_size=10,
        sort=[("payload.bytes", "asc")],
        keep_hits=True,
    )
    df = Enricher(spec).apply(events, lookup)
    df = df.withColumn("code_json", scalar_or_array_json(F.col("code")))
    out = {r["event_id"]: r for r in df.collect()}
    assert out["e2"]["code"] == [200, 201, 202]  # sorted by bytes asc
    assert out["e2"]["code_json"] == "[200,201,202]"
    assert out["e1"]["code_json"] == "404"  # bare scalar, not [404]
    assert out["e3"]["code_json"] is None


def test_aggregation_fields_and_agg_only_match(spark, tables):
    """aggregation_fields copy + size-0 agg-only search still 'matches'
    (dsl_executor.rb:71-77; spec elasticsearch_dsl_spec.rb:157-178)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={"bytes_avg": ("avg", "payload.bytes")},
        result_size=0,  # size-0 search: no hits copied
    )
    out = {r["event_id"]: r for r in Enricher(spec).apply(events, lookup).collect()}
    assert out["e2"]["bytes_avg"] == pytest.approx(20.0)
    assert out["e2"]["matched"] is True  # agg present => matched
    assert out["e2"]["_meta_total_hits"] == 3
    assert out["e3"]["bytes_avg"] is None
    assert out["e3"]["matched"] is False


def test_target_nesting_and_decoration(spark, tables):
    """target nesting (dsl_executor.rb:21-25,133-136) + add_tag only when
    matched (elasticsearch.rb:218-221; spec elasticsearch_dsl_spec.rb:137-155)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        fields={"payload.response": "code"},
        docinfo_fields={"_index": "es_index"},
        target="enrichment",
        add_tag_on_match=["from_es"],
    )
    out = {r["event_id"]: r for r in Enricher(spec).apply(events, lookup).collect()}
    assert out["e1"]["enrichment"]["code"] == [404]
    assert out["e1"]["enrichment"]["es_index"] == ["idx-1"]
    assert out["e1"]["tags"] == ["from_es"]
    assert out["e3"]["tags"] is None or out["e3"]["tags"] == []


def test_tag_on_failure_appends_and_keeps_row(spark):
    """Failure tags appended, event still delivered (dsl_executor.rb:79-87;
    spec elasticsearch_dsl_spec.rb:121-134, 244-260)."""
    df = spark.createDataFrame(
        [("e1", "ok", ["pre"]), ("e2", None, ["pre"]), ("e3", None, None)],
        "event_id string, key string, tags array<string>",
    )
    out = {
        r["event_id"]: r
        for r in tag_failures(df, F.col("key").isNull(), ["boom", "boom2"]).collect()
    }
    assert out["e1"]["tags"] == ["pre"]
    assert out["e2"]["tags"] == ["pre", "boom", "boom2"]
    assert out["e3"]["tags"] == ["boom", "boom2"]
    assert len(out) == 3


def test_nested_path_extraction(spark):
    """[a][b] nested path walk -> NULL on missing, no error
    (dsl_executor.rb:110-125; spec elasticsearch_dsl_spec.rb:295-309)."""
    lookup = spark.createDataFrame(
        [("k", ((("1.2.3.4", "Paris"),)))],
        "join_key string, payload struct<geoip:struct<ip:string, city:string>>",
    )
    events = spark.createDataFrame([("e1", "k")], "event_id string, key string")
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        fields={"[payload][geoip][city]": "city"},
        sort=[("payload.geoip.ip", "asc")],
    )
    out = Enricher(spec).apply(events, lookup).collect()[0]
    assert out["city"] == ["Paris"]


def test_non_broadcast_path_identical(spark, seq_data):
    """broadcast=False (lookup too big to broadcast on a real cluster):
    AQE picks a shuffled join, results are bit-identical to the
    broadcast plan."""
    from pyspark.sql import functions as F

    from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids

    events = parse_doc_ids(spark.read.parquet(seq_data["seq_dir"]))
    lookup = spark.read.parquet(seq_data["lookup"])

    def run(broadcast):
        spec = EnrichSpec(
            event_key="join_key",
            lookup_key="join_key",
            fields={"payload.response": "resp"},
            docinfo_fields={"_id": "es_id"},
            result_size=1,
            sort=[("payload.timestamp_ms", "desc")],
            broadcast=broadcast,
        )
        out = Enricher(spec).apply(events, lookup)
        return {
            r["doc_id"]: (r["_meta_total_hits"], r["resp"], r["es_id"], r["matched"])
            for r in out.collect()
        }

    assert run(True) == run(False)


def test_terms_bucket_aggregation(spark, tables):
    """The reference copies the whole named aggregation object
    (dsl_executor.rb:71-77); a `terms` aggregation carries a buckets
    array ordered doc_count desc, key asc (default size 10)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={
            "idx_terms": ("terms", "_index"),
            "bytes_sum": ("sum", "payload.bytes"),
        },
        result_size=0,
    )
    out = Enricher(spec).apply(events, lookup)
    rows = {r["event_id"]: r for r in out.collect()}
    assert [
        (b["key"], b["doc_count"]) for b in rows["e2"]["idx_terms"]
    ] == [("idx-2", 2), ("idx-1", 1)]
    assert [
        (b["key"], b["doc_count"]) for b in rows["e1"]["idx_terms"]
    ] == [("idx-1", 1)]
    assert rows["e2"]["bytes_sum"] == 60  # metric aggs still work beside
    assert rows["e3"]["idx_terms"] is None and not rows["e3"]["matched"]

    # size cap
    spec2 = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={"idx_terms": ("terms", "_index", 1)},
        result_size=0,
    )
    out2 = Enricher(spec2).apply(events, lookup)
    r2 = {r["event_id"]: r for r in out2.collect()}
    assert [(b["key"], b["doc_count"]) for b in r2["e2"]["idx_terms"]] == [("idx-2", 2)]


def test_histogram_bucket_aggregation(spark, tables):
    """A `histogram` aggregation copies buckets keyed by
    floor(v/interval)*interval, key-ascending, no size cap (the
    whole-object copy rule, dsl_executor.rb:71-77)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={"bytes_hist": ("histogram", "payload.bytes", 25)},
        result_size=0,
    )
    out = Enricher(spec).apply(events, lookup)
    rows = {r["event_id"]: r for r in out.collect()}
    # e2's group has bytes {10, 20, 30}: bucket 0.0 holds two docs,
    # bucket 25.0 one
    assert [
        (b["key"], b["doc_count"]) for b in rows["e2"]["bytes_hist"]
    ] == [(0.0, 2), (25.0, 1)]
    assert rows["e3"]["bytes_hist"] is None

    no_interval = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={"h": ("histogram", "payload.bytes")},
        result_size=0,
    )
    with pytest.raises(ValueError, match="interval"):
        Enricher(no_interval).apply(events, lookup)


def test_date_histogram_bucket_aggregation(spark, tables):
    """date_histogram buckets keyed by date_trunc(calendar_interval),
    ascending (whole-object copy rule, dsl_executor.rb:71-77)."""
    events, lookup = tables
    spec = EnrichSpec(
        event_key="key",
        lookup_key="join_key",
        aggregation_fields={"ts_hist": ("date_histogram", "payload.ts", "day")},
        result_size=0,
    )
    out = Enricher(spec).apply(events, lookup)
    rows = {r["event_id"]: r for r in out.collect()}
    b = rows["e2"]["ts_hist"]
    assert len(b) == 1 and b[0]["doc_count"] == 3
    assert str(b[0]["key"]).startswith("2014-08-26")
    assert rows["e3"]["ts_hist"] is None


def test_sort_missing_value_semantics(spark):
    """ES per-field `missing`: _last default (missing docs end the
    result order in BOTH directions), _first, and custom substitution
    (elasticsearch.rb:43-44; ES sort docs). Three-tuples opt in; plain
    (path, direction) pairs get the ES default _last."""
    events = spark.createDataFrame([("e1", 1)], "event_id string, key long")
    lookup = spark.createDataFrame(
        [(1, 10, "a"), (1, None, "b"), (1, 5, "c")],
        "join_key long, rank long, val string",
    )

    def vals(sort):
        spec = EnrichSpec(
            event_key="key", lookup_key="join_key",
            fields={"val": "vals"}, result_size=10, sort=sort,
        )
        return Enricher(spec).apply(events, lookup).collect()[0]["vals"]

    assert vals([("rank", "asc")]) == ["c", "a", "b"]       # default _last
    assert vals([("rank", "desc")]) == ["a", "c", "b"]      # _last both dirs
    assert vals([("rank", "asc", "_first")]) == ["b", "c", "a"]
    assert vals([("rank", "desc", "_first")]) == ["b", "a", "c"]
    assert vals([("rank", "asc", 7)]) == ["c", "b", "a"]    # custom: 5,7,10
    assert vals([("rank", "desc", 7)]) == ["a", "b", "c"]


def test_sort_path_through_map_column(spark):
    """A sort path that walks into a map (not a struct) has no schema
    type to resolve; it still sorts, on the collect_list path."""
    events = spark.createDataFrame([("e1", 1)], "event_id string, key long")
    lookup = spark.createDataFrame(
        [(1, {"r": 10}, "a"), (1, {"r": 5}, "b"), (1, {"r": 7}, "c")],
        "join_key long, m map<string,long>, val string",
    )

    def vals(sort, size):
        spec = EnrichSpec(
            event_key="key", lookup_key="join_key",
            fields={"val": "vals"}, result_size=size, sort=sort,
        )
        return Enricher(spec).apply(events, lookup).collect()[0]["vals"]

    assert vals([("m.r", "asc")], 10) == ["b", "c", "a"]
    assert vals([("m.r", "desc")], 10) == ["a", "c", "b"]
    assert vals([("m.r", "desc")], 1) == ["a"]
