"""ES|QL layer tests mirroring the reference's esql specs.

Fixture table from spec/filters/integration/elasticsearch_esql_spec.rb:16-25
(FIXTURES.md F3): 6 docs, types a,a,b,b,c,t, count 1..5 + NULL.
"""

import re

import pytest
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.functions.fieldref import (
    field_ref_to_path,
    mark_sub_elements,
    sprintf_expr,
)
from logstash_filter_elasticsearch_spark.plans.esql import (
    EsqlValidationError,
    first_row_to_root,
    rows_to_target_array,
    run_esql,
    validate_params,
    with_total_values,
)


@pytest.fixture(scope="module")
def esql_docs(spark):
    df = spark.createDataFrame(
        [
            ("test message 1", "a", 3),
            ("test message 2", "a", 5),
            ("test message 3", "b", 1),
            ("test message 4", "b", 2),
            ("test message 5", "c", 4),
            ("odd test message", "t", None),
        ],
        "message string, type string, count int",
    )
    return {"my_index": df}


def test_where_eq(spark, esql_docs):
    """WHERE type=='b' -> 2 rows (integration esql spec:123-129)."""
    out = run_esql(spark, "FROM my_index | WHERE type == 'b'", tables=esql_docs)
    assert out.count() == 2


def test_stats_count_by(spark, esql_docs):
    """STATS count() BY type (spec elasticsearch_esql_spec.rb:12-13)."""
    out = run_esql(
        spark,
        "FROM my_index | STATS cnt = count(*) BY type | SORT type",
        tables=esql_docs,
    )
    assert [(r["type"], r["cnt"]) for r in out.collect()] == [
        ("a", 2), ("b", 2), ("c", 1), ("t", 1),
    ]


def test_named_params_and_validation(spark, esql_docs):
    """?placeholders resolve; grammar + exact matching enforced
    (elasticsearch.rb:462-481; spec elasticsearch_esql_spec.rb:179-209)."""
    out = run_esql(
        spark,
        "FROM my_index | WHERE type == ?type_filter AND count >= ?min",
        params={"type_filter": "a", "min": 4},
        tables=esql_docs,
    )
    assert [r["message"] for r in out.collect()] == ["test message 2"]

    with pytest.raises(EsqlValidationError, match="no matching query_params"):
        validate_params("FROM x | WHERE a == ?missing", {})
    with pytest.raises(EsqlValidationError, match="not used"):
        validate_params("FROM x", {"unused": 1})
    with pytest.raises(EsqlValidationError, match="Invalid placeholder"):
        validate_params("FROM x | WHERE a == ?Bad_Name", {"Bad_Name": 1})


def test_keep_drop_rename_eval_limit(spark, esql_docs):
    out = run_esql(
        spark,
        "FROM my_index | EVAL double_count = count * 2 "
        "| RENAME message AS msg | DROP type | KEEP msg, double_count "
        "| SORT double_count DESC | LIMIT 2",
        tables=esql_docs,
    )
    rows = out.collect()
    assert out.columns == ["msg", "double_count"]
    # ES|QL treats NULL as larger than any value: DESC puts the
    # null-count row FIRST (the Spark desc() default would hide it last)
    assert [r["double_count"] for r in rows] == [None, 10]


def test_from_wildcard_and_union(spark, esql_docs):
    """Comma-list + wildcard index resolution (B1;
    spec elasticsearch_dsl_spec.rb:83-98)."""
    tables = {"logs_a": esql_docs["my_index"], "logs_b": esql_docs["my_index"]}
    assert run_esql(spark, "FROM logs_*", tables=tables).count() == 12
    assert run_esql(spark, "FROM logs_a, logs_b", tables=tables).count() == 12
    with pytest.raises(EsqlValidationError, match="wildcard"):
        run_esql(spark, "FROM nope_*", tables=tables)


def test_first_row_to_root_drops_shadowed(spark):
    """No target: first row only; sub-elements suppressed
    (esql_executor.rb:82-108; docs/index.asciidoc:198-223)."""
    df = spark.createDataFrame(
        [(1, "ok", 100), (2, "ko", 200)], ["id", "status", "`status.code`"]
    ).toDF("id", "status", "status.code")
    out = first_row_to_root(df, order_by=["id"])
    row = out.collect()[0]
    assert "status.code" not in out.columns  # shadowed by parent 'status'
    assert row["id"] == 1 and row["status"] == "ok"
    assert row["_meta_total_values"] == 2


def test_rows_to_target_array_nested(spark):
    """With target: ALL rows as array of nested structs
    (esql_executor.rb:88-101; spec elasticsearch_esql_spec.rb:127-143)."""
    df = spark.createDataFrame([(1, 100, "a"), (2, 200, "b")], ["id", "c1", "c2"]).toDF(
        "id", "status.code", "status.desc"
    )
    out = rows_to_target_array(df.orderBy("id"), "esql_result")
    row = out.collect()[0]
    assert row["_meta_total_values"] == 2
    vals = sorted((r["id"], r["status"]["code"], r["status"]["desc"]) for r in row["esql_result"])
    assert vals == [(1, 100, "a"), (2, 200, "b")]


def test_total_values_metadata(spark, esql_docs):
    out = with_total_values(esql_docs["my_index"])
    assert out.select("_meta_total_values").distinct().collect()[0][0] == 6


def test_fieldref_helpers():
    assert field_ref_to_path("[geoip][ip]") == "geoip.ip"
    assert field_ref_to_path("plain") == "plain"
    kept, suppressed = mark_sub_elements(["a", "a.b", "a.b.c", "x.y"])
    assert kept == ["a", "x.y"]
    assert suppressed == ["a.b", "a.b.c"]


def test_sprintf_interpolation(spark):
    """%{[field]} index interpolation (dsl_executor.rb:31;
    spec elasticsearch_dsl_spec.rb:221-242); NULL -> literal token."""
    df = spark.createDataFrame(
        [("web", "en"), ("books", None)], "source string, lang string"
    )
    out = df.select(sprintf_expr("logs-%{[source]}-%{[lang]}").alias("idx")).collect()
    assert out[0]["idx"] == "logs-web-en"
    assert out[1]["idx"] == "logs-books-%{[lang]}"


def test_mv_expand(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)], "id int, vals array<string>"
    )
    out = run_esql(
        spark, "FROM t | MV_EXPAND vals | SORT id, vals", tables={"t": df}
    ).collect()
    assert [(r.id, r.vals) for r in out] == [
        (1, "a"), (1, "b"), (2, None), (3, None),
    ]


def test_dissect(spark):
    df = spark.createDataFrame(
        [("web/0001/42-17",), ("bad",)], "doc_id string"
    )
    out = run_esql(
        spark,
        'FROM t | DISSECT doc_id "%{src}/%{shard}/%{seq}-%{epoch}" '
        "| KEEP doc_id, src, shard, epoch | SORT doc_id",
        tables={"t": df},
    ).collect()
    assert [(r.src, r.shard, r.epoch) for r in out] == [
        (None, None, None),             # no match -> NULLs
        ("web", "0001", "17"),
    ]


def test_dissect_skip_field(spark):
    df = spark.createDataFrame([("a:b:c",)], "s string")
    out = run_esql(
        spark, 'FROM t | DISSECT s "%{x}:%{}:%{z}"', tables={"t": df}
    ).collect()
    assert (out[0].x, out[0].z) == ("a", "c")


def test_grok_with_types(spark):
    df = spark.createDataFrame(
        [("GET /api/users 200 0.123",), ("garbage",)], "line string"
    )
    out = run_esql(
        spark,
        'FROM t | GROK line "%{WORD:verb} %{NOTSPACE:path} %{INT:code:int} '
        '%{NUMBER:dur:float}" | SORT line',
        tables={"t": df},
    ).collect()
    r = [x for x in out if x.verb is not None][0]
    assert (r.verb, r.path, r.code, r.dur) == ("GET", "/api/users", 200, 0.123)
    bad = [x for x in out if x.verb is None][0]
    assert bad.code is None


def test_grok_unknown_pattern_rejected(spark):
    df = spark.createDataFrame([("x",)], "line string")
    with pytest.raises(EsqlValidationError):
        run_esql(spark, 'FROM t | GROK line "%{NOPE:x}"', tables={"t": df})


def test_enrich_with_as(spark):
    events = spark.createDataFrame([(1, "a"), (2, "b"), (3, "zz")], "id int, k string")
    policy = spark.createDataFrame(
        [("a", "alpha", 10), ("b", "beta", 20)], "k string, name string, rank int"
    )
    out = run_esql(
        spark,
        "FROM e | ENRICH p ON k WITH name AS label, rank | SORT id",
        tables={"e": events, "p": policy},
    ).collect()
    assert [(r.id, r.label, r.rank) for r in out] == [
        (1, "alpha", 10), (2, "beta", 20), (3, None, None),
    ]


def test_enrich_unknown_policy(spark):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(EsqlValidationError):
        run_esql(spark, "FROM t | ENRICH nope ON id", tables={"t": df})


@pytest.mark.parametrize(
    "text, pipes, commas, by_at",
    [
        # an escaped quote does not close the literal
        (r"x == 'it\'s | a, b BY c', y",
         [r"x == 'it\'s | a, b BY c', y"], [r"x == 'it\'s | a, b BY c'", "y"], -1),
        # a ' inside "..." opens nothing
        ('"don\'t | stop, BY" | z', ['"don\'t | stop, BY"', "z"], ['"don\'t | stop, BY" | z'], -1),
        # () and [] nest alike
        ("f(a, [1, (2 | 3)], g(b)) BY k, m",
         ["f(a, [1, (2 | 3)], g(b)) BY k, m"], ["f(a, [1, (2 | 3)], g(b)) BY k", "m"], 25),
        # | , BY inside a [...] multivalue literal are not separators
        ("[a | b, c BY d] BY e", ["[a | b, c BY d] BY e"], ["[a | b, c BY d] BY e"], 16),
        ("n BY g, h | LIMIT 2", ["n BY g, h", "LIMIT 2"], ["n BY g", "h | LIMIT 2"], 2),
    ],
)
def test_structural_scan(text, pipes, commas, by_at):
    """Every splitter reads the one structural scan: quotes (with
    backslash escapes) hide separators, and () / [] nest alike."""
    from logstash_filter_elasticsearch_spark.plans.esql import (
        _find_top_keyword,
        _split_commas,
        _split_pipes,
    )

    assert _split_pipes(text) == pipes
    assert _split_commas(text) == commas
    assert _find_top_keyword(text, "BY") == by_at


@pytest.mark.parametrize(
    "text, where",
    [
        ("FROM t | WHERE (a)) | LIMIT 1", "unbalanced ')' at position 18"),
        ("f(a", "unclosed '(' at position 1"),
        ("[a)", "unbalanced ')' at position 2"),
        ("')' )", "unbalanced ')' at position 4"),
    ],
)
def test_structural_scan_rejects_unbalanced(text, where):
    """An unbalanced or mismatched bracket outside quotes raises once,
    naming its position (a stray ')' is never silently clamped)."""
    from logstash_filter_elasticsearch_spark.plans.esql import _split_pipes

    with pytest.raises(EsqlValidationError, match=re.escape(where)):
        _split_pipes(text)


def test_multivalue_literal_is_one_argument():
    """Commas inside a [...] literal do not split a call's arguments."""
    from logstash_filter_elasticsearch_spark.plans.esql import _translate_expr

    assert _translate_expr("MV_FIRST([1, 2])") == "try_element_at(array(1, 2), 1)"


@pytest.mark.parametrize(
    "query, where",
    [
        ("FROM my_index | KEEP type,", "position 5 in 'type,'"),
        ("FROM my_index | EVAL m = CONCAT(type, message,)", "position 14 in 'type, message,'"),
        ("FROM my_index | KEEP type,,message", "position 5 in 'type,,message'"),
    ],
)
def test_empty_comma_piece_rejected(spark, esql_docs, query, where):
    """A trailing or doubled comma is a malformed list and raises with
    its position, instead of being dropped."""
    with pytest.raises(EsqlValidationError, match=re.escape(where)):
        run_esql(spark, query, tables=esql_docs)


def test_zero_argument_call_compiles(spark, esql_docs):
    """An empty argument list is not an empty comma piece."""
    from logstash_filter_elasticsearch_spark.plans.esql import _split_commas

    assert _split_commas("") == [] and _split_commas(" ") == []
    out = run_esql(spark, "FROM my_index | EVAL t = NOW() | KEEP t | LIMIT 1", tables=esql_docs)
    assert out.collect()[0]["t"] is not None


def test_quoted_literals_untouched(spark, esql_docs):
    """`==` and `?name` inside string literals are literal text, not
    operators/placeholders (quote-aware translation + substitution)."""
    from logstash_filter_elasticsearch_spark.plans.esql import _translate_expr

    assert _translate_expr("note == 'a==b'") == "note = 'a==b'"
    assert _translate_expr('x == "?q"') == 'x = "?q"'

    df = spark.createDataFrame([("a==b",), ("a=b",)], "note string")
    out = run_esql(spark, "FROM t | WHERE note == 'a==b'", tables={"t": df})
    assert [r["note"] for r in out.collect()] == ["a==b"]

    # ?x inside a literal requires NO param; a real ?y still resolves
    df2 = spark.createDataFrame([("?x", 1), ("z", 2)], "note string, n int")
    out2 = run_esql(
        spark,
        "FROM t | WHERE note == '?x' AND n == ?y",
        params={"y": 1},
        tables={"t": df2},
    )
    assert out2.count() == 1
    with pytest.raises(EsqlValidationError):
        run_esql(spark, "FROM t | WHERE n == ?y", tables={"t": df2})


def test_esql_date_functions(spark):
    """ES|QL date coercion (ESQL_PARSERS_BY_TYPE, esql_executor.rb:8-10):
    TO_DATETIME cast, DATE_TRUNC, DATE_FORMAT/DATE_PARSE arg order."""
    df = spark.createDataFrame(
        [("2024-03-05 10:30:00", 1), ("2024-03-05 23:10:00", 2),
         ("2024-03-06 00:00:01", 3)],
        "ts string, n int",
    )
    out = run_esql(
        spark,
        "FROM t | EVAL day = DATE_FORMAT('yyyy-MM-dd', DATE_TRUNC('day', TO_DATETIME(ts))) "
        "| STATS cnt = count(*) BY day | SORT day",
        tables={"t": df},
    )
    assert [(r["day"], r["cnt"]) for r in out.collect()] == [
        ("2024-03-05", 2), ("2024-03-06", 1),
    ]
    out2 = run_esql(
        spark,
        "FROM t | WHERE TO_DATETIME(ts) >= DATE_PARSE('yyyy-MM-dd', '2024-03-06') "
        "| KEEP n",
        tables={"t": df},
    )
    assert [r["n"] for r in out2.collect()] == [3]


def test_enrich_null_key_not_matched(spark):
    """ES ENRICH never matches documents missing the match field —
    NULL keys fall through unenriched (no eqNullSafe join)."""
    events = spark.createDataFrame([(1, "k1"), (2, None)], "eid int, k string")
    lk = spark.createDataFrame(
        [("k1", "v1"), (None, "vnull")], "k string, val string"
    )
    out = run_esql(
        spark,
        "FROM e | ENRICH lk ON k WITH val | SORT eid",
        tables={"e": events, "lk": lk},
    )
    rows = {r["eid"]: r["val"] for r in out.collect()}
    assert rows == {1: "v1", 2: None}


def test_rows_to_target_json_drops_nulls_per_row(spark):
    """Per-row null dropping (esql_executor.rb:93-99): a null column
    vanishes from that row's object only; other rows keep it."""
    from logstash_filter_elasticsearch_spark.plans.esql import rows_to_target_json

    df = spark.createDataFrame(
        [(1, "x", None), (2, None, 5)], "a int, b string, c int"
    )
    row = rows_to_target_json(df.orderBy("a"), "hits").collect()[0]
    objs = sorted(row["hits"])
    assert row["_meta_total_values"] == 2
    import json as _json
    parsed = sorted((_json.loads(o) for o in objs), key=lambda d: d["a"])
    assert parsed[0] == {"a": 1, "b": "x"}   # c dropped here
    assert parsed[1] == {"a": 2, "c": 5}     # b dropped here


def test_scalar_function_surface(spark, esql_docs):
    """Mapped scalar functions: TO_UPPER rename, REPLACE->regexp_replace
    (replace-ALL semantics), variadic CASE, STARTS_WITH."""
    out = run_esql(
        spark,
        "FROM my_index | WHERE STARTS_WITH(message, 'test') "
        "| EVAL up = TO_UPPER(LEFT(message, 4)), "
        "masked = REPLACE(message, '[0-9]', '#'), "
        "sz = CASE(count >= 4, 'big', count >= 2, 'mid', 'small') "
        "| KEEP message, up, masked, sz | SORT message",
        tables=esql_docs,
    )
    rows = out.collect()
    assert len(rows) == 5  # 'odd test message' filtered out
    assert rows[0]["up"] == "TEST"
    assert rows[0]["masked"] == "test message #"
    # CASE: count=3 -> mid, 5 -> big, 1 -> small, NULL conds -> default
    by_msg = {r["message"]: r["sz"] for r in rows}
    assert by_msg["test message 1"] == "mid"     # count 3
    assert by_msg["test message 2"] == "big"     # count 5
    assert by_msg["test message 3"] == "small"   # count 1


def test_mv_functions_and_split(spark, esql_docs):
    """SPLIT treats its delimiter literally (regex metachars inert);
    MV_* family maps to array functions."""
    out = run_esql(
        spark,
        "FROM my_index | WHERE type == 'a' "
        "| EVAL parts = SPLIT(message, ' '), np = MV_COUNT(parts), "
        "first = MV_FIRST(parts), last = MV_LAST(parts), "
        "joined = MV_CONCAT(MV_SORT(MV_DEDUPE(parts)), '-') "
        "| KEEP message, np, first, last, joined | SORT message",
        tables=esql_docs,
    )
    r = out.collect()[0]
    assert (r["np"], r["first"], r["last"]) == (3, "test", "1")
    assert r["joined"] == "1-message-test"
    # literal-metachar delimiter: '(' must not be a regex group
    out2 = run_esql(
        spark,
        "FROM my_index | WHERE type == 'c' "
        "| EVAL parts = SPLIT(CONCAT(message, '(x'), '('), n = MV_COUNT(parts) "
        "| KEEP n",
        tables=esql_docs,
    )
    assert out2.collect()[0]["n"] == 2


def test_date_diff_and_extract(spark):
    """DATE_DIFF counts COMPLETE units (truncating) with unit aliases;
    DATE_EXTRACT maps to date_part."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-02 23:59:00")], "a string, b string"
    )
    out = run_esql(
        spark,
        "FROM t | EVAL d = DATE_DIFF('days', TO_DATETIME(a), TO_DATETIME(b)), "
        "h = DATE_DIFF('hour', TO_DATETIME(a), TO_DATETIME(b)), "
        "hr = DATE_EXTRACT('hour', TO_DATETIME(b)) | KEEP d, h, hr",
        tables={"t": df},
    )
    r = out.collect()[0]
    assert (r["d"], r["h"], r["hr"]) == (1, 47, 23)

    with pytest.raises(EsqlValidationError):
        run_esql(
            spark,
            "FROM t | EVAL d = DATE_DIFF('fortnight', TO_DATETIME(a), TO_DATETIME(b))",
            tables={"t": df},
        )


def test_stats_per_aggregate_where(spark, esql_docs):
    """ES|QL STATS per-aggregate filter: `agg() WHERE cond` compiles to
    SQL FILTER (WHERE ...) — one pass, conditional accumulation."""
    out = run_esql(
        spark,
        "FROM my_index | STATS total = count(*), "
        "big = count(*) WHERE count >= 3, "
        "sum_small = sum(count) WHERE count < 3 "
        "BY type | SORT type",
        tables=esql_docs,
    )
    rows = [(r["type"], r["total"], r["big"], r["sum_small"]) for r in out.collect()]
    assert rows == [("a", 2, 2, None), ("b", 2, 0, 3), ("c", 1, 1, None), ("t", 1, 0, None)]


def test_row_source(spark):
    """ROW a = expr: one-row literal source (constant-folded)."""
    out = run_esql(
        spark,
        "ROW a = 1 + 2, b = TO_UPPER('hi'), c = MV_SUM(SPLIT('1 2', ' ') "
        ") | EVAL d = a * 10",
        tables={},
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["a"], r["b"], r["d"]) == (3, "HI", 30)

    with pytest.raises(EsqlValidationError, match="must start with FROM"):
        run_esql(spark, "WHERE x == 1", tables={})


def test_lookup_join(spark, esql_docs):
    """LOOKUP JOIN idx ON field: left join, lookup side wins name
    collisions, multi-match fans out, NULL/missing keys pass through."""
    events = spark.createDataFrame(
        [(1, "a", "keep"), (2, "zz", "keep"), (3, None, "keep")],
        "id int, type string, label string",
    )
    lk = spark.createDataFrame(
        [("a", "A-name", "shadowed-a"), ("a", "A-name-2", "shadowed-a2")],
        "type string, name string, label string",
    )
    out = run_esql(
        spark,
        "FROM ev | LOOKUP JOIN lk ON type | SORT id, name",
        tables={"ev": events, "lk": lk},
    ).collect()
    # id=1 fans out to 2 rows; lookup's label shadows the event's
    assert [(r["id"], r["name"], r["label"]) for r in out] == [
        (1, "A-name", "shadowed-a"),
        (1, "A-name-2", "shadowed-a2"),
        (2, None, None),
        (3, None, None),
    ]
    with pytest.raises(EsqlValidationError, match="no field"):
        run_esql(spark, "FROM ev | LOOKUP JOIN lk ON nope",
                 tables={"ev": events, "lk": lk})


def test_keep_drop_wildcards_and_sort_nulls(spark):
    """KEEP/DROP expand * wildcards (docs/index.asciidoc:203-223);
    SORT honors NULLS FIRST/LAST."""
    df = spark.createDataFrame(
        [(1, "a", 10, None), (2, "b", 20, 5), (3, None, 30, 1)],
        "id int, tag string, val_a int, val_b int",
    )
    out = run_esql(spark, "FROM t | KEEP id, val_*", tables={"t": df})
    assert out.columns == ["id", "val_a", "val_b"]
    out = run_esql(spark, "FROM t | DROP val_*", tables={"t": df})
    assert out.columns == ["id", "tag"]
    with pytest.raises(EsqlValidationError, match="wildcard"):
        run_esql(spark, "FROM t | KEEP nope_*", tables={"t": df})

    rows = run_esql(
        spark, "FROM t | SORT tag DESC NULLS FIRST | KEEP id", tables={"t": df}
    ).collect()
    assert [r["id"] for r in rows] == [3, 2, 1]
    rows = run_esql(
        spark, "FROM t | SORT val_b NULLS FIRST | KEEP id", tables={"t": df}
    ).collect()
    assert [r["id"] for r in rows] == [1, 3, 2]

    # DEFAULT null placement: ES|QL treats NULL as larger than any
    # value — ASC puts it last, DESC first (Spark's asc()/desc()
    # defaults are the opposite, so these exercise the explicit branch)
    rows = run_esql(
        spark, "FROM t | SORT val_b | KEEP id", tables={"t": df}
    ).collect()
    assert [r["id"] for r in rows] == [3, 2, 1]
    rows = run_esql(
        spark, "FROM t | SORT val_b DESC | KEEP id", tables={"t": df}
    ).collect()
    assert [r["id"] for r in rows] == [1, 2, 3]


def test_review_fixes_quoting_and_functions(spark, esql_docs):
    """Round-2 review regressions: escaped quotes in literals, BY/WHERE
    keywords inside strings, MV_SORT order arg, DATE_EXTRACT ChronoField
    names, malformed SORT NULLS, triple-quote rejection."""
    # escaped quote inside a literal: the == after it must NOT be
    # rewritten, and the literal passes through to Spark intact
    df = spark.createDataFrame([('say "a==b"',), ("other",)], "note string")
    out = run_esql(
        spark, 'FROM t | WHERE note == "say \\"a==b\\""', tables={"t": df}
    )
    assert out.count() == 1

    # 'BY'/' WHERE ' inside a string literal is not a clause keyword
    out = run_esql(
        spark,
        "FROM my_index | STATS n = count(*) "
        "WHERE message != 'stand by me where' BY type | SORT type",
        tables=esql_docs,
    )
    assert [r["n"] for r in out.collect()] == [2, 2, 1, 1]

    # MV_SORT with explicit order; DATE_EXTRACT ChronoField name
    r = run_esql(
        spark,
        "ROW s = MV_SORT(SPLIT('b a c', ' '), 'DESC'), "
        "dw = DATE_EXTRACT('day_of_week', TO_DATETIME('2024-01-01'))",
        tables={},
    ).collect()[0]
    assert list(r["s"]) == ["c", "b", "a"]
    assert r["dw"] == 1  # 2024-01-01 is a Monday; ChronoField ISO Monday=1

    with pytest.raises(EsqlValidationError, match="ASC.*DESC|order"):
        run_esql(spark, "ROW s = MV_SORT(SPLIT('a b', ' '), 'SIDEWAYS')", tables={})
    with pytest.raises(EsqlValidationError, match="NULLS"):
        run_esql(spark, "FROM my_index | SORT type NULLS", tables=esql_docs)
    # triple-quoted literals are raw strings (r5): equality on data
    out = run_esql(
        spark, 'FROM my_index | WHERE message == """x"""', tables=esql_docs
    )
    assert out.count() == 0  # no message is literally "x"


def test_rows_to_target_json_deterministic_order(spark):
    """The target array is ordered inside the aggregate (order_by cols,
    else canonical JSON order) — collect_list alone would be
    partition-arrival order."""
    from logstash_filter_elasticsearch_spark.plans.esql import rows_to_target_json

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k int, v string"
    ).repartition(7)
    row = rows_to_target_json(df, "hits", order_by=["k"]).collect()[0]
    import json as _json

    ks = [_json.loads(o)["k"] for o in row["hits"]]
    assert ks == list(range(20))


def test_cidr_match_and_to_ip(spark):
    """CIDR_MATCH over dotted-quad strings (unrolled masked compare);
    TO_IP nulls invalid addresses like ES|QL's type conversion."""
    df = spark.createDataFrame(
        [("10.42.1.9",), ("10.43.0.1",), ("192.168.0.5",), ("not-an-ip",), ("300.1.1.1",)],
        "ip string",
    )
    out = run_esql(
        spark,
        "FROM t | WHERE CIDR_MATCH(ip, '10.42.0.0/16', '192.168.0.0/24') "
        "| SORT ip",
        tables={"t": df},
    ).collect()
    assert [r["ip"] for r in out] == ["10.42.1.9", "192.168.0.5"]

    valid = run_esql(
        spark, "FROM t | EVAL v = TO_IP(ip) | SORT ip", tables={"t": df}
    ).collect()
    assert [r["v"] for r in valid] == [
        "10.42.1.9", "10.43.0.1", "192.168.0.5", None, None,
    ]

    with pytest.raises(EsqlValidationError, match="literal"):
        run_esql(spark, "FROM t | WHERE CIDR_MATCH(ip, ip)", tables={"t": df})
    with pytest.raises(EsqlValidationError, match="bad CIDR"):
        run_esql(spark, "FROM t | WHERE CIDR_MATCH(ip, '10.0.0.0/40')", tables={"t": df})


def test_cidr_match_short_ip_no_ansi_abort(spark):
    """An IP with fewer than 4 octets must simply not match — under
    ANSI mode plain element_at would throw INVALID_ARRAY_INDEX_IN_
    ELEMENT_AT and abort the whole job (try_element_at yields NULL)."""
    df = spark.createDataFrame(
        [("10.1.2",), ("10.42.1.9",), ("",), ("10",)], "ip string"
    )
    out = run_esql(
        spark,
        "FROM t | WHERE CIDR_MATCH(ip, '10.42.0.0/16') | SORT ip",
        tables={"t": df},
    ).collect()
    assert [r["ip"] for r in out] == ["10.42.1.9"]


def test_mv_first_last_empty_array(spark):
    """MV_FIRST/MV_LAST on an EMPTY array yield NULL instead of an ANSI
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT abort."""
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None)], "id int, xs array<string>"
    )
    rows = run_esql(
        spark,
        "FROM t | EVAL f = MV_FIRST(xs), l = MV_LAST(xs) | SORT id | KEEP id, f, l",
        tables={"t": df},
    ).collect()
    assert [(r["f"], r["l"]) for r in rows] == [
        ("a", "b"), (None, None), (None, None),
    ]


def test_triple_quote_literals(spark):
    """Triple-quoted literals are RAW strings (no escape processing,
    r5): backslashes and embedded quotes pass through to GROK/RLIKE
    verbatim; three double quotes INSIDE a single-quoted literal stay
    data; an unterminated run fails clearly."""
    df = spark.createDataFrame([('"""',), ("x",)], "msg string")
    out = run_esql(
        spark, "FROM t | WHERE msg == '\"\"\"'", tables={"t": df}
    ).collect()
    assert [r["msg"] for r in out] == ['"""']
    out = run_esql(
        spark, 'FROM t | WHERE msg == """x"""', tables={"t": df}
    ).collect()
    assert [r["msg"] for r in out] == ["x"]
    raw = run_esql(
        spark, 'FROM t | EVAL x = """a \\d+ "q" z""" | LIMIT 1',
        tables={"t": df},
    ).collect()[0]["x"]
    assert raw == 'a \\d+ "q" z'  # backslash NOT an escape in raw form
    g = spark.createDataFrame([('lvl="ERROR" code=7',)], "s string")
    r = run_esql(
        spark,
        'FROM t | GROK s """lvl="%{LOGLEVEL:lvl}" code=%{NUMBER:c:int}"""',
        tables={"t": g},
    ).collect()[0]
    assert r["lvl"] == "ERROR" and r["c"] == 7
    with pytest.raises(EsqlValidationError, match="unterminated"):
        run_esql(spark, 'FROM t | EVAL x = """oops', tables={"t": df})


def test_inlinestats_appends_group_aggregates(spark):
    """INLINESTATS keeps every row and appends the group aggregate;
    NULL group keys form their own group (eqNullSafe join-back); an
    existing column with the aggregate's name is replaced."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, None, 40), (5, None, 60)],
        "id int, grp string, n int",
    )
    rows = run_esql(
        spark,
        "FROM t | INLINESTATS avg_n = AVG(n), c = COUNT(*) BY grp | SORT id",
        tables={"t": df},
    ).collect()
    assert [r["avg_n"] for r in rows] == [15.0, 15.0, 30.0, 50.0, 50.0]
    assert [r["c"] for r in rows] == [2, 2, 1, 2, 2]
    assert [r["id"] for r in rows] == [1, 2, 3, 4, 5]  # rows preserved

    # no BY: one global aggregate appended to every row
    rows = run_esql(
        spark, "FROM t | INLINESTATS total = SUM(n) | SORT id", tables={"t": df}
    ).collect()
    assert all(r["total"] == 160 for r in rows) and len(rows) == 5

    # shadowing: INLINESTATS n = MAX(n) replaces the column
    rows = run_esql(
        spark, "FROM t | INLINESTATS n = MAX(n) BY grp | SORT id", tables={"t": df}
    ).collect()
    assert [r["n"] for r in rows] == [20, 20, 30, 60, 60]


def test_sample_reproducible_and_validated(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "n")
    a = run_esql(spark, "FROM t | SAMPLE 0.25 7", tables={"t": df}).collect()
    b = run_esql(spark, "FROM t | SAMPLE 0.25 7", tables={"t": df}).collect()
    assert [r["n"] for r in a] == [r["n"] for r in b]  # seeded: reproducible
    assert 300 < len(a) < 700  # Bernoulli ~500
    assert set(r["n"] for r in a) <= set(range(2000))
    with pytest.raises(EsqlValidationError, match="probability"):
        run_esql(spark, "FROM t | SAMPLE 1.5", tables={"t": df})
    with pytest.raises(EsqlValidationError, match="probability"):
        run_esql(spark, "FROM t | SAMPLE x", tables={"t": df})


def test_change_point_step_series(spark):
    """A clean mean shift: level 10 for keys 0-9, level 50 for 10-19 —
    the detector must flag key 10 (first row of the right segment) and
    leave every other row NULL."""
    rows = [(k, 10.0 + (k % 3) * 0.1) for k in range(10)] + [
        (k, 50.0 + (k % 3) * 0.1) for k in range(10, 20)
    ]
    df = spark.createDataFrame(rows, "k int, v double")
    out = run_esql(
        spark, "FROM t | CHANGE_POINT v ON k | SORT k", tables={"t": df}
    ).collect()
    flagged = [r for r in out if r["type"] is not None]
    assert len(flagged) == 1
    assert flagged[0]["k"] == 10 and flagged[0]["type"] == "step_change"
    assert 0.0 <= flagged[0]["pvalue"] < 1e-6  # overwhelming shift
    assert all(r["pvalue"] is None for r in out if r["k"] != 10)

    # custom output names
    out2 = run_esql(
        spark, "FROM t | CHANGE_POINT v ON k AS cp_kind, cp_p", tables={"t": df}
    )
    assert {"cp_kind", "cp_p"} <= set(out2.columns)

    with pytest.raises(EsqlValidationError, match="CHANGE_POINT"):
        run_esql(spark, "FROM t | CHANGE_POINT v", tables={"t": df})


def test_fork_branches_union_by_name(spark, esql_docs):
    """FORK runs each (branch) on the same input and unions by column
    name with a _fork discriminator; inner '|' belong to the branch."""
    out = run_esql(
        spark,
        "FROM my_index | FORK "
        "(WHERE type == 'a' | EVAL src = 'letters' | KEEP message, src) "
        "(STATS cnt = COUNT(*) BY type | WHERE cnt > 1)",
        tables=esql_docs,
    )
    rows = out.collect()
    forks = {r["_fork"] for r in rows}
    assert forks == {"fork1", "fork2"}
    f1 = [r for r in rows if r["_fork"] == "fork1"]
    f2 = sorted(
        (r["type"], r["cnt"]) for r in rows if r["_fork"] == "fork2"
    )
    assert len(f1) == 2 and all(r["src"] == "letters" for r in f1)
    assert f2 == [("a", 2), ("b", 2)]
    # missing columns null-filled across branches
    assert all(r["cnt"] is None for r in f1)
    assert all(r["message"] is None for r in rows if r["_fork"] == "fork2")

    with pytest.raises(EsqlValidationError, match="at least two"):
        run_esql(spark, "FROM my_index | FORK (WHERE type == 'a')", tables=esql_docs)


def test_stats_by_expression_and_bucket(spark):
    """Computed BY keys (BY name = expr) and the BUCKET histogram
    function: calendar '1 <unit>' spans, epoch-floor 'N <unit>' spans,
    and numeric widths."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, h, m), float(i))
        for i, (h, m) in enumerate(
            [(0, 5), (0, 40), (1, 10), (3, 59), (4, 0), (4, 30)]
        )
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp, v double")

    out = run_esql(
        spark,
        "FROM t | STATS cnt = COUNT(*) BY h = BUCKET(ts, 1 hour) | SORT h",
        tables={"t": df},
    ).collect()
    assert [(r["h"].hour, r["cnt"]) for r in out] == [(0, 2), (1, 1), (3, 1), (4, 2)]

    out = run_esql(
        spark,
        "FROM t | STATS cnt = COUNT(*) BY b = BUCKET(ts, 2 hours) | SORT b",
        tables={"t": df},
    ).collect()
    assert [(r["b"].hour, r["cnt"]) for r in out] == [(0, 3), (2, 1), (4, 2)]

    out = run_esql(
        spark,
        "FROM t | STATS cnt = COUNT(*) BY w = BUCKET(v, 2.0) | SORT w",
        tables={"t": df},
    ).collect()
    assert [(r["w"], r["cnt"]) for r in out] == [(0.0, 2), (2.0, 2), (4.0, 2)]

    # computed key works in INLINESTATS too (appended, not collapsed)
    out = run_esql(
        spark,
        "FROM t | INLINESTATS cnt = COUNT(*) BY h = BUCKET(ts, 1 hour) | SORT id",
        tables={"t": df},
    ).collect()
    assert len(out) == 6 and [r["cnt"] for r in out] == [2, 2, 1, 1, 2, 2]

    with pytest.raises(EsqlValidationError, match="BUCKET"):
        run_esql(spark, "FROM t | STATS c = COUNT(*) BY b = BUCKET(ts)", tables={"t": df})
    with pytest.raises(EsqlValidationError, match="span"):
        run_esql(
            spark,
            "FROM t | STATS c = COUNT(*) BY b = BUCKET(ts, 3 months)",
            tables={"t": df},
        )


def test_to_conversions_null_on_bad_input(spark):
    """ES|QL TO_* conversions yield NULL on unconvertible input (the
    reference's ES|QL runtime warns and nulls; ANSI cast would abort)."""
    df = spark.createDataFrame(
        [("12", "2024-01-02 03:04:05"), ("nope", "not-a-date")],
        "s string, d string",
    )
    rows = run_esql(
        spark,
        "FROM t | EVAL i = TO_INTEGER(s), ts = TO_DATETIME(d) | SORT s",
        tables={"t": df},
    ).collect()
    assert rows[0]["i"] == 12 and rows[0]["ts"] is not None
    assert rows[1]["i"] is None and rows[1]["ts"] is None

    # grok overflow: INT pattern admits more digits than int holds
    df2 = spark.createDataFrame(
        [("x 5",), ("x 99999999999999999999",)], "line string"
    )
    rows = run_esql(
        spark,
        'FROM t | GROK line "%{WORD:w} %{INT:v:int}" | SORT line',
        tables={"t": df2},
    ).collect()
    vals = sorted((r["v"] is None) for r in rows)
    assert vals == [False, True]


def test_division_by_zero_yields_null_not_abort(spark):
    """ES|QL returns NULL (with a warning) for x/0 and x%0; under ANSI
    Spark the raw operators abort the whole query, so the compiler
    rewrites them to try_divide/try_mod with correct precedence."""
    df = spark.createDataFrame(
        [(10, 2), (7, 0), (9, 3)], "a int, b int"
    )
    rows = run_esql(
        spark,
        "FROM t | EVAL q = a / b, m = a % b, mixed = a + a / b * 2 | SORT a",
        tables={"t": df},
    ).collect()
    bya = {r["a"]: r for r in rows}
    assert bya[7]["q"] is None and bya[7]["m"] is None and bya[7]["mixed"] is None
    assert bya[10]["q"] == 5.0 and bya[10]["m"] == 0
    assert bya[10]["mixed"] == 20.0  # a + (a/b)*2, not (a + a)/(b*2)
    assert bya[9]["q"] == 3.0 and bya[9]["m"] == 0

    # WHERE with a zero divisor filters the row out instead of crashing
    out = run_esql(
        spark, "FROM t | WHERE a / b >= 3 | KEEP a", tables={"t": df}
    ).collect()
    assert sorted(r["a"] for r in out) == [9, 10]


def test_like_uses_esql_wildcards(spark):
    """ES|QL LIKE wildcards are * (any run) and ? (one char); a % or _
    in the pattern matches LITERALLY, and \\* escapes a literal star."""
    df = spark.createDataFrame(
        [("dart",), ("dot",), ("d%",), ("d*",), ("dx",)], "s string"
    )
    def got(pat):
        return sorted(
            r["s"] for r in run_esql(
                spark, f"FROM t | WHERE s LIKE '{pat}'", tables={"t": df}
            ).collect()
        )
    assert got("d*") == ["d%", "d*", "dart", "dot", "dx"]
    assert got("d?") == ["d%", "d*", "dx"]
    assert got("d%") == ["d%"]        # literal percent
    assert got(r"d\*") == ["d*"]      # escaped star -> literal star
    assert got("d?t") == ["dot"]
    assert got("d??t") == ["dart"]


def test_review_round3_fixes(spark):
    """Round-3 self-review regressions: LIKE translation inside
    per-aggregate filters, a column literally named `case`, SAMPLE seed
    validation, FORK stray-text rejection."""
    df = spark.createDataFrame(
        [("error1", 1), ("error2", 2), ("ok*", 3)], "name string, n int"
    )
    # LIKE in a per-aggregate WHERE uses ES|QL wildcards like any WHERE
    rows = run_esql(
        spark,
        "FROM t | STATS errs = COUNT(*) WHERE name LIKE 'err*', "
        "lit_star = COUNT(*) WHERE name LIKE 'ok\\*'",
        tables={"t": df},
    ).collect()
    assert (rows[0]["errs"], rows[0]["lit_star"]) == (2, 1)

    # column named `case` survives the div rewrite
    df2 = spark.createDataFrame([(10, 2)], "case int, n int")
    r = run_esql(
        spark, "FROM t | EVAL q = case / n | KEEP q", tables={"t": df2}
    ).collect()
    assert r[0]["q"] == 5.0

    with pytest.raises(EsqlValidationError, match="seed"):
        run_esql(spark, "FROM t | SAMPLE 0.5 abc", tables={"t": df})
    with pytest.raises(EsqlValidationError, match="outside"):
        run_esql(
            spark,
            "FROM t | FORK (WHERE n == 1) junk (WHERE n == 2)",
            tables={"t": df},
        )
    with pytest.raises(EsqlValidationError, match="1 month"):
        run_esql(
            spark,
            "FROM t | STATS c = COUNT(*) BY b = BUCKET(n, 3 months)",
            tables={"t": df},
        )


def test_integer_division_truncates(spark):
    """ES|QL int/int division truncates toward zero (7/2=3, -7/2=-3) and
    returns an integral type; any float operand keeps float division.
    The emission is type-probed against the stage DataFrame, so chained
    EVALs and STATS results type correctly too."""
    df = spark.createDataFrame(
        [(7, 2, 3.5), (-7, 2, 1.0), (9, 0, 2.0)], "a long, b long, f double"
    )
    out = run_esql(
        spark,
        "FROM t | EVAL d = a / b, dd = d / 2, fd = f / b, lit = 7 / 2, "
        "neg = a / -2 | SORT a",
        tables={"t": df},
    )
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["d"] == "bigint" and types["dd"] == "bigint"
    assert types["fd"] == "double" and types["lit"] == "bigint"
    rows = out.collect()
    assert [r["d"] for r in rows] == [-3, 3, None]  # -7/2 truncates, 9/0 nulls
    assert [r["neg"] for r in rows] == [3, -3, -4]  # 9/-2 = -4 (toward zero)
    assert rows[1]["fd"] == 1.75 and rows[1]["lit"] == 3

    # SUM/COUNT are integral, so their ratio is ES|QL integer division
    r2 = run_esql(
        spark, "FROM t | STATS s = SUM(a), c = COUNT(*) | EVAL r = s / c",
        tables={"t": df},
    ).collect()
    assert r2[0]["r"] == 3  # 9 / 3


def test_bucket_span_validation(spark):
    df = spark.createDataFrame([(1, 100)], "n int, v int")
    # quoted duration span is unquoted and accepted
    r = run_esql(
        spark,
        "ROW ts = TO_DATETIME('2024-03-05 10:00:00') "
        "| EVAL wk = BUCKET(ts, '1 week')",
        tables={},
    ).collect()
    assert str(r[0]["wk"]).startswith("2024-03-04")
    # non-numeric, non-duration span is an error, not all-NULL keys
    with pytest.raises(EsqlValidationError, match="BUCKET span"):
        run_esql(
            spark, "FROM t | STATS c = COUNT(*) BY b = BUCKET(n, v)",
            tables={"t": df},
        )


def test_percentile_requires_literal_percent(spark):
    df = spark.createDataFrame([(1, 50)], "n int, p int")
    with pytest.raises(EsqlValidationError, match="PERCENTILE percent"):
        run_esql(
            spark, "FROM t | STATS x = PERCENTILE(n, p)", tables={"t": df}
        )


def test_sample_hash_deterministic(spark):
    """SAMPLE p HASH(col, seed): content-keyed membership — identical
    across repeats and partitionings, disjoint-ish across seeds, and
    approximately p of the input."""
    df = spark.range(0, 2000).withColumnRenamed("id", "event_id")
    q = "FROM t | SAMPLE 0.2 HASH(event_id, 7) | SORT event_id"
    a = [r["event_id"] for r in run_esql(spark, q, tables={"t": df}).collect()]
    b = [
        r["event_id"]
        for r in run_esql(
            spark, q, tables={"t": df.repartition(13)}
        ).collect()
    ]
    assert a == b  # partitioning-independent, unlike Bernoulli SAMPLE
    assert 0.15 < len(a) / 2000 < 0.25
    c = [
        r["event_id"]
        for r in run_esql(
            spark,
            "FROM t | SAMPLE 0.2 HASH(event_id, 8) | SORT event_id",
            tables={"t": df},
        ).collect()
    ]
    assert c != a  # seed changes membership
    # default seed is 0
    d = run_esql(
        spark, "FROM t | SAMPLE 0.5 HASH(event_id)", tables={"t": df}
    ).count()
    assert 0.45 < d / 2000 < 0.55
    with pytest.raises(EsqlValidationError, match="SAMPLE probability"):
        run_esql(spark, "FROM t | SAMPLE 1.5 HASH(event_id)", tables={"t": df})


def test_change_point_guard_requires_bounded_input(spark, monkeypatch):
    """An unfiltered CHANGE_POINT over a big table raises with advice
    instead of silently single-partitioning the whole input."""
    from logstash_filter_elasticsearch_spark.plans import esql as esql_mod

    monkeypatch.setattr(esql_mod, "CHANGE_POINT_MAX_ROWS", 100)
    big = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    with pytest.raises(EsqlValidationError, match="Filter to one entity"):
        run_esql(spark, "FROM t | CHANGE_POINT v ON k", tables={"t": big})
    # under the cap the detector runs as before
    out = run_esql(
        spark,
        "FROM t | WHERE k < 50 | CHANGE_POINT v ON k",
        tables={"t": big},
    )
    assert out.count() == 50


def test_change_point_single_upstream_pass(spark):
    """The size guard and the windowed scoring share ONE upstream
    execution (r5: bounded localCheckpoint before the probe) — an
    accumulator in the upstream pipe counts exactly n rows, not 2n."""
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.range(0, 200).select(F.col("id").alias("k"))
    counted = base.mapInPandas(bump, "k long").withColumn(
        "v",
        F.when(F.col("k") < 100, F.lit(1.0)).otherwise(F.lit(10.0)),
    )
    out = run_esql(
        spark, "FROM t | CHANGE_POINT v ON k", tables={"t": counted}
    ).collect()
    assert len(out) == 200
    assert [r["k"] for r in out if r["type"] is not None] == [100]
    assert acc.value == 200  # one pass, not one per probe+scoring


def test_grok_pattern_library_breadth(spark):
    """The first-reach logstash patterns extract correctly; unmatched
    lines yield NULLs (grok no-match keeps the row)."""
    cases = [
        ("IP", "src=192.168.0.1 end", "192.168.0.1"),
        ("IPV6", "src=2001:db8::8a2e:370:7334 end", "2001:db8::8a2e:370:7334"),
        ("HOSTNAME", "src=web-01.example.com end", "web-01.example.com"),
        ("UUID", "src=123e4567-e89b-12d3-a456-426614174000 end",
         "123e4567-e89b-12d3-a456-426614174000"),
        ("LOGLEVEL", "src=ERROR end", "ERROR"),
        ("TIMESTAMP_ISO8601", "src=2024-03-05T10:11:12.345Z end",
         "2024-03-05T10:11:12.345Z"),
        ("UNIXPATH", "src=/var/log/app.log end", "/var/log/app.log"),
        ("PATH", "src=/usr/local/bin end", "/usr/local/bin"),
        ("URIPATH", "src=/api/v2/items end", "/api/v2/items"),
        ("QUOTEDSTRING", 'src="a \\"quoted\\" str" end', '"a \\"quoted\\" str"'),
        ("HTTPDATE", "src=10/Oct/2023:13:55:36 -0700 end",
         "10/Oct/2023:13:55:36 -0700"),
        ("SYSLOGTIMESTAMP", "src=Mar  5 10:11:12 end", "Mar  5 10:11:12"),
        ("MAC", "src=00:1A:2b:3C:4d:5E end", "00:1A:2b:3C:4d:5E"),
        ("EMAILADDRESS", "src=user.name+tag@example.co.uk end",
         "user.name+tag@example.co.uk"),
    ]
    rows = [(i, line) for i, (_, line, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, line string")
    for i, (pat, _, want) in enumerate(cases):
        out = run_esql(
            spark,
            f'FROM t | WHERE i == {i} | GROK line "src=%{{{pat}:v}} end" '
            "| KEEP v",
            tables={"t": df},
        ).collect()
        assert out[0]["v"] == want, (pat, out[0]["v"])
    # no match -> NULL field, row preserved
    out = run_esql(
        spark,
        'FROM t | GROK line "src=%{MAC:v} end" | STATS n = COUNT(*), '
        "nv = COUNT(v)",
        tables={"t": df},
    ).collect()
    assert out[0]["n"] == len(cases) and out[0]["nv"] == 1


def test_new_aggregates_median_values_top_wavg(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 3, 2.0), ("a", 10, 1.0), ("a", 3, 0.0),
         ("b", 4, 1.0), ("b", 8, 3.0)],
        "g string, n long, w double",
    )
    out = run_esql(
        spark,
        "FROM t | STATS med = MEDIAN(n), sd = STD_DEV(n), "
        "vals = VALUES(n), top2 = TOP(n, 2, 'desc'), "
        "bot2 = TOP(n, 2, 'asc'), wa = WEIGHTED_AVG(n, w) BY g | SORT g",
        tables={"t": df},
    ).collect()
    a, b = out
    assert a["med"] == 3.0 and b["med"] == 6.0
    assert a["vals"] == [1, 3, 10] and b["vals"] == [4, 8]
    assert a["top2"] == [10, 3] and a["bot2"] == [1, 3]
    assert abs(a["wa"] - (1 * 1 + 3 * 2 + 10 * 1) / 4.0) < 1e-12
    # population stddev of {1,3,10,3}: sqrt(46.75 / 4)
    assert abs(a["sd"] - 11.6875 ** 0.5) < 1e-9
    with pytest.raises(EsqlValidationError, match="TOP order"):
        run_esql(spark, "FROM t | STATS x = TOP(n, 2, 'sideways')",
                 tables={"t": df})
    with pytest.raises(EsqlValidationError, match="TOP limit"):
        run_esql(spark, "FROM t | STATS x = TOP(n, g, 'asc')",
                 tables={"t": df})


def test_new_mv_functions(spark):
    df = spark.createDataFrame(
        [(1, [5, 1, 3, 9], ["x", "y"], ["1", "2", "3"])],
        "id long, nums array<long>, a array<string>, b array<string>",
    )
    out = run_esql(
        spark,
        "FROM t | EVAL s01 = MV_SLICE(nums, 0, 1), "
        "last2 = MV_SLICE(nums, -2, -1), one = MV_SLICE(nums, 2), "
        "z = MV_ZIP(a, b), zd = MV_ZIP(a, b, '-'), "
        "app = MV_APPEND(a, b), med = MV_MEDIAN(nums)",
        tables={"t": df},
    ).collect()[0]
    assert out["s01"] == [5, 1] and out["last2"] == [3, 9]
    assert out["one"] == [3]
    # unequal lengths: the longer side's tail passes through
    assert out["z"] == ["x,1", "y,2", "3"]
    assert out["zd"] == ["x-1", "y-2", "3"]
    assert out["app"] == ["x", "y", "1", "2", "3"]
    # sorted [1,3,5,9]: even count -> (3+5)/2, integral -> truncating 4
    assert out["med"] == 4
    odd = spark.createDataFrame(
        [(1, [2.0, 9.0, 4.0])], "id long, nums array<double>"
    )
    r = run_esql(
        spark, "FROM t | EVAL m = MV_MEDIAN(nums), "
        "me = MV_MEDIAN(MV_SLICE(nums, 0, 1))", tables={"t": odd}
    ).collect()[0]
    # slice is positional (unsorted): [2.0, 9.0] -> exact double 5.5
    assert r["m"] == 4.0 and r["me"] == 5.5
    with pytest.raises(EsqlValidationError, match="same sign"):
        run_esql(spark, "FROM t | EVAL x = MV_SLICE(nums, -2, 1)",
                 tables={"t": odd})


def test_query_params_array_form(spark):
    """The reference's query_params array form (list of single-entry
    dicts, elasticsearch.rb:149-153,463-481) merges to named params;
    multi-entry elements, duplicates, and bare positional placeholders
    fail with the reference's validation semantics."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    r = run_esql(
        spark,
        "FROM t | WHERE s == ?name",
        params=[{"name": "a"}],
        tables={"t": df},
    ).collect()
    assert [x["id"] for x in r] == [1]
    with pytest.raises(EsqlValidationError, match="single-entry"):
        run_esql(spark, "FROM t | WHERE id > ?n",
                 params=[{"a": 1, "b": 2}], tables={"t": df})
    with pytest.raises(EsqlValidationError, match="duplicate"):
        run_esql(spark, "FROM t | WHERE id > ?n",
                 params=[{"n": 1}, {"n": 2}], tables={"t": df})
    with pytest.raises(EsqlValidationError, match="positional"):
        run_esql(spark, "FROM t | WHERE id > ?",
                 params=[{"n": 1}], tables={"t": df})
    # '?' inside a string literal is data, not a placeholder
    out = run_esql(
        spark, "FROM t | EVAL q = CONCAT(s, '?') | KEEP q", tables={"t": df}
    ).collect()
    assert sorted(x["q"] for x in out) == ["a?", "b?"]


def test_temporal_duration_literals(spark):
    """ES|QL temporal literals: duration arithmetic (`ts + 3 hours`,
    `NOW() - 1 day`) compiles to Spark intervals, DATE_TRUNC takes the
    dialect's `(1 day, ts)` form (multi-unit spans epoch-floor like
    BUCKET), quarters map to 3 months, and quoted strings stay inert."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, "2024-06-01 10:34:56")], "id long, tss string"
    )
    r = run_esql(
        spark,
        "FROM t | EVAL ts = TO_DATETIME(tss), plus3h = ts + 3 hours, "
        "minus2w = ts - 2 weeks, q = ts + 1 quarter, "
        "d = DATE_TRUNC(1 day, ts), h6 = DATE_TRUNC(6 hours, ts), "
        "w = DATE_TRUNC(1 week, ts), "
        "spark_form = DATE_TRUNC('day', ts), "
        "inert = CONCAT(tss, ' 3 hours ')",
        tables={"t": df},
    ).collect()[0]
    assert r["plus3h"] == dt.datetime(2024, 6, 1, 13, 34, 56)
    assert r["minus2w"] == dt.datetime(2024, 5, 18, 10, 34, 56)
    assert r["q"] == dt.datetime(2024, 9, 1, 10, 34, 56)
    assert r["d"] == dt.datetime(2024, 6, 1, 0, 0)
    assert r["h6"] == dt.datetime(2024, 6, 1, 6, 0)
    assert r["w"] == dt.datetime(2024, 5, 27, 0, 0)  # Monday
    assert r["spark_form"] == r["d"]
    assert r["inert"].endswith(" 3 hours ")  # quoted text untouched
    # durations filter against NOW()
    n = run_esql(
        spark,
        "FROM t | EVAL ts = TO_DATETIME(tss) | WHERE ts > NOW() - 1 hour",
        tables={"t": df},
    ).count()
    assert n == 0  # 2024 is long past


def test_multivalue_literals(spark):
    """ES|QL multivalue literals `[a, b, c]` compile to array() and
    feed the MV_* family and MV_EXPAND; commas inside brackets are not
    item separators."""
    out = run_esql(
        spark,
        "ROW a = [1, 2, 3], b = ['x', 'y'] "
        "| EVAL s = MV_SUM(a), j = MV_CONCAT(b, '-') | MV_EXPAND a",
        tables={},
    ).collect()
    assert [r["a"] for r in out] == [1, 2, 3]
    assert out[0]["s"] == 6.0 and out[0]["j"] == "x-y"


def test_rename_eq_and_enrich_with_eq(spark):
    """The `new = old` spellings: RENAME (ES|QL 9.1+) and ENRICH ...
    WITH new_name = policy_field (the standard ES|QL form); malformed
    items and unknown policy fields fail with clear messages."""
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    lk = spark.createDataFrame([("a", "x")], "s string, label string")
    out = run_esql(
        spark,
        "FROM t | ENRICH lk ON s WITH tag = label | RENAME ident = id",
        tables={"t": df, "lk": lk},
    )
    assert out.columns == ["ident", "s", "tag"]
    assert out.collect()[0]["tag"] == "x"
    with pytest.raises(EsqlValidationError, match="no field 'nope'"):
        run_esql(
            spark, "FROM t | ENRICH lk ON s WITH nope",
            tables={"t": df, "lk": lk},
        )
    with pytest.raises(EsqlValidationError, match="old AS new"):
        run_esql(spark, "FROM t | RENAME id", tables={"t": df})


def test_like_lists_and_rlike_anchoring(spark):
    """ES|QL 8.16+ pattern lists (`LIKE ("a*", "b*")` = any-of, NOT
    negates the disjunction) and RLIKE's full-string anchoring (Lucene
    regexp semantics; Spark's bare rlike is an unanchored search and
    would let "a.*" match 'banana')."""
    df = spark.createDataFrame(
        [(1, "apple"), (2, "banana"), (3, "cherry")], "id long, s string"
    )

    def ids(q):
        return sorted(
            r["id"] for r in run_esql(spark, q, tables={"t": df}).collect()
        )

    assert ids('FROM t | WHERE s LIKE ("a*", "b*")') == [1, 2]
    assert ids('FROM t | WHERE NOT s LIKE ("a*", "b*")') == [3]
    assert ids('FROM t | WHERE s RLIKE ("a.*", ".*rr.*")') == [1, 3]
    assert ids('FROM t | WHERE s RLIKE "a.*"') == [1]  # anchored
    # classic single-pattern forms unchanged; quoted parens stay inert
    assert ids('FROM t | WHERE s LIKE "b*"') == [2]
    assert ids("FROM t | WHERE CONCAT(s, 'LIKE (x, y)') LIKE \"apple*\"") \
        == [1]


def test_fulltext_functions(spark):
    """ES|QL full-text surface: MATCH (analyzed token overlap, optional
    'and' operator), MATCH_PHRASE (consecutive in-order tokens), and
    QSTR (the whole query_string grammar as a WHERE body), all sharing
    the template engine's standard-analyzer approximation."""
    df = spark.createDataFrame(
        [
            (1, "The Quick Brown Fox", "web"),
            (2, "quick fox", "api"),
            (3, "brown quick", "web"),
            (4, "", "web"),
        ],
        "id long, txt string, src string",
    )

    def ids(q):
        return sorted(
            r["id"] for r in run_esql(spark, q, tables={"t": df}).collect()
        )

    assert ids("FROM t | WHERE MATCH(txt, 'Quick BROWN')") == [1, 2, 3]
    assert ids("FROM t | WHERE MATCH(txt, 'Quick BROWN', 'and')") == [1, 3]
    assert ids("FROM t | WHERE MATCH_PHRASE(txt, 'quick brown')") == [1]
    assert ids("FROM t | WHERE MATCH(txt, '...')") == []  # zero tokens
    assert ids("FROM t | WHERE MATCH(txt, src)") == []  # column query
    assert ids("FROM t | WHERE QSTR('src:web') | WHERE MATCH(txt, 'quick')") \
        == [1, 3]
    assert ids("FROM t | WHERE QSTR('src:web OR txt:\"quick fox\"')") \
        == [1, 2, 3, 4]
    with pytest.raises(EsqlValidationError, match="entire WHERE body"):
        run_esql(
            spark, "FROM t | WHERE QSTR('src:web') AND id > 1",
            tables={"t": df},
        )
    with pytest.raises(EsqlValidationError, match="'and' or 'or'"):
        run_esql(
            spark, "FROM t | WHERE MATCH(txt, 'x', 'xor')", tables={"t": df}
        )


def test_from_metadata_index(spark):
    """FROM ... METADATA _index labels each row with its resolved
    source-table name before the union — the disambiguator for
    wildcard scans; unsupported metadata fields fail with guidance."""
    a = spark.createDataFrame([(1,)], "v long")
    b = spark.createDataFrame([(2,)], "v long")
    tables = {"logs_a": a, "logs_b": b}
    out = run_esql(
        spark,
        "FROM logs_* METADATA _index | SORT v",
        tables=tables,
    ).collect()
    assert [(r["v"], r["_index"]) for r in out] == [
        (1, "logs_a"), (2, "logs_b"),
    ]
    # the metadata column participates in downstream stages like any
    # other column (ES|QL semantics: drops out unless used/kept)
    agg = run_esql(
        spark,
        "FROM logs_* METADATA _index | STATS n = COUNT(*) BY _index "
        "| SORT _index",
        tables=tables,
    ).collect()
    assert [(r["_index"], r["n"]) for r in agg] == [("logs_a", 1), ("logs_b", 1)]
    with pytest.raises(EsqlValidationError, match="only _index"):
        run_esql(spark, "FROM logs_a METADATA _id", tables=tables)
    with pytest.raises(EsqlValidationError, match="field list"):
        run_esql(spark, "FROM logs_a METADATA", tables=tables)


def test_grok_composite_apache(spark):
    """%{COMBINEDAPACHELOG} expands one token into the 12 canonical
    fields (logstash grok-patterns definition, flattened): both the
    verb/request/httpversion branch and the rawrequest fallback, '-'
    bytes as NULL-after-cast, QS keeping its quotes."""
    full = (
        '66.249.73.185 - frank [17/May/2015:10:05:03 +0000] '
        '"GET /downloads/product_1 HTTP/1.1" 304 1024 '
        '"http://example.com/start" "Mozilla/5.0"'
    )
    raw = '10.0.0.1 - - [18/May/2015:11:05:03 +0000] "quit" 400 - "-" "-"'
    df = spark.createDataFrame([(1, full), (2, raw)], "id long, msg string")
    out = {
        r["id"]: r
        for r in run_esql(
            spark,
            'FROM t | GROK msg "%{COMBINEDAPACHELOG}" '
            "| EVAL resp = response::long, b = bytes::long",
            tables={"t": df},
        ).collect()
    }
    r1 = out[1]
    assert r1["clientip"] == "66.249.73.185" and r1["auth"] == "frank"
    assert r1["verb"] == "GET" and r1["request"] == "/downloads/product_1"
    assert r1["httpversion"] == "1.1" and r1["rawrequest"] is None
    assert r1["resp"] == 304 and r1["b"] == 1024
    assert r1["referrer"] == '"http://example.com/start"'
    assert r1["agent"] == '"Mozilla/5.0"'
    r2 = out[2]
    assert r2["rawrequest"] == "quit" and r2["verb"] is None
    assert r2["resp"] == 400 and r2["b"] is None  # '-' bytes
    with pytest.raises(EsqlValidationError, match="names its own"):
        run_esql(
            spark,
            'FROM t | GROK msg "%{COMBINEDAPACHELOG:x}"',
            tables={"t": df},
        )
    # SYSLOGBASE: timestamp/logsource/program with optional [pid]
    sdf = spark.createDataFrame(
        [
            (1, "May 17 10:05:03 web-01 sshd[4123]: Accepted publickey"),
            (2, "May  3 00:00:01 db-2 cron: job started"),
        ],
        "id long, msg string",
    )
    srows = {
        r["id"]: r
        for r in run_esql(
            spark,
            'FROM t | GROK msg "%{SYSLOGBASE} %{GREEDYDATA:logmsg}" '
            "| EVAL pidn = pid::long",
            tables={"t": sdf},
        ).collect()
    }
    assert srows[1]["logsource"] == "web-01" and srows[1]["program"] == "sshd"
    assert srows[1]["pidn"] == 4123
    assert srows[1]["logmsg"] == "Accepted publickey"
    assert srows[2]["program"] == "cron" and srows[2]["pidn"] is None
    assert srows[2]["timestamp"] == "May  3 00:00:01"


def test_colon_cast_shorthand(spark):
    """ES|QL `value::type` shorthand gets TO_*'s null-on-malformed
    semantics (Spark's native `::` is ANSI and would abort the whole
    query on one bad row), handles chained casts, parenthesized and
    string-literal operands, and rejects unknown type names."""
    df = spark.createDataFrame(
        [(1, "42"), (2, "oops")], "id long, s string"
    )
    out = {
        r["id"]: r
        for r in run_esql(
            spark,
            "FROM t | EVAL n = s::integer, chain = id::string::long, "
            "paren = (id + 1)::double, lit = '7'::int, "
            "inert = CONCAT(s, '::int')",
            tables={"t": df},
        ).collect()
    }
    assert out[1]["n"] == 42 and out[2]["n"] is None  # null, not abort
    assert out[1]["chain"] == 1 and out[1]["paren"] == 2.0
    assert out[1]["lit"] == 7
    assert out[2]["inert"] == "oops::int"  # quoted `::` untouched
    with pytest.raises(EsqlValidationError, match="unsupported '::'"):
        run_esql(spark, "FROM t | EVAL x = s::nope", tables={"t": df})


def test_math_tail_functions(spark):
    """r5 tail of the scalar surface: TAU/SCALB/ROUND_TO/TO_DEGREES/
    TO_RADIANS and the MV percentile family."""
    import math

    df = spark.createDataFrame(
        [(1, 52.0, [5.0, 1.0, 3.0, 9.0]), (2, 0.0, [7.0]), (3, None, None)],
        "id long, v double, nums array<double>",
    )
    out = {
        r["id"]: r
        for r in run_esql(
            spark,
            "FROM t | EVAL tau = TAU(), sc = SCALB(3.0, 4), "
            "deg = TO_DEGREES(3.141592653589793), rad = TO_RADIANS(180.0), "
            "rt = ROUND_TO(v, 0, 50, 100), "
            "p50 = MV_PERCENTILE(nums, 50), p0 = MV_PERCENTILE(nums, 0), "
            "p100 = MV_PERCENTILE(nums, 100), "
            "mad = MV_MEDIAN_ABSOLUTE_DEVIATION(nums)",
            tables={"t": df},
        ).collect()
    }
    r1 = out[1]
    assert abs(r1["tau"] - 2 * math.pi) < 1e-12
    assert r1["sc"] == 48.0  # 3 * 2^4
    assert abs(r1["deg"] - 180.0) < 1e-9
    assert abs(r1["rad"] - math.pi) < 1e-12
    assert r1["rt"] == 50  # 52 rounds DOWN to the largest point <= it
    assert out[2]["rt"] == 0
    # sorted [1,3,5,9]: p50 -> 1 + 0.5*(... ) interpolated = 4.0
    assert r1["p50"] == 4.0 and r1["p0"] == 1.0 and r1["p100"] == 9.0
    # deviations from median 4: [1,3,1,5] -> sorted [1,1,3,5] -> med 2
    assert r1["mad"] == 2.0
    assert out[2]["p50"] == 7.0 and out[2]["mad"] == 0.0
    # NULL field/array propagates
    assert out[3]["rt"] is None and out[3]["p50"] is None
    with pytest.raises(EsqlValidationError, match="numeric literals"):
        run_esql(spark, "FROM t | EVAL x = ROUND_TO(v, id)", tables={"t": df})
    with pytest.raises(EsqlValidationError, match="takes 0"):
        run_esql(spark, "FROM t | EVAL x = TAU(v)", tables={"t": df})


def test_base64_and_hash_functions(spark):
    df = spark.createDataFrame([("hello",)], "s string")
    out = run_esql(
        spark,
        "FROM t | EVAL b = TO_BASE64(s), rt = FROM_BASE64(TO_BASE64(s)), "
        "h1 = HASH('md5', s), h2 = HASH('sha256', s), h3 = SHA256(s), "
        "bl = BYTE_LENGTH(s)",
        tables={"t": df},
    ).collect()[0]
    assert out["b"] == "aGVsbG8=" and out["rt"] == "hello"
    assert out["h1"] == "5d41402abc4b2a76b9719d911017c592"
    assert out["h2"] == out["h3"]
    assert out["h2"].startswith("2cf24dba5fb0a30e26e83b2ac5b9e29e")
    assert out["bl"] == 5
    with pytest.raises(EsqlValidationError, match="HASH algorithm"):
        run_esql(spark, "FROM t | EVAL x = HASH('crc32', s)", tables={"t": df})


def test_ip_prefix(spark):
    df = spark.createDataFrame(
        [("192.168.37.200",), ("10.255.1.2",), ("not-an-ip",),
         ("2001:db8::1",), (None,)],
        "ip string",
    )
    out = run_esql(
        spark,
        "FROM t | EVAL p24 = IP_PREFIX(ip, 24, 64), "
        "p12 = IP_PREFIX(ip, 12, 64), p32 = IP_PREFIX(ip, 32, 64), "
        "p0 = IP_PREFIX(ip, 0, 64) | SORT ip NULLS LAST",
        tables={"t": df},
    ).collect()
    by_ip = {r["ip"]: r for r in out}
    assert by_ip["192.168.37.200"]["p24"] == "192.168.37.0"
    assert by_ip["192.168.37.200"]["p32"] == "192.168.37.200"
    assert by_ip["192.168.37.200"]["p0"] == "0.0.0.0"
    assert by_ip["10.255.1.2"]["p12"] == "10.240.0.0"
    assert by_ip["not-an-ip"]["p24"] is None
    assert by_ip["2001:db8::1"]["p24"] is None  # v4-only engine, NULL
    with pytest.raises(EsqlValidationError, match="IP_PREFIX v4 length"):
        run_esql(spark, "FROM t | EVAL x = IP_PREFIX(ip, 40, 64)",
                 tables={"t": df})


def test_dissect_modifiers(spark):
    """Dissect modifier set: %{?name} named skip, %{key->} right
    padding, %{+key} append with APPEND_SEPARATOR."""
    df = spark.createDataFrame(
        [("2024-03-05 - - WARN   service-a hello",)], "line string"
    )
    out = run_esql(
        spark,
        'FROM t | DISSECT line "%{d} %{?sep} %{?sep2} %{lvl->} %{svc} %{msg}"',
        tables={"t": df},
    ).collect()[0]
    assert out["d"] == "2024-03-05"
    assert out["lvl"] == "WARN" and out["svc"] == "service-a"
    assert out["msg"] == "hello"
    assert "sep" not in out.asDict() and "?sep" not in out.asDict()

    df2 = spark.createDataFrame([("john smith x",)], "s string")
    out2 = run_esql(
        spark,
        'FROM t | DISSECT s "%{+name} %{+name} %{rest}" '
        'APPEND_SEPARATOR=" "',
        tables={"t": df2},
    ).collect()[0]
    assert out2["name"] == "john smith" and out2["rest"] == "x"
    # default separator is empty
    out3 = run_esql(
        spark, 'FROM t | DISSECT s "%{+name} %{+name} %{rest}"',
        tables={"t": df2},
    ).collect()[0]
    assert out3["name"] == "johnsmith"
    # duplicate bare key is an error, not a silent overwrite
    with pytest.raises(EsqlValidationError, match="duplicate dissect key"):
        run_esql(spark, 'FROM t | DISSECT s "%{a} %{a} %{b}"',
                 tables={"t": df2})


def test_composed_agg_rejects_per_agg_where(spark):
    df = spark.createDataFrame([("a", 1)], "g string, n long")
    with pytest.raises(EsqlValidationError, match="per-aggregate"):
        run_esql(
            spark, "FROM t | STATS x = TOP(n, 2, 'asc') WHERE n > 0",
            tables={"t": df},
        )
    # MEDIAN compiles to a bare aggregate: FILTER attaches fine
    r = run_esql(
        spark, "FROM t | STATS m = MEDIAN(n) WHERE g == 'a'",
        tables={"t": df},
    ).collect()
    assert r[0]["m"] == 1.0


def test_fuse_rrf_and_linear(spark):
    """FUSE combines FORK branches: rrf = sum 1/(rc + per-branch rank),
    linear = sum of scores; one row per key, score-desc order."""
    df = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, 8.0, 9.0), (3, 6.0, 1.0)],
        "doc long, s1 double, s2 double",
    )
    out = run_esql(
        spark,
        "FROM t | FORK (EVAL sc = s1) (EVAL sc = s2) "
        "| FUSE rrf KEY BY doc SCORE BY sc WITH rank_constant=10",
        tables={"t": df},
    ).collect()
    # branch1 ranks: doc1=1, doc2=2, doc3=3; branch2: doc2=1, doc1=2, doc3=3
    exp = {
        1: 1 / 11 + 1 / 12,
        2: 1 / 12 + 1 / 11,
        3: 1 / 13 + 1 / 13,
    }
    got = {r["doc"]: r["_fused_score"] for r in out}
    for d, v in exp.items():
        assert abs(got[d] - v) < 1e-12
    # docs 1 and 2 tie on score -> key asc tiebreak; doc3 last
    assert [r["doc"] for r in out] == [1, 2, 3]

    lin = run_esql(
        spark,
        "FROM t | FORK (EVAL sc = s1) (EVAL sc = s2) "
        "| FUSE linear KEY BY doc SCORE BY sc",
        tables={"t": df},
    ).collect()
    lg = {r["doc"]: r["_fused_score"] for r in lin}
    assert lg == {1: 15.0, 2: 17.0, 3: 7.0}
    assert [r["doc"] for r in lin] == [2, 1, 3]

    with pytest.raises(EsqlValidationError, match="must follow FORK"):
        run_esql(spark, "FROM t | FUSE KEY BY doc SCORE BY s1",
                 tables={"t": df})
    with pytest.raises(EsqlValidationError, match="FUSE syntax"):
        run_esql(spark, "FROM t | FORK (EVAL sc = s1) (EVAL sc = s2) "
                 "| FUSE nope", tables={"t": df})


def test_show_info(spark):
    r = run_esql(spark, "SHOW INFO", tables={}).collect()
    assert len(r) == 1 and r[0]["version"] and r[0]["runtime"]
    # pipes compose after SHOW INFO, as in ES|QL
    out = run_esql(spark, "SHOW INFO | KEEP version", tables={}).collect()
    assert out[0].asDict().keys() == {"version"}
    with pytest.raises(EsqlValidationError, match="must start with"):
        run_esql(spark, "SHOW FUNCTIONS", tables={})


def test_stddev_all_null_group_is_null(spark):
    """greatest() skips NULLs, so the all-NULL group needs an explicit
    count guard: STD_DEV of a group with no values is NULL, not 0.0."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None)], "g string, v double"
    )
    out = {
        r["g"]: r["sd"]
        for r in run_esql(
            spark, "FROM t | STATS sd = STD_DEV(v) BY g", tables={"t": df}
        ).collect()
    }
    assert out["a"] == pytest.approx(1.0)
    assert out["b"] is None


def test_mv_percentile_empty_and_null_arrays(spark):
    """An empty multivalue must yield NULL, not abort the query with
    INVALID_INDEX_OF_ZERO; a NULL array also yields NULL."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, []), (3, None)],
        "id int, vs array<double>",
    )
    out = {
        r["id"]: r["p"]
        for r in run_esql(
            spark,
            "FROM t | EVAL p = MV_PERCENTILE(vs, 50) | KEEP id, p",
            tables={"t": df},
        ).collect()
    }
    assert out[1] == pytest.approx(2.0)
    assert out[2] is None
    assert out[3] is None


def test_qstr_double_quoted(spark, esql_docs):
    """ES|QL strings are canonically double-quoted; QSTR must accept
    both quote styles (and the triple-quote form reduces to double)."""
    single = run_esql(
        spark, "FROM my_index | WHERE QSTR('type:b')", tables=esql_docs
    ).count()
    double = run_esql(
        spark, 'FROM my_index | WHERE QSTR("type:b")', tables=esql_docs
    ).count()
    triple = run_esql(
        spark, 'FROM my_index | WHERE QSTR("""type:b""")', tables=esql_docs
    ).count()
    assert single == double == triple > 0


def test_identifier_params_rejected_clearly(spark, esql_docs):
    with pytest.raises(EsqlValidationError, match="identifier params"):
        run_esql(
            spark,
            "FROM my_index | WHERE ??f == 'b'",
            params={"f": "type"},
            tables=esql_docs,
        )
