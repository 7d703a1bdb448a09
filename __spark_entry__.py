"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship enrichment on sf0.001;
``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the training-data ops) to a (spark, sf_dir) callable; ``oracle_sql()``
provides the DuckDB-equivalent SQL for the correctness gate. Column
names/aliases are kept identical on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logstash_filter_elasticsearch_spark.functions.fieldref import sprintf_expr
from logstash_filter_elasticsearch_spark.operators.aggregate import (
    salted_agg,
    salted_dedup_first,
)
from logstash_filter_elasticsearch_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from logstash_filter_elasticsearch_spark.operators.enrich import EnrichSpec, Enricher
from logstash_filter_elasticsearch_spark.operators.layout import spread
from logstash_filter_elasticsearch_spark.operators.similarity import cosine_topk, lsh_topk
from logstash_filter_elasticsearch_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_ish_token_count,
    fingerprint_md5,
    lang_id,
    quality_features,
    whitespace_token_count,
)
from logstash_filter_elasticsearch_spark.plans.esql import run_esql
from logstash_filter_elasticsearch_spark.sources.tables import read_parquet

STOP_LIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- queries

def q_enrich_left_join(spark, sf_dir):
    """A3/B11 flagship: per-event lookup as broadcast left join.

    The reference's docs example shape ("find the matching doc, copy
    fields", docs/index.asciidoc:36-53): enrich events with customer
    fields; unmatched events pass through (elasticsearch_dsl_spec.rb:180-199).
    """
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="c_custkey",
        fields={"c_name": "customer_name", "c_mktsegment": "segment"},
        result_size=1,
        sort=[("c_name", "asc")],
    )
    out = Enricher(spec).apply(events, customer)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.element_at("customer_name", 1).alias("customer_name"),
        F.element_at("segment", 1).alias("segment"),
        "matched",
        F.col("_meta_total_hits").alias("total_hits"),
    )


def q_fields_multi_hit(spark, sf_dir):
    """A6 multi-hit: scalar-vs-array rule over orders per user
    (dsl_executor.rb:58; spec elasticsearch_dsl_spec.rb:100-119).

    The probe side hash-spreads on the unique event id (sort-free
    exchange, size-guarded no-op for small inputs): this query's
    post-join projection builds per-event arrays + JSON, heavy enough
    that parallelizing the single-file probe scan wins (measured
    1.33s -> 1.0s at sf1.0; the lighter top-1 enrich queries measured
    the same spread as a LOSS and stay unspread)."""
    events = spread(_t(spark, sf_dir, "events"), by=["event_id"], skip_tiny=True)
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        fields={"o_orderkey": "top_orderkeys"},
        result_size=3,
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.col("_meta_total_hits").alias("n_hits"),
        F.to_json("top_orderkeys").alias("top_orderkeys_json"),
        F.element_at("top_orderkeys", 1).alias("top_orderkey"),
    )


def q_docinfo_latest(spark, sf_dir):
    """A7 + B4/B5 defaults: top-1 hit by sort desc, docinfo copy
    (dsl_executor.rb:61-68; default sort elasticsearch.rb:43-44)."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "_id", F.col("o_orderkey")
    )
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        docinfo_fields={"_id": "document_id"},
        fields={"o_orderstatus": "order_status"},
        result_size=1,
        sort=[("o_orderdate", "desc"), ("o_orderkey", "desc")],
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.element_at("document_id", 1).alias("document_id"),
        F.element_at("order_status", 1).alias("order_status"),
    )


def q_sort_missing_values(spark, sf_dir):
    """B4 with ES per-field `missing` sort semantics: a nullable sort
    key (totalprice only for 'F' orders) sorted desc with
    missing:_first — missing docs LEAD the result order, the opposite
    of both directions' defaults (ES sort docs; elasticsearch.rb:43-44).
    o_orderkey asc tiebreak makes top-2 deterministic."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "np",
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")),
    )
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        fields={"o_orderkey": "keys"},
        result_size=2,
        sort=[("np", "desc", "_first"), ("o_orderkey", "asc")],
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.try_element_at("keys", F.lit(1)).alias("k1"),
        F.try_element_at("keys", F.lit(2)).alias("k2"),
    )


def q_total_hits(spark, sf_dir):
    """A5: [@metadata][total_hits] per event (dsl_executor.rb:48,99-107)."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(event_key="user_id", lookup_key="o_custkey", result_size=0)
    out = Enricher(spec).apply(events, orders)
    return out.select("event_id", F.col("_meta_total_hits").alias("total_hits"))


def q_aggregation_fields(spark, sf_dir):
    """A8/B7: named aggregations copied per event
    (dsl_executor.rb:71-77; fixture request_size0_agg.json)."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        aggregation_fields={
            "order_total": ("sum", "o_totalprice"),
            "order_max": ("max", "o_totalprice"),
        },
        result_size=0,
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.round("order_total", 2).alias("order_total"),
        "order_max",
        "matched",
    )


def q_matched_decoration(spark, sf_dir):
    """A12: decoration (add_tag) only for matched events
    (elasticsearch.rb:218-221; spec elasticsearch_dsl_spec.rb:137-155)."""
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="c_custkey",
        fields={"c_name": "customer_name"},
        result_size=1,
        sort=[("c_name", "asc")],
        add_tag_on_match=["matched_customer"],
    )
    out = Enricher(spec).apply(events, customer)
    return out.select(
        "event_id",
        "matched",
        F.coalesce(F.to_json("tags"), F.lit("[]")).alias("tags_json"),
    )


def q_quarantine_parse(spark, sf_dir):
    """A11/A1: regex parse with tag_on_failure quarantine routing
    (dsl_executor.rb:79-87). Docs lacking 'key' get the failure tag."""
    from logstash_filter_elasticsearch_spark.operators.enrich import tag_failures
    from logstash_filter_elasticsearch_spark.operators.parse import extract_first

    docs = _t(spark, sf_dir, "documents")
    parsed = docs.withColumn(
        "key_word", extract_first(F.col("text"), [r"\bkey (\w+)"])
    )
    tagged = tag_failures(parsed, F.col("key_word").isNull(), ["_grokparsefailure"])
    return tagged.select(
        "doc_id", "key_word", F.to_json("tags").alias("tags_json")
    )


def q_sprintf_index(spark, sf_dir):
    """A1: %{[field]} index-name interpolation (dsl_executor.rb:31)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", sprintf_expr("logs-%{[source]}-%{[lang]}").alias("idx")
    )


def q_query_string_filter(spark, sf_dir):
    """B2: query_string equality+range predicate (docs/index.asciidoc:40)."""
    events = _t(spark, sf_dir, "events")
    return events.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    ).select("event_id", "user_id", "value")


def q_query_string_exists(spark, sf_dir):
    """B2 breadth (r5): `_exists_:f`, field groups `f:(a OR b)`, fuzzy
    `term~` (AUTO edits via levenshtein) and `^boost` stripping, all
    through the query_string grammar (docs/index.asciidoc:40). The
    nullable `big` column gives _exists_ a real null set; the fuzzy
    `purchas~` (AUTO -> 2 edits) keeps only 'purchase' from the field
    group."""
    from logstash_filter_elasticsearch_spark.plans.template import (
        parse_query_string,
        to_column,
    )

    events = _t(spark, sf_dir, "events")
    ev = events.withColumn("big", F.when(F.col("value") >= 100, F.col("value")))
    node = parse_query_string(
        "_exists_:big AND event_type:(purchase OR signup)^2 "
        "AND event_type:purchas~ AND user_id:[10 TO 900}",
        default_op="AND",
    )
    return (
        ev.filter(to_column(node, F.col))
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    )


def q_terms_membership(spark, sf_dir):
    """B3: terms membership (fixture query_template_unicode.json:2-6)."""
    events = _t(spark, sf_dir, "events")
    return events.filter(F.col("event_type").isin("error", "signup")).select(
        "event_id", "event_type"
    )


def q_topk_per_key(spark, sf_dir):
    """B5: per-key top-k (result_size) via window row_number.

    The explicit keyed spread both parallelizes a single-file scan and
    pins the window's exchange at the session parallelism — left to
    ENSURE_REQUIREMENTS, AQE coalesces the ~20 MB shuffle to 1-2
    partitions and the sort+window run nearly serial (measured 1.25s
    -> 0.52s at sf1.0; guide §2.2 partition sizing)."""
    from pyspark.sql.window import Window

    orders = spread(_t(spark, sf_dir, "orders"), by=["o_custkey"], skip_tiny=True)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def q_esql_stats_by(spark, sf_dir):
    """A14/B8: ES|QL STATS ... BY (spec elasticsearch_esql_spec.rb:12-13)."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | STATS cnt = count(*), total_value = round(sum(value), 2) "
        "BY event_type | SORT event_type",
        tables=tables,
    )


def q_esql_where_sort_limit(spark, sf_dir):
    """A13/B9: ES|QL WHERE with named params + SORT/LIMIT/KEEP."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE value >= ?min AND event_type == ?etype "
        "| SORT value DESC, event_id | LIMIT 10 | KEEP event_id, event_type, value",
        params={"min": 150, "etype": "purchase"},
        tables=tables,
    )


def q_esql_eval_rename(spark, sf_dir):
    """B10: EVAL/RENAME/DROP/KEEP column ops (docs/index.asciidoc:203-223)."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | EVAL value_cents = cast(round(value * 100, 0) as long) "
        "| RENAME event_type AS etype | DROP props | WHERE user_id < 50 "
        "| KEEP event_id, etype, value_cents | SORT event_id | LIMIT 100",
        tables=tables,
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content (training-data op)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def q_dedup_normalized(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id", normalized=True)


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (shingle equi-join, no cross join)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: transitive closure over the n-gram Jaccard
    pairs (min-label propagation = DuckDB's recursive closure), then
    one deterministic canonical survivor per cluster. The id column is
    selected BEFORE the closure joins, so only ids shuffle — never the
    text payload."""
    from logstash_filter_elasticsearch_spark.operators.dedup import (
        dedup_cluster_survivors,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_cluster_survivors(
        docs.select("doc_id"), pairs.select("id_a", "id_b")
    )


def q_salted_route_agg(spark, sf_dir):
    """Salted two-phase per-sink aggregate == plain groupBy (skew-proof)."""
    docs = _t(spark, sf_dir, "documents")
    return salted_agg(
        docs,
        ["source"],
        {"n_docs": ("count", "doc_id"), "sum_chars": ("sum", "n_chars")},
        salt_buckets=16,
        salt_on="doc_id",
    )


def q_dedup_latest_event(spark, sf_dir):
    """LRU-style 'latest wins' dedup per user via salted two-phase min_by."""
    events = _t(spark, sf_dir, "events")
    latest = salted_dedup_first(
        events,
        "user_id",
        [
            (-F.unix_micros(F.col("ts").cast("timestamp"))).alias("_neg_ts"),
            F.col("event_id"),
        ],
        salt_buckets=8,
    )
    return latest.select("user_id", "event_id", "event_type")


def q_quality_scores(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs, "text")
    return out.select(
        "doc_id", "n_words", "n_stopwords", "stopword_ratio", "quality_score"
    )


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs, "text").select("doc_id", "lang_pred")


def q_token_counts(spark, sf_dir):
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return fingerprint_md5(docs, "text").select("doc_id", "fingerprint")


def q_multimodal_meta(spark, sf_dir):
    """Binary-column plumbing: encode->binary, native byte metadata."""
    docs = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha"),
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 5).alias("cos")
    )


def q_query_template_render(spark, sf_dir):
    """A2 query_template (hash-join path): static term pushdown + event-ref
    equality join, template size/sort override (dsl_executor.rb:33-35;
    docs/index.asciidoc:85-103)."""
    from logstash_filter_elasticsearch_spark.plans.template import enrich_with_template

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    out = enrich_with_template(
        events,
        orders,
        {
            "size": 1,
            "sort": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}],
            "query": {
                "bool": {
                    "filter": [
                        {"term": {"o_orderstatus": "F"}},
                        {"term": {"o_custkey": "%{[user_id]}"}},
                    ]
                }
            },
        },
        fields={"o_orderkey": "top_key", "o_totalprice": "top_price"},
    )
    return out.select(
        "event_id",
        F.element_at("top_key", 1).alias("top_key"),
        F.round(F.element_at("top_price", 1), 2).alias("top_price"),
        "matched",
    )


def q_query_template_theta(spark, sf_dir):
    """A2 theta path: per-event range predicate (different hit set per
    event) -> broadcast theta join + regroup."""
    from logstash_filter_elasticsearch_spark.plans.template import enrich_with_template

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    out = enrich_with_template(
        events,
        orders,
        {
            "size": 1,
            "sort": [{"o_orderkey": "desc"}],
            "query": {
                "bool": {
                    "must": [
                        {"term": {"o_custkey": "%{[user_id]}"}},
                        {"range": {"o_orderkey": {"lte": "%{[event_id]}"}}},
                    ]
                }
            },
        },
        fields={"o_orderkey": "best_key"},
        event_id="event_id",
    )
    return out.select(
        "event_id",
        F.element_at("best_key", 1).alias("best_key"),
        F.col("_meta_total_hits").alias("n_hits"),
    )


def q_match_analyzed(spark, sf_dir):
    """Analyzed full-text match/match_phrase template nodes
    (docs/index.asciidoc:85-103): standard-analyzer approximation
    (lowercase + Unicode-word tokenize) with OR-overlap for match,
    token containment for operator:and, and consecutive in-order
    tokens for match_phrase — not keyword equality (that stays term's
    job). Filter = match OR; columns = the AND and phrase variants."""
    from logstash_filter_elasticsearch_spark.plans.template import (
        compile_template,
        to_column,
    )

    docs = _t(spark, sf_dir, "documents")
    keep = compile_template(
        {"query": {"match": {"text": "VECTOR stream"}}}
    ).conjuncts()[0]
    both = compile_template(
        {"query": {"match": {"text": {"query": "vector stream",
                                      "operator": "and"}}}}
    ).conjuncts()[0]
    phrase = compile_template(
        {"query": {"match_phrase": {"text": "vector stream"}}}
    ).conjuncts()[0]
    return (
        docs.filter(to_column(keep, F.col))
        .select(
            "doc_id",
            to_column(both, F.col).alias("both_toks"),
            to_column(phrase, F.col).alias("phrase"),
        )
        .orderBy("doc_id")
    )


def q_query_string_template(spark, sf_dir):
    """B2 query_string grammar inside a template: equality + event ref +
    bracket range (docs/index.asciidoc:36-53)."""
    from logstash_filter_elasticsearch_spark.plans.template import enrich_with_template

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    out = enrich_with_template(
        events,
        orders,
        {
            "size": 2,
            "sort": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}],
            "query": {
                "query_string": {
                    "query": "o_orderstatus:F AND o_custkey:%{[user_id]} "
                    "AND o_totalprice:[1000 TO 300000]",
                    "default_operator": "AND",
                }
            },
        },
        fields={"o_totalprice": "prices"},
    )
    return out.select(
        "event_id",
        F.round(F.try_element_at("prices", F.lit(1)), 2).alias("p1"),
        F.round(F.try_element_at("prices", F.lit(2)), 2).alias("p2"),
        F.col("_meta_total_hits").alias("n_hits"),
    )


def q_esql_grok(spark, sf_dir):
    """ES|QL GROK: pattern-library extraction with type coercion."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        'FROM events | GROK props "%{INT:k:int}" '
        "| KEEP event_id, k | SORT event_id",
        tables=tables,
    )


def q_esql_stats_extended(spark, sf_dir):
    """Round-4 aggregate breadth: MEDIAN (exact interpolated
    percentile), VALUES (distinct ascending), TOP(k, desc),
    WEIGHTED_AVG — over integral cents (FLOOR-based half-up on both
    engines; integer sums are exact in any order, selection aggs are
    order-free). STD_DEV is certified separately (`esql_stats_stddev`)
    now that the engine emits the order-independent closed form."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE event_type == 'purchase' "
        "| EVAL cents = TO_LONG(FLOOR(value * 100 + 0.5)), "
        "w = event_id % 3 + 1 "
        "| STATS med = MEDIAN(cents), wa = WEIGHTED_AVG(cents, w), "
        "top3 = TOP(cents, 3, 'desc'), nvals = COUNT_DISTINCT(cents) "
        "BY user_id "
        "| EVAL t1 = MV_FIRST(top3), t2 = MV_FIRST(MV_SLICE(top3, 1)), "
        "t3 = MV_FIRST(MV_SLICE(top3, 2)) "
        "| KEEP user_id, med, wa, t1, t2, t3, nvals | SORT user_id",
        tables=tables,
    )


def q_esql_stats_stddev(spark, sf_dir):
    """STD_DEV oracle certification: the engine emits ES's own
    extended_stats closed form (sum(x²) - sum(x)²/n)/n over double
    sums. Over integral cents every partial sum is an exact integer
    double regardless of partition/merge order (all < 2^53 at contract
    scale), so the final subtraction/division/sqrt is the identical
    IEEE sequence on both engines — bit-for-bit hashable, unlike
    Welford stddev_pop."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE event_type == 'purchase' "
        "| EVAL cents = TO_LONG(FLOOR(value * 100 + 0.5)) "
        "| STATS sd = STD_DEV(cents), n = COUNT(cents) BY user_id "
        "| SORT user_id",
        tables=tables,
    )


def q_esql_grok_logline(spark, sf_dir):
    """GROK with the first-reach logstash patterns (%{IP}, %{URIPATH},
    %{LOGLEVEL}) over a synthesized access-log line; the oracle
    recomputes the fields from the same source columns."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL line = CONCAT('10.', TO_STRING(user_id % 200), '.0.', "
        "TO_STRING(event_id % 250), ' - GET /api/items/', "
        "TO_STRING(event_id), ' INFO') "
        '| GROK line "%{IP:ip} - %{WORD:verb} %{URIPATH:path} '
        '%{LOGLEVEL:level}" '
        "| KEEP event_id, ip, verb, path, level "
        "| SORT event_id | LIMIT 1000",
        tables=tables,
    )


def q_esql_fuse(spark, sf_dir):
    """FUSE (ES|QL hybrid-search fusion) over FORK branches: RRF with
    explicit KEY BY/SCORE BY (this engine has no _id/_score envelope).
    Each key gets <=2 contributions, and a 2-term IEEE sum is
    order-independent, so the double fused score hashes exactly."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| FORK (WHERE event_type == 'purchase' "
        "        | STATS sc = COUNT(*) BY user_id) "
        "       (WHERE event_type == 'error' "
        "        | STATS sc = COUNT(*) BY user_id) "
        "| FUSE rrf KEY BY user_id SCORE BY sc",
        tables=tables,
    )


def q_esql_dissect_modifiers(spark, sf_dir):
    """Dissect modifier set over a synthesized line: %{+key} append
    with APPEND_SEPARATOR, %{?name} named skip, %{key->} right
    padding. The line is built from source columns, so the oracle
    states the fields directly."""
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return run_esql(
        spark,
        "FROM documents "
        "| EVAL line = CONCAT(source, ' ', lang, ' - ', "
        "TO_STRING(doc_id), '   end') "
        '| DISSECT line "%{+sid} %{+sid} %{?dash} %{id->} %{tail}" '
        'APPEND_SEPARATOR="_" '
        "| KEEP doc_id, sid, id, tail | SORT doc_id",
        tables=tables,
    )


def q_esql_ip_prefix(spark, sf_dir):
    """IP_PREFIX over synthesized v4 addresses; the oracle replays the
    same num - num % 2^(32-len) arithmetic in SQL."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL ip = CONCAT('10.', TO_STRING(user_id % 200), '.', "
        "TO_STRING(event_id % 256), '.', TO_STRING(event_id % 250)) "
        "| EVAL net20 = IP_PREFIX(ip, 20, 64), net28 = IP_PREFIX(ip, 28, 64) "
        "| KEEP event_id, ip, net20, net28 | SORT event_id | LIMIT 2000",
        tables=tables,
    )


def q_esql_dissect(spark, sf_dir):
    """ES|QL DISSECT: literal-delimited extraction."""
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return run_esql(
        spark,
        "FROM documents | EVAL sid = concat(source, '-', lang) "
        '| DISSECT sid "%{s}-%{l}" | KEEP doc_id, s, l',
        tables=tables,
    )


def q_esql_enrich(spark, sf_dir):
    """ES|QL ENRICH: the per-event lookup spelled as a pipe command."""
    tables = {
        "events": _t(spark, sf_dir, "events"),
        "customer": _t(spark, sf_dir, "customer"),
    }
    return run_esql(
        spark,
        "FROM events | EVAL c_custkey = user_id "
        "| ENRICH customer ON c_custkey WITH c_name AS cust_name, c_mktsegment AS seg "
        "| KEEP event_id, cust_name, seg",
        tables=tables,
    )


def q_esql_mv_expand(spark, sf_dir):
    """ES|QL MV_EXPAND: multivalued column -> one row per element."""
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return run_esql(
        spark,
        "FROM documents | EVAL word = split(text, ' ') | MV_EXPAND word "
        "| KEEP doc_id, word",
        tables=tables,
    )


# ---- rows-only queries (no SQL-expressible oracle: seeded xxhash64 / planes)

def q_esql_stats_percentile(spark, sf_dir):
    """B7 distribution aggregates: exact median + interpolated p90 +
    distinct count (ES|QL MEDIAN/PERCENTILE/COUNT_DISTINCT; PERCENTILE
    takes 0-100 per the ES|QL dialect and is mapped to Spark's 0-1
    fraction; Spark and DuckDB share the linear-interpolation
    definition)."""
    tables = {"orders": _t(spark, sf_dir, "orders")}
    return run_esql(
        spark,
        "FROM orders | STATS med = round(MEDIAN(o_totalprice), 4), "
        "p90 = round(PERCENTILE(o_totalprice, 90), 4), "
        "ucnt = COUNT_DISTINCT(o_custkey) "
        "BY o_orderstatus | SORT o_orderstatus",
        tables=tables,
    )


def q_esql_like_in(spark, sf_dir):
    """ES|QL WHERE with LIKE wildcard + IN membership. ES|QL LIKE
    wildcards are * and ? (not SQL %/_); the oracle states the same
    predicate in SQL syntax."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE event_type LIKE 'p*' AND user_id IN (1, 2, 3) "
        "| KEEP event_id, user_id, event_type | SORT event_id",
        tables=tables,
    )


def q_parse_json_props(spark, sf_dir):
    """JSON _source-style payload extraction: from_json over the props
    column (the set form of reading hit _source JSON,
    request_x_1.json:52-54)."""
    events = _t(spark, sf_dir, "events")
    parsed = events.withColumn(
        "_p", F.from_json("props", "k int")
    )
    return parsed.select(
        "event_id", F.col("_p.k").alias("k"),
        (F.col("_p.k") >= 50).alias("k_high"),
    )


def q_scalar_or_array(spark, sf_dir):
    """A6 exact dynamic rule: 1 hit -> bare scalar, N hits -> JSON array
    (dsl_executor.rb:58; spec elasticsearch_dsl_spec.rb:100-119)."""
    from logstash_filter_elasticsearch_spark.operators.enrich import (
        scalar_or_array_json,
    )

    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        fields={"o_orderkey": "keys"},
        result_size=3,
        sort=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id", scalar_or_array_json(F.col("keys")).alias("merged")
    )


def q_target_nesting(spark, sf_dir):
    """A10: dest fields nested under a target struct
    (dsl_executor.rb:21-25,133-136; docs/index.asciidoc:660-696)."""
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="c_custkey",
        fields={"c_name": "name", "c_mktsegment": "segment"},
        result_size=1,
        sort=[("c_name", "asc")],
        target="cust",
    )
    out = Enricher(spec).apply(events, customer)
    return out.select(
        "event_id",
        F.element_at("cust.name", 1).alias("cust_name"),
        F.element_at("cust.segment", 1).alias("cust_segment"),
    )


def q_esql_stats_multi(spark, sf_dir):
    """B7/B8 richer aggregate surface: avg/min/max/count(distinct) plus
    ES|QL per-aggregate filtering (`agg() WHERE cond` -> SQL
    FILTER (WHERE ...) — map-side conditional accumulation, one pass)."""
    tables = {"orders": _t(spark, sf_dir, "orders")}
    return run_esql(
        spark,
        # integral-cents average: exact in any summation order, no
        # rounding-boundary hash risk (see q_esql_inlinestats)
        "FROM orders | STATS n = count(*), custs = count(distinct o_custkey), "
        "avg_cents = avg(ROUND(o_totalprice * 100)), lo = min(o_totalprice), "
        "hi = max(o_totalprice), "
        "n_urgent = count(*) WHERE o_orderpriority == '1-URGENT' "
        "BY o_orderstatus | SORT o_orderstatus",
        tables=tables,
    )


def q_index_wildcard(spark, sf_dir):
    """B1: comma-list/wildcard index resolution -> union of tables
    (elasticsearch.rb:26-28; spec elasticsearch_dsl_spec.rb:83-98)."""
    from logstash_filter_elasticsearch_spark.sources.tables import TableCatalog

    reg = TableCatalog(spark)
    reg.register("events_a", os.path.join(sf_dir, "events.parquet"))
    reg.register("events_b", os.path.join(sf_dir, "events.parquet"))
    both = reg.read("events_*")
    return (
        both.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact baseline; LSH variant is
    the rows-only ann path)."""
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_near_dup_pairs(emb, threshold=0.4)
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos"))


def _ivf_fixed_centroids(seed: int = 7, n_centroids: int = 16, dim: int = 64):
    """Seed-derived unit centroids for the CONTRACT ivf query.

    Data-independent on purpose: the DuckDB oracle embeds the same
    literals and replicates assignment/probe/re-rank exactly, so the
    gate verifies the IVF *machinery*. The production path trains
    centroids on a deterministic sample (``train_centroids``, covered
    by the pytest recall tests) — swap-in is one argument.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_centroids, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantized ANN (scale path; trained-centroid recall is
    pytest-covered; the contract run uses fixed seed centroids so the
    DuckDB oracle can replicate cell assignment bit-for-bit)."""
    from logstash_filter_elasticsearch_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4,
        centroids=_ivf_fixed_centroids(),
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 5).alias("cos")
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash banding + exact-Jaccard verify. At this data's duplicate
    profile (all true pairs >= 0.9 Jaccard) band recall is 1-3e-8, so
    the exact-Jaccard SQL is a valid oracle; the banded path never sees
    the O(N^2) pair space."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash(spark, sf_dir):
    """SimHash fingerprints in md5 hash-mode: bit-for-bit recomputable
    by the DuckDB oracle (prod default stays xxhash64)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", hash_mode="md5")


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Hyperplane-LSH near-dup pairs — the 100 TB contract path for
    embedding near-dup (bucketed self-join, never all-pairs). The
    banding is SOLVED FROM THE THRESHOLD (auto_lsh_params: expected
    recall >= 0.9 at cos 0.4 -> 5 planes x 22 tables; the r2 fixed
    10x6 banding had ~5% recall here). The oracle embeds the same
    seed-derived hyperplanes as SQL literals and replicates bucketing +
    candidate join + exact cosine filter."""
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_near_dup_pairs(emb, threshold=0.4, dim=64, seed=42)
    return out.select("id_a", "id_b", F.round("cos", 5).alias("cos"))


def q_multimodal_decode(spark, sf_dir):
    """Arrow-batched mapInPandas encode + decode over binary media
    columns. BMP (image), WAV (audio) and MP4 (video) are REAL codecs —
    the decoder parses the genuine container headers/boxes the encoder
    wrote. The oracle states the decode-of-encode composition in closed
    form over the raw byte length."""
    from logstash_filter_elasticsearch_spark.operators.multimodal import (
        decode_media,
        encode_media,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.encode("text", "utf-8")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )
    decoded = decode_media(encode_media(media))
    return sample_frames(decoded, every_ms=10000).select(
        "media_id", "media_type", "n_bytes", "width", "height",
        "duration_ms", "sample_rate", "channels", "frame_ts_ms",
    )


def q_ann_lsh(spark, sf_dir):
    """Multi-table hyperplane LSH top-k; oracle replicates the planes."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, k=5, dim=64, n_planes=10, n_tables=6)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 5).alias("cos")
    )


def q_aggregation_terms(spark, sf_dir):
    """A8/B7 bucket aggregations: a named `terms` aggregation copied per
    event as the whole buckets array (reference copies whole aggregation
    objects, dsl_executor.rb:71-77; spec elasticsearch_dsl_spec.rb:157-178).
    ES terms order: doc_count desc, key asc; default size 10."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        aggregation_fields={"status_terms": ("terms", "o_orderstatus", 10)},
        result_size=0,
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.to_json("status_terms").alias("status_terms_json"),
        "matched",
    )


def q_aggregation_histogram(spark, sf_dir):
    """A8/B7 histogram bucket aggregation copied whole per event:
    buckets keyed floor(v/interval)*interval, key-ascending
    (dsl_executor.rb:71-77 whole-object copy rule)."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        aggregation_fields={"price_hist": ("histogram", "o_totalprice", 50000)},
        result_size=0,
    )
    out = Enricher(spec).apply(events, orders)
    return out.select(
        "event_id",
        F.to_json("price_hist").alias("price_hist_json"),
        "matched",
    )


def q_aggregation_date_histogram(spark, sf_dir):
    """A8/B7 date_histogram bucket aggregation copied whole per event:
    calendar-interval buckets keyed by date_trunc('year'), ascending
    (dsl_executor.rb:71-77 whole-object copy rule). Keys are rendered
    yyyy-MM-dd for a cross-engine JSON comparison."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    spec = EnrichSpec(
        event_key="user_id",
        lookup_key="o_custkey",
        aggregation_fields={"yr_hist": ("date_histogram", "o_orderdate", "year")},
        result_size=0,
    )
    out = Enricher(spec).apply(events, orders)
    rendered = F.transform(
        "yr_hist",
        lambda b: F.struct(
            F.date_format(b["key"], "yyyy-MM-dd").alias("key"),
            b["doc_count"].alias("doc_count"),
        ),
    )
    return out.select(
        "event_id", F.to_json(rendered).alias("yr_hist_json"), "matched"
    )


def q_esql_first_row(spark, sf_dir):
    """A16: no target -> only the FIRST result row maps onto the event
    root, plus [@metadata][total_values] (esql_executor.rb:102-108)."""
    from logstash_filter_elasticsearch_spark.plans.esql import first_row_to_root

    tables = {"events": _t(spark, sf_dir, "events")}
    df = run_esql(
        spark,
        "FROM events | WHERE event_type == 'purchase' "
        "| KEEP event_id, user_id, value",
        tables=tables,
    )
    return first_row_to_root(df, order_by=[F.asc("event_id")])


def q_esql_rows_to_target(spark, sf_dir):
    """A17/A18/A20: all rows -> array of nested structs under target;
    dotted columns nest (esql_executor.rb:88-101,120-151). The array is
    sorted for a deterministic cross-engine comparison."""
    from logstash_filter_elasticsearch_spark.plans.esql import rows_to_target_array

    tables = {"events": _t(spark, sf_dir, "events")}
    base = run_esql(
        spark,
        "FROM events | WHERE user_id == 1 | KEEP event_id, user_id",
        tables=tables,
    )
    df = base.withColumn("u.id", F.col("user_id")).drop("user_id")
    out = rows_to_target_array(df, "hits")
    return out.select(
        F.to_json(F.array_sort("hits")).alias("hits_json"),
        "_meta_total_values",
    )


def q_esql_inlinestats(spark, sf_dir):
    """INLINESTATS: group aggregates appended to every row (no
    collapse). Spark plan: small per-group aggregate broadcast-joined
    back (eqNullSafe), never a shuffle of the event table; the oracle
    states the same semantics as window functions.

    The averaged quantity is integral cents (ROUND(value*100)): sums of
    integers < 2^53 are EXACT doubles in any summation order, so the
    average is bit-identical across engines with no decimal rounding —
    averaging the raw 2-dp values is dense in exact decimal halves and
    ulp-straddles any rounding boundary (observed at sf0.1)."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE event_type == 'purchase' "
        "| EVAL cents = ROUND(value * 100) "
        "| INLINESTATS avg_cents = AVG(cents), cnt = COUNT(*) BY user_id "
        "| KEEP event_id, user_id, cents, avg_cents, cnt "
        "| SORT event_id | LIMIT 500",
        tables=tables,
    )


def q_esql_sample(spark, sf_dir):
    """SAMPLE in its deterministic content-keyed form — SAMPLE p
    HASH(col, seed) keeps a row iff the first 60 bits of
    md5(str(col) ':' seed) mod 1e6 fall under p*1e6. Membership depends
    only on the row's key (never partitioning or engine RNG), which is
    both the reproducible-sampling idiom a training-data pipeline wants
    and exactly oracle-checkable (DuckDB recomputes the hash bit-for-
    bit). The Bernoulli form (SAMPLE p seed) stays available and is
    pinned by pytest reproducibility + statistical-bounds tests."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | SAMPLE 0.2 HASH(event_id, 7) "
        "| KEEP event_id, user_id | SORT event_id",
        tables=tables,
    )


def q_esql_bucket(spark, sf_dir):
    """Computed STATS BY keys + BUCKET histogram function (the ES|QL
    date-histogram idiom): BY day = BUCKET(ts, 1 day), et = event_type."""
    tables = {"events": _t(spark, sf_dir, "events")}
    # integral-cents average: exact in any summation order (see
    # q_esql_inlinestats), so no rounding-boundary hash risk
    return run_esql(
        spark,
        "FROM events | EVAL cents = ROUND(value * 100) "
        "| STATS cnt = COUNT(*), avg_cents = AVG(cents) "
        "BY day = BUCKET(ts, 1 day), et = event_type "
        "| SORT day, et",
        tables=tables,
    )


def q_esql_change_point(spark, sf_dir):
    """CHANGE_POINT (simplified Welch-t mean-shift detector, stated in
    closed form): the oracle replicates the cumulative-sums scoring,
    9-decimal argmax stabilization and Gaussian-tail pvalue in SQL.
    Output is the single flagged row."""
    tables = {"events": _t(spark, sf_dir, "events")}
    df = run_esql(
        spark,
        "FROM events | WHERE user_id == 3 "
        "| CHANGE_POINT value ON event_id",
        tables=tables,
    )
    return (
        df.filter(F.col("type").isNotNull())
        .select("event_id", "type", F.round("pvalue", 4).alias("pvalue"))
    )


def q_esql_fork(spark, sf_dir):
    """FORK: two branches over the same filtered input, unioned by
    column name with a _fork discriminator; missing columns NULL."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events | WHERE user_id == 1 | FORK "
        "(WHERE event_type == 'purchase' | KEEP event_id, value) "
        "(STATS cnt = COUNT(*) BY event_type)",
        tables=tables,
    )


def q_esql_rows_to_target_json(spark, sf_dir):
    """A17 faithful variant: rows -> target array with PER-ROW null
    dropping (esql_executor.rb:93-99 ``row.reject { |_, v| v.nil? }``).
    ``flag`` is null on odd event_ids; those rows' JSON must omit the
    key entirely, which a fixed-schema struct array cannot express.
    The array is joined to one string so the cross-engine compare is
    byte-exact (no array-hash or JSON-escaping ambiguity)."""
    from logstash_filter_elasticsearch_spark.plans.esql import rows_to_target_json

    tables = {"events": _t(spark, sf_dir, "events")}
    df = run_esql(
        spark,
        "FROM events | WHERE user_id == 7 "
        "| EVAL flag = CASE(event_id % 2 == 0, user_id) "
        "| KEEP event_id, flag",
        tables=tables,
    )
    out = rows_to_target_json(df, "hits")
    return out.select(
        F.array_join("hits", ";").alias("hits_json"),
        "_meta_total_values",
    )


def q_esql_total_values(spark, sf_dir):
    """A20: [@metadata][total_values] = result row count attached to
    every row (esql_executor.rb:79)."""
    from logstash_filter_elasticsearch_spark.plans.esql import with_total_values

    tables = {"events": _t(spark, sf_dir, "events")}
    df = run_esql(
        spark,
        "FROM events | WHERE event_type == 'error' | KEEP event_id, user_id",
        tables=tables,
    )
    return with_total_values(df)


def q_esql_date_trunc(spark, sf_dir):
    """A15 date coercion end-to-end: TO_DATETIME cast + DATE_TRUNC +
    DATE_FORMAT over the events timestamp column
    (ESQL_PARSERS_BY_TYPE, esql_executor.rb:8-10)."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL day = DATE_TRUNC(1 day, TO_DATETIME(ts)) "
        "| EVAL day_s = DATE_FORMAT('yyyy-MM-dd', day), "
        "next_day = day + 1 day "
        "| STATS cnt = count(*) BY day, day_s, next_day "
        "| SORT day | LIMIT 50",
        tables=tables,
    )


def q_esql_cidr_match(spark, sf_dir):
    """A14 IP predicate surface: CIDR_MATCH compiled to an unrolled
    masked compare (try_cast keeps malformed addresses non-matching);
    TO_IP nulls invalid strings. The ip column is synthesized from
    numeric fields so the oracle can replicate it."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL ip = CONCAT('10.', TO_STRING(user_id % 64), '.0.', "
        "TO_STRING(event_id % 256)) "
        "| WHERE CIDR_MATCH(ip, '10.7.0.0/16', '10.21.0.0/16') "
        "| EVAL valid = TO_IP(ip) "
        "| KEEP event_id, user_id, ip, valid | SORT event_id",
        tables=tables,
    )


def q_esql_lookup_join(spark, sf_dir):
    """A14/B11 LOOKUP JOIN (ES|QL join command, ES 8.18+): broadcast
    left join on the shared field name, lookup side wins collisions,
    unmatched rows pass through with NULLs."""
    tables = {
        "events": _t(spark, sf_dir, "events"),
        "customer": _t(spark, sf_dir, "customer"),
    }
    return run_esql(
        spark,
        "FROM events | RENAME user_id AS c_custkey "
        "| LOOKUP JOIN customer ON c_custkey "
        "| KEEP event_id, c_custkey, c_name, c_nationkey",
        tables=tables,
    )


# DuckDB regexp_extract caps the group index at 9, so the oracle reads
# the last four fields through a second, end-anchored tail regex
_APACHE_TAIL_RX = (
    r'(\d+) (?:(\d+)|-) ("(?:[^"\\]|\\.)*"|-) ("(?:[^"\\]|\\.)*"|-)$'
)
_APACHE_RX = (
    r"(\S+) ([A-Za-z0-9._-]+) ([A-Za-z0-9._-]+) "
    r"\[(\d{1,2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2}\s+[+-]\d{4})\] "
    r'"(?:(\w+) (\S+)(?: HTTP/(\d+(?:\.\d+)?))?|(.*?))" '
    r"(\d+) (?:(\d+)|-) "
    r'("(?:[^"\\]|\\.)*"|-) ("(?:[^"\\]|\\.)*"|-)'
)


def q_esql_grok_apache(spark, sf_dir):
    """A15 composite grok: one %{COMBINEDAPACHELOG} token expands to
    the 12 canonical apache-log fields (logstash grok-patterns
    definition). Log lines are synthesized deterministically from
    events columns (every 5th row has '-' bytes, exercising the
    NULL-after-cast path); the oracle replays the same concat and the
    byte-identical regex via DuckDB regexp_extract group numbers."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL msg = CONCAT('10.0.', TO_STRING(user_id % 50), '.9 - u',"
        " TO_STRING(user_id % 7),"
        " ' [17/May/2015:10:05:03 +0000] \"GET /p/',"
        " TO_STRING(event_id % 100), ' HTTP/1.1\" ',"
        " TO_STRING(200 + (event_id % 4) * 100), ' ',"
        " CASE(event_id % 5 == 0, '-', TO_STRING(event_id % 1000)),"
        " ' \"http://r.example/', TO_STRING(event_id % 3),"
        " '\" \"agent/', TO_STRING(event_id % 2), '\"') "
        '| GROK msg "%{COMBINEDAPACHELOG}" '
        "| EVAL resp = response::long, nbytes = bytes::long "
        "| KEEP event_id, clientip, auth, verb, request, httpversion, "
        "resp, nbytes, referrer, agent",
        tables=tables,
    )


def q_esql_fulltext(spark, sf_dir):
    """A14/B2 ES|QL full-text functions (8.17+): MATCH or/and +
    MATCH_PHRASE over documents.text, sharing the template engine's
    standard-analyzer approximation (lowercase, non-letter/digit
    split); QSTR covered by the same grammar as query_string_*."""
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return run_esql(
        spark,
        "FROM documents "
        "| WHERE MATCH(text, 'vector stream') "
        "| EVAL both = MATCH(text, 'vector stream', 'and'), "
        "phrase = MATCH_PHRASE(text, 'vector stream') "
        "| KEEP doc_id, both, phrase "
        "| SORT doc_id",
        tables=tables,
    )


def q_esql_math_tail(spark, sf_dir):
    """A14/B10 r5 math-tail surface: TAU/SCALB/ROUND_TO/TO_DEGREES/
    TO_RADIANS (ES|QL names Spark lacks or spells differently;
    esql_executor.rb:59-63 passthrough). Oracle replicates Java's exact
    op order (toDegrees = x*180/pi, toRadians = x/180*pi, scalb =
    x*2^i) so every double is bit-identical cross-engine; ROUND_TO
    returns the literal points themselves (exact by construction)."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL ang = TO_DOUBLE(user_id % 360), "
        "deg = TO_DEGREES(ang), rad = TO_RADIANS(ang), "
        "sc = SCALB(TO_DOUBLE(user_id % 9), 3), tau = TAU(), "
        "rt = ROUND_TO(value, 0, 10, 100, 1000) "
        "| KEEP event_id, deg, rad, sc, tau, rt",
        tables=tables,
    )


def q_esql_scalar_fns(spark, sf_dir):
    """A14/B10 scalar-function surface: TO_UPPER/SUBSTRING/LENGTH/LEFT/
    STARTS_WITH/REPLACE (replace-all regex semantics) compiled to
    codegen'd Spark expressions — the ES|QL functions a reference user
    embeds in EVAL/WHERE (esql_executor.rb:59-63 passthrough)."""
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return run_esql(
        spark,
        "FROM documents "
        "| EVAL up = TO_UPPER(SUBSTRING(text, 1, 8)), tl = LENGTH(text), "
        "src3 = LEFT(source, 3), isweb = STARTS_WITH(source, 'web'), "
        "masked = REPLACE(SUBSTRING(text, 1, 12), '[aeiou]', '_') "
        "| KEEP doc_id, up, tl, src3, isweb, masked",
        tables=tables,
    )


def q_esql_case_mv(spark, sf_dir):
    """A14 multivalue + conditional surface: literal-delimiter SPLIT
    (regex metachar '{' stays inert), MV_COUNT/MV_LAST, variadic CASE."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL parts = SPLIT(props, '{'), np = MV_COUNT(parts), "
        "last = MV_LAST(parts), "
        "vclass = CASE(value >= 100, 'high', value >= 10, 'mid', 'low') "
        "| KEEP event_id, np, last, vclass",
        tables=tables,
    )


def q_esql_date_diff(spark, sf_dir):
    """A15 date arithmetic: DATE_DIFF in complete units (truncating) +
    DATE_EXTRACT, aggregated per hour-of-day."""
    tables = {"events": _t(spark, sf_dir, "events")}
    return run_esql(
        spark,
        "FROM events "
        "| EVAL age_h = DATE_DIFF('hours', TO_DATETIME('2024-01-01'), ts), "
        "hr = DATE_EXTRACT('hour', ts) "
        "| STATS cnt = count(*), max_age_h = max(age_h) BY hr "
        "| SORT hr",
        tables=tables,
    )


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_enrich_left_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order matters: the driver walks entries in order and stops
    # at 50, so entries whose OPERATOR CODE changed this round run
    # FIRST (r6 rewrote the dedup/similarity/enrich operators and the
    # esql edge guards), then the entries whose newest green row is r4
    # while their shared esql compiler changed in r5/r6 (the VERDICT
    # rotation rule: no green row goes >2 rounds stale). The trailing
    # 27 are r5-certified on code that did not change this round.
    return {
        # -- r6 operator rewrites: block-pair ngram counting, explode
        #    barriers, min_by enrich fast path, keyed spreads,
        #    mapInArrow similarity stages, driver-side ANN query sides --
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "enrich_left_join": q_enrich_left_join,
        "fields_multi_hit": q_fields_multi_hit,
        "docinfo_latest": q_docinfo_latest,
        "total_hits": q_total_hits,
        "aggregation_fields": q_aggregation_fields,
        "matched_decoration": q_matched_decoration,
        "sort_missing_values": q_sort_missing_values,
        "scalar_or_array": q_scalar_or_array,
        "target_nesting": q_target_nesting,
        "topk_per_key": q_topk_per_key,
        "query_template_render": q_query_template_render,
        "query_template_theta": q_query_template_theta,
        "query_string_template": q_query_string_template,
        "quality_scores": q_quality_scores,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_normalized": q_dedup_normalized,
        "quarantine_parse": q_quarantine_parse,
        # -- r6 esql edge fixes (all-NULL STD_DEV guard, empty
        #    MV_PERCENTILE guard, QSTR/MATCH quote styles) --
        "esql_stats_stddev": q_esql_stats_stddev,
        "esql_stats_extended": q_esql_stats_extended,
        "esql_math_tail": q_esql_math_tail,
        "esql_fulltext": q_esql_fulltext,
        "esql_like_in": q_esql_like_in,
        # -- newest green row is r4; shared esql compiler changed since --
        "esql_case_mv": q_esql_case_mv,
        "esql_fork": q_esql_fork,
        "esql_inlinestats": q_esql_inlinestats,
        "esql_lookup_join": q_esql_lookup_join,
        "esql_mv_expand": q_esql_mv_expand,
        "esql_first_row": q_esql_first_row,
        "esql_rows_to_target": q_esql_rows_to_target,
        "esql_rows_to_target_json": q_esql_rows_to_target_json,
        "esql_total_values": q_esql_total_values,
        "esql_date_diff": q_esql_date_diff,
        "esql_date_trunc": q_esql_date_trunc,
        "esql_cidr_match": q_esql_cidr_match,
        "esql_enrich": q_esql_enrich,
        "esql_dissect": q_esql_dissect,
        "aggregation_terms": q_aggregation_terms,
        "aggregation_histogram": q_aggregation_histogram,
        "aggregation_date_histogram": q_aggregation_date_histogram,
        "multimodal_decode": q_multimodal_decode,
        # -- r5-certified; code unchanged this round --
        "esql_grok_apache": q_esql_grok_apache,
        "query_string_exists": q_query_string_exists,
        "esql_change_point": q_esql_change_point,
        "esql_scalar_fns": q_esql_scalar_fns,
        "esql_ip_prefix": q_esql_ip_prefix,
        "esql_bucket": q_esql_bucket,
        "esql_stats_by": q_esql_stats_by,
        "esql_where_sort_limit": q_esql_where_sort_limit,
        "esql_eval_rename": q_esql_eval_rename,
        "salted_route_agg": q_salted_route_agg,
        "dedup_latest_event": q_dedup_latest_event,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "multimodal_meta": q_multimodal_meta,
        "esql_stats_percentile": q_esql_stats_percentile,
        "parse_json_props": q_parse_json_props,
        "esql_stats_multi": q_esql_stats_multi,
        "index_wildcard": q_index_wildcard,
        "esql_sample": q_esql_sample,
        "match_analyzed": q_match_analyzed,
        "esql_grok_logline": q_esql_grok_logline,
        "esql_fuse": q_esql_fuse,
        "esql_dissect_modifiers": q_esql_dissect_modifiers,
        "sprintf_index": q_sprintf_index,
        "query_string_filter": q_query_string_filter,
        "terms_membership": q_terms_membership,
        "esql_grok": q_esql_grok,
    }


# ---- oracle-SQL generators for the hash/geometry ops ------------------
#
# These ops are driver-checkable because every random ingredient is a
# pure function of a literal seed: the oracle embeds the SAME planes /
# centroids / hash definition as SQL literals and recomputes the full
# algorithm (bucketing, candidate joins, re-rank) in DuckDB.

def _planes_values_sql(seed: int, n_planes: int, n_tables: int, dim: int) -> str:
    """VALUES rows (tbl, w, pv) mirroring similarity._planes exactly:
    per-table rng(seed + 1000*t).standard_normal, weight 2^plane_idx."""
    import numpy as np

    rows = []
    for t in range(n_tables):
        planes = np.random.default_rng(seed + 1000 * t).standard_normal(
            (n_planes, dim)
        )
        for i in range(n_planes):
            vec = ", ".join(repr(float(x)) for x in planes[i])
            rows.append(f"({t}, {1 << i}, [{vec}]::DOUBLE[])")
    return "planes(tbl, w, pv) AS (VALUES\n" + ",\n".join(rows) + ")"


_NGRAM_JACCARD_SQL = r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ), shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 1)),
               i -> array_to_string(w[i:i+2], ' '))) AS sh
      FROM words
    ), exploded AS (
      SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM shingled
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sz AS sz_a, b.sz AS sz_b, count(*) AS common
      FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(common / (sz_a + sz_b - common), 6) AS jaccard
    FROM pairs
    WHERE common / (sz_a + sz_b - common) >= 0.5
"""


_LSH_SIG_SQL = """
        e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_inner_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS n
          FROM embeddings
        ), sig AS (
          SELECT e.vec_id, p.tbl,
                 sum(CASE WHEN list_inner_product(e.v, p.pv) >= 0
                          THEN p.w ELSE 0 END) AS bucket
          FROM e CROSS JOIN planes p
          GROUP BY e.vec_id, p.tbl
        )"""


def _ann_lsh_oracle_sql() -> str:
    planes = _planes_values_sql(seed=42, n_planes=10, n_tables=6, dim=64)
    return f"""
        WITH {planes},{_LSH_SIG_SQL},
        cands AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM sig c JOIN sig q ON c.tbl = q.tbl AND c.bucket = q.bucket
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        ), scored AS (
          SELECT cd.query_id, cd.neighbor_id,
                 list_inner_product(a.v, b.v) / (a.n * b.n) AS cos
          FROM cands cd
          JOIN e a ON a.vec_id = cd.query_id
          JOIN e b ON b.vec_id = cd.neighbor_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos
        FROM ranked WHERE rank <= 5
    """


def _embedding_near_dup_lsh_oracle_sql() -> str:
    # same banding derivation as the Spark query: solved from the
    # threshold so the oracle literal-replicates the exact tables
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        auto_lsh_params,
    )

    n_planes, n_tables = auto_lsh_params(0.4)
    planes = _planes_values_sql(
        seed=42, n_planes=n_planes, n_tables=n_tables, dim=64
    )
    return f"""
        WITH {planes},{_LSH_SIG_SQL},
        cands AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.vec_id < b.vec_id
        )
        SELECT cd.id_a, cd.id_b,
               round(list_inner_product(a.v, b.v) / (a.n * b.n), 5) AS cos
        FROM cands cd
        JOIN e a ON a.vec_id = cd.id_a
        JOIN e b ON b.vec_id = cd.id_b
        WHERE list_inner_product(a.v, b.v) / (a.n * b.n) >= 0.4
    """


def _ann_ivf_oracle_sql() -> str:
    cents = _ivf_fixed_centroids()
    rows = ",\n".join(
        f"({ci}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for ci, c in enumerate(cents)
    )
    return f"""
        WITH cent(cell, cv) AS (VALUES
        {rows}),
        e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 greatest(sqrt(list_inner_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[])), 1e-12) AS n
          FROM embeddings
        ), sims AS (
          SELECT e.vec_id, c.cell,
                 list_inner_product(e.v, c.cv) / e.n AS s,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY list_inner_product(e.v, c.cv) / e.n
                                             DESC, c.cell) AS rn
          FROM e CROSS JOIN cent c
        ),
        assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
        probe AS (SELECT vec_id, cell FROM sims WHERE rn <= 4 AND vec_id < 5),
        cands AS (
          SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
          FROM assign a JOIN probe p ON a.cell = p.cell
          WHERE a.vec_id <> p.vec_id
        ), scored AS (
          SELECT cd.query_id, cd.neighbor_id,
                 list_inner_product(a.v, b.v) / (a.n * b.n) AS cos
          FROM cands cd
          JOIN e a ON a.vec_id = cd.query_id
          JOIN e b ON b.vec_id = cd.neighbor_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos
        FROM ranked WHERE rank <= 5
    """


def _simhash_oracle_sql() -> str:
    """Recompute the md5-mode simhash: word hash = first 16 hex chars of
    md5(word) as 4x16-bit chunks, bit i = chunk[i//16] >> (i%16) & 1."""
    nibs = ", ".join(
        f"CAST('0x' || substr(md5(_w), {1 + 4 * c}, 4) AS INT) AS _v{c}"
        for c in range(4)
    )
    bit_sums = ",\n                 ".join(
        f"sum(CASE WHEN (_v{i // 16} >> {i % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS _b{i}"
        for i in range(64)
    )
    def w(i):
        return f"CAST({1 << i} AS BIGINT)" if i < 63 else "(-9223372036854775807 - 1)"
    fp = "\n             + ".join(
        f"(CASE WHEN _b{i} > 0 THEN {w(i)} ELSE CAST(0 AS BIGINT) END)"
        for i in range(64)
    )
    return rf"""
        WITH words AS (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(regexp_replace(
                        lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')), ' ')) AS _w
          FROM documents
        ), nib AS (
          SELECT doc_id, {nibs} FROM words
        ), sums AS (
          SELECT doc_id,
                 {bit_sums}
          FROM nib GROUP BY doc_id
        )
        SELECT doc_id,
               {fp} AS simhash
        FROM sums
    """


def oracle_sql() -> dict[str, str]:
    stop_list = STOP_LIST_SQL
    lang_scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
        )
        for lang, words in sorted(LANG_MARKERS.items())
    }
    lang_best = "greatest(" + ", ".join(f"({s})" for s in lang_scores.values()) + ")"
    lang_pred = "CASE WHEN " + lang_best + " = 0 THEN 'und' "
    for lang in sorted(LANG_MARKERS):
        lang_pred += f"WHEN ({lang_scores[lang]}) = {lang_best} THEN '{lang}' "
    lang_pred += "ELSE 'und' END"

    return {
        "enrich_left_join": """
            SELECT e.event_id, e.user_id, e.event_type,
                   c.c_name AS customer_name, c.c_mktsegment AS segment,
                   (c.c_custkey IS NOT NULL) AS matched,
                   CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS total_hits
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "fields_multi_hit": """
            WITH g AS (
              SELECT o_custkey,
                     count(*) AS n,
                     list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)[1:3] AS keys
              FROM orders GROUP BY o_custkey
            )
            SELECT e.event_id,
                   coalesce(g.n, 0) AS n_hits,
                   CASE WHEN g.o_custkey IS NULL THEN NULL
                        ELSE '[' || array_to_string(g.keys, ',') || ']' END AS top_orderkeys_json,
                   g.keys[1] AS top_orderkey
            FROM events e LEFT JOIN g ON e.user_id = g.o_custkey
        """,
        "docinfo_latest": """
            WITH ranked AS (
              SELECT o_custkey, o_orderkey, o_orderstatus,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            )
            SELECT e.event_id, r.o_orderkey AS document_id,
                   r.o_orderstatus AS order_status
            FROM events e LEFT JOIN ranked r
              ON e.user_id = r.o_custkey AND r.rn = 1
        """,
        "sort_missing_values": """
            -- missing:_first on a desc sort = DESC NULLS FIRST
            WITH ranked AS (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY (CASE WHEN o_orderstatus = 'F'
                                      THEN o_totalprice END)
                                DESC NULLS FIRST,
                                o_orderkey ASC) AS rn
              FROM orders
            )
            SELECT e.event_id, r1.o_orderkey AS k1, r2.o_orderkey AS k2
            FROM events e
            LEFT JOIN ranked r1 ON e.user_id = r1.o_custkey AND r1.rn = 1
            LEFT JOIN ranked r2 ON e.user_id = r2.o_custkey AND r2.rn = 2
        """,
        "total_hits": """
            SELECT e.event_id, coalesce(g.n, 0) AS total_hits
            FROM events e LEFT JOIN (
              SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
            ) g ON e.user_id = g.o_custkey
        """,
        "aggregation_fields": """
            SELECT e.event_id,
                   round(g.s, 2) AS order_total,
                   g.m AS order_max,
                   (g.o_custkey IS NOT NULL) AS matched
            FROM events e LEFT JOIN (
              SELECT o_custkey, sum(o_totalprice) AS s, max(o_totalprice) AS m
              FROM orders GROUP BY o_custkey
            ) g ON e.user_id = g.o_custkey
        """,
        "matched_decoration": """
            SELECT e.event_id,
                   (c.c_custkey IS NOT NULL) AS matched,
                   CASE WHEN c.c_custkey IS NOT NULL
                        THEN '["matched_customer"]' ELSE '[]' END AS tags_json
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "quarantine_parse": r"""
            SELECT doc_id,
                   nullif(regexp_extract(text, '\bkey (\w+)', 1), '') AS key_word,
                   CASE WHEN nullif(regexp_extract(text, '\bkey (\w+)', 1), '') IS NULL
                        THEN '["_grokparsefailure"]' ELSE '[]' END AS tags_json
            FROM documents
        """,
        "sprintf_index": """
            SELECT doc_id, 'logs-' || source || '-' || lang AS idx FROM documents
        """,
        "query_string_filter": """
            SELECT event_id, user_id, value FROM events
            WHERE event_type = 'purchase' AND value > 100
        """,
        "terms_membership": """
            SELECT event_id, event_type FROM events
            WHERE event_type IN ('error', 'signup')
        """,
        "topk_per_key": """
            SELECT o_custkey, o_orderkey, rank FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders
            ) WHERE rank <= 3
        """,
        "esql_stats_by": """
            SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "esql_where_sort_limit": """
            SELECT event_id, event_type, value FROM events
            WHERE value >= 150 AND event_type = 'purchase'
            ORDER BY value DESC, event_id LIMIT 10
        """,
        "esql_eval_rename": """
            SELECT event_id, event_type AS etype,
                   cast(round(value * 100, 0) AS bigint) AS value_cents
            FROM events WHERE user_id < 50 ORDER BY event_id LIMIT 100
        """,
        "query_template_render": """
            WITH ranked AS (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders WHERE o_orderstatus = 'F'
            )
            SELECT e.event_id, r.o_orderkey AS top_key,
                   round(r.o_totalprice, 2) AS top_price,
                   (r.o_custkey IS NOT NULL) AS matched
            FROM events e LEFT JOIN ranked r
              ON e.user_id = r.o_custkey AND r.rn = 1
        """,
        "query_template_theta": """
            WITH hits AS (
              SELECT e.event_id,
                     max(o.o_orderkey) AS best_key,
                     count(*) AS n
              FROM events e JOIN orders o
                ON e.user_id = o.o_custkey AND o.o_orderkey <= e.event_id
              GROUP BY e.event_id
            )
            SELECT e.event_id, h.best_key, coalesce(h.n, 0) AS n_hits
            FROM events e LEFT JOIN hits h ON e.event_id = h.event_id
        """,
        "match_analyzed": """
            -- the same standard-analyzer approximation, recomputed:
            -- lowercase, split on non-letter/digit runs, drop empties
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                       '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
                   list_has_all(toks, ['vector','stream']) AS both_toks,
                   contains(' ' || array_to_string(toks, ' ') || ' ',
                            ' vector stream ') AS phrase
            FROM t WHERE list_has_any(toks, ['vector','stream'])
            ORDER BY doc_id
        """,
        "query_string_template": """
            WITH ranked AS (
              SELECT o_custkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY o_custkey) AS n
              FROM orders
              WHERE o_orderstatus = 'F' AND o_totalprice BETWEEN 1000 AND 300000
            )
            SELECT e.event_id,
                   round(r1.o_totalprice, 2) AS p1,
                   round(r2.o_totalprice, 2) AS p2,
                   coalesce(r1.n, 0) AS n_hits
            FROM events e
            LEFT JOIN ranked r1 ON e.user_id = r1.o_custkey AND r1.rn = 1
            LEFT JOIN ranked r2 ON e.user_id = r2.o_custkey AND r2.rn = 2
        """,
        "esql_grok": r"""
            SELECT event_id,
                   CAST(regexp_extract(props, '[+-]?\d+') AS bigint) AS k
            FROM events ORDER BY event_id
        """,
        "esql_stats_extended": """
            -- integral cents (floor-based half-up, same IEEE sequence
            -- both engines); MEDIAN = interpolated quantile (selection,
            -- order-free); TOP = ordered list slice; WEIGHTED_AVG =
            -- exact integer-product sums then one division
            WITH p AS (
              SELECT user_id,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                     event_id % 3 + 1 AS w
              FROM events WHERE event_type = 'purchase')
            SELECT user_id,
                   quantile_cont(cents, 0.5) AS med,
                   sum(CAST(cents AS DOUBLE) * w) / sum(w) AS wa,
                   list(cents ORDER BY cents DESC)[1] AS t1,
                   list(cents ORDER BY cents DESC)[2] AS t2,
                   list(cents ORDER BY cents DESC)[3] AS t3,
                   count(DISTINCT cents) AS nvals
            FROM p GROUP BY user_id ORDER BY user_id
        """,
        "query_string_exists": """
            -- the grammar's semantic result: _exists_:big == value>=100,
            -- the (purchase OR signup) field group intersected with the
            -- fuzzy purchas~ (<=2 edits) leaves exactly 'purchase',
            -- [10 TO 900} is a half-open range, boost is scoring-only
            SELECT event_id, event_type, user_id
            FROM events
            WHERE value >= 100 AND event_type = 'purchase'
              AND user_id >= 10 AND user_id < 900
            ORDER BY event_id
        """,
        "esql_stats_stddev": """
            -- population stddev via ES's extended_stats closed form:
            -- integral-cents double sums are exact in any order, then
            -- the same subtract/divide/sqrt IEEE sequence both engines
            WITH p AS (
              SELECT user_id,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase')
            SELECT user_id,
                   sqrt(greatest(
                     (sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE))
                      - sum(CAST(cents AS DOUBLE)) * sum(CAST(cents AS DOUBLE))
                        / count(cents)) / count(cents),
                     CAST(0 AS DOUBLE))) AS sd,
                   count(cents) AS n
            FROM p GROUP BY user_id ORDER BY user_id
        """,
        "esql_fuse": """
            -- RRF replay: per-branch rank by (sc DESC, user_id ASC),
            -- fused = sum 1/(60 + rank); <=2 contributions per key so
            -- the double sum is order-independent
            WITH b1 AS (
              SELECT user_id, count(*) AS sc FROM events
              WHERE event_type = 'purchase' GROUP BY user_id),
            b2 AS (
              SELECT user_id, count(*) AS sc FROM events
              WHERE event_type = 'error' GROUP BY user_id),
            u AS (
              SELECT 'f1' AS f, user_id, sc FROM b1
              UNION ALL SELECT 'f2', user_id, sc FROM b2),
            r AS (
              SELECT user_id,
                     1.0 / (60 + row_number() OVER (
                       PARTITION BY f ORDER BY sc DESC, user_id ASC))
                       AS contrib
              FROM u)
            SELECT user_id, sum(contrib) AS _fused_score
            FROM r GROUP BY user_id
            ORDER BY _fused_score DESC, user_id ASC
        """,
        "esql_dissect_modifiers": """
            -- the line is built from source columns; the oracle states
            -- the dissected fields directly (append = source_lang,
            -- right padding eats the repeated spaces, named skip gone)
            SELECT doc_id, source || '_' || lang AS sid,
                   CAST(doc_id AS VARCHAR) AS id, 'end' AS tail
            FROM documents ORDER BY doc_id
        """,
        "esql_ip_prefix": """
            -- replay the v4 prefix arithmetic: num - num % 2^(32-len)
            WITH i AS (
              SELECT event_id,
                     user_id % 200 AS o2, event_id % 256 AS o3,
                     event_id % 250 AS o4
              FROM events),
            n AS (
              SELECT event_id,
                     '10.' || o2 || '.' || o3 || '.' || o4 AS ip,
                     167772160 + o2 * 65536 + o3 * 256 + o4 AS num
              FROM i),
            m AS (
              SELECT event_id, ip,
                     num - num % 4096 AS m20, num - num % 16 AS m28
              FROM n)
            SELECT event_id, ip,
                   (m20 // 16777216 % 256) || '.' || (m20 // 65536 % 256)
                     || '.' || (m20 // 256 % 256) || '.' || (m20 % 256)
                     AS net20,
                   (m28 // 16777216 % 256) || '.' || (m28 // 65536 % 256)
                     || '.' || (m28 // 256 % 256) || '.' || (m28 % 256)
                     AS net28
            FROM m ORDER BY event_id LIMIT 2000
        """,
        "esql_grok_logline": """
            -- the line is built from source columns, so the oracle
            -- states the extracted fields directly (int %% is
            -- truncating in both engines for non-negative operands)
            SELECT event_id,
                   '10.' || (user_id % 200) || '.0.' || (event_id % 250)
                     AS ip,
                   'GET' AS verb,
                   '/api/items/' || event_id AS path,
                   'INFO' AS level
            FROM events ORDER BY event_id LIMIT 1000
        """,
        "esql_dissect": """
            SELECT doc_id, source AS s, lang AS l FROM documents
        """,
        "esql_enrich": """
            SELECT e.event_id, c.c_name AS cust_name, c.c_mktsegment AS seg
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "esql_mv_expand": """
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "dedup_normalized": r"""
            SELECT min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents
            GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
        """,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        # transitive closure of the same pair set: recursive reachability
        # -> min reachable id per node == the min-label-propagation
        # fixpoint computed by connected_components
        "dedup_clusters": f"""
            WITH RECURSIVE pairs0 AS ({_NGRAM_JACCARD_SQL}),
            e AS (
              SELECT id_a AS a, id_b AS b FROM pairs0
              UNION
              SELECT id_b, id_a FROM pairs0
            ),
            reach AS (
              SELECT a, a AS r FROM (SELECT DISTINCT a FROM e) t
              UNION
              SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.a
            ),
            cc AS (SELECT a AS node, min(r) AS cluster_id FROM reach GROUP BY a)
            SELECT d.doc_id,
                   coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                   (coalesce(cc.cluster_id, d.doc_id) = d.doc_id)
                     AS is_canonical
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
        """,
        # minhash_lsh = banded LSH + exact-Jaccard verify; on this data
        # every true pair sits at >= 0.9 Jaccard where 16-band recall is
        # 1-3.4e-8 and the whole path is seeded/deterministic, so the
        # exact-Jaccard SQL is its oracle (pytest covers band recall).
        "minhash_lsh": _NGRAM_JACCARD_SQL,
        "salted_route_agg": """
            -- CAST: DuckDB sum(BIGINT) yields HUGEINT (int128) whose typed
            -- hash differs from Spark's LONG even for equal values.
            SELECT source, count(doc_id) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "dedup_latest_event": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "quality_scores": rf"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
                     len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         w -> lower(w) IN ({stop_list}))) AS n_stop,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
              FROM documents
            )
            -- explicit HALF_UP via floor(x*1e6 + 0.5)/1e6: DuckDB's
            -- round() is HALF_EVEN on doubles and diverges from Spark
            -- on exactly-representable halves (e.g. 333/640 at 6 dp)
            SELECT doc_id, n_words, n_stop AS n_stopwords,
                   floor((n_stop / n_words) * 1000000.0 + 0.5) / 1000000.0
                     AS stopword_ratio,
                   floor((0.4 * (floor((n_stop / n_words) * 1000000.0 + 0.5)
                                 / 1000000.0)
                       + 0.3 * (1 - floor((n_punct / greatest(n_chars, 1))
                                          * 1000000.0 + 0.5) / 1000000.0)
                       + 0.3 * least(1.0, n_words / 64.0)) * 1000000.0 + 0.5)
                     / 1000000.0 AS quality_score
            FROM f
        """,
        "lang_id": f"SELECT doc_id, {lang_pred} AS lang_pred FROM documents",
        "token_counts": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
            FROM documents
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS sha
            FROM documents
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos
            FROM ranked WHERE rank <= 5
        """,
        "esql_stats_percentile": """
            SELECT o_orderstatus,
                   round(median(o_totalprice), 4) AS med,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   count(DISTINCT o_custkey) AS ucnt
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "esql_like_in": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_type LIKE 'p%' AND user_id IN (1, 2, 3)
            ORDER BY event_id
        """,
        "parse_json_props": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS INTEGER) AS k,
                   CAST(json_extract(props, '$.k') AS INTEGER) >= 50 AS k_high
            FROM events
        """,
        "scalar_or_array": """
            WITH g AS (
              SELECT o_custkey,
                     list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)[1:3] AS keys
              FROM orders GROUP BY o_custkey
            )
            SELECT e.event_id,
                   CASE WHEN g.o_custkey IS NULL THEN NULL
                        WHEN len(g.keys) = 1 THEN CAST(g.keys[1] AS VARCHAR)
                        ELSE '[' || array_to_string(g.keys, ',') || ']' END AS merged
            FROM events e LEFT JOIN g ON e.user_id = g.o_custkey
        """,
        "target_nesting": """
            SELECT e.event_id, c.c_name AS cust_name,
                   c.c_mktsegment AS cust_segment
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "esql_stats_multi": """
            SELECT o_orderstatus, count(*) AS n,
                   count(DISTINCT o_custkey) AS custs,
                   avg(round(o_totalprice * 100)) AS avg_cents,
                   min(o_totalprice) AS lo,
                   max(o_totalprice) AS hi,
                   count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                     AS n_urgent
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "index_wildcard": """
            SELECT event_type, count(*) * 2 AS cnt
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "embedding_near_dup": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 5) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        """,
        "aggregation_terms": """
            WITH b AS (
              SELECT o_custkey, o_orderstatus AS key, count(*) AS doc_count
              FROM orders GROUP BY 1, 2
            ), g AS (
              SELECT o_custkey,
                     to_json(list(struct_pack(key := key, doc_count := doc_count)
                                  ORDER BY doc_count DESC, key)[1:10])
                       AS status_terms_json
              FROM b GROUP BY 1
            )
            SELECT e.event_id, g.status_terms_json,
                   (g.o_custkey IS NOT NULL) AS matched
            FROM events e LEFT JOIN g ON e.user_id = g.o_custkey
        """,
        "aggregation_histogram": """
            WITH b AS (
              SELECT o_custkey,
                     floor(o_totalprice / 50000) * 50000 AS key,
                     count(*) AS doc_count
              FROM orders GROUP BY 1, 2
            ), g AS (
              SELECT o_custkey,
                     to_json(list(struct_pack(key := key,
                                              doc_count := doc_count)
                                  ORDER BY key)) AS price_hist_json
              FROM b GROUP BY 1
            )
            SELECT e.event_id, g.price_hist_json,
                   (g.o_custkey IS NOT NULL) AS matched
            FROM events e LEFT JOIN g ON e.user_id = g.o_custkey
        """,
        "aggregation_date_histogram": """
            WITH b AS (
              SELECT o_custkey,
                     date_trunc('year', CAST(o_orderdate AS TIMESTAMP))
                       AS key,
                     count(*) AS doc_count
              FROM orders GROUP BY 1, 2
            ), g AS (
              SELECT o_custkey,
                     to_json(list(struct_pack(
                                    key := strftime(key, '%Y-%m-%d'),
                                    doc_count := doc_count)
                                  ORDER BY key)) AS yr_hist_json
              FROM b GROUP BY 1
            )
            SELECT e.event_id, g.yr_hist_json,
                   (g.o_custkey IS NOT NULL) AS matched
            FROM events e LEFT JOIN g ON e.user_id = g.o_custkey
        """,
        "esql_first_row": """
            SELECT event_id, user_id, value,
                   (SELECT count(*) FROM events WHERE event_type = 'purchase')
                     AS _meta_total_values
            FROM events WHERE event_type = 'purchase'
            ORDER BY event_id LIMIT 1
        """,
        "esql_rows_to_target": """
            SELECT to_json(list(
                     struct_pack(event_id := event_id,
                                 u := struct_pack(id := user_id))
                     ORDER BY event_id)) AS hits_json,
                   count(*) AS _meta_total_values
            FROM events WHERE user_id = 1
        """,
        "esql_bucket": """
            SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP) AS day,
                   event_type AS et, count(*) AS cnt,
                   avg(round(value * 100)) AS avg_cents
            FROM events GROUP BY 1, 2 ORDER BY day, et
        """,
        "esql_change_point": """
            -- replicate the Welch-t cumulative scoring EXACTLY (same
            -- associativity, same 1e-300 floor, same 9-decimal argmax
            -- stabilization); pvalue compared at 4 decimals
            WITH s AS (
              SELECT event_id AS k, CAST(value AS DOUBLE) AS v
              FROM events WHERE user_id = 3
            ), c AS (
              SELECT k,
                count(v) OVER w AS cl, sum(v) OVER w AS sl,
                sum(v*v) OVER w AS ql,
                count(v) OVER () AS ct, sum(v) OVER () AS st,
                sum(v*v) OVER () AS qt
              FROM s
              WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ), t AS (
              SELECT k, CASE WHEN cl >= 2 AND (ct - cl) >= 2 THEN
                round(abs(sl/cl - (st - sl)/(ct - cl)) /
                  sqrt(greatest(
                    ((ql - sl*sl/cl)/(cl - 1))/cl +
                    (((qt - ql) - (st - sl)*(st - sl)/(ct - cl))/(ct - cl - 1))
                      /(ct - cl),
                    1e-300)), 9)
              END AS tt FROM c
            ), b AS (SELECT max(tt) AS best FROM t),
            f AS (SELECT k, lag(tt) OVER (ORDER BY k) AS prev_t FROM t)
            SELECT f.k AS event_id, 'step_change' AS type,
                   round(least(exp(-b.best*b.best/2), 1.0), 4) AS pvalue
            FROM f, b
            WHERE f.prev_t = b.best
            ORDER BY f.k LIMIT 1
        """,
        "esql_fork": """
            SELECT event_id, value, 'fork1' AS _fork,
                   NULL::VARCHAR AS event_type, NULL::BIGINT AS cnt
            FROM events WHERE user_id = 1 AND event_type = 'purchase'
            UNION ALL
            SELECT NULL, NULL, 'fork2', event_type, count(*)
            FROM events WHERE user_id = 1 GROUP BY event_type
        """,
        "esql_sample": """
            -- deterministic HASH sampling recomputed bit-for-bit:
            -- bucket = first 15 hex chars (60 bits) of
            -- md5(event_id || ':7') as an integer, mod 1e6; keep < 2e5
            SELECT event_id, user_id FROM events
            WHERE CAST('0x' || substr(
                    md5(CAST(event_id AS VARCHAR) || ':7'), 1, 15)
                  AS BIGINT) % 1000000 < 200000
            ORDER BY event_id
        """,
        "esql_inlinestats": """
            -- INLINESTATS == aggregates appended per row: stated as
            -- window functions over the same filtered set. Integral
            -- cents: integer sums are exact doubles in any order, so
            -- the average needs no rounding to hash-match
            SELECT event_id, user_id, round(value * 100) AS cents,
                   avg(round(value * 100)) OVER (PARTITION BY user_id)
                     AS avg_cents,
                   count(*) OVER (PARTITION BY user_id) AS cnt
            FROM events WHERE event_type = 'purchase'
            ORDER BY event_id LIMIT 500
        """,
        "esql_rows_to_target_json": """
            -- per-row null-drop: the JSON object for odd event_ids has
            -- NO "flag" key (esql_executor.rb:93-99); built by string
            -- concat so the key truly disappears, integer-only columns
            -- so number rendering is engine-independent
            WITH r AS (
              SELECT '{"event_id":' || event_id ||
                     CASE WHEN event_id % 2 = 0
                          THEN ',"flag":' || user_id ELSE '' END ||
                     '}' AS j
              FROM events WHERE user_id = 7
            )
            SELECT string_agg(j, ';' ORDER BY j) AS hits_json,
                   count(*) AS _meta_total_values
            FROM r
        """,
        "esql_total_values": """
            SELECT event_id, user_id,
                   (SELECT count(*) FROM events WHERE event_type = 'error')
                     AS _meta_total_values
            FROM events WHERE event_type = 'error'
        """,
        "esql_date_trunc": """
            -- DuckDB date_trunc('day') yields DATE; cast back to
            -- TIMESTAMP to match Spark's type. next_day exercises the
            -- dialect's duration arithmetic (+ 1 day -> INTERVAL)
            SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
                   strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
                     AS day_s,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        + INTERVAL 1 DAY AS TIMESTAMP) AS next_day,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2, 3 ORDER BY day LIMIT 50
        """,
        "esql_cidr_match": """
            -- same masked-compare math as the Spark compilation:
            -- 10.7.0.0/16 -> base 10*2^24+7*2^16 = 168230912,
            -- 10.21.0.0/16 -> 10*2^24+21*2^16 = 169148416,
            -- mask /16 = 4294901760
            WITH e AS (
              SELECT event_id, user_id,
                     '10.' || (user_id % 64) || '.0.' || (event_id % 256)
                       AS ip
              FROM events
            ), n AS (
              SELECT event_id, user_id, ip,
                     CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 +
                     CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 +
                     CAST(string_split(ip, '.')[3] AS BIGINT) * 256 +
                     CAST(string_split(ip, '.')[4] AS BIGINT) AS ip_long
              FROM e
            )
            SELECT event_id, user_id, ip, ip AS valid
            FROM n
            WHERE (ip_long & 4294901760) = 168230912
               OR (ip_long & 4294901760) = 169148416
            ORDER BY event_id
        """,
        "esql_lookup_join": """
            SELECT e.event_id, e.user_id AS c_custkey,
                   c.c_name, c.c_nationkey
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "esql_grok_apache": f"""
            -- same synthesized log line, same regex, positional groups:
            -- 1 clientip 3 auth 5 verb 6 request 7 httpversion
            -- 9 response 10 bytes 11 referrer 12 agent
            WITH m AS (
              SELECT event_id,
                     ('10.0.' || (user_id % 50) || '.9 - u'
                      || (user_id % 7)
                      || ' [17/May/2015:10:05:03 +0000] "GET /p/'
                      || (event_id % 100) || ' HTTP/1.1" '
                      || (200 + (event_id % 4) * 100) || ' '
                      || CASE WHEN event_id % 5 = 0 THEN '-'
                              ELSE CAST(event_id % 1000 AS VARCHAR) END
                      || ' "http://r.example/' || (event_id % 3)
                      || '" "agent/' || (event_id % 2) || '"') AS msg
              FROM events
            )
            SELECT event_id,
                   NULLIF(regexp_extract(msg, '{_APACHE_RX}', 1), '')
                     AS clientip,
                   NULLIF(regexp_extract(msg, '{_APACHE_RX}', 3), '')
                     AS auth,
                   NULLIF(regexp_extract(msg, '{_APACHE_RX}', 5), '')
                     AS verb,
                   NULLIF(regexp_extract(msg, '{_APACHE_RX}', 6), '')
                     AS request,
                   NULLIF(regexp_extract(msg, '{_APACHE_RX}', 7), '')
                     AS httpversion,
                   TRY_CAST(NULLIF(regexp_extract(msg, '{_APACHE_TAIL_RX}', 1),
                                   '') AS BIGINT) AS resp,
                   TRY_CAST(NULLIF(regexp_extract(msg, '{_APACHE_TAIL_RX}', 2),
                                   '') AS BIGINT) AS nbytes,
                   NULLIF(regexp_extract(msg, '{_APACHE_TAIL_RX}', 3), '')
                     AS referrer,
                   NULLIF(regexp_extract(msg, '{_APACHE_TAIL_RX}', 4), '')
                     AS agent
            FROM m
        """,
        "esql_fulltext": """
            -- same analyzer approximation as match_analyzed, applied to
            -- the ES|QL MATCH/MATCH_PHRASE surface
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                       '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
                   list_has_all(toks, ['vector','stream']) AS both,
                   contains(' ' || array_to_string(toks, ' ') || ' ',
                            ' vector stream ') AS phrase
            FROM t WHERE list_has_any(toks, ['vector','stream'])
            ORDER BY doc_id
        """,
        "esql_math_tail": """
            -- Java op order replicated exactly: toDegrees = x*180.0/pi,
            -- toRadians = x/180.0*pi, scalb = x * 2^i; ROUND_TO is a
            -- descending comparison chain returning the literal points
            SELECT event_id,
                   (CAST(user_id % 360 AS DOUBLE) * 180.0 / pi()) AS deg,
                   (CAST(user_id % 360 AS DOUBLE) / 180.0 * pi()) AS rad,
                   (CAST(user_id % 9 AS DOUBLE)
                      * power(CAST(2 AS DOUBLE), 3)) AS sc,
                   (2 * pi()) AS tau,
                   CASE WHEN value IS NULL THEN NULL
                        WHEN value >= 1000 THEN 1000
                        WHEN value >= 100 THEN 100
                        WHEN value >= 10 THEN 10
                        ELSE 0 END AS rt
            FROM events
        """,
        "esql_scalar_fns": """
            SELECT doc_id,
                   upper(substring(text, 1, 8)) AS up,
                   CAST(length(text) AS INT) AS tl,
                   left(source, 3) AS src3,
                   starts_with(source, 'web') AS isweb,
                   regexp_replace(substring(text, 1, 12), '[aeiou]', '_', 'g')
                     AS masked
            FROM documents
        """,
        "esql_case_mv": """
            WITH s AS (
              SELECT event_id, value, str_split(props, '{') AS parts
              FROM events
            )
            SELECT event_id,
                   CAST(len(parts) AS INT) AS np,
                   parts[len(parts)] AS last,
                   CASE WHEN value >= 100 THEN 'high'
                        WHEN value >= 10 THEN 'mid'
                        ELSE 'low' END AS vclass
            FROM s
        """,
        "esql_date_diff": """
            -- DATE_DIFF counts complete units (truncating); ts is always
            -- after the 2024-01-01 epoch here so floor == trunc
            WITH e AS (
              SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)
                                      - TIMESTAMP '2024-01-01') / 3600)
                          AS BIGINT) AS age_h,
                     CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT)
                       AS hr
              FROM events
            )
            SELECT hr, count(*) AS cnt, max(age_h) AS max_age_h
            FROM e GROUP BY hr ORDER BY hr
        """,
        "simhash": _simhash_oracle_sql(),
        "ann_lsh": _ann_lsh_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "embedding_near_dup_lsh": _embedding_near_dup_lsh_oracle_sql(),
        # encode->decode composition in closed form over the raw byte
        # length n: the Spark side writes REAL BMP/WAV containers and
        # parses them back (width 4+n%13, height 3+n%7, BMP rows padded
        # to 4 bytes; WAV 2n samples of 16-bit mono at 8 kHz). Video is
        # the declared sha-fake, recomputed from the digest.
        "multimodal_decode": """
            WITH m AS (
              SELECT 'm' || doc_id AS media_id,
                     (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
                       AS media_type,
                     octet_length(encode(text)) AS n,
                     sha256(text) AS sha
              FROM documents
            ), d AS (
              -- decode-of-encode in closed form: BMP 54+rows, WAV
              -- 44+PCM, MP4 n+248 (24 ftyp + 216 moov + 8 mdat hdr)
              -- with dims 16+n%113 x 16+n%97 and 500+(n%40)*1000 ms
              SELECT media_id, media_type,
                     CASE media_type
                       WHEN 'image' THEN 54 +
                            ((3 * (4 + n % 13) + 3) // 4 * 4) * (3 + n % 7)
                       WHEN 'audio' THEN 44 + 4 * n
                       WHEN 'video' THEN n + 248
                       ELSE n END AS n_bytes,
                     CASE media_type
                       WHEN 'image' THEN CAST(4 + n % 13 AS INT)
                       WHEN 'video' THEN CAST(16 + n % 113 AS INT)
                       ELSE 0 END AS width,
                     CASE media_type
                       WHEN 'image' THEN CAST(3 + n % 7 AS INT)
                       WHEN 'video' THEN CAST(16 + n % 97 AS INT)
                       ELSE 0 END AS height,
                     CASE media_type
                       WHEN 'audio' THEN CAST(2 * n * 1000 // 8000 AS INT)
                       WHEN 'video' THEN CAST(500 + (n % 40) * 1000 AS INT)
                       ELSE 0 END AS duration_ms,
                     CASE media_type WHEN 'audio' THEN 8000 ELSE 0 END
                       AS sample_rate,
                     CASE media_type WHEN 'audio' THEN 1 ELSE 0 END
                       AS channels
              FROM m
            )
            SELECT media_id, media_type, n_bytes, width, height,
                   duration_ms, sample_rate, channels,
                   unnest(CASE WHEN duration_ms >= 10000
                               THEN list_transform(range(duration_ms // 10000),
                                                   i -> CAST(i * 10000 AS INT))
                               ELSE [0] END) AS frame_ts_ms
            FROM d
        """,
    }
