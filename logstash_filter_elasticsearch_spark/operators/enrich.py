"""Set-oriented enrichment: the reference's per-event ES lookup as a join.

The reference runs ONE Elasticsearch search per event and merges the
response into the event (dsl_executor.rb:28-91):

* ``fields``             — copy dotted paths from each hit's ``_source``;
                           scalar if exactly 1 hit else array
                           (dsl_executor.rb:53-60, spec
                           elasticsearch_dsl_spec.rb:100-119)
* ``docinfo_fields``     — copy from the hit envelope ``_index/_id/_score``
                           (dsl_executor.rb:61-68)
* ``aggregation_fields`` — copy named aggregation results
                           (dsl_executor.rb:71-77)
* ``[@metadata][total_hits]`` (dsl_executor.rb:48,99-107)
* decoration only when matched (elasticsearch.rb:218-221)
* ``tag_on_failure`` quarantine tags (dsl_executor.rb:79-87)
* ``result_size`` / ``sort`` top-k hit selection (elasticsearch.rb:127-131)
* left-outer semantics: no match -> event passes through un-enriched
  (spec elasticsearch_dsl_spec.rb:180-199)

Spark-first design — why this shape scales to 100 TB:

1. The lookup snapshot is **pre-aggregated once per key** (sort + top-k
   + full-group aggregates happen on the SMALL side), producing one row
   per join key with a ``hits`` array. No window function ever runs
   over the big event table.
2. The big side then does a single **broadcast hash join** — zero
   shuffle of the 100 TB side, the exact Spark analog of the
   reference's shared-client-to-ES hop (elasticsearch.rb:328-332).
   For lookup tables too big to broadcast, pass ``broadcast=False``
   and AQE picks shuffled-hash/sort-merge with skew splitting.
3. All merge rules are pure Column expressions inside whole-stage
   codegen — zero per-row Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.functions.fieldref import field_ref_to_path
from logstash_filter_elasticsearch_spark.operators.layout import spread

DEFAULT_FAILURE_TAG = "_elasticsearch_lookup_failure"  # elasticsearch.rb:133-134


def _sql_literal(v) -> str:
    """Spark SQL text for a Python None, bool, int, float or str, typed as
    ``F.lit(v)`` types it (an int outside int32 is a BIGINT either way; a
    float is a DOUBLE)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if not isinstance(v, str):
        raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")
    s = v.replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _get_sql(root: str | None, path: str) -> str:
    """SQL walking a dotted path (dsl_executor.rb:110-125) inside the
    struct ``root`` (a lambda variable), ``root['a']['b']``, or from a
    column when ``root`` is None, ``a['b']``.

    Missing intermediate -> NULL natively (the Ruby code breaks out of
    the copy; we carry NULL and gate on ``matched``).
    """
    parts = field_ref_to_path(path).split(".")
    if root is None:
        root, parts = parts[0], parts[1:]
    return _ident(root) + "".join(f"[{_sql_literal(p)}]" for p in parts)


def _ident(name: str) -> str:
    """A column or variable name quoted for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _missing_sql(missing, dt) -> str:
    """A custom sort ``missing`` value as SQL, cast to the field's type
    ``dt`` when known."""
    lit = _sql_literal(missing)
    return f"CAST({lit} AS {dt.simpleString()})" if dt is not None else lit


def extract_hits(path: str) -> Column:
    """``path`` of every hit struct in ``_hits``, as an array: one
    ``transform`` built from SQL text in one JVM call (a Python lambda is
    built through a chain of py4j round trips)."""
    return F.expr(f"transform(_hits, h -> {_get_sql('h', path)})")


def hits_comparator(sort_spec: list[tuple], field_types: dict | None = None) -> str:
    """array_sort comparator over hit structs from an ES-style sort spec
    (elasticsearch.rb:43-44, docs/index.asciidoc:510-516), as the SQL
    text of a ``(l, r) -> ...`` lambda, parsed in one JVM call.

    Each item is ``(path, direction)`` or ``(path, direction, missing)``
    with ES per-field ``missing`` semantics: ``"_last"`` (the ES
    default — docs with no value land at the END of the result order,
    whatever the direction), ``"_first"`` (the opposite), or any other
    value, which is substituted for missing before comparing (ES custom
    missing). Two-tuples get the ``_last`` default.

    ``field_types`` optionally maps a sort path to its Spark DataType
    (derived from the lookup snapshot's schema): a custom missing
    literal is cast to the FIELD's type before the coalesce, so e.g. a
    string ``"0"`` missing on a numeric field still compares
    numerically instead of silently coercing the whole comparison to a
    lexicographic string one.
    """
    expr = "0"
    # build innermost-first so earlier sort keys take precedence
    for spec in reversed(sort_spec):
        path, direction = spec[0], spec[1]
        missing = spec[2] if len(spec) > 2 else "_last"
        sign = -1 if direction.lower().startswith("d") else 1
        lv, rv = _get_sql("l", path), _get_sql("r", path)
        if missing in ("_first", "_last"):
            # placement in the RESULT order, independent of the
            # direction — exactly ES's _first/_last
            null_l = -1 if missing == "_first" else 1
            expr = (
                f"CASE WHEN {lv} IS NULL AND {rv} IS NULL THEN {expr} "
                f"WHEN {lv} IS NULL THEN {null_l} WHEN {rv} IS NULL THEN {-null_l} "
                f"WHEN {lv} < {rv} THEN {-sign} WHEN {lv} > {rv} THEN {sign} "
                f"ELSE {expr} END"
            )
        else:
            miss = _missing_sql(missing, (field_types or {}).get(path))
            lv2, rv2 = f"coalesce({lv}, {miss})", f"coalesce({rv}, {miss})"
            expr = (
                f"CASE WHEN {lv2} < {rv2} THEN {-sign} "
                f"WHEN {lv2} > {rv2} THEN {sign} ELSE {expr} END"
            )
    return f"(l, r) -> {expr}"


@dataclass
class EnrichSpec:
    """Declarative config mirroring the plugin's options (elasticsearch.rb:59-161)."""

    event_key: str | Column
    lookup_key: str
    # src path in the lookup row -> dest column (fields, dsl_executor.rb:53-60)
    fields: dict[str, str] = field(default_factory=dict)
    # src path (envelope cols) -> dest column (dsl_executor.rb:61-68)
    docinfo_fields: dict[str, str] = field(default_factory=dict)
    # dest column -> (agg_fn_name, src path) over the FULL key group
    # (aggregations are computed over all matching docs, not the top-k:
    #  request_size0_agg.json + spec elasticsearch_dsl_spec.rb:157-178).
    # The reference copies the whole named aggregation OBJECT
    # (dsl_executor.rb:71-77) — metric aggs carry a scalar, bucket aggs
    # carry a buckets array. Metric form: ("sum"|"avg"|..., path) ->
    # scalar column. Bucket forms: ("terms", path[, size]) ->
    # array<struct<key, doc_count>> ordered doc_count desc, key asc
    # (ES terms default order; default size 10); ("histogram", path,
    # interval) -> array<struct<key double, doc_count>> with
    # key = floor(v/interval)*interval, key-ascending, no size cap;
    # ("date_histogram", path, calendar_interval) -> same shape with
    # key = date_trunc(calendar_interval, v) as a timestamp.
    aggregation_fields: dict[str, tuple] = field(default_factory=dict)
    result_size: int = 1  # elasticsearch.rb:130-131; 0 = agg-only search
    # (path, direction[, missing]) — see hits_comparator
    sort: list[tuple] = field(default_factory=lambda: [("@timestamp", "desc")])
    enable_sort: bool = True  # elasticsearch.rb:127-128
    target: str | None = None  # nest dest fields under one struct (dsl_executor.rb:21-25)
    tag_on_failure: list[str] = field(default_factory=lambda: [DEFAULT_FAILURE_TAG])
    add_tag_on_match: list[str] = field(default_factory=list)
    broadcast: bool = True
    keep_hits: bool = False  # expose the raw _hits array for debugging/tests


class Enricher:
    def __init__(self, spec: EnrichSpec):
        self.spec = spec

    # ---------- small-side preparation (runs on the lookup snapshot) ----------

    def _hit_paths(self) -> list[str]:
        paths = [field_ref_to_path(p) for p in self.spec.fields]
        paths += [field_ref_to_path(p) for p in self.spec.docinfo_fields]
        if self.spec.enable_sort:
            paths += [field_ref_to_path(s[0]) for s in self.spec.sort]
        # dedupe preserving order
        seen: dict[str, None] = {}
        for p in paths:
            seen.setdefault(p.split(".")[0], None)
        return list(seen)

    def _sort_comparator(self):
        """array_sort comparator from the sort spec (default @timestamp:desc,
        elasticsearch.rb:43-44; docs/index.asciidoc:510-516)."""
        return hits_comparator(self._sort, getattr(self, "_sort_types", None))

    def _minby_key(self) -> str | None:
        """SQL text of an ASC-ordering struct equivalent to
        ``hits_comparator``, or None when no exact equivalent exists.

        Lets ``result_size=1`` use one declarative ``min_by`` (codegen
        HashAggregate with EFFECTIVE partial aggregation: one struct
        per key per map task) instead of collect_list + interpreted
        array_sort, whose partial phase ships every row. Channel per
        sort key, in spec order:

        * ``_first``/``_last`` missing -> a null-rank int channel
          (placement in the RESULT order, independent of direction —
          exactly the comparator's branch), then the value;
        * custom missing -> the comparator's own coalesce(value,
          cast(missing)), no rank channel;
        * direction desc -> an order-reversing bijection: bitwise NOT
          for integral types (no overflow edge, unlike negation),
          unix_micros/unix_date + NOT for timestamp/date, negation for
          float/double/decimal with a NaN rank channel so Spark's
          NaN-greatest total order maps to the comparator's
          NaN-first-on-desc behavior.

        Falls back (returns None) for desc on types with no such
        bijection (e.g. strings) and when sorting is disabled/empty —
        those keep the collect_list path.
        """
        from pyspark.sql import types as T

        if not (self.spec.enable_sort and self._sort):
            return None
        channels = []
        for s in self._sort:
            path, direction = s[0], s[1]
            missing = s[2] if len(s) > 2 else "_last"
            desc = direction.lower().startswith("d")
            dt = self._sort_types.get(path)
            v = _get_sql(None, path)
            if missing in ("_first", "_last"):
                channels.append(
                    f"CASE WHEN {v} IS NULL THEN {-1 if missing == '_first' else 1} ELSE 0 END"
                )
            else:
                v = f"coalesce({v}, {_missing_sql(missing, dt)})"
            if not desc:
                channels.append(v)
                continue
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                channels.append(f"~({v})")
            elif isinstance(dt, T.BooleanType):
                channels.append(f"~(CAST({v} AS INT))")
            elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                # NTZ first casts to the instant type; the session zone
                # is pinned UTC (session.py), so the cast is monotone
                # AND injective (no DST fold)
                channels.append(f"~(unix_micros(CAST({v} AS TIMESTAMP)))")
            elif isinstance(dt, T.DateType):
                channels.append(f"~(unix_date({v}))")
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                # Spark totals NaN as greatest; the comparator's desc
                # branch therefore puts NaN FIRST — rank it below all
                # negated ordinary values
                channels.append(f"CASE WHEN isnan({v}) THEN -1 ELSE 0 END")
                channels.append(f"-({v})")
            elif isinstance(dt, T.DecimalType):
                channels.append(f"-({v})")
            else:
                return None
        return "struct(" + ", ".join(f"{c} AS _k{i}" for i, c in enumerate(channels)) + ")"

    def prepare_lookup(self, lookup: DataFrame) -> DataFrame:
        """Pre-aggregate the snapshot to ONE row per join key.

        Equivalent of the ES server answering ``{q, size, sort}``
        (client.rb:57-59) for every possible key at once — but computed
        on the small side so the event table never shuffles.
        """
        spec = self.spec
        # single-file lookup snapshots scan as ONE task, so the whole
        # pre-aggregation (struct build + partial collect_list) would
        # run on one core (guide §2.5 input skew); hash-spreading the
        # raw rows BY THE JOIN KEY parallelizes it with one exchange
        # that the groupBy then reuses (guide §2.4), and is a no-op for
        # well-laid-out multi-file tables
        lookup = spread(lookup, by=[spec.lookup_key], skip_tiny=True)
        # size-0 search (agg-only, spec elasticsearch_dsl_spec.rb:157-178)
        # or no copy mappings: skip hit collection entirely — the
        # broadcast payload shrinks to key + aggregates.
        self._has_hits = spec.result_size > 0 and bool(
            spec.fields or spec.docinfo_fields or spec.keep_hits
        )

        # drop sort keys whose root column is absent from the snapshot —
        # the lenient analog of ES sort ignore_unmapped for the default
        # "@timestamp:desc" (elasticsearch.rb:43-44)
        present = set(lookup.columns)
        self._sort = [
            s
            for s in spec.sort
            if field_ref_to_path(s[0]).split(".")[0] in present
        ]
        # resolve each sort path's type from the snapshot schema so a
        # custom `missing` literal is cast to the FIELD's type (not the
        # literal's) — a string missing on a numeric field must not
        # coerce the comparison to lexicographic
        self._sort_types = {}
        for s in self._sort:
            node = None
            for i, part in enumerate(field_ref_to_path(s[0]).split(".")):
                try:
                    node = (lookup.schema if i == 0 else node)[part].dataType
                except (KeyError, TypeError):  # absent field / non-struct
                    node = None
                    break
            if node is not None:
                self._sort_types[s[0]] = node

        # the aggregates are built from SQL text, one JVM call each
        aggs = [F.expr("count(1) AS _total_hits")]  # dsl_executor.rb:48
        minkey = (
            self._minby_key()
            if self._has_hits and spec.result_size == 1
            else None
        )
        if self._has_hits:
            top_cols = [c for c in self._hit_paths() if c in present]
            hit_struct = "struct(" + ", ".join(f"{_ident(c)} AS {_ident(c)}" for c in top_cols) + ")"
            if minkey is not None:
                aggs.append(F.expr(f"min_by({hit_struct}, {minkey}) AS _top1"))
            else:
                aggs.append(F.expr(f"collect_list({hit_struct}) AS _hits_all"))
        bucket_aggs: dict[str, tuple] = {}
        for dest, agg_spec in spec.aggregation_fields.items():
            fn, path = agg_spec[0], agg_spec[1]
            if fn == "terms":
                bucket_aggs[dest] = (
                    fn, path, agg_spec[2] if len(agg_spec) > 2 else 10
                )
            elif fn in ("histogram", "date_histogram"):
                if len(agg_spec) < 3:
                    raise ValueError(f"{fn} aggregation needs an interval")
                bucket_aggs[dest] = (fn, path, agg_spec[2])
            else:
                aggs.append(getattr(F, fn)(F.col(field_ref_to_path(path))).alias(dest))

        grouped = lookup.groupBy(F.col(spec.lookup_key).alias("_join_key")).agg(*aggs)

        # bucket (terms / histogram) aggregations: a second, two-level
        # aggregation on the SMALL side only — (key, value) counts, then
        # per key the buckets as array<struct<key, doc_count>>. terms:
        # top-`size` in ES terms order (doc_count desc, key asc via a
        # natural-sortable carrier struct). histogram: every
        # floor(v/interval)*interval bucket, key-ascending (ES histogram
        # order; no size cap). Joined back pre-broadcast, so the big side
        # still sees one ready-made row per join key.
        for dest, (fn, path, param) in bucket_aggs.items():
            val = F.col(field_ref_to_path(path))
            if fn == "histogram":
                key_col = (
                    F.floor(val / F.lit(param)) * F.lit(param)
                ).cast("double")
            elif fn == "date_histogram":
                # calendar_interval buckets ("day"/"month"/...) keyed by
                # the truncated timestamp, ascending — ES emits epoch
                # millis + key_as_string; the truncated timestamp is the
                # typed equivalent of both
                # try_cast: a malformed timestamp string buckets under
                # NULL instead of aborting the job under ANSI mode
                key_col = F.date_trunc(param, val.try_cast("timestamp"))
            else:
                key_col = val
            counts = lookup.groupBy(
                F.col(spec.lookup_key).alias("_join_key"), key_col.alias("_k")
            ).agg(F.count(F.lit(1)).alias("_dc"))
            if fn in ("histogram", "date_histogram"):
                packed = counts.groupBy("_join_key").agg(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_k").alias("key"),
                                F.col("_dc").alias("doc_count"),
                            )
                        )
                    ).alias(dest)
                )
            else:
                packed = (
                    counts.groupBy("_join_key")
                    .agg(
                        F.slice(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        (-F.col("_dc")).alias("_neg"),
                                        F.col("_k").alias("key"),
                                        F.col("_dc").alias("doc_count"),
                                    )
                                )
                            ),
                            1,
                            param,
                        ).alias("_buckets")
                    )
                    .select(
                        "_join_key",
                        F.transform(
                            "_buckets",
                            lambda b: F.struct(
                                b["key"].alias("key"),
                                b["doc_count"].alias("doc_count"),
                            ),
                        ).alias(dest),
                    )
                )
            grouped = grouped.join(packed, "_join_key", "left")

        if not self._has_hits:
            return grouped
        if minkey is not None:
            # min_by fast path: the top-1 struct IS the sliced hit list
            grouped = grouped.withColumn("_hits", F.array("_top1")).drop("_top1")
        else:
            hits = F.col("_hits_all")
            if spec.enable_sort and self._sort:
                hits = F.expr(f"array_sort(_hits_all, {self._sort_comparator()})")
            hits = F.slice(hits, 1, spec.result_size)
            grouped = grouped.withColumn("_hits", hits).drop("_hits_all")

        # Extract every dest field ON THE SMALL SIDE. Higher-order
        # functions (transform) run interpreted — no whole-stage codegen
        # — so doing this per event row costs ~100µs/row at the big
        # side; per lookup KEY it is free. The broadcast payload then
        # carries ready-made dest arrays and the big side reduces to a
        # pure codegen hash-join probe. (Measured: 10.8s -> ~2s for a
        # 2M-row enrich on local[32].)
        grouped = grouped.withColumns(
            {dest: extract_hits(src) for src, dest in {**spec.fields, **spec.docinfo_fields}.items()}
        )
        if not spec.keep_hits:
            grouped = grouped.drop("_hits")
        return grouped

    # ---------- big-side application ----------

    def apply(self, events: DataFrame, lookup: DataFrame) -> DataFrame:
        spec = self.spec
        prepared = self.prepare_lookup(lookup)
        if spec.broadcast:
            prepared = F.broadcast(prepared)
        # deliberately NOT spreading the event side: the broadcast-join
        # probe + dest projection are pure codegen (~cheap per row), and
        # a round-robin repartition of the events costs more than the
        # single-task probe it parallelizes (measured 0.74s vs 1.63s at
        # sf1.0 — the repartition pays sort-before-repartition plus a
        # full shuffle of the big side, guide §2.4 "remove shuffles")

        key = F.col(spec.event_key) if isinstance(spec.event_key, str) else spec.event_key
        # plain equality, not eqNullSafe: with the isNotNull guard the
        # match sets are identical (null event keys never match either
        # way, and == never matches a null lookup group), but == lets
        # the hash relation key on the bare column instead of the
        # (coalesce, isnull) composite eqNullSafe compiles to
        joined = events.join(prepared, (key == F.col("_join_key")) & key.isNotNull(), "left")

        agg_cols = list(spec.aggregation_fields)
        # matched = any hit OR any aggregation present
        # (dsl_executor.rb:29,52,73,88-90: @match_performed via hits/aggs).
        # A key with >0 lookup rows always yields hits (result_size>0)
        # or an aggregations object (result_size=0), so _total_hits>0 is
        # exactly the reference's condition in set form.
        matched = F.coalesce(F.col("_total_hits") > 0, F.lit(False))

        out = joined.withColumns(
            {"_meta_total_hits": F.coalesce("_total_hits", F.lit(0)), "matched": matched}
        )

        dest_cols = list(spec.fields.values()) + list(spec.docinfo_fields.values())
        dest_cols.extend(agg_cols)

        if spec.target:  # dsl_executor.rb:21-25,133-136
            out = out.withColumn(
                spec.target, F.struct(*[F.col(c).alias(c) for c in dest_cols])
            ).drop(*dest_cols)

        if spec.add_tag_on_match:  # filter_matched decoration, elasticsearch.rb:218-221
            tags = out["tags"] if "tags" in out.columns else F.array().cast("array<string>")
            out = out.withColumn(
                "tags",
                F.when(
                    F.col("matched"),
                    F.array_union(
                        F.coalesce(tags, F.array().cast("array<string>")),
                        F.array(*[F.lit(t) for t in spec.add_tag_on_match]),
                    ),
                ).otherwise(tags),
            )

        drop = ["_join_key", "_total_hits"]
        if self._has_hits and not spec.keep_hits:
            drop.append("_hits")
        return out.drop(*drop)


def scalar_or_array_json(array_col: Column) -> Column:
    """Render the reference's dynamic scalar-vs-array rule as JSON text.

    1 hit -> the bare scalar (``404``), N>1 hits -> the JSON array
    (``[404,404,...]``) — exactly dsl_executor.rb:58 / spec
    elasticsearch_dsl_spec.rb:100-119. Fixed-schema consumers keep the
    array column + ``_meta_total_hits``; this helper exists for parity
    testing and JSON sinks.
    """
    j = F.to_json(array_col)
    return F.when(
        F.size(array_col) == 1, F.regexp_replace(j, r"^\[|\]$", "")
    ).otherwise(j)


def tag_failures(
    df: DataFrame, fail_condition: Column, tags_to_add: list[str] | None = None
) -> DataFrame:
    """Append ``tag_on_failure`` tags where the condition holds.

    The event is still delivered (reference: rescue -> tag -> continue,
    dsl_executor.rb:79-87; esql_executor.rb:39-42). Downstream routing
    sends tagged rows to the quarantine sink.
    """
    tags_to_add = tags_to_add or [DEFAULT_FAILURE_TAG]
    existing = df["tags"] if "tags" in df.columns else F.array().cast("array<string>")
    existing = F.coalesce(existing, F.array().cast("array<string>"))
    return df.withColumn(
        "tags",
        F.when(
            fail_condition, F.array_union(existing, F.array(*[F.lit(t) for t in tags_to_add]))
        ).otherwise(existing),
    )
