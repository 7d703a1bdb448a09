"""Structured Streaming variant of the enrichment pipeline.

The reference is a streaming filter — events flow one at a time
through ``filter(event)`` (elasticsearch.rb:214-216). The batch
pipeline is this engine's primary mode (the north rule is batch), but
the same parse/enrich/route stages compose unchanged under
``readStream``: stream-static broadcast joins are natively supported,
and the fan-out + quarantine write runs in ``foreachBatch`` so each
micro-batch reuses the exact batch writer (and its partitioned layout).

Also included: a watermarked sliding-window per-source aggregate —
the streaming analog of the per-sink aggregate sink — demonstrating
late-data handling the reference delegates to Logstash itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.operators.enrich import EnrichSpec, Enricher
from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids
from logstash_filter_elasticsearch_spark.pipeline import QUARANTINE_ROUTE
from logstash_filter_elasticsearch_spark.sources.tables import parquet_schema, read_parquet


def build_streaming_enriched(
    spark: SparkSession,
    sequences_path: str,
    lookup_path: str,
    schema=None,
) -> DataFrame:
    """readStream -> parse -> stream-static broadcast enrich -> route."""
    if schema is None:
        schema = parquet_schema(spark, sequences_path)
    stream = spark.readStream.schema(schema).parquet(sequences_path)
    lookup = read_parquet(spark, lookup_path)  # static snapshot side

    parsed = parse_doc_ids(stream)
    spec = EnrichSpec(
        event_key="join_key",
        lookup_key="join_key",
        fields={"payload.response": "resp_code"},
        docinfo_fields={"_id": "es_doc_id"},
        result_size=1,
        sort=[("payload.timestamp_ms", "desc")],
    )
    enriched = Enricher(spec).apply(parsed, lookup)
    return enriched.withColumn(
        "route",
        F.when(F.col("parse_ok"), F.col("route_source")).otherwise(
            F.lit(QUARANTINE_ROUTE)
        ),
    )


def run_streaming_pipeline(
    spark: SparkSession,
    sequences_path: str,
    lookup_path: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Micro-batch fan-out writes via foreachBatch (exactly-once per
    sink through the streaming checkpoint + idempotent overwrite of
    batch-scoped directories)."""
    enriched = build_streaming_enriched(spark, sequences_path, lookup_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.repartition(F.col("route"))
            .write.mode("overwrite")
            .partitionBy("route")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    writer = enriched.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "route_source",
    gap: str = "5 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Session-window aggregates: a session closes after ``gap`` of
    inactivity per key; the watermark bounds state. Dynamic-length
    windows — the streaming shape Spark manages natively that the
    reference would need an external aggregator for."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("sum_n_tok"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key_col,
            "rows",
            "sum_n_tok",
        )
    )


def stateful_first_seen(
    stream: DataFrame,
    key_col: str,
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming first-occurrence dedup via ``applyInPandasWithState``.

    The streaming analog of the engine's LRU-style dedup (salted
    ``dedup_first`` in batch): the first row per key is emitted, every
    later occurrence is dropped while its key stays in state. With a
    timeout the state is evicted after idleness, bounding memory — an
    LRU with time-based eviction, which is exactly how the reference's
    operators would cap a hot-key cache.

    This is the one sanctioned stateful-Python surface (Arrow-batched,
    per-group not per-row); everything around it stays native.
    """
    import pandas as pd  # noqa: F401 (pandas types flow through Arrow)
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = stream.schema
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms
        else GroupStateTimeout.NoTimeout
    )

    def emit_first(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        for pdf in pdf_iter:
            if not seen and len(pdf):
                state.update((True,))
                seen = True
                yield pdf.iloc[[0]]
        if seen and not state.exists:
            state.update((True,))
        # GroupState clears any previously-set timeout on EVERY
        # invocation for the key, so the idle-eviction clock must be
        # re-armed each time the key sees traffic — otherwise hot keys
        # never expire and state grows unbounded.
        if state_timeout_ms and state.exists:
            state.setTimeoutDuration(state_timeout_ms)

    return stream.groupBy(key_col).applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout,
    )


def windowed_source_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "route_source",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "20 minutes",
) -> DataFrame:
    """Watermarked (sliding) window counts per source — late rows beyond
    the watermark are dropped, state is bounded."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("n_tok").alias("sum_n_tok"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "rows",
            "sum_n_tok",
        )
    )
