"""Structured Streaming operators (SURVEY.md §2.8).

The reference's only 'streaming' is a poll-sleep loop
(feeder.py:103-116: ``while True: sleep(10)``). The engine restates
continuous ingestion properly: watermarked event-time windows, session
windows and within-watermark dedup — each the scalable twin of a
reference behavior:

- per-wave batch dedup      → dropDuplicatesWithinWatermark
- (no reference analog)     → tumbling/session event windows

Keyed upserts of a stream go through ``writeStream.foreachBatch`` with
sinks/jdbc.py:merge_upsert as the batch function.

The batch queries in queryset.py (events_tumbling_window,
events_session_window) use the *same* window()/session_window()
expressions, so the DuckDB oracle indirectly validates the streaming
transformations — the only untested delta is trigger/watermark
mechanics, covered by tests/test_streaming.py with a file stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_window_counts(events: DataFrame, window_size: str = "5 minutes",
                           watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate. Late rows beyond the
    watermark are dropped; state is bounded — the property that lets
    this run forever on an unbounded stream."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_size).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("value_sum"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "value_sum"))


def session_window_stats(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Session windows keyed by user — the streaming sessionization."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("session_start"), "user_id", "n_events"))


def deduped_stream(events: DataFrame, keys: list[str] | None = None,
                   watermark: str = "10 minutes") -> DataFrame:
    """Within-watermark dedup — the streaming generalization of the
    reference's existing-phones anti-join (feeder.py:157-160): state
    holds only keys younger than the watermark, so memory is bounded."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys or ["event_id"]))


def stateful_running_counts(events: DataFrame,
                            watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and totals that survive across micro-batches —
    the escape hatch for stateful logic that windowed aggregates can't
    express (counters, custom sessionization, online model state).
    State is one tiny tuple per user; rows arrive Arrow-batched, so the
    Python boundary is vectorized, never per-row. Emits the updated
    running totals for every user seen in the micro-batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_fn(key, pdf_iter, state):
        import pandas as pd
        n, total = state.get if state.exists else (0, 0.0)
        last_ts = None
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "value_total": [total], "last_ts": [last_ts]})

    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                update_fn,
                outputStructType="user_id long, n_events long, "
                                 "value_total double, last_ts timestamp",
                stateStructType="n long, total double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def enrich_with_dimension(events: DataFrame, dim: DataFrame,
                          on: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) dimension snapshot — the standard lookup-table shape.
    Stream-static joins need no watermark and keep NO join state: the
    static side is re-resolved per micro-batch, so a dimension refresh
    lands in the next batch automatically. At 100 TB the dim side stays
    broadcast-sized (it's a dimension) while the stream side scales
    with executor count."""
    return events.join(F.broadcast(dim), on, "left")


def ingest_dedup_against_corpus(stream: DataFrame, corpus_keys: DataFrame,
                                on: str = "event_id") -> DataFrame:
    """Streaming ingest dedup: drop stream rows whose key already exists
    in the corpus snapshot — the streaming twin of the feeder's
    existing-keys anti-join (reference feeder.py:157-160) and the
    entry point of the incremental-ingest path (what survives here
    feeds dedup.incremental_near_dup_pairs_from_store /
    graph.incremental_components in the batch layer). Stream-static
    left_anti keeps NO join state: the static side is re-resolved per
    micro-batch, so a corpus-snapshot refresh lands in the next batch
    automatically. No broadcast hint —
    the key snapshot scales with the corpus, so broadcast-vs-shuffle is
    AQE's per-batch call by measured size (same rule as the batch
    feeder, plans/feeder.py)."""
    return stream.join(corpus_keys.select(on).dropDuplicates([on]),
                       on, "left_anti")


def stream_stream_conversion_join(views: DataFrame, purchases: DataFrame,
                                  watermark: str = "1 hour",
                                  within: str = "24 hours") -> DataFrame:
    """Stream-stream interval join: each view event joins purchase
    events of the same user that arrive within ``within`` AFTER it —
    the streaming twin of the batch funnel (queryset.py:
    funnel_view_to_purchase). Both sides carry watermarks, and the
    time-range predicate bounds the join state: a buffered view can be
    dropped once the watermark passes view_ts + within, a purchase once
    it can no longer match any live view. Without BOTH the watermarks
    and the range condition, Spark would buffer each side forever —
    the range predicate is what makes this runnable on an unbounded
    stream."""
    v = (views.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("view_ts")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts")))
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(F.col("v_user").alias("user_id"), "view_ts", "purchase_ts")
