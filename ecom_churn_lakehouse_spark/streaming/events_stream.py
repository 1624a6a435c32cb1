"""Structured Streaming over the events table (SURVEY.md §2.9 extension).

The reference is batch-only; incrementality is simulated with
fingerprint-skip + MERGE re-runs. This module re-expresses that
semantic (idempotent keyed upsert publish) in streaming form:

- ``tumbling_counts_stream``: watermarked event-time tumbling windows
- ``session_window_stream``: native session windows (gap-based)
- ``run_stream_to_managed_table``: ``foreachBatch`` → keyed MERGE into a
  :class:`ManagedTable` — exactly-once-published windows under
  replays, because the MERGE key is the window identity

Tests drive everything with ``Trigger.AvailableNow`` over the
deterministic fixture (SURVEY §7.4 guidance), which also makes the
batch queries in queries/event_queries.py their oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.operators.windows import dedup_top1
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable
from ecom_churn_lakehouse_spark.sources.tables import event_ts_column
from ecom_churn_lakehouse_spark.streaming.replay import run_available_now

__all__ = [
    "stream_events",
    "tumbling_counts_stream",
    "session_window_stream",
    "run_stream_to_managed_table",
]


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (ts normalized as in the
    batch source)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(batch.dtypes)["ts"]
    # File streams need a DIRECTORY source; select just the events file
    # with a glob filter.
    raw = (
        spark.readStream.schema(batch.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return raw.select(
        "event_id",
        event_ts_column(ts_dtype).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling event-time aggregation (append-mode safe)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    window: str = "6 hours",
    slide: str = "3 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked SLIDING event-time aggregation: each event lands in
    ``window/slide`` overlapping windows (2 at the defaults). The
    overlap fan-out happens inside the stateful aggregation operator —
    state is keyed by (window, event_type), bounded by the watermark
    horizon × overlap factor, independent of stream history."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def enriched_tumbling_counts_stream(
    events: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    group_col: str,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment THEN windowed aggregation: the stream
    joins a broadcast static dimension (no streaming state, dim
    re-resolved per microbatch) and the watermarked tumbling aggregate
    groups by a DIM attribute — the canonical enrich-then-rollup
    pipeline (events x user dim -> per-segment KPIs)."""
    return (
        enrich_stream_with_dim(events, dim, on=on, how="inner")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), group_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            group_col,
            "n_events",
            "total_value",
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows per user (streaming form of
    operators/sessionize.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_events_stream(
    events: DataFrame, id_col: str = "event_id", watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once ingest dedup: drop replayed events by id.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark horizon — the scale-correct choice (plain
    ``dropDuplicates`` would hold every id ever seen in state). A
    replay (at-least-once source, e.g. re-delivered files) inside the
    watermark window is suppressed; replays older than the watermark
    are already outside any correct source's redelivery window.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def enrich_stream_with_dim(
    stream_df: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich a stream with a broadcast dimension.

    The static side is broadcast (re-resolved per microbatch, so a
    slowly-changing dim table picks up updates between batches) — no
    shuffle of the stream, no streaming state.
    """
    return stream_df.join(F.broadcast(dim), on=on, how=how)


def click_purchase_stream_join(
    events: DataFrame,
    window_s: int = 3600,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: clicks within the hour before each
    purchase — the streaming twin of the batch ``clicks_before_purchase``
    query (operators/range_join.py semantics: ``click_ts ∈
    (purchase_ts − window, purchase_ts]``).

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark can size the join state to the
    watermark horizon and evict — the state never grows with stream
    length. At 100 TB/day the state is (watermark window × rate),
    independent of history.

    ``how="left_outer"`` additionally emits each unmatched purchase
    (null click_ts) exactly once — but only after the watermark passes
    its join window, when no future click can still match it. Matched
    rows stream out immediately either way; only the null verdicts
    wait on the watermark.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner|left_outer, got {how!r}")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND "
            f"click_ts > purchase_ts - INTERVAL {window_s} SECONDS AND "
            f"click_ts <= purchase_ts"
        ),
        how,
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_ts")


def run_stream_to_managed_table(
    stream_df: DataFrame,
    table: ManagedTable,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """Run a streaming aggregation to completion (AvailableNow) with a
    foreachBatch keyed-MERGE sink — idempotent republish semantics,
    the streaming twin of the reference's batch MERGE publish (S7)."""

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        # Within one microbatch the window grain can repeat across
        # update rows. Update-mode aggregate batches emit one row per
        # key today, but if a source ever yields several, pick the
        # winner DETERMINISTICALLY: total-order over the state columns
        # (dropDuplicates would keep an arbitrary row).
        state_cols = [c for c in batch_df.columns if c not in table.keys]
        deduped = dedup_top1(
            batch_df,
            table.keys,
            [F.col(c).desc_nulls_last() for c in state_cols],
        )
        if output_mode == "complete":
            # A complete-mode batch IS the whole result. MERGE would
            # strand stale keys when state keys move (a session window
            # whose start shifts earlier as events merge leaves its
            # old (start, user) row behind); snapshot-overwrite is the
            # correct — and equally idempotent — publish.
            table.overwrite(deduped)
        else:
            table.merge(deduped)

    # session_window aggregations reject update mode (sessions can
    # merge); callers pass output_mode="complete" for those.
    run_available_now(stream_df, _publish, checkpoint_dir, output_mode)


def run_cdc_stream_to_managed_table(
    change_stream: DataFrame,
    table: ManagedTable,
    checkpoint_dir: str,
    seq_col: str = "ts",
    delete_col: str = "_deleted",
) -> None:
    """Apply a CDC change stream (upserts + tombstones) to a managed
    table — the streaming half of ``ManagedTable.merge(delete_col=)``.

    Each microbatch may carry several changes for one key; the LATEST
    by ``seq_col`` wins (tombstones win seq ties — a delete and a
    re-insert with the same sequence number must not resurrect the
    row nondeterministically). The reduced batch then MERGEs in one
    pass: updates, inserts, and deletes together.

    State posture at scale: foreachBatch holds NO streaming state —
    the per-batch reduction is a bounded window over the microbatch
    only, and replays are idempotent because the same (key, seq)
    reduction lands the same MERGE.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = dedup_top1(
            batch_df,
            table.keys,
            [F.col(seq_col).desc_nulls_last(), F.col(delete_col).desc()],
        )
        table.merge(latest, delete_col=delete_col)

    run_available_now(change_stream, _apply, checkpoint_dir)
