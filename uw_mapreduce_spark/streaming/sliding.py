"""Structured Streaming variant of the sliding aggregation.

The reference is batch-only — its "sliding window" is over RANK order,
not event time (SURVEY.md §1).  A modern engine needs the event-time
analogue: overlapping time windows with watermark-bounded state, which
is exactly Spark's built-in windowed aggregation.  This module exposes
it plus a file-replay source so the batch `events` table doubles as a
deterministic stream for tests.

State bound: with watermark w and slide s, Spark keeps only windows
newer than (max event time - w) — O(active windows) state per key,
late rows beyond w dropped deterministically.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs
from ..sources.tables import normalize_event_ts, read_parquet


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
    staging_dir: str | None = None,
) -> DataFrame:
    """Replay the events parquet as a file-source stream, with the batch
    loader's schema and ``ts`` normalization.

    Pass ``staging_dir`` to own the staging location; otherwise a temp
    dir is created and removed at interpreter exit (each call otherwise
    leaks a copy of events.parquet for the process lifetime).
    """
    apply_runtime_confs(spark)
    static = read_parquet(spark, f"{sf_dir}/events.parquet")
    # The file stream source requires a DIRECTORY; stage the single
    # events file into a temp dir (copy — testdata is read-only).
    if staging_dir is None:
        stage = tempfile.mkdtemp(prefix="uwms_events_stream_")
        atexit.register(shutil.rmtree, stage, ignore_errors=True)
    else:
        stage = staging_dir
    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format("parquet")
        .load(stage)
    )
    return normalize_event_ts(stream)


def sliding_event_time_sum(
    events: DataFrame,
    window_duration: str = "10 minutes",
    slide_duration: str = "5 minutes",
    watermark: str = "30 minutes",
    by: list[str] | None = None,
) -> DataFrame:
    """Sliding event-time SUM(value) with late-data handling.

    Works on both a streaming and a batch DataFrame (same code path —
    that is the point of Structured Streaming); batch runs give the
    exact answer a fully-drained stream converges to, which is how the
    tests verify it.
    """
    keys = [F.col(c) for c in (by or [])]
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_duration, slide_duration), *keys)
        .agg(
            F.sum(F.floor(F.col("value") * F.lit(1000000.0)).cast("long")).alias("sum_value_u"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *[F.col(c) for c in (by or [])],
            "sum_value_u",
            "n_events",
        )
    )


def sessionize(events: DataFrame, gap: str = "15 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Session windows per user: activity bursts separated by >= ``gap``.

    `session_window` keeps one open window per (user, session) in state;
    the watermark closes and emits sessions deterministically.  Batch and
    drained-stream answers agree (tested).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(1000000.0)).cast("long")).alias("sum_value_u"),
        )
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id",
            "n_events",
            "sum_value_u",
        )
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    static dimension frame.  The dim side broadcasts (re-read per batch
    if its source changes — Spark's stream-static contract), so the
    stream side never shuffles; left join keeps events with no dim row.
    Same code path for batch frames, which is how the tests verify it.
    """
    return events.join(F.broadcast(dim), on, "left")


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state.

    `dropDuplicatesWithinWatermark` keeps only keys newer than the
    watermark in state — the streaming analogue of
    operators/dedup.exact_duplicates, with O(active keys) state instead
    of O(history).
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def windowed_distinct_users(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Distinct users per event-time window via MERGEABLE HLL sketches
    — the streaming form of `hll_sketch_rollup_events`' stored-sketch
    pattern.  Exact COUNT(DISTINCT) cannot stream (it would hold every
    key forever); the sketch aggregate carries fixed-size state per
    window, merges across micro-batches, and the watermark bounds how
    many windows stay live.  Same code path on batch, which is how the
    convergence test pins the estimates: a drained stream's sketches
    merge to exactly the batch sketches, so even the ESTIMATES match
    row-for-row."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_duration))
        .agg(
            F.expr("CAST(hll_sketch_estimate(hll_sketch_agg(user_id)) AS BIGINT)").alias(
                "approx_users"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "approx_users",
            "n_events",
        )
    )
