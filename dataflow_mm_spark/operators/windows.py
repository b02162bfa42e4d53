"""Windowed segmentation over event time.

Reference analogues (SURVEY.md §2.7): VideoSceneFilter's fixed-interval split
(video_scene_filter.py:259-293 → tumbling) and content-boundary split
(:119-152 → session); SileroVAD gap detection
(audio_silero...generator.py:262-289 → session); TimestampChunkRowGenerator
merge mode (audio_timestamp_chunk_row_generator.py:29-55 → size-capped
session, see operators/expansion.py).  The overlap split (:206-256 →
sliding) is a plain ``F.window(ts, size, slide)`` group-by; the gated form
is plans/registry.events_sliding_windows.

All functions work on both batch and streaming DataFrames. ``session_agg``
uses Spark's native ``session_window`` — for an oracle-matchable batch
equivalent, ``session_agg_batch`` implements the same semantics with
gaps-and-islands window functions (identical output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataflow_mm_spark.functions.timeutil import epoch_seconds


def tumbling_agg(
    df: DataFrame,
    size: str = "5 minutes",
    keys: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    extra_aggs: list | None = None,
) -> DataFrame:
    """groupBy(keys, tumbling window).agg(count + extra agg Columns).
    Window bounds surfaced as win_start/win_end."""
    exprs = [F.count("*").alias("n_turns"), *(extra_aggs or [])]
    g = df.groupBy(*keys, F.window(ts_col, size).alias("w"))
    agged = g.agg(*exprs)
    rest = [c for c in agged.columns if c != "w" and c not in keys]
    return agged.select(
        *keys,
        F.col("w.start").alias("win_start"),
        F.col("w.end").alias("win_end"),
        *rest,
    )


def session_agg(
    df: DataFrame,
    gap: str = "30 minutes",
    keys: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Native session_window aggregation (streaming-capable)."""
    g = df.groupBy(*keys, F.session_window(ts_col, gap).alias("w"))
    return g.agg(F.count("*").alias("n_turns")).select(
        *keys,
        F.col("w.start").alias("sess_start"),
        F.col("w.end").alias("sess_end"),
        "n_turns",
    )


def session_agg_batch(
    df: DataFrame,
    gap_seconds: int = 1800,
    keys: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands session assignment (batch): a new session starts when
    the gap from the previous event in the key exceeds ``gap_seconds``.
    Emits one row per session with BOTH end definitions, so stream and batch
    hash identically on their shared columns: ``sess_end`` = last_ts + gap
    (the native ``session_window`` end emitted by session_agg) and
    ``sess_last`` = last event ts (with ``duration_sec`` = last - first)."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    prev = F.lag(ts_col).over(w)
    # fractional epoch seconds (cast, not unix_timestamp, which truncates
    # sub-second precision and would disagree with the DuckDB oracle)
    with_gap = df.withColumn(
        "_new",
        (
            prev.isNull()
            | (epoch_seconds(F.col(ts_col)) - epoch_seconds(prev) > gap_seconds)
        ).cast("int"),
    )
    with_sess = with_gap.withColumn(
        "sess_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sess.groupBy(*keys, "sess_id")
        .agg(
            F.min(ts_col).alias("sess_start"),
            F.max(ts_col).alias("sess_last"),
            F.count("*").alias("n_turns"),
        )
        .drop("sess_id")  # internal gaps-and-islands counter, not output
        .withColumn(
            "sess_end",
            F.col("sess_last") + F.make_interval(secs=F.lit(gap_seconds)),
        )
        .withColumn(
            "duration_sec",
            F.round(
                epoch_seconds(F.col("sess_last")) - epoch_seconds(F.col("sess_start")),
                6,
            ),
        )
    )
