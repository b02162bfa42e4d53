"""End-to-end streaming jobs — the engine's flagship pipelines.

Each job: readStream → watermark → transform → exactly-once sink, resumable
from its checkpoint dir. ``available_now=True`` (the default) drains all
pending input and stops (used by tests + bench); ``available_now=False``
keeps the query running on Spark's default trigger, which starts the next
micro-batch as soon as the previous one ends. Shuffle layout: stateful
stages key on conv_id (or window key) — Spark plants the exchange. Ordering rule
(measured, see CLAUDE.md): stateful dedup runs FIRST on the 6 narrow raw
columns (the shuffle carries whatever flows through it — dedup on enriched
rows measured 2x slower), THEN quality enrichment; in windowed_pipeline the
quality FILTER does run pre-shuffle so dropped turns never hit the wire.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_mm_spark.functions.extraction import (
    extract_answer,
    extract_tool_call_names,
)
from dataflow_mm_spark.functions.quality import quality_struct
from dataflow_mm_spark.streaming.dedup import exact_dedup_stream
from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink
from dataflow_mm_spark.streaming.source import read_transcript_stream


def _start(stream_df: DataFrame, batch_fn, checkpoint: str, available_now: bool):
    """Start a foreachBatch query: ``batch_fn(df, batch_id)`` writes each
    micro-batch (an ``ExactlyOnceParquetSink.foreach_batch``, possibly
    behind a per-batch transform)."""
    w = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(batch_fn)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _start_native(stream_df: DataFrame, out_dir: str, checkpoint: str,
                  available_now: bool):
    """Native parquet streaming sink — the commit protocol is JVM-side
    (``_spark_metadata`` log), with NO Python callback on the data path.

    Why it exists: py4j's callback channel (the transport behind
    ``foreachBatch``) degrades in long-lived driver sessions that start many
    streaming queries — observed at the 7th foreachBatch query of one
    session, the JVM's batch-0 callback blocks forever on a corrupted
    pinned connection (stream thread in a plain-socket read that ignores
    interrupts, so even ``stop()`` wedges). Production deployments run one
    query per JVM (cli.py) and never see this; the correctness gate runs
    8 streaming queries in one session, so gate queries that don't
    specifically verify the foreachBatch exactly-once sink use this sink
    instead (``sink_mode="native"``), capping callback-channel usage per
    session. The foreachBatch sink itself stays gated by
    transcripts_stream_pipeline / transcripts_stream_neardup, ordered first
    among the gate's stream queries."""
    w = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _finish(stream_df: DataFrame, out_dir: str, checkpoint: str,
            available_now: bool, sink_mode: str):
    """(query, sink) for the requested sink mode: "exactly_once" =
    foreachBatch ExactlyOnceParquetSink (production default, lineage
    columns + manifest commit); "native" = JVM-only parquet sink
    (sink=None — read the output dir directly)."""
    if sink_mode == "native":
        return _start_native(stream_df, out_dir, checkpoint, available_now), None
    sink = ExactlyOnceParquetSink(out_dir)
    return _start(stream_df, sink.foreach_batch, checkpoint, available_now), sink


def drain_resumable(start, attempts: int = 2, timeout_s: float = 900.0):
    """Drain an availableNow pipeline with restart-from-checkpoint on
    transient failure: ``start()`` builds (query, sink) against a FIXED
    checkpoint dir; if ``awaitTermination`` raises (py4j callback-channel
    flakes under long sessions, executor loss on a real cluster) OR the
    drain exceeds ``timeout_s`` (a wedged foreachBatch callback — the py4j
    callback-channel degradation _start_native documents: the JVM blocks
    forever reading a response that never comes), the
    query is stopped and rebuilt on the same checkpoint — the exactly-once
    sink makes the retry idempotent (a replayed batch clobbers its own
    directory before the manifest commit), so this is precisely the
    production restart-from-checkpoint path. Returns the sink."""
    last: Exception | None = None
    for _ in range(attempts):
        q, sink = start()
        try:
            if q.awaitTermination(timeout_s):
                return sink
            last = TimeoutError(
                f"availableNow drain exceeded {timeout_s}s; stopping for "
                "checkpoint-resume retry"
            )
        except Exception as ex:  # noqa: BLE001 — retry any stream failure
            last = ex
        try:
            q.stop()
        except Exception:  # noqa: BLE001
            pass
    raise last


def enrich_turns(turns: DataFrame) -> DataFrame:
    """Stateless per-turn enrichment: quality struct, answer span, tool-call
    names — all JVM-side expressions (no shuffle, no Python)."""
    return turns.select(
        "*",
        quality_struct(F.col("text")).alias("quality"),
        extract_answer(F.col("text")).alias("answer"),
        extract_tool_call_names(F.col("text")).alias("tool_calls"),
    )


def turns_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    dedup: bool = True,
):
    """Quality-scored, deduplicated turn stream → exactly-once sink."""
    turns = read_transcript_stream(
        spark, input_path, max_files_per_trigger, watermark
    )
    # dedup FIRST, on the narrow raw turns: the stateful shuffle then carries
    # 6 columns, not the enriched width (quality struct + arrays) — measured
    # 2x wall difference; enrichment runs post-shuffle on unique rows only
    if dedup:
        turns = exact_dedup_stream(turns)
    enriched = enrich_turns(turns)
    # per-batch observability: input/kept counts land in StreamingQueryProgress
    # .observedMetrics (and the MetricsListener jsonl)
    enriched = enriched.observe(
        "quality",
        F.count(F.lit(1)).alias("turns_in"),
        F.sum(F.when(F.col("quality.pass"), 1).otherwise(0)).alias("turns_kept"),
    )
    filtered = enriched.filter(F.col("quality.pass"))
    sink = ExactlyOnceParquetSink(out_dir)
    q = _start(filtered, sink.foreach_batch, checkpoint, available_now)
    return q, sink


def windowed_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    window_size: str = "5 minutes",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    sink_mode: str = "exactly_once",
):
    """Flagship SURVEY.md §7.2 slice: quality-filtered turn counts per
    conversation per tumbling window, append mode (windows finalize as the
    watermark passes)."""
    turns = read_transcript_stream(
        spark, input_path, max_files_per_trigger, watermark
    )
    filtered = turns.filter(quality_struct(F.col("text"))["pass"])
    agg = (
        filtered.groupBy("conv_id", F.window("ts", window_size).alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
                "n_assistant"
            ),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_turns",
            "n_assistant",
        )
    )
    return _finish(agg, out_dir, checkpoint, available_now, sink_mode)


def cep_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    close_gap: str = "30 minutes",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    buckets: int = 1024,
    sink_mode: str = "exactly_once",
):
    """Role-alternation + tool-pairing CEP event stream → sink. State is
    keyed by hash(conv_id) % ``buckets`` (see cep_stream_bucketed), so the
    per-group Python constant is paid per bucket, not per conversation.

    Deployment note (measured, BENCH.md §2 r4): size ``max_files_per_trigger``
    so rows/batch/executor × ~250B stays within the executor's cache share —
    ≲220k rows per 8-core executor on the bench box. Oversized micro-batches
    blow the shared cache under executor density and BOTH scaling efficiency
    (0.597 → 0.24) and absolute fleet throughput (−25%) collapse."""
    # looked up at call time so perfbench's tracer, which patches the cep
    # module attribute, sees the call
    from dataflow_mm_spark.streaming.cep import cep_stream_bucketed

    turns = read_transcript_stream(
        spark, input_path, max_files_per_trigger, watermark
    )
    events = cep_stream_bucketed(turns, close_gap, buckets)
    return _finish(events, out_dir, checkpoint, available_now, sink_mode)


def context_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    max_gap: str = "1 hour",
    available_now: bool = True,
    sink_mode: str = "exactly_once",
):
    """Stream-stream prev-turn join → stateless consistency features →
    exactly-once sink. Stateless work after a stream-stream join is legal in
    one append-mode query; chaining a second STATEFUL op after the join is
    where Spark's restrictions bite (SURVEY §7.7) — that composition runs as
    two queries through an intermediate sink (join output dir → CEP input)."""
    from dataflow_mm_spark.schema import TRANSCRIPT_SCHEMA
    from dataflow_mm_spark.streaming.joins import prev_turn_context_stream

    # no watermark on the raw read: prev_turn_context_stream applies its own
    raw = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_path)
    ctx = prev_turn_context_stream(raw, watermark=watermark, max_gap=max_gap)
    out = ctx.select(
        "*",
        (F.col("role") == F.col("prev_role")).alias("role_repeat"),
        quality_struct(F.col("text"))["pass"].alias("quality_pass"),
    )
    return _finish(out, out_dir, checkpoint, available_now, sink_mode)


def neardup_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
    resolve: bool = True,
    max_files_per_trigger: int | None = None,
    **neardup_kw,
):
    """Streaming MinHash near-duplicate detection → exactly-once sink.

    ``resolve=True`` (default): keep-first resolution happens IN-STREAM —
    the stateful stage emits arrival markers + candidates, foreachBatch
    grades each arrival (decisions_from_batch) and the sink lands one
    ``(row_key, dup)`` decision per row, resumable from checkpoint.
    ``resolve=False``: the raw candidate event log (r3 behavior; resolve
    later with streaming.dedup.resolve_keep_first)."""
    from dataflow_mm_spark.streaming.dedup import (
        decisions_from_batch,
        neardup_candidates_stream,
        neardup_dedup_stream,
    )

    turns = read_transcript_stream(
        spark, input_path, max_files_per_trigger, watermark
    )
    sink = ExactlyOnceParquetSink(out_dir)
    if resolve:
        q = _start(
            neardup_dedup_stream(turns, **neardup_kw),
            lambda df, bid: sink.foreach_batch(decisions_from_batch(df), bid),
            checkpoint, available_now,
        )
    else:
        q = _start(neardup_candidates_stream(turns, **neardup_kw),
                   sink.foreach_batch, checkpoint, available_now)
    return q, sink


def merge_spans_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    close_gap: str = "30 minutes",
    max_duration: float = 30.0,
    available_now: bool = True,
    sink_mode: str = "exactly_once",
):
    """W6 merge mode, streaming form: size-capped span merge per conversation
    (streaming/merge.py), parity-tested against the batch
    operators.expansion.merge_spans_capped. Input: parquet rows
    (conv_id, span_start, span_end, ts)."""
    from dataflow_mm_spark.streaming.merge import merge_spans_stream

    schema = "conv_id string, span_start double, span_end double, ts timestamp"
    raw = (
        spark.readStream.schema(schema)
        .parquet(input_path)
        .withWatermark("ts", watermark)
    )
    merged = merge_spans_stream(raw, close_gap=close_gap, max_duration=max_duration)
    return _finish(merged, out_dir, checkpoint, available_now, sink_mode)


def sessionized_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    gap: str = "30 minutes",
    available_now: bool = True,
    sink_mode: str = "exactly_once",
):
    """Native session_window aggregation per conversation."""
    turns = read_transcript_stream(spark, input_path, None, watermark)
    agg = (
        turns.groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_turns",
        )
    )
    return _finish(agg, out_dir, checkpoint, available_now, sink_mode)


def asset_info_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint: str,
    available_now: bool = True,
    sink_mode: str = "exactly_once",
    bin_col: str = "payload",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    watermark: str | None = None,  # stateless job; accepted for CLI parity
):
    """Stateless asset-metadata enrichment over a binary-asset stream (the
    north-rule shape for multimodal ingest): magic sniff + sha256 + header
    dims JVM-side (``with_asset_meta``), then the reference's
    ``video_info`` dict as typed columns from the REAL container walks
    (AVI/MJPEG frames, GIF animation, MP4 moov, still decode) — success /
    num_frames / dims / aspect / resolution / fps / duration per asset.
    One Arrow pass carries the payload; everything downstream is narrow.
    Unreadable assets surface as ``success=false`` rows, never failures."""
    from dataflow_mm_spark.operators.multimodal import with_asset_meta
    from dataflow_mm_spark.operators.video import video_info

    schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_path)
    meta = with_asset_meta(src, bin_col).select(
        id_col, bin_col,
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )
    info = video_info(meta, bin_col=bin_col,
                      id_cols=(id_col, "mime", "n_bytes", "sha256"))
    return _finish(info, out_dir, checkpoint, available_now, sink_mode)
