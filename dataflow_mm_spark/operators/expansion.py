"""Row expansion / UDTF-shaped operators (1 row → N rows).

Reference analogues (SURVEY.md §2.7):
* TimestampChunkRowGenerator split mode (audio_timestamp_chunk_row_generator
  .py:29-55,181): one timestamp-span row per source row → ``explode``;
* merge mode: greedily merge consecutive spans until ``max_duration`` then
  start a new sequence, emitting ``sequence_num`` — a *size-capped session*:
  the cut rule is cumulative, so it is not expressible as session_window;
  implemented as ordered applyInPandas per key (batch) — the streaming form
  reuses the CEP state pattern;
* VideoClipGenerator._flatten_video_clips (video_clip_generator.py:131-156):
  nested clip lists → one row per clip → ``explode`` + posexplode ordinal;
* VideoFrameFilter interval sampling (video_frame_filter.py:305-338):
  per-span sample points → ``explode(sequence(start, end, interval))``.
"""

from __future__ import annotations



import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_spans(
    df: DataFrame,
    spans_col: str = "timestamps",
    out_prefix: str = "span",
) -> DataFrame:
    """Split mode: one row per (start,end) span, with its ordinal."""
    return df.select(
        "*", F.posexplode(spans_col).alias(f"{out_prefix}_idx", "_span")
    ).select(
        *[c for c in df.columns if c != spans_col],
        f"{out_prefix}_idx",
        F.col("_span.start").alias(f"{out_prefix}_start"),
        F.col("_span.end").alias(f"{out_prefix}_end"),
    )


def greedy_merge_spans(
    pairs, max_duration: float
) -> list[tuple[int, float, float, int]]:
    """The single-source greedy core shared by the batch operator below and
    the streaming form (streaming/merge.py): sort spans by (start, end),
    accumulate while merged duration (end - first.start) ≤ max_duration,
    else cut a new sequence. Returns [(sequence_num, start, end, n_spans)]."""
    out: list[tuple[int, float, float, int]] = []
    seq = -1
    cur_start = cur_end = None
    n = 0
    for s, e in sorted(pairs, key=lambda p: (p[0], p[1])):
        if cur_start is not None and (e - cur_start) <= max_duration:
            cur_end = max(cur_end, e)
            n += 1
        else:
            if cur_start is not None:
                out.append((seq, cur_start, cur_end, n))
            seq += 1
            cur_start, cur_end, n = s, e, 1
    if cur_start is not None:
        out.append((seq, cur_start, cur_end, n))
    return out


def merge_spans_capped(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id",),
    start_col: str = "span_start",
    end_col: str = "span_end",
    max_duration: float = 30.0,
    group_buckets: int | None = None,
) -> DataFrame:
    """Merge mode: per key in span order, greedily accumulate consecutive
    spans while merged duration (last.end - first.start) ≤ max_duration;
    otherwise start a new sequence. Emits one row per merged sequence:
    (keys..., sequence_num, merged_start, merged_end, n_spans).

    Cumulative cut rule → ordered applyInPandas per key (the reference runs
    the same loop per row in a process pool). The streaming stateful form is
    streaming/merge.py:merge_spans_stream — same greedy core, parity-tested.

    ``group_buckets``: when set, applyInPandas groups on ``hash(keys) %
    group_buckets`` and walks each key inside the pandas frame — one
    Python/Arrow round-trip per BUCKET instead of per key (~2 ms each;
    1.6k singleton key groups cost ~3 s of pure round-trip at sf0.1, r6).
    Same output rows.  Leave None (per-key grouping) when per-bucket span
    volume could exceed executor memory — the caller knows its key
    cardinality/row ratio; bucketed mode holds a whole bucket's spans in
    one pandas frame."""
    # key columns keep their INPUT types (a long user_id key must not be
    # declared string — Arrow would fail the batch at runtime)
    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{k} {in_types[k]}" for k in key_cols)
        + ", sequence_num int, merged_start double, merged_end double, n_spans int"
    )
    out_cols = [*key_cols, "sequence_num", "merged_start", "merged_end", "n_spans"]

    if group_buckets:
        def merge_bucketed(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = []
            # dropna=False: a NULL key is a group of its own, as it is in
            # the per-key path; pandas labels it NaN, emitted as NULL
            for keys, g in pdf.groupby(list(key_cols), sort=False, dropna=False):
                if not isinstance(keys, tuple):
                    keys = (keys,)
                keys = tuple(None if pd.isna(k) else k for k in keys)
                rows.extend(
                    [*keys, seq, s, e, n]
                    for seq, s, e, n in greedy_merge_spans(
                        zip(g[start_col], g[end_col]), max_duration
                    )
                )
            return pd.DataFrame(rows, columns=out_cols)

        bucket = F.pmod(
            F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(group_buckets)
        )
        return (
            df.withColumn("_mb", bucket)
            .groupBy("_mb")
            .applyInPandas(merge_bucketed, out_schema)
        )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = [pdf[k].iloc[0] for k in key_cols]
        rows = [
            [*keys, seq, s, e, n]
            for seq, s, e, n in greedy_merge_spans(
                zip(pdf[start_col], pdf[end_col]), max_duration
            )
        ]
        return pd.DataFrame(rows, columns=out_cols)

    return df.groupBy(*key_cols).applyInPandas(merge, out_schema)


def sample_points(
    df: DataFrame,
    start_col: str = "span_start",
    end_col: str = "span_end",
    interval: float = 1.0,
    out: str = "sample_t",
) -> DataFrame:
    """Interval sampling within each span (frame-sampling analogue):
    explode(sequence(start, end, interval)) — pure Spark."""
    n = F.floor((F.col(end_col) - F.col(start_col)) / interval).cast("int")
    pts = F.transform(
        F.sequence(F.lit(0), F.greatest(n, F.lit(0))),
        lambda i: F.col(start_col) + i * F.lit(interval),
    )
    return df.select("*", F.explode(pts).alias(out)).filter(
        F.col(out) <= F.col(end_col)
    )


def explode_nested_clips(
    df: DataFrame, clips_col: str = "clips", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Flatten a nested clip-list column into one row per clip with ordinal
    (VideoClipGenerator flatten semantics)."""
    return df.select(
        *keep, F.posexplode(clips_col).alias("clip_idx", "clip")
    ).select(*keep, "clip_idx", "clip.*")
