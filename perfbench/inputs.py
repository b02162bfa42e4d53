"""Seeded, event-time-ordered transcript input for the streaming workloads.

``datagen.transcripts`` builds the rows; this module fixes the properties a
file-source stream depends on:

* files are range-partitioned on ``ts``, so file ``i`` holds only event
  times at or after those of file ``i - 1`` and no row arrives behind the
  watermark;
* arrival order is set explicitly: each file gets a distinct, increasing
  modification time, because ``FileStreamSource`` orders files by mtime and
  a parallel write leaves that order to task scheduling;
* a seeded 1-in-``redeliver_every`` sample of turns is written twice, in the
  same file as the original (the range key includes the turn key), so
  ``dropDuplicatesWithinWatermark`` has work to do;
* an optional sentinel file, last in arrival order, carries one row far in
  event time, which pushes the watermark past every conversation so
  event-time state (the CEP close) drains completely.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SENTINEL_CONV = "conv-sentinel"
SENTINEL_TS = dt.datetime(2026, 1, 1)


@dataclass(frozen=True)
class InputStats:
    path: str
    rows: int  # every input row, re-deliveries included
    distinct: int  # distinct (conv_id, turn_idx) keys
    redelivered: int  # rows - distinct
    files: int


def _part_files(d: str) -> list[str]:
    return sorted(
        f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
    )


def _stamp(paths: list[str]) -> None:
    """Arrival order = list order: one second apart, ending a minute ago."""
    base = time.time() - 60 - len(paths)
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def write_ordered_input(
    spark: SparkSession,
    out_dir: str,
    n_convs: int,
    files: int,
    seed: int,
    redeliver_every: int | None = 20,
    sentinel: bool = False,
) -> InputStats:
    from dataflow_mm_spark.datagen import transcripts

    df = transcripts(spark, n_convs=n_convs, seed=seed)
    if redeliver_every:
        again = df.filter(
            F.expr(
                f"pmod(xxhash64('redeliver', conv_id, turn_idx, {seed}), "
                f"{redeliver_every}) = 0"
            )
        )
        df = df.unionByName(again)
    tmp = out_dir + ".tmp"
    (
        df.repartitionByRange(files, "ts", "conv_id", "turn_idx")
        .sortWithinPartitions("ts", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    parts = _part_files(tmp)
    if len(parts) != files:
        raise RuntimeError(f"expected {files} input files, got {len(parts)}")
    os.makedirs(out_dir)
    ordered = []
    for i, name in enumerate(parts):  # part index = range index = ts order
        dst = os.path.join(out_dir, f"turns-{i:05d}.parquet")
        os.rename(os.path.join(tmp, name), dst)
        ordered.append(dst)
    shutil.rmtree(tmp)
    if sentinel:
        ordered.append(_write_sentinel(spark, out_dir))
    _stamp(ordered)
    return _stats(spark, out_dir, len(ordered))


def _stats(spark: SparkSession, path: str, files: int) -> InputStats:
    agg = (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("conv_id", "turn_idx").alias("distinct"),
        )
        .first()
    )
    return InputStats(
        path, agg["rows"], agg["distinct"], agg["rows"] - agg["distinct"], files
    )


def _write_sentinel(spark: SparkSession, out_dir: str) -> str:
    tmp = out_dir + ".sentinel"
    spark.range(1).select(
        F.lit(SENTINEL_CONV).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("sentinel push watermark").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(SENTINEL_TS).cast("timestamp").alias("ts"),
    ).coalesce(1).write.parquet(tmp)
    (name,) = _part_files(tmp)
    dst = os.path.join(out_dir, "turns-sentinel.parquet")
    os.rename(os.path.join(tmp, name), dst)
    shutil.rmtree(tmp)
    return dst


def copy_prefix(spark: SparkSession, src: InputStats, out_dir: str,
                n_files: int) -> InputStats:
    """A smaller input made of the first ``n_files`` files of ``src`` in
    arrival order (plus its sentinel, if it has one), for the warm-up drain."""
    names = sorted(f for f in os.listdir(src.path) if f.endswith(".parquet"))
    keep = [n for n in names if n.startswith("turns-0")][:n_files]
    keep += [n for n in names if n == "turns-sentinel.parquet"]
    os.makedirs(out_dir)
    copied = []
    for n in keep:
        copied.append(shutil.copyfile(os.path.join(src.path, n),
                                      os.path.join(out_dir, n)))
    _stamp(copied)
    return _stats(spark, out_dir, len(copied))
