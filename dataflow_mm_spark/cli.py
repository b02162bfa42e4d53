"""spark-submit job entrypoint.

Packaging (north rule: ``spark-submit --py-files``):

    cd /root/repo && zip -r /tmp/dataflow_mm_spark.zip dataflow_mm_spark
    spark-submit --py-files /tmp/dataflow_mm_spark.zip \
        --master <cluster> dataflow_mm_spark/cli.py \
        --job turns --input s3://bucket/turns --output s3://bucket/out \
        --checkpoint s3://bucket/ck --watermark "10 minutes" --continuous

Jobs: turns (dedup + quality enrich), windows (tumbling agg), cep (pattern
events: role alternation, tool pairing), sessions (session_window agg),
neardup (MinHash candidates), context (prev-turn join), merge (size-capped
span merge, W6 merge mode), compact (maintenance: rewrite a
sink's committed micro-batch dirs into one generation — small-files
compaction; only --output is required), assetinfo (stateless multimodal
ingest enrichment: sniff/sha256/header dims + the reference's video_info
dict from the real AVI/GIF/MP4 container walks, over a (doc_id, payload)
binary stream).
``--continuous`` keeps the stream
running with a processing-time trigger; default drains available input and
exits (availableNow). Re-running with the same --checkpoint resumes from the
recorded offsets with the exactly-once sink guaranteeing no duplicates.
``--est-state-keys`` (with --executors / --executor-heap-gb) selects the
state-store provider from the measured HDFS/RocksDB crossover
(session.state_store_conf; BENCH.md §5) instead of the default.
"""

from __future__ import annotations

import argparse
import os
import sys

# running as a script (spark-submit dataflow_mm_spark/cli.py): make the
# package importable from its parent dir; with --py-files the zip already is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description="dataflow-mm-spark streaming jobs")
    p.add_argument("--job", choices=["turns", "windows", "cep", "sessions", "neardup",
                                     "context", "merge", "compact", "assetinfo"],
                   required=True)
    p.add_argument("--input", default=None, help="parquet dir / table path")
    p.add_argument("--output", required=True, help="sink dir")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--watermark", default="10 minutes")
    p.add_argument("--window", default="5 minutes")
    p.add_argument("--gap", default="30 minutes")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--continuous", action="store_true",
                   help="processing-time trigger instead of availableNow")
    p.add_argument("--trigger-interval", default="10 seconds")
    p.add_argument("--metrics", default=None, help="progress metrics jsonl path")
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--target-partitions", type=int, default=None,
                   help="compact: repartition the generation to N files")
    p.add_argument("--est-state-keys", type=int, default=None,
                   help="estimated distinct state keys for this job; picks "
                        "the state-store provider from the measured "
                        "HDFS/RocksDB crossover (session.state_store_conf)")
    p.add_argument("--executors", type=int, default=1,
                   help="executor count for the state-per-executor estimate")
    p.add_argument("--executor-heap-gb", type=int, default=8,
                   help="executor heap for the state-fit estimate")
    args = p.parse_args()
    if args.job != "compact" and not (args.input and args.checkpoint):
        p.error(f"--input and --checkpoint are required for --job {args.job}")

    from dataflow_mm_spark.session import get_spark, state_store_conf
    from dataflow_mm_spark.streaming import jobs
    from dataflow_mm_spark.streaming.sink import MetricsListener

    extra = None
    if args.est_state_keys is not None:
        extra = state_store_conf(
            args.est_state_keys,
            executors=args.executors,
            heap_bytes=args.executor_heap_gb << 30,
        )
    spark = get_spark(f"dfmm-{args.job}", extra_conf=extra)
    if args.metrics:
        spark.streams.addListener(MetricsListener(args.metrics).make())

    if args.job == "compact":
        # maintenance pass over an exactly-once sink: rewrite committed
        # micro-batch dirs into one generation (small-files compaction)
        import json

        from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink

        sink = ExactlyOnceParquetSink(args.output)
        manifest = sink.compact(spark, target_partitions=args.target_partitions)
        print(json.dumps(manifest))
        return

    common = dict(
        spark=spark,
        input_path=args.input,
        out_dir=args.output,
        checkpoint=args.checkpoint,
        watermark=args.watermark,
        available_now=not args.continuous,
    )
    if args.job == "turns":
        q, _ = jobs.turns_pipeline(
            max_files_per_trigger=args.max_files_per_trigger,
            dedup=not args.no_dedup,
            **common,
        )
    elif args.job == "windows":
        q, _ = jobs.windowed_pipeline(
            window_size=args.window,
            max_files_per_trigger=args.max_files_per_trigger,
            **common,
        )
    elif args.job == "cep":
        q, _ = jobs.cep_pipeline(
            close_gap=args.gap,
            max_files_per_trigger=args.max_files_per_trigger,
            **common,
        )
    elif args.job == "neardup":
        q, _ = jobs.neardup_pipeline(**common)
    elif args.job == "merge":
        q, _ = jobs.merge_spans_pipeline(close_gap=args.gap, **common)
    elif args.job == "assetinfo":
        # stateless multimodal ingest enrichment: real container walks
        # (AVI/GIF/MP4 + still decode) -> typed video_info columns
        q, _ = jobs.asset_info_pipeline(
            spark=spark, input_path=args.input, out_dir=args.output,
            checkpoint=args.checkpoint,
            available_now=not args.continuous,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    elif args.job == "context":
        q, _ = jobs.context_pipeline(
            spark=spark, input_path=args.input, out_dir=args.output,
            checkpoint=args.checkpoint, watermark=args.watermark,
            available_now=not args.continuous,
        )
    else:
        q, _ = jobs.sessionized_pipeline(gap=args.gap, **common)

    q.awaitTermination()


if __name__ == "__main__":
    main()
