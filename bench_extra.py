"""Round-6 measurement harness (guide §1: measure first, noop-sink isolation).

bench.py is FROZEN for driver measurement; every extra number cited in
OPTIMIZATION_r06.md comes from here.

Usage:
  python bench_extra.py queries [names...]     # per-query noop timing, N reps
  python bench_extra.py synth                  # synth fixture materialization tax
  python bench_extra.py stream <name>          # gate stream query + progress dump
  python bench_extra.py headline [n_convs]     # streaming headline with progress
  python bench_extra.py explain <name> <out>   # .explain('formatted') -> file

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def get_session():
    from dataflow_mm_spark.session import get_spark

    return get_spark("bench_extra", master=f"local[{CPUS}]")


def summary(path: str) -> list[dict]:
    """Per-batch phase and state-operator rows from a MetricsListener jsonl."""
    out = []
    with open(path) as f:
        progress = [json.loads(line) for line in f]
    for p in progress:
        if "terminated" in p:
            continue
        d = p.get("durationMs", {})
        row = {
            "batchId": p.get("batchId"),
            "rows": p.get("numInputRows"),
            "trigger_ms": d.get("triggerExecution"),
            "addBatch_ms": d.get("addBatch"),
            "getBatch_ms": d.get("getBatch"),
            "latestOffset_ms": d.get("latestOffset"),
            "commitBatch_ms": d.get("commitBatch") or d.get("commitOffsets"),
            "wmark_ms": d.get("walCommit"),
        }
        ops = []
        for so in p.get("stateOperators", []):
            ops.append(
                {
                    "op": so.get("operatorName"),
                    "nkeys": so.get("numRowsTotal"),
                    "upd_ms": so.get("allUpdatesTimeMs"),
                    "rm_ms": so.get("allRemovalsTimeMs"),
                    "commit_ms": so.get("commitTimeMs"),
                }
            )
        if ops:
            row["state"] = ops
        out.append(row)
    return out


def cmd_queries(names: list[str], reps: int = 3):
    from dataflow_mm_spark.plans import registry as R

    spark = get_session()
    targets = names or list(R.QUERIES)
    out: dict[str, list[float]] = {}
    for name in targets:
        fn = R.QUERIES.get(name) or R.MEMBER_QUERIES[name]
        out[name] = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            out[name].append(round(time.time() - t0, 3))
        print(name, out[name], flush=True)
    print(json.dumps(out))


def cmd_synth():
    import shutil
    import tempfile

    from dataflow_mm_spark.plans.portable import synthetic_turns

    spark = get_session()
    for i in range(3):
        d = tempfile.mkdtemp(prefix="dfmm_synthbench_")
        t0 = time.time()
        synthetic_turns(spark, SF_DIR).write.mode("overwrite").parquet(d)
        print(f"synth materialize rep{i}: {time.time() - t0:.2f}s", flush=True)
        shutil.rmtree(d, ignore_errors=True)


def cmd_stream(name: str):
    import tempfile

    from dataflow_mm_spark.plans import registry as R
    from dataflow_mm_spark.streaming.sink import MetricsListener

    spark = get_session()
    with tempfile.TemporaryDirectory(prefix="dfmm_bx_stream_") as d:
        path = os.path.join(d, "metrics.jsonl")
        listener = MetricsListener(path).make()
        spark.streams.addListener(listener)
        t0 = time.time()
        R.QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        time.sleep(1)
        spark.streams.removeListener(listener)
        batches = summary(path) if os.path.exists(path) else []
    print(json.dumps({"query": name, "wall_s": round(wall, 2),
                      "batches": batches}, indent=1))


def cmd_headline(n_convs: int):
    import shutil
    import tempfile

    from dataflow_mm_spark.datagen import write_transcripts
    from dataflow_mm_spark.streaming import jobs
    from dataflow_mm_spark.streaming.sink import MetricsListener

    spark = get_session()
    workdir = tempfile.mkdtemp(prefix="dfmm_bx_head_")
    try:
        inp = os.path.join(workdir, "turns_in")
        t0 = time.time()
        write_transcripts(spark, inp, n_convs=n_convs, files=64)
        print(f"datagen: {time.time() - t0:.2f}s", flush=True)
        n_turns = spark.read.parquet(inp).count()
        metrics = os.path.join(workdir, "metrics.jsonl")
        listener = MetricsListener(metrics).make()
        spark.streams.addListener(listener)
        out, ckpt = os.path.join(workdir, "o"), os.path.join(workdir, "ck")
        t0 = time.time()
        q, sink = jobs.turns_pipeline(
            spark, inp, out, ckpt, dedup=True, max_files_per_trigger=16
        )
        q.awaitTermination()
        wall = time.time() - t0
        time.sleep(1)
        spark.streams.removeListener(listener)
        batches = summary(metrics)
        steady = [b for b in batches[1:] if (b["rows"] or 0) > 0]
        tps = (
            sum(b["rows"] for b in steady)
            / (sum(b["trigger_ms"] for b in steady) / 1000.0)
            if steady
            else None
        )
        print(json.dumps({
            "n_turns": n_turns, "wall_s": round(wall, 2),
            "sustained_tps": round(tps, 1) if tps else None,
            "batches": batches,
        }, indent=1))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def cmd_explain(name: str, out_path: str):
    from contextlib import redirect_stdout

    from dataflow_mm_spark.plans import registry as R

    spark = get_session()
    fn = R.QUERIES.get(name) or R.MEMBER_QUERIES[name]
    df = fn(spark, SF_DIR)
    with open(out_path, "w") as f, redirect_stdout(f):
        df.explain("formatted")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "synth":
        cmd_synth()
    elif cmd == "stream":
        cmd_stream(sys.argv[2])
    elif cmd == "headline":
        cmd_headline(int(sys.argv[2]) if len(sys.argv) > 2 else 50000)
    elif cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(f"unknown command {cmd}")
