"""One (job, master, conf) streaming cell in a fresh JVM — the probe tool
behind bench_scaling.py's protocol, for isolating scaling variables
(heap, state-store provider, partitions) one cell at a time.

Usage:
  python tools/bench_cell.py --input DIR --job enrich_dedup \
      --master local[32] [--heap 48g] [--partitions 32] [--mft 64] \
      [--provider rocksdb]

Prints one RESULT json line with sustained tps and the steady-batch
durationMs / stateOperators breakdown.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = dict(
        zip(
            [a.lstrip("-") for a in sys.argv[1::2]],
            sys.argv[2::2],
        )
    )
    heap = args.get("heap")
    if heap:
        os.environ["SPARK_DRIVER_MEM"] = heap

    import shutil
    import tempfile
    import time

    from dataflow_mm_spark.session import get_spark
    from dataflow_mm_spark.streaming import jobs

    master = args.get("master", "local[32]")
    inp = args["input"]
    job = args.get("job", "enrich_dedup")
    mft = int(args.get("mft", "64"))
    parts = int(args.get("partitions", "32"))
    extra = {}
    if args.get("provider") == "rocksdb":
        extra["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    # generic conf passthrough: --conf k=v,k2=v2
    for kv in filter(None, args.get("conf", "").split(",")):
        k, _, v = kv.partition("=")
        extra[k] = v

    load0 = os.getloadavg()[0]
    spark = get_spark("cell", master=master, shuffle_partitions=parts,
                      extra_conf=extra)
    jvm_max_gb = round(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        / 2**30, 1)
    n = spark.read.parquet(inp).count()
    work = tempfile.mkdtemp(prefix="dfmm_cell_", dir="/dev/shm")
    out, ck = os.path.join(work, "out"), os.path.join(work, "ck")
    fns = {
        "enrich_dedup": lambda: jobs.turns_pipeline(
            spark, inp, out, ck, dedup=True, max_files_per_trigger=mft),
        "enrich_nodedup": lambda: jobs.turns_pipeline(
            spark, inp, out, ck, dedup=False, max_files_per_trigger=mft),
        "window": lambda: jobs.windowed_pipeline(
            spark, inp, out, ck, max_files_per_trigger=mft),
        "cep": lambda: jobs.cep_pipeline(
            spark, inp, out, ck, max_files_per_trigger=mft),
        "neardup": lambda: jobs.neardup_pipeline(
            spark, inp, out, ck, max_files_per_trigger=mft,
            # throughput probe: continuous-job configuration (bounded kept
            # ring, TTL active) — NOT the gate's unbounded single-drain form
            max_entries=4096),
    }
    t0 = time.time()
    q, _ = fns[job]()
    q.awaitTermination()
    dt = time.time() - t0
    prog = [json.loads(p.json) for p in q.recentProgress]
    steady = [p for p in prog[1:] if p.get("numInputRows", 0) > 0]
    rows = sum(p["numInputRows"] for p in steady)
    secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
    b0 = prog[0]["durationMs"]["triggerExecution"] / 1000.0 if prog else None

    def _sum(key):
        return round(
            sum(p["durationMs"].get(key, 0) for p in steady) / 1000.0, 2)

    res = {
        "job": job, "master": master, "heap_gb": jvm_max_gb,
        "partitions": parts, "provider": args.get("provider", "hdfs"),
        "n_turns": n, "sec": round(dt, 2),
        "wall_tps": round(n / dt, 1),
        "tps": round(rows / secs, 1) if secs > 0 else None,
        "batch0_s": round(b0, 2) if b0 else None,
        "dur": {k: _sum(k) for k in ("addBatch", "walCommit",
                                     "queryPlanning", "getBatch")},
        "state_commit_s": round(sum(
            so.get("commitTimeMs", 0) for p in steady
            for so in p.get("stateOperators", [])) / 1000.0, 2),
        "load_start": round(load0, 2),
        "load_end": round(os.getloadavg()[0], 2),
    }
    shutil.rmtree(work, ignore_errors=True)
    print("RESULT " + json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
