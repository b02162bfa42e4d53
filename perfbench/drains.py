"""Streaming workloads: one availableNow drain through a public pipeline
entry point, what Spark's ``StreamingQueryProgress`` says about it, the
spans a traced drain adds, and the output check against a batch reference.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputs import SENTINEL_CONV, InputStats
from spans import Tracer

# MicroBatchExecution reports these phases of one trigger in this order
PHASES = (
    ("latestOffset", "streaming.source"),
    ("walCommit", "streaming.jobs"),
    ("getBatch", "streaming.source"),
    ("queryPlanning", "streaming.jobs"),
    ("addBatch", "streaming.jobs"),
    ("commitOffsets", "streaming.jobs"),
)

LAYERS = (
    "session",
    "plans.registry",
    "streaming.source",
    "streaming.jobs",
    "streaming.dedup",
    "streaming.cep",
    "functions.quality",
    "streaming.sink",
)

CEP_KINDS = ("role_violation", "tool_paired", "tool_unpaired")


@dataclass(frozen=True)
class Workload:
    name: str
    pipeline: str  # "turns" (dedup -> quality -> sink) or "cep"
    n_convs: int
    files: int
    files_per_trigger: int
    warm_files: int  # files in the untimed warm-up drain's input
    redeliver_every: int | None
    sentinel: bool

    @property
    def state_layer(self) -> str:
        return "streaming.dedup" if self.pipeline == "turns" else "streaming.cep"

    def start(self, spark: SparkSession, inp: str, out: str, ckpt: str):
        from dataflow_mm_spark.streaming import jobs

        start = jobs.turns_pipeline if self.pipeline == "turns" else jobs.cep_pipeline
        return start(spark, inp, out, ckpt,
                     max_files_per_trigger=self.files_per_trigger)


@dataclass
class Drain:
    input: InputStats
    wall_s: float
    progress: list[dict]
    sink: object  # ExactlyOnceParquetSink
    traced: bool = False
    spans: list[dict] = field(default_factory=list)  # traced drains only


def _epoch(ts: str) -> float:
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def run_drain(spark: SparkSession, wl: Workload, inp: InputStats, work: str,
              tag: str, timeout_s: float, tracer: Tracer | None = None) -> Drain:
    """Drain ``inp`` once through the workload's pipeline on a fresh output
    and checkpoint. Wall time runs from the pipeline call to the return of
    ``awaitTermination``. With a tracer, spans are recorded around the calls
    into each layer, and each micro-batch and its progress phases are added
    as child spans after the drain."""
    out, ckpt = os.path.join(work, tag + "-out"), os.path.join(work, tag + "-ck")
    if tracer is None:
        t0 = time.perf_counter()
        q, sink = wl.start(spark, inp.path, out, ckpt)
        done = q.awaitTermination(timeout_s)
        wall = time.perf_counter() - t0
    else:
        first = len(tracer.spans)
        wall, q, sink, done, root = _traced_drain(spark, wl, inp, out, ckpt,
                                                  timeout_s, tracer)
    if not done:
        q.stop()
        raise TimeoutError(f"drain {tag} exceeded {timeout_s}s")
    progress = [json.loads(p.json) for p in q.recentProgress]
    d = Drain(inp, wall, progress, sink, tracer is not None)
    if tracer is not None:
        _add_progress_spans(tracer, tracer.spans[first:], root, progress, wl,
                            spark.sparkContext.defaultParallelism)
        d.spans = tracer.spans[first:]
    return d


def _traced_drain(spark, wl, inp, out, ckpt, timeout_s, tracer):
    from dataflow_mm_spark.streaming import cep, jobs, sink

    with (
        tracer.wrapped(jobs, "read_transcript_stream", "streaming.source"),
        tracer.wrapped(jobs, "exact_dedup_stream", "streaming.dedup"),
        tracer.wrapped(jobs, "enrich_turns", "functions.quality"),
        tracer.wrapped(cep, "cep_stream_bucketed", "streaming.cep"),
        # foreach_batch(self, df, batch_id)
        tracer.wrapped(sink.ExactlyOnceParquetSink, "foreach_batch",
                       "streaming.sink", batch_arg=2),
        tracer.wrapped(sink._HadoopFS, "write_atomic", "streaming.sink",
                       name="manifest_write"),
    ):
        t0 = time.perf_counter()
        with tracer.span("drain", "streaming.jobs", workload=wl.name) as root:
            with tracer.span("pipeline_call", "streaming.jobs"):
                q, s = wl.start(spark, inp.path, out, ckpt)
            done = q.awaitTermination(timeout_s)
        wall = time.perf_counter() - t0
    return wall, q, s, done, root


def _add_progress_spans(tracer: Tracer, spans: list[dict], root: int,
                        progress: list[dict], wl: Workload, slots: int) -> None:
    """Micro-batch spans from the progress records, each with its phases as
    sequential children. The ``foreach_batch`` span of a batch moves under
    that batch's ``addBatch`` phase; the stateful operator's time, summed
    over tasks by Spark, enters as an estimated child of ``foreach_batch``
    (task time / task slots), because it runs inside the sink's write."""
    fbs = {s["batch_id"]: s for s in spans if s["name"] == "foreach_batch"}
    manifest: dict[int, float] = {}
    for s in spans:
        if s["name"] == "manifest_write":
            manifest[s["parent"]] = manifest.get(s["parent"], 0) + s["end"] - s["start"]
    for p in progress:
        start = _epoch(p["timestamp"])
        dur = p["durationMs"]
        bid = tracer.add("batch", "streaming.jobs", start,
                         start + dur.get("triggerExecution", 0) / 1000, root,
                         batch_id=p["batchId"], rows=p["numInputRows"])
        t = start
        for phase, layer in PHASES:
            ms = dur.get(phase)
            if ms is None:
                continue
            pid = tracer.add(phase, layer, t, t + ms / 1000, bid)
            t += ms / 1000
            fb = fbs.get(p["batchId"]) if phase == "addBatch" else None
            if fb is None:
                continue
            fb["parent"] = pid
            state_ms = sum(
                op.get("allUpdatesTimeMs", 0) + op.get("allRemovalsTimeMs", 0)
                + op.get("commitTimeMs", 0)
                for op in p.get("stateOperators", [])
            )
            room = max(0.0, fb["end"] - fb["start"] - manifest.get(fb["id"], 0))
            est = min(room, state_ms / 1000 / max(1, slots))
            tracer.add("state_estimate", wl.state_layer, fb["start"],
                       fb["start"] + est, fb["id"], estimated=True)


def drain_layers(d: Drain, wl: Workload) -> dict[str, float]:
    """Per-layer figures of one drain, from its progress records (and, for
    a traced drain, its sink spans). Times are summed over the drain."""
    prog = d.progress

    def phase(k: str) -> float:
        return float(sum(p["durationMs"].get(k, 0) for p in prog))

    ops = [(p["batchId"], op) for p in prog for op in p.get("stateOperators", [])]

    def per_batch_max(k: str) -> float:
        by: dict[int, float] = {}
        for b, op in ops:
            by[b] = by.get(b, 0) + op.get(k, 0)
        return float(max(by.values(), default=0))

    quality = [p.get("observedMetrics", {}).get("quality", {}) for p in prog]
    seen = sum(q.get("turns_in") or 0 for q in quality)
    kept = sum(q.get("turns_kept") or 0 for q in quality)
    rows = sum(m["rows"] for m in d.sink.manifests().values())
    out = {
        "source.latest_offset_ms": phase("latestOffset"),
        "source.get_batch_ms": phase("getBatch"),
        "jobs.planning_ms": phase("queryPlanning"),
        "jobs.wal_commit_ms": phase("walCommit"),
        "jobs.offset_commit_ms": phase("commitOffsets"),
        "jobs.add_batch_ms": phase("addBatch"),
        "jobs.batches": float(len(prog)),
        "state.update_ms": float(sum(op.get("allUpdatesTimeMs", 0)
                                     + op.get("allRemovalsTimeMs", 0)
                                     for _, op in ops)),
        "state.commit_ms": float(sum(op.get("commitTimeMs", 0) for _, op in ops)),
        "state.rows_total": per_batch_max("numRowsTotal"),
        "state.memory_bytes": per_batch_max("memoryUsedBytes"),
        "state.late_rows": float(sum(op.get("numRowsDroppedByWatermark", 0)
                                     for _, op in ops)),
        "dedup.dropped_rows": float(sum(
            op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for _, op in ops)),
        "quality.kept_ratio": kept / seen if seen else 0.0,
        "sink.rows": float(rows),
        "cep.events_out": float(rows) if wl.pipeline == "cep" else 0.0,
    }
    if d.traced:
        fb = [s for s in d.spans if s["name"] == "foreach_batch"]
        man = [s for s in d.spans if s["name"] == "manifest_write"]
        man_s = sum(s["end"] - s["start"] for s in man)
        out["sink.manifest_ms"] = man_s * 1000
        out["sink.write_ms"] = (sum(s["end"] - s["start"] for s in fb) - man_s) * 1000
    return out


def batch_ms(d: Drain) -> list[float]:
    """Trigger times of the micro-batches that had input."""
    return [float(p["durationMs"]["triggerExecution"])
            for p in d.progress if p["numInputRows"] > 0]


def median_of(rows: list[dict[str, float]], key: str) -> float:
    vals = [r[key] for r in rows if key in r]
    return float(statistics.median(vals)) if vals else 0.0


# -- output checks -----------------------------------------------------------


def _digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-free sum of a 64-bit hash over ``cols``)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def reference(spark: SparkSession, wl: Workload, inp: InputStats) -> dict:
    """Batch reference for a drain over ``inp``.

    turns: ``enrich_turns`` over the distinct keys, filtered on
    ``quality.pass``. cep: the key sets of ``operators.cep.role_violations``
    and ``tool_pairing``."""
    df = spark.read.parquet(inp.path)
    if wl.pipeline == "turns":
        from dataflow_mm_spark.streaming.jobs import enrich_turns

        ref = enrich_turns(df.dropDuplicates(["conv_id", "turn_idx"])).filter(
            F.col("quality.pass"))
        return {"rows": _digest(ref, ["conv_id", "turn_idx", "ts", "text"])}
    from dataflow_mm_spark.operators import cep as batch_cep

    df = df.filter(F.col("conv_id") != SENTINEL_CONV)
    pairs = batch_cep.tool_pairing(df).select(
        F.when(F.col("paired"), "tool_paired").otherwise("tool_unpaired")
        .alias("kind"), "conv_id", "turn_idx")
    viol = batch_cep.role_violations(df).select(
        F.lit("role_violation").alias("kind"), "conv_id", "turn_idx")
    return _kind_digests(viol.unionByName(pairs))


def _kind_digests(events: DataFrame) -> dict:
    """Per CEP kind: (count, hash sum) of its (conv_id, turn_idx) keys."""
    got = {
        r["kind"]: (int(r["n"]), int(r["h"]))
        for r in events.filter(F.col("kind").isin(*CEP_KINDS))
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.xxhash64("conv_id", "turn_idx").cast("decimal(38,0)"))
             .alias("h"))
        .collect()
    }
    return {k: got.get(k, (0, 0)) for k in CEP_KINDS}


def check(spark: SparkSession, wl: Workload, d: Drain, ref: dict) -> list[str]:
    """Problems with a drain's committed output; empty when it matches."""
    got = d.sink.read_committed(spark)
    layers = drain_layers(d, wl)
    bad = []
    if layers["state.late_rows"]:
        bad.append(f"{layers['state.late_rows']:.0f} rows dropped as late")
    if wl.pipeline == "turns":
        g = _digest(got, ["conv_id", "turn_idx", "ts", "text"])
        if g != ref["rows"]:
            bad.append(f"committed rows {g} != reference {ref['rows']}")
        if layers["dedup.dropped_rows"] != d.input.redelivered:
            bad.append(f"dedup dropped {layers['dedup.dropped_rows']:.0f} rows, "
                       f"{d.input.redelivered} were re-delivered")
        return bad
    g = _kind_digests(got.filter(F.col("conv_id") != SENTINEL_CONV))
    bad += [f"{k} {g[k]} != reference {ref[k]}" for k in CEP_KINDS if g[k] != ref[k]]
    return bad
