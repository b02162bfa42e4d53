"""Streaming correctness: stream/batch parity, exactly-once, resume, late
data — the replay-determinism suite from SURVEY.md §5.2."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from dataflow_mm_spark.datagen import transcripts
from dataflow_mm_spark.functions.quality import quality_struct
from dataflow_mm_spark.operators import cep as batch_cep
from dataflow_mm_spark.streaming import jobs

SENTINEL_TS = dt.datetime(2026, 1, 1)


def _write_input(spark, path: str, n_convs: int = 40, sentinel: bool = True):
    df = transcripts(spark, n_convs=n_convs, seed=42)
    df.repartition(4).write.mode("overwrite").parquet(path)
    if sentinel:
        s = spark.createDataFrame(
            [("conv-sentinel", 0, "user", "sentinel push watermark", None, SENTINEL_TS)],
            schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        s.coalesce(1).write.mode("append").parquet(path)
    return df


def test_windowed_stream_matches_batch(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df = _write_input(spark, inp)
    q, sink = jobs.windowed_pipeline(spark, inp, out, ckpt)
    q.awaitTermination(300)

    got = (
        sink.read_committed(spark)
        .filter(F.col("conv_id") != "conv-sentinel")
        .select("conv_id", "win_start", "n_turns", "n_assistant")
    )
    batch = (
        df.filter(quality_struct(F.col("text"))["pass"])
        .groupBy("conv_id", F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
                "n_assistant"
            ),
        )
        .select("conv_id", F.col("w.start").alias("win_start"), "n_turns", "n_assistant")
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_exact_dedup_stream_removes_duplicates(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df = transcripts(spark, n_convs=20, seed=42)
    dup = df.limit(50)
    df.unionAll(dup).unionAll(dup).repartition(3).write.parquet(inp)
    q, sink = jobs.turns_pipeline(spark, inp, out, ckpt, dedup=True)
    q.awaitTermination(300)
    res = sink.read_committed(spark)
    n = res.count()
    nd = res.select("conv_id", "turn_idx").distinct().count()
    assert n == nd > 0


def test_cep_stream_matches_batch(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df = _write_input(spark, inp, n_convs=60)
    q, sink = jobs.cep_pipeline(spark, inp, out, ckpt, buckets=32)
    q.awaitTermination(600)
    got = sink.read_committed(spark).filter(F.col("conv_id") != "conv-sentinel")

    viol_s = {
        (r.conv_id, r.turn_idx)
        for r in got.filter(F.col("kind") == "role_violation").collect()
    }
    viol_b = {
        (r.conv_id, r.turn_idx) for r in batch_cep.role_violations(df).collect()
    }
    assert viol_s == viol_b and len(viol_s) > 0

    pair_b = batch_cep.tool_pairing(df).collect()
    paired_b = {(r.conv_id, r.turn_idx) for r in pair_b if r.paired}
    unpaired_b = {(r.conv_id, r.turn_idx) for r in pair_b if not r.paired}
    paired_s = {
        (r.conv_id, r.turn_idx)
        for r in got.filter(F.col("kind") == "tool_paired").collect()
    }
    unpaired_s = {
        (r.conv_id, r.turn_idx)
        for r in got.filter(F.col("kind") == "tool_unpaired").collect()
    }
    assert paired_s == paired_b and len(paired_s) > 0
    assert unpaired_s == unpaired_b

    # summaries: one per activity epoch (a conversation that closes and later
    # resumes may emit several), each covering at least one consumed turn
    summaries = got.filter(F.col("kind") == "conv_summary").collect()
    assert len(summaries) > 0
    for s in summaries:
        d = json.loads(s.detail)
        assert d["n_turns"] >= 1 and d["n_pending"] == 0


def test_merge_spans_stream_matches_batch(spark, tmp_path):
    """W6 merge mode: the streaming size-capped session merge must emit the
    SAME merged sequences as the batch operator over the same spans — the
    same parity contract CEP holds against its batch twin."""
    import random

    from dataflow_mm_spark.operators import expansion as E

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    base = dt.datetime(2025, 5, 1)
    rng = random.Random(7)
    rows = []
    for c in range(30):
        t0 = base + dt.timedelta(minutes=c)
        cur = 0.0
        for i in range(rng.randrange(1, 12)):
            s = round(cur + rng.random() * 10, 3)
            e = round(s + rng.random() * 25, 3)
            cur = e
            rows.append((f"conv-{c}", s, e, t0 + dt.timedelta(seconds=i)))
    schema = "conv_id string, span_start double, span_end double, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    # shuffled file layout = out-of-order arrival within each conversation
    df.repartition(4).write.mode("overwrite").parquet(inp)
    spark.createDataFrame(
        [("conv-sentinel", 0.0, 1.0, SENTINEL_TS)], schema
    ).coalesce(1).write.mode("append").parquet(inp)

    q, sink = jobs.merge_spans_pipeline(spark, inp, out, ckpt, max_duration=30.0)
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.sequence_num, r.merged_start, r.merged_end, r.n_spans)
        for r in sink.read_committed(spark)
        .filter(F.col("conv_id") != "conv-sentinel")
        .collect()
    }
    want = {
        (r.conv_id, r.sequence_num, r.merged_start, r.merged_end, r.n_spans)
        for r in E.merge_spans_capped(df, key_cols=("conv_id",), max_duration=30.0)
        .collect()
    }
    assert got == want and len(got) > 30  # multiple sequences per conv exist


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df1 = transcripts(spark, n_convs=20, seed=42)
    df1.coalesce(2).write.mode("overwrite").parquet(inp)

    q, sink = jobs.turns_pipeline(spark, inp, out, ckpt, dedup=False)
    q.awaitTermination(300)
    n1 = sink.read_committed(spark).count()
    assert n1 > 0

    # resume with additional input: only new rows are appended
    df2 = transcripts(spark, n_convs=35, seed=42).filter(
        F.col("conv_id") > "conv-00000019"
    )
    df2.coalesce(2).write.mode("append").parquet(inp)
    q2, sink2 = jobs.turns_pipeline(spark, inp, out, ckpt, dedup=False)
    q2.awaitTermination(300)

    res = sink2.read_committed(spark)
    keys = res.select("conv_id", "turn_idx")
    assert keys.count() == keys.distinct().count()
    expected = (
        df1.unionAll(df2).filter(quality_struct(F.col("text"))["pass"]).count()
    )
    assert keys.count() == expected

    # idempotent replay: rewriting the max batch with identical data changes nothing
    last_batch = max(sink2.committed_batches())
    before = keys.count()
    replay_pdf = (
        res.filter(F.col("_batch_id") == last_batch)
        .drop("_batch_id", "_part_id", "_committed_at")
        .toPandas()
    )
    sink2.foreach_batch(spark.createDataFrame(replay_pdf), last_batch)
    after = sink2.read_committed(spark).count()
    assert after == before


def test_late_data_dropped_by_watermark(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(inp)
    base = dt.datetime(2025, 6, 1, 12, 0, 0)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink
    from dataflow_mm_spark.streaming.source import read_transcript_stream

    def run_once():
        turns = read_transcript_stream(spark, inp)
        agg = (
            turns.groupBy("conv_id", F.window("ts", "5 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select("conv_id", F.col("w.start").alias("win_start"), "n")
        )
        sink = ExactlyOnceParquetSink(out)
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sink

    # run 1: 40 on-time rows → watermark advances to 12:29
    rows1 = [("c1", i, "user", "on time row number %d ok fine" % i, None,
              base + dt.timedelta(minutes=i)) for i in range(40)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(inp)
    run_once()

    # run 2 (checkpoint resume): a straggler 24 min behind the watermark → dropped
    late = [("c1", 99, "user", "very late straggler row here sadly", None,
             base + dt.timedelta(minutes=5))]
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(inp)
    run_once()

    # run 3: sentinel far in the future flushes all remaining windows
    s = [("sent", 0, "user", "sentinel far future", None, SENTINEL_TS)]
    spark.createDataFrame(s, schema).coalesce(1).write.mode("append").parquet(inp)
    sink = run_once()

    res = sink.read_committed(spark).filter(F.col("conv_id") == "c1")
    total = res.agg(F.sum("n").alias("s")).first().s
    assert total == 40  # late row not counted


def test_neardup_candidates_stream(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    base = dt.datetime(2025, 6, 1)
    txt = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        ("c1", 0, "user", txt, None, base),
        ("c2", 0, "user", txt + " today", None, base + dt.timedelta(minutes=1)),
        ("c3", 0, "user", "completely different text about spark plans and shuffles", None,
         base + dt.timedelta(minutes=2)),
        ("c4", 0, "user", txt, None, base + dt.timedelta(minutes=3)),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    from dataflow_mm_spark.streaming.dedup import neardup_candidates_stream
    from dataflow_mm_spark.streaming.sink import ExactlyOnceParquetSink
    from dataflow_mm_spark.streaming.source import read_transcript_stream

    turns = read_transcript_stream(spark, inp)
    cands = neardup_candidates_stream(turns)
    sink = ExactlyOnceParquetSink(out)
    q = (
        cands.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cands = sink.read_committed(spark)
    got = {(r.key_new, r.key_seen) for r in cands.collect()}
    flat = {frozenset(p) for p in got}
    assert frozenset({"c1#0", "c4#0"}) in flat
    assert not any("c3#0" in p for p in flat)
    # earliest row is never marked as the duplicate side
    assert not any(k == "c1#0" for k, _ in got)

    # end-to-end keep-first resolution
    from dataflow_mm_spark.streaming.dedup import resolve_keep_first

    turns = spark.read.parquet(inp)
    kept = resolve_keep_first(turns, cands)
    kept_ids = {r.conv_id for r in kept.collect()}
    assert "c1" in kept_ids and "c3" in kept_ids
    assert "c4" not in kept_ids  # exact dup of c1, arrived later


def test_neardup_in_stream_resolution_and_resume(spark, tmp_path):
    """r3 judge #4: keep-first resolution IN-STREAM — the pipeline lands one
    exactly-once (row_key, dup) decision per arriving row; decisions across
    a checkpoint restart equal the single-shot run AND the batch
    resolve_keep_first over the raw candidate log (state carries the kept
    signatures across the restart)."""
    import datetime as dt

    from dataflow_mm_spark.streaming import jobs
    from dataflow_mm_spark.streaming.dedup import resolve_keep_first

    base = dt.datetime(2025, 6, 1)
    txt = "the quick brown fox jumps over the lazy dog near the river bank"
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    first = [
        ("c1", 0, "user", txt, None, base),
        ("c2", 0, "user", "completely different text about spark plans", None,
         base + dt.timedelta(minutes=1)),
    ]
    second = [
        ("c3", 0, "user", txt, None, base + dt.timedelta(minutes=2)),  # dup of c1
        ("c4", 0, "user", txt + " exactly", None, base + dt.timedelta(minutes=3)),
    ]

    def run(inp, out, ckpt):
        q, sink = jobs.neardup_pipeline(spark, inp, out, ckpt)
        q.awaitTermination(300)
        return sink

    # resumed run: two availableNow passes over a growing input dir
    inp_r = str(tmp_path / "in_r")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(inp_r)
    run(inp_r, str(tmp_path / "out_r"), str(tmp_path / "ck_r"))
    spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(inp_r)
    sink_r = run(inp_r, str(tmp_path / "out_r"), str(tmp_path / "ck_r"))
    resumed = {r.row_key: r.dup for r in sink_r.read_committed(spark).collect()}

    # single-shot run over the full input
    inp_s = str(tmp_path / "in_s")
    spark.createDataFrame(first + second, schema).coalesce(1).write.parquet(inp_s)
    sink_s = run(inp_s, str(tmp_path / "out_s"), str(tmp_path / "ck_s"))
    single = {r.row_key: r.dup for r in sink_s.read_committed(spark).collect()}

    assert resumed == single
    assert resumed["c1#0"] is False and resumed["c2#0"] is False
    assert resumed["c3#0"] is True  # near-dup of c1, which arrived first
    # batch resolution over the raw candidate log agrees row-for-row
    out_c, ck_c = str(tmp_path / "out_c"), str(tmp_path / "ck_c")
    qc, sink_c = jobs.neardup_pipeline(spark, inp_s, out_c, ck_c, resolve=False)
    qc.awaitTermination(300)
    kept_batch = {
        f"{r.conv_id}#{r.turn_idx}"
        for r in resolve_keep_first(
            spark.read.parquet(inp_s), sink_c.read_committed(spark)
        ).collect()
    }
    assert kept_batch == {k for k, dup in single.items() if not dup}


def test_streaming_quality_windows_matches_oracled_batch_query(spark, tmp_path):
    """Closes the parity chain for the flagship slice: the DuckDB-oracled
    batch query (transcripts_quality_windows, value-hash-gated) must equal
    the STREAMING windowed_pipeline over the same synthetic turns. Single
    trigger (all files in one batch) so watermark semantics cannot drop rows
    relative to batch."""
    from dataflow_mm_spark.plans.portable import synthetic_turns
    from dataflow_mm_spark.plans.registry import transcripts_quality_windows

    sf = "/root/testdata/sf0.001"
    inp = str(tmp_path / "synth_in")
    synthetic_turns(spark, sf).repartition(8, "conv_id").write.parquet(inp)
    # sentinel far-future row: pushes the watermark past every real window so
    # append mode finalizes the tail windows (standard stream-drain pattern)
    spark.createDataFrame(
        [("conv-sentinel", 0, "user", "sentinel ok text", None, "2030-01-01 00:00:00")],
        "conv_id string, turn_idx long, role string, text string, tool string, ts string",
    ).selectExpr(
        # events.ts is TIMESTAMP_NTZ — the sentinel must match or the parquet
        # schemas won't merge
        "conv_id", "turn_idx", "role", "text", "tool",
        "cast(ts as timestamp_ntz) ts",
    ).coalesce(1).write.mode("append").parquet(inp)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q, sink = jobs.windowed_pipeline(spark, inp, out, ckpt)
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.win_start, r.win_end, r.n_turns)
        for r in sink.read_committed(spark)
        .filter(F.col("conv_id") != "conv-sentinel")
        .collect()
    }
    want = {
        (r.conv_id, r.win_start, r.win_end, r.n_turns)
        for r in transcripts_quality_windows(spark, sf).collect()
    }
    assert got == want and len(want) > 100


def test_cep_close_then_resume_continues_fsm(spark, tmp_path):
    """Regression (round-2 review): a conversation that RESUMES after its
    close must continue the FSM from its tombstone — cross-gap role
    alternation and post-close detections stay batch-exact, and each activity
    epoch gets its own summary. Before the fix the resumed turns wedged in
    pending forever (FSM restarted at turn 0)."""
    import time as _time

    T = dt.datetime(2025, 1, 1)

    def turn(conv, idx, role, text, tool, sec):
        return (conv, idx, role, text, tool, T + dt.timedelta(seconds=sec))

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    call = 'do it <tool_call>{"name": "search_web", "args": {"q": "x"}}</tool_call>'
    phase1 = [  # idx2: assistant after assistant = violation
        turn("A", 0, "user", "hi", None, 0),
        turn("A", 1, "assistant", "hello", None, 30),
        turn("A", 2, "assistant", "again", None, 60),
        turn("A", 3, "user", "ok", None, 90),
    ]
    pushers = [[turn("Z", 0, "user", "p", None, 5400)],
               [turn("Z", 1, "assistant", "p", None, 5410)]]
    phase2 = [  # resume 1.5h later (inside the 4-gap tombstone retention):
                # idx4 user after idx3 user = CROSS-CLOSE violation;
                # idx5 call paired by idx6
        turn("A", 4, "user", "back", None, 5700),
        turn("A", 5, "assistant", call, "search_web", 5730),
        turn("A", 6, "tool", "<tool_result>search_web ok</tool_result>", "search_web", 5760),
        turn("A", 7, "user", "thanks", None, 5790),
    ]
    # final far-future sentinel drains the second close at end-of-stream
    finisher = [turn("Z", 2, "user", "p", None, 86400)]
    inp = str(tmp_path / "in")
    for batch in [phase1, *pushers, phase2, finisher]:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode("append").parquet(inp)
        _time.sleep(1.2)  # distinct mtimes → deterministic file-batch order

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q, sink = jobs.cep_pipeline(
        spark, inp, out, ckpt, buckets=8, max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    got = sink.read_committed(spark).filter(F.col("conv_id") == "A")

    viol_s = {r.turn_idx for r in got.filter(F.col("kind") == "role_violation").collect()}
    all_a = spark.createDataFrame(phase1 + phase2, schema)
    viol_b = {r.turn_idx for r in batch_cep.role_violations(all_a).collect()}
    assert viol_s == viol_b == {2, 4}  # 4 = the cross-close violation

    paired = {r.turn_idx for r in got.filter(F.col("kind") == "tool_paired").collect()}
    assert paired == {5}

    summaries = [json.loads(r.detail)
                 for r in got.filter(F.col("kind") == "conv_summary").collect()]
    assert len(summaries) == 2  # one per activity epoch
    assert sorted(s["n_turns"] for s in summaries) == [4, 4]


def test_drain_resumable_restarts_from_checkpoint_once():
    """drain_resumable: a transient awaitTermination failure (py4j callback
    flake, executor loss) triggers exactly one rebuild against the same
    checkpoint; a persistent failure propagates after the retry budget."""
    calls = {"n": 0}

    class _Q:
        def __init__(self, fail=False, hang=False):
            self.fail = fail
            self.hang = hang
            self.stopped = False

        def awaitTermination(self, timeout=None):
            if self.fail:
                raise RuntimeError("transient callback failure")
            return not self.hang  # False = still running at timeout

        def stop(self):
            self.stopped = True

    def start_flaky():
        calls["n"] += 1
        return _Q(fail=calls["n"] == 1), f"sink-{calls['n']}"

    assert jobs.drain_resumable(start_flaky) == "sink-2"
    assert calls["n"] == 2

    calls["n"] = 0

    def start_broken():
        calls["n"] += 1
        return _Q(fail=True), "sink"

    with pytest.raises(RuntimeError, match="transient"):
        jobs.drain_resumable(start_broken)
    assert calls["n"] == 2

    # a wedged drain (awaitTermination timeout) is stopped and retried;
    # persistent wedge surfaces as TimeoutError after the retry budget
    calls["n"] = 0
    hung = []

    def start_hung():
        calls["n"] += 1
        q = _Q(hang=True)
        hung.append(q)
        return q, "sink"

    with pytest.raises(TimeoutError, match="drain exceeded"):
        jobs.drain_resumable(start_hung, timeout_s=0.01)
    assert calls["n"] == 2 and all(q.stopped for q in hung)


# --- the conversation FSM without Spark ------------------------------------
# _conv_step/_conv_close are the one copy of the CEP transition; the Spark
# parity tests above exercise them through the bucket state, this pins the
# out-of-order, close and resume rules directly.

def test_cep_fsm_step_and_close():
    import pandas as pd

    from dataflow_mm_spark.streaming.cep import _conv_close, _conv_step

    def fresh():
        return [0, None, None, None, None, {}, 0, 0, 0, 0, 0]

    def ts(s):
        return 1_700_000_000_000_000 + s * 1_000_000

    def events(out):
        return [(c, kind, idx) for c, kind, idx, _, _ in out]

    # out-of-order arrival (turn 2 before turn 1) is buffered, then the gap
    # fills within the batch and the open tool call pairs
    st, out = fresh(), []
    _conv_step("c1", st, [
        (0, "user", None, False, ts(0)),
        (2, "tool", "search", False, ts(20)),
        (1, "assistant", "search", True, ts(10)),
    ], out)
    assert events(out) == [("c1", "tool_paired", 1)]
    assert out[0][3] == "search" and out[0][4] == pd.Timestamp(ts(20), unit="us")
    assert st[0] == 3 and st[5] == {} and st[10] == ts(20)

    # a stale duplicate of a consumed turn is dropped; same role twice
    # among user/assistant turns is a violation
    out = []
    _conv_step("c1", st, [
        (1, "assistant", "search", True, ts(10)),
        (3, "user", None, False, ts(30)),
        (4, "user", None, False, ts(40)),
    ], out)
    assert events(out) == [("c1", "role_violation", 4)]
    assert st[6] == 5  # the duplicate was not counted

    # turns 5 and 7 arrive past a gap (3, 4 and 6 never arrive): they wait
    # in pending and nothing beyond turn 2 is consumed
    st2, out = fresh(), []
    _conv_step("c2", st2, [
        (0, "user", None, False, ts(0)),
        (1, "assistant", None, False, ts(5)),
        (2, "user", None, False, ts(10)),
        (5, "user", None, False, ts(50)),
        (7, "assistant", "calc", True, ts(70)),
    ], out)
    assert out == [] and st2[0] == 3 and sorted(st2[5]) == [5, 7]

    # close flushes the gapped buffer in turn order (5: user after user is a
    # violation; 7 opens a call), the call still open resolves unpaired at
    # its own turn and time, then the summary carries the counters
    out = []
    _conv_close("c2", st2, out)
    assert events(out) == [
        ("c2", "role_violation", 5),
        ("c2", "tool_unpaired", 7),
        ("c2", "conv_summary", 8),
    ]
    assert out[1][3] == "calc" and out[1][4] == pd.Timestamp(ts(70), unit="us")
    assert json.loads(out[2][3]) == {
        "n_turns": 5, "n_violations": 1, "n_paired": 0, "n_unpaired": 1,
        "n_pending": 0,
    }
    assert out[2][4] == pd.Timestamp(ts(70), unit="us")

    # the close collapsed c2 to a tombstone: counters reset, buffer empty,
    # next_idx and the last user/assistant role kept
    assert st2[5] == {} and st2[6:10] == [0, 0, 0, 0]
    assert st2[0] == 8 and st2[1] == "assistant" and st2[2] is None

    # c1's summary counts the pairing and the violation
    out = []
    _conv_close("c1", st, out)
    assert json.loads(out[-1][3]) == {
        "n_turns": 5, "n_violations": 1, "n_paired": 1, "n_unpaired": 0,
        "n_pending": 0,
    }

    # resume from the tombstone: the FSM continues at next_idx, so an
    # assistant turn after the pre-close assistant is a cross-close violation
    out = []
    _conv_step("c2", st2, [(8, "assistant", None, False, ts(5000))], out)
    assert events(out) == [("c2", "role_violation", 8)]
    assert st2[0] == 9 and st2[6] == 1 and st2[7] == 1


# --- sink snapshots: time travel + compaction (Iceberg-manifest miniature) --

def test_sink_time_travel_and_compaction(spark, tmp_path):
    import json as _json

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df = transcripts(spark, n_convs=24, seed=42)
    df.repartition(4).write.mode("overwrite").parquet(inp)

    # 4 input files x maxFilesPerTrigger=1 -> multiple committed micro-batches
    q, sink = jobs.turns_pipeline(
        spark, inp, out, ckpt, dedup=False, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    batches = sink.committed_batches(spark)
    assert len(batches) >= 3

    full = sink.read_committed(spark)
    n_full = full.count()
    keyset = {(r.conv_id, r.turn_idx) for r in full.select("conv_id", "turn_idx").collect()}

    # time travel: the snapshot after batch b = exactly the rows whose
    # lineage _batch_id <= b (batch dirs are immutable once manifested)
    mid = batches[1]
    snap = sink.read_committed(spark, as_of_batch=mid)
    assert snap.count() == full.filter(F.col("_batch_id") <= mid).count() > 0
    assert snap.filter(F.col("_batch_id") > mid).count() == 0

    # compaction preserves row values EXACTLY (incl. lineage columns) and
    # collapses the manifest list to one generation
    man = sink.compact(spark)
    assert man["rows"] == n_full and man["covers"] == batches
    after = sink.read_committed(spark)
    assert after.count() == n_full
    assert {
        (r.conv_id, r.turn_idx) for r in after.select("conv_id", "turn_idx").collect()
    } == keyset
    assert sink.committed_batches(spark) == [batches[0]]
    # old per-batch directories are gone; the generation dir carries the data
    assert not os.path.exists(f"{out}/batch_id={batches[-1]}")

    # time travel into the compacted range is an expired snapshot -> clear error
    with pytest.raises(ValueError, match="expired"):
        sink.read_committed(spark, as_of_batch=mid)

    # mid-crash window: anchor manifest swapped but a covered manifest still
    # present (steps 2->3 of compact) must read exactly once. Simulate by
    # re-writing a covered manifest alongside the generation manifest.
    stale = {"batch_id": batches[1], "rows": 1, "committed_at_ms": 0}
    with open(f"{out}/_manifest/{batches[1]}.json", "w") as f:
        f.write(_json.dumps(stale))
    assert sink.read_committed(spark).count() == n_full
    # and a re-run of compact() completes the cleanup idempotently
    sink.compact(spark)
    assert sink.read_committed(spark).count() == n_full
    assert sink.committed_batches(spark) == [batches[0]]


def test_compact_rerun_after_full_crash_window(spark, tmp_path, monkeypatch):
    """Re-running compact() after a crash BETWEEN the manifest swap and the
    covered-manifest/data deletes (steps 2→3): the first run's generation
    directory must NOT be read-and-overwritten — step 0 replays the
    interrupted cleanup and the re-run no-ops. Simulated by making every
    fs.delete a no-op during the first compact (covered manifests AND old
    data directories all survive, the exact full-crash window)."""
    from dataflow_mm_spark.streaming import sink as sink_mod

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    df = transcripts(spark, n_convs=24, seed=7)
    df.repartition(4).write.mode("overwrite").parquet(inp)
    q, sink = jobs.turns_pipeline(
        spark, inp, out, ckpt, dedup=False, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    batches = sink.committed_batches(spark)
    assert len(batches) >= 3
    n_full = sink.read_committed(spark).count()

    real_delete = sink_mod._HadoopFS.delete
    monkeypatch.setattr(sink_mod._HadoopFS, "delete", lambda *a, **k: None)
    man = sink.compact(spark)
    monkeypatch.setattr(sink_mod._HadoopFS, "delete", real_delete)
    assert man["covers"] == batches
    # crash window state: generation manifest + ALL covered manifests + old dirs
    assert sink.committed_batches(spark) == batches
    assert os.path.exists(f"{out}/batch_id={batches[-1]}")
    # reads stay exactly-once through the window (covers skip)
    assert sink.read_committed(spark).count() == n_full

    # the re-run completes the cleanup without touching the generation data
    man2 = sink.compact(spark)
    assert man2 == {"compacted": 0}
    assert sink.committed_batches(spark) == [batches[0]]
    assert not os.path.exists(f"{out}/batch_id={batches[-1]}")
    assert sink.read_committed(spark).count() == n_full


def test_cep_bucketed_tolerates_null_text(spark, tmp_path):
    """A NULL text (nullable column in real corpora) must not kill the
    bucketed CEP query: rlike(NULL) is NULL and an un-coalesced NULL packed
    meta arrives in pandas as float64 NaN, crashing the vectorized unpack.
    NULL text behaves as has_call=false."""
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    base = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "user", "hello", None, base),
        ("c1", 1, "assistant", None, None, base + dt.timedelta(seconds=5)),
        ("c1", 2, "assistant", "dup role follows", None,
         base + dt.timedelta(seconds=10)),
        ("c1", 3, "assistant", "<tool_call>x</tool_call>", "x",
         base + dt.timedelta(seconds=15)),
        ("c1", 4, "tool", "<tool_result>ok</tool_result>", "x",
         base + dt.timedelta(seconds=20)),
        ("conv-sentinel", 0, "user", "push watermark", None, SENTINEL_TS),
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)
    q, sink = jobs.cep_pipeline(spark, inp, out, ckpt, buckets=8)
    q.awaitTermination(300)
    got = sink.read_committed(spark).filter(F.col("conv_id") == "c1")
    kinds = {(r.kind, r.turn_idx) for r in got.collect()}
    # the role violation AFTER the null-text turn is still detected, and the
    # tool call pairs — the null-text row flowed through as has_call=false
    assert ("role_violation", 2) in kinds
    assert ("tool_paired", 4) in kinds or ("tool_paired", 3) in kinds


def test_neardup_state_upgrade_pre_r4_hex():
    """Pre-r4 checkpoints stored hex signature lists; the state decode must
    convert them with the 60-bit prefix law (int(hex[:15], 16)) so resumed
    state keeps matching (r4 ADVICE: silent never-match otherwise)."""
    from dataflow_mm_spark.streaming.dedup import _upgrade_entries

    hexsig = ["ab" * 16, "0f" * 16]
    old = [["c1#0", hexsig]]
    up = _upgrade_entries(old)
    assert up[0][0] == "c1#0"
    assert up[0][1] == [int(h[:15], 16) for h in hexsig]
    # already-migrated int state passes through untouched (same object)
    new = [["c1#0", [123, 456]]]
    assert _upgrade_entries(new) is new
    assert _upgrade_entries([]) == []
