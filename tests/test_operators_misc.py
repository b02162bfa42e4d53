"""Tests: expansion, topk, filters, generators, trees, multimodal, io."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_mm_spark.operators import expansion as E
from dataflow_mm_spark.operators import filters as FL
from dataflow_mm_spark.operators import generate as G
from dataflow_mm_spark.operators import multimodal as MM
from dataflow_mm_spark.operators import topk as TK
from dataflow_mm_spark.operators import trees as TR


@pytest.fixture(scope="module")
def spans(spark):
    rows = [
        ("c1", [(0.0, 5.0), (6.0, 12.0), (13.0, 28.0), (40.0, 45.0), (46.0, 80.0)]),
        ("c2", [(0.0, 100.0)]),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, timestamps array<struct<start:double,end:double>>"
    )


def test_explode_spans(spark, spans):
    out = E.explode_spans(spans).collect()
    assert len(out) == 6
    first = [r for r in out if r.conv_id == "c1" and r.span_idx == 0][0]
    assert (first.span_start, first.span_end) == (0.0, 5.0)


def test_merge_spans_capped(spark, spans):
    rows = E.merge_spans_capped(
        E.explode_spans(spans), max_duration=30.0
    ).orderBy("conv_id", "sequence_num").collect()
    c1 = [r for r in rows if r.conv_id == "c1"]
    # greedy: [0-5, 6-12, 13-28] (28-0 ≤ 30), then [40-45] (46-80 breaks 40s cap... 80-40=40>30)
    assert [(r.sequence_num, r.merged_start, r.merged_end, r.n_spans) for r in c1] == [
        (0, 0.0, 28.0, 3),
        (1, 40.0, 45.0, 1),
        (2, 46.0, 80.0, 1),
    ]
    c2 = [r for r in rows if r.conv_id == "c2"]
    assert [(r.sequence_num, r.n_spans) for r in c2] == [(0, 1)]


def test_merge_spans_capped_nonstring_key(spark):
    """Key columns keep their input types — a long key must not be declared
    string in the applyInPandas output schema (latent Arrow type error)."""
    df = spark.createDataFrame(
        [(7, 0.0, 5.0), (7, 6.0, 12.0), (7, 50.0, 60.0)],
        "user_id long, span_start double, span_end double",
    )
    rows = (
        E.merge_spans_capped(df, key_cols=("user_id",), max_duration=30.0)
        .orderBy("sequence_num")
        .collect()
    )
    assert [(r.user_id, r.sequence_num, r.n_spans) for r in rows] == [
        (7, 0, 2),
        (7, 1, 1),
    ]
    assert dict(rows[0].asDict())["user_id"] == 7


def test_merge_spans_capped_null_key_bucketed_matches_per_key(spark):
    """A NULL key is its own group in both modes: the bucketed walk must not
    drop the rows pandas' groupby would discard by default."""
    df = spark.createDataFrame(
        [
            ("c1", 0.0, 5.0), ("c1", 6.0, 12.0),
            (None, 0.0, 5.0), (None, 6.0, 10.0), (None, 50.0, 60.0),
            ("c2", 1.0, 2.0),
        ],
        "conv_id string, span_start double, span_end double",
    )

    def run(**kw):
        return sorted(
            (tuple(r) for r in E.merge_spans_capped(df, max_duration=30.0, **kw)
             .collect()),
            key=repr,
        )

    per_key = run()
    assert (None, 0, 0.0, 10.0, 2) in per_key and (None, 1, 50.0, 60.0, 1) in per_key
    assert run(group_buckets=4) == per_key
    assert run(group_buckets=1) == per_key


def test_sample_points(spark, spans):
    out = E.sample_points(
        E.explode_spans(spans).filter("conv_id='c1' and span_idx=1"),
        interval=2.0,
    ).collect()
    assert sorted(r.sample_t for r in out) == [6.0, 8.0, 10.0, 12.0]


def test_keep_top_ratio_and_topk(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, score double"
    )
    kept = TK.keep_top_ratio(df, "score", keep_ratio=0.2, exact=True)
    ids = sorted(r.id for r in kept.collect())
    # percent_rank = rank/(n-1); <= 0.2 keeps ranks 0..19 → scores 99..80
    assert ids == list(range(80, 100))
    top = TK.top_k(df, "score", 3, tiebreak="id")
    assert sorted(r.id for r in top.collect()) == [97, 98, 99]
    # content-hash sample: deterministic AND partitioning-independent
    s1 = {r.id for r in TK.seeded_sample_cap(df, 10, seed=7).collect()}
    s2 = {r.id for r in TK.seeded_sample_cap(df.repartition(13), 10, seed=7).collect()}
    s3 = {r.id for r in TK.seeded_sample_cap(df, 10, seed=8).collect()}
    assert s1 == s2 and len(s1) == 10
    assert s3 != s1  # different seed → different sample (overwhelmingly)


def test_keep_top_ratio_approx_and_nulls_last(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id long, score double"
    )
    kept = TK.keep_top_ratio(df, "score", keep_ratio=0.1)  # approx = default
    n = kept.count()
    assert 95 <= n <= 110  # percentile_approx threshold, single pass
    assert kept.agg(F.min("score")).first()[0] >= 890

    with_nulls = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "id long, v double"
    )
    ordered = [r.id for r in TK.order_nulls_last(with_nulls, "v").collect()]
    assert ordered == [3, 1, 2]


def test_score_and_nested_filters(spark):
    df = spark.createDataFrame([(1, 0.5), (2, 0.9), (3, 0.1)], "id long, score double")
    out = {r.id: r.select for r in FL.score_filter(df, "score", 0.3, 0.8).collect()}
    assert out == {1: True, 2: False, 3: False}

    clips = spark.createDataFrame(
        [(1, [(4.5, 0.1), (3.0, 0.5), (None, 0.2)])],
        "id long, clips array<struct<aes:double,ocr:double>>",
    )
    strict = FL.nested_clip_filter(
        clips, "clips", {"aes": (4.0, None), "ocr": (None, 0.3)}, strict=True
    ).first()
    assert [(c.aes, c.ocr) for c in strict.clips_kept] == [(4.5, 0.1)]
    lenient = FL.nested_clip_filter(
        clips, "clips", {"aes": (4.0, None), "ocr": (None, 0.3)}, strict=False
    ).first()
    assert [(c.aes, c.ocr) for c in lenient.clips_kept] == [(4.5, 0.1), (None, 0.2)]


def test_span_score_filter(spark):
    rows = [
        (1, [(0.0, 1.0, 0.9), (1.0, 2.0, 0.85)]),
        (2, [(0.0, 1.0, 0.9), (1.0, 2.0, 0.5)]),
        (3, []),
    ]
    df = spark.createDataFrame(
        rows, "id long, alignment array<struct<start:double,end:double,score:double>>"
    )
    kept_min = {r.id for r in FL.span_score_filter(df, mode="min", threshold=0.8).collect()}
    assert kept_min == {1}
    kept_mean = {r.id for r in FL.span_score_filter(df, mode="mean", threshold=0.69).collect()}
    assert kept_mean == {1, 2}


def test_functional_refiner(spark):
    df = spark.createDataFrame([("ab",), ("xyz",)], "t string")
    fn = FL.functional_refiner(lambda t: t.upper() + "!", T.StringType())
    out = [r.u for r in df.select(fn(F.col("t")).alias("u")).collect()]
    assert out == ["AB!", "XYZ!"]


def test_prompted_and_templated_generator(spark):
    df = spark.createDataFrame([("what is 2+2",), ("hello",)], "prompt string")
    out = G.prompted_generator(df).collect()
    assert all(r.answer.startswith("<answer> echo:") for r in out)
    assert "what is 2+2" in out[0].answer

    df2 = spark.createDataFrame([("cats", "dogs")], "a string, b string")
    out2 = G.templated_generator(df2, "compare {a} vs {b}", {"a": "a", "b": "b"})
    ans = out2.first().answer
    assert "compare cats vs dogs"[:20] in ans


def test_batch_list_generator(spark):
    df = spark.createDataFrame([(["p1", "p2", "p3"],)], "prompts array<string>")
    out = G.batch_list_generator(df).first()
    assert len(out.answers) == 3
    assert "p2" in out.answers[1]


def test_batch_list_generator_survives_repartition(spark):
    """Keyed self-join must attach each row's OWN answers even when the input
    went through a shuffle (the mono-id assignment is partition-dependent —
    the cache barrier pins one assignment for both join branches). Includes
    duplicate rows: a content-hash key would merge them."""
    rows = [([f"q{i}a", f"q{i}b"],) for i in range(40)] + [(["q0a", "q0b"],)]
    df = spark.createDataFrame(rows, "prompts array<string>").repartition(7)
    got = G.batch_list_generator(df).collect()
    assert len(got) == 41
    for r in got:
        assert len(r.answers) == 2
        # fake_serving echoes the prompt → answer i must contain prompt i
        assert r.prompts[0] in r.answers[0] and r.prompts[1] in r.answers[1]


def test_prompted_generator_concurrency_speedup_and_order(spark):
    """Concurrent serving fan-out: with a 100ms-latency fake endpoint,
    concurrency=8 must be ≥4x faster than serial on one partition, and
    answers must stay ordinal-correct (pool.map gathers in submit order)."""
    import time

    n = 128  # 64 batches of 2: serial ~6.4s of endpoint latency, conc ~0.8s
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(n)], "id long, prompt string"
    ).coalesce(1)

    def slow_factory():
        def serving(batch):
            time.sleep(0.1)
            return [f"ans:{p}" for p in batch]

        return serving

    def run(concurrency):
        t0 = time.time()
        rows = G.prompted_generator(
            df, slow_factory, batch_size=2, concurrency=concurrency
        ).collect()
        return time.time() - t0, rows

    run(8)  # warmup: python-worker spinup / Arrow init out of the timing
    t_serial, rows_s = run(1)
    t_conc, rows_c = run(8)
    for rows in (rows_s, rows_c):
        assert all(r.answer == f"ans:p{r.id}" for r in rows) and len(rows) == n
    if t_serial / t_conc < 4.0:  # loaded-box tolerance: one retry, softer bar
        t_serial, _ = run(1)
        t_conc, _ = run(8)
    assert t_serial / t_conc >= 2.5, (t_serial, t_conc)


def test_prompted_generator_retries_transient_failures(spark):
    """A batch that fails transiently is retried with backoff and still
    lands its answers; a permanently failing endpoint raises."""
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(8)], "id long, prompt string"
    ).coalesce(1)

    def flaky_factory():
        seen: dict[str, int] = {}

        def serving(batch):
            k = batch[0]
            seen[k] = seen.get(k, 0) + 1
            if seen[k] <= 2:  # first two attempts per batch fail
                raise ConnectionError("transient")
            return [f"ans:{p}" for p in batch]

        return serving

    rows = G.prompted_generator(
        df, flaky_factory, batch_size=4, concurrency=2,
        max_retries=3, backoff_base=0.01,
    ).collect()
    assert sorted(r.answer for r in rows) == sorted(f"ans:p{i}" for i in range(8))

    def dead_factory():
        def serving(batch):
            raise ConnectionError("down")

        return serving

    with pytest.raises(Exception):
        G.prompted_generator(
            df, dead_factory, batch_size=4, max_retries=1, backoff_base=0.01
        ).collect()


def test_rollout_and_judge(spark):
    df = spark.createDataFrame(
        [("q1", "<answer>4</answer>"), ("q2", "<answer>9</answer>")],
        "question string, gold string",
    )

    def judge():
        return lambda prompts: ["grade: B"] * len(prompts)

    out = G.rollout_and_judge(df, "question", "gold", judge_factory=judge)
    assert out.count() == 2  # all judged 'B' == failed == kept


def test_mcts_chain_extraction(spark):
    tree = {
        "text": "root",
        "children": [
            {
                "text": "step1",
                "rollouts": [{"correct": False, "text": "bad guess"}],
                "children": [
                    {"text": "step2", "is_terminal": True, "is_correct": True}
                ],
            },
            {"text": "dead", "is_terminal": True, "is_correct": False},
        ],
    }
    df = spark.createDataFrame([(1, json.dumps(tree))], "id long, tree string")
    rows = TR.mcts_chain_rows(df).collect()
    chains = [r.chain for r in rows]
    assert "root -> step1 -> step2" in chains
    assert any("[wrong:" in c for c in chains)
    assert not any("dead" in c for c in chains)


def test_multimodal_meta_and_fake_decode(spark):
    import struct

    # real header layouts: PNG IHDR (BE at 17/21), GIF screen (LE at 7/9),
    # BMP BITMAPINFOHEADER (LE at 19/23)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + b"\x00" * 48
    )
    # JPEG: APP0(JFIF) segment, then a baseline SOF0 with height=480 width=640
    jpg = (
        bytes([0xFF, 0xD8])
        + bytes([0xFF, 0xE0]) + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + bytes([0xFF, 0xC0]) + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x00" * 10
    )
    # progressive SOF2 behind two APPn/COM segments
    jpg_prog = (
        bytes([0xFF, 0xD8])
        + bytes([0xFF, 0xE1]) + struct.pack(">H", 8) + b"Exif\x00\x00"
        + bytes([0xFF, 0xFE]) + struct.pack(">H", 6) + b"cmnt"
        + bytes([0xFF, 0xC2]) + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 1080, 1920) + b"\x00" * 10
    )
    jpg_trunc = bytes([0xFF, 0xD8, 0xFF]) + b"\x00" * 32  # no SOF → NULL dims

    # faststart MP4: ftyp, then moov with an AUDIO trak (0x0 tkhd — must be
    # skipped) followed by the video trak (1280x720, 16.16 fixed point)
    def _box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def _tkhd(w, h):
        return _box(
            b"tkhd",
            b"\x00" + b"\x00" * 3 + b"\x00" * 20 + b"\x00" * 16 + b"\x00" * 36
            + struct.pack(">II", w << 16, h << 16),
        )

    mp4 = (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + _box(b"moov", _box(b"trak", _tkhd(0, 0)) + _box(b"trak", _tkhd(1280, 720)))
        + _box(b"mdat", b"\x00" * 64)
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 32
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 1024, 768) + b"\x00" * 16
    # top-down BMP stores height NEGATIVE (ADVICE r3: unsigned read overflowed
    # ANSI cast); hostile PNG carries dims >= 2^31 (must yield NULL, not crash)
    bmp_topdown = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 16
    png_hostile = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 2**31 + 7, 2**32 - 1) + b"\x00" * 48
    )
    df = spark.createDataFrame(
        [(1, png), (2, jpg), (3, gif), (4, bmp), (5, bmp_topdown),
         (6, png_hostile), (7, jpg_prog), (8, jpg_trunc), (9, mp4)],
        "doc_id long, payload binary",
    )
    metas = {r.doc_id: r.meta for r in MM.with_asset_meta(df).collect()}
    assert metas[1].mime == "image/png" and metas[2].mime == "image/jpeg"
    assert metas[3].mime == "image/gif" and metas[4].mime == "image/bmp"
    assert (metas[1].width, metas[1].height) == (640, 480)
    assert (metas[2].width, metas[2].height) == (640, 480)  # real SOF0 walk
    assert (metas[3].width, metas[3].height) == (320, 200)
    assert (metas[4].width, metas[4].height) == (1024, 768)
    assert (metas[5].width, metas[5].height) == (800, 600)  # |biHeight|
    assert metas[6].width is None and metas[6].height is None  # try_cast
    assert (metas[7].width, metas[7].height) == (1920, 1080)  # SOF2 behind APPn
    assert metas[8].width is None  # truncated JPEG: no SOF found
    assert metas[9].mime == "video/mp4"
    assert (metas[9].width, metas[9].height) == (1280, 720)  # tkhd box walk
    assert metas[9].n_bytes == len(mp4)
    assert metas[1].n_bytes == len(png)
    # jpeg_scan=False keeps the plan strictly JVM-side
    metas_nojpeg = {
        r.doc_id: r.meta
        for r in MM.with_asset_meta(df, jpeg_scan=False).collect()
    }
    assert metas_nojpeg[2].width is None
    assert (metas_nojpeg[5].width, metas_nojpeg[5].height) == (800, 600)

    feats = MM.decode_and_featurize(df, fake=True).collect()
    assert len(feats) == 9
    assert all(len(r.feature) == 8 and r.width == 224 for r in feats)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        MM.decode_and_featurize(df, fake=False).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 3.5, 30.0)], "vid long, duration_sec double, fps double")
    rows = MM.frame_sample_plan(df, interval_sec=1.0).collect()
    assert [r.frame_idx for r in rows] == [0, 30, 60, 90]


def test_step_storage_roundtrip(spark, tmp_path):
    from dataflow_mm_spark.sources.io import StepStorage, read_any, write_any

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    entry = str(tmp_path / "entry.parquet")
    write_any(src, entry)
    st = StepStorage(spark, entry, str(tmp_path / "cache"))
    df0 = st.read()
    st.write(df0.withColumn("v2", F.upper("v")))
    st.step()
    df1 = st.read()
    assert {r.v2 for r in df1.collect()} == {"A", "B"}
    # jsonl roundtrip
    jl = str(tmp_path / "x.jsonl")
    write_any(src, jl, fmt="jsonl")
    back = read_any(spark, jl, fmt="jsonl")
    assert back.count() == 2


def test_hf_ms_dataset_uri_roundtrip(spark, tmp_path, monkeypatch):
    """hf:/ms: URIs (reference storage.py:175-201) resolve through the
    mounted-export registry or $DATAFLOW_MM_SPARK_DATASET_ROOT."""
    import pytest as _pytest

    from dataflow_mm_spark.sources.io import read_any, register_dataset_export

    exp = str(tmp_path / "exp")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string").write.parquet(exp)
    register_dataset_export("hf:squad:plain_text:train", exp)
    got = read_any(spark, "hf:squad:plain_text:train")
    assert got.count() == 2 and set(got.columns) == {"id", "t"}

    root = tmp_path / "root" / "ms" / "wiki" / "en" / "test"
    root.parent.mkdir(parents=True)
    spark.createDataFrame([(3,)], "id long").write.parquet(str(root))
    monkeypatch.setenv("DATAFLOW_MM_SPARK_DATASET_ROOT", str(tmp_path / "root"))
    assert read_any(spark, "ms:wiki:en:test").count() == 1

    with _pytest.raises(ValueError, match="no registered export"):
        read_any(spark, "hf:unknown:c:s")


def test_jdbc_read_contract(spark, monkeypatch):
    """S4 fake-JDBC contract test (no JDBC driver ships in this sandbox):
    intercept the reader to assert jdbc_read wires format, dbtable and the
    partitioned-scan options exactly as a warehouse would receive them."""
    from pyspark.sql.readwriter import DataFrameReader

    from dataflow_mm_spark.sources.io import jdbc_read

    seen = {"format": None, "options": {}, "loaded": False}
    orig_format, orig_option = DataFrameReader.format, DataFrameReader.option

    def fake_format(self, f):
        seen["format"] = f
        return orig_format(self, f)

    def fake_option(self, k, v):
        seen["options"][k] = v
        return orig_option(self, k, v)

    def fake_load(self, *a, **kw):
        seen["loaded"] = True
        return spark.range(1)

    monkeypatch.setattr(DataFrameReader, "format", fake_format)
    monkeypatch.setattr(DataFrameReader, "option", fake_option)
    monkeypatch.setattr(DataFrameReader, "load", fake_load)

    df = jdbc_read(
        spark, "jdbc:clickhouse://wh:8123/db", "turns",
        partition_column="raw_data_id", num_partitions=16,
        lower_bound=0, upper_bound=5_000_000, fetchsize="20000",
    )
    assert df.count() == 1 and seen["loaded"]
    assert seen["format"] == "jdbc"
    assert seen["options"] == {
        "url": "jdbc:clickhouse://wh:8123/db",
        "dbtable": "turns",
        "partitionColumn": "raw_data_id",
        "numPartitions": "16",
        "lowerBound": "0",
        "upperBound": "5000000",
        "fetchsize": "20000",
    }


def test_jdbc_write_warehouse_row_shape(spark, tmp_path):
    """S5 warehouse-write analogue: the exact reference row schema
    (pipeline_id, task_id, raw_data_id, min_hashes, data) flows through the
    real writer path (parquet stand-in for the JDBC driver)."""
    import json as _json

    from dataflow_mm_spark.sources.io import jdbc_write

    df = spark.createDataFrame(
        [(7, "hello world", "user"), (9, "tool output", "tool")],
        "rid long, text string, role string",
    )
    out = str(tmp_path / "wh")
    jdbc_write(
        df, url="ignored", table="ignored", pipeline_id="p1", task_id="t42",
        raw_data_id_col="rid", _format="parquet", path=out,
    )
    back = spark.read.parquet(out).orderBy("raw_data_id").collect()
    assert [r.raw_data_id for r in back] == [7, 9]
    assert {r.pipeline_id for r in back} == {"p1"}
    assert {r.task_id for r in back} == {"t42"}
    # reference inserts INTEGER arrays (storage.py:289-291) — a numeric-array
    # warehouse column must accept these rows, so bigint, positive (60-bit)
    assert dict(spark.read.parquet(out).dtypes)["min_hashes"] == "array<bigint>"
    for r in back:
        assert len(r.min_hashes) == 16
        assert all(isinstance(h, int) and 0 <= h < 2**60 for h in r.min_hashes)
        payload = _json.loads(r.data)
        assert set(payload) == {"rid", "text", "role"}
    assert _json.loads(back[0].data)["text"] == "hello world"


def test_jdbc_derby_ranged_scan_and_append(spark, tmp_path):
    """S4+S5 through a REAL JDBC driver end-to-end: Spark ships embedded
    Apache Derby (pyspark/jars/derby-*.jar), so the warehouse write →
    partitioned parallel read path runs against an actual SQL database, not
    a parquet stand-in — executor-side INSERTs, dialect type mapping, and
    the partitionColumn WHERE-range scan are all exercised for real.
    (Previously shadowed by a same-named later test — this one additionally
    asserts the reference's APPEND write semantics and the 40-row ranged
    scan; its sibling asserts predicate pushdown.)
    ``array_format='json'`` because Derby (like H2) has no ARRAY column
    type; ClickHouse/MyScale deployments keep the native array<bigint> path
    (test above). Reference: MyScaleDBStorage paged read/write,
    dataflow/utils/storage.py:188-235,389-432."""
    import json as _json

    from dataflow_mm_spark.sources.io import jdbc_read, jdbc_write

    url = f"jdbc:derby:{tmp_path}/whdb;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"doc {i}", "user" if i % 2 else "tool") for i in range(40)],
        "rid long, text string, role string",
    )
    jdbc_write(
        df, url=url, table="wh_rows", pipeline_id="p1", task_id="t7",
        raw_data_id_col="rid", array_format="json", **drv,
    )

    back = jdbc_read(
        spark, url, "wh_rows",
        partition_column="raw_data_id", num_partitions=4,
        lower_bound=0, upper_bound=40, **drv,
    )
    # the ranged scan is genuinely partitioned (4 concurrent JDBC cursors)
    assert back.rdd.getNumPartitions() == 4
    rows = back.orderBy("raw_data_id").collect()
    assert [r.raw_data_id for r in rows] == list(range(40))
    assert {r.pipeline_id for r in rows} == {"p1"}
    for r in rows[:3]:
        sig = _json.loads(r.min_hashes)
        assert len(sig) == 16 and all(
            isinstance(h, int) and 0 <= h < 2**60 for h in sig
        )
        assert _json.loads(r.data)["text"] == f"doc {r.raw_data_id}"
    # appending again doubles the table (reference write semantics: append)
    jdbc_write(
        df.limit(5), url=url, table="wh_rows", pipeline_id="p2", task_id="t8",
        raw_data_id_col="rid", array_format="json", **drv,
    )
    n = jdbc_read(spark, url, "wh_rows", **drv).count()
    assert n == 45


def test_operator_name_shim():
    from dataflow_mm_spark.registry import OPERATOR_REGISTRY, get_operator

    assert get_operator("RuleBaseFilter").__name__ == "rule_base_filter"
    assert get_operator("rulebasefilter").__name__ == "rule_base_filter"
    assert all(callable(v) for v in OPERATOR_REGISTRY.values())
    with pytest.raises(KeyError, match="did you mean"):
        get_operator("RuleBasedFilter")


# every class the reference decorates with @OPERATOR_REGISTRY.register()
# (grep over /root/reference/dataflow/operators, 2026-08): the migration
# contract is that EACH resolves to an engine function or raises the
# documented NeedsModelKernel — never the typo KeyError.
REFERENCE_REGISTERED_NAMES = [
    "BatchVQAGenerator", "CLIPScoreFilter", "CTCForcedAlignmentFilter",
    "CTCForcedAlignmentSampleEvaluator", "CatFilter", "Conversation2Message",
    "DataTailorFilter", "EvalImageGenerationGenerator", "FailRateFilter",
    "FixPromptedVQAGenerator", "FunctionalRefiner",
    "GeneralTextAnswerEvaluator", "ImageAestheticFilter",
    "ImageBboxGenerator", "ImageCLIPEvaluator", "ImageCatFilter",
    "ImageClipFilter", "ImageComplexityFilter", "ImageConsistencyFilter",
    "ImageDeduplicateFilter", "ImageDiversityFilter", "ImageDuplicateFilter",
    "ImageLongCLIPEvaluator", "ImageSensitiveFilter",
    "ImageVQAScoreEvaluator", "KNNSimilarityFilter", "MCTSTreeRefiner",
    "MultimodalMathGenerator", "PersQAGenerator",
    "PromptTemplatedQAGenerator", "PromptTemplatedVQAGenerator",
    "PromptedAQAGenerator", "PromptedImageEditGenerator",
    "PromptedImageGenerator", "PromptedQAGenerator", "PromptedVQAGenerator",
    "RuleBaseFilter", "ScoreFilter", "SileroVADGenerator",
    "TextDuplicateFilter", "TextNormalizer", "TimestampChunkRowGenerator",
    "VLMBBoxGenerator", "VideoAestheticEvaluator", "VideoAestheticFilter",
    "VideoCOTQAGenerator", "VideoCaptionToQAGenerator", "VideoClipFilter",
    "VideoClipGenerator", "VideoFrameFilter", "VideoInfoFilter",
    "VideoLuminanceEvaluator", "VideoLuminanceFilter",
    "VideoMergedCaptionGenerator", "VideoMotionScoreFilter",
    "VideoOCREvaluator", "VideoOCRFilter", "VideoResolutionFilter",
    "VideoSceneFilter", "VideoScoreFilter", "VideoToCaptionGenerator",
    "VisionDependentFilter", "VisionSegCutoutRefiner",
    "VisualDependencyRefiner", "VisualGroundingRefiner",
    "VisualReasoningGenerator", "WikiQARefiner",
]


def test_shim_covers_every_reference_registered_name():
    from dataflow_mm_spark.registry import NeedsModelKernel, get_operator

    resolved, kernel_needed = [], []
    for name in REFERENCE_REGISTERED_NAMES:
        try:
            fn = get_operator(name)
            assert callable(fn), name
            resolved.append(name)
        except NeedsModelKernel as e:
            # the documented error carries the pattern to build on
            assert callable(e.pattern) and e.supply, name
            # and the pattern is directly reachable for users who have one
            assert get_operator(name, allow_patterns=True) is e.pattern
            kernel_needed.append(name)
    assert len(resolved) + len(kernel_needed) == len(REFERENCE_REGISTERED_NAMES)
    # the engine resolves the majority outright; only local-model/codec
    # kernels (CLIP/NLI/CTC/OCR/cv2) are user-supplied
    assert len(resolved) >= 44, (len(resolved), kernel_needed)


def test_cn_number_normalization(spark):
    """cn_tn number-reading subset: pinned readings + column form."""
    from dataflow_mm_spark.functions.cn_norm import (
        cn_normalize_numbers,
        cn_normalize_numbers_py,
        read_number,
    )

    pinned = {
        "0": "零", "10": "十", "105": "一百零五", "120034": "十二万零三十四",
        "1005000": "一百万五千", "10500000": "一千零五十万",
        "100000001": "一亿零一", "3.14": "三点一四",
        "-42": "负四十二", "12%": "百分之十二", "-2.5%": "负百分之二点五",
        # phones: digit-by-digit with 幺; 11-digit runs NOT starting 1[3-9]
        # stay cardinals
        "13812345678": "幺三八幺二三四五六七八",
        "021-87654321": "零二幺八七六五四三二幺",
        "10000000000": "一百亿",
    }
    for tok, want in pinned.items():
        assert read_number(tok) == want, tok
    # full-width digits fold to ASCII before reading
    from dataflow_mm_spark.functions.cn_norm import cn_normalize_numbers_py

    assert cn_normalize_numbers_py("共１２３元") == "共一百二十三元"
    assert cn_normalize_numbers_py("３．５％") == "百分之三点五"
    txt = "共120034条，错误率0.5%，温度-3度"
    want = "共十二万零三十四条，错误率百分之零点五，温度负三度"
    assert cn_normalize_numbers_py(txt) == want
    # r4 NSW classes (cn_tn.py:933-1016 semantics): money / quantifier
    # cardinals, bare digit-IDs, letter-2-letter restore
    nsw = {
        "价格3万元": "价格三万元",                  # magnitude money unit
        "花了100多块": "花了一百多块",               # approx + money
        "欠了5000元": "欠了五千元",                 # 4-digit money = cardinal
        "编号123456已注册": "编号一二三四五六已注册",  # bare ID digit-by-digit
        "B2B和O2O平台": "B2B和O2O平台",            # letter-2-letter restore
        "促销价9块9": "促销价九块九",               # money + trailing digit
        "大约20余只猫": "大约二十余只猫",            # approx quantifier
        "工号0456": "工号零四五六",                 # leading-zero ID
        "89年出生": "八九年出生",                   # [089]x 2-digit year
        "活了25年": "活了二十五年",                 # 1x-7x duration stays cardinal
    }
    for src, expect in nsw.items():
        assert cn_normalize_numbers_py(src) == expect, src
    df = spark.createDataFrame([(txt,), (None,)], "t string")
    got = [r.n for r in df.select(cn_normalize_numbers("t").alias("n")).collect()]
    assert got == [want, None]


def test_cn_tokenizer_boundary_hand_pins():
    """r4 ADVICE: kernel `_NUM_RE` and the reading-oracle tokenizer are the
    same regex verbatim, so a shared TOKENIZATION bug would pass the gate
    and the fuzz undetected. These end-to-end expectations are HAND-PINNED
    literals — written from the documented reading rules, with each token-
    BOUNDARY choice cross-checked against the reference's staged passes
    (cn_tn.py TextNorm: year width, ID-run split, money-approx attachment;
    rendering style 二-vs-两 and 负-reading are this module's documented
    clean-room choices) — and asserted against BOTH the kernel and the
    independent oracle, so a tokenizer regression now fails here even if
    both sides share it."""
    from dataflow_mm_spark.functions.cn_norm import cn_normalize_numbers_py
    from dataflow_mm_spark.oracles.reading_oracle import cn_text

    pins = {
        # sign does NOT fold into a year token (the year alternative has no
        # sign branch; the dash survives as plain text)
        "-2024年": "-二零二四年",
        # 5 digits before 年 is NOT a year -> cardinal + 年
        "12345年": "一万两千三百四十五年",
        # 3 digits before 年 is NOT a year -> cardinal + 年
        "105年": "一百零五年",
        # year token consumes exactly 4 digits; the following bare 4-digit
        # run has no quantifier context -> digit-by-digit ID
        "2024年2024": "二零二四年二零二四",
        # approx char + small money unit attach to the SAME token
        "9999几分": "九千九百九十九几分",
        # sign folds into a quantifier cardinal (negative count)
        "共-42条": "共负四十二条",
        # percent alternative keeps the sign lookahead on both occurrences
        "3.5%和-3.5%": "百分之三点五和负百分之三点五",
        # decimal before a money unit stays one token
        "0.5元": "零点五元",
        # dashed landline wins over signed-integer split at the dash
        "电话021-87654321哈": "电话零二幺八七六五四三二幺哈",
    }
    for src, expect in pins.items():
        assert cn_normalize_numbers_py(src) == expect, f"kernel: {src}"
        assert cn_text(src) == expect, f"oracle: {src}"


def test_rank_normalize_approx_path(spark):
    """Scale path: quantile-ECDF normalization (no global sort) must agree
    with the exact rank within the quantile resolution."""
    df = spark.createDataFrame(
        [(i, float((i * 7919) % 1000)) for i in range(1000)], "id long, v double"
    )
    exact = {
        r.id: r.n
        for r in TK.rank_normalize(df, "v", "n", tiebreak="id").collect()
    }
    approx = {
        r.id: r.n
        for r in TK.rank_normalize(
            df, "v", "n", tiebreak="id", approx_threshold=0, n_quantiles=200
        ).collect()
    }
    assert all(0.0 <= v <= 1.0 for v in approx.values())
    diffs = [abs(exact[i] - approx[i]) for i in exact]
    assert max(diffs) <= 0.02  # within ~2 quantile steps of exact


def test_cn_long_digit_runs_fall_back_to_digitwise():
    from dataflow_mm_spark.functions.cn_norm import cn_normalize_numbers_py

    # 17+ digit runs are IDs, not cardinals — digit-by-digit, no crash
    out = cn_normalize_numbers_py("id 12345678901234567 end")
    assert out == "id 一二三四五六七八九零一二三四五六七 end"


def test_seeded_sample_cap_with_map_column(spark):
    df = spark.createDataFrame(
        [(i, {"k": str(i)}) for i in range(30)],
        "id long, props map<string,string>",
    )
    s1 = {r.id for r in TK.seeded_sample_cap(df, 5, seed=3).collect()}
    s2 = {r.id for r in TK.seeded_sample_cap(df.repartition(4), 5, seed=3).collect()}
    assert s1 == s2 and len(s1) == 5


def test_state_store_provider_crossover_rule():
    """session.state_store_conf encodes the MEASURED r3 crossover
    (BENCH.md §5): HDFS provider while per-executor state fits the heap,
    RocksDB beyond — asserted at the measured boundary workloads."""
    from dataflow_mm_spark.session import (
        HDFS_PROVIDER,
        ROCKSDB_PROVIDER,
        state_store_conf,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    g = 1 << 30
    # 13.7M keys in one 8g executor: HDFS measured 303k vs RocksDB 196k t/s
    assert state_store_conf(13_700_000, 1, 8 * g)[key] == HDFS_PROVIDER
    # 30M keys in one executor: RocksDB measured 180k vs HDFS 40k (8g) and
    # still wins at 28g (109k) — keys/executor bound, not just heap fit
    assert state_store_conf(30_000_000, 1, 8 * g)[key] == ROCKSDB_PROVIDER
    assert state_store_conf(30_000_000, 1, 28 * g)[key] == ROCKSDB_PROVIDER
    # the same 30M keys sharded over 4 executors fit each heap again
    assert state_store_conf(30_000_000, 4, 8 * g)[key] == HDFS_PROVIDER
    # small heap flips even moderate state
    assert state_store_conf(10_000_000, 1, 2 * g)[key] == ROCKSDB_PROVIDER


def test_jdbc_real_roundtrip_derby(spark, tmp_path):
    """S4/S5 through a REAL JDBC driver (embedded Apache Derby, shipped in
    Spark's classpath): jdbc_write lands the reference warehouse row shape
    through Spark's actual JDBC type mapping (r3 fake-JDBC gap), and
    warehouse_scan reads it back as a partitioned parallel JDBC scan."""
    import json as _json

    from dataflow_mm_spark.sources.io import jdbc_read, jdbc_write

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"text {i}", "user" if i % 2 else "tool") for i in range(20)],
        "rid long, text string, role string",
    )
    # Derby's Spark dialect has no ARRAY mapping → json array_format
    jdbc_write(
        df, url=url, table="warehouse", pipeline_id="p1", task_id="t1",
        raw_data_id_col="rid", array_format="json", **driver,
    )
    back = jdbc_read(
        spark, url, "warehouse",
        partition_column="raw_data_id", num_partitions=4,
        lower_bound=0, upper_bound=20, **driver,
    )
    assert back.rdd.getNumPartitions() == 4  # real partitioned JDBC read
    rows = back.orderBy("raw_data_id").collect()
    assert [r.raw_data_id for r in rows] == list(range(20))
    assert {r.pipeline_id for r in rows} == {"p1"}
    for r in rows:
        sig = _json.loads(r.min_hashes)
        assert len(sig) == 16 and all(isinstance(h, int) for h in sig)
        payload = _json.loads(r.data)
        assert set(payload) == {"rid", "text", "role"}
    # predicate pushdown reaches the JDBC source (filter in the scan, not Spark)
    one = jdbc_read(spark, url, "warehouse", **driver).filter(
        F.col("raw_data_id") == 7
    )
    assert one.count() == 1
    assert _json.loads(one.first().data)["text"] == "text 7"


def test_timecode_kernels(spark):
    """§2.11 timecode trio: parse handles 1/2/3-part forms and malformed
    parts (NULL, not ANSI error); format/frame go through integer ms so
    boundary values are exact."""
    from dataflow_mm_spark.functions import timeutil as TU

    df = spark.createDataFrame(
        [("01:02:03.250",), ("02:03",), ("45",), ("0:0:0.999",),
         ("xx:10:00",), (None,)],
        "tc string",
    )
    out = df.select(
        "tc",
        TU.timecode_to_seconds(F.col("tc")).alias("sec"),
    ).withColumn("back", TU.seconds_to_timecode(F.col("sec"))) \
     .withColumn("f25", TU.frame_index(F.col("sec"), fps=25)).collect()
    got = {r.tc: (r.sec, r.back, r.f25) for r in out}
    assert got["01:02:03.250"] == (3723.25, "01:02:03.250", 93081)
    assert got["02:03"] == (123.0, "00:02:03.000", 3075)
    assert got["45"] == (45.0, "00:00:45.000", 1125)
    assert got["0:0:0.999"][1] == "00:00:00.999"
    assert got["0:0:0.999"][2] == 24  # 999*25/1000 = 24.975 → frame 24
    assert got["xx:10:00"][0] is None  # malformed hour part → NULL
    assert got[None] == (None, None, None)
