"""Real AVI/MJPEG video path (operators/video.py).

Independence structure mirrors the image-codec suites: fixture frames are
block-constant so the baseline-JPEG transform is exact, and every expected
pixel/motion value is computed HERE with the closed-form integer chain
(``ycc_to_rgb_int(rgb_to_ycc_int(img))`` + Rec.601 milli-luma), never by
calling the kernels under test on the same input twice."""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_mm_spark.operators import jpegcodec as J
from dataflow_mm_spark.operators import multimodal as MM
from dataflow_mm_spark.operators import video as V
from dataflow_mm_spark.plans.fixture_codec import lzw_encode


def _block_constant_img(rng, h, w):
    bh, bw = -(-h // 8), -(-w // 8)
    cols = rng.integers(0, 256, size=(bh, bw, 3), dtype=np.uint8)
    return np.repeat(np.repeat(cols, 8, axis=0), 8, axis=1)[:h, :w]


def _chain(img):
    return J.ycc_to_rgb_int(J.rgb_to_ycc_int(img))


def _lum(img):
    rgb = img[..., :3].astype(np.int64)
    return 299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]


def _make_avi(rng, n_frames=3, h=12, w=10, q=2, rate=15000, scale=1000):
    frames = [_block_constant_img(rng, h, w) for _ in range(n_frames)]
    payload = V.encode_avi_mjpeg(
        [J.encode_jpeg(f, quant_luma=q, quant_chroma=q) for f in frames],
        width=w, height=h, rate=rate, scale=scale,
    )
    return frames, payload


def test_avi_roundtrip_header_and_pixels():
    rng = np.random.default_rng(51)
    frames, payload = _make_avi(rng, n_frames=4, h=16, w=24, rate=15000)
    info = V.parse_avi(payload)
    assert (info["width"], info["height"]) == (24, 16)
    assert info["n_frames"] == 4
    assert info["fps_millis"] == 15000
    decoded = V.decode_avi(payload)
    assert len(decoded) == 4
    for got, src in zip(decoded, frames):
        assert np.array_equal(got, _chain(src))


def test_avi_odd_frame_sizes_word_aligned():
    # JPEG payloads with odd byte lengths force the RIFF pad-byte path
    rng = np.random.default_rng(52)
    for trial in range(4):
        frames, payload = _make_avi(rng, n_frames=3, h=8, w=8 * (trial + 1))
        decoded = V.decode_avi(payload)
        for got, src in zip(decoded, frames):
            assert np.array_equal(got, _chain(src))


def test_motion_millisum_closed_form():
    rng = np.random.default_rng(53)
    frames, payload = _make_avi(rng, n_frames=3, h=8, w=16, q=1)
    lums = [_lum(_chain(f)) for f in frames]
    expected = sum(
        int(np.abs(lums[i] - lums[i - 1]).sum()) for i in range(1, len(lums))
    )
    assert V.motion_millisum(payload) == expected
    # single frame → zero motion
    _, one = _make_avi(rng, n_frames=1)
    assert V.motion_millisum(one) == 0


def test_decode_image_takes_first_frame():
    rng = np.random.default_rng(54)
    frames, payload = _make_avi(rng, n_frames=2, h=8, w=8)
    assert np.array_equal(MM.decode_image(payload), _chain(frames[0]))


def test_parse_avi_hostile_inputs():
    rng = np.random.default_rng(55)
    _, payload = _make_avi(rng)
    for bad in (
        b"",
        b"RIFF\x10\x00\x00\x00WAVE",          # not an AVI
        payload[:40],                            # truncated mid-header
        payload[:12],                            # bare RIFF/AVI magic
        b"RIFF" + b"\xff" * 20,
    ):
        with pytest.raises(ValueError):
            V.parse_avi(bad)
    with pytest.raises(ValueError):
        V.decode_avi(payload, [99])               # out-of-range frame index


# --- animated-GIF fixture (fixture-side LZW from plans/fixture_codec; the
# kernel's table-growth decoder + disposal compositor are under test) ----


def _gif_sub_blocks(seq, mcs):
    enc = lzw_encode(seq, mcs)
    out = bytearray([mcs])
    for i in range(0, len(enc), 255):
        part = enc[i : i + 255]
        out += bytes([len(part)]) + part
    out += b"\x00"
    return bytes(out)


def _anim_gif(sw, sh, gct, bg_idx, frames):
    """frames: list of dicts {left, top, idx (h,w uint8 into gct),
    delay_cs, disposal, transparent (or None)}."""
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    bits = max(1, (len(gct) - 1).bit_length())
    full = list(gct) + [(0, 0, 0)] * ((1 << bits) - len(gct))
    out += bytes([0x80 | (bits - 1), bg_idx, 0])
    for rgb in full:
        out += bytes(rgb)
    mcs = max(2, bits)
    for f in frames:
        flags = (f["disposal"] << 2) | (1 if f["transparent"] is not None else 0)
        out += bytes([0x21, 0xF9, 4, flags])
        out += int(f["delay_cs"]).to_bytes(2, "little")
        out += bytes([f["transparent"] or 0, 0])
        h, w = f["idx"].shape
        out += b"\x2c"
        out += f["left"].to_bytes(2, "little") + f["top"].to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0])  # no local palette, no interlace
        out += _gif_sub_blocks(f["idx"].reshape(-1).tolist(), mcs)
    out += b"\x3b"
    return bytes(out)


def test_gif_frames_compositing_model():
    # palette: 0 red (bg), 1 green, 2 blue, 3 white
    gct = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    f0 = np.full((4, 6), 1, dtype=np.uint8)          # full green screen
    f1 = np.full((2, 2), 2, dtype=np.uint8)          # blue patch at (1,2)
    f1[0, 0] = 3                                      # transparent pixel
    f2 = np.full((1, 3), 3, dtype=np.uint8)          # white strip at (0,0)
    gif = _anim_gif(
        6, 4, gct, 0,
        [
            {"left": 0, "top": 0, "idx": f0, "delay_cs": 5,
             "disposal": 1, "transparent": None},
            {"left": 2, "top": 1, "idx": f1, "delay_cs": 7,
             "disposal": 2, "transparent": 3},
            {"left": 0, "top": 0, "idx": f2, "delay_cs": 3,
             "disposal": 0, "transparent": None},
        ],
    )
    frames = V.gif_frames(gif)
    assert [d for d, _ in frames] == [50, 70, 30]
    pal = np.array(gct, dtype=np.uint8)
    # frame 0: full green
    want0 = np.broadcast_to(pal[1], (4, 6, 3)).copy()
    assert np.array_equal(frames[0][1], want0)
    # frame 1: green canvas + blue patch at rows 1-2 cols 2-3, minus the
    # transparent pixel at (1,2) which keeps the green underneath
    want1 = want0.copy()
    want1[1:3, 2:4] = pal[2]
    want1[1, 2] = pal[1]
    assert np.array_equal(frames[1][1], want1)
    # frame 2: disposal 2 restored the patch rect to BACKGROUND red first,
    # then the white strip drew over row 0 cols 0-2
    want2 = want0.copy()
    want2[1:3, 2:4] = pal[0]
    want2[0, 0:3] = pal[3]
    assert np.array_equal(frames[2][1], want2)


def test_gif_frames_disposal_previous():
    gct = [(10, 10, 10), (200, 0, 0), (0, 200, 0)]
    base = np.full((3, 3), 1, dtype=np.uint8)
    patch = np.full((3, 3), 2, dtype=np.uint8)
    tail = np.zeros((1, 1), dtype=np.uint8)
    gif = _anim_gif(
        3, 3, gct, 0,
        [
            {"left": 0, "top": 0, "idx": base, "delay_cs": 1,
             "disposal": 1, "transparent": None},
            {"left": 0, "top": 0, "idx": patch, "delay_cs": 1,
             "disposal": 3, "transparent": None},   # restore-to-previous
            {"left": 1, "top": 1, "idx": tail, "delay_cs": 1,
             "disposal": 0, "transparent": None},
        ],
    )
    frames = V.gif_frames(gif)
    pal = np.array(gct, dtype=np.uint8)
    # frame 2 must draw on the RESTORED frame-0 canvas, not on frame 1
    want = np.broadcast_to(pal[1], (3, 3, 3)).copy()
    want[1, 1] = pal[0]
    assert np.array_equal(frames[2][1], want)


def test_video_frame_stats_animated_gif(spark):
    gct = [(0, 0, 0), (255, 255, 255)]
    a = np.zeros((4, 4), dtype=np.uint8)
    bfr = np.full((4, 4), 1, dtype=np.uint8)
    gif = _anim_gif(
        4, 4, gct, 0,
        [
            {"left": 0, "top": 0, "idx": a, "delay_cs": 10,
             "disposal": 1, "transparent": None},
            {"left": 0, "top": 0, "idx": bfr, "delay_cs": 10,
             "disposal": 1, "transparent": None},
        ],
    )
    df = spark.createDataFrame([(5, bytearray(gif))], "doc_id long, payload binary")
    row = V.video_frame_stats(df).first()
    # black -> white: per-pixel delta lum = 1000*255; 16 px
    assert (row.n_frames, row.fps_millis) == (2, 10000)
    assert row.motion_millisum == 16 * 255 * 1000
    assert row.error is None
    srows = V.sample_frames(df).collect()
    assert sorted(r.frame_idx for r in srows) == [0, 1]


def _box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _mp4_fixture(w, h, timescale, duration, stts_entries):
    # faststart MP4: ftyp, then moov with an AUDIO trak (0x0 tkhd — must
    # be skipped) followed by the video trak carrying mdhd + stts
    def tkhd(tw, th):
        return _box(
            b"tkhd",
            b"\x00" * 24 + b"\x00" * 16 + b"\x00" * 36
            + (tw << 16).to_bytes(4, "big") + (th << 16).to_bytes(4, "big"),
        )

    mdhd = _box(
        b"mdhd",
        b"\x00" * 12 + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big")
        + b"\x00" * 4,
    )
    stts = _box(
        b"stts",
        b"\x00" * 4 + len(stts_entries).to_bytes(4, "big")
        + b"".join(
            n.to_bytes(4, "big") + d.to_bytes(4, "big") for n, d in stts_entries
        ),
    )
    mdia = _box(b"mdia", mdhd + _box(b"minf", _box(b"stbl", stts)))
    return (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + _box(
            b"moov",
            _box(b"trak", tkhd(0, 0)) + _box(b"trak", tkhd(w, h) + mdia),
        )
        + _box(b"mdat", b"\x00" * 32)
    )


def test_mp4_video_info_metadata_walk():
    # 90 frames over 3s at timescale 30000 → fps 30.000
    mp4 = _mp4_fixture(1280, 720, 30000, 90000, [(60, 1000), (30, 1000)])
    info = V.mp4_video_info(mp4)
    assert (info["width"], info["height"]) == (1280, 720)
    assert info["n_frames"] == 90
    assert info["duration_millis"] == 3000
    assert info["fps_millis"] == 30000
    for bad in (b"", b"\x00\x00\x00\x08ftyp", _box(b"ftyp", b"isom")):
        with pytest.raises(ValueError):
            V.mp4_video_info(bad)


def test_video_frame_stats_mp4_metadata(spark):
    mp4 = _mp4_fixture(640, 480, 24000, 48000, [(48, 1000)])
    df = spark.createDataFrame([(3, bytearray(mp4))], "doc_id long, payload binary")
    row = V.video_frame_stats(df).first()
    assert (row.n_frames, row.fps_millis) == (48, 24000)
    assert row.motion_millisum is None
    assert "ffmpeg" in row.error


def test_video_frame_stats_mixed_column(spark):
    rng = np.random.default_rng(56)
    frames, avi = _make_avi(rng, n_frames=3, h=8, w=8, rate=12000)
    lums = [_lum(_chain(f)) for f in frames]
    exp_motion = sum(
        int(np.abs(lums[i] - lums[i - 1]).sum()) for i in range(1, 3)
    )
    png_img = _block_constant_img(rng, 8, 8)
    jpeg_payload = J.encode_jpeg(png_img)
    df = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(jpeg_payload)), (2, bytearray(b"junk"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in V.video_frame_stats(df).collect()}
    assert (rows[0].n_frames, rows[0].fps_millis) == (3, 12000)
    assert rows[0].motion_millisum == exp_motion and rows[0].error is None
    assert (rows[1].n_frames, rows[1].fps_millis, rows[1].motion_millisum) == (1, 0, 0)
    assert rows[2].n_frames is None and rows[2].error is not None


def test_sample_frames_every_n(spark):
    rng = np.random.default_rng(57)
    frames, avi = _make_avi(rng, n_frames=5, h=8, w=8)
    df = spark.createDataFrame([(7, bytearray(avi))], "doc_id long, payload binary")
    rows = sorted(V.sample_frames(df, every_n=2).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    for r in rows:
        assert (r.width, r.height) == (8, 8)
        assert r.lum_millisum == int(_lum(_chain(frames[r.frame_idx])).sum())


def test_sample_frames_time_based(spark):
    # 10 frames at 5 fps (2s of video); sample every 600ms →
    # k·600·5000//10⁶ = 0,3,6,9 (then 12 ≥ 10 stops)
    rng = np.random.default_rng(60)
    frames, avi = _make_avi(rng, n_frames=10, h=8, w=8, rate=5000, scale=1000)
    df = spark.createDataFrame([(9, bytearray(avi))], "doc_id long, payload binary")
    rows = sorted(
        V.sample_frames(df, every_millis=600).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in rows] == [0, 3, 6, 9]


def test_avi_audio_stream_roundtrip():
    rng = np.random.default_rng(62)
    frames = [_block_constant_img(rng, 8, 8) for _ in range(2)]
    pcm = np.zeros(4000, dtype=np.int16)
    pcm[1000:2500] = 20000
    payload = V.encode_avi_mjpeg(
        [J.encode_jpeg(f) for f in frames], width=8, height=8,
        audio_pcm=pcm.tobytes(), audio_rate=8000,
    )
    info = V.parse_avi(payload)
    assert info["n_frames"] == 2 and info["audio_rate"] == 8000
    assert np.array_equal(np.frombuffer(info["audio_pcm"], dtype="<i2"), pcm)
    # video side unaffected by the second stream
    for got, src in zip(V.decode_avi(payload), frames):
        assert np.array_equal(got, _chain(src))
    # video-only files report an empty track
    vonly = V.encode_avi_mjpeg([J.encode_jpeg(frames[0])], width=8, height=8)
    v = V.parse_avi(vonly)
    assert v["audio_rate"] == 0 and v["audio_pcm"] == b""


def test_extract_audio_to_vad_chain(spark):
    from dataflow_mm_spark.operators.audio import decode_wav, encode_wav, vad_spans

    rng = np.random.default_rng(63)
    pcm = np.zeros(512 * 22, dtype=np.int16)
    pcm[512 * 2 : 512 * 14] = 21000  # 12 windows = 0.384s > min_speech 0.25s
    avi = V.encode_avi_mjpeg(
        [J.encode_jpeg(_block_constant_img(rng, 8, 8))], width=8, height=8,
        audio_pcm=pcm.tobytes(), audio_rate=16000,
    )
    wav_direct = encode_wav(pcm, 16000)
    silent_avi = V.encode_avi_mjpeg(
        [J.encode_jpeg(_block_constant_img(rng, 8, 8))], width=8, height=8
    )
    df = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(wav_direct)),
         (2, bytearray(silent_avi)), (3, bytearray(b"junk"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in V.extract_audio(df).collect()}
    assert rows[0].sample_rate == 16000 and rows[0].error is None
    got, sr = decode_wav(rows[0].wav)
    assert sr == 16000 and np.array_equal(got, pcm)
    assert bytes(rows[1].wav) == wav_direct  # WAV passthrough
    assert rows[2].error is not None and rows[3].error is not None
    # the soundtrack runs the UNCHANGED audio chain: demuxed WAV produces
    # the same VAD spans as the directly-encoded WAV
    tracks = spark.createDataFrame(
        [(0, bytearray(rows[0].wav)), (1, bytearray(wav_direct))],
        "event_id long, payload binary",
    )
    spans = {
        r.event_id: [(s.start_sample, s.end_sample) for s in r.spans]
        for r in vad_spans(tracks).collect()
    }
    assert spans[0] == spans[1] and len(spans[0]) > 0


def test_sample_frames_time_based_gif(spark):
    # per-frame delays 100/100/1000ms (starts 0/100/200, total 1200);
    # ticks every 500ms -> 0, 500, 1000 -> frames 0, 2, 2 -> [0, 2]:
    # time-based sampling must SKIP the short middle frame
    gct = [(0, 0, 0), (80, 80, 80), (160, 160, 160)]
    gif = _anim_gif(
        4, 4, gct, 0,
        [
            {"left": 0, "top": 0, "idx": np.full((4, 4), i, dtype=np.uint8),
             "delay_cs": cs, "disposal": 1, "transparent": None}
            for i, cs in ((0, 10), (1, 10), (2, 100))
        ],
    )
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, payload binary")
    rows = sorted(
        V.sample_frames(df, every_millis=500).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in rows] == [0, 2]


def test_with_asset_meta_avi_dims_and_mime(spark):
    rng = np.random.default_rng(58)
    _, avi = _make_avi(rng, n_frames=2, h=32, w=48)
    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id long, payload binary")
    meta = MM.with_asset_meta(df, "payload").select("meta.*").first()
    assert meta.mime == "video/x-msvideo"
    assert (meta.width, meta.height) == (48, 32)


def test_video_frame_stats_on_structured_stream(spark, tmp_path):
    """The video kernels are stateless mapInPandas — they must run
    UNCHANGED on a streaming DataFrame (the north-rule shape: assets
    arriving on a stream). availableNow drain == batch result."""
    rng = np.random.default_rng(61)
    rows = []
    for k in range(4):
        _, avi = _make_avi(rng, n_frames=k % 3 + 2, h=8, w=8, rate=10000 + k * 1000)
        rows.append((k, bytearray(avi)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    df.repartition(2).write.parquet(inp)

    stream = spark.readStream.schema(df.schema).parquet(inp)
    q = (
        V.video_frame_stats(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    key = lambda r: (r.doc_id, r.n_frames, r.fps_millis, r.motion_millisum)  # noqa: E731
    got = sorted(map(key, spark.read.parquet(out).collect()))
    want = sorted(map(key, V.video_frame_stats(df).collect()))
    assert got == want and len(got) == 4


def test_video_info_all_container_kinds(spark):
    rng = np.random.default_rng(65)
    _, avi = _make_avi(rng, n_frames=3, h=8, w=16, rate=15000)
    mp4 = _mp4_fixture(640, 480, 24000, 48000, [(48, 1000)])
    gct = [(0, 0, 0), (255, 255, 255)]
    gif = _anim_gif(
        6, 4, gct, 0,
        [{"left": 0, "top": 0, "idx": np.zeros((4, 6), dtype=np.uint8),
          "delay_cs": 25, "disposal": 1, "transparent": None}] * 2,
    )
    still = J.encode_jpeg(_block_constant_img(rng, 8, 8))
    df = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(mp4)), (2, bytearray(gif)),
         (3, bytearray(still)), (4, bytearray(b"garbage"))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in V.video_info(df).collect()}
    a = rows[0]
    assert (a.success, a.num_frames, a.width, a.height) == (True, 3, 16, 8)
    assert (a.aspect_milli, a.resolution, a.fps_millis) == (2000, 128, 15000)
    assert a.duration_millis == 3 * 1_000_000 // 15000
    m = rows[1]
    assert (m.num_frames, m.fps_millis, m.duration_millis) == (48, 24000, 2000)
    g = rows[2]
    assert (g.num_frames, g.duration_millis, g.fps_millis) == (2, 500, 4000)
    s = rows[3]
    assert (s.success, s.num_frames, s.width, s.fps_millis) == (True, 1, 8, 0)
    assert rows[4].success is False and rows[4].num_frames is None


def test_asset_info_pipeline_stream(spark, tmp_path):
    """The assetinfo CLI job's pipeline: binary-asset stream -> sniff +
    video_info enrichment, availableNow drain == batch expectations."""
    from dataflow_mm_spark.streaming.jobs import asset_info_pipeline

    rng = np.random.default_rng(66)
    _, avi = _make_avi(rng, n_frames=3, h=8, w=16, rate=15000)
    still = J.encode_jpeg(_block_constant_img(rng, 8, 8))
    df = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(still)), (2, bytearray(b"junk"))],
        "doc_id long, payload binary",
    )
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    df.repartition(2).write.parquet(inp)
    q, _ = asset_info_pipeline(spark, inp, out, ck, sink_mode="native")
    q.awaitTermination(120)
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert rows[0].mime == "video/x-msvideo" and rows[0].num_frames == 3
    assert rows[0].fps_millis == 15000 and rows[0].success
    assert rows[1].mime == "image/jpeg" and rows[1].num_frames == 1
    assert rows[2].success is False and rows[2].num_frames is None
    assert len(rows[2].sha256) == 64  # sniff columns present even on failure


def test_parsers_valueerror_contract_under_mutation():
    """Per-row contract fuzz: random byte mutations / truncations of valid
    containers must either parse or raise ValueError — never any other
    exception (a stray IndexError inside a mapInPandas batch would fail
    the whole job instead of NULLing the row), and never a runaway
    allocation (hostile-dims guards)."""
    rng = np.random.default_rng(64)
    _, avi = _make_avi(rng, n_frames=2, h=8, w=8)
    gct = [(0, 0, 0), (255, 255, 255)]
    gif = _anim_gif(
        8, 8, gct, 0,
        [{"left": 0, "top": 0, "idx": np.zeros((8, 8), dtype=np.uint8),
          "delay_cs": 5, "disposal": 1, "transparent": None},
         {"left": 2, "top": 2, "idx": np.ones((4, 4), dtype=np.uint8),
          "delay_cs": 5, "disposal": 2, "transparent": 1}],
    )
    mp4 = _mp4_fixture(320, 240, 30000, 60000, [(60, 1000)])
    corpora = [bytes(avi), gif, mp4]
    parsers = (V.parse_avi, V.gif_frames, V.mp4_video_info)
    for seed in range(600):
        r = np.random.default_rng(10_000 + seed)
        base = corpora[seed % 3]
        b = bytearray(base)
        if seed % 5 == 0:
            b = b[: int(r.integers(0, len(b)))]
        else:
            for _ in range(int(r.integers(1, 9))):
                b[int(r.integers(0, len(b)))] = int(r.integers(0, 256))
        for fn in parsers:
            try:
                fn(bytes(b))
            except ValueError:
                pass  # the contract
    # targeted DoS bytes: LZW min-code-size mutated to 255 must raise,
    # not size a 2^255 code table
    bad_mcs = bytearray(gif)
    # first image's mcs byte: header 13 + GCT 2*3 + GCE 8 + descriptor 10
    mcs_off = 13 + 6 + 8 + 10
    assert gif[mcs_off] <= 11  # sanity: we found the mcs byte
    bad_mcs[mcs_off] = 255
    with pytest.raises(ValueError):
        V.gif_frames(bytes(bad_mcs))
    # pure garbage of assorted lengths
    for n in (0, 1, 7, 12, 13, 64, 4096):
        junk = bytes(np.random.default_rng(n).integers(0, 256, n, dtype=np.uint8))
        for fn in parsers:
            with pytest.raises(ValueError):
                fn(junk)


def test_luminance_and_cutout_pipeline_on_avi(spark):
    # the full image pipeline (decode → cutout → re-decode) runs unchanged
    # on a video payload via the first-frame convention
    rng = np.random.default_rng(59)
    frames, avi = _make_avi(rng, n_frames=2, h=8, w=8)
    exp = int(_lum(_chain(frames[0])).sum())
    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id long, payload binary")
    row = MM.luminance_stats(df).first()
    assert (row.lum_millisum, row.n_px) == (exp, 64)


def test_gif_meta_matches_gif_frames():
    """r6: video_info's metadata-only GIF walk must agree with the full
    compositing decoder on every structurally-valid payload."""
    gct = [(0, 0, 0), (255, 255, 255)]
    a = np.zeros((4, 4), dtype=np.uint8)
    bfr = np.full((3, 2), 1, dtype=np.uint8)
    gif = _anim_gif(
        4, 4, gct, 0,
        [
            {"left": 0, "top": 0, "idx": a, "delay_cs": 10,
             "disposal": 1, "transparent": None},
            {"left": 1, "top": 1, "idx": bfr, "delay_cs": 25,
             "disposal": 2, "transparent": 0},
        ],
    )
    meta = V.gif_meta(gif)
    frames = V.gif_frames(gif)
    assert meta["n_frames"] == len(frames)
    assert meta["duration_millis"] == sum(d for d, _ in frames)
    assert (meta["height"], meta["width"]) == frames[0][1].shape[:2]
    # structural failures still fail identically
    import pytest as _pytest

    with _pytest.raises(ValueError):
        V.gif_meta(gif[:20])
    with _pytest.raises(ValueError):
        V.gif_meta(b"NOTAGIF")


def test_parse_avi_rejects_zero_dims_and_video_info_survives(spark):
    """r6 (r5 ADVICE): zero avih dims must be a per-row ValueError
    (success=false), never a ZeroDivisionError task failure."""
    frames = [np.zeros((8, 8, 3), dtype=np.uint8)]
    import dataflow_mm_spark.operators.jpegcodec as J

    avi = bytearray(V.encode_avi_mjpeg([J.encode_jpeg(frames[0])], width=8, height=8))
    # avih dwWidth/dwHeight live 32/36 bytes into the avih body
    ix = bytes(avi).find(b"avih") + 8
    avi[ix + 32 : ix + 36] = (0).to_bytes(4, "little")
    avi[ix + 36 : ix + 40] = (0).to_bytes(4, "little")
    with pytest.raises(ValueError):
        V.parse_avi(bytes(avi))
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "doc_id long, payload binary"
    )
    row = V.video_info(df).first()
    assert row.success is False


def test_sample_frames_rejects_nonpositive_sampling(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(ValueError):
        V.sample_frames(df, every_millis=0)
    with pytest.raises(ValueError):
        V.sample_frames(df, every_n=0)
