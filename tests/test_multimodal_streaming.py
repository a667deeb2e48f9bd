"""Multimodal plumbing (binary columns through mapInPandas) and
Structured Streaming (watermarked rollup, foreachBatch silver upsert)."""

from __future__ import annotations

import glob
import shutil

import pandas as pd

import pytest
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators import multimodal as mm
from spotify_tracks_etl_portfolio_spark.streaming import (
    read_events_stream,
    run_stream_to_completion,
    streaming_hourly_rollup,
    streaming_silver_events,
)

DOCS = [(0, "hello world"), (1, "abc"), (2, "a longer document with many bytes here")]


def test_real_decode_gate_message_is_documented():
    """Contract: the gate names the missing codecs and the integration
    point, so a user hitting it knows exactly what to plug in."""
    with pytest.raises(NotImplementedError, match="media codecs .* not available"):
        mm.decode_image(b"abc")


def test_read_events_stream_on_absent_source(spark, tmp_path):
    """Defining the stream before any producer has written a file must
    not raise (ADVICE r2): the ts-type probe falls back to native
    TIMESTAMP(MICROS) when the directory is empty/absent."""
    df = read_events_stream(spark, str(tmp_path / "not_yet_created" / "*"))
    assert df.isStreaming
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_codec_roundtrips():
    """Every built-in codec round-trips arbitrary payload bytes through a
    real file encoding (PNG chunks+zlib, BMP headers+padding, PPM)."""
    import math

    data = bytes(range(0, 200, 3)) + b"hello world"
    h = max(1, math.ceil(len(data) / 16))
    padded = data + b"\x00" * (16 * h - len(data))
    for enc, fmt, ch in [
        (mm.encode_png_gray, "png", 1),
        (mm.encode_bmp_gray, "bmp", 3),
        (mm.encode_ppm_gray, "ppm", 3),
    ]:
        img = mm.decode_image(enc(data, 16))
        assert (img["format"], img["width"], img["height"], img["channels"]) == (
            fmt, 16, h, ch,
        )
        expect = padded if ch == 1 else b"".join(bytes((b, b, b)) for b in padded)
        assert img["samples"] == expect


def test_png_defilter_all_filter_types():
    """Decoder reconstructs rows filtered with Sub/Up/Average/Paeth —
    formats our encoder never emits (it uses filter 0), so this pins the
    general de-filter logic, grayscale (bpp=1) and RGB (bpp=3)."""
    import struct
    import zlib

    def filt(ftype, row, prev, bpp):
        out = bytearray([ftype])
        for i, x in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                out.append(x)
            elif ftype == 1:
                out.append((x - a) & 0xFF)
            elif ftype == 2:
                out.append((x - b) & 0xFF)
            elif ftype == 3:
                out.append((x - ((a + b) >> 1)) & 0xFF)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((x - pr) & 0xFF)
        return bytes(out)

    def build(width, height, color_type, bpp, rows_px, ftypes):
        raw, prev = b"", bytes(width * bpp)
        for ftype, row in zip(ftypes, rows_px):
            raw += filt(ftype, row, prev, bpp)
            prev = row
        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        return (
            mm._PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(raw))
            + mm._png_chunk(b"IEND", b"")
        )

    gray_rows = [bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45]),
                 bytes([100, 110, 120, 130]), bytes([5, 6, 7, 8]),
                 bytes([250, 251, 252, 253])]
    img = mm.decode_png(build(4, 5, 0, 1, gray_rows, [0, 1, 2, 3, 4]))
    assert img["samples"] == b"".join(gray_rows)

    rgb = bytes(range(36))
    rgb_rows = [rgb[i * 12 : (i + 1) * 12] for i in range(3)]
    img = mm.decode_png(build(4, 3, 2, 3, rgb_rows, [4, 4, 4]))
    assert img["channels"] == 3 and img["samples"] == rgb


def test_png_crc_checked():
    import pytest as _pytest

    blob = bytearray(mm.encode_png_gray(b"payload", 4))
    blob[40] ^= 0xFF  # corrupt inside IDAT
    with _pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(blob))


def test_bmp_top_down_and_ppm_comments():
    import struct

    w, h = 3, 2
    px = [[(1, 2, 3), (4, 5, 6), (7, 8, 9)],
          [(10, 11, 12), (13, 14, 15), (16, 17, 18)]]
    row_pad = (-(w * 3)) % 4
    body = b"".join(
        b"".join(bytes((B, G, R)) for (R, G, B) in r) + b"\x00" * row_pad
        for r in px
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    img = mm.decode_bmp(hdr + info + body)
    assert img["samples"] == b"".join(bytes(p) for r in px for p in r)
    assert img["height"] == 2

    img = mm.decode_ppm(b"P6\n# c\n3 1\n# c2\n255\n" + bytes(9))
    assert (img["width"], img["height"]) == (3, 1)


def test_jpeg_codec_roundtrip_and_seams():
    """Baseline-JPEG codec contract: near-lossless roundtrip within the
    documented error ceilings (gray and YCbCr-RGB legs, restart
    markers, true-dimension crop for non-multiple-of-8 images, 16-bit
    DQT), and precise NotImplementedError seams for the unsupported
    spec corners (progressive, subsampling, 12-bit)."""
    import struct

    import numpy as np

    rng = np.random.RandomState(13)
    data = rng.randint(0, 256, size=16 * 21, dtype=np.uint8).tobytes()
    orig = np.frombuffer(data, dtype=np.uint8).astype(int)

    # gray roundtrip, plain and with restart markers every 3 MCUs
    for ri in (0, 3):
        blob = mm.encode_jpeg_gray(data, width=16, restart_interval=ri)
        img = mm.decode_image(blob)
        assert (img["format"], img["width"], img["height"],
                img["channels"]) == ("jpeg", 16, 21, 1)
        dec = np.frombuffer(img["samples"], dtype=np.uint8).astype(int)
        assert np.abs(orig - dec).max() <= mm.JPEG_MAX_ERR["gray"], ri

    # RGB 4:4:4 roundtrip at non-multiple-of-8 dims (edge-pad + crop)
    w, h = 19, 13
    rgb = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    img = mm.decode_jpeg(mm.encode_jpeg_rgb(rgb, w, h))
    assert (img["width"], img["height"], img["channels"]) == (w, h, 3)
    err = np.abs(
        np.frombuffer(rgb, dtype=np.uint8).astype(int)
        - np.frombuffer(img["samples"], dtype=np.uint8).astype(int)
    )
    assert err.max() <= mm.JPEG_MAX_ERR["rgb"]
    assert err.mean() <= mm.JPEG_MEAN_ERR["rgb"]

    # 16-bit (precision-1) DQT: rewrite the 8-bit table in place — the
    # decoder must read the big-endian u16 form and decode identically
    blob = bytearray(mm.encode_jpeg_gray(data, width=16))
    i = blob.index(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", blob[i + 2 : i + 4])
    assert seglen == 2 + 1 + 64  # one 8-bit table
    vals = blob[i + 5 : i + 5 + 64]
    wide = struct.pack(">H", 2 + 1 + 128) + bytes((0x10,)) + b"".join(
        struct.pack(">H", v) for v in vals
    )
    blob16 = bytes(blob[: i + 2]) + wide + bytes(blob[i + 4 + 65 :])
    img16 = mm.decode_jpeg(blob16)
    assert img16["samples"] == mm.decode_jpeg(bytes(blob))["samples"]

    # unsupported-corner seams raise with precise messages
    good = mm.encode_jpeg_gray(data, width=16)
    sof = good.index(b"\xff\xc0")
    prog = good[:sof] + b"\xff\xc2" + good[sof + 2 :]
    with pytest.raises(NotImplementedError, match="SOF0"):
        mm.decode_jpeg(prog)
    sub = bytearray(good)
    sub[sof + 11] = 0x22  # luma sampling 2x2 => 4:2:0
    with pytest.raises(NotImplementedError, match="subsampling"):
        mm.decode_jpeg(bytes(sub))
    twelve = bytearray(good)
    twelve[sof + 4] = 12
    with pytest.raises(NotImplementedError, match="precision 12"):
        mm.decode_jpeg(bytes(twelve))

    # a truncated entropy stream must raise, never emit short stats
    with pytest.raises(ValueError):
        mm.decode_jpeg(good[:-20] + b"\xff\xd9")


def test_gif_codec_roundtrip_and_seams():
    """GIF contract: exact multi-frame LZW roundtrip (frame fi = byte
    plane rotated by fi), identity palette, dims; the decoder's LZW is
    the full variable-width algorithm (clear/EOI/KwKwK); seams raise
    for interlaced and partial-canvas frames; truncation raises."""
    import struct

    data = bytes((i * 7 + 3) % 256 for i in range(16 * 23 - 5))
    blob = mm.encode_gif_gray(data, 16, n_frames=3)
    g = mm.decode_gif(blob)
    padded, h = mm._pad_to_grid(data, 16)
    assert (g["width"], g["height"], g["n_frames"]) == (16, h, 3)
    for fi in range(3):
        rot = fi % len(padded)
        assert g["frames_idx"][fi] == padded[rot:] + padded[:rot], fi
    pal = g["palettes"][0]
    assert all(
        pal[3 * i] == i == pal[3 * i + 1] == pal[3 * i + 2]
        for i in range(256)
    )
    # KwKwK case: a real compressor's stream with an immediate-reuse
    # code — hand-built: clear, 'a', code258 ('aa') => 'aaa...'
    # (our uncompressed-style encoder never emits it; pin it directly)
    def pack9(codes):
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc |= c << nbits
            nbits += 9
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    stream = pack9([256, 97, 258, 257])  # clear, 'a', KwKwK, EOI
    assert mm._gif_lzw_decode(8, stream, 3) == b"aaa"

    # dispatch: single-frame GIF through decode_image = exact gray plane
    img = mm.decode_image(mm.encode_gif_gray(data, 16))
    assert (img["format"], img["channels"]) == ("gif", 1)
    assert img["samples"] == padded

    # seams: interlace flag and partial-canvas frame. The image
    # descriptor sits at a structural offset (a naive index(0x2C) would
    # hit palette entry 44): header 13 + GCT 768 + GCE 8.
    desc = 13 + 256 * 3 + 8
    bad = bytearray(mm.encode_gif_gray(b"xyz" * 30, 16))
    assert bad[desc] == 0x2C
    bad[desc + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced"):
        mm.decode_gif(bytes(bad))
    bad2 = bytearray(mm.encode_gif_gray(b"xyz" * 30, 16))
    bad2[desc + 1 : desc + 3] = struct.pack("<H", 1)  # left=1
    with pytest.raises(NotImplementedError, match="full-canvas"):
        mm.decode_gif(bytes(bad2))
    with pytest.raises(ValueError, match="truncated GIF"):
        blob3 = mm.encode_gif_gray(b"q" * 64, 16)
        # chop the LZW payload: drop the last sub-block byte wholesale
        mm._gif_lzw_decode(8, b"\x00", 64)


def test_gif_frame_features_end_to_end(spark):
    """gif_frame_features: real encode→LZW-decode on executors, 1→N
    frame explode, exact rotation fingerprints."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = mm.gif_frame_features(df, "doc_id", "text", width=16).collect()
    by_key = {(r["id"], r["frame_idx"]): r for r in out}
    assert len(out) == sum(1 + i % 3 for i, _ in DOCS)
    for i, text in DOCS:
        data = text.encode("utf-8")
        padded, h = mm._pad_to_grid(data, 16)
        for fi in range(1 + i % 3):
            r = by_key[(i, fi)]
            assert (r["n_frames"], r["width"], r["height"]) == (
                1 + i % 3, 16, h)
            rot = fi % len(padded)
            want = padded[rot:] + padded[:rot]
            fp = 0
            for b in want:
                fp = (fp * 31 + b) % 1_000_000_007
            assert r["frame_fp"] == fp, (i, fi)
            assert r["mean_px"] == pytest.approx(sum(padded) / len(padded))


def test_jpeg_roundtrip_features_end_to_end(spark):
    """jpeg_roundtrip_features: real encode→decode→verify on executors;
    exact geometry out, every fidelity verdict TRUE."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = mm.jpeg_roundtrip_features(df, "doc_id", "text", width=16).collect()
    assert len(out) == 2 * len(DOCS)
    by_key = {(r["id"], r["variant"]): r for r in out}
    for i, text in DOCS:
        n = len(text.encode("utf-8"))
        g = by_key[(i, "gray")]
        assert (g["width"], g["height"], g["channels"]) == (
            16, max(1, -(-n // 16)), 1)
        assert g["restart_interval"] == (4 if i % 4 == 0 else 0)
        r3 = by_key[(i, "rgb")]
        assert (r3["width"], r3["height"], r3["channels"]) == (
            16, max(1, -(-n // 48)), 3)
        for r in (g, r3):
            assert r["max_err_ok"] and r["mean_err_ok"], r


def test_image_fingerprint_is_container_invariant(spark):
    """The SAME picture must fingerprint identically whether it arrives
    as PNG, BMP, PPM, GIF, or (near-lossless) baseline JPEG — that is what
    lets hash-groupBy dedup catch re-encoded duplicate images. The JPEG
    leg is the real-world case: a lossy re-encode of the same picture
    still collides because the aHash band decisions sit far from the
    +-1-gray-level decode error."""
    texts = ["hello world " * 40, "abc", "zz" * 300]
    n_fmt = 5
    rows = []
    for i, t in enumerate(texts):
        data = t.encode("utf-8")
        rows += [
            (i * 10 + 0, bytes(mm.encode_png_gray(data, 16))),
            (i * 10 + 1, bytes(mm.encode_bmp_gray(data, 16))),
            (i * 10 + 2, bytes(mm.encode_ppm_gray(data, 16))),
            (i * 10 + 3, bytes(mm.encode_jpeg_gray(data, 16))),
            (i * 10 + 4, bytes(mm.encode_gif_gray(data, 16))),
        ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {
        r["id"]: r["fingerprint"]
        for r in mm.image_fingerprints(df, "doc_id").collect()
    }
    for i in range(len(texts)):
        fps = {got[i * 10 + j] for j in range(n_fmt)}
        assert len(fps) == 1, f"text {i}: formats disagree: {fps}"
    # distinct pictures should (here) get distinct fingerprints
    assert len({got[i * 10] for i in range(len(texts))}) == len(texts)


def test_truncated_ppm_and_y4m_raise_not_silently_misdecode():
    """A short payload must raise, never emit statistics computed over
    fewer bytes than the header promises (round-3 advice)."""
    import pytest

    with pytest.raises(ValueError, match="truncated PPM"):
        mm.decode_ppm(b"P6\n3 1\n255\n" + bytes(8))  # needs 9
    good = mm.encode_y4m_mono(bytes(range(64)), 8, 8)
    with pytest.raises(ValueError, match="truncated y4m"):
        mm.decode_y4m(good[:-1])


def test_decode_image_features_end_to_end(spark):
    """attach_encoded_media → decode_image_features: real mixed-format
    encode on executors, real decode back, true dimensions out."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    media = mm.attach_encoded_media(df, "doc_id", "text", width=16)
    out = {r["id"]: r for r in mm.decode_image_features(media, "doc_id").collect()}
    assert {out[i]["format"] for i in out} == {"png", "bmp", "ppm"}
    for i, text in DOCS:
        n = len(text.encode("utf-8"))
        h = max(1, -(-n // 16))
        r = out[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (16, h, 16 * h)
        assert r["mean_pixel"] == sum(text.encode("utf-8")) / (16 * h)
        assert r["channels"] == (1 if i % 3 == 0 else 3)


def _stage_events_dir(sf_dir, tmp_path) -> str:
    # streaming file sources read directories; stage the single-file
    # events table into one
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_hourly_rollup_matches_batch(spark, sf_dir, tmp_path):
    events_path = _stage_events_dir(sf_dir, tmp_path)
    stream = read_events_stream(spark, events_path)
    assert stream.isStreaming
    agg = streaming_hourly_rollup(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rollup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT sum(n) AS total FROM rollup_test"
    ).first()["total"]
    # append mode only emits windows older than the watermark; the final
    # (max-ts) window may be withheld — compare against the batch rollup
    # restricted to emitted windows.
    emitted = spark.sql("SELECT hour, event_type, n FROM rollup_test")
    from spotify_tracks_etl_portfolio_spark.plans import all_queries

    batch = all_queries()["hourly_event_rollup"].fn(spark, sf_dir).select(
        "hour", "event_type", "n"
    )
    merged = emitted.alias("s").join(
        batch.alias("b"), ["hour", "event_type"], "inner"
    )
    mismatches = merged.filter(F.col("s.n") != F.col("b.n")).count()
    assert mismatches == 0
    assert got and got > 0


def test_streaming_watermark_drops_too_late_keeps_within(spark, tmp_path):
    """The watermark CONTRACT, asserted both ways: an event arriving in
    a later micro-batch for a window already finalized by the watermark
    is DROPPED (bounded state means late data beyond the bound cannot
    re-open an emitted window); an out-of-order event still inside the
    watermark is KEPT and counted. Without the drop assertion a
    watermark regression (e.g. losing the withWatermark call) would
    still pass every 'matches batch' test — batch counts everything."""
    import glob as _glob
    import os as _os
    from datetime import datetime

    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        streaming_hourly_rollup,
    )

    def ev(hhmm, eid):
        h, m = int(hhmm[:2]), int(hhmm[3:])
        return (datetime(2025, 1, 1, h, m), "click", float(eid), eid)

    schema = "ts timestamp, event_type string, value double, event_id long"
    # Watermarks take effect one batch late (computed from batch N's
    # data, applied in batch N+1), and a window is emitted at the END
    # of the first batch whose effective watermark passes its end — so
    # the too-late event must arrive one batch AFTER that emission:
    # b1: 10:10/10:40 + 12:30 → watermark 11:30 effective in b2
    # b2: 11:50 (late-but-OPEN window, kept) + 14:00; window 10-11
    #     (end 11:00 < 11:30) EMITS with n=2 at end of b2;
    #     watermark 13:00 effective in b3
    # b3: 10:30 → beyond the watermark, its window already emitted →
    #     DROPPED (must not re-open 10-11 as a second output row)
    b1 = [ev("10:10", 1), ev("10:40", 2), ev("12:30", 3)]
    b2 = [ev("11:50", 5), ev("14:00", 6)]
    b3 = [ev("10:30", 4)]
    d = str(tmp_path / "src")
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{d}/f{i}"
        )
        for p in _glob.glob(f"{d}/f{i}/*.parquet"):
            _os.utime(p, (1_700_000_000 + 100 * i,) * 2)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    q = (
        streaming_hourly_rollup(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_contract")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT hour, n FROM wm_contract").collect()
    got = [(r["hour"], r["n"]) for r in rows]
    ten = [n for h, n in got if h == "2025-01-01 10:00:00"]
    assert ten == [2], (
        f"too-late event must be dropped, window never reopened: {got}"
    )
    eleven = [n for h, n in got if h == "2025-01-01 11:00:00"]
    assert eleven == [1], (
        f"within-watermark late event must be kept: {got}"
    )


def test_streaming_silver_upsert_idempotent(spark, sf_dir, tmp_path):
    silver = str(tmp_path / "silver")
    events_path = _stage_events_dir(sf_dir, tmp_path)

    stream = read_events_stream(spark, events_path)
    writer = streaming_silver_events(stream, silver, str(tmp_path / "c1"))
    run_stream_to_completion(writer)
    n1 = spark.read.parquet(silver).count()

    # run again with a FRESH checkpoint (simulated replay) → anti-join
    # keeps silver exactly-once on event_id
    stream2 = read_events_stream(spark, events_path)
    writer2 = streaming_silver_events(stream2, silver, str(tmp_path / "c2"))
    run_stream_to_completion(writer2)
    n2 = spark.read.parquet(silver).count()

    assert n1 == n2
    df = spark.read.parquet(silver)
    assert df.count() == df.select("event_id").distinct().count()
    assert df.filter((F.col("value") < 0) | (F.col("value") > 450)).count() == 0


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: within-batch gap splits
    emit closed sessions; the open session rides in state across
    micro-batches and closes when a later batch's event exceeds the gap."""
    import os
    import time as _time

    from spotify_tracks_etl_portfolio_spark.streaming.stateful import (
        streaming_sessionize,
    )

    base_us = 1_700_000_000_000_000  # fixed epoch µs
    m = 60 * 1_000_000

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(
            [(eid, (base_us + off) * 1000, uid, "click", val, "{}") for eid, off, uid, val in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        )
        path = str(tmp_path / "stream_src" / name)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        return path

    src = str(tmp_path / "stream_src")
    now = _time.time()
    # batch 1: user 1 events at t0 and t0+5m (one open session);
    #          user 2 events at t0 and t0+200m (first closes in-batch)
    write_batch("b1", [(1, 0, 1, 1.0), (2, 5 * m, 1, 2.0),
                       (10, 0, 2, 5.0), (11, 200 * m, 2, 7.0)], now - 60)
    # batch 2: user 1 event at t0+120m → closes the open 2-event session
    write_batch("b2", [(3, 120 * m, 1, 3.0)], now - 30)

    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        read_events_stream,
    )

    stream = read_events_stream(spark, src + "/*", max_files_per_trigger=1)
    q = (
        streaming_sessionize(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_test")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sessions_test").collect()
    }
    assert (2, 1, 5.0) in got  # user 2's first event closed within batch 1
    assert (1, 2, 3.0) in got  # user 1's 2-event session closed by batch 2
    # trailing open sessions (user1 @120m, user2 @200m) are NOT emitted
    assert len(got) == 2


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """The same events file staged twice = every event delivered twice
    (at-least-once replay); dropDuplicatesWithinWatermark suppresses the
    replays, leaving exactly the batch-distinct count."""
    d = tmp_path / "dup_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-1.parquet")

    from spotify_tracks_etl_portfolio_spark.streaming import (
        streaming_dedup_events,
    )

    # both copies in ONE micro-batch so the duplicate pair is live in
    # state together regardless of watermark progress
    stream = read_events_stream(spark, str(d), max_files_per_trigger=2)
    q = (
        streaming_dedup_events(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM dedup_test").first()["n"]
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got == expected


def test_streaming_enrich_matches_batch_join(spark, sf_dir, tmp_path):
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.streaming import (
        streaming_enrich_events,
    )

    events_path = _stage_events_dir(sf_dir, tmp_path)
    dim = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = read_events_stream(spark, events_path)
    q = (
        streaming_enrich_events(stream, dim)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM enrich_test").first()["n"]
    ev = read_parquet_table(spark, sf_dir, "events")
    expected = ev.join(dim, ev.user_id == dim.c_custkey).count()
    assert got == expected
    assert "c_mktsegment" in spark.table("enrich_test").columns


def test_streaming_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.streaming import (
        streaming_click_purchase_join,
    )

    events_path = _stage_events_dir(sf_dir, tmp_path)
    stream = read_events_stream(spark, events_path)
    q = (
        streaming_click_purchase_join(stream, horizon_minutes=60)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM ssj_test").first()["n"]

    ev = read_parquet_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    expected = clicks.join(
        purchases,
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 MINUTES")),
    ).count()
    assert got == expected and got > 0


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static anti-join dedup == the batch incremental dedup
    query: stream the odd-doc_id 'incoming batch', anti-join the static
    even-doc_id corpus fingerprints, compare surviving doc_ids."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash
    from spotify_tracks_etl_portfolio_spark.plans import all_queries
    from spotify_tracks_etl_portfolio_spark.streaming import (
        run_stream_to_completion,
        streaming_incremental_dedup,
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "part-0.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(d))
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", rolling_hash("text").alias("fingerprint"))
    )
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 2 == 0)
        .select(rolling_hash("text").alias("fingerprint"))
    )
    out = streaming_incremental_dedup(stream, corpus)
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_dedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
        .trigger(availableNow=True)
    )
    run_stream_to_completion(q)
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM inc_dedup_test").collect()
    }
    batch = all_queries()["incremental_dedup_documents"].fn(spark, sf_dir)
    want = {r["doc_id"] for r in batch.collect()}
    assert got == want


def test_streaming_checkpoint_recovery_processes_only_new_files(
    spark, sf_dir, tmp_path
):
    """Source-offset recovery = exactly-once at the FILE level: stop a
    query, add new input files, restart on the SAME checkpoint — the
    restarted query must skip every already-committed file (no sink
    dedup involved; the parquet sink here appends blindly, so any replay
    would double rows)."""
    src = tmp_path / "recovery_src"
    src.mkdir()
    out = str(tmp_path / "recovery_out")
    ckpt = str(tmp_path / "recovery_ckpt")

    full = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_total = full.count()
    half1 = full.filter(F.col("event_id") % 2 == 0)
    half2 = full.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

    def run_once():
        stream = read_events_stream(spark, str(src / "*"))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()

    half2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    run_once()  # SAME checkpoint: only b2 may be processed
    got = spark.read.parquet(out)
    assert got.count() == n_total  # no replay of b1, nothing missed
    assert got.select("event_id").distinct().count() == n_total


def test_streaming_near_dedup_matches_batch_operator(spark, sf_dir, tmp_path):
    """Streaming curation == batch operator, across micro-batch splits:
    new docs arrive in TWO files (two batches); survivors must equal the
    batch cross-corpus anti-join run on all new docs at once (batch
    boundaries can't matter — new docs compare only against the static
    corpus, never each other)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        corpus_minhash_artifacts,
        cross_corpus_near_dup_ids,
    )
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        read_documents_stream,
        streaming_near_dedup_new_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    bands, shingles = corpus_minhash_artifacts(corpus, "doc_id", "text")

    src = tmp_path / "nd_src"
    new.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(src / "f1")
    )
    new.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(src / "f2")
    )
    out = str(tmp_path / "nd_out")
    stream = read_documents_stream(spark, str(src / "*"))
    q = (
        streaming_near_dedup_new_docs(
            stream, bands, shingles, out, str(tmp_path / "nd_ckpt"), 0.5
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    flagged = cross_corpus_near_dup_ids(new, corpus, "doc_id", "text", 0.5)
    want = {
        r["doc_id"]
        for r in new.join(flagged, "doc_id", "left_anti").select("doc_id").collect()
    }
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == want


def test_near_dedup_sink_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a retried micro-batch re-runs its
    process function with the SAME epoch_id. The epoch-partitioned
    overwrite sink must yield identical contents after a replay, not
    appended duplicates (ADVICE r2)."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        cross_corpus_near_dup_ids,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, "a completely different document about spark window joins"),
         (3, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    out = str(tmp_path / "out")

    def process(b, epoch_id):
        flagged = cross_corpus_near_dup_ids(b, corpus, "doc_id", "text", 0.5)
        (
            b.join(flagged, "doc_id", "left_anti")
            .select("doc_id")
            .write.mode("overwrite")
            .parquet(f"{out}/epoch_id={int(epoch_id)}")
        )

    process(batch, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    process(batch, 0)  # replay the same epoch
    replayed = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == replayed == [1]  # survivor once, dup of corpus dropped


def test_resize_images_real_decode_resample_reencode(spark):
    """Real resize path: encode text → PNG/BMP/PPM, decode, nearest-
    neighbor resample to 8x8, re-encode PNG — the output is itself a
    valid decodable 8x8 grayscale PNG with pixels drawn from the
    source grid."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    media = mm.attach_encoded_media(df, "doc_id", "text", width=16)
    out = {
        r["id"]: bytes(r["thumb"])
        for r in mm.resize_images(media, "doc_id", target_w=8, target_h=8).collect()
    }
    assert set(out) == {0, 1, 2}
    for i, text in DOCS:
        img = mm.decode_image(out[i])
        assert (img["format"], img["width"], img["height"], img["channels"]) == (
            "png", 8, 8, 1,
        )
        # nearest-neighbor of row 0 col 0 == first payload byte
        payload = text.encode("utf-8")
        assert img["samples"][0] == payload[0]


def test_resample_nearest_identity_and_downsample():
    src = bytes(range(16))  # 4x4 grayscale
    assert mm._resample_nearest(src, 4, 4, 1, 4, 4) == src  # identity
    half = mm._resample_nearest(src, 4, 4, 1, 2, 2)
    assert half == bytes([0, 2, 8, 10])  # every other row/col
    rgb = bytes(range(12))  # 2x2 RGB
    assert mm._resample_nearest(rgb, 2, 2, 3, 1, 1) == bytes([0, 1, 2])


def test_wav_roundtrip_and_subset_gate():
    data = bytes(range(200))
    a = mm.decode_wav(mm.encode_wav_pcm(data, 8000))
    assert (a["sample_rate"], a["channels"], a["n_samples"]) == (8000, 1, 200)
    assert a["duration_ms"] == 200 * 1000 // 8000
    assert a["samples"] == data
    # 16-bit WAV is outside the pure-Python subset → documented gate
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01" * 4)
    with pytest.raises(NotImplementedError, match="8-bit"):
        mm.decode_wav(buf.getvalue())


def test_y4m_roundtrip_multiframe():
    data = bytes(range(150))  # 8x8 frames → 3 frames (64+64+22pad)
    v = mm.decode_y4m(mm.encode_y4m_mono(data, 8, 8))
    assert (v["width"], v["height"], v["n_frames"]) == (8, 8, 3)
    assert b"".join(v["frames"]) == data + b"\x00" * (192 - 150)
    with pytest.raises(NotImplementedError, match="Cmono"):
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C420\nFRAME\n" + bytes(6))


def test_audio_video_features_end_to_end(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    audio = {
        r["id"]: r
        for r in mm.decode_audio_features(
            mm.attach_encoded_audio(df, "doc_id", "text"), "doc_id"
        ).collect()
    }
    payload = DOCS[2][1].encode("utf-8")
    assert audio[2]["n_samples"] == len(payload)
    assert audio[2]["mean_sample"] == sum(payload) / len(payload)

    frames = mm.sample_video_frames(
        mm.attach_encoded_video(df, "doc_id", "text", 4, 4), "doc_id", stride=2
    ).collect()
    doc2 = sorted(
        (r["frame_idx"], r["mean_luma"]) for r in frames if r["id"] == 2
    )
    n_frames = -(-len(payload) // 16)
    assert [fi for fi, _ in doc2] == list(range(0, n_frames, 2))
    assert doc2[0][1] == sum(payload[:16]) / 16


def test_stream_session_pins_state_partitions_without_touching_caller(spark):
    """Stateful streams freeze spark.sql.shuffle.partitions into the
    state-store layout at the checkpoint's first micro-batch, so gates
    that own a FRESH checkpoint must pin the count explicitly instead
    of inheriting the ambient session's (200 in a bare session —
    measured 27.8s vs 3.2s on the stream-stream join gate). The clone
    must never mutate the caller's conf."""
    from spotify_tracks_etl_portfolio_spark.streaming import stream_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    s = stream_session(spark)
    assert s is not spark
    assert s.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism
    )
    assert stream_session(spark, 7).conf.get(
        "spark.sql.shuffle.partitions"
    ) == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # same context: DataFrames built on the clone stay usable anywhere
    assert s.range(3).count() == 3


def test_sessionize_fold_handles_cross_batch_late_events():
    """Round-6 review fix: the state fold interval-merges the carried
    open session instead of appending events onto its tail, so a late
    cross-batch event can no longer move the session end BACKWARDS
    (emitting end < start and splitting sessions later events had
    already extended)."""
    from spotify_tracks_etl_portfolio_spark.streaming.stateful import (
        _sessionize_fn,
    )

    class _FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    m = 60 * 1_000_000
    t0 = 1_700_000_000_000_000
    fn = _sessionize_fn(30 * m)
    state = _FakeState()

    def batch(rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([(t0 + r[1]) * 1000 for r in rows]),
                "user_id": [1] * len(rows),
                "value": [float(r[2]) for r in rows],
            }
        )
        return list(fn((1,), [pdf], state))

    # batch 1: open session [t0, t0+5m]
    assert batch([(1, 0, 1.0), (2, 5 * m, 2.0)]) == []
    assert state.get[:2] == (t0, t0 + 5 * m)
    # batch 2 arrives LATE: an event at t0+2m (inside the open session)
    # must merge without moving the end backwards
    assert batch([(3, 2 * m, 4.0)]) == []
    assert state.get == (t0, t0 + 5 * m, 3, 7.0)
    # batch 3: event past the gap closes the 3-event session with the
    # CORRECT bounds (the old fold would have closed [t0, t0+2m] and
    # wrongly split at the 33m mark)
    out = batch([(4, 40 * m, 1.0)])
    assert len(out) == 1
    closed = out[0].iloc[0]
    assert closed["session_start"].value // 1000 == t0
    assert closed["session_end"].value // 1000 == t0 + 5 * m
    assert closed["n_events"] == 3 and closed["sum_value"] == 7.0
    # a run entirely more than gap BEFORE the open session closes as its
    # own past session instead of corrupting the open one
    out2 = batch([(5, -100 * m, 9.0)])
    assert len(out2) == 1
    past = out2[0].iloc[0]
    assert past["session_start"].value // 1000 == t0 - 100 * m
    assert past["n_events"] == 1 and past["sum_value"] == 9.0
    assert state.get == (t0 + 40 * m, t0 + 40 * m, 1, 1.0)


def test_streaming_type_quantiles_equals_batch(spark, sf_dir):
    """10th streaming gate: per-micro-batch histogram partials
    SUM-merged after the drain must yield bit-identical per-type
    quantiles to the batch sketch over the full event log — any
    micro-batch split of a sum of counter cells is answer-neutral."""
    from spotify_tracks_etl_portfolio_spark.plans.analytics import (
        event_type_value_quantiles_sketch,
    )
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        streaming_type_quantiles_sync,
    )

    got = sorted(
        map(tuple, streaming_type_quantiles_sync(spark, sf_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            event_type_value_quantiles_sketch(spark, sf_dir).collect(),
        )
    )
    assert got == want and len(got) > 0
