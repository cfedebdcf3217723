"""Multimodal plumbing + run-metrics tests."""

from __future__ import annotations

import pytest

from data_transformation_python_spark.metrics import RunMetrics
from data_transformation_python_spark.operators import multimodal as mm


@pytest.fixture()
def payload_df(spark):
    docs = spark.createDataFrame(
        [(1, "hello world " * 20), (2, "tiny")], "doc_id bigint, text string"
    )
    return mm.attach_binary_payload(docs, kind="image")


def test_attach_and_extract_features(spark, payload_df):
    out = mm.extract_features(payload_df).collect()
    rows = {r.doc_id: r for r in out}
    assert rows[1].n_bytes == len("hello world " * 20)
    assert rows[2].n_bytes == 4
    import hashlib

    assert rows[2].content_digest == hashlib.md5(b"tiny").hexdigest()
    assert rows[1].media_kind == "image"


def test_resize_plumbing(spark, payload_df):
    out = mm.resize_images(payload_df, width=224, height=224).collect()
    assert all(r.width == 224 and r.height == 224 for r in out)
    budget = 224 * 224 // 64
    rows = {r.doc_id: r for r in out}
    assert len(bytes(rows[1].payload)) == min(budget, 240)
    assert len(bytes(rows[2].payload)) == 4


def test_frame_sampling_explodes(spark, payload_df):
    out = mm.sample_frames(payload_df, every_n_bytes=64, max_frames=3).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3  # 240 bytes → capped at max_frames
    assert len(by_doc[2]) == 1  # tiny payload → 1 frame
    assert [r.frame_idx for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [0, 1, 2]


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"xx", "image")


def test_decode_media_h264_decodes_inter_gops():
    """``decode_media(kind="h264")`` reads P-GOP streams (it used to
    split them into intra triplets and fail before the first slice)
    and still returns the per-picture frames of all-IDR streams."""
    import numpy as np

    from data_transformation_python_spark.operators.h264_codec import (
        h264_decode_frame,
        h264_decode_gop,
        split_annexb,
    )

    payload, _md5 = mm._write_h264p(3)
    got = mm.decode_media(payload, "h264")
    want, _stats = h264_decode_gop(split_annexb(payload))
    assert len(got) == len(want) == mm._h264p_dims(3)[2]
    assert all(np.array_equal(g, w) for g, w in zip(got, want))

    intra = mm._write_h264dc(4)
    nals = split_annexb(intra)
    triplets = [
        h264_decode_frame(nals[i : i + 3]) for i in range(0, len(nals), 3)
    ]
    got = mm.decode_media(intra, "h264")
    assert len(got) == len(triplets)
    assert all(np.array_equal(g, w) for g, w in zip(got, triplets))


def test_decode_table_truncated_gop_names_the_doc(spark):
    """A payload missing its last NAL fails with an explicit
    ValueError naming the doc_id and the expected vs actual count —
    not an ``assert`` that ``python -O`` would strip."""
    from data_transformation_python_spark.operators.h264_codec import (
        annexb,
        split_annexb,
    )

    payload, md5 = mm._write_h264p(3)
    nf = mm._h264p_dims(3)[2]
    truncated = annexb(split_annexb(payload)[:-1])
    msg = f"doc_id 3: NAL count: expected {2 + nf}, got {1 + nf}"
    with pytest.raises(ValueError, match=msg):
        mm.CODECS["h264p"].stat(3, truncated, md5)
    df = spark.createDataFrame(
        [(3, bytearray(truncated), md5)],
        "doc_id long, payload binary, rec_md5 string",
    )
    with pytest.raises(Exception) as err:
        mm.decode_table(df, "h264p").collect()
    assert "ValueError" in str(err.value)
    assert "doc_id 3: NAL count" in str(err.value)


def test_codec_table_shape():
    """Every codec synthesizes; the six raw formats and the near-dup
    fixtures encode in place, every other encoder spreads first."""
    in_place = {"wav", "bmp", "avi", "ppm", "png", "gif", "neardup_bmp",
                "neardup_wav", "neardup_avi", "neardup_bmp_scaled"}
    assert len(mm.CODECS) == 37
    assert {c for c, s in mm.CODECS.items() if not s.spread} == in_place
    for codec, spec in mm.CODECS.items():
        assert (spec.stat is None) == (spec.meta_schema is None), codec
    with pytest.raises(ValueError, match="no decode stats"):
        mm.decode_table(None, "scene_mp4")


def test_run_metrics_summary(tmp_path):
    m = RunMetrics().start()
    m.record({"model": "a", "success": True, "duration_sec": 1.5, "strategy": "table"})
    m.record({"model": "b", "success": False, "duration_sec": 0.5, "error": "boom"})
    s = m.finish()
    assert s["models_run"] == 2
    assert s["succeeded"] == 1
    assert s["failed_models"] == ["b"]
    assert s["total_duration_sec"] == 2.0
    p = tmp_path / "metrics.json"
    m.write(p)
    import json

    assert json.loads(p.read_text())["per_model"]["a"]["strategy"] == "table"


def test_wav_metadata_is_a_real_parser(spark):
    """The wav decode must read ANY 16-bit PCM WAV — including stereo
    files it never synthesized — proving it parses the RIFF header
    rather than replaying the generator formula."""
    import io
    import wave

    import numpy as np

    from data_transformation_python_spark.operators.multimodal import (
        decode_table,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        frames = np.array([100, -100, 2000, -2000, 0, 7], dtype="<i2")
        w.writeframes(frames.tobytes())  # 3 stereo frames
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    row = decode_table(df, "wav").first()
    assert row["sample_rate"] == 44100
    assert row["n_channels"] == 2
    assert row["n_frames"] == 3
    assert row["duration_ms"] == 0  # 3 frames at 44.1 kHz
    assert row["sum_abs_amplitude"] == 100 + 100 + 2000 + 2000 + 0 + 7


def test_synth_wav_roundtrip_matches_formula(spark):
    from data_transformation_python_spark.operators.multimodal import (
        _wav_pcm,
        decode_table,
        synth_table,
    )

    df = spark.createDataFrame([(7,), (123,)], "doc_id long")
    table = decode_table(synth_table(df, "wav"), "wav")
    rows = {r["doc_id"]: r for r in table.collect()}
    for doc_id in (7, 123):
        pcm = _wav_pcm(doc_id)
        assert rows[doc_id]["n_frames"] == len(pcm)
        assert rows[doc_id]["sum_abs_amplitude"] == int(
            abs(pcm.astype("int64")).sum()
        )


def test_bmp_parser_handles_foreign_topdown_bmp(spark):
    """The parser must read any uncompressed 24-bit BMP — here a
    hand-built TOP-DOWN (negative height) file with row padding, a
    layout our own writer never produces."""
    import struct

    from data_transformation_python_spark.operators.multimodal import (
        decode_table,
    )

    w, h = 3, 2  # row stride 9 → 3 pad bytes
    # rows top-first (top-down), pixel (x,y) = BGR (x, 10*y, 100+x+y)
    rows = []
    for y in range(h):
        px = b"".join(bytes([x, 10 * y, 100 + x + y]) for x in range(w))
        rows.append(px + b"\x00" * 3)
    pixels = b"".join(rows)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    df = spark.createDataFrame(
        [(5, bytearray(hdr + dib + pixels))], "doc_id long, payload binary"
    )
    row = decode_table(df, "bmp").first()
    assert (row["width"], row["height"], row["n_pixels"]) == (3, 2, 6)
    # top-left pixel is the FIRST stored row in a top-down file
    assert (row["px00_r"], row["px00_g"], row["px00_b"]) == (100, 0, 0)
    assert row["sum_r"] == sum(100 + x + y for x in range(w) for y in range(h))
    assert row["sum_g"] == sum(10 * y for _ in range(w) for y in range(h))
    assert row["sum_b"] == sum(x for x in range(w) for _ in range(h))


def test_synth_bmp_roundtrip_matches_formula(spark):
    from data_transformation_python_spark.operators.multimodal import (
        _bmp_channels,
        _bmp_dims,
        decode_table,
        synth_table,
    )

    df = spark.createDataFrame([(7,), (123,)], "doc_id long")
    table = decode_table(synth_table(df, "bmp"), "bmp")
    rows = {r["doc_id"]: r for r in table.collect()}
    for doc_id in (7, 123):
        w, h = _bmp_dims(doc_id)
        r, g, b = _bmp_channels(doc_id, w, h)
        got = rows[doc_id]
        assert (got["width"], got["height"]) == (w, h)
        assert got["sum_r"] == int(r.astype("int64").sum())
        assert got["sum_g"] == int(g.astype("int64").sum())
        assert got["sum_b"] == int(b.astype("int64").sum())
        assert got["px00_r"] == int(r[0, 0])


def test_avi_walker_handles_junk_chunks_and_dc_fourcc(spark):
    """The RIFF walker must survive chunks our writer never emits:
    a JUNK padding chunk with an ODD size (word alignment), an idx1
    index, and compressed-flavor '00dc' frame ids."""
    import struct

    from data_transformation_python_spark.operators.multimodal import (
        _avi_frame_channels,
        _dib_frame_bytes,
        _riff_chunk,
        decode_table,
    )

    w, h, nf, fps = 3, 2, 2, 25
    frames = [
        _dib_frame_bytes(*_avi_frame_channels(9, f, w, h), w, h)
        for f in range(nf)
    ]
    avih = struct.pack(
        "<10I", 1_000_000 // fps, 0, 0, 0, nf, 0, 1, 0, w, h
    ) + struct.pack("<4I", 0, 0, 0, 0)
    hdrl = _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", avih))
    junk = _riff_chunk(b"JUNK", b"\x01\x02\x03")  # odd size → pad byte
    movi = _riff_chunk(
        b"LIST",
        b"movi" + b"".join(_riff_chunk(b"00dc", fr) for fr in frames),
    )
    idx1 = _riff_chunk(b"idx1", struct.pack("<4sIII", b"00dc", 0, 4, 1))
    data = _riff_chunk(b"RIFF", b"AVI " + hdrl + junk + movi + idx1)
    df = spark.createDataFrame(
        [(9, bytearray(data))], "doc_id long, payload binary"
    )
    row = decode_table(df, "avi").first()
    assert (row["width"], row["height"], row["n_frames"], row["fps"]) == (
        3, 2, 2, 25,
    )
    r0, _, _ = _avi_frame_channels(9, 0, w, h)
    assert row["px000_r"] == int(r0[0, 0])


def test_synth_avi_roundtrip_matches_formula(spark):
    from data_transformation_python_spark.operators.multimodal import (
        _avi_dims,
        _avi_frame_channels,
        decode_table,
        synth_table,
    )

    df = spark.createDataFrame([(7,), (123,)], "doc_id long")
    table = decode_table(synth_table(df, "avi"), "avi")
    rows = {r["doc_id"]: r for r in table.collect()}
    for doc_id in (7, 123):
        w, h, nf, fps = _avi_dims(doc_id)
        got = rows[doc_id]
        assert (got["width"], got["height"], got["n_frames"], got["fps"]) == (
            w, h, nf, fps,
        )
        exp_r = sum(
            int(_avi_frame_channels(doc_id, f, w, h)[0].astype("int64").sum())
            for f in range(nf)
        )
        assert got["sum_r"] == exp_r


def test_ppm_parser_honors_netpbm_header_grammar():
    """Real-world PPMs carry comments and arbitrary whitespace in the
    header — the parser must follow the Netpbm grammar, not just the
    bytes our writer emits."""
    import numpy as np

    from data_transformation_python_spark.operators.multimodal import _parse_ppm

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    foreign = (
        b"P6 # comment right after magic\n"
        b"# a full-line comment\n"
        b"  3\n\n2 # trailing comment\n255\n" + px.tobytes()
    )
    w, h, out = _parse_ppm(foreign)
    assert (w, h) == (3, 2)
    assert np.array_equal(out, px)


def test_ppm_parser_rejects_truncated_header():
    """Regression: a payload that ends mid-header must raise a clear
    ValueError instead of looping forever past the end of the data."""
    import pytest

    from data_transformation_python_spark.operators.multimodal import _parse_ppm

    for bad in (b"P6", b"P6 3", b"P6 # comment", b"P6 3 2", b"P6\n3 2 25"):
        with pytest.raises(ValueError, match="truncated PPM header"):
            _parse_ppm(bad)


def test_synth_ppm_roundtrip_matches_formula(spark):
    """Writer → parser round-trip reproduces the channel congruences
    with PPM's top-down unpadded layout (opposite of BMP)."""
    import numpy as np

    from data_transformation_python_spark.operators import multimodal as mm

    for doc_id in (0, 7, 42):
        w, h, px = mm._parse_ppm(mm._write_ppm(doc_id))
        assert (w, h) == mm._ppm_dims(doc_id)
        r, g, b = mm._bmp_channels(doc_id, w, h)
        assert np.array_equal(px[..., 0], r)
        assert np.array_equal(px[..., 1], g)
        assert np.array_equal(px[..., 2], b)


def test_png_parser_reconstructs_all_filter_types():
    """A real PNG decoder must reconstruct Sub/Up/Average/Paeth
    scanlines, not just the filter-0 lines our writer emits — encode a
    foreign image using every filter type and require exact decode."""
    import struct
    import zlib

    import numpy as np

    from data_transformation_python_spark.operators import multimodal as mm

    rng = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    stride = 5 * 3
    lines, prev = [], np.zeros(stride, np.int64)
    for y, f in enumerate([1, 2, 3, 4]):
        cur = rng[y].reshape(-1).astype(np.int64)
        filt = np.zeros(stride, np.int64)
        for x in range(stride):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0)
    png = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + mm._png_chunk(b"IEND", b"")
    )
    w, h, out = mm._parse_png(png)
    assert (w, h) == (5, 4)
    assert np.array_equal(out, rng)


def test_png_parser_rejects_corrupt_crc():
    import pytest

    from data_transformation_python_spark.operators import multimodal as mm

    payload = bytearray(mm._write_png(3))
    payload[len(mm._PNG_SIG) + 10] ^= 0xFF  # flip a byte inside IHDR
    with pytest.raises(ValueError, match="CRC"):
        mm._parse_png(bytes(payload))


def test_synth_png_roundtrip_matches_formula(spark):
    import numpy as np

    from data_transformation_python_spark.operators import multimodal as mm

    for doc_id in (0, 7, 42):
        w, h, px = mm._parse_png(mm._write_png(doc_id))
        assert (w, h) == mm._png_dims(doc_id)
        r, g, b = mm._bmp_channels(doc_id, w, h)
        assert np.array_equal(px[..., 0], r)
        assert np.array_equal(px[..., 1], g)
        assert np.array_equal(px[..., 2], b)


def test_gif_lzw_roundtrip_and_width_transitions():
    """The LZW pair must agree through every width transition, the
    KwKwK case, and 4096-entry table overflow CLEAR resets — the
    places real-world GIF decoders classically break."""
    import random

    from data_transformation_python_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    assert _lzw_decode(_lzw_encode([5] * 1000, 4), 4) == [5] * 1000  # KwKwK runs
    seq = [(i * 7 + 3) % 16 for i in range(5000)]
    assert _lzw_decode(_lzw_encode(seq, 4), 4) == seq
    rng = random.Random(7)
    big = [rng.randrange(16) for _ in range(120000)]  # forces CLEAR resets
    assert _lzw_decode(_lzw_encode(big, 4), 4) == big
    small = [rng.randrange(4) for _ in range(30000)]  # min code size 2
    assert _lzw_decode(_lzw_encode(small, 2), 2) == small


def test_synth_gif_roundtrip_matches_formula(spark):
    import numpy as np

    from data_transformation_python_spark.operators import multimodal as mm

    for doc_id in (0, 9, 23, 34):
        w, h, px = mm._parse_gif(mm._write_gif(doc_id))
        assert (w, h) == mm._gif_dims(doc_id)
        r, g, b = mm._bmp_channels(doc_id, w, h)
        assert np.array_equal(px[..., 0], r)
        assert np.array_equal(px[..., 1], g)
        assert np.array_equal(px[..., 2], b)


def test_jpeg_codec_roundtrip_determinism_and_fidelity():
    """encode/decode are pure functions (bit-stable across calls) and
    the lossy roundtrip stays within sane PSNR at q=95; a smooth
    gradient decodes near-losslessly while actually compressing."""
    import numpy as np

    from data_transformation_python_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 33, 3)).astype(np.uint8)
    enc = jpeg_encode(img, quality=95)
    assert jpeg_encode(img, quality=95) == enc  # bit-deterministic
    dec = jpeg_decode(enc)
    assert dec.shape == img.shape
    assert np.array_equal(jpeg_decode(enc), dec)
    mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) > 30
    xs, ys = np.arange(48), np.arange(24)
    smooth = np.stack(
        [((xs[None, :] + 2 * ys[:, None]) % 256).astype(np.uint8)] * 3, axis=-1
    )
    e2 = jpeg_encode(smooth, 95)
    assert len(e2) < smooth.size  # genuinely compressed
    mse2 = ((jpeg_decode(e2).astype(float) - smooth.astype(float)) ** 2).mean()
    assert mse2 < 0.5  # near-lossless on smooth content


def test_jpeg_decoder_rejects_progressive_and_junk():
    import struct

    import numpy as np
    import pytest

    from data_transformation_python_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )

    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x01")
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    enc = bytearray(jpeg_encode(img))
    sof_at = bytes(enc).find(b"\xff\xc0")
    enc[sof_at + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="baseline"):
        jpeg_decode(bytes(enc))


def test_jpeg_quality_dial_trades_size_for_error():
    import numpy as np

    from data_transformation_python_spark.operators.jpeg_codec import (
        jpeg_decode,
        jpeg_encode,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    e_lo, e_hi = jpeg_encode(img, 30), jpeg_encode(img, 95)
    assert len(e_lo) < len(e_hi)
    err = lambda e: ((jpeg_decode(e).astype(float) - img.astype(float)) ** 2).mean()
    assert err(e_lo) > err(e_hi)


def test_mjpeg_avi_roundtrip_and_mixed_container(spark):
    """MJPEG AVIs must container-walk + frame-decode within fidelity,
    and the walker must route MIXED containers (DIB and JPEG frames
    in one movi list) to the right decoder per frame."""
    import numpy as np

    from data_transformation_python_spark.operators import multimodal as mm

    for did in (0, 6, 13):
        w, h, nf, fps, frames = mm._parse_avi(mm._write_mjpeg_avi(did))
        assert (w, h, nf, fps) == mm._mjpeg_dims(did)
        assert len(frames) == nf
        for f, px in enumerate(frames):
            r, g, b = mm._avi_frame_channels(did, f, w, h)
            src = np.stack([r, g, b], axis=-1).astype(float)
            mse = ((px.astype(float) - src) ** 2).mean()
            assert 10 * np.log10(255**2 / max(mse, 1e-12)) > 30
    # mixed container: uncompressed AVI still decodes via the DIB path
    w, h, nf, fps, frames = mm._parse_avi(mm._write_avi(7))
    r, g, b = mm._avi_frame_channels(7, 0, w, h)
    assert np.array_equal(frames[0][..., 0], r)  # DIB path stays exact


def test_adpcm_codec_invariants():
    """IMA ADPCM: bit-deterministic encode, exact block-header
    samples, SNR above the 4-bit differential floor on band-limited
    content, and loud rejection of non-ADPCM WAVs."""
    import numpy as np
    import pytest as _pytest

    from data_transformation_python_spark.operators import multimodal as mm

    for doc_id in (0, 13, 49):
        pcm = mm._adpcm_pcm(doc_id)
        payload = mm._write_adpcm_wav(doc_id)
        assert payload == mm._write_adpcm_wav(doc_id)
        rate, ba, n, dec = mm._parse_adpcm_wav(payload)
        assert (rate, ba, n) == (8000, 64, len(pcm))
        spb = (ba - 4) * 2 + 1
        assert all(int(dec[k]) == int(pcm[k]) for k in range(0, n, spb))
        err = dec.astype(np.int64) - pcm.astype(np.int64)
        snr = 10 * np.log10(
            (pcm.astype(np.int64) ** 2).sum() / max(1, (err**2).sum())
        )
        assert snr >= 20.0
        # 4-bit coding: compressed size well under half of 16-bit PCM
        assert len(payload) < len(pcm)  # pcm bytes = 2 * n
    # a plain PCM WAV (tag 0x0001) must be rejected, not mis-decoded
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 10)
    with _pytest.raises(NotImplementedError, match="not IMA ADPCM"):
        mm._parse_adpcm_wav(buf.getvalue())


def test_adpcm_nibble_state_machine_matches_reference_tables():
    """Spot-check the IMA state machine against hand-computed steps
    (step table entry 0 = 7): encoding +4 from predictor 0 at index 0
    must emit nibble 0b0100? -> verify via decode symmetry instead:
    every nibble decodes to the delta the encoder charged."""
    from data_transformation_python_spark.operators.multimodal import (
        _ima_decode_nibble,
        _ima_step,
    )

    for start_pred in (-100, 0, 500):
        for target in (-3000, -5, 0, 7, 2500):
            nib, enc_pred, enc_idx = _ima_step(start_pred, 10, target)
            dec_pred, dec_idx = _ima_decode_nibble(nib, start_pred, 10)
            assert (dec_pred, dec_idx) == (enc_pred, enc_idx)


# --------------------------------------------------------------------------
# image near-dup: dHash fingerprints + banded Hamming join
# --------------------------------------------------------------------------
def test_bmp_dhash_matches_reference(spark):
    """The Spark dHash bands equal an independent pure-numpy
    recomputation from the pixel formula (decode → block means →
    comparison bits → band packing)."""
    import numpy as np

    ids = spark.createDataFrame([(i,) for i in (0, 7, 123)], "doc_id bigint")
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in mm.bmp_dhash(mm.synth_table(ids, "neardup_bmp")).collect()
    }
    off = np.arange(16, dtype=np.int64)
    for doc_id in (0, 7, 123):
        v, _, _ = mm._neardup_bmp_channels(doc_id, mm.DHASH_W, mm.DHASH_H)
        v = v.astype(np.int64)
        m = (
            v[0::2, 0::2] + v[0::2, 1::2] + v[1::2, 0::2] + v[1::2, 1::2]
        ) // 4
        bits = (m[:, :-1] > m[:, 1:]).astype(np.int64).ravel()
        want = tuple(
            int((bits[k * 16 : (k + 1) * 16] << off).sum()) for k in range(4)
        )
        assert got[doc_id] == want


def test_hamming_neardup_finds_group_peers(spark):
    """Docs sharing doc_id mod 50 are near-duplicates (Hamming ≤ 8);
    docs in other groups are not — every row reports exactly its
    group peers, with the smallest peer id as min_partner."""
    from data_transformation_python_spark.operators import dedup as dd

    # two full groups of 4: {0, 50, 100, 150} and {1, 51, 101, 151}
    ids = spark.createDataFrame(
        [(i,) for i in (0, 50, 100, 150, 1, 51, 101, 151)], "doc_id bigint"
    )
    hashes = mm.bmp_dhash(mm.synth_table(ids, "neardup_bmp"))
    out = {
        r.doc_id: r
        for r in dd.hamming_neardup_stats(hashes, max_hamming=8).collect()
    }
    for doc_id, peers in ((0, (50, 100, 150)), (51, (1, 101, 151))):
        r = out[doc_id]
        assert r.n_neardup == 3
        assert r.min_partner == min(peers)
        assert 0 <= r.min_hamming <= 8
    assert all(r.n_neardup == 3 for r in out.values())


def test_hamming_neardup_isolated_rows_report_zero(spark):
    """Rows with no band collision keep n_neardup 0 and NULL partner
    columns (the left-join path)."""
    from data_transformation_python_spark.operators import dedup as dd

    ids = spark.createDataFrame([(2,), (3,), (4,)], "doc_id bigint")
    hashes = mm.bmp_dhash(mm.synth_table(ids, "neardup_bmp"))
    for r in dd.hamming_neardup_stats(hashes, max_hamming=8).collect():
        assert r.n_neardup == 0
        assert r.min_partner is None and r.min_hamming is None


def test_fingerprint_dedup_groups_composition(spark):
    """dHash pairs → CC → groups: two near-dup clusters and one
    singleton resolve to components keyed by min id, with the
    representative flagged kept."""
    from data_transformation_python_spark.operators import dedup as dd

    ids = spark.createDataFrame(
        [(i,) for i in (0, 50, 100, 1, 51, 2)], "doc_id bigint"
    )
    hashes = mm.bmp_dhash(mm.synth_table(ids, "neardup_bmp"))
    out = {
        r.doc_id: r
        for r in dd.fingerprint_dedup_groups(hashes, max_hamming=8).collect()
    }
    assert {d: out[d].component for d in out} == {
        0: 0, 50: 0, 100: 0, 1: 1, 51: 1, 2: 2,
    }
    assert out[0].group_size == 3 and out[1].group_size == 2
    assert out[2].group_size == 1 and out[2].is_kept
    assert [d for d in out if out[d].is_kept] == sorted(
        d for d in out if out[d].is_kept
    )
    assert sum(1 for d in out if out[d].is_kept) == 3


def test_bmp_dhash_fine_matches_reference_and_separates(spark):
    """The 128-bit fine dHash equals an independent numpy
    recomputation, and the scaled fixture separates: same-cluster
    distance ≤ 16, cross-cluster far above."""
    import numpy as np

    ids = spark.createDataFrame(
        [(i,) for i in (10, 11, 12, 30)], "doc_id bigint"
    )
    table = mm.synth_table(ids, "neardup_bmp_scaled")
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in mm.bmp_dhash_fine(table).collect()
    }
    payloads = {r.doc_id: bytes(r.payload) for r in table.collect()}
    off = np.arange(32, dtype=np.int64)
    for doc_id, payload in payloads.items():
        _, _, px = mm._parse_bmp(payload)
        v = px[..., 0].astype(np.int64)
        m = (v[:, 0::2] + v[:, 1::2]) // 2
        bits = (m[:, :-1] > m[:, 1:]).astype(np.int64).ravel()
        want = tuple(
            int((bits[k * 32 : (k + 1) * 32] << off).sum()) for k in range(4)
        )
        assert got[doc_id] == want

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert ham(got[10], got[11]) <= 16 and ham(got[11], got[12]) <= 16
    assert ham(got[10], got[30]) > 16


def test_wav_energy_fingerprint_reference_and_gain_invariance(spark):
    """The audio fingerprint equals a numpy recomputation of
    sign-of-frame-energy-deltas, and is invariant to uniform gain
    (the property energy-delta fingerprints exist for)."""
    import io
    import wave

    import numpy as np

    def wav_bytes(pcm):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(mm.WAV_SAMPLE_RATE)
            w.writeframes(pcm.astype("<i2").tobytes())
        return buf.getvalue()

    base = mm._neardup_wav_pcm(7).astype(np.int64)
    rows = [(1, wav_bytes(base)), (2, wav_bytes(base * 2))]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in mm.wav_energy_fingerprint(df).collect()
    }
    e = base[: 40 * 65].reshape(65, 40).sum(axis=1)
    bits = (e[1:] > e[:-1]).astype(np.int64)
    off = np.arange(16, dtype=np.int64)
    want = tuple(
        int((bits[k * 16 : (k + 1) * 16] << off).sum()) for k in range(4)
    )
    assert got[1] == want
    assert got[2] == want  # 2x gain, identical fingerprint


def test_wav_fingerprint_groups_cluster(spark):
    """Same-group clips are near-dups under the shared Hamming
    operator; cross-group clips are not."""
    from data_transformation_python_spark.operators import dedup as dd

    ids = spark.createDataFrame(
        [(i,) for i in (5, 55, 105, 6, 56)], "doc_id bigint"
    )
    hashes = mm.wav_energy_fingerprint(mm.synth_table(ids, "neardup_wav"))
    out = {
        r.doc_id: r
        for r in dd.hamming_neardup_stats(hashes, max_hamming=8).collect()
    }
    assert out[5].min_partner in (55, 105) and out[5].min_hamming <= 8
    assert out[6].n_neardup == 1 and out[6].min_partner == 56
    for d, r in out.items():
        partners = {5: (55, 105), 55: (5, 105), 105: (5, 55),
                    6: (56,), 56: (6,)}[d]
        assert r.n_neardup <= len(partners)


def test_avi_temporal_fingerprint_reference_and_clusters(spark):
    """The video fingerprint equals a numpy recomputation of
    sign-of-frame-luma-sum deltas through the real AVI round-trip,
    and same-group clips cluster under the shared Hamming operator."""
    import numpy as np

    from data_transformation_python_spark.operators import dedup as dd

    ids = spark.createDataFrame(
        [(i,) for i in (11, 61, 111, 4)], "doc_id bigint"
    )
    table = mm.synth_table(ids, "neardup_avi")
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in mm.avi_temporal_fingerprint(table).collect()
    }
    off = np.arange(16, dtype=np.int64)
    for doc_id in (11, 61, 111, 4):
        g = doc_id % 50
        f = np.arange(mm.VIDEO_FP_FRAMES, dtype=np.int64)
        v = (g * 37 + f * (20 + 2 * g)) % 193 + 40 * (
            (doc_id * 31 + f) % 23 == 0
        )
        s = 16 * v  # 4x4 constant frames
        bits = (s[1:] > s[:-1]).astype(np.int64)
        want = tuple(
            int((bits[k * 16 : (k + 1) * 16] << off).sum()) for k in range(4)
        )
        assert got[doc_id] == want
    out = {
        r.doc_id: r
        for r in dd.hamming_neardup_stats(
            mm.avi_temporal_fingerprint(table), max_hamming=8
        ).collect()
    }
    assert out[11].n_neardup == 2 and out[11].min_partner == 61
    assert out[4].n_neardup == 0


def test_binaryfile_ingest_matches_synth_path(spark, tmp_path):
    """binaryFile-source ingest (real files on disk, glob pushdown)
    produces byte-identical fingerprints to the in-memory synth path,
    and the marker file never reaches the scan."""
    from data_transformation_python_spark.operators.multimodal import (
        binaryfile_ingest_dhash,
        materialize_neardup_bmp_dir,
    )

    ids = [0, 7, 123]
    d = materialize_neardup_bmp_dir(spark, ids, base_dir=str(tmp_path / "bf"))
    got = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3, r.n_bytes)
        for r in binaryfile_ingest_dhash(spark, d).collect()
    }
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    want = {
        r.doc_id: (r.band0, r.band1, r.band2, r.band3)
        for r in mm.bmp_dhash(mm.synth_table(ids_df, "neardup_bmp")).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert got[i][:4] == want[i]
        assert got[i][4] == 950  # exact on-disk BMP size


def test_neardup_avi_fast_frames_match_general_writer():
    """The constant-frame fast path in _neardup_avi_frames emits
    byte-identical DIB frames to the general _dib_frame_bytes
    writer."""
    import numpy as np

    from data_transformation_python_spark.operators.multimodal import (
        VIDEO_FP_FRAMES,
        VIDEO_FP_H,
        VIDEO_FP_W,
        _dib_frame_bytes,
        _neardup_avi_frames,
    )

    for doc_id in (0, 11, 222):
        fast = _neardup_avi_frames(doc_id)
        g = doc_id % 50
        for f in range(VIDEO_FP_FRAMES):
            v = (g * 37 + f * (20 + 2 * g)) % 193
            if (doc_id * 31 + f) % 23 == 0:
                v += 40
            ch = np.full((VIDEO_FP_H, VIDEO_FP_W), v, dtype=np.uint8)
            assert fast[f] == _dib_frame_bytes(
                ch, ch, ch, VIDEO_FP_W, VIDEO_FP_H
            )
