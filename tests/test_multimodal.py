"""Multimodal binary plumbing: frame sampling and payload resize
(operators/multimodal.py) on payloads with edge-case sizes."""

from __future__ import annotations

from batch_processing_analysis_spark.operators import multimodal as M


def _payloads(spark, items):
    return spark.createDataFrame(
        [(i, "blob", bytearray(b)) for i, b in items],
        "doc_id long, modality string, payload binary",
    )


def test_sample_frames_sizes_and_indices(spark):
    # 70 bytes @ frame_size=32 -> frames 0,1,2 (sizes 32,32,6); every 2nd
    # keeps 0 and 2. 10-byte payload -> one short frame. Empty -> none.
    data = _payloads(spark, [(1, bytes(range(70))), (2, b"0123456789"), (3, b"")])
    rows = {(r["doc_id"], r["frame_index"]): r
            for r in M.sample_frames(data, frame_size=32, every_n=2).collect()}
    assert set(rows) == {(1, 0), (1, 2), (2, 0)}
    assert rows[(1, 0)]["frame_bytes"] == 32
    assert rows[(1, 2)]["frame_bytes"] == 6
    assert rows[(1, 2)]["frame_checksum"] == sum(range(64, 70)) % 997
    assert rows[(2, 0)]["frame_bytes"] == 10


def test_resize_payload_stride(spark):
    data = _payloads(spark, [(1, bytes(range(10))), (2, b"")])
    rows = {r["doc_id"]: r for r in M.resize_payload(data, factor=4).collect()}
    # bytes(range(10))[::4] == bytes([0, 4, 8])
    assert rows[1]["n_bytes"] == 10
    assert rows[1]["resized_bytes"] == 3
    assert rows[1]["resized_checksum"] == (0 + 4 + 8) % 997
    assert rows[2]["resized_bytes"] == 0 and rows[2]["resized_checksum"] == 0


def test_png_codec_roundtrip_and_filters():
    import zlib as _zlib

    from batch_processing_analysis_spark.operators import png_codec as P

    # gradient exercises real pixel variety through the roundtrip
    w, h = 7, 5
    rgb = bytes(((x * 37 + y * 11 + c * 3) % 256)
                for y in range(h) for x in range(w) for c in range(3))
    hh, ww, back = P.decode_png(P.encode_png(h, w, rgb))
    assert (hh, ww) == (h, w) and back == rgb
    # all five filter types decode: hand-build a 2x2 RGB PNG per filter
    import struct as _struct

    def hand_png(filter_rows):
        ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        raw = b"".join(filter_rows)

        def chunk(ct, body):
            return (_struct.pack(">I", len(body)) + ct + body
                    + _struct.pack(">I", _zlib.crc32(ct + body)))

        return (P.MAGIC + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(raw)) + chunk(b"IEND", b""))

    base = bytes([10, 20, 30, 40, 50, 60])
    none_png = hand_png([b"\x00" + base, b"\x00" + base])
    _, _, px_none = P.decode_png(none_png)
    for ft in (1, 2, 3, 4):
        # encode row 2 with filter ft relative to row 1 (filter 0)
        row2 = bytearray(6)
        prev = bytearray(base)
        for i in range(6):
            left = base[i - 3] if i >= 3 else 0
            ul = prev[i - 3] if i >= 3 else 0
            if ft == 1:
                row2[i] = (base[i] - left) & 0xFF
            elif ft == 2:
                row2[i] = (base[i] - prev[i]) & 0xFF
            elif ft == 3:
                row2[i] = (base[i] - ((left + prev[i]) >> 1)) & 0xFF
            else:
                row2[i] = (base[i] - P._paeth(left, prev[i], ul)) & 0xFF
        _, _, px = P.decode_png(
            hand_png([b"\x00" + base, bytes([ft]) + bytes(row2)]))
        assert px == px_none, f"filter {ft}"
    # gray and RGBA color types normalize to RGB like PIL convert("RGB")
    def png_ct(ct_val, rows):
        ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, ct_val, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in rows)

        def chunk(ct, body):
            return (_struct.pack(">I", len(body)) + ct + body
                    + _struct.pack(">I", _zlib.crc32(ct + body)))

        return (P.MAGIC + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(raw)) + chunk(b"IEND", b""))

    _, _, g = P.decode_png(png_ct(0, [bytes([7, 8]), bytes([9, 10])]))
    assert g == bytes([7, 7, 7, 8, 8, 8, 9, 9, 9, 10, 10, 10])
    _, _, ga = P.decode_png(png_ct(4, [bytes([7, 255, 8, 0]),
                                       bytes([9, 1, 10, 2])]))
    assert ga == g  # alpha dropped
    rgba_rows = [bytes([1, 2, 3, 255, 4, 5, 6, 0]),
                 bytes([7, 8, 9, 128, 10, 11, 12, 64])]
    _, _, rgb2 = P.decode_png(png_ct(6, rgba_rows))
    assert rgb2 == bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    # loud unsupported-feature errors
    import pytest

    with pytest.raises(ValueError, match="palette"):
        P.decode_png(png_ct(3, [bytes([0, 0]), bytes([0, 0])]))
    with pytest.raises(ValueError, match="bad CRC"):
        bad = bytearray(P.encode_png(1, 1, b"\x01\x02\x03"))
        bad[-5] ^= 0xFF  # flip a bit inside IEND's CRC
        P.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated chunk CRC"):
        P.decode_png(bytes(P.encode_png(1, 1, b"\x01\x02\x03"))[:-2])


def test_decode_audio_gate_without_codec():
    import pytest

    try:
        import soundfile  # noqa: F401
    except ImportError:
        # non-WAV payload: loud install hint, never a silent fake
        with pytest.raises(NotImplementedError, match="soundfile"):
            M.decode_audio(b"\xffOGG fake compressed audio")
        # unparseable RIFF (float WAV, compression, truncation):
        # the ladder still surfaces the install hint, never an
        # opaque wave.Error from inside a task
        with pytest.raises(NotImplementedError, match="soundfile"):
            M.decode_audio(b"RIFF fake wav bytes")
    else:  # pragma: no cover - environment-dependent branch
        import io

        import numpy as np
        import soundfile as sf

        buf = io.BytesIO()
        sf.write(buf, np.zeros(16, dtype="float32"), 8000, format="WAV")
        samples, rate = M.decode_audio(buf.getvalue())
        assert rate == 8000 and len(samples) == 16


def test_payload_neardup_detects_truncated_copy(spark):
    from batch_processing_analysis_spark.operators.multimodal import (
        payload_neardup_pairs,
    )

    blob = bytes(range(256)) * 8  # 2 KB structured payload
    media = spark.createDataFrame(
        [
            (1, blob),
            (2, blob[:-16]),          # truncated copy: near-dup
            (3, bytes(reversed(blob))),  # same bytes, different order
            (4, b"\x00" * 64),        # unrelated
        ],
        "doc_id long, payload binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in payload_neardup_pairs(media, max_hamming=4).collect()
    }
    assert (1, 2) in pairs  # truncation survives byte-gram simhash
    assert all(4 not in p for p in pairs)  # unrelated blob stays out


def test_decode_audio_pure_stdlib_wav():
    # The decoded audio path, UNSKIPPED in any environment: stdlib
    # wave writer -> decode_audio's stdlib fallback (or soundfile when
    # present -- both must agree on PCM16).
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    rate, n = 8000, 32
    pcm = [int(10000 * math.sin(2 * math.pi * 440 * i / rate))
           for i in range(n)]
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(struct.pack(f"<{n}h", *pcm))
    samples, got_rate = M.decode_audio(buf.getvalue())
    assert got_rate == rate and len(samples) == n
    assert abs(float(samples[1]) - pcm[1] / 32768.0) < 1e-6
    assert max(abs(float(x)) for x in samples) < 1.0


def test_soundfile_rung_wiring_with_stub(monkeypatch):
    """The soundfile rung's wiring via a stub module: the ladder
    prefers it over stdlib wave, passes dtype=float32, and slices
    soundfile's native (frames, channels) output to channel 0 (the
    ADVICE r7 channel contract) — executed without real soundfile."""
    import sys
    import types

    import numpy as np

    two_ch = np.stack([np.linspace(-0.5, 0.5, 16, dtype=np.float32),
                       np.zeros(16, dtype=np.float32)], axis=1)
    calls = {}

    def stub_read(fileobj, dtype=None):
        calls["dtype"] = dtype
        calls["n_bytes"] = len(fileobj.read())
        return two_ch, 16000

    sf = types.ModuleType("soundfile")
    sf.read = stub_read
    monkeypatch.setitem(sys.modules, "soundfile", sf)

    payload = b"NOTRIFF-payload-the-stub-decodes-anyway"
    samples, rate = M.decode_audio(payload)
    assert calls["dtype"] == "float32"
    assert calls["n_bytes"] == len(payload)
    assert rate == 16000
    assert samples.ndim == 1 and np.array_equal(samples, two_ch[:, 0])
