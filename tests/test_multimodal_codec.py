"""Real PNG/JFIF codec (VERDICT r04 ask #2): encode→decode roundtrip,
marker walking, and corruption detection — no codec library involved."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from greenexp_r_spark.operators import multimodal as M


def test_png_roundtrip_pixels_exact():
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (23, 17)).astype(np.uint8)
    buf = M.encode_png(px)
    meta = M.decode_image_real(buf, want_pixels=True)
    assert (meta["width"], meta["height"]) == (17, 23)
    assert meta["fmt"] == "png" and meta["bit_depth"] == 8
    assert meta["n_components"] == 1
    assert meta["px_sum"] == int(px.astype(np.int64).sum())


def test_png_is_spec_valid_structure():
    buf = M.encode_png(np.zeros((4, 4), dtype=np.uint8))
    assert buf[:8] == b"\x89PNG\r\n\x1a\n"
    # IHDR length/type/CRC
    (ln,) = struct.unpack_from(">I", buf, 8)
    assert ln == 13 and buf[12:16] == b"IHDR"
    crc = struct.unpack_from(">I", buf, 16 + 13)[0]
    assert crc == (zlib.crc32(buf[12:16 + 13]) & 0xFFFFFFFF)
    assert buf.endswith(M._png_chunk(b"IEND", b""))


def test_png_crc_corruption_detected():
    buf = bytearray(M.encode_png(np.arange(16, dtype=np.uint8)
                                 .reshape(4, 4)))
    buf[40] ^= 0xFF          # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC|decompress|error"):
        M.decode_image_real(bytes(buf), want_pixels=True)


def test_jpeg_header_walk_with_skipped_segments():
    buf = M.encode_jpeg(641, 479, n_components=3)
    # the parser must skip APP0+COM+DQT to reach SOF0
    meta = M.decode_image_real(buf)
    assert (meta["width"], meta["height"]) == (641, 479)
    assert meta["fmt"] == "jpeg" and meta["bit_depth"] == 8
    assert meta["n_components"] == 3 and meta["px_sum"] is None


def test_jpeg_missing_sof_raises():
    # SOI + APP0 + SOS with no SOF in between
    jfif = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    buf = (b"\xFF\xD8" + b"\xFF\xE0" + struct.pack(">H", 2 + len(jfif))
           + jfif + b"\xFF\xDA" + struct.pack(">H", 3) + b"\x01")
    with pytest.raises(ValueError, match="SOF"):
        M.decode_image_real(buf)


def test_unknown_magic_raises():
    with pytest.raises(ValueError, match="unrecognized"):
        M.decode_image_real(b"GIF89a....")


def test_synthesize_image_round_trips_rule():
    for text in ("hello world " * 3, "x" * 41, "abc" * 50):
        n = len(text) + 26
        img = M.synthesize_image(text)
        meta = M.decode_image_real(img, want_pixels=n % 2 == 0)
        w, h = M.image_dims(n)
        assert (meta["width"], meta["height"]) == (w, h)
        assert meta["fmt"] == ("png" if n % 2 == 0 else "jpeg")
        if n % 2 == 0:
            arr = np.frombuffer(text.encode("ascii"), dtype=np.uint8)
            want = int(arr[np.arange(h * w) % len(arr)]
                       .astype(np.int64).sum())
            assert meta["px_sum"] == want


# ------------------------------------------------------- WAV codec

def test_wav_roundtrip_exact():
    import numpy as np
    from greenexp_r_spark.operators import multimodal as M
    rng = np.arange(-2048, 2048, 7, dtype=np.int16)
    for rate in (8000, 12000, 16000, 44100):
        wav = M.encode_wav(rng, rate)
        d = M.decode_wav(wav)
        assert d["rate"] == rate and d["channels"] == 1
        assert d["bits"] == 16 and d["n_samples"] == len(rng)
        assert (d["samples"] == rng).all()
    # RIFF container invariants
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    import struct
    assert struct.unpack("<I", wav[4:8])[0] + 8 == len(wav)


def test_wav_decode_rejects_malformed():
    import numpy as np
    import pytest
    from greenexp_r_spark.operators import multimodal as M
    wav = M.encode_wav(np.zeros(64, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="RIFF"):
        M.decode_wav(b"OGGS" + wav[4:])
    with pytest.raises(ValueError, match="truncated"):
        M.decode_wav(wav[: len(wav) // 2])
    # 8-bit / non-PCM formats are refused, not mis-decoded
    import struct
    bad = bytearray(wav)
    bad[34:36] = struct.pack("<H", 8)        # bits in fmt chunk
    with pytest.raises(ValueError, match="unsupported"):
        M.decode_wav(bytes(bad))


def test_audio_segments_features(spark, sf_dir):
    """Engine features equal a direct numpy replay of the synthesis
    rule — independent of the SQL oracle path."""
    import numpy as np
    from greenexp_r_spark.operators import multimodal as M
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    got = {(r["doc_id"], r["seg_idx"]): r
           for r in M.audio_segments(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        s, rate = M.synthesize_audio(row["text"])
        arr = s.astype(np.int64)
        n_segs = -(-len(arr) // M.AUDIO_SEG_SAMPLES)
        want_keys = [(row["doc_id"], g)
                     for g in range(0, n_segs, M.AUDIO_SEG_EVERY)]
        for did, g in want_keys:
            seg = arr[g * M.AUDIO_SEG_SAMPLES:
                      (g + 1) * M.AUDIO_SEG_SAMPLES]
            r = got.pop((did, g))
            assert r["sum_abs"] == int(np.abs(seg).sum())
            assert r["n_samples"] == len(seg)
            assert r["ts_ms"] == (g * M.AUDIO_SEG_SAMPLES * 1000) // rate
    assert not got          # no extra rows for these docs


def test_audio_empty_text_is_defined():
    """Empty document text must not crash the audio arm (review
    r5s5): a zero code sequence is synthesized and round-trips."""
    from greenexp_r_spark.operators import multimodal as M
    s, rate = M.synthesize_audio("")
    assert len(s) == 256 and rate == 8000
    d = M.decode_wav(M.encode_wav(s, rate))
    assert (d["samples"] == s).all()


def test_audio_non_ascii_text_uses_codepoints(spark):
    """Non-ASCII text synthesizes (it raised UnicodeEncodeError): each
    code is the character's codepoint, as the SQL twin's
    ascii(substr(text, i, 1)) reads it."""
    import numpy as np
    from greenexp_r_spark.operators import multimodal as M
    text = "café ☕ naïve 𝄞 日本"
    s, rate = M.synthesize_audio(text)
    lt = len(text)
    n = 256 + (lt * 3) % 1024
    want = [(ord(text[(i - 1) % lt]) * M.AUDIO_SAMPLE_MUL + i)
            % M.AUDIO_SAMPLE_MOD - M.AUDIO_SAMPLE_MOD // 2
            for i in range(1, n + 1)]
    assert rate == 8000 + (lt % 3) * 4000
    assert s.tolist() == np.array(want, dtype=np.int16).tolist()
    df = spark.createDataFrame([(text,)], "text string")
    sql = df.selectExpr(
        "length(text) AS lt",
        *[f"ascii(substr(text, {i + 1}, 1)) AS c{i}" for i in range(lt)]
    ).collect()[0]
    assert sql["lt"] == lt
    assert [sql[f"c{i}"] for i in range(lt)] == [ord(c) for c in text]
