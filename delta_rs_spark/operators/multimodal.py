"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a typed
metadata struct. Decode / feature-extraction runs as Arrow-batched
`mapInPandas` — the real seam a cluster deployment would use (schema,
batching, partitioning are all real here). The codec itself is STUBBED
(`decode_stub`) because no image/audio libraries exist in this container:
it derives deterministic pseudo-features from the bytes, and raises
`NotImplementedError` when asked for a real codec.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum32", T.LongType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)


def _checksum32(payload: bytes) -> int:
    """Polynomial rolling checksum Σ b_i·31^(n-1-i) mod 2^32, vectorized.

    Bit-identical to the per-byte loop ``c = (c*31 + b) % 2^32`` it
    replaces, but O(n) numpy instead of O(n) interpreted Python — the loop
    was ~100 ns/byte, which at real payload sizes (MBs per image/clip) made
    the checksum the dominant per-row cost of the decode stage (guide §4.2:
    hand whole batches to vectorized native code). uint32 arithmetic wraps
    mod 2^32 exactly, so no explicit modulo is needed anywhere.
    """
    import numpy as np

    if not payload:
        return 0
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.uint32)
    # powers 31^0..31^(n-1) mod 2^32 via wrapping accumulate, then pair the
    # last byte with 31^0 (descending order)
    pows = np.ones(len(b), dtype=np.uint32)
    if len(b) > 1:
        pows[1:] = 31
        np.multiply.accumulate(pows, out=pows)
    return int((b * pows[::-1]).sum(dtype=np.uint32))


def decode_stub(payload: bytes, codec: str = "fake") -> dict:
    """Deterministic stand-in for an image decoder.

    A real deployment swaps this for PIL/ffmpeg inside the same mapInPandas;
    the Spark-side contract (bytes in → feature dict out) is unchanged.
    """
    if codec != "fake":
        raise NotImplementedError(
            f"codec {codec!r} requires image/audio libraries not present in this "
            "environment; only the deterministic 'fake' codec is available"
        )
    return {
        "n_bytes": len(payload),
        "checksum32": _checksum32(payload),
        **_fake_dims(len(payload)),
    }


def _fake_dims(n_bytes: int) -> dict:
    """The stub's decoded dimensions — a pure function of payload LENGTH,
    split out so consumers that need only the dims (``resize``) skip the
    O(bytes) checksum entirely."""
    return {
        "fake_width": (n_bytes % 640) + 1,
        "fake_height": ((n_bytes * 7) % 480) + 1,
    }


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo payload: utf-8 bytes of the text column, with typed metadata —
    the shape a real corpus with inline media would have."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake").alias("codec"),
            F.length(F.col(text_col)).alias("orig_chars"),
        ).alias("media_meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    `mapInPandas` keeps the batch shape: each pandas chunk holds a bounded
    number of payloads (spark.sql.execution.arrow.maxRecordsPerBatch), so
    executor memory stays flat no matter how large the corpus is.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode_stub(p) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    # ship only the columns the kernel reads: Spark cannot prune columns
    # through an opaque function, so without this the metadata struct (and
    # anything else on the frame) crosses the Python boundary per row
    return df.select("doc_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("target_width", T.IntegerType()),
        T.StructField("target_height", T.IntegerType()),
    ]
)


def resize(df: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched 'resize': bytes in → (transformed) bytes out, 1:1 rows.

    The stub scales the payload length proportionally to the pixel-count
    ratio against the fake decoded dims — a real deployment swaps the body
    for PIL's `Image.resize` with the identical mapInPandas contract."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_payloads = []
            for p in pdf["payload"]:
                # dims are a pure function of the payload LENGTH — going
                # through decode_stub here paid the O(bytes) checksum per
                # payload just to throw it away (measured: the checksum was
                # the whole decode cost at real payload sizes)
                d = _fake_dims(len(p))
                ratio = (width * height) / max(d["fake_width"] * d["fake_height"], 1)
                n = max(int(len(p) * min(ratio, 1.0)), 1)
                out_payloads.append(bytes(p[:n]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": out_payloads,
                    "target_width": width,
                    "target_height": height,
                }
            )

    # only doc_id/payload cross the Python boundary (see extract_features)
    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def frame_sample(df: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Arrow-batched 1→N expansion: sample 'frames' out of each payload.

    The row-expanding shape (one input row yields up to max_frames output
    rows inside the same Arrow batch) is exactly how video frame sampling
    runs on a cluster — ffmpeg replaces the byte-slicing stub, the Spark
    contract stays.

    Vectorized per frame index, not per row: frame i of EVERY payload is
    one native ``pyarrow.compute.binary_slice`` over the whole column
    (≤ every_n_bytes copied per row) followed by a ``take`` of the rows
    long enough to have that frame — ≤ max_frames kernel calls per batch
    instead of rows × frames interpreted slice/copy iterations. A pure
    offsets-rewrite over the shared data buffer is NOT possible here:
    truncation at max_frames leaves gaps between consecutive values, which
    a single Arrow offsets buffer cannot represent.
    """

    def batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in it:
            doc = rb.column(0)
            pay = rb.column(1)
            lens = pc.binary_length(pay).to_numpy(zero_copy_only=False).astype(np.int64)
            # ceil(len/every) with a floor of 1: an exact-multiple payload
            # gets no trailing empty frame; an empty payload gets frame 0
            n_frames = np.minimum(
                np.maximum(-(-lens // every_n_bytes), 1), max_frames
            )
            for i in range(int(n_frames.max()) if len(n_frames) else 0):
                idx = pa.array(np.nonzero(n_frames > i)[0])
                sl = pc.binary_slice(
                    pay, start=i * every_n_bytes, stop=(i + 1) * every_n_bytes
                )
                yield pa.record_batch(
                    [
                        doc.take(idx),
                        pa.array(np.full(len(idx), i, dtype=np.int32)),
                        sl.take(idx),
                    ],
                    names=["doc_id", "frame_no", "frame"],
                )

    # ship only the two columns the kernel reads (guide §4.1: Spark cannot
    # see inside an opaque function and would otherwise move every column
    # through the Python boundary)
    return df.select("doc_id", "payload").mapInArrow(batches, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real stdlib codecs: PNG and WAV decode without external libraries
# ---------------------------------------------------------------------------

def _decode_png(data: bytes) -> dict:
    """Minimal PNG decoder (stdlib zlib only): parses IHDR/IDAT, inflates,
    reverses all five per-row filters. Supports non-interlaced 8-bit
    greyscale/RGB/RGBA — the common training-corpus cases."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = bit_depth = color = None
    interlace = 0
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, bit_depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk[:13]
            )
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0 or color not in (0, 2, 6):
        raise NotImplementedError(
            f"PNG variant unsupported (bit_depth={bit_depth}, color={color}, "
            f"interlace={interlace}): only 8-bit non-interlaced grey/RGB/RGBA"
        )
    channels = {0: 1, 2: 3, 6: 4}[color]
    stride = w * channels
    raw = zlib.decompress(idat)
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    for _row in range(h):
        f = raw[i]
        i += 1
        line = bytearray(raw[i : i + stride])
        i += stride
        if f == 1:  # Sub
            for x in range(channels, stride):
                line[x] = (line[x] + line[x - channels]) & 255
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 255
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 255
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 255
        elif f != 0:
            raise ValueError(f"bad PNG filter byte {f}")
        out += line
        prev = line
    return {
        "width": int(w),
        "height": int(h),
        "channels": channels,
        "mean_pixel": round(sum(out) / len(out), 4) if out else 0.0,
    }


def _decode_wav(data: bytes) -> dict:
    """WAV/PCM decoder via the stdlib ``wave`` module; RMS computed with
    ``struct`` (no audioop — removed in Python 3.13)."""
    import io
    import math
    import struct
    import wave

    with wave.open(io.BytesIO(data)) as wf:
        n_channels = wf.getnchannels()
        rate = wf.getframerate()
        width = wf.getsampwidth()
        n_frames = wf.getnframes()
        frames = wf.readframes(n_frames)
    rms = 0.0
    if width == 2 and frames:
        samples = struct.unpack(f"<{len(frames) // 2}h", frames)
        rms = round(math.sqrt(sum(s * s for s in samples) / len(samples)), 4)
    return {
        "sample_rate": rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_s": round(n_frames / rate, 6) if rate else 0.0,
        "rms": rms,
    }


def decode_payload(payload: bytes, codec: str) -> dict:
    """Typed decode dispatch: real stdlib decoders for ``png`` and ``wav``,
    the deterministic ``fake`` stub for synthetic corpora, and an honest
    NotImplementedError for codecs needing libraries this container lacks
    (jpeg/mp4/...) — swap in PIL/ffmpeg inside the same mapInPandas."""
    if codec == "png":
        return _decode_png(payload)
    if codec == "wav":
        return _decode_wav(payload)
    if codec == "fake":
        return decode_stub(payload)
    raise NotImplementedError(
        f"codec {codec!r} requires media libraries not present in this "
        "environment (png/wav decode natively; 'fake' is the synthetic stub)"
    )


MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_pixel", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def extract_media_features(df: DataFrame) -> DataFrame:
    """Arrow-batched per-codec decode over mixed media: expects
    ``doc_id, payload, media_meta.codec`` (the `attach_binary_payload`
    shape); emits one typed feature row per payload with codec-inapplicable
    fields null. Same bounded-batch mapInPandas contract as
    `extract_features` — executor memory stays flat at any corpus size."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MEDIA_FEATURE_SCHEMA.fields]
        for pdf in it:
            rows = []
            for doc_id, payload, codec in zip(
                pdf["doc_id"], pdf["payload"], pdf["codec"]
            ):
                feats = decode_payload(bytes(payload), codec)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "codec": codec,
                        "n_bytes": len(payload),
                        **{k: feats.get(k) for k in cols[3:]},
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    flat = df.select(
        "doc_id", "payload", F.col("media_meta.codec").alias("codec")
    )
    return flat.mapInPandas(batches, MEDIA_FEATURE_SCHEMA)
