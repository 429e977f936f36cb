"""Multimodal (binary) column plumbing (SURVEY §2.12).

Model: image/audio/video payloads are opaque ``binary`` columns with
typed metadata columns alongside. The *plumbing* — schemas, metadata
extraction, Arrow-batched Pandas processing over ``mapInPandas``,
partitioning behavior — is real and tested. The codec step is REAL
for the formats parseable without external libraries — uncompressed
BMP, 8-bit PNG (DEFLATE via stdlib zlib), baseline JPEG
(:mod:`operators.jpeg`, r9), PCM WAV audio, uncompressed-DIB and
MJPEG AVI —
and raises ``NotImplementedError`` for every other magic
(progressive JPEG/MP4/h264 need codec machinery beyond the stdlib);
the deterministic fake decoder remains available to exercise the
plumbing format-agnostically.

Scale notes: metadata extraction (length/md5/magic) is pure codegen
column math — runs at scan speed, and because the metadata lives in
its own parquet columns, filters on it prune *without touching the
payload bytes* (column pruning is what makes 100 TB of blobs
queryable). The Pandas stage is Arrow-batched ``mapInPandas`` — one
python worker per partition processing whole record batches, never
row-at-a-time; keep payload partitions ≲128 MB via
``spark.sql.files.maxPartitionBytes`` so a batch of blobs fits worker
memory.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
    decode_policy,
)

#: Bytes-per-frame for the deterministic fake video framer.
_FAKE_FRAME_BYTES = 256


def binary_with_metadata(df: DataFrame, binary_col: str) -> DataFrame:
    """Attach typed metadata columns to an opaque binary payload:
    byte length, content md5, and the hex "magic number" prefix (the
    standard format-sniffing key — e.g. ffd8 for JPEG)."""
    b = F.col(binary_col)
    return (
        df.withColumn("n_bytes", F.length(b).cast("long"))
        .withColumn("content_md5", F.md5(b))
        .withColumn("magic_hex", F.lower(F.hex(F.substring(b, 1, 4))))
    )


def decode_image(payload: bytes, *, fake: bool = False) -> dict:
    """Decode an image payload into features.

    The REAL path decodes uncompressed BMP, 8-bit PNG, and baseline
    JPEG (``operators/codecs.py`` + ``operators/jpeg.py``, pure
    struct+numpy+zlib) and reports the same feature keys computed
    over the decoded PIXELS (n_frames=1 — a still image); any other
    magic — and the non-baseline JPEG envelope — raises
    ``NotImplementedError``. ``fake=True`` returns deterministic
    pseudo-features from the raw bytes so the Spark plumbing is
    exercisable on arbitrary payloads.
    """
    import numpy as np

    if not fake:
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            decode_bmp,
            decode_png,
            sniff_format,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import (
            decode_jpeg,
        )

        kind = sniff_format(payload)
        decoders = {"bmp": decode_bmp, "png": decode_png, "jpeg": decode_jpeg}
        if kind not in decoders:
            raise NotImplementedError(
                "real decoding supports uncompressed BMP, 8-bit PNG, and "
                "baseline JPEG only (other formats need codec libraries); "
                "run with fake=True for the format-agnostic deterministic "
                "stub"
            )
        px = decoders[kind](payload)
        s = int(px.sum(dtype=np.int64))
        return {
            "n_bytes": len(payload),
            "byte_sum": s,
            "byte_mean": float(s) / px.size if px.size else 0.0,
            "n_frames": 1,
        }

    arr = np.frombuffer(payload, dtype=np.uint8)
    n = int(arr.size)
    return {
        "n_bytes": n,
        "byte_sum": int(arr.sum(dtype=np.int64)),
        "byte_mean": (float(arr.sum(dtype=np.int64)) / n) if n else 0.0,
        "n_frames": n // _FAKE_FRAME_BYTES,
    }


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_sum", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("n_frames", LongType()),
    ]
)


def extract_features(
    df: DataFrame, id_col: str, binary_col: str, fake_decoder: bool = True,
    on_error: str = "raise",
) -> DataFrame:
    """Feature-extract binary payloads via Arrow-batched
    ``mapInPandas``. Each python worker receives whole Arrow record
    batches; the per-payload decode is the only Python loop, which is
    exactly the part that is genuinely non-vectorizable (codec calls).

    ``on_error`` follows :func:`~...codecs.decode_policy`: a
    quarantined payload gets NULL feature columns, and
    ``WHERE byte_sum IS NULL`` recovers the quarantine set.
    """
    decode = decode_policy(
        functools.partial(decode_image, fake=fake_decoder), on_error
    )
    null_feats = dict.fromkeys(("n_bytes", "byte_sum", "byte_mean", "n_frames"))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode(p) or null_feats for p in pdf[binary_col]]
            out = pd.DataFrame(feats)
            # nullable integer columns: plain int64 cannot hold the
            # quarantined Nones (pandas would silently float them and
            # Arrow would reject NaN -> long)
            for c in ("n_bytes", "byte_sum", "n_frames"):
                out[c] = pd.array(out[c], dtype="Int64")
            out.insert(0, "doc_id", pdf[id_col].astype("int64").to_numpy())
            yield out

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


# ------------------------------------------------- resize / frame-sample


def resize_image(payload: bytes, target_bytes: int, *, fake: bool = False) -> bytes:
    """Resize an image payload to (approximately) ``target_bytes``.

    The REAL path is decode → nearest-neighbor downscale → re-encode
    for uncompressed BMP, 8-bit PNG, and baseline JPEG (re-encoded
    4:2:0 quality-85 — the thumbnail convention): the output is the
    largest uniform downscale whose re-encoding fits ``target_bytes``
    (floor 1×1 — a target below the minimal 1×1 file returns that
    minimal encoding); payloads already within budget pass through
    byte-identical. BMP size is exactly monotone in scale; PNG/JPEG
    compressed lengths are only almost-monotone, which the shrink
    loop absorbs (each miss shrinks 10% more, terminating at 1×1).
    Other magics raise ``NotImplementedError``. ``fake=True`` is the
    format-agnostic deterministic strided byte subsample to exactly
    ``target_bytes``.
    """
    if not fake:
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
            decode_bmp,
            decode_png,
            encode_bmp,
            encode_png,
            resize_nearest,
            sniff_format,
        )
        from sensorstream_scalable_sensor_data_pipeline_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        kind = sniff_format(payload)
        codec = {
            "bmp": (decode_bmp, encode_bmp),
            "png": (decode_png, encode_png),
            "jpeg": (
                decode_jpeg,
                lambda im: encode_jpeg(im, quality=85, subsampling="420")
                if im.ndim == 3
                else encode_jpeg(im, quality=85),
            ),
        }
        if kind not in codec:
            raise NotImplementedError(
                "real resizing supports uncompressed BMP, 8-bit PNG, and "
                "baseline JPEG only (other formats need codec libraries); "
                "run with fake=True for the format-agnostic deterministic "
                "stub"
            )
        if len(payload) <= target_bytes:
            return payload
        decode, encode = codec[kind]
        img = decode(payload)
        h, w = img.shape[:2]
        scale = (target_bytes / len(payload)) ** 0.5
        while True:
            oh = max(1, int(h * scale))
            ow = max(1, int(w * scale))
            out = encode(resize_nearest(img, oh, ow))
            if len(out) <= target_bytes or (oh == 1 and ow == 1):
                return out
            scale *= 0.9

    if len(payload) <= target_bytes:
        return payload
    stride = len(payload) / target_bytes
    return bytes(payload[int(i * stride)] for i in range(target_bytes))


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_payloads(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    target_bytes: int,
    fake_codec: bool = True,
) -> DataFrame:
    """Batch-resize binary payloads via Arrow-batched ``mapInPandas``
    (the thumbnail/downscale stage of a multimodal training pipeline).
    Output payloads are capped at ``target_bytes`` each — the
    downstream shuffle/storage win is the whole point: resize BEFORE
    any shuffle so the wide bytes never move at full size."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64").to_numpy(),
                    "payload": [
                        resize_image(p, target_bytes, fake=fake_codec)
                        for p in pdf[binary_col]
                    ],
                }
            )
            out.insert(1, "n_bytes", out["payload"].map(len).astype("int64"))
            yield out

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str,
    binary_col: str,
    every_n: int = 4,
    fake_codec: bool = True,
) -> DataFrame:
    """Sample every ``every_n``-th frame from video payloads — the
    fan-OUT multimodal stage (one row in, many frame rows out), which
    is exactly what ``mapInPandas`` models: a batch iterator may yield
    more rows than it receives, keeping the expansion executor-side
    (the exploded frames never pass through the driver and partition
    like any other relation).

    The REAL path (``fake_codec=False``) decodes uncompressed-DIB and
    MJPEG AVI containers (``operators/codecs.py::decode_avi_frames``;
    MJPEG via the r9 baseline-JPEG codec) and emits every
    ``every_n``-th frame re-encoded as a standalone BMP — so
    sampled frames feed straight back into :func:`decode_image` /
    :func:`resize_image` (frame → thumbnail pipelines compose).
    Other compressed video (h264/VP9/...) raises
    ``NotImplementedError`` — that genuinely needs codec
    libraries. The deterministic fake
    treats the payload as fixed-size frames of ``_FAKE_FRAME_BYTES``
    (the same framing ``decode_image``'s fake ``n_frames`` reports,
    so the two stubs agree)."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(
                pdf[id_col].astype("int64"), pdf[binary_col]
            ):
                if not fake_codec:
                    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
                        decode_avi_frames,
                        encode_bmp,
                        sniff_format,
                    )

                    if sniff_format(payload) != "avi":
                        raise NotImplementedError(
                            "real frame extraction supports AVI containers "
                            "only (uncompressed-DIB or MJPEG; other "
                            "containers need codec libraries); run with "
                            "fake_codec=True for the format-agnostic "
                            "deterministic stub"
                        )
                    decoded, _fps = decode_avi_frames(payload)
                    for fi in range(0, decoded.shape[0], every_n):
                        ids.append(doc_id)
                        idxs.append(fi)
                        frames.append(encode_bmp(decoded[fi]))
                    continue
                n_frames = len(payload) // _FAKE_FRAME_BYTES
                for fi in range(0, n_frames, every_n):
                    ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(
                        payload[
                            fi * _FAKE_FRAME_BYTES : (fi + 1) * _FAKE_FRAME_BYTES
                        ]
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=FRAME_SCHEMA
    )


# ----------------------------------------------------------- audio (WAV)


def decode_audio(payload: bytes) -> dict:
    """Decode a PCM WAV payload (``operators/codecs.py``) into the
    standard audio-corpus features: sample rate, frame/channel counts,
    duration, RMS level and peak amplitude (int16 grid). Non-WAV
    magics raise ``NotImplementedError``."""
    import numpy as np

    from sensorstream_scalable_sensor_data_pipeline_spark.operators.codecs import (
        decode_wav,
        sniff_format,
    )

    if sniff_format(payload) != "wav":
        raise NotImplementedError(
            "real audio decoding supports PCM WAV only (other formats "
            "need codec libraries)"
        )
    samples, rate = decode_wav(payload)
    x = samples.astype(np.float64)
    n = samples.shape[0]
    return {
        "sample_rate": int(rate),
        "n_samples": int(n),
        "n_channels": int(samples.shape[1]),
        "duration_s": (n / rate) if rate else 0.0,
        "rms": float(np.sqrt((x * x).mean())) if samples.size else 0.0,
        # widened before abs: np.abs(int16(-32768)) overflows back to
        # -32768 and a full-scale negative sample would vanish from max
        "peak": int(np.abs(x).max()) if samples.size else 0,
    }


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_channels", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", LongType()),
    ]
)


def extract_audio_features(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Audio-feature extraction over Arrow-batched ``mapInPandas`` —
    the WAV twin of :func:`extract_features`, real codec end-to-end
    (duration/loudness gates are the audio corpus curation
    primitives). Same scale shape: whole record batches per python
    worker, the per-payload chunk walk is the only Python loop."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode_audio(p) for p in pdf[binary_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].astype("int64").to_numpy())
            yield out

    return df.select(F.col(id_col), F.col(binary_col)).mapInPandas(
        run, schema=AUDIO_SCHEMA
    )
