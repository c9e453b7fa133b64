"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side contract is real and tested — schema, partition-friendly
batch shapes, Arrow-batched ``mapInPandas`` signatures.  The actual codec
work (JPEG decode, resampling, frame sampling) is STUBBED: the sandbox has
no image/audio libraries, so ``decode_images`` raises
``NotImplementedError`` unless ``fake=True``, in which case a
deterministic fake decoder (byte-histogram "features") exercises the full
plumbing end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("meta_width", LongType(), True),
        StructField("meta_height", LongType(), True),
        StructField("meta_duration_ms", LongType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


def synth_media(df: DataFrame) -> DataFrame:
    """Deterministic fake media table from a ``(doc_id, text)`` table:
    payload = utf-8 bytes of the text (stands in for encoded image
    bytes)."""
    return df.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/fake").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (F.length(F.col("text")) % 640).cast("long").alias("meta_width"),
        (F.length(F.col("text")) % 480).cast("long").alias("meta_height"),
        F.lit(None).cast("long").alias("meta_duration_ms"),
    )


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas``.

    Real deployment would decode payload bytes with PIL/ffmpeg here; the
    sandbox stub computes a deterministic 16-bin byte histogram (normalized)
    so batch shape, schema, and partition behavior are fully exercised.
    """
    if not fake:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg — not available in "
            "this environment; pass fake=True for the deterministic stub"
        )

    def _batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            feats, nbytes = [], []
            for payload in pdf["payload"]:
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                hist = np.bincount(buf >> 4, minlength=16).astype("float64")
                total = hist.sum() or 1.0
                feats.append((hist / total).round(6).tolist())
                nbytes.append(len(buf))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pd.Series(nbytes, dtype="int64"),
                    "features": feats,
                }
            )

    return media.mapInPandas(_batches, schema=FEATURES_SCHEMA)


FEATURES_LONG_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("bin", LongType(), False),
        StructField("value_e6", LongType(), False),
    ]
)


def extract_features_long(media: DataFrame, fake: bool = True) -> DataFrame:
    """Oracle-comparable long form of ``extract_features``: one row per
    (media_id, bin 0..15) with the normalized histogram value as exact
    fixed-point.

    value_e6 = round-half-up(count/total * 10^6) computed entirely in
    integer arithmetic — (2·count·10^6 + total) // (2·total) — so the
    DuckDB oracle (hex-nibble histogram over encode(text)) matches
    bit-for-bit with no float-rounding hazard.  Same Arrow ``mapInPandas``
    plumbing as the array form; at scale the per-doc aggregation happens
    inside the batch, so output is a bounded 16 rows/doc, never
    |corpus bytes| rows.
    """
    if not fake:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg — not available in "
            "this environment; pass fake=True for the deterministic stub"
        )

    def _batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            hists = np.zeros((n, 16), dtype=np.int64)
            totals = np.ones(n, dtype=np.int64)  # guard: empty payload → /1
            nbytes = np.zeros(n, dtype=np.int64)
            for j, payload in enumerate(pdf["payload"]):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                hists[j] = np.bincount(buf >> 4, minlength=16)
                nbytes[j] = len(buf)
                totals[j] = max(len(buf), 1)
            t = totals[:, None]
            value_e6 = (2 * hists * 1_000_000 + t) // (2 * t)
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(pdf["media_id"].to_numpy(), 16),
                    "n_bytes": np.repeat(nbytes, 16),
                    "bin": np.tile(np.arange(16, dtype=np.int64), n),
                    "value_e6": value_e6.reshape(-1),
                }
            )

    return media.mapInPandas(_batches, schema=FEATURES_LONG_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("meta_width", LongType(), False),
        StructField("meta_height", LongType(), False),
    ]
)


def resize_images(
    media: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """Image resize over Arrow batches (``mapInPandas``).

    Real deployment decodes with PIL and re-encodes at (width, height);
    the sandbox stub emits a deterministic byte downsample of the payload
    (every ceil(len/(w·h))-th byte, truncated/zero-padded to w·h bytes) so
    batch shape, binary-column round-trip, and metadata typing are fully
    exercised — output payload length is exactly width·height for every
    row, which the tests pin."""
    if not fake:
        raise NotImplementedError(
            "real image resize requires PIL — not available in this "
            "environment; pass fake=True for the deterministic stub"
        )
    target = width * height

    def _batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for payload in pdf["payload"]:
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                if len(buf) == 0:
                    out.append(bytes(target))
                    continue
                step = max(1, int(np.ceil(len(buf) / target)))
                ds = buf[::step][:target]
                if len(ds) < target:
                    ds = np.pad(ds, (0, target - len(ds)))
                out.append(ds.tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "meta_width": np.full(len(pdf), width, dtype="int64"),
                    "meta_height": np.full(len(pdf), height, dtype="int64"),
                }
            )

    return media.mapInPandas(_batches, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    frame_bytes: int = 256,
    fake: bool = True,
) -> DataFrame:
    """Video frame sampling over Arrow batches: one output row per sampled
    frame (the 1→N explode shape a real ffmpeg extractor produces).

    The stub derives the frame count from ``meta_duration_ms`` (rows with
    a missing or negative duration yield one frame at t=0) and fakes each
    frame as a deterministic wraparound slice of the payload bytes — the
    Spark-side contract (schema, per-row fan-out, batch sizes) is real.

    Output memory is bounded: frames flush every ``_FLUSH_FRAMES`` rows,
    so a 24h video at 1 frame/s (86k frames) never materializes as one
    giant pandas frame, and each fake frame costs O(frame_bytes), not
    O(payload)."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    if not fake:
        raise NotImplementedError(
            "real frame sampling requires ffmpeg — not available in this "
            "environment; pass fake=True for the deterministic stub"
        )

    _FLUSH_FRAMES = 10_000

    def _batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def _flush(ids, idxs, tss, frames):
            return pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "ts_ms": pd.Series(tss, dtype="int64"),
                    "frame": frames,
                }
            )

        for pdf in it:
            ids, idxs, tss, frames = [], [], [], []
            for media_id, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["meta_duration_ms"]
            ):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                n = (
                    1
                    if pd.isna(dur) or int(dur) < 0
                    else int(dur) // every_ms + 1
                )
                for i in range(n):
                    ids.append(media_id)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    if len(buf) == 0:
                        frames.append(b"")
                    else:
                        # wraparound slice: O(frame_bytes), not a full-
                        # payload rotation
                        sel = (np.arange(frame_bytes) + i) % len(buf)
                        frames.append(buf[sel[: min(frame_bytes, len(buf))]].tobytes())
                    if len(ids) >= _FLUSH_FRAMES:
                        yield _flush(ids, idxs, tss, frames)
                        ids, idxs, tss, frames = [], [], [], []
            if ids:
                yield _flush(ids, idxs, tss, frames)

    return media.mapInPandas(_batches, schema=FRAMES_SCHEMA)
