"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas
functions over ``mapInPandas``.

The Spark-side contract is real and tested — schemas, partitioning,
UDF signatures, batch shapes. The media decode is a deterministic
stand-in (payload digests, raw bytes as 8-bit samples) because no
image/audio libraries ship with the package; a deployment swaps
``_decode_image`` (or the per-batch body) for a Pillow/ffmpeg call
without touching the Spark plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: A multimodal asset row: opaque payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("payload", BinaryType()),
        StructField("source", StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
    ]
)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter for the fixtures: treat each document's UTF-8 bytes as
    an opaque payload so the binary plumbing is exercised end to end
    on driver data."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.col("source"),
    )


def _decode_image(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in decode: dimensions derived from the
    payload digest, so the Spark-side batch shape and schema are
    testable (and oracle-recomputable) without an image library."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    channels = 1 + digest[2] % 4
    return width, height, channels


def extract_image_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas``: bytes
    in, typed features out. One Python worker per input partition;
    batch size follows spark.sql.execution.arrow.maxRecordsPerBatch."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            dims = [_decode_image(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(bytes(p)).hexdigest()
                    ),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    return assets.mapInPandas(batches, IMAGE_FEATURES_SCHEMA)


def binary_payload_features(assets: DataFrame) -> DataFrame:
    """Decode-free payload features (size + digest) — the part of the
    multimodal path that needs no media library, so it runs for real
    everywhere and is oracle-checkable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(bytes(p)).hexdigest()
                    ),
                }
            )

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("sha256", StringType()),
        ]
    )
    return assets.mapInPandas(batches, schema)


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: payload -> payload' (same schema, new bytes).
    The stand-in re-digests the payload with the target dims so
    output is deterministic and size-bounded."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["payload"] = pdf["payload"].map(
                lambda p: hashlib.sha256(
                    bytes(p) + f"{width}x{height}".encode()
                ).digest()
            )
            yield pdf

    return assets.mapInPandas(batches, ASSET_SCHEMA)


def sample_video_frames(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: one input row -> N frame rows
    (flatMap shape via mapInPandas). The stand-in emits
    ``max(1, len(payload) // (every_n * 32))`` deterministic frame
    digests."""

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_index", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            # Vectorized row expansion: per-row frame counts -> numpy
            # repeat/arange for the id/index columns; only the sha256
            # digests (no vectorized form) run in a Python loop, over
            # pre-extracted arrays rather than iterrows rows.
            payloads = [bytes(p) for p in pdf["payload"]]
            n_frames = np.maximum(
                1, np.fromiter((len(p) for p in payloads), dtype="int64")
                // (every_n * 32),
            ) if payloads else np.array([], dtype="int64")
            asset_ids = np.repeat(
                pdf["asset_id"].to_numpy(), n_frames
            )
            frame_idx = np.concatenate(
                [np.arange(n, dtype="int32") for n in n_frames]
            ) if len(n_frames) else np.array([], dtype="int32")
            frames = [
                hashlib.sha256(
                    payloads[row] + int(i).to_bytes(4, "big")
                ).digest()
                for row, n in enumerate(n_frames)
                for i in range(n)
            ]
            yield pd.DataFrame(
                {
                    "asset_id": asset_ids,
                    "frame_index": frame_idx,
                    "frame": frames,
                }
            )

    return assets.mapInPandas(batches, schema)


def payload_sizes_arrow(assets: DataFrame) -> DataFrame:
    """``mapInArrow`` variant of the byte-stats pass: batches arrive
    as pyarrow RecordBatches and the size computation runs in Arrow
    compute kernels — no pandas materialization at all, the lightest
    Python escape hatch (the choice when the per-batch logic is
    expressible in Arrow kernels but not Catalyst expressions).

    Output: (asset_id, n_bytes), one row per asset.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it):
        for batch in it:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("asset_id")),
                    pc.binary_length(
                        batch.column(batch.schema.get_field_index("payload"))
                    ).cast(pa.int64()),
                ],
                names=["asset_id", "n_bytes"],
            )

    return assets.select("asset_id", "payload").mapInArrow(
        batches, "asset_id long, n_bytes long"
    )


def audio_frame_energy(assets: DataFrame, frame_len: int = 256) -> DataFrame:
    """Windowed RMS energy over an audio payload — the
    voice-activity / silence-trim primitive of an audio-data
    pipeline: payload bytes in, one (asset_id, frame_id, rms) row
    per full ``frame_len``-sample frame out (the tail shorter than a
    frame is dropped, standard framing semantics).

    A real decoder would ffmpeg-decode to PCM; the stand-in treats
    each payload byte as an unsigned 8-bit sample centered at 128 —
    deterministic, numpy-vectorized, and (for ASCII payloads)
    reproducible by the DuckDB oracle from the text itself, so the
    WHOLE Spark plumbing — Arrow batching, frame explosion, float
    math — is hash-checked even though the decoder is a stand-in.

    Scale shape: mapInPandas with per-batch numpy reshape — no
    per-sample Python, no shuffle at all (frame rows inherit the
    input partitioning); downstream aggregates see
    (assets x frames) rows, never raw samples.
    """
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames, rms = [], [], []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                x = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(x) // frame_len
                if n == 0:
                    continue
                mat = (
                    x[: n * frame_len]
                    .reshape(n, frame_len)
                    .astype(np.float64)
                    - 128.0
                )
                ids.extend([aid] * n)
                frames.extend(range(n))
                # No numpy-side rounding: np.round is banker's,
                # SQL ROUND is half-away — on an exact boundary they
                # diverge. The raw double is bit-identical across
                # engines (exact integer sums, power-of-2 division,
                # IEEE correctly-rounded sqrt), so rounding belongs
                # to the query layer where both engines share one
                # convention.
                rms.extend(np.sqrt((mat * mat).mean(axis=1)))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_id": pd.Series(frames, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                }
            )

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_id", LongType()),
            StructField("rms", DoubleType()),
        ]
    )
    return assets.mapInPandas(batches, schema)
