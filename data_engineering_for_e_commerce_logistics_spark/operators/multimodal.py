"""Multimodal column operators — image/audio/video as opaque binary.

Design (BASELINE.json north star): media travels as a ``binary``
column plus typed metadata (mime, width/height, sample rate...);
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so each task processes a columnar batch of
blobs without ever collecting to the driver.

The decode kernels themselves are STUBBED here — PIL/ffmpeg are not in
this container — behind ``decoder=`` injection points with a
deterministic fake for tests.  The Spark-side contract (schemas,
batch shapes, partition sizing) is real and tested.

Scale notes: binary columns make parquet row groups large; media
tables should set spark.sql.files.maxPartitionBytes low enough that a
task's batch of blobs fits executor memory, and pipelines should
project metadata-only whenever the blob isn't needed (column pruning
keeps the blob bytes unread on disk).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha_hex", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)

# (media_id, frame_idx, payload) — frame sampling output
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType()),
    ]
)

Decoder = Callable[[bytes], tuple[int, int, int]]  # payload -> (w, h, channels)


def real_image_decoder(payload: bytes) -> tuple[int, int, int]:
    """Decode image dimensions — requires PIL, absent in this
    container.  Kept as the named production hook."""
    raise NotImplementedError(
        "image decoding requires Pillow; inject a decoder= callable "
        "(tests use fake_image_decoder)"
    )


def fake_image_decoder(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in: derives fake dimensions from content
    bytes so tests exercise the full Spark plumbing end-to-end."""
    h = int.from_bytes(payload[:4].ljust(4, b"\0"), "big")
    return (64 + h % 512, 64 + (h // 512) % 512, 3)


def image_features(
    df: DataFrame, decoder: Decoder = real_image_decoder
) -> DataFrame:
    """Per-image metadata extraction as one Arrow-batched map stage.

    mapInPandas receives columnar batches (payload as bytes objects);
    the decoder runs per blob inside the batch loop — no per-row
    Python UDF dispatch overhead, no shuffle."""
    import hashlib

    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            # zip over column arrays, not iterrows(): per-row Series
            # construction dominates an iterrows loop (guide §4.2 —
            # keep the Python-side batch work vectorized/lean)
            for mid, mime, payload in zip(
                pdf["media_id"], pdf["mime"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                w, h, c = decoder(payload)
                rows.append(
                    (
                        mid,
                        mime,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                        w,
                        h,
                        c,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return df.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_n: int = 10,
    n_frames_fn: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Video frame sampling: each blob fans out to ceil(n/every_n)
    frame rows (a generator/UNNEST over binary).  Frame decoding is
    stubbed (n_frames_fn injects the frame counter); the fan-out
    plumbing and output schema are real."""
    import pandas as pd

    count_frames = n_frames_fn or (lambda payload: max(1, len(payload) // 1024))

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            # zip over column arrays, not iterrows() (guide §4.2)
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                for idx in range(0, count_frames(payload), every_n):
                    rows.append((mid, idx, payload[idx : idx + 64]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "payload"])

    return df.mapInPandas(gen, FRAME_SCHEMA)


def media_metadata_only(df: DataFrame) -> DataFrame:
    """Metadata projection — blob column untouched so parquet column
    pruning skips the payload bytes entirely (verify via ReadSchema)."""
    return df.select(
        "media_id", "mime", F.length("payload").alias("n_bytes"), "meta_json"
    )


def synthetic_media_table(spark, documents: DataFrame) -> DataFrame:
    """Build a deterministic binary media table from the documents
    corpus (text bytes as payload) — the container-safe stand-in for a
    real image/audio table, used by tests and the bench."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta_json"),
    )


# (media_id, width, height, payload) — resize output
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType()),
    ]
)

Resizer = Callable[[bytes, int, int], bytes]  # (payload, w, h) -> resized


def real_image_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Resize via PIL — absent in this container; the named production
    hook, same injection pattern as real_image_decoder."""
    raise NotImplementedError(
        "image resizing requires Pillow; inject a resizer= callable "
        "(tests use fake_image_resizer)"
    )


def fake_image_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in: truncates/pads content to width*height
    bytes so the batch shape, schema, and size accounting are real."""
    target = width * height
    return payload[:target].ljust(target, b"\0")


def resize_images(
    df: DataFrame,
    width: int = 64,
    height: int = 64,
    resizer: Resizer = real_image_resizer,
) -> DataFrame:
    """Batch image resize as one Arrow map stage — the standard
    multimodal-pretraining normalization step (fixed input resolution).
    Binary in, binary out, no shuffle; at 100 TB this is the stage to
    pair with spark.sql.files.maxPartitionBytes tuning so a partition
    of blobs fits executor memory AFTER decode (decoded size >> file
    size for compressed formats)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            # zip over column arrays, not iterrows() (guide §4.2)
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                rows.append((mid, width, height, resizer(payload, width, height)))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "payload"]
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)
