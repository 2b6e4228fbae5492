"""Multimodal-column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The container ships no image/audio codecs, so the DECODE step is a
clearly-marked stub (raises NotImplementedError) with a deterministic
fake twin used by tests. Everything around the decode — schema,
Arrow-batched mapInPandas signature, per-batch shape, partitioning —
is real and tested; swapping the stub for PIL/torchaudio is a one-line
change at deployment.

Design for 100 TB: binary payloads never pass through Python row-by-row;
mapInPandas hands the decoder whole Arrow batches, and metadata-only
queries (filters on width/mime/duration) never touch the payload column
thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal record shape: payload + typed metadata struct
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from the documents fixture: payload =
    UTF-8 bytes of the text (a stand-in for image bytes), metadata
    derived deterministically. Pure Catalyst — encode + struct."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/x-fake-image").alias("mime"),
            (F.pmod(F.xxhash64(text_col), F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(F.xxhash64(F.reverse(F.col(text_col))), F.lit(1080)) + 1)
            .cast("int")
            .alias("height"),
            F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):  # pragma: no cover - deliberate stub
    """REAL decode hook — requires an image codec (PIL/libvips), which
    this container does not ship. The Spark-side plumbing calls
    fake_features() instead; deployments override this."""
    raise NotImplementedError(
        "image decoding requires an image codec (e.g. Pillow); "
        "not available in this environment — use extract_features(fake=True)"
    )


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the payload column via
    mapInPandas — the decoder sees whole pandas batches (the shape a
    real GPU/encoder pipeline needs), never Python-per-row.

    The batch function is deliberately SELF-CONTAINED (stdlib imports
    inside, no references to this module): cloudpickle then ships it by
    value, so executors never need cdc_poc_spark on their PYTHONPATH —
    the property that lets this run on a vanilla cluster / the driver
    harness without addPyFile."""
    if not fake:  # pragma: no cover - codec not shipped in this env
        decode_image(b"")  # raises NotImplementedError with guidance
    feature_dim = FEATURE_DIM

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import pandas as _pd

        def fake_vec(payload):
            if payload is None:
                return [0.0] * feature_dim
            dig = _hl.sha256(bytes(payload)).digest()
            return [
                int.from_bytes(dig[4 * i : 4 * i + 4], "big") / 2**32
                for i in range(feature_dim)
            ]

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "features": [fake_vec(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(batches, schema=_FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan* shape: explode a frame index per
    media item (decode stubbed). Demonstrates the fan-out schema a
    frame sampler produces without a codec."""
    n_frames = (F.col("meta.n_bytes") % 100 + 1).cast("int")
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )


def resize_media(media: DataFrame, max_w: int = 256, max_h: int = 256) -> DataFrame:
    """Resize plumbing: aspect-preserving target-dimension computation
    (pure Catalyst — least(scale factors) on the metadata struct) around
    a stubbed pixel transform. The payload passes through mapInPandas in
    Arrow batches exactly as a real resampler would consume it; only the
    bytes->bytes kernel is fake (identity). Metadata-only consumers get
    the new dimensions without ever reading payloads."""
    scale = F.least(
        F.lit(max_w) / F.col("meta.width"),
        F.lit(max_h) / F.col("meta.height"),
        F.lit(1.0),
    )
    with_target = media.select(
        "media_id",
        "payload",
        "meta",
        F.greatest(F.floor(F.col("meta.width") * scale), F.lit(1))
        .cast("int")
        .alias("target_w"),
        F.greatest(F.floor(F.col("meta.height") * scale), F.lit(1))
        .cast("int")
        .alias("target_h"),
    )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in it:
            # identity kernel: a real deployment decodes + resamples here
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": pdf["payload"],
                    "width": pdf["target_w"],
                    "height": pdf["target_h"],
                }
            )

    return with_target.mapInPandas(batches, schema=out_schema)
