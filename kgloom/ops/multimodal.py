"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Decode kernels are gated on library availability, detected at import:
when Pillow is installed (``_HAS_PIL``), real mode
(``batch_fake=False``) decodes image payloads with PIL inside the
``mapInPandas`` batch kernel; without it (this container), real mode
raises ``NotImplementedError`` on the DRIVER (before any job runs) and
test mode applies a deterministic fake.  Audio/video decoders
(ffmpeg/torchaudio) remain stubbed either way.  Everything Spark-side
is real and tested in both modes: schema, ``mapInPandas`` batch shape,
Arrow transfer of binary columns, partition sizing, and the UDF
signatures a real decoder drops into.
"""

from __future__ import annotations

import importlib.util
import sys
from collections.abc import Iterator

_HAS_PIL = importlib.util.find_spec("PIL") is not None

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: schema of a multimodal asset table
ASSET_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("modality", StringType(), False),   # image|audio|video
    StructField("mime", StringType(), True),
    StructField("payload", BinaryType(), True),     # opaque bytes
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("asset_id", StringType(), False),
    StructField("modality", StringType(), False),
    StructField("n_bytes", IntegerType(), True),
    StructField("feature", ArrayType(FloatType()), True),
])

# the batch kernels and the decoders they call reach the Python workers
# by value: a worker need not import kgloom, which a driver may have
# loaded from a sys.path entry the workers do not inherit
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _fake_decode_image(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode+embed: a byte-histogram sketch.
    Replace with a real decoder (PIL → model) in production."""
    if payload is None:
        return None
    buckets = [0] * dim
    for b in payload:
        buckets[b % dim] += 1
    total = max(1, len(payload))
    return [round(c / total, 6) for c in buckets]


def _pil_decode_image(payload: bytes, dim: int = 8):
    """Real image decode kernel (used when Pillow is installed):
    deterministic dim-bucket luminance histogram of the decoded pixels
    — the slot a model embedding drops into."""
    if payload is None:
        return None
    import io

    from PIL import Image
    with Image.open(io.BytesIO(payload)) as im:
        lum = list(im.convert("L").getdata())
    buckets = [0] * dim
    for v in lum:
        buckets[v * dim // 256] += 1
    total = max(1, len(lum))
    return [round(c / total, 6) for c in buckets]


def extract_features(assets: DataFrame, batch_fake: bool = True,
                     dim: int = 8) -> DataFrame:
    """Batched decode/feature-extract over ``mapInPandas``.

    Real-mode contract: each Arrow batch arrives as a pandas DataFrame
    with the full asset schema; the decoder runs per batch (model call
    amortized), yielding FEATURE_SCHEMA rows.  Real mode decodes image
    payloads with PIL when it's installed; non-image modalities fall
    back to the byte-histogram sketch (their decoders — ffmpeg /
    torchaudio — stay stubbed).
    """
    if not batch_fake and not _HAS_PIL:
        raise NotImplementedError(
            "real decode requires Pillow, which is not installed; "
            "run with batch_fake=True")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if batch_fake:
                feats = pdf["payload"].map(
                    lambda p: _fake_decode_image(p, dim))
            else:
                feats = pdf.apply(
                    lambda r: _pil_decode_image(r["payload"], dim)
                    if r["modality"] == "image"
                    else _fake_decode_image(r["payload"], dim), axis=1)
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "n_bytes": pdf["payload"].map(
                    lambda p: len(p) if p is not None else 0),
                "feature": feats,
            })

    return assets.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(assets: DataFrame, width: int = 32, height: int = 32,
                  batch_fake: bool = True) -> DataFrame:
    """Batched image resize over ``mapInPandas`` — schema-preserving
    (ASSET_SCHEMA in, ASSET_SCHEMA out with updated payload/width/
    height).  Real mode uses PIL's ``resize`` and re-encodes PNG when
    Pillow is installed; test mode applies a deterministic fake
    (payload truncated/duplicated to the target-area byte budget).
    Either way the Spark-side batch shape, Arrow binary round-trip,
    and non-image passthrough are real.
    """
    if not batch_fake and not _HAS_PIL:
        raise NotImplementedError(
            "real resize requires Pillow, which is not installed; "
            "run with batch_fake=True")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_img = pdf["modality"] == "image"
            budget = width * height

            def fake(p):
                if p is None:
                    return None
                return (p * (budget // max(1, len(p)) + 1))[:budget]

            def pil_resize(p):
                if p is None:
                    return None
                import io

                from PIL import Image
                with Image.open(io.BytesIO(p)) as im:
                    out = io.BytesIO()
                    im.resize((width, height)).save(out, format="PNG")
                    return out.getvalue()

            kernel = fake if batch_fake else pil_resize
            pdf = pdf.copy()
            pdf.loc[is_img, "payload"] = pdf.loc[is_img, "payload"].map(kernel)
            pdf.loc[is_img, "width"] = width
            pdf.loc[is_img, "height"] = height
            yield pdf

    return assets.mapInPandas(run, ASSET_SCHEMA)


def synth_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table for tests (payload = seeded bytes)."""
    df = spark.range(n).select(
        F.concat(F.lit("asset-"), F.col("id")).alias("asset_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("id") % 3 + 1).cast("int")).alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.repeat(F.concat(F.lit("blob"), F.col("id")), 10),
                 "utf-8").alias("payload"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        (F.col("id") * 500).cast("int").alias("duration_ms"))
    return df
