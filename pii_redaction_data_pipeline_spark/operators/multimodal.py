"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

decode_image_meta reads dimensions, in order:
  1. REAL PNG / JPEG header parses (functions/png_codec.py): the IHDR
     chunk or the first SOF marker, no pixel decode, no dependency;
     tests feed them generated PNG and JPEG bytes.
  2. Pillow, when present, for every other format.
  3. Deterministic stub — fake dimensions derived from the content
     hash, so the Spark-side plumbing (schema, partition-preserving
     mapInPandas, Arrow batch shape) stays real for non-image bytes.
There is no resize or video-frame path.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "doc_id long, n_bytes int, sha256_prefix string, width int, height int, codec string"
)


def attach_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake media bytes: the utf-8 text itself. In
    production this column comes from the lake (parquet BINARY)."""
    return df.withColumn("media", F.col(text_col).cast("binary"))


def _decode_one(buf: bytes) -> tuple[int, int, str]:
    from pii_redaction_data_pipeline_spark.functions.png_codec import (
        JPEG_MAGIC,
        PNG_MAGIC,
        jpeg_dims,
        png_dims,
    )

    if buf[:8] == PNG_MAGIC:  # real header parse, dependency-free:
        # dims come from the fixed-offset IHDR chunk, no pixel decode
        try:
            w, h = png_dims(buf)
            return w, h, "png"
        except Exception:
            pass  # malformed PNG falls through to Pillow/stub
    if buf[:2] == JPEG_MAGIC:  # real SOF-marker scan, dependency-free
        # (the reference accepts jpg/jpeg uploads:
        # frontend/src/pages/ProcessDocs/index.jsx:130-133)
        try:
            w, h = jpeg_dims(buf)
            return w, h, "jpeg"
        except Exception:
            pass  # malformed JPEG falls through to Pillow/stub
    try:  # Pillow for non-PNG formats, when available
        import io

        from PIL import Image  # noqa: PLC0415

        img = Image.open(io.BytesIO(buf))
        return img.width, img.height, img.format or "unknown"
    except Exception:
        # deterministic fake: dims derived from content hash
        h = hashlib.sha256(buf).digest()
        return 64 + h[0] % 192, 64 + h[1] % 192, "stub"


def decode_image_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas over (id, media): emits typed metadata per blob.
    Partition-preserving, Arrow-batched; the per-blob Python is the
    decode itself (unavoidable for codecs)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for buf in pdf["media"]:
                b = bytes(buf) if buf is not None else b""
                w, h, codec = _decode_one(b)
                metas.append(
                    (
                        len(b),
                        hashlib.sha256(b).hexdigest()[:16],
                        w,
                        h,
                        codec,
                    )
                )
            meta = pd.DataFrame(
                metas, columns=["n_bytes", "sha256_prefix", "width", "height", "codec"]
            )
            # Arrow assigns output columns BY NAME: the schema says
            # doc_id, so a caller's id column must be relabeled or every
            # task would crash on the name mismatch
            ids = pdf[[id_col]].reset_index(drop=True)
            ids.columns = ["doc_id"]
            yield pd.concat([ids, meta], axis=1)

    return df.select(id_col, "media").mapInPandas(op, schema=MEDIA_META_SCHEMA)
