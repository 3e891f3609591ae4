"""Image table → thematic footprint polygons, plus the per-row payload
invariant (BASELINE.json input_hint: after any tiling/shuffle pass,
decoded pixels must be allclose to the source — PSNR >= 40 dB for the
lossy variant — and the caption unchanged).

``extract_footprints`` is a mapInPandas operator: each Arrow batch of
(image_id, bytes, w, h, fmt, phash, caption) rows yields (image_id,
theme_id, geom_wkb, fp_area, caption, pixel_sha) rows. No per-row Python
at the Spark level; the inner decode/trace kernels are NumPy.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brdrq_spark.geom import rings_area, rings_to_wkb
from brdrq_spark.raster.footprint import footprint_from_pixels
from brdrq_spark.raster.png import decode_image
from brdrq_spark.worker import drop_zip_finders

FOOTPRINT_SCHEMA = T.StructType(
    [
        T.StructField("theme_id", T.StringType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("geom_wkb", T.BinaryType()),
        T.StructField("fp_area", T.DoubleType()),
        T.StructField("caption", T.StringType()),
        T.StructField("pixel_sha", T.StringType()),
    ]
)


def pixel_sha(data: bytes, w: int, h: int, fmt: str) -> str:
    """Content hash of the decoded pixels (bytes may differ between
    equal images of different fmt; pixels are the invariant)."""
    return hashlib.sha1(decode_image(data, w, h, fmt).tobytes()).hexdigest()


def extract_footprints(images: DataFrame) -> DataFrame:
    """Vectorized raster→vector pass (SURVEY.md §7.1 M6)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                # decode ONCE per image: the footprint trace and the
                # pixel-content hash consume the same decoded array
                # (previously each ran its own decode_image — the
                # decode is the operator's dominant per-row cost)
                img = decode_image(r.bytes, int(r.w), int(r.h), r.fmt)
                rings = footprint_from_pixels(
                    img, int(r.w), int(r.h), int(r.phash)
                )
                out.append(
                    {
                        "theme_id": f"fp_{r.image_id}",
                        "image_id": r.image_id,
                        "geom_wkb": rings_to_wkb(rings),
                        "fp_area": rings_area(rings),
                        "caption": r.caption,
                        "pixel_sha": hashlib.sha1(img.tobytes()).hexdigest(),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FOOTPRINT_SCHEMA.fields])

    return images.mapInPandas(batches, schema=FOOTPRINT_SCHEMA)


def verify_invariants(images_after: DataFrame, expected: DataFrame) -> DataFrame:
    """Join post-pipeline rows to the pre-pipeline record and check the
    invariant: pixel hash equal (allclose ⇒ hash-equal for our lossless
    codecs; the lossy variant is quantized at write time, so its decode
    is also exact) AND caption equal. Returns per-row booleans."""

    @F.pandas_udf(T.StringType())
    def sha_udf(b: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.Series:
        drop_zip_finders()
        return pd.Series(
            [
                pixel_sha(bb, int(ww), int(hh), ff)
                for bb, ww, hh, ff in zip(b, w, h, fmt)
            ]
        )

    exp = expected.select(
        "image_id",
        F.col("caption").alias("caption_expected"),
        sha_udf("bytes", "w", "h", "fmt").alias("sha_expected"),
    )
    act = images_after.select(
        "image_id",
        F.col("caption").alias("caption_actual"),
        sha_udf("bytes", "w", "h", "fmt").alias("sha_actual"),
    )
    return act.join(exp, "image_id").select(
        "image_id",
        (F.col("sha_actual") == F.col("sha_expected")).alias("pixels_ok"),
        (F.col("caption_actual") == F.col("caption_expected")).alias("caption_ok"),
    )
