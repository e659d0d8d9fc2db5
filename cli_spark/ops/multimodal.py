"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs.

Ops:
- :func:`binarize`              text column → opaque ``blob`` column
- :func:`attach_metadata`       binary → (n_bytes, sha256, magic sniff)
- :func:`media_decode_battery`  per-id synthetic media pushed through every
  real codec in :mod:`cli_spark.ops.media_codecs` (PNG, BMP, PPM, WAV)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd


def binarize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Driver-table helper: treat encoded text as the opaque media blob
    (the shape is what matters; real pipelines read binaryFile/Iceberg
    binary columns directly)."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        F.encode(F.col(text_col), "utf-8").alias("blob"),
    )


def attach_metadata(blobs: DataFrame) -> DataFrame:
    """(id, n_bytes, sha256, magic): pure columnar — no UDF needed even
    for binary columns (length / sha2 / substring work on binary)."""
    return blobs.select(
        "id",
        F.length("blob").alias("n_bytes"),
        F.sha2("blob", 256).alias("sha256"),
        F.hex(F.substring("blob", 1, 3)).alias("magic"),
    )


MEDIA_BATTERY_SCHEMA = (
    "id long, img_w long, img_h long, png_sum long, bmp_sum long, "
    "ppm_sum long, rs_sum long, fr_sum long, wav_n long, wav_sum long"
)


def media_decode_battery(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Oracle-verifiable decode gate for every REAL codec.

    Per id, synthesize media whose content is a closed-form function of
    the id — an (h, w, 3) image with row i valued ``(id + i) % 256``
    (h = 2 + id%4, w = 3 + id%5), a 3-frame concatenated-P6 "video"
    (frame f shifts rows by 17·f), and an n-sample PCM-16 waveform
    ``(id·5 + 3k) % 512 − 256`` (n = 8 + id%9) — then push it through
    PNG (zlib inflate + unfilter), BMP, PPM, nearest-neighbor resize to
    2×2, P6 frame splitting (sample frame 1), and WAV decode. Emitted
    pixel/sample sums are reproducible in pure SQL from the same
    arithmetic, so the driver's DuckDB oracle checks the DECODED BYTES,
    not just plumbing; each roundtrip is also asserted exactly in-UDF.
    Row-varying pixels make the sums sensitive to scanline order,
    stride/padding, and PNG filter reconstruction."""
    ids_df = df.select(F.col(id_col).cast("long").alias("id"))

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from . import media_codecs as mc

        def row(i: int) -> tuple:
            h, w = 2 + i % 4, 3 + i % 5
            rows = (i + np.arange(h, dtype=np.int64)) % 256
            img = np.repeat(rows, w * 3).reshape(h, w, 3).astype(np.uint8)
            png = mc.decode_png(mc.encode_png(img))
            bmp = mc.decode_bmp(mc.encode_bmp(img))
            ppm = mc.decode_ppm(mc.encode_ppm(img))
            for name, got in (("png", png), ("bmp", bmp), ("ppm", ppm)):
                if not np.array_equal(got, img):
                    raise ValueError(f"{name} roundtrip mismatch for id {i}")
            rs = mc.resize_nearest(png, 2, 2)
            vid = b"".join(
                mc.encode_ppm(((img.astype(np.int64) + 17 * f) % 256).astype(np.uint8))
                for f in range(3)
            )
            fr = mc.split_ppm_frames(vid)[1]
            n = 8 + i % 9
            pcm = ((i * 5 + 3 * np.arange(n, dtype=np.int64)) % 512 - 256).astype(
                np.int16
            )
            sr, back = mc.decode_wav(mc.encode_wav(pcm))
            if sr != 16000 or not np.array_equal(back, pcm):
                raise ValueError(f"wav roundtrip mismatch for id {i}")
            return (
                i, w, h,
                int(png.sum()), int(bmp.sum()), int(ppm.sum()),
                int(rs.sum()), int(fr.sum()),
                n, int(back.astype(np.int64).sum()),
            )

        cols = [
            "id", "img_w", "img_h", "png_sum", "bmp_sum", "ppm_sum",
            "rs_sum", "fr_sum", "wav_n", "wav_sum",
        ]
        for pdf in it:
            yield pd.DataFrame([row(int(i)) for i in pdf["id"]], columns=cols)

    return ids_df.mapInPandas(batches, schema=MEDIA_BATTERY_SCHEMA)
