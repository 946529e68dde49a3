"""Synthetic image+caption table (the BASELINE.json input_hint shape).

Builds the full fact table — (image_id:string, bytes:binary, w:int, h:int,
fmt:string, caption:string, phash:bigint) plus spatial columns (x, y,
cell_id, salt) — deterministically from the derived points (see
sources/points.py). Pixel payloads come from the deterministic codec
(media/codec.py) inside an Arrow ``mapInPandas`` (batched; no per-row
Python at the Spark API layer — the per-image encode loop is inherent to
any codec and runs over numpy arrays).

Captions deliberately include non-ASCII + quotes (FIXTURES.md) so the
byte-equality invariant is stressed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libgeodesk_spark.media import codec
from libgeodesk_spark.sources.points import derived_points

SIZES = (16, 32, 64)

IMAGE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("pid", T.LongType(), False),
    T.StructField("x", T.LongType(), False),
    T.StructField("y", T.LongType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("salt", T.LongType(), False),
    T.StructField("phash", T.LongType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
])


def caption_for(pid: int) -> str:
    return f'caption {pid} — café "№{pid % 97}"'


def caption_col(pid: Column) -> Column:
    """:func:`caption_for` as a JVM Column expression (pmod = Python's %)."""
    return F.concat(F.lit("caption "), pid.cast("string"),
                    F.lit(' — café "№'), F.pmod(pid, F.lit(97)).cast("string"),
                    F.lit('"'))


def fmt_for(pid: int) -> str:
    # 4:4:2 png/jpeg/bmp weighting (FIXTURES.md)
    r = pid % 10
    return "png" if r < 4 else ("jpeg" if r < 8 else "bmp")


def size_for(pid: int) -> tuple[int, int]:
    return SIZES[(pid // 7) % 3], SIZES[(pid // 11) % 3]


def attach_payload(points: DataFrame, parallelism: int | None = None) -> DataFrame:
    """points (image_id, pid, x, y, cell_id, salt, phash) → full image rows.

    ``parallelism``: explicitly repartition before the (CPU-heavy) payload
    generation. AQE coalesces upstream shuffles by BYTE size — a skinny
    pid stream collapses to one partition, which would serialize the
    per-image codec work; the explicit repartition restores width
    (classic AQE-before-expensive-UDF footgun).
    """
    if parallelism is None:
        parallelism = points.sparkSession.sparkContext.defaultParallelism
    if parallelism:
        points = points.repartition(parallelism)

    def gen(batches):
        for pdf in batches:
            pids = pdf["pid"].to_numpy()
            blobs, ws, hs, fmts, caps = [], [], [], [], []
            for pid in pids:
                pid = int(pid)
                w, h = size_for(pid)
                fmt = fmt_for(pid)
                px = codec.synth_pixels(pid, w, h)
                blobs.append(codec.encode(px, fmt))
                ws.append(w)
                hs.append(h)
                fmts.append(fmt)
                caps.append(caption_for(pid))
            out = pdf[["image_id", "pid", "x", "y", "cell_id", "salt", "phash"]].copy()
            out["bytes"] = blobs
            out["w"] = pd.array(ws, dtype="int32")
            out["h"] = pd.array(hs, dtype="int32")
            out["fmt"] = fmts
            out["caption"] = caps
            yield out

    return points.mapInPandas(gen, schema=IMAGE_SCHEMA)


def images_table(spark: SparkSession, sf_dir: str,
                 parallelism: int | None = None) -> DataFrame:
    return attach_payload(derived_points(spark, sf_dir), parallelism)
