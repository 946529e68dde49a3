"""Raster ↔ vector tile aggregation: per-cell re-encode of image payloads.

The distributed analog of the reference's per-tile result batching / tile
re-write (TileQueryTask.cpp:216-229 batches per tile;
FeatureStore_Transaction.cpp:99-112 swaps whole tile pages): group images
by ``cell_id``, re-encode every payload inside one Arrow-batched pass, and
emit both the re-encoded rows and per-tile metrics.

Invariants enforced (BASELINE.json north_star / FIXTURES.md §4):
* decoded pixels preserved — exact for lossless formats, PSNR ≥ 40 dB for
  lossy (our fake-JPEG re-encode is exactly idempotent, PSNR = inf);
* captions byte-for-byte untouched;
* per-(cell, fmt) row counts preserved.

Scale notes:
* ``tile_reencode_metrics`` / ``mosaic_tiles`` shuffle stored payloads on
  ``cell_id`` (optionally salted with the ``salt`` column for hot cells —
  pass ``salt_hot=True``); payload bytes cross the shuffle exactly once,
  which is unavoidable for a per-tile re-encode of stored images.
* ``synth_reencode_metrics`` has one shape at every scale: one Arrow
  stage does the codec work image by image over evenly spread skinny
  rows, and the JVM folds images into (cell, salt, fmt) rows. No tile
  group reaches Python, so a hot cell costs no straggler task.
* The metrics output is tiny (one row per cell×fmt).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libgeodesk_spark.media import codec
from libgeodesk_spark.sources.images import SIZES, caption_col

METRICS_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("n_images", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("min_psnr", T.DoubleType(), False),   # inf -> 999.0
    T.StructField("caption_sha", T.StringType(), False),
])


def reencode_images(images: DataFrame, target_fmt: str | None = None) -> DataFrame:
    """Re-encode every image payload (same format unless target_fmt).
    Stateless mapInPandas — no shuffle; schema preserved."""
    schema = images.schema

    def go(batches):
        for pdf in batches:
            out_bytes = []
            fmts = []
            for blob in pdf["bytes"]:
                px, fmt = codec.decode(blob)
                to = target_fmt or fmt
                out_bytes.append(codec.encode(px, to))
                fmts.append(to)
            pdf = pdf.copy()
            pdf["bytes"] = out_bytes
            pdf["fmt"] = fmts
            yield pdf

    return images.mapInPandas(go, schema=schema)


def tile_reencode_metrics(images: DataFrame, salt_hot: bool = False) -> DataFrame:
    """Per-(cell_id, fmt) re-encode with fidelity metrics.

    groupBy(cell_id[, salt]).applyInPandas — one shuffle on the tile key.
    With ``salt_hot`` the hot-cell groups split into ``salt`` sub-groups
    (skew mitigation); metrics are then re-aggregated exactly because
    caption_sha is built from a per-group sorted digest — callers wanting
    a single row per cell should re-aggregate counts and treat caption_sha
    per (cell, salt). Default False keeps one group per cell.
    """
    keys = ["cell_id", "salt"] if salt_hot else ["cell_id"]

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for fmt, grp in pdf.groupby("fmt", sort=True):
            # (image_id, caption) — the SAME total order as the gate's
            # JVM-side sort_array(struct(image_id, caption)) digest;
            # image_id alone leaves duplicate ids with differing
            # captions order-ambiguous → spurious sha mismatch
            # (ADVICE r4)
            grp = grp.sort_values(["image_id", "caption"])
            bytes_in = 0
            bytes_out = 0
            min_psnr = float("inf")
            sha = hashlib.sha256()
            for blob, cap in zip(grp["bytes"], grp["caption"]):
                px, f = codec.decode(blob)
                out = codec.encode(px, f)
                px2, _ = codec.decode(out)
                p = codec.psnr(px, px2)
                min_psnr = min(min_psnr, p)
                bytes_in += len(blob)
                bytes_out += len(out)
                sha.update(cap.encode("utf-8"))
                sha.update(b"\x00")
            rows.append({
                "cell_id": int(pdf["cell_id"].iloc[0]),
                "fmt": fmt,
                "n_images": len(grp),
                "bytes_in": bytes_in,
                "bytes_out": bytes_out,
                "min_psnr": 999.0 if min_psnr == float("inf") else min_psnr,
                "caption_sha": sha.hexdigest(),
            })
        return pd.DataFrame(rows, columns=[f.name for f in METRICS_SCHEMA.fields])

    return images.groupBy(*keys).applyInPandas(agg, schema=METRICS_SCHEMA)


#: per-image output of the codec stage of :func:`synth_reencode_metrics`
_IMAGE_METRICS_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("salt", T.LongType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("pid", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("psnr", T.DoubleType(), False),       # inf allowed
])

#: fmt code order of :func:`synth_image_metrics` (codes as in the C kernel)
_FMT_BY_CODE = np.array(["png", "jpeg", "bmp"], dtype=object)


def synth_image_metrics(pids) -> tuple[np.ndarray, ...]:
    """Per-image body of :func:`synth_reencode_metrics`: for every pid,
    synthesize its payload and run encode → decode → re-encode → decode →
    compare. Returns ``(fmt_code, bytes_in, bytes_out, psnr)`` arrays
    aligned with ``pids``; fmt_code indexes ("png", "jpeg", "bmp") and an
    exact round trip has psnr = inf.

    fmt_for/size_for are evaluated as vectorized numpy expressions (4:4:2
    png/jpeg/bmp, SIZES by pid//7, //11 — the sources/images.py
    formulas). With the C kernel loaded the whole leg is one fused call
    per image; an image the kernel refuses falls back to the pure codec
    calls, which are authoritative."""
    size_lut = np.asarray(SIZES, dtype=np.int64)
    pids = np.asarray(pids, dtype=np.int64)
    r10 = pids % 10
    codes = np.where(r10 < 4, 0, np.where(r10 < 8, 1, 2))
    ws = size_lut[(pids // 7) % 3]
    hs = size_lut[(pids // 11) % 3]
    n = len(pids)
    bytes_in = np.empty(n, dtype=np.int64)
    bytes_out = np.empty(n, dtype=np.int64)
    psnrs = np.empty(n, dtype=np.float64)
    enc, dec, psnr = codec.encode, codec.decode, codec.psnr
    synth = codec.synth_pixels
    lib = codec._fc()
    if lib is not None:
        import ctypes
        res = (ctypes.c_int64 * 3)()
        ssd = (ctypes.c_uint64 * 1)()
        nmax = 3 * int(size_lut.max()) ** 2
        ctmp = codec._scratch("pipe_tmp", 3 * nmax + int(size_lut.max()) + 64)
        buf1 = codec._scratch("pipe_b1", nmax + (nmax >> 6) + 4096)
        buf2 = codec._scratch("pipe_b2", nmax + (nmax >> 6) + 4096)
        bufcap = min(buf1.size, buf2.size)
        pipeline = lib.reencode_pipeline
    for i, (pid, w, h, code) in enumerate(zip(
            pids.tolist(), ws.tolist(), hs.tolist(), codes.tolist())):
        px0 = synth(pid, w, h)
        # fused C leg: the same work, only the metrics cross the boundary
        if lib is not None and pipeline(
                px0.ctypes.data, w, h, code, ctmp.ctypes.data,
                buf1.ctypes.data, buf2.ctypes.data, bufcap, res, ssd) == 0:
            bytes_in[i] = res[0]
            bytes_out[i] = res[1]
            psnrs[i] = (float("inf") if res[2] else 10.0 * np.log10(
                255.0 * 255.0 / (ssd[0] / (w * h * 3))))
            continue
        blob = enc(px0, _FMT_BY_CODE[code])
        px, f = dec(blob)
        out = enc(px, f)
        px2, _ = dec(out)
        bytes_in[i] = len(blob)
        bytes_out[i] = len(out)
        psnrs[i] = psnr(px, px2)
    return codes, bytes_in, bytes_out, psnrs


def _synth_image_batches(batches):
    """mapInArrow body: one output row per input (pid, cell_id, salt)."""
    import pyarrow as pa

    for rb in batches:
        pid = rb.column("pid")
        codes, b_in, b_out, psnrs = synth_image_metrics(
            pid.to_numpy(zero_copy_only=False))
        yield pa.RecordBatch.from_arrays(
            [rb.column("cell_id"), rb.column("salt"),
             pa.array(_FMT_BY_CODE[codes], pa.string()), pid,
             pa.array(b_in), pa.array(b_out), pa.array(psnrs)],
            names=_IMAGE_METRICS_SCHEMA.names)


def caption_sha(pid: str) -> Column:
    """Aggregate column: sha256 hex over ``caption_for(pid) + "\\x00"`` for
    the group's pids in ascending order — the JVM form of the per-group
    hashlib caption loop in :func:`tile_reencode_metrics`."""
    captions = F.transform(F.array_sort(F.collect_list(pid)), caption_col)
    return F.sha2(F.concat(F.array_join(captions, "\u0000"),
                           F.lit("\u0000")), 256)


def synth_reencode_metrics(points: DataFrame) -> DataFrame:
    """Fused bench/pipeline variant of attach_payload →
    tile_reencode_metrics(salt_hot=True): synthesize every payload and
    re-encode it inside one Arrow stage, so payload bytes never cross a
    shuffle. One output row per (cell_id, salt, fmt) group.

    Shape: the skinny (pid, cell_id, salt) rows are spread evenly over
    ``defaultParallelism`` partitions, one ``mapInArrow`` stage runs the
    per-image work (:func:`synth_image_metrics`) over whole Arrow batches
    and emits one row per image, and a JVM ``groupBy(cell_id, salt,
    fmt)`` folds the images into the metrics row. The sums and the min
    are associative, and caption_sha is rebuilt in the JVM from the
    group's pids in pid order (== image_id order, 'img%012d' % pid) with
    :func:`~libgeodesk_spark.sources.images.caption_col`. No group ever
    reaches Python, so work is balanced per image however skewed the
    cells are."""
    par = points.sparkSession.sparkContext.defaultParallelism
    # project to the three columns the codec stage reads BEFORE the
    # exchange. A round-robin repartition by number is exempt from AQE
    # coalescing, which would pack the skinny input into a few
    # partitions and serialize the codec work
    per_image = points.select("pid", "cell_id", "salt").repartition(par) \
        .mapInArrow(_synth_image_batches, schema=_IMAGE_METRICS_SCHEMA)
    mn = F.col("min_psnr")
    return per_image.groupBy("cell_id", "salt", "fmt").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.min("psnr").alias("min_psnr"),
        caption_sha("pid").alias("caption_sha"),
    ).select("cell_id", "fmt", "n_images", "bytes_in", "bytes_out",
             F.when(mn == float("inf"), 999.0).otherwise(mn)
             .alias("min_psnr"), "caption_sha")


def mosaic_tiles(images: DataFrame, tile_px: int = 64,
                 salt_hot: bool = False) -> DataFrame:
    """Vector→raster: render one raster per cell by averaging the decoded
    pixels of all images in the cell into a tile_px × tile_px canvas placed
    by each image's in-cell position. Returns (cell_id, n_images, tile_png).

    ``salt_hot=True`` is the skew path: the per-pixel (sum, count)
    accumulators are ASSOCIATIVE, so the hot cell's images split into
    ``salt`` sub-groups rendered in parallel, then one tiny second
    aggregation merges the per-salt canvases per cell (output bytes are
    per-salt sums+counts, two f64 planes — KBs per cell, vs the images'
    MBs; the measured hot cell at sf0.1 holds 456k images in ONE group
    without it, serializing the whole stage behind a single task).
    The merge only reassociates the float accumulation, so salted and
    unsalted agree to summation order — byte-identical on the gate
    fixture (test-asserted); in pathological cases reassociation can
    move one averaged channel by 1 ulp across a rounding boundary.
    ``n_images`` is integer-exact either way.
    """
    out_schema = T.StructType([
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("tile_png", T.BinaryType(), False),
    ])

    def accumulate(pdf: pd.DataFrame):
        from libgeodesk_spark.mercator import cell_bounds
        cell = int(pdf["cell_id"].iloc[0])
        mnx, mny, _, _ = cell_bounds(cell)
        extent = 1 << (32 - int((cell >> 24) & 0xF))
        acc = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), dtype=np.float64)
        for blob, x, y in zip(pdf["bytes"], pdf["x"], pdf["y"]):
            px, _ = codec.decode(blob)
            gx = min(int((int(x) - mnx) * tile_px / extent), tile_px - 1)
            gy = min(int((int(y) - mny) * tile_px / extent), tile_px - 1)
            acc[gy, gx] += px.mean(axis=(0, 1))
            cnt[gy, gx] += 1
        return cell, acc, cnt

    def finish(cell: int, n: int, acc, cnt) -> dict:
        avg = np.where(cnt > 0, acc / np.maximum(cnt, 1), 0).astype(np.uint8)
        return {"cell_id": cell, "n_images": n,
                "tile_png": codec.encode(avg, "png")}

    if not salt_hot:
        def render(pdf: pd.DataFrame) -> pd.DataFrame:
            cell, acc, cnt = accumulate(pdf)
            return pd.DataFrame([finish(cell, len(pdf), acc, cnt)])

        return images.groupBy("cell_id").applyInPandas(
            render, schema=out_schema)

    part_schema = T.StructType([
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("acc", T.BinaryType(), False),
        T.StructField("cnt", T.BinaryType(), False),
    ])

    def render_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        cell, acc, cnt = accumulate(pdf)
        return pd.DataFrame([{"cell_id": cell, "n_images": len(pdf),
                              "acc": acc.tobytes(), "cnt": cnt.tobytes()}])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), dtype=np.float64)
        for a, c in zip(pdf["acc"], pdf["cnt"]):
            acc += np.frombuffer(a, dtype=np.float64).reshape(acc.shape)
            cnt += np.frombuffer(c, dtype=np.float64).reshape(cnt.shape)
        return pd.DataFrame([finish(int(pdf["cell_id"].iloc[0]),
                                    int(pdf["n_images"].sum()), acc, cnt)])

    partials = images.groupBy("cell_id", "salt").applyInPandas(
        render_partial, schema=part_schema)
    return partials.groupBy("cell_id").applyInPandas(
        merge, schema=out_schema)
