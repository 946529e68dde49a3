"""Seeded input generator for the two workloads.

Everything the engine sees is made here from ``--seed`` (and the scale
preset): the lineitem tables the derived points come from, the query
parameters of the ``spatial_queries`` mix and its SnapshotTable batches
(the ``ingest_scan`` ops), and the ``tile_reencode`` pid shift. The same
seed gives the same inputs, byte for byte.

Every parameter band below says why it was chosen. The shape of the
``spatial_queries`` mix (how many ops of each kind per cycle, and their
order) is fixed; the seed only moves positions and picks values inside
each band, so the mix costs about the same on every seed.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from libgeodesk_spark.sources.points import SPAN, X0, Y0

# ---------------------------------------------------------------------------
# scale presets
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Scale:
    name: str
    #: orders in the spatial_queries lineitem; points = lines x repl
    spatial_orders: int
    #: replicas of the derived points in the GOL layout (bench.bench_points)
    spatial_repl: int
    #: orders in the tile_reencode lineitem (one pass re-encodes all of it)
    tile_orders: int
    #: rows per ingest_scan commit
    ingest_batch_rows: int


SCALES = {
    # Sized so that one run (three set-ups, the measured loop and the
    # checks) stays near a minute at local[4]; see README.md "Sizing".
    "bench": Scale("bench", spatial_orders=4096, spatial_repl=4,
                   tile_orders=2560, ingest_batch_rows=20_000),
    # sf0.001-sized inputs for the self-test: every code path, tiny data.
    "sf0.001": Scale("sf0.001", spatial_orders=384, spatial_repl=1,
                     tile_orders=256, ingest_batch_rows=2_000),
}

#: the spatial_queries point set does not depend on --seed: the seed moves
#: the queries, so every seed reads the same layout and answers stay
#: comparable across seeds
SPATIAL_POINTS_SEED = 20_260_101


def write_lineitem(path: str, n_orders: int, seed: int,
                   key_offset: int = 0) -> int:
    """A lineitem table with the two columns ``derived_points`` reads:
    TPC-H shaped, 1-7 lines per order. ``key_offset`` shifts every
    orderkey, which shifts every derived pid (and so formats, sizes and
    pixels) while the pid % 10 hot/uniform split stays 20/80.
    Returns the number of lines."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n_orders)
    keys = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64) * 4
                     + key_offset, lines)
    linenos = np.concatenate([np.arange(1, k + 1, dtype=np.int32)
                              for k in lines])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"l_orderkey": keys, "l_linenumber": linenos}),
                   os.path.join(path, "lineitem.parquet"))
    return int(lines.sum())


# ---------------------------------------------------------------------------
# polygons
# ---------------------------------------------------------------------------

def star_ring(rng: np.random.Generator, n_vertices: int, cx: int, cy: int,
              radius: int) -> list[np.ndarray]:
    """A closed, simple star-shaped ring: sorted angles, radii in
    [0.55, 1] x radius. Simple by construction (one vertex per angle)."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n_vertices))
    rad = radius * rng.uniform(0.55, 1.0, n_vertices)
    xs = np.round(cx + rad * np.cos(ang)).astype(np.int64)
    ys = np.round(cy + rad * np.sin(ang)).astype(np.int64)
    ring = np.stack([xs, ys], axis=1)
    return [np.vstack([ring, ring[:1]])]


def _centre(rng: np.random.Generator, margin: int) -> tuple[int, int]:
    """A point of the data window at least ``margin`` from its edges."""
    return (int(rng.integers(X0 + margin, X0 + SPAN - margin)),
            int(rng.integers(Y0 + margin, Y0 + SPAN - margin)))


# ---------------------------------------------------------------------------
# spatial_queries mix
# ---------------------------------------------------------------------------

#: window side bands (units; a zoom-12 cell is 1,048,576 units wide).
#: small: inside one zoom-12 cell, the pure pruning case; medium: about a
#: cell, a few files; large: about a quarter of the data window's side,
#: the scan-bound case.
WINDOW_BANDS = {
    "small": (64_000, 256_000),
    "medium": (512_000, 1_048_576),
    "large": (1_500_000, 2_500_000),
}

#: kNN k bands covering 10 to 500, k drawn log-uniform: k sets how many
#: ring rounds the driver runs before the stop test passes, which is the
#: knn cost model.
KNN_BANDS = {"low": (10, 70), "high": (70, 500)}

#: small zones, the cheap side of the join cliff: <= 64 vertices, so the
#: boundary band is thin and most matches take the INSIDE (JVM) branch.
SMALL_ZONE = {"vertices": (16, 64), "radius": (500_000, 1_500_000)}

#: complex zones, the far side of the cliff: hundreds of vertices, so
#: driver-side prepare_zone and the Arrow boundary kernel dominate. The
#: band is 300-400 vertices at 1.75-2M units: at 4 cpus one such join
#: costs about a quarter of a cycle, so it cannot dominate a run (a
#: 2000-vertex zone takes ~4x longer; see README.md "Sizing"), and the
#: narrow band keeps its cost from swinging with the seed (300-600
#: vertices at 1.5-2M units spread its latency 2.0-3.2 s).
COMPLEX_ZONE = {"vertices": (300, 400), "radius": (1_750_000, 2_000_000)}

#: way-join zones: 32-64 vertices at 1.5-2M units. Way bboxes span most
#: of the data window, so a smaller zone raises the join zoom and
#: multiplies the per-way cell rows (measured: a 24-vertex zone at 1M
#: units is 3-4x slower than this band); the band keeps that cost flat.
WAY_ZONE = {"vertices": (32, 64), "radius": (1_500_000, 2_000_000)}

#: one cycle of the mix; the same shape on every seed, and every op
#: kind in it, so the loop stops at cycle boundaries with the proportions
#: intact
CYCLE = ("window:small", "knn:low", "zone", "window:medium", "tiling",
         "knn:high", "window:large", "complex", "way")

INTERACTIVE_KINDS = ("window", "knn", "zone")

#: cycle number of the warm-up ops: a parameter stream of its own, so the
#: warm-up never runs a measured op ahead of time
WARMUP_CYCLE = 1_000_000


@dataclass(frozen=True)
class Op:
    """One query of the mix. ``params`` holds only plain values, so an op
    is also the key of its cached oracle answer."""
    index: int
    kind: str          # window | knn | zone | complex | way | tiling
    params: tuple

    @property
    def key(self) -> str:
        digest = hashlib.sha1(repr(self.params).encode()).hexdigest()[:16]
        return f"{self.kind}:{digest}"


def spatial_cycle(seed: int, cycle: int, start_index: int) -> list[Op]:
    """The ``cycle``-th cycle of the mix for ``seed``."""
    rng = np.random.default_rng([seed, cycle])
    ops: list[Op] = []
    way_pred = ("intersects", "within")[cycle % 2]
    for slot in CYCLE:
        kind, _, band = slot.partition(":")
        i = start_index + len(ops)
        if kind == "window":
            lo, hi = WINDOW_BANDS[band]
            side = int(rng.integers(lo, hi))
            x0, y0 = _centre(rng, side // 2 + 1)
            p = (x0 - side // 2, y0 - side // 2, x0 + side // 2,
                 y0 + side // 2)
        elif kind == "knn":
            lo, hi = KNN_BANDS[band]
            k = int(np.exp(rng.uniform(np.log(lo), np.log(hi))))
            qx, qy = _centre(rng, 0)
            p = (qx, qy, k)
        elif kind in ("zone", "complex", "way"):
            band_d = {"zone": SMALL_ZONE, "complex": COMPLEX_ZONE,
                      "way": WAY_ZONE}[kind]
            nv = int(rng.integers(*band_d["vertices"]))
            radius = int(rng.integers(*band_d["radius"]))
            cx, cy = _centre(rng, radius + 1)
            ring = star_ring(rng, nv, cx, cy, radius)[0]
            verts = tuple((int(x), int(y)) for x, y in ring)
            p = (verts, way_pred) if kind == "way" else (verts,)
        elif kind == "tiling":
            p = ()
        else:
            raise ValueError(slot)
        ops.append(Op(i, kind, p))
    return ops


# ---------------------------------------------------------------------------
# tile_reencode
# ---------------------------------------------------------------------------

def tile_key_offset(seed: int) -> int:
    """Orderkey shift for ``seed``: moves every pid, so formats, sizes and
    pixels change, while pid % 10 (and with it the 80/20 cell skew) keeps
    its distribution."""
    return int(np.random.default_rng([seed, 7]).integers(0, 1 << 24)) * 4


# ---------------------------------------------------------------------------
# ingest_scan
# ---------------------------------------------------------------------------

#: one ingest_scan cycle (run after each cycle of the spatial_queries
#: read mix): a commit, then SCANS_PER_COMMIT reads of the snapshot it
#: made, and a compact every COMPACT_EVERY cycles - the write/read ratio
#: of an ingest table that is also queried, with maintenance every few
#: commits
SCANS_PER_COMMIT = 3
COMPACT_EVERY = 2

#: planned_scan window side band: 1-2 zoom-12 cells, so manifest pruning
#: has files to skip and the residual filter has rows to drop
SCAN_SIDE = (1_048_576, 2_097_152)

#: batch points cluster around a few seeded hotspots (sd 600k units),
#: like sensor or upload bursts, so zorder clustering has something to do
N_HOTSPOTS = 4


def ingest_batch(path: str, seed: int, batch: int, rows: int) -> str:
    """Write one seeded append batch (pid, x, y, cell_id) as parquet;
    pids are unique across batches."""
    rng = np.random.default_rng([seed, 11, batch])
    hx = rng.integers(X0 + SPAN // 8, X0 + SPAN - SPAN // 8, N_HOTSPOTS)
    hy = rng.integers(Y0 + SPAN // 8, Y0 + SPAN - SPAN // 8, N_HOTSPOTS)
    which = rng.integers(0, N_HOTSPOTS, rows)
    x = np.clip(np.round(hx[which] + rng.normal(0, 600_000, rows)),
                X0, X0 + SPAN - 1).astype(np.int64)
    y = np.clip(np.round(hy[which] + rng.normal(0, 600_000, rows)),
                Y0, Y0 + SPAN - 1).astype(np.int64)
    row = (0x7FFFFFFF - y) >> 20
    col = (x + (1 << 31)) >> 20
    cell = (12 << 24) + (row << 12) + col
    pid = np.arange(rows, dtype=np.int64) + batch * rows
    out = os.path.join(path, f"batch-{batch:04d}.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"pid": pid, "x": x, "y": y, "cell_id": cell}),
                   out)
    return out


def scan_windows(seed: int, commit: int) -> list[tuple[int, int, int, int]]:
    """The scan windows that follow the ``commit``-th commit (one commit
    per cycle, so also the ``commit``-th cycle)."""
    rng = np.random.default_rng([seed, 13, commit])
    out = []
    for _ in range(SCANS_PER_COMMIT):
        side = int(rng.integers(*SCAN_SIDE))
        x0, y0 = _centre(rng, side // 2 + 1)
        out.append((x0 - side // 2, y0 - side // 2, x0 + side // 2,
                    y0 + side // 2))
    return out


# ---------------------------------------------------------------------------
# codec microbench sample
# ---------------------------------------------------------------------------

def codec_sample(pids: np.ndarray, seed: int, n: int = 240) -> list[int]:
    """A seeded sample of the workload's own pids for the driver-side
    codec microbench."""
    rng = np.random.default_rng([seed, 17])
    pids = np.asarray(pids, dtype=np.int64)
    return sorted(int(p) for p in rng.choice(pids, min(n, len(pids)),
                                             replace=False))
