"""Zone (polygon build side) preparation and cell-cover classification.

A *zone* is the analog of the reference's prepared filter geometry: a
polygon (1 outer ring + holes) or multipolygon, segmentized and classified
against the tile grid. The reference builds monotone chains packed in a
Hilbert R-tree and asks ``acceptTile`` per tile (-1 reject / 0 full test /
1 turbo-accept) — src/filter/WithinFilter.cpp:164-171,
src/geom/index/MCIndex.cpp:193-207 ``locateBox``.

The Spark-first analog computed here, once, driver-side:

* ``edges``: an (M,4) int64 array of all ring edges (the "chain index" —
  at our regional zone sizes a flat vectorized edge array beats a tree;
  the R-tree's O(log n) matters for single-point probes, not for
  Arrow-batch probes which amortize the scan across thousands of points),
* ``cover``: {cell_id → INSIDE(1) | BOUNDARY(0)} at the index zoom.
  INSIDE cells are "turbo" cells: every point in them is accepted with no
  geometry test (WithinFilter.cpp:143-161 fast-accept). BOUNDARY cells run
  the vectorized locate kernel. OUTSIDE cells are simply absent — this is
  the partition-pruning set.

The INSIDE/BOUNDARY/OUTSIDE cell classification is the same idea as the
raster-interval approximation for polygon joins in the public literature
(Raster Intervals, SIGMOD 2023; Raptor's raster-vector co-processing,
VLDB 2019) — here with an exact refinement step instead of approximation.

Cell classification is exact, and built in whole-array int64 numpy in
O(Σ edge bbox cells + cover cells), not O(cells × edges):

* BOUNDARY: a cell is BOUNDARY iff some edge touches its closed box.
  Every edge's bbox cover is expanded at once (in bounded chunks) and
  each candidate keeps the separating-line test: the edge misses the box
  iff all 4 corners lie strictly on one side of its line (same result as
  the reference's ``locateBox``: box-boundary intersection, corner
  locate, contained-chain check, MCIndex.cpp:193-207; an edge inside the
  box is caught by the bbox-overlap arm of the test).
* INSIDE / OUTSIDE: a cell no edge touches contains no boundary point,
  so the crossing parity of its bottom-left corner decides it. All
  corners of a cover row share one y, so the east ray of every corner in
  the row crosses a given edge iff the corner's x is at most one integer
  threshold ``T`` per (edge, row) — ``kernel.locate_points``' half-open
  rule (``low_y <= y < high_y`` and strictly west of the edge) solved
  for x with an exact int64 ceiling division. A histogram of thresholds
  per row and a suffix sum give every corner's crossing count at once.

Why per-corner parity and not one locate per run of adjacent non-boundary
cells: neighbouring closed integer boxes leave a 1-unit gap between
them, and an edge with integer endpoints can pass through that gap
touching neither box, so two adjacent non-boundary cells can still
differ in class.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.mercator import col_from_x, row_from_y

INSIDE = 1
BOUNDARY = 0
OUTSIDE = -1

#: Exactness contract for int64 cross products (see kernel module docstring).
MAX_ZONE_SPAN = 1 << 30


def pack_colrow(col, row):
    """Packed cover key: ``col << 20 | row`` — valid for zoom ≤ 20 (the
    12-bit cell_id packing of Tile.h caps at zoom 12; finer covers need a
    wider key)."""
    return (np.asarray(col, dtype=np.int64) << 20) | np.asarray(row, dtype=np.int64)


@dataclass(frozen=True)
class PreparedZone:
    """Broadcastable prepared polygon: flat edge array + cell cover.

    ``cover`` is keyed by :func:`pack_colrow` keys at ``zoom`` — by default
    FINER than the zoom-12 storage cells (budget-fitted up to COVER_ZOOM=20),
    shrinking the BOUNDARY band so the turbo (no-geometry) path dominates
    the probe side, the same reason the reference walks its tile pyramid to
    the finest level before testing features (TileIndexWalker)."""

    zone_id: str
    edges: np.ndarray                    # (M,4) int64 [ax, ay, bx, by]
    bbox: tuple[int, int, int, int]      # min_x, min_y, max_x, max_y
    zoom: int
    cover: dict[int, int] = field(repr=False)  # pack_colrow -> INSIDE|BOUNDARY

    def locate(self, px, py) -> np.ndarray:
        return kernel.locate_points(px, py, self.edges)

    @property
    def inside_cells(self) -> list[int]:
        return [c for c, v in self.cover.items() if v == INSIDE]

    @property
    def boundary_cells(self) -> list[int]:
        return [c for c, v in self.cover.items() if v == BOUNDARY]


def rings_to_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Concatenate closed rings (each (k,2) int arrays, first==last vertex)
    into a flat (M,4) edge array. Unclosed rings are closed implicitly,
    mirroring the reference's ``duplicateFirst`` for area ways
    (src/feature/WayCoordinateIterator.cpp:21-26)."""
    chunks = []
    for r in rings:
        r = np.asarray(r, dtype=np.int64).reshape(-1, 2)
        if len(r) < 2:
            continue
        if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
            r = np.vstack([r, r[:1]])
        chunks.append(np.hstack([r[:-1], r[1:]]))
    if not chunks:
        return np.zeros((0, 4), dtype=np.int64)
    return np.vstack(chunks)


#: finest cover granularity the packed (col<<20|row) key supports; actual
#: zoom per zone is fitted to the cell budget below. Finer covers shrink
#: the BOUNDARY band quadratically-vs-area (perimeter cells halve per
#: zoom step), i.e. fewer rows pay the Arrow/Python locate kernel —
#: measured at sf0.1x64: zoom 16 covers put 16% of candidate rows in the
#: band; zoom 18 puts ~4%.
COVER_ZOOM = 20

#: adaptive-zoom budget: keep a zone's bbox cover under ~this many cells so
#: broadcast size and driver prep stay bounded for continent-scale zones
#: (2^17 cells x ~13 B/row ≈ 1.7 MB broadcast per zone, still tiny)
MAX_COVER_CELLS = 1 << 17


def _fit_zoom(min_x: int, min_y: int, max_x: int, max_y: int,
              want: int = COVER_ZOOM) -> int:
    """Largest zoom ≤ ``want`` whose bbox cover stays under MAX_COVER_CELLS
    — a giant zone gets a coarser cover (fewer, bigger turbo cells; the
    boundary band stays exact) instead of an unbounded one."""
    z = want
    while z > 0:
        cols = ((max_x - min_x) >> (32 - z)) + 2
        rows = ((max_y - min_y) >> (32 - z)) + 2
        if cols * rows <= MAX_COVER_CELLS:
            return z
        z -= 1
    return 0


def cover_rle(keys: np.ndarray, vals: np.ndarray):
    """Run-length encode a packed-key (col<<20|row) cover into
    (rows, c0, c1, cover) arrays — one row per (cell row, contiguous
    col run, cover class). THE canonical encoder: both the driver-built
    broadcast table (spatial_join.zone_intervals_df) and the
    executor-side artifacts (operators/zoneprep) call this, so the
    intervals= join path can never desynchronize from the default
    path's representation."""
    out_r, out_c0, out_c1, out_cv = [], [], [], []
    cols = keys >> 20
    rows = keys & 0xFFFFF
    for cv in (INSIDE, BOUNDARY):
        m = vals == cv
        if not m.any():
            continue
        order = np.lexsort((cols[m], rows[m]))
        rs, cs = rows[m][order], cols[m][order]
        newrun = np.ones(len(rs), dtype=bool)
        newrun[1:] = (rs[1:] != rs[:-1]) | (cs[1:] != cs[:-1] + 1)
        starts = np.flatnonzero(newrun)
        ends = np.concatenate([starts[1:] - 1, [len(rs) - 1]])
        out_r.append(rs[starts])
        out_c0.append(cs[starts])
        out_c1.append(cs[ends])
        out_cv.append(np.full(len(starts), cv, dtype=np.int8))
    if not out_r:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, np.zeros(0, dtype=np.int8)
    return (np.concatenate(out_r), np.concatenate(out_c0),
            np.concatenate(out_c1), np.concatenate(out_cv))


def coarsen_cover(cover: dict[int, int], k: int) -> dict[int, int]:
    """Zoom a cover out by ``k`` steps, exactly: a coarse cell is INSIDE
    iff all 4^k children are present and INSIDE; it is BOUNDARY if any
    child is BOUNDARY or the children only partially cover it (points in
    the uncovered part still get the exact locate test — conservative,
    never wrong); absent iff no child is present."""
    if k <= 0 or not cover:
        return dict(cover)
    n = len(cover)
    keys = np.fromiter(cover.keys(), dtype=np.int64, count=n)
    vals = np.fromiter(cover.values(), dtype=np.int64, count=n)
    ck = (((keys >> 20) >> k) << 20) | ((keys & 0xFFFFF) >> k)
    order = np.argsort(ck)
    ck, v = ck[order], vals[order]
    starts = np.concatenate([[0], np.flatnonzero(ck[1:] != ck[:-1]) + 1])
    counts = np.diff(np.concatenate([starts, [len(ck)]]))
    all_inside = np.logical_and.reduceat(v == INSIDE, starts)
    full = counts == (1 << (2 * k))
    out_vals = np.where(full & all_inside, INSIDE, BOUNDARY)
    return dict(zip(ck[starts].tolist(), out_vals.tolist()))


#: candidate (edge, cell) / (edge, row) pairs expanded per numpy pass:
#: bounds prepare_zone's temporaries (~a dozen int64 arrays of this
#: length) however many long edges a zone has
_EXPAND_CHUNK = 1 << 18


def _expand(counts: np.ndarray):
    """Enumerate every pair (i, j), 0 <= j < counts[i], in chunks of at
    most _EXPAND_CHUNK pairs: yields (owner i, local j) int64 arrays. One
    owner may span several chunks, so a single huge edge is chunked too."""
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    for g0 in range(0, total, _EXPAND_CHUNK):
        g = np.arange(g0, min(g0 + _EXPAND_CHUNK, total), dtype=np.int64)
        owner = np.searchsorted(ends, g, side="right")
        yield owner, g - (ends[owner] - counts[owner])


def _boundary_cells(edges: np.ndarray, zoom: int, c0: int, r0: int,
                    n_cols: int) -> np.ndarray:
    """Grid indices ``(row - r0) * n_cols + (col - c0)`` of every cell
    whose closed box some edge touches (duplicates allowed).

    Each edge's candidates are the cells of its bbox cover; a candidate
    is missed iff all 4 box corners lie strictly on one side of the
    edge's line (the bbox overlap is given by construction; a zero-length
    edge has all-zero signs, so its one cell is hit). Cross products
    are int64-exact: corner deltas are < 2^32 (int32 coordinates) and
    edge deltas < MAX_ZONE_SPAN = 2^30."""
    ax, ay, bx, by = edges.T
    shift = 32 - zoom
    ext = np.int64(1) << shift
    ec0 = col_from_x(np.minimum(ax, bx), zoom)
    ec1 = col_from_x(np.maximum(ax, bx), zoom)
    er0 = row_from_y(np.maximum(ay, by), zoom)
    er1 = row_from_y(np.minimum(ay, by), zoom)
    n_rows = er1 - er0 + 1
    n_cells = (ec1 - ec0 + 1) * n_rows
    dx, dy = bx - ax, by - ay
    out = []
    for e, j in _expand(n_cells):
        cc = ec0[e] + j // n_rows[e]
        rr = er0[e] + j % n_rows[e]
        # closed cell box relative to the edge start (inclusive coords)
        x0 = (cc << shift) - (1 << 31) - ax[e]
        y1 = np.int64(2**31 - 1) - (rr << shift) - ay[e]
        x1 = x0 + ext - 1
        y0 = y1 - ext + 1
        ex, ey = dx[e], dy[e]
        s1 = ex * y0 - ey * x0
        s2 = ex * y0 - ey * x1
        s3 = ex * y1 - ey * x0
        s4 = ex * y1 - ey * x1
        all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
        all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
        hit = ~(all_pos | all_neg)
        out.append((rr[hit] - r0) * n_cols + (cc[hit] - c0))
    return np.concatenate(out) if out else np.zeros(0, dtype=np.int64)


def _corner_parity(edges: np.ndarray, zoom: int, c0: int, r0: int,
                   n_cols: int, n_rows: int) -> np.ndarray:
    """(n_rows, n_cols) bool grid: odd east-ray crossing count at each
    cell's bottom-left corner, under kernel.locate_points' rules.

    All corners of cover row ``r`` share ``cy = 2^31 - ((r+1) << shift)``.
    A non-horizontal edge (low end lx,ly; high end hx,hy) is crossed by
    the ray from (cx, cy) iff ``ly <= cy < hy`` and cx lies strictly west
    of the edge's x at cy, i.e. ``cx <= T`` with
    ``T = lx + ceil((hx-lx)(cy-ly) / (hy-ly)) - 1`` — exact in int64
    (numerator < 2^60 under MAX_ZONE_SPAN). Corners sit on a 2^shift
    grid, so the edge crosses from every column ``c <= (T + 2^31) >>
    shift``: one histogram entry per (edge, row) and a suffix sum along
    the row count the crossings of every corner at once."""
    shift = 32 - zoom
    e = edges[edges[:, 1] != edges[:, 3]]
    up = e[:, 1] < e[:, 3]
    lx = np.where(up, e[:, 0], e[:, 2])
    ly = np.where(up, e[:, 1], e[:, 3])
    hx = np.where(up, e[:, 2], e[:, 0])
    hy = np.where(up, e[:, 3], e[:, 1])
    # rows r with ly <= cy(r) < hy, clipped to the cover's rows
    lo = np.maximum(((1 << 31) - hy) >> shift, r0)
    hi = np.minimum((((1 << 31) - ly) >> shift) - 1, r0 + n_rows - 1)
    hist = np.zeros(n_rows * n_cols, dtype=np.int64)
    for k, j in _expand(np.maximum(hi - lo + 1, 0)):
        r = lo[k] + j
        cy = (1 << 31) - ((r + 1) << shift)
        num = (hx[k] - lx[k]) * (cy - ly[k])
        t = lx[k] - ((-num) // (hy[k] - ly[k])) - 1
        col = np.minimum(((t + (1 << 31)) >> shift) - c0, n_cols - 1)
        ok = col >= 0
        hist += np.bincount(((r - r0) * n_cols + col)[ok],
                            minlength=len(hist))
    crossings = np.cumsum(hist.reshape(n_rows, n_cols)[:, ::-1], axis=1)
    return (crossings[:, ::-1] & 1).astype(bool)


def prepare_zone(zone_id: str, rings: list[np.ndarray],
                 zoom: int | None = None) -> PreparedZone:
    """Segmentize rings and classify the cell cover. ``zoom=None`` picks
    the finest zoom (≤ COVER_ZOOM) whose cover fits MAX_COVER_CELLS."""
    edges = rings_to_edges(rings)
    if len(edges) == 0:
        return PreparedZone(zone_id, edges, (0, 0, 0, 0), zoom or COVER_ZOOM, {})
    min_x = int(min(edges[:, 0].min(), edges[:, 2].min()))
    max_x = int(max(edges[:, 0].max(), edges[:, 2].max()))
    min_y = int(min(edges[:, 1].min(), edges[:, 3].min()))
    max_y = int(max(edges[:, 1].max(), edges[:, 3].max()))
    if max_x - min_x >= MAX_ZONE_SPAN or max_y - min_y >= MAX_ZONE_SPAN:
        raise ValueError(
            f"zone {zone_id} spans >= 2^30 units; exact int64 kernel "
            f"contract violated — split the zone or lower the index zoom")
    if zoom is None:
        zoom = _fit_zoom(min_x, min_y, max_x, max_y)

    c0, c1 = int(col_from_x(min_x, zoom)), int(col_from_x(max_x, zoom))
    r0, r1 = int(row_from_y(max_y, zoom)), int(row_from_y(min_y, zoom))
    n_cols, n_rows = c1 - c0 + 1, r1 - r0 + 1
    # a cell no edge touches has no boundary point, so its bottom-left
    # corner's crossing parity alone decides INSIDE / OUTSIDE
    cls = np.where(_corner_parity(edges, zoom, c0, r0, n_cols, n_rows),
                   INSIDE, OUTSIDE).astype(np.int8).ravel()
    cls[_boundary_cells(edges, zoom, c0, r0, n_cols)] = BOUNDARY
    idx = np.flatnonzero(cls != OUTSIDE)
    keys = pack_colrow(c0 + idx % n_cols, r0 + idx // n_cols)
    cover = dict(zip(keys.tolist(), cls[idx].tolist()))
    return PreparedZone(zone_id, edges, (min_x, min_y, max_x, max_y), zoom, cover)
