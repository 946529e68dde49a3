"""Zone preparation / cell-cover classification tests.

The cover is the distributed analog of the reference's acceptTile
(WithinFilter.cpp:164-171): INSIDE cells turbo-accept, BOUNDARY cells run
the kernel, absent cells are pruned. Invariant checked here: for any point,
membership computed via (cover + kernel on boundary cells) equals the
direct kernel answer. The differential tests further down pin the
vectorized classifier to a per-edge, per-corner reference.
"""

import numpy as np
import pytest

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom import zones as zones_mod
from libgeodesk_spark.geom.zones import (
    BOUNDARY,
    INSIDE,
    MAX_COVER_CELLS,
    MAX_ZONE_SPAN,
    OUTSIDE,
    pack_colrow,
    prepare_zone,
    rings_to_edges,
)
from libgeodesk_spark.mercator import col_from_x, row_from_y


def ring(*pts):
    pts = list(pts)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    return np.array(pts, dtype=np.int64)


CELL16 = 1 << 16  # zoom-16 cell extent, a round unit for test shapes (COVER_ZOOM is 20)


def cover_of(z, x, y):
    return z.cover.get(int(pack_colrow(col_from_x(x, z.zoom),
                                       row_from_y(y, z.zoom))))


def test_tiny_zone_single_boundary_cell():
    z = prepare_zone("tiny", [ring((100, 100), (200, 100), (200, 200), (100, 200))])
    assert set(z.cover.values()) == {BOUNDARY}
    assert len(z.cover) >= 1


def test_big_zone_has_inside_cells():
    s = 8 * CELL16
    z = prepare_zone("big", [ring((0, 0), (s, 0), (s, s), (0, s))])
    vals = list(z.cover.values())
    assert vals.count(INSIDE) >= 36
    assert vals.count(BOUNDARY) >= 28


def test_cover_vs_kernel_consistency():
    rng = np.random.default_rng(11)
    pts = [(0, 0), (5 * CELL16, 0), (5 * CELL16, 3 * CELL16),
           (3 * CELL16, 3 * CELL16), (3 * CELL16, CELL16), (2 * CELL16, CELL16),
           (2 * CELL16, 4 * CELL16), (0, 4 * CELL16)]
    z = prepare_zone("concave", [ring(*pts)])
    px = rng.integers(-CELL16, 6 * CELL16, 20000)
    py = rng.integers(-CELL16, 5 * CELL16, 20000)
    direct = kernel.locate_points(px, py, z.edges)

    via = np.full(len(px), -1, dtype=np.int8)
    for i, (x, y) in enumerate(zip(px, py)):
        cov = cover_of(z, int(x), int(y))
        if cov == INSIDE:
            via[i] = 1
        elif cov == BOUNDARY:
            via[i] = kernel.locate_points([x], [y], z.edges)[0]
    assert np.array_equal(np.where(direct == 0, 0, direct),
                          np.where(via == 0, 0, via))


def test_inside_cells_really_inside():
    s = 6 * CELL16
    z = prepare_zone("sq", [ring((0, 0), (s, 0), (s, s), (0, s))])
    shift = 32 - z.zoom
    for key, v in z.cover.items():
        if v != INSIDE:
            continue
        col, row = key >> 20, key & ((1 << 20) - 1)
        mnx = (col << shift) - (1 << 31)
        mxy = (2**31 - 1) - (row << shift)
        mny = mxy - (1 << shift) + 1
        mxx = mnx + (1 << shift) - 1
        corners = np.array([[mnx, mny], [mxx, mny], [mnx, mxy], [mxx, mxy]])
        loc = kernel.locate_points(corners[:, 0], corners[:, 1], z.edges)
        assert (loc == 1).all()


def test_hole_cells_not_inside():
    s = 8 * CELL16
    hole = ring((2 * CELL16, 2 * CELL16), (6 * CELL16, 2 * CELL16),
                (6 * CELL16, 6 * CELL16), (2 * CELL16, 6 * CELL16))
    z = prepare_zone("holed", [ring((0, 0), (s, 0), (s, s), (0, s)), hole])
    assert cover_of(z, 4 * CELL16, 4 * CELL16) != INSIDE


def test_vertex_on_cell_border():
    # degenerate: a vertex exactly on a cover-cell corner (zone0006 analog)
    mnx = (1000 << 16) - (1 << 31)
    mxy = (2**31 - 1) - (2000 << 16)
    mny = mxy - (1 << 16) + 1
    z = prepare_zone("deg", [ring((mnx, mny), (mnx + 10, mny), (mnx, mny + 10))])
    assert len(z.cover) >= 1
    assert all(v == BOUNDARY for v in z.cover.values())


def test_custom_zoom():
    s = 4 * (1 << 20)
    z = prepare_zone("z12", [ring((0, 0), (s, 0), (s, s), (0, s))], zoom=12)
    assert z.zoom == 12
    assert INSIDE in set(z.cover.values())


def test_adaptive_zoom_giant_zone():
    # a near-continent zone must get a coarser cover, bounded in size
    s = (1 << 28)   # span 2^29, inside the kernel contract
    z = prepare_zone("giant", [ring((-s, -s), (s, -s), (s, s), (-s, s))])
    assert z.zoom < 16
    assert len(z.cover) <= MAX_COVER_CELLS
    assert INSIDE in set(z.cover.values())
    # membership still exact at any zoom
    import numpy as np
    rng = np.random.default_rng(1)
    px = rng.integers(-s - 1000, s + 1000, 2000)
    py = rng.integers(-s - 1000, s + 1000, 2000)
    direct = kernel.locate_points(px, py, z.edges)
    via = np.full(len(px), -1, dtype=np.int8)
    for i, (x, y) in enumerate(zip(px, py)):
        cov = cover_of(z, int(x), int(y))
        if cov == INSIDE:
            via[i] = 1
        elif cov == BOUNDARY:
            via[i] = kernel.locate_points([x], [y], z.edges)[0]
    assert np.array_equal(direct, via)


def test_coarsen_cover_exact():
    """coarsen_cover must equal classifying the SAME zone at the coarser
    zoom directly (for cells whose children were all in the fine bbox):
    INSIDE iff all children present+INSIDE, BOUNDARY for any straddle."""
    from libgeodesk_spark.geom.zones import coarsen_cover

    rng = np.random.default_rng(3)
    pts = [(0, 0), (5 * CELL16, 0), (5 * CELL16, 3 * CELL16),
           (3 * CELL16, 3 * CELL16), (3 * CELL16, CELL16), (2 * CELL16, CELL16),
           (2 * CELL16, 4 * CELL16), (0, 4 * CELL16)]
    z = prepare_zone("concave", [ring(*pts)])
    for k in (1, 2, 3):
        coarse = coarsen_cover(z.cover, k)
        # group fine keys under each coarse key and re-derive the class
        groups: dict[int, list[int]] = {}
        for key, val in z.cover.items():
            col, row = key >> 20, key & 0xFFFFF
            ck = ((col >> k) << 20) | (row >> k)
            groups.setdefault(ck, []).append(val)
        assert set(coarse) == set(groups)
        for ck, vals in groups.items():
            want = INSIDE if (len(vals) == 4 ** k
                              and all(v == INSIDE for v in vals)) else BOUNDARY
            assert coarse[ck] == want, (ck, k)
        # and the membership invariant still holds on random probes
        px = rng.integers(-CELL16, 6 * CELL16, 4000)
        py = rng.integers(-CELL16, 5 * CELL16, 4000)
        loc = kernel.locate_points(px, py, z.edges)
        shift = 32 - (z.zoom - k)
        cc = (px.astype(np.int64) + (1 << 31)) >> shift
        rr = (np.int64(0x7FFFFFFF) - py.astype(np.int64)) >> shift
        for x, y, c, r, lo in zip(px, py, cc, rr, loc):
            cov = coarse.get(int((c << 20) | r))
            if cov == INSIDE:
                assert lo == kernel.INSIDE
            elif cov is None:
                assert lo == kernel.OUTSIDE


def test_interval_rle_matches_cover():
    """zone_intervals_df's run-length encoding must reproduce the cover
    dict exactly: every (cell, class) in the cover is inside exactly one
    interval of that class, and interval cells are exactly the cover."""
    import pandas as pd

    from libgeodesk_spark.geom.zones import coarsen_cover  # noqa: F401
    from libgeodesk_spark.operators import spatial_join as sj

    pts = [(0, 0), (5 * CELL16, 0), (5 * CELL16, 3 * CELL16),
           (3 * CELL16, 3 * CELL16), (3 * CELL16, CELL16), (2 * CELL16, CELL16),
           (2 * CELL16, 4 * CELL16), (0, 4 * CELL16)]
    z = prepare_zone("concave", [ring(*pts)])

    # reimplement the RLE driver-side derivation without Spark
    frames = []
    n = len(z.cover)
    keys = np.fromiter(z.cover.keys(), dtype=np.int64, count=n)
    vals = np.fromiter(z.cover.values(), dtype=np.int32, count=n)
    cols, rows = keys >> 20, keys & 0xFFFFF
    rebuilt: dict[int, int] = {}
    for cv in (INSIDE, BOUNDARY):
        m = vals == cv
        order = np.lexsort((cols[m], rows[m]))
        rs, cs = rows[m][order], cols[m][order]
        if len(rs) == 0:
            continue
        newrun = np.ones(len(rs), dtype=bool)
        newrun[1:] = (rs[1:] != rs[:-1]) | (cs[1:] != cs[:-1] + 1)
        starts = np.flatnonzero(newrun)
        ends = np.concatenate([starts[1:] - 1, [len(rs) - 1]])
        for r, c0, c1 in zip(rs[starts], cs[starts], cs[ends]):
            for c in range(int(c0), int(c1) + 1):
                key = int((c << 20) | r)
                assert key not in rebuilt, "overlapping intervals"
                rebuilt[key] = cv
    assert rebuilt == z.cover


# --- differential: vectorized prepare_zone vs the per-edge reference -------


def _reference_segment_cells(ax, ay, bx, by, zoom):
    """Per-edge reference: (col,row) cells whose closed box the segment
    touches — the edge's bbox cover minus cells with all 4 corners
    strictly on one side of its line."""
    c0, c1 = sorted((int(col_from_x(ax, zoom)), int(col_from_x(bx, zoom))))
    r0, r1 = sorted((int(row_from_y(ay, zoom)), int(row_from_y(by, zoom))))
    cc, rr = np.meshgrid(np.arange(c0, c1 + 1, dtype=np.int64),
                         np.arange(r0, r1 + 1, dtype=np.int64))
    cc, rr = cc.ravel(), rr.ravel()
    if len(cc) == 1:
        return {(int(cc[0]), int(rr[0]))}
    ext = np.int64(1) << (32 - zoom)
    min_x = (cc << (32 - zoom)) - (1 << 31)
    max_y = np.int64(2**31 - 1) - (rr << (32 - zoom))
    max_x = min_x + ext - 1
    min_y = max_y - ext + 1
    dx, dy = bx - ax, by - ay
    s1 = np.sign(dx * (min_y - ay) - dy * (min_x - ax))
    s2 = np.sign(dx * (min_y - ay) - dy * (max_x - ax))
    s3 = np.sign(dx * (max_y - ay) - dy * (min_x - ax))
    s4 = np.sign(dx * (max_y - ay) - dy * (max_x - ax))
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    hit = ~(all_pos | all_neg)
    return {(int(c), int(r)) for c, r in zip(cc[hit], rr[hit])}


def reference_prepare(rings, zoom=None):
    """The per-edge, per-corner classifier: BOUNDARY cells edge by edge,
    then every other bbox cell by ``kernel.locate_points`` on its
    bottom-left corner. Returns (zoom, bbox, cover)."""
    edges = rings_to_edges(rings)
    min_x = int(min(edges[:, 0].min(), edges[:, 2].min()))
    max_x = int(max(edges[:, 0].max(), edges[:, 2].max()))
    min_y = int(min(edges[:, 1].min(), edges[:, 3].min()))
    max_y = int(max(edges[:, 1].max(), edges[:, 3].max()))
    if zoom is None:
        zoom = zones_mod._fit_zoom(min_x, min_y, max_x, max_y)
    boundary = set()
    for ax, ay, bx, by in edges:
        boundary |= _reference_segment_cells(int(ax), int(ay), int(bx),
                                             int(by), zoom)
    cover = {int(pack_colrow(c, r)): BOUNDARY for c, r in boundary}
    c0, c1 = int(col_from_x(min_x, zoom)), int(col_from_x(max_x, zoom))
    r0, r1 = int(row_from_y(max_y, zoom)), int(row_from_y(min_y, zoom))
    cc, rr = np.meshgrid(np.arange(c0, c1 + 1, dtype=np.int64),
                         np.arange(r0, r1 + 1, dtype=np.int64))
    cc, rr = cc.ravel(), rr.ravel()
    keep = ~np.isin(pack_colrow(cc, rr), np.array(list(cover), dtype=np.int64))
    cc, rr = cc[keep], rr[keep]
    shift = 32 - zoom
    loc = kernel.locate_points((cc << shift) - (1 << 31),
                               np.int64(2**31) - ((rr + 1) << shift), edges)
    for c, r in zip(cc[loc == kernel.INSIDE], rr[loc == kernel.INSIDE]):
        cover[int(pack_colrow(c, r))] = INSIDE
    return zoom, (min_x, min_y, max_x, max_y), cover


def assert_matches_reference(rings, zoom=None):
    z = prepare_zone("d", rings, zoom)
    want_zoom, want_bbox, want_cover = reference_prepare(rings, zoom)
    assert z.zoom == want_zoom
    assert z.bbox == want_bbox
    assert np.array_equal(z.edges, rings_to_edges(rings))
    assert z.cover == want_cover
    return z


def star(rng, n_vertices, cx, cy, radius):
    """Closed star-shaped ring: sorted angles, radii in [0.55, 1] x radius."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n_vertices))
    rad = radius * rng.uniform(0.55, 1.0, n_vertices)
    pts = np.stack([np.round(cx + rad * np.cos(ang)),
                    np.round(cy + rad * np.sin(ang))], axis=1).astype(np.int64)
    return np.vstack([pts, pts[:1]])


def test_differential_star_rings():
    """Star rings shaped like the benchmark's zones, 16-400 vertices."""
    rng = np.random.default_rng(20)
    for nv, radius in ((16, 500_000), (40, 1_200_000), (64, 1_500_000),
                       (150, 1_800_000), (300, 1_900_000), (400, 2_000_000)):
        cx, cy = (int(v) for v in rng.integers(-(1 << 28), 1 << 28, 2))
        z = assert_matches_reference([star(rng, nv, cx, cy, radius)])
        assert INSIDE in z.cover.values()


def test_differential_concave_holed_self_intersecting():
    s = 8 * CELL16
    concave = ring((0, 0), (5 * CELL16, 0), (5 * CELL16, 3 * CELL16),
                   (3 * CELL16, 3 * CELL16), (3 * CELL16, CELL16),
                   (2 * CELL16, CELL16), (2 * CELL16, 4 * CELL16),
                   (0, 4 * CELL16))
    outer = ring((0, 0), (s, 0), (s, s), (0, s))
    hole = ring((2 * CELL16 + 7, 2 * CELL16 - 3), (6 * CELL16, 2 * CELL16),
                (6 * CELL16 - 11, 6 * CELL16), (2 * CELL16, 6 * CELL16 + 5))
    bowtie = ring((0, 0), (s, s), (s, 0), (0, s))
    pentagram = [(int(round(s * np.cos(a))), int(round(s * np.sin(a))))
                 for a in np.pi / 2 + np.arange(5) * 4 * np.pi / 5]
    for rings in ([concave], [outer, hole], [bowtie], [ring(*pentagram)],
                  [outer, ring((CELL16, CELL16), (3 * CELL16, CELL16),
                               (3 * CELL16, 3 * CELL16))]):
        assert_matches_reference(rings)
    # multipolygon: two disjoint stars
    rng = np.random.default_rng(5)
    assert_matches_reference([star(rng, 30, 0, 0, 400_000),
                              star(rng, 50, 1_500_000, 300_000, 600_000)])


def test_differential_zero_length_and_horizontal_edges():
    s = 5 * CELL16
    assert_matches_reference([ring((0, 0), (0, 0), (s, 0), (s, 0), (s, s),
                                   (s // 2, s), (s // 2, s), (0, s))])
    # staircase: every other edge horizontal, on and off cell borders
    pts = [(0, 0)]
    for i in range(1, 9):
        pts += [(i * CELL16 // 3, (i - 1) * CELL16 // 2),
                (i * CELL16 // 3, i * CELL16 // 2)]
    pts += [(0, 4 * CELL16)]
    assert_matches_reference([ring(*pts)])
    # a degenerate ring (all one point) beside a real one
    assert_matches_reference([ring((0, 0), (s, 0), (s, s)),
                              np.array([[s // 3, s // 4]] * 3)])


def test_differential_vertices_on_cell_borders():
    """Vertices snapped to zoom-20 cell borders, then nudged by -1/0/+1."""
    rng = np.random.default_rng(8)
    shift = 32 - 20
    for _ in range(12):
        pts = rng.integers(0, 200, (int(rng.integers(3, 25)), 2)) << shift
        pts = pts - (1 << 31) + rng.integers(-1, 2, pts.shape)
        assert_matches_reference([pts], zoom=20)
        assert_matches_reference([pts])


def test_differential_edge_in_gap_between_columns():
    """A near-vertical edge running inside the 1-unit gap between two
    columns' closed boxes touches neither, yet the two cells it separates
    differ in class — the case a per-run fill would get wrong."""
    shift = 32 - 20
    col = 1000
    gap_x = (col << shift) - (1 << 31)          # min_x of column ``col``
    y_top = (2**31 - 1) - (100 << shift)        # max_y of row 100
    y_bot = y_top - 40 * (1 << shift) + 1       # min_y of row 139
    left = [(gap_x - 1, y_bot), (gap_x + 30 * (1 << shift), y_bot),
            (gap_x + 30 * (1 << shift), y_top), (gap_x, y_top)]
    z = assert_matches_reference([ring(*left)], zoom=20)
    mid_row = 120
    assert z.cover.get(int(pack_colrow(col - 1, mid_row)), OUTSIDE) == OUTSIDE
    assert z.cover[int(pack_colrow(col, mid_row))] == INSIDE


def test_differential_giant_zone_and_explicit_zooms():
    s = 1 << 28
    z = assert_matches_reference([ring((-s, -s), (s, -s), (s, s), (-s, s))])
    assert z.zoom < 16
    rng = np.random.default_rng(3)
    zone = [star(rng, 48, 1 << 20, -(1 << 21), 300_000)]
    for zoom in range(8, 21):
        assert_matches_reference(zone, zoom=zoom)


def test_differential_random_zones():
    rng = np.random.default_rng(12)
    for i in range(40):
        span = int(rng.choice([1 << 12, 1 << 16, 1 << 20, 1 << 22]))
        base = rng.integers(-(1 << 30), 1 << 30, 2)
        rings = [base + rng.integers(0, span, (int(rng.integers(3, 40)), 2))]
        if i % 4 == 0:
            rings.append(base + rng.integers(0, span, (5, 2)))
        assert_matches_reference(rings)


def _candidate_cells(z):
    """Σ over edges of the cells in the edge's bbox cover at z.zoom."""
    e = z.edges
    cols = np.abs(col_from_x(e[:, 0], z.zoom) - col_from_x(e[:, 2], z.zoom))
    rows = np.abs(row_from_y(e[:, 1], z.zoom) - row_from_y(e[:, 3], z.zoom))
    return int(((cols + 1) * (rows + 1)).sum())


def test_hostile_many_long_edges():
    """Thousands of spokes each spanning a large part of the bbox: the
    edges' bbox cells sum far past one expansion chunk, yet preparation
    completes, stays within the cover budget and matches the reference
    on a reduced variant."""
    def spokes(n):
        # a zigzag between a hub and the rim: every edge is a spoke
        ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
        rad = np.where(np.arange(n) % 2, 40_000, 4_000_000)
        pts = np.stack([np.round(rad * np.cos(ang)),
                        np.round(rad * np.sin(ang))], axis=1).astype(np.int64)
        return [np.vstack([pts, pts[:1]])]

    z = prepare_zone("spokes", spokes(3000))
    assert _candidate_cells(z) > 20 * zones_mod._EXPAND_CHUNK
    assert 0 < len(z.cover) <= MAX_COVER_CELLS
    assert_matches_reference(spokes(120))
    # one edge whose own bbox cover is larger than a chunk
    t = [ring((0, 0), (1100 << 12, 1 << 12), (1 << 12, 1100 << 12))]
    assert _candidate_cells(prepare_zone("t", t, zoom=20)) \
        > zones_mod._EXPAND_CHUNK
    assert_matches_reference(t, zoom=20)


def test_span_limit_still_raises():
    s = MAX_ZONE_SPAN
    with pytest.raises(ValueError):
        prepare_zone("huge", [ring((-s // 2, 0), (s - s // 2, 0),
                                   (0, 1000))])
