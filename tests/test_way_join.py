"""Way-candidate predicate tests — the reference's semantic landmines:
boundary-only linestrings, equal polygons (issue #57), containment both
directions (WithinFilter.cpp:21-57, IntersectsFilter.cpp:36-75)."""

import numpy as np
import pytest

from libgeodesk_spark.geom.zones import prepare_zone
from libgeodesk_spark.operators.way_join import way_intersects, way_within

Z = 1 << 16


@pytest.fixture(scope="module")
def zone():
    s = 4 * Z
    ring = np.array([[0, 0], [s, 0], [s, s], [0, s], [0, 0]], dtype=np.int64)
    return prepare_zone("sq", [ring])


def ring_pts(*pts):
    pts = list(pts)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    return [{"x": int(x), "y": int(y)} for x, y in pts]


@pytest.fixture(scope="module")
def ways(spark, zone):
    s = 4 * Z
    rows = [
        # fully inside area
        ("inside_area", ring_pts((Z, Z), (2 * Z, Z), (2 * Z, 2 * Z), (Z, 2 * Z)), True),
        # line inside
        ("inside_line", ring_pts((Z, Z), (2 * Z, 2 * Z))[:-1], False),
        # sticking out
        ("partial", ring_pts((2 * Z, 2 * Z), (6 * Z, 2 * Z))[:-1], False),
        # fully outside
        ("outside", ring_pts((6 * Z, 6 * Z), (7 * Z, 6 * Z), (7 * Z, 7 * Z)), True),
        # EQUAL polygon: all vertices on boundary, centroid inside -> within
        ("equal_poly", ring_pts((0, 0), (s, 0), (s, s), (0, s)), True),
        # linestring lying entirely ON the boundary: NOT within, intersects
        ("boundary_line", ring_pts((0, 0), (s, 0))[:-1], False),
        # area candidate that CONTAINS the zone: intersects, not within
        ("contains_zone", ring_pts((-s, -s), (2 * s, -s), (2 * s, 2 * s), (-s, 2 * s)), True),
        # disjoint ring around the zone? (donut effect impossible w/ single ring)
        ("touching_corner", ring_pts((s, s), (2 * s, s), (2 * s, 2 * s), (s, 2 * s)), True),
    ]
    return spark.createDataFrame(
        rows, "way_id string, ring array<struct<x:long,y:long>>, is_area boolean")


def ids(df):
    return sorted(r.way_id for r in df.collect())


def test_way_within(ways, zone):
    got = ids(way_within(ways, zone))
    # equal polygons are within each other (issue #57); boundary-only
    # linestrings are not; partial/outside/containing are not
    assert got == ["equal_poly", "inside_area", "inside_line"]


def test_way_intersects(ways, zone):
    got = ids(way_intersects(ways, zone))
    # everything except the fully-outside ring
    assert got == ["boundary_line", "contains_zone", "equal_poly",
                   "inside_area", "inside_line", "partial", "touching_corner"]


def test_way_crossing_degenerate_rings(spark, zone):
    """1-vertex (and empty) rings yield ZERO segments, not a runtime
    error: sequence(1, size-1) auto-steps DOWN for size < 2 and
    element_at(ring, 0) throws on 1-based arrays — degenerate ways must
    be filtered before the segment explode."""
    from libgeodesk_spark.operators.way_join import way_crossing
    rows = [
        ("one_vertex", [{"x": int(2 * Z), "y": int(2 * Z)}], False),
        ("empty", [], False),
        ("partial", ring_pts((2 * Z, 2 * Z), (6 * Z, 2 * Z))[:-1], False),
    ]
    df = spark.createDataFrame(
        rows, "way_id string, ring array<struct<x:long,y:long>>, is_area boolean")
    got = ids(way_crossing(df, zone))
    assert got == ["partial"]


def test_way_crossing(ways, zone):
    """Whole-way crossing wrapper (CrossesFilter.cpp:10-41): ways with a
    segment PROPERLY crossing or touching a zone edge — fully-inside and
    fully-outside ways never accept; the sticking-out 'partial' way and
    rings whose edges run along/touch the boundary do."""
    from libgeodesk_spark.operators.way_join import way_crossing
    got = ids(way_crossing(ways, zone))
    assert "partial" in got            # genuinely crosses the boundary
    assert "inside_area" not in got    # no segment meets an edge
    assert "inside_line" not in got
    assert "outside" not in got
    # brute-force mirror over every (way segment, zone edge)
    from libgeodesk_spark.geom import kernel as K
    rows = ways.collect()
    want = set()
    for r in rows:
        ring = [(p["x"], p["y"]) for p in r["ring"]]
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if K.any_segment_crosses(
                    np.array([x1]), np.array([y1]), np.array([x2]),
                    np.array([y2]), zone.edges)[0]:
                want.add(r["way_id"])
    assert got == sorted(want)


# --- round 2: cover-join engine vs brute force ------------------------------

import numpy as np
from pyspark.sql import functions as F

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import rings_to_edges
from libgeodesk_spark.geom.zones import coarsen_cover
from libgeodesk_spark.operators.way_join import (
    rel_intersects,
    rel_within,
    way_locate,
    way_max_meters_from,
)
from libgeodesk_spark.sources.points import GATE_ZONES
from libgeodesk_spark.geom.zones import prepare_zone as _prep


def _random_ways(rng, n, span=9_000_000, x0=88_000_000, y0=639_000_000):
    """Random polylines (2-8 vertices) across the gate window, some far
    outside — covers inside/boundary/crossing/outside mixes."""
    rows = []
    for i in range(n):
        k = int(rng.integers(2, 9))
        cx = x0 + int(rng.integers(0, span))
        cy = y0 + int(rng.integers(0, span))
        r = int(rng.integers(10_000, 2_000_000))
        xs = cx + rng.integers(-r, r + 1, k)
        ys = cy + rng.integers(-r, r + 1, k)
        rows.append((i, [{"x": int(x), "y": int(y)} for x, y in zip(xs, ys)],
                     False))
    return rows


def _brute_locate(rows, edges):
    out = {}
    for wid, ring, _ in rows:
        xs = np.array([p["x"] for p in ring])
        ys = np.array([p["y"] for p in ring])
        loc = kernel.locate_points(xs, ys, edges)
        crosses = bool(kernel.any_segment_crosses(
            xs[:-1], ys[:-1], xs[1:], ys[1:], edges).any())
        out[wid] = (int(loc.min()), int(loc.max()), crosses)
    return out


@pytest.fixture(scope="module")
def comb_zone():
    return _prep("comb", [np.array(r) for r in GATE_ZONES["comb"]])


@pytest.fixture(scope="module")
def random_ways_df(spark):
    rng = np.random.default_rng(42)
    rows = _random_ways(rng, 400)
    df = spark.createDataFrame(
        rows, "way_id long, ring array<struct<x:long,y:long>>, is_area boolean")
    return rows, df


def test_way_locate_matches_brute_force(random_ways_df, comb_zone):
    rows, df = random_ways_df
    edges = comb_zone.edges
    brute = _brute_locate(rows, edges)
    got = {r.way_id: (r.loc_min, r.loc_max, r.within_ok, r.intersects_ok)
           for r in way_locate(df, [comb_zone]).collect()}
    # exactly one row per (way, zone) — NW-twin dedup must be exact
    assert len(got) == len(set(got))
    for wid, (mn, mx, crosses) in brute.items():
        exp_within = mn >= 0 and mx == 1
        exp_inter = mx >= 0 or crosses
        if wid in got:
            gmn, gmx, gw, gi = got[wid]
            assert (gmn, gmx) == (mn, mx), f"way {wid}"
            assert gw == exp_within and gi == exp_inter, f"way {wid}"
        else:
            # ways absent from the cover join must be fully outside
            assert not exp_within and not exp_inter, f"way {wid} missing"


def test_way_locate_no_duplicate_pairs(random_ways_df, comb_zone):
    _, df = random_ways_df
    out = way_locate(df, [comb_zone]).groupBy("way_id", "zone_id").count()
    assert out.filter(F.col("count") > 1).count() == 0


def test_way_locate_multi_zone(random_ways_df):
    rows, df = random_ways_df
    zones = [_prep(n, [np.array(r) for r in rings])
             for n, rings in GATE_ZONES.items()]
    out = way_locate(df, zones)
    per_zone = {r["zone_id"]: r["count"]
                for r in out.groupBy("zone_id").count().collect()}
    for z in zones:
        brute = _brute_locate(rows, z.edges)
        n_interact = sum(1 for mn, mx, cr in brute.values()
                         if mx >= 0 or cr or mn >= 0)
        assert per_zone.get(z.zone_id, 0) >= n_interact


def test_coarse_cover_aggregation(comb_zone):
    for jz in (comb_zone.zoom - 2, comb_zone.zoom - 4, 10):
        cov = coarsen_cover(comb_zone.cover, comb_zone.zoom - jz)
        assert cov, f"empty coarse cover at zoom {jz}"
        # every fine cell's ancestor must be present
        d = comb_zone.zoom - jz
        for k in comb_zone.cover:
            col, row = k >> 20, k & 0xFFFFF
            ck = ((col >> d) << 20) | (row >> d)
            assert ck in cov
        # coarse INSIDE cells must be fully inside: every corner of the
        # coarse cell must locate INSIDE
        shift = 32 - jz
        for ck, v in cov.items():
            if v != 1:
                continue
            col, row = ck >> 20, ck & 0xFFFFF
            x0 = (col << shift) - (1 << 31)
            y1 = (0x7FFFFFFF) - (row << shift)
            x1, y0 = x0 + (1 << shift) - 1, y1 - (1 << shift) + 1
            loc = kernel.locate_points([x0, x1, x0, x1], [y0, y0, y1, y1],
                                       comb_zone.edges)
            assert (loc == 1).all()


def test_rel_within_must_accept_all_members(spark, comb_zone):
    """MUST_ACCEPT_ALL_MEMBERS: one member sticking out rejects the whole
    relation; all-inside accepts; all-boundary-only rejects (needs >0)."""
    IN1 = [{"x": 90_500_000, "y": 642_000_000}, {"x": 90_800_000, "y": 641_800_000}]
    IN2 = [{"x": 95_200_000, "y": 641_500_000}, {"x": 95_400_000, "y": 641_600_000}]
    OUT = [{"x": 80_000_000, "y": 600_000_000}, {"x": 80_100_000, "y": 600_100_000}]
    rows = [
        ("r_all_in", 1, IN1, False), ("r_all_in", 2, IN2, False),
        ("r_mixed", 1, IN1, False), ("r_mixed", 2, OUT, False),
        ("r_all_out", 1, OUT, False),
    ]
    df = spark.createDataFrame(
        rows, "rel_id string, member_id int, "
              "ring array<struct<x:long,y:long>>, is_area boolean")
    got = sorted(r.rel_id for r in rel_within(df, [comb_zone]).collect())
    assert got == ["r_all_in"]
    got_i = sorted(r.rel_id for r in rel_intersects(df, [comb_zone]).collect())
    assert got_i == ["r_all_in", "r_mixed"]


def test_way_max_meters_from_brute(random_ways_df):
    rows, df = random_ways_df
    qx, qy = 93_000_000, 644_000_000
    from libgeodesk_spark.mercator import units_from_meters
    meters = 30_000.0
    units = units_from_meters(meters, qy)
    d2 = units * units
    exp = {}
    for wid, ring, _ in rows:
        xs = np.array([p["x"] for p in ring], dtype=np.int64)
        ys = np.array([p["y"] for p in ring], dtype=np.int64)
        best = kernel.point_segment_sq_dist(
            xs[:-1], ys[:-1], xs[1:], ys[1:], qx, qy).min()
        if best < d2:
            exp[wid] = int(np.floor(best))
    got = {r.way_id: r.d2
           for r in way_max_meters_from(df, meters, qx, qy).collect()}
    assert got == exp


def test_way_max_meters_from_inside_area(spark):
    qx, qy = 93_000_000, 644_000_000
    big = [{"x": qx - 5_000_000, "y": qy - 5_000_000},
           {"x": qx + 5_000_000, "y": qy - 5_000_000},
           {"x": qx + 5_000_000, "y": qy + 5_000_000},
           {"x": qx - 5_000_000, "y": qy + 5_000_000},
           {"x": qx - 5_000_000, "y": qy - 5_000_000}]
    df = spark.createDataFrame(
        [(1, big, True), (2, big, False)],
        "way_id long, ring array<struct<x:long,y:long>>, is_area boolean")
    got = {r.way_id: r.d2
           for r in way_max_meters_from(df, 1000.0, qx, qy).collect()}
    # area ring contains the query -> distance 0; same ring as a
    # LINESTRING is 5M units away -> rejected
    assert got == {1: 0}
