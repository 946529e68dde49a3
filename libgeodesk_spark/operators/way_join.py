"""Spatial predicates for WAY / polyline / relation candidates through the
cover join — the full analog of the reference's stored-feature query path.

Reference execution shape:

* ways/relations are stored in every tile their bbox touches, with
  multi-tile twin flags for query-time dedup (types.h:42-43, duplication
  consumed at TileQueryTask.cpp:176-180);
* ``acceptWay`` first asks the prepared index to locate the candidate's
  BBOX (maybeLocateBox — fully inside/outside short-circuits,
  WithinFilter.cpp:21-29), then point-locates every vertex
  (locateWayNodes, WithinFilter.cpp:238-253) with the boundary/centroid
  special cases (issue #57, WithinFilter.cpp:38-58);
* intersects additionally tests segment crossings and the
  candidate-contains-filter case (IntersectsFilter.cpp:36-75);
* non-area relations apply MUST_ACCEPT_ALL_MEMBERS for within
  (locateMembers: all members >= 0, max > 0, WithinFilter.cpp:66-113)
  and any-member-accepted for intersects (SpatialFilter.cpp:23-76);
  area relations accept within iff no member way has a vertex outside
  (acceptAreaRelation, WithinFilter.cpp:117-140).

Spark-first translation (one broadcast join, zero shuffles of the fact):

1. each way row is duplicated per COARSE cover cell its bbox touches
   (JVM ``sequence``/``explode`` — the multi-tile duplication analog);
   the coarse zoom is fitted so the duplication factor stays bounded;
2. broadcast-join against the zones' coarse cell cover — this prunes the
   scan to cells the zones touch (partition pruning on a stored table);
3. ONE ``mapInArrow`` kernel: dedups duplicated candidates (keep the row
   whose cover key is the way's minimum PRESENT bbox cell — the NW-twin
   dedup rule generalized), turbo-accepts ways whose bbox lies entirely
   in INSIDE cells, and otherwise classifies vertices against the FINE
   cover (INSIDE cell => vertex inside, absent => outside, BOUNDARY =>
   exact locate kernel) — all offsets-vectorized over the Arrow list
   arrays, no per-row Python.

The kernel emits per (way, zone): loc_min/loc_max (the locateWayNodes
values), within_ok / intersects_ok — relations aggregate these per
rel_id with plain JVM min/max/bool_or.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import (
    BOUNDARY,
    INSIDE,
    PreparedZone,
    coarsen_cover,
    rings_to_edges,
)

#: coarse-cover budget: a way bbox explodes into at most ~this many rows.
#: Kept small (8x8): the duplication factor multiplies BOTH the broadcast
#: join output and the kernel's dedup loop; fine-grained pruning happens
#: per-vertex against the FINE cover inside the kernel, so a coarse join
#: grid costs little selectivity.
MAX_JOIN_CELLS = 64


def _pack(col: np.ndarray, row: np.ndarray) -> np.ndarray:
    return (col.astype(np.int64) << 20) | row.astype(np.int64)


def _col_of(x: np.ndarray, zoom: int) -> np.ndarray:
    return (x.astype(np.int64) + (1 << 31)) >> (32 - zoom)


def _row_of(y: np.ndarray, zoom: int) -> np.ndarray:
    return (np.int64(0x7FFFFFFF) - y.astype(np.int64)) >> (32 - zoom)


def fit_join_zoom(zones: list[PreparedZone], max_way_span: int) -> int:
    """Coarsest-necessary join zoom: way bboxes of ``max_way_span`` units
    explode into <= MAX_JOIN_CELLS cells, and never finer than the zones'
    own cover zoom."""
    z = min(zn.zoom for zn in zones)
    while z > 0:
        cells_per_axis = (max_way_span >> (32 - z)) + 2
        if cells_per_axis * cells_per_axis <= MAX_JOIN_CELLS:
            return z
        z -= 1
    return 0


def _zone_cells_coarse(spark, zones: list[PreparedZone],
                       coarse: list[dict[int, int]]):
    import pandas as pd
    from pyspark.sql import types as T
    frames = []
    for z, cov in zip(zones, coarse):
        frames.append(pd.DataFrame({
            "cover_key": np.fromiter(cov.keys(), dtype=np.int64, count=len(cov)),
            "zone_id": z.zone_id,
            "cover": np.fromiter(cov.values(), dtype=np.int32, count=len(cov)),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    schema = T.StructType([
        T.StructField("cover_key", T.LongType(), False),
        T.StructField("zone_id", T.StringType(), False),
        T.StructField("cover", T.IntegerType(), False),
    ])
    return spark.createDataFrame(pdf, schema)


def way_bbox(ring_col):
    """JVM bbox of an ``array<struct<x,y>>`` ring column."""
    xs = F.transform(ring_col, lambda p: p["x"])
    ys = F.transform(ring_col, lambda p: p["y"])
    return (F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys))


def _zone_payload(zones: list[PreparedZone],
                  coarse: list[dict[int, int]]) -> dict:
    """Per-zone broadcast payload for the kernel: edges + sorted fine-cover
    key arrays + the sorted coarse present/inside keys for dedup/turbo."""
    out = {}
    for z, cov in zip(zones, coarse):
        ckeys = np.fromiter(cov.keys(), dtype=np.int64, count=len(cov))
        cvals = np.fromiter(cov.values(), dtype=np.int32, count=len(cov))
        order = np.argsort(ckeys)
        ckeys, cvals = ckeys[order], cvals[order]
        fkeys = np.fromiter(z.cover.keys(), dtype=np.int64, count=len(z.cover))
        fvals = np.fromiter(z.cover.values(), dtype=np.int32, count=len(z.cover))
        out[z.zone_id] = {
            "edges": z.edges,
            "fine_zoom": z.zoom,
            "fine_inside": np.sort(fkeys[fvals == INSIDE]),
            "fine_boundary": np.sort(fkeys[fvals == BOUNDARY]),
            "coarse_keys": ckeys,
            "coarse_inside": cvals == INSIDE,
            "probe": (int(z.edges[0, 0]), int(z.edges[0, 1])) if len(z.edges)
                     else (0, 0),
        }
    return out


def _member(keys: np.ndarray, sorted_keys: np.ndarray) -> np.ndarray:
    """Vectorized set membership via searchsorted."""
    if len(sorted_keys) == 0:
        return np.zeros(len(keys), dtype=bool)
    pos = np.searchsorted(sorted_keys, keys)
    pos = np.minimum(pos, len(sorted_keys) - 1)
    return sorted_keys[pos] == keys


def _flat_gather(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Indices selecting, from a flat child array, the concatenation of
    slices [starts[i], starts[i]+lengths[i]) — pure numpy, no per-row loop."""
    total = int(lengths.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(lengths)
    offs = np.repeat(starts - np.concatenate(([0], ends[:-1])), lengths)
    return np.arange(total, dtype=np.int64) + offs


def way_locate(ways: DataFrame, zones: list[PreparedZone],
               id_cols: list[str] | None = None,
               ring_col: str = "ring", is_area_col: str = "is_area",
               join_zoom: int | None = None,
               prefilter_bbox: bool = True) -> DataFrame:
    """Per (way, zone) locate classification — the shared engine behind
    within / intersects / distance for way and relation candidates.

    Returns ``id_cols + [zone_id, loc_min, loc_max, within_ok,
    intersects_ok]`` with exactly one row per (way, zone) whose bboxes
    interact (multi-cell duplicates are deduped kernel-side by the
    NW-twin rule).
    """
    spark = ways.sparkSession
    if not zones:
        raise ValueError("way_locate requires at least one PreparedZone")
    id_cols = list(id_cols) if id_cols else ["way_id"]

    mnx = min(z.bbox[0] for z in zones)
    mny = min(z.bbox[1] for z in zones)
    mxx = max(z.bbox[2] for z in zones)
    mxy = max(z.bbox[3] for z in zones)

    bx0, by0, bx1, by1 = way_bbox(F.col(ring_col))
    base = ways.select(*id_cols, ring_col, is_area_col,
                       bx0.alias("_bx0"), by0.alias("_by0"),
                       bx1.alias("_bx1"), by1.alias("_by1"))
    if prefilter_bbox:
        # bbox-overlap pre-filter: prunable range predicate when the bbox
        # columns are materialized in storage (P9/TileQueryTask bbox test)
        base = base.filter((F.col("_bx1") >= mnx) & (F.col("_bx0") <= mxx)
                           & (F.col("_by1") >= mny) & (F.col("_by0") <= mxy))

    if join_zoom is None:
        join_zoom = fit_join_zoom(zones, max(mxx - mnx, mxy - mny, 1))

    # multi-cell duplication (JVM): one row per coarse bbox cell
    shift = 32 - join_zoom
    c0 = F.shiftright(F.col("_bx0") + F.lit(1 << 31), shift)
    c1 = F.shiftright(F.col("_bx1") + F.lit(1 << 31), shift)
    r0 = F.shiftright(F.lit(0x7FFFFFFF) - F.col("_by1"), shift)
    r1 = F.shiftright(F.lit(0x7FFFFFFF) - F.col("_by0"), shift)
    dup = base.select(
        "*",
        F.explode(F.sequence(c0, c1)).alias("_cc")).select(
        "*",
        F.explode(F.sequence(r0, r1)).alias("_rr")).select(
        *id_cols, ring_col, is_area_col, "_bx0", "_by0", "_bx1", "_by1",
        (F.shiftleft(F.col("_cc"), 20) + F.col("_rr")).alias("cover_key"))

    # each zone's cover at the join zoom: INSIDE iff all 4^d fine
    # children are present and INSIDE (coarsen_cover), built once for
    # both the join's build side and the kernel's dedup/turbo payload
    coarse = [coarsen_cover(z.cover, z.zoom - join_zoom) for z in zones]
    zc = _zone_cells_coarse(spark, zones, coarse)
    cand = dup.join(F.broadcast(zc), "cover_key", "inner")

    payload_bc = spark.sparkContext.broadcast(_zone_payload(zones, coarse))

    in_schema = cand.schema
    id_idx = [in_schema.names.index(c) for c in id_cols]
    ring_idx = in_schema.names.index(ring_col)
    area_idx = in_schema.names.index(is_area_col)
    zid_idx = in_schema.names.index("zone_id")
    ck_idx = in_schema.names.index("cover_key")
    bb_idx = [in_schema.names.index(c)
              for c in ("_bx0", "_by0", "_bx1", "_by1")]

    from pyspark.sql import types as T
    out_schema = T.StructType(
        [in_schema[c] for c in id_cols]
        + [T.StructField("zone_id", T.StringType(), False),
           T.StructField("loc_min", T.IntegerType(), False),
           T.StructField("loc_max", T.IntegerType(), False),
           T.StructField("within_ok", T.BooleanType(), False),
           T.StructField("intersects_ok", T.BooleanType(), False)])
    jz = join_zoom

    def locate_batches(batches):
        payload = payload_bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ring_arr = batch.column(ring_idx)
            if isinstance(ring_arr, pa.ChunkedArray):
                ring_arr = ring_arr.combine_chunks()
            offsets = ring_arr.offsets.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            flat = ring_arr.values
            xs_all = flat.field("x").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            ys_all = flat.field("y").to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            is_area = batch.column(area_idx).to_numpy(zero_copy_only=False) \
                .astype(bool)
            zone_ids = np.asarray(batch.column(zid_idx).to_pylist())
            cover_key = batch.column(ck_idx).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            bb = [batch.column(i).to_numpy(zero_copy_only=False)
                  .astype(np.int64) for i in bb_idx]

            keep_rows = np.zeros(n, dtype=bool)
            loc_min = np.zeros(n, dtype=np.int32)
            loc_max = np.zeros(n, dtype=np.int32)
            within_ok = np.zeros(n, dtype=bool)
            inter_ok = np.zeros(n, dtype=bool)

            for zid in np.unique(zone_ids):
                z = payload[zid]
                if len(z["coarse_keys"]) == 0:
                    continue
                zmask = zone_ids == zid
                idx = np.nonzero(zmask)[0]
                c0 = _col_of(bb[0][idx], jz)
                c1 = _col_of(bb[2][idx], jz)
                r0 = _row_of(bb[3][idx], jz)
                r1 = _row_of(bb[1][idx], jz)
                ncols = (c1 - c0 + 1)
                nrows = (r1 - r0 + 1)
                ncells = ncols * nrows
                # --- NW-twin dedup: keep the row whose cover_key is the
                # way's MINIMUM present bbox cell; track all-inside too
                min_present = np.full(len(idx), np.iinfo(np.int64).max)
                n_present = np.zeros(len(idx), dtype=np.int64)
                n_inside = np.zeros(len(idx), dtype=np.int64)
                kmax = int(ncells.max())
                for k in range(kmax):
                    live = k < ncells
                    kc = c0 + k // np.maximum(nrows, 1)
                    kr = r0 + k % np.maximum(nrows, 1)
                    keys = _pack(kc, kr)
                    pos = np.searchsorted(z["coarse_keys"], keys)
                    pos = np.minimum(pos, max(len(z["coarse_keys"]) - 1, 0))
                    present = live & (len(z["coarse_keys"]) > 0) & \
                        (z["coarse_keys"][pos] == keys)
                    inside = present & z["coarse_inside"][pos]
                    n_present += present
                    n_inside += inside
                    upd = present & (keys < min_present)
                    min_present[upd] = keys[upd]
                primary = cover_key[idx] == min_present
                pidx = idx[primary]
                if len(pidx) == 0:
                    continue
                keep_rows[pidx] = True
                turbo = (n_inside == ncells)[primary]
                # turbo: bbox entirely in INSIDE cells -> every vertex
                # strictly inside (WithinFilter.cpp:27-29 maybeLocateBox > 0)
                t_idx = pidx[turbo]
                loc_min[t_idx] = 1
                loc_max[t_idx] = 1
                within_ok[t_idx] = True
                inter_ok[t_idx] = True

                k_idx = pidx[~turbo]
                if len(k_idx) == 0:
                    continue
                starts = offsets[k_idx]
                lengths = offsets[k_idx + 1] - starts
                gather = _flat_gather(starts, lengths)
                vx = xs_all[gather]
                vy = ys_all[gather]
                # vertex classification against the FINE cover
                vkeys = _pack(_col_of(vx, z["fine_zoom"]),
                              _row_of(vy, z["fine_zoom"]))
                vloc = np.full(len(vx), -1, dtype=np.int32)
                vloc[_member(vkeys, z["fine_inside"])] = 1
                bmask = _member(vkeys, z["fine_boundary"])
                if bmask.any():
                    vloc[bmask] = kernel.locate_points(
                        vx[bmask], vy[bmask], z["edges"])
                wends = np.cumsum(lengths)
                woffs = np.concatenate(([0], wends[:-1]))
                mn = np.minimum.reduceat(vloc, woffs)
                mx = np.maximum.reduceat(vloc, woffs)
                loc_min[k_idx] = mn
                loc_max[k_idx] = mx
                area_k = is_area[k_idx]

                # --- within (WithinFilter.cpp:21-57): no vertex outside,
                # any inside; all-boundary lines reject, all-boundary
                # areas fall back to the centroid (issue #57)
                w_ok = (mn >= 0) & (mx == 1)
                cb = (mn == 0) & (mx == 0) & area_k
                for j in np.nonzero(cb)[0]:
                    s, e = woffs[j], wends[j]
                    cx, cy = kernel.areal_centroid([(vx[s:e], vy[s:e])])
                    w_ok[j] = bool(kernel.locate_points(
                        [cx], [cy], z["edges"])[0] == kernel.INSIDE)
                within_ok[k_idx] = w_ok

                # --- intersects (IntersectsFilter.cpp:36-75): any vertex
                # >= 0, any segment crossing, or candidate area contains
                # the zone (tested via the zone's first vertex)
                i_ok = mx >= 0
                todo = ~i_ok
                if todo.any():
                    seg_sel = np.nonzero(todo)[0]
                    sstarts = woffs[seg_sel]
                    slens = np.maximum(lengths[seg_sel] - 1, 0)
                    sg = _flat_gather(sstarts, slens)
                    if len(sg):
                        crosses = kernel.any_segment_crosses(
                            vx[sg], vy[sg], vx[sg + 1], vy[sg + 1],
                            z["edges"])
                        owner = np.repeat(np.arange(len(seg_sel)), slens)
                        hit = np.bincount(owner[crosses],
                                          minlength=len(seg_sel)) > 0
                        i_ok[seg_sel[hit]] = True
                    # closing segment for unclosed area rings
                    for j in seg_sel[~i_ok[seg_sel]]:
                        if not area_k[j]:
                            continue
                        s, e = woffs[j], wends[j]
                        if vx[s] != vx[e - 1] or vy[s] != vy[e - 1]:
                            if kernel.any_segment_crosses(
                                    [vx[e - 1]], [vy[e - 1]],
                                    [vx[s]], [vy[s]], z["edges"])[0]:
                                i_ok[j] = True
                                continue
                        # area candidate containing the zone: probe the
                        # zone's first vertex against the candidate ring
                        we = rings_to_edges(
                            [np.stack([vx[s:e], vy[s:e]], axis=1)])
                        if kernel.locate_points([z["probe"][0]],
                                                [z["probe"][1]], we)[0] >= 0:
                            i_ok[j] = True
                inter_ok[k_idx] = i_ok

            sel = np.nonzero(keep_rows)[0]
            cols = [batch.column(i).take(pa.array(sel)) for i in id_idx]
            cols += [pa.array(zone_ids[sel]),
                     pa.array(loc_min[sel], pa.int32()),
                     pa.array(loc_max[sel], pa.int32()),
                     pa.array(within_ok[sel]),
                     pa.array(inter_ok[sel])]
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in out_schema.fields])

    return cand.mapInArrow(locate_batches, schema=out_schema)


def way_within(ways: DataFrame, zone: PreparedZone | list[PreparedZone],
               ring_col: str = "ring", id_col: str = "way_id",
               is_area_col: str = "is_area",
               join_zoom: int | None = None) -> DataFrame:
    """Ways entirely within the zone(s) — exact reference semantics
    (WithinFilter::acceptWay). One row per (way, zone)."""
    zones = zone if isinstance(zone, list) else [zone]
    loc = way_locate(ways, zones, [id_col], ring_col, is_area_col, join_zoom)
    out = loc.filter(F.col("within_ok")).select(id_col, "zone_id")
    return out.select(id_col) if len(zones) == 1 else out


def way_intersects(ways: DataFrame, zone: PreparedZone | list[PreparedZone],
                   ring_col: str = "ring", id_col: str = "way_id",
                   is_area_col: str = "is_area",
                   join_zoom: int | None = None) -> DataFrame:
    """Ways whose geometry intersects the zone(s)
    (IntersectsFilter::acceptWay)."""
    zones = zone if isinstance(zone, list) else [zone]
    loc = way_locate(ways, zones, [id_col], ring_col, is_area_col, join_zoom)
    out = loc.filter(F.col("intersects_ok")).select(id_col, "zone_id")
    return out.select(id_col) if len(zones) == 1 else out


def rel_within(members: DataFrame, zones: list[PreparedZone],
               rel_col: str = "rel_id", member_col: str = "member_id",
               ring_col: str = "ring", is_area_col: str = "is_area",
               area_rel: bool = False,
               join_zoom: int | None = None) -> DataFrame:
    """Relations within the zone(s).

    Non-area relations (default): MUST_ACCEPT_ALL_MEMBERS — every member
    must locate >= 0 and at least one member must reach the interior
    (WithinFilter::locateMembers > 0). ``area_rel=True`` applies the
    area-relation rule instead: accept iff no member way has a vertex
    outside (WithinFilter::acceptAreaRelation).

    A member absent from the cover join never located >= 0 (its bbox does
    not even touch the zone), so relations with any such member are
    rejected by comparing the accepted-member count with the relation's
    member count.
    """
    loc = way_locate(members, zones, [rel_col, member_col],
                     ring_col, is_area_col, join_zoom)
    n_members = members.groupBy(rel_col).agg(
        F.count("*").alias("_n_members"))
    agg = (loc.groupBy(rel_col, "zone_id")
           .agg(F.min("loc_min").alias("_mn"), F.max("loc_max").alias("_mx"),
                F.count("*").alias("_n_located")))
    joined = agg.join(F.broadcast(n_members), rel_col)
    complete = F.col("_n_located") == F.col("_n_members")
    if area_rel:
        cond = complete & (F.col("_mn") >= 0)
    else:
        cond = complete & (F.col("_mn") >= 0) & (F.col("_mx") == 1)
    return joined.filter(cond).select(rel_col, "zone_id")


def rel_intersects(members: DataFrame, zones: list[PreparedZone],
                   rel_col: str = "rel_id", member_col: str = "member_id",
                   ring_col: str = "ring", is_area_col: str = "is_area",
                   join_zoom: int | None = None) -> DataFrame:
    """Relations intersecting the zone(s): ANY member accepted
    (SpatialFilter::acceptMembers without MUST_ACCEPT_ALL_MEMBERS)."""
    loc = way_locate(members, zones, [rel_col, member_col],
                     ring_col, is_area_col, join_zoom)
    return (loc.filter(F.col("intersects_ok"))
            .select(rel_col, "zone_id").distinct())


def way_crossing(ways: DataFrame, zone: PreparedZone | list[PreparedZone],
                 ring_col: str = "ring", id_col: str = "way_id",
                 join_zoom: int | None = None) -> DataFrame:
    """WHOLE-WAY crossing: ways with >= 1 segment crossing a zone edge —
    the reference's CrossesFilter accepts any feature
    (src/filter/CrossesFilter.cpp:10-41); ``crossing_segments`` is the
    segment-table primitive, this wrapper closes the fluent-API symmetry
    with way_within/way_intersects.

    Shape: JVM explode of consecutive-vertex segments (no Python), then
    the cover-pruned crossing kernel (only segments whose bbox touches a
    BOUNDARY cover cell pay Arrow), then distinct way ids. One row per
    (way[, zone])."""
    from libgeodesk_spark.operators.spatial_join import crossing_segments
    zones = zone if isinstance(zone, list) else [zone]
    seg = F.explode(F.transform(
        F.sequence(F.lit(1), F.size(ring_col) - 1),
        lambda i: F.struct(
            F.element_at(ring_col, i)["x"].alias("x1"),
            F.element_at(ring_col, i)["y"].alias("y1"),
            F.element_at(ring_col, i + 1)["x"].alias("x2"),
            F.element_at(ring_col, i + 1)["y"].alias("y2"))))
    # size(ring) < 2 would make sequence(1, size-1) STEP DOWN (Spark
    # auto-negates the step), yielding index 0 into a 1-based array —
    # runtime error instead of zero segments; degenerate ways have no
    # segments to cross anything
    segs = ways.filter(F.size(ring_col) >= 2) \
        .select(F.col(id_col), seg.alias("s")) \
        .select(id_col, "s.x1", "s.y1", "s.x2", "s.y2")
    hit = crossing_segments(segs, zones, join_zoom=join_zoom)
    if len(zones) == 1:
        return hit.select(id_col).distinct()
    return hit.select(id_col, "zone_id").distinct()


def way_max_meters_from(ways: DataFrame, meters: float, qx: int, qy: int,
                        ring_col: str = "ring", id_col: str = "way_id",
                        is_area_col: str = "is_area") -> DataFrame:
    """maxMetersFrom for way candidates (PointDistanceFilter.cpp:25-72):
    accept iff min point-segment distance over the way's segments is
    STRICTLY below d (float64, the reference's `<`); area candidates also
    accept when the query point lies inside the ring.

    Returns (id, d2) with d2 = floor(min squared distance in units);
    inside-area candidates report 0. Offsets-vectorized like way_locate.
    """
    from libgeodesk_spark.mercator import units_from_meters
    units = units_from_meters(meters, qy)
    d2_limit = units * units
    # bbox pre-window (PointDistanceFilter ctor): prunable range predicate
    d_ceil = int(np.ceil(units))
    bx0, by0, bx1, by1 = way_bbox(F.col(ring_col))
    pre = ways.select(id_col, ring_col, is_area_col) \
        .filter((bx1 >= qx - d_ceil) & (bx0 <= qx + d_ceil)
                & (by1 >= qy - d_ceil) & (by0 <= qy + d_ceil))

    in_schema = pre.schema
    ring_idx = in_schema.names.index(ring_col)
    area_idx = in_schema.names.index(is_area_col)
    id_idx = in_schema.names.index(id_col)
    from pyspark.sql import types as T
    out_schema = T.StructType([in_schema[id_col],
                               T.StructField("d2", T.LongType(), False)])

    def go(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ring_arr = batch.column(ring_idx)
            if isinstance(ring_arr, pa.ChunkedArray):
                ring_arr = ring_arr.combine_chunks()
            offsets = ring_arr.offsets.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            vx = ring_arr.values.field("x") \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            vy = ring_arr.values.field("y") \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            is_area = batch.column(area_idx) \
                .to_numpy(zero_copy_only=False).astype(bool)
            n = batch.num_rows
            starts = offsets[:-1]
            lengths = offsets[1:] - starts
            slens = np.maximum(lengths - 1, 0)
            sg = _flat_gather(starts, slens)
            d2s = kernel.point_segment_sq_dist(
                vx[sg], vy[sg], vx[sg + 1], vy[sg + 1], qx, qy)
            best = np.full(n, np.inf)
            owner = np.repeat(np.arange(n), slens)
            np.minimum.at(best, owner, d2s)
            # closing segment for unclosed area rings (areaFlag iteration)
            for j in np.nonzero(is_area & (lengths >= 3))[0]:
                s, e = offsets[j], offsets[j + 1]
                if vx[s] != vx[e - 1] or vy[s] != vy[e - 1]:
                    best[j] = min(best[j], float(kernel.point_segment_sq_dist(
                        vx[e - 1], vy[e - 1], vx[s], vy[s], qx, qy)))
            ok = best < d2_limit
            # inside-area distance is zero (PointDistanceFilter.cpp:50-63)
            for j in np.nonzero(is_area & (lengths >= 3))[0]:
                s, e = offsets[j], offsets[j + 1]
                we = rings_to_edges([np.stack([vx[s:e], vy[s:e]], axis=1)])
                if kernel.locate_points([qx], [qy], we)[0] >= 0:
                    ok[j] = True
                    best[j] = 0.0
            sel = np.nonzero(ok)[0]
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_idx).take(pa.array(sel)),
                 pa.array(np.floor(best[sel]).astype(np.int64))],
                names=[out_schema.fields[0].name, "d2"])

    return pre.mapInArrow(go, schema=out_schema)
