"""The two workloads. Each one makes its inputs from the seed, warms up,
runs a closed loop of ops (the next op starts when the previous returns)
and checks every op's output against DuckDB after the loop.

Spans wrap each call into a package module: ``<module>.<function>`` for
the call that builds a DataFrame or does eager work, and
``<module>.collect`` for the action on a DataFrame that module built.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from __spark_entry__ import PYRAMID_LEVELS
from perfbench import inputs
from perfbench.oracle import CHECK_MOD, CHECK_MUL
from perfbench.tracing import host_steal_s


@dataclass
class Result:
    op: int
    kind: str
    latency_s: float
    rows_out: int = 0
    got: object = None
    key: str = ""
    params: object = None
    #: DataFrames an action ran on; their executed plans are walked after
    #: the loop in traced runs
    dfs: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    error: str | None = None
    #: host CPU steal over the op (tracing.host_steal_s)
    steal_s: float = 0.0


def checksum_cols(pid: str = "pid"):
    c = F.col(pid).cast("long")
    return [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(c), F.lit(0)).alias("s1"),
            F.coalesce(F.sum((c * F.lit(CHECK_MUL)) % F.lit(CHECK_MOD)),
                       F.lit(0)).alias("s2")]


def py_checksum(pids) -> list[int]:
    pids = [int(p) for p in pids]
    return [len(pids), sum(pids), sum(p * CHECK_MUL % CHECK_MOD
                                      for p in pids)]


class Workload:
    name = ""
    #: cycles the measured loop runs at least, whatever --seconds says
    min_cycles = 1
    #: op kinds whose rows_out counts points read from storage
    point_kinds: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tr(self):
        return self.ctx.tracer

    def timed(self, op_index: int, kind: str, fn) -> Result:
        """Run one op under its job group; a raised exception is a failed
        op, not a failed run."""
        with self.tr.op_group(op_index, f"{self.name}:{kind}"):
            res = Result(op_index, kind, 0.0)
            s0 = host_steal_s()
            t0 = time.perf_counter()
            try:
                fn(res)
            except Exception as e:      # noqa: BLE001 - counted as failed
                res.error = f"{type(e).__name__}: {e}"[:500]
            res.latency_s = time.perf_counter() - t0
            res.steal_s = host_steal_s() - s0
        return res

    # subclasses: prepare(rep_dir), warm_up(), cycle(n, start) -> results,
    # check(results) (sets Result.error), metrics(results),
    # regime(results), sample_pids(), layer_metrics(per_op)

    def sample_pids(self) -> list[int]:
        """Codec microbench sample from this rep's lineitem pids."""
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(self.li_dir, "lineitem.parquet"))
        pids = (t["l_orderkey"].to_numpy() * 8
                + t["l_linenumber"].to_numpy().astype(np.int64))
        return inputs.codec_sample(np.unique(pids), self.ctx.seed)


# ---------------------------------------------------------------------------
# spatial_queries
# ---------------------------------------------------------------------------

def replicated_points(spark, sf_dir: str, repl: int):
    """``bench.bench_points`` with cell_id and salt recomputed from each
    replica's jittered x/y and new pid. bench_points keeps the base
    point's cell_id, so a replica jittered across a cell edge carries the
    wrong cell and cell-pruned operators (knn) miss it."""
    from bench import bench_points

    from libgeodesk_spark.functions.cells import cell_id
    from libgeodesk_spark.sources.points import N_SALTS
    return (bench_points(spark, sf_dir, repl)
            .withColumn("cell_id", cell_id(F.col("x"), F.col("y")))
            .withColumn("salt", F.col("pid") % N_SALTS))


class SpatialQueries(Workload):
    """Interactive reads over the GOL layout and the derived ways, beside
    appends to and reads of a SnapshotTable (the ``IngestScan`` ops)."""

    name = "spatial_queries"
    point_kinds = ("window",)
    #: three cycles (~26 s at 4 cpus): the cost of a way, zone or complex
    #: join moves 1.0-2.0 s with its seeded zone, and with two such
    #: samples per run a ten-seed set spread about twice as wide as with
    #: three (README.md "Sizing")
    min_cycles = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.catalog = IngestScan(ctx)

    def prepare(self, rep_dir: str):
        from libgeodesk_spark.sources.points import derived_ways
        from libgeodesk_spark.sources.writer import (
            read_gol_layout,
            write_gol_layout,
        )
        sc = self.ctx.scale
        self.li_dir = os.path.join(rep_dir, "sf")
        with self.tr.span("perfbench.inputs.write_lineitem"):
            inputs.write_lineitem(self.li_dir, sc.spatial_orders,
                                  inputs.SPATIAL_POINTS_SEED)
        self.gol = os.path.join(rep_dir, "gol")
        with self.tr.span("sources.writer.write_gol_layout"):
            t0 = time.perf_counter()
            write_gol_layout(replicated_points(self.spark, self.li_dir,
                                               sc.spatial_repl), self.gol)
            self.ctx.layer_samples.setdefault(
                "sources.writer.write_gol_layout_s", []).append(
                    time.perf_counter() - t0)
        self.ways_path = os.path.join(rep_dir, "ways")
        with self.tr.span("sources.points.derived_ways"):
            (derived_ways(self.spark, self.li_dir)
             .repartition(self.ctx.cpus)
             .write.mode("overwrite").parquet(self.ways_path))
        self.pts = read_gol_layout(self.spark, self.gol)
        self.ways = self.spark.read.parquet(self.ways_path)
        self.ctx.oracle.bind_spatial(self.gol, self.li_dir)
        self.catalog.prepare(rep_dir, 1 + self.min_cycles)

    def warm_up(self):
        # one op of each kind with its own JVM or Python path; complex
        # joins take the zone-join path
        seen = set()
        for o in inputs.spatial_cycle(self.ctx.seed, inputs.WARMUP_CYCLE,
                                      -100):
            if o.kind not in seen and o.kind != "complex":
                seen.add(o.kind)
                self.execute(o)
        self.catalog.warm_up()

    def cycle(self, n: int, start: int) -> list[Result]:
        out = [self.execute(o)
               for o in inputs.spatial_cycle(self.ctx.seed, n, start)]
        return out + self.catalog.cycle(n, start + len(out))

    def execute(self, op: inputs.Op) -> Result:
        fn = getattr(self, "_" + op.kind)
        res = self.timed(op.index, op.kind, lambda r: fn(op, r))
        res.key = op.key
        res.params = op.params
        return res

    def _window(self, op, r):
        from libgeodesk_spark.sources.writer import scan_window
        with self.tr.span("sources.writer.scan_window"):
            df = scan_window(self.pts, *op.params).agg(*checksum_cols())
        with self.tr.span("sources.writer.collect"):
            row = df.collect()[0]
        r.got, r.rows_out, r.dfs = list(row), row[0], [df]

    def _knn(self, op, r):
        from libgeodesk_spark.operators.knn import knn
        qx, qy, k = op.params
        with self.tr.span("operators.knn.knn"):
            rows = knn(self.pts, qx, qy, k).collect()
        r.got = [[row["image_id"], row["sq_dist"]] for row in rows]
        r.rows_out = len(rows)

    def _zone_join(self, op, r):
        from libgeodesk_spark.geom.zones import prepare_zone
        from libgeodesk_spark.operators.spatial_join import join_zones
        ring = np.asarray(op.params[0], dtype=np.int64)
        with self.tr.span("geom.zones.prepare_zone"):
            t0 = time.perf_counter()
            z = prepare_zone(f"z{op.index}", [ring])
            r.counts["prepare_zone_s"] = time.perf_counter() - t0
        r.counts["boundary_cells"] = len(z.boundary_cells)
        r.counts["inside_cells"] = len(z.inside_cells)
        with self.tr.span("operators.spatial_join.join_zones"):
            df = join_zones(self.pts, [z], predicate="within",
                            columns=["pid"]).agg(*checksum_cols())
        with self.tr.span("operators.spatial_join.collect"):
            row = df.collect()[0]
        r.got, r.rows_out, r.dfs = list(row), row[0], [df]

    _zone = _zone_join
    _complex = _zone_join

    def _way(self, op, r):
        from libgeodesk_spark.geom.zones import prepare_zone
        from libgeodesk_spark.operators.way_join import (
            way_intersects,
            way_within,
        )
        verts, pred = op.params
        ring = np.asarray(verts, dtype=np.int64)
        with self.tr.span("geom.zones.prepare_zone"):
            t0 = time.perf_counter()
            z = prepare_zone(f"w{op.index}", [ring])
            r.counts["prepare_zone_s"] = time.perf_counter() - t0
        fn = way_intersects if pred == "intersects" else way_within
        with self.tr.span(f"operators.way_join.way_{pred}"):
            df = fn(self.ways, z).agg(*checksum_cols("way_id"))
        with self.tr.span("operators.way_join.collect"):
            row = df.collect()[0]
        r.got, r.rows_out, r.dfs = list(row), row[0], [df]

    def _tiling(self, op, r):
        from libgeodesk_spark.functions.cells import cell_id
        with self.tr.span("functions.cells.cell_id"):
            levels = F.array(*[
                F.struct(F.lit(z).alias("zoom"),
                         cell_id(F.col("x"), F.col("y"), z).alias("cell"))
                for z in PYRAMID_LEVELS])
            df = (self.pts.select(F.explode(levels).alias("lc"))
                  .groupBy("lc.zoom", "lc.cell").count())
        with self.tr.span("functions.cells.collect"):
            rows = df.collect()
        r.got = sorted([int(a), int(b), int(c)] for a, b, c in rows)
        r.rows_out, r.dfs = len(rows), [df]

    # -- checks ------------------------------------------------------------

    def expected(self, res: Result):
        o = self.ctx.oracle
        p = res.params
        if res.kind == "window":
            return o.answer(res.key, lambda: o.window(p))
        if res.kind == "knn":
            return o.answer(res.key, lambda: o.knn(*p))
        if res.kind in ("zone", "complex"):
            return o.answer(res.key, lambda: o.within(p[0]))
        if res.kind == "way":
            return o.answer(res.key,
                            lambda: py_checksum(o.ways(p[0], p[1])))
        if res.kind == "tiling":
            return o.answer(res.key, lambda: o.pyramid(PYRAMID_LEVELS))
        raise ValueError(res.kind)

    def check(self, results: list[Result]):
        self.catalog.check(IngestScan.only(results))
        for res in results:
            if res.error is not None or res.kind in IngestScan.kinds:
                continue
            want = self.expected(res)
            if res.got != want:
                res.error = wrong(res, want)

    def way_candidates(self, res: Result) -> int:
        o = self.ctx.oracle
        return o.answer("bbox:" + res.key,
                        lambda: o.ways_in_bbox(res.params[0]))

    def metrics(self, results: list[Result]) -> dict:
        lat = _latencies(results)
        inter = sorted(x for k in inputs.INTERACTIVE_KINDS
                       for x in lat.get(k, []))
        m = {
            "queries_per_s": busy_rate(results),
            "interactive_p90_s": pct(inter, 90),
            "interactive_samples": len(inter),
            "window_p50_s": _p50(lat, "window"),
            "knn_p50_s": _p50(lat, "knn"),
            "zone_join_p50_s": _p50(lat, "zone"),
            "complex_join_p50_s": _p50(lat, "complex"),
            "way_join_p50_s": _p50(lat, "way"),
            "tiling_p50_s": _p50(lat, "tiling"),
        }
        m["ops_per_s"] = m["queries_per_s"]
        m.update(self.catalog.metrics(IngestScan.only(results)))
        return m

    def regime(self, results: list[Result]) -> dict:
        from perfbench.tracing import is_python_node, plan_metrics
        knn_jobs = [len(self.tr.jobs_of(r.op)) for r in results
                    if r.kind == "knn"]
        join = next((r for r in results if r.kind == "zone" and r.dfs),
                    None)
        arrow = None
        if join is not None:
            nodes = plan_metrics(join.dfs[0]._jdf.queryExecution()
                                 .executedPlan())
            arrow = any(is_python_node(nd["node"]) for nd in nodes)
        return {"join_arrow_boundary_branch": arrow,
                "knn_jobs_per_query": (sum(knn_jobs) / len(knn_jobs)
                                       if knn_jobs else None),
                "cycle": list(inputs.CYCLE),
                **self.catalog.regime(IngestScan.only(results))}

    def layer_metrics(self, per_op) -> dict:
        from perfbench.tracing import is_python_node

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        def arrow(kinds):
            sent = recv = 0
            for r, nodes, _ in per_op:
                if r.kind in kinds:
                    for nd in nodes:
                        if is_python_node(nd["node"]):
                            sent += nd["rows_in"] or 0
                            recv += nd["metrics"].get(
                                "pythonNumRowsReceived", 0)
            return sent, recv

        cplx = [r for r, _, _ in per_op if r.kind == "complex"]
        joins = sum(r.kind in ("zone", "complex") for r, _, _ in per_op)
        ways = [r for r, _, _ in per_op if r.kind == "way"]
        j_sent, j_recv = arrow(("zone", "complex"))
        w_sent, _ = arrow(("way",))
        cands = sum(self.way_candidates(r) for r in ways)
        return {
            **self.catalog.layer_metrics(
                [p for p in per_op if p[0].kind in IngestScan.kinds]),
            "operators.knn.jobs_per_query": mean(
                [s["jobs"] for r, _, s in per_op if r.kind == "knn"]),
            "geom.zones.prepare_zone_s": mean(
                [r.counts.get("prepare_zone_s", 0) for r in cplx]),
            "geom.zones.boundary_cells": mean(
                [r.counts.get("boundary_cells", 0) for r in cplx]),
            "geom.zones.inside_cells": mean(
                [r.counts.get("inside_cells", 0) for r in cplx]),
            "operators.spatial_join.arrow_rows_sent": j_sent / max(joins, 1),
            "operators.spatial_join.arrow_true_hit_ratio":
                j_recv / max(j_sent, 1),
            "operators.way_join.candidates_to_arrow":
                w_sent / max(len(ways), 1),
            "operators.way_join.decided_in_jvm_ratio":
                1.0 - min(1.0, w_sent / cands) if cands else 0.0,
        }


# ---------------------------------------------------------------------------
# tile_reencode
# ---------------------------------------------------------------------------

class TileReencode(Workload):
    """The batch job: synth_reencode_metrics over derived points."""

    name = "tile_reencode"
    point_kinds = ("reencode",)
    #: three passes, so the median pass time shrugs off one slow pass
    min_cycles = 3

    def prepare(self, rep_dir: str):
        from libgeodesk_spark.sources.points import derived_points
        self.li_dir = os.path.join(rep_dir, "sf")
        with self.tr.span("perfbench.inputs.write_lineitem"):
            inputs.write_lineitem(
                self.li_dir, self.ctx.scale.tile_orders, self.ctx.seed,
                key_offset=inputs.tile_key_offset(self.ctx.seed))
        with self.tr.span("sources.points.derived_points"):
            self.points = derived_points(self.spark, self.li_dir)

    def warm_up(self):
        # one pass over a slice: boots the Python workers and loads the
        # C kernel in each of them
        self._pass(-1, self.points.filter(F.col("pid") % 8 == 1))

    def cycle(self, n: int, start: int) -> list[Result]:
        return [self._pass(start, self.points)]

    def _pass(self, index: int, points) -> Result:
        from libgeodesk_spark.operators.tileagg import synth_reencode_metrics

        def go(r):
            with self.tr.span("operators.tileagg.synth_reencode_metrics"):
                df = synth_reencode_metrics(points)
            with self.tr.span("operators.tileagg.collect"):
                rows = df.collect()
            r.got = [[int(x.cell_id), x.fmt, int(x.n_images),
                      int(x.bytes_in), int(x.bytes_out), float(x.min_psnr),
                      x.caption_sha] for x in rows]
            r.rows_out = sum(g[2] for g in r.got)
            r.dfs = [df]
        return self.timed(index, "reencode", go)

    def expected_groups(self) -> tuple[int, list]:
        """(image count, sorted (cell, fmt, n, caption_sha) per
        (cell, salt, fmt) group) recomputed from DuckDB's points."""
        from libgeodesk_spark.sources.images import caption_for, fmt_for

        def compute():
            pts = self.ctx.oracle.tile_points(self.li_dir)
            groups: dict = {}
            for pid, cell, salt in pts:     # pid order = image_id order
                groups.setdefault((cell, salt, fmt_for(pid)), []).append(pid)
            out = []
            for (cell, _salt, fmt), pids in groups.items():
                sha = hashlib.sha256()
                for pid in pids:
                    sha.update(caption_for(pid).encode("utf-8"))
                    sha.update(b"\x00")
                out.append([cell, fmt, len(pids), sha.hexdigest()])
            return [len(pts), sorted(out)]
        return self.ctx.oracle.answer("groups", compute)

    def check(self, results: list[Result]):
        n_images, groups = self.expected_groups()
        for res in results:
            if res.error is not None:
                continue
            got = sorted([g[0], g[1], g[2], g[6]] for g in res.got)
            if res.rows_out != n_images:
                res.error = f"images not conserved: {res.rows_out}"
            elif min(g[5] for g in res.got) < 40.0:
                res.error = "min_psnr below 40 dB"
            elif got != groups:
                res.error = "group counts or caption_sha differ"

    def metrics(self, results: list[Result]) -> dict:
        rate = busy_rate(results, lambda r: r.rows_out)
        return {"images_per_s": rate, "ops_per_s": rate,
                "pass_p50_s": _p50(_latencies(results), "reencode"),
                "images_per_pass": results[0].rows_out if results else 0}

    def regime(self, results: list[Result]) -> dict:
        from perfbench.tracing import plan_metrics
        first = next((r for r in results if r.dfs), None)
        stages = None
        if first is not None:
            stages = sum(nd["node"] == "FlatMapGroupsInPandasExec"
                         for nd in plan_metrics(first.dfs[0]._jdf
                                                .queryExecution()
                                                .executedPlan()))
        return {"synth_reencode_shape": {1: "single-pass", 2: "split"}.get(
                    stages), "pandas_stages": stages,
                "images_per_pass": self.n_images()}

    def n_images(self) -> int:
        return self.expected_groups()[0]

    def layer_metrics(self, per_op) -> dict:
        stages, body = 0, 0.0
        for _r, nodes, _ in per_op:
            grp = [nd for nd in nodes
                   if nd["node"] == "FlatMapGroupsInPandasExec"]
            stages = max(stages, len(grp))
            for nd in grp:
                ms = nd["metrics"]
                body += max(0, ms.get("pythonTotalTime", 0)
                            - ms.get("pythonBootTime", 0)
                            - ms.get("pythonInitTime", 0)) / 1e3
        return {"operators.tileagg.pandas_stages": stages,
                "operators.tileagg.python_body_s":
                    body / max(len(per_op), 1)}


# ---------------------------------------------------------------------------
# ingest_scan: the SnapshotTable ops of the spatial_queries mix
# ---------------------------------------------------------------------------

class IngestScan(Workload):
    """Appends beside reads on sources.catalog.SnapshotTable. Not a
    workload of its own: spatial_queries runs one of these cycles after
    each cycle of its read mix."""

    name = "ingest_scan"
    kinds = ("commit", "scan", "compact")

    @staticmethod
    def only(results: list[Result]) -> list[Result]:
        return [r for r in results if r.kind in IngestScan.kinds]

    def prepare(self, rep_dir: str, n_batches: int):
        """Write the first ``n_batches`` batches (the loop writes more,
        outside every op, if it runs long) and open an empty table."""
        from libgeodesk_spark.sources.catalog import SnapshotTable
        self.batch_dir = os.path.join(rep_dir, "batches")
        self.batches: list[str] = []
        with self.tr.span("perfbench.inputs.ingest_batch"):
            for _ in range(n_batches):
                self._batch()
        self.table = SnapshotTable(os.path.join(rep_dir, "table"),
                                   stat_cols=("x", "y"))
        self.committed = 0

    def _batch(self) -> str:
        b = len(self.batches)
        self.batches.append(inputs.ingest_batch(
            self.batch_dir, self.ctx.seed, b,
            self.ctx.scale.ingest_batch_rows))
        return self.batches[-1]

    def warm_up(self):
        # commits keep getting faster over the first several commits of a
        # JVM (planning warms up); one per set-up, three before the loop,
        # take most of that drift out of the measured loop, and the
        # lower-quartile rate the rest
        self._commit(-100)
        self._scan(-99, inputs.scan_windows(self.ctx.seed,
                                            inputs.WARMUP_CYCLE)[0])
        self._compact(-98)

    def cycle(self, n: int, start: int) -> list[Result]:
        """A commit, SCANS_PER_COMMIT reads of the snapshot it made, and a
        compact every COMPACT_EVERY cycles."""
        if self.committed >= len(self.batches):
            self._batch()            # input generation: outside every op
        out = [self._commit(start)]
        for box in inputs.scan_windows(self.ctx.seed, n):
            out.append(self._scan(start + len(out), box))
        if n % inputs.COMPACT_EVERY == inputs.COMPACT_EVERY - 1:
            out.append(self._compact(start + len(out)))
        return out

    def _data_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(self.table.path, "data", "*", "*.parquet")))

    def _commit(self, index: int) -> Result:
        path = self.batches[self.committed]

        def go(r):
            before = self._data_bytes()
            df = self.spark.read.parquet(path)
            with self.tr.span("sources.catalog.commit"):
                v = self.table.commit(df, zorder_by=("x", "y"))
            self.committed += 1
            r.counts["bytes_in"] = os.path.getsize(path)
            r.counts["bytes_written"] = self._data_bytes() - before
            r.counts["files"] = len(self.table.manifest(v)["files"])
            r.got = sum(e["rows"] for e in self.table.manifest(v)["files"])
            r.rows_out = r.got
        res = self.timed(index, "commit", go)
        res.params = self.committed
        return res

    def _compact(self, index: int) -> Result:
        def go(r):
            with self.tr.span("sources.catalog.compact"):
                v = self.table.compact(self.spark)
            r.got = sum(e["rows"] for e in self.table.manifest(v)["files"])
            r.rows_out = r.got
            r.counts["files"] = len(self.table.manifest(v)["files"])
        res = self.timed(index, "compact", go)
        res.params = self.committed
        return res

    def _scan(self, index: int, box) -> Result:
        x0, y0, x1, y1 = box

        def go(r):
            with self.tr.span("sources.catalog.planned_scan"):
                df, plan = self.table.planned_scan(
                    self.spark, {"x": (x0, x1), "y": (y0, y1)})
                df = df.agg(*checksum_cols())
            with self.tr.span("sources.catalog.collect"):
                row = df.collect()[0]
            r.got, r.rows_out, r.dfs = list(row), row[0], [df]
            r.counts["files_kept"] = plan["files_kept"]
            r.counts["files_pruned"] = plan["files_pruned"]
        res = self.timed(index, "scan", go)
        res.params = (self.committed, box)
        return res

    def check(self, results: list[Result]):
        o = self.ctx.oracle
        for res in results:
            if res.error is not None:
                continue
            if res.kind in ("commit", "compact"):
                want = o.batches_count(self.batches[:res.params])
            else:
                n, box = res.params
                want = o.batches_window(self.batches[:n], box)
            if res.got != want:
                res.error = wrong(res, want)

    def metrics(self, results: list[Result]) -> dict:
        lat = _latencies(results)
        return {"commit_p50_s": _p50(lat, "commit"),
                "snapshot_scan_p50_s": _p50(lat, "scan"),
                "compact_p50_s": _p50(lat, "compact")}

    def regime(self, results: list[Result]) -> dict:
        return {"batch_rows": self.ctx.scale.ingest_batch_rows,
                "scans_per_commit": inputs.SCANS_PER_COMMIT,
                "compact_every": inputs.COMPACT_EVERY,
                "commits": sum(r.kind == "commit" for r in results)}

    def layer_metrics(self, per_op) -> dict:
        rs = [r for r, _, _ in per_op]

        def med(kind):
            xs = [r.latency_s for r in rs if r.kind == kind]
            return statistics.median(xs) if xs else 0.0

        commits = [r for r in rs if r.kind == "commit"]
        scans = [r for r in rs if r.kind == "scan"]
        kept = sum(r.counts.get("files_kept", 0) for r in scans)
        pruned = sum(r.counts.get("files_pruned", 0) for r in scans)
        return {
            "sources.catalog.commit_s": med("commit"),
            "sources.catalog.compact_s": med("compact"),
            "sources.catalog.files_per_snapshot":
                sum(r.counts.get("files", 0) for r in commits)
                / max(len(commits), 1),
            "sources.catalog.bytes_written_per_byte_committed":
                sum(r.counts.get("bytes_written", 0) for r in commits)
                / max(sum(r.counts.get("bytes_in", 0) for r in commits), 1),
            "sources.catalog.files_kept": kept / max(len(scans), 1),
            "sources.catalog.prune_ratio": pruned / max(kept + pruned, 1),
        }


WORKLOADS = {w.name: w for w in (SpatialQueries, TileReencode)}


def _latencies(results: list[Result]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in results:
        out.setdefault(r.kind, []).append(r.latency_s)
    return out


def wrong(res: Result, want) -> str:
    """A failed check, with enough of the answers to start debugging."""
    return (f"wrong answer: {res.kind} op {res.op} key {res.key}: "
            f"got {str(res.got)[:200]} want {str(want)[:200]}")


def busy_rate(results: list[Result], work=lambda r: 1) -> float:
    """Work per second of the closed loop, with each op kind's time taken
    as its count x its lower-quartile latency. Other tenants of a shared
    host only ever add time to an op, in bursts that can cover half of a
    run; the lower quartile of each kind stays on the ops they left
    alone, while a change that slows every op of a kind moves it fully."""
    busy = sum(len(xs) * lower_quartile(xs)
               for xs in _latencies(results).values())
    return sum(work(r) for r in results) / busy


def lower_quartile(xs: list[float]) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[0]


def _p50(lat: dict, kind: str) -> float | None:
    xs = lat.get(kind)
    return statistics.median(xs) if xs else None


def pct(xs: list[float], q: int) -> float | None:
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
