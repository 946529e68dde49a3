"""Expected answers from DuckDB over the same parquet files the engine
reads, cached on disk per (workload, input, seed).

Point results are compared as an order-insensitive checksum triple
(count, sum(pid), sum(pid * 2654435761 % 4294967291)); kNN as the exact
ordered (image_id, sq_dist) list; the pyramid as the exact
(zoom, cell, count) multiset; way joins as the exact way_id set.
"""

from __future__ import annotations

import json
import os

import duckdb

from libgeodesk_spark.sources.points import (
    locate_sql,
    points_sql,
    way_intersects_sql,
    way_within_sql,
)

CHECK_MUL = 2654435761
CHECK_MOD = 4294967291


def checksum_sql(pid: str = "pid") -> str:
    return (f"count(*)::BIGINT, coalesce(sum({pid}), 0)::BIGINT, "
            f"coalesce(sum(({pid} * {CHECK_MUL}) % {CHECK_MOD}), 0)::BIGINT")


class Oracle:
    def __init__(self, cache_path: str, work_dir: str, threads: int):
        self.cache_path = cache_path
        self.cache: dict = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)
        tmp = os.path.join(work_dir, "duckdb_tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con = duckdb.connect(config={"threads": threads,
                                          "temp_directory": tmp})

    def close(self):
        self.con.close()
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        with open(self.cache_path, "w") as f:
            json.dump(self.cache, f)

    def answer(self, key: str, compute):
        if key not in self.cache:
            self.cache[key] = compute()
        return self.cache[key]

    def rows(self, sql: str) -> list[list]:
        return [list(r) for r in self.con.execute(sql).fetchall()]

    # -- spatial_queries -------------------------------------------------------

    def bind_spatial(self, gol_path: str, lineitem_dir: str):
        self.con.execute(
            "CREATE OR REPLACE VIEW gol AS SELECT * FROM read_parquet("
            f"'{gol_path}/*/*.parquet', hive_partitioning = true)")
        self.con.execute(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM read_parquet("
            f"'{lineitem_dir}/lineitem.parquet')")

    def window(self, box) -> list:
        x0, y0, x1, y1 = box
        return self.rows(f"SELECT {checksum_sql()} FROM gol WHERE x BETWEEN "
                         f"{x0} AND {x1} AND y BETWEEN {y0} AND {y1}")[0]

    def knn(self, qx: int, qy: int, k: int) -> list:
        return self.rows(
            f"SELECT image_id, (x - {qx}) * (x - {qx}) + (y - {qy}) * "
            f"(y - {qy}) AS d FROM gol ORDER BY d, image_id LIMIT {k}")

    def within(self, ring) -> list:
        """Points strictly inside the zone (join_zones 'within'), through
        the shared crossing-parity SQL builder."""
        frag = locate_sql([list(ring)])
        xs = [v[0] for v in ring]
        ys = [v[1] for v in ring]
        return self.rows(f"""
            WITH p AS (SELECT pid, x, y FROM gol
                       WHERE x BETWEEN {min(xs)} AND {max(xs)}
                         AND y BETWEEN {min(ys)} AND {max(ys)}),
            loc AS (SELECT p.pid, SUM({frag['crossing']}) AS crossings,
                           MAX({frag['on_seg']}) AS on_boundary
                    FROM p CROSS JOIN {frag['edges']} GROUP BY p.pid)
            SELECT {checksum_sql()} FROM loc
            WHERE on_boundary = 0 AND crossings % 2 = 1""")[0]

    def ways(self, ring, predicate: str) -> list[int]:
        build = {"intersects": way_intersects_sql,
                 "within": way_within_sql}[predicate]
        return sorted(r[0] for r in self.rows(build([list(ring)])))

    def ways_in_bbox(self, ring) -> int:
        """Ways whose bbox meets the zone bbox: the way join's candidate
        set before any cell or geometry test."""
        xs = [v[0] for v in ring]
        ys = [v[1] for v in ring]
        return self.rows(f"""
            WITH w AS (SELECT pid // 8 AS way_id, count(*) AS n,
                              min(x) AS x0, max(x) AS x1,
                              min(y) AS y0, max(y) AS y1
                       FROM ({points_sql()}) GROUP BY 1)
            SELECT count(*) FROM w
            WHERE n >= 2 AND x1 >= {min(xs)} AND x0 <= {max(xs)}
              AND y1 >= {min(ys)} AND y0 <= {max(ys)}""")[0][0]

    def pyramid(self, levels) -> list[list[int]]:
        parts = []
        for z in levels:
            s = 32 - z
            parts.append(
                f"SELECT {z} AS zoom, ({z} * 16777216) + "
                f"(((2147483647 - y) >> {s}) * 4096) + "
                f"((x + 2147483648) >> {s}) AS cell FROM gol")
        return self.rows(
            "SELECT zoom, cell, count(*) FROM (" + " UNION ALL ".join(parts)
            + ") GROUP BY 1, 2 ORDER BY 1, 2")

    # -- tile_reencode ---------------------------------------------------------

    def tile_points(self, lineitem_dir: str) -> list[list[int]]:
        """(pid, cell_id, salt) of every derived point."""
        self.con.execute(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM read_parquet("
            f"'{lineitem_dir}/lineitem.parquet')")
        return self.rows(f"SELECT pid, cell_id, salt FROM ({points_sql()}) "
                         "ORDER BY pid")

    # -- ingest_scan -----------------------------------------------------------

    def batches_window(self, files: list[str], box) -> list:
        x0, y0, x1, y1 = box
        lst = ", ".join(f"'{p}'" for p in files)
        return self.rows(f"SELECT {checksum_sql()} FROM read_parquet([{lst}]) "
                         f"WHERE x BETWEEN {x0} AND {x1} "
                         f"AND y BETWEEN {y0} AND {y1}")[0]

    def batches_count(self, files: list[str]) -> int:
        lst = ", ".join(f"'{p}'" for p in files)
        return self.rows(f"SELECT count(*) FROM read_parquet([{lst}])")[0][0]
