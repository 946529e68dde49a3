"""Self-test of the benchmark: runs each workload once at sf0.001 with
tracing on and pins the record schema, i.e. every metric name and unit.
A change that drops or renames a metric fails here.

    python3 perfbench/selftest.py            # both workloads
    python3 perfbench/selftest.py tile_reencode

Exits 0 when every workload passes. The expected names and units are
written out below on purpose, not imported from run.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: gated end-to-end metrics, reported by every workload
E2E = {"setup_s": "s", "ops_per_s": "1/s"}

#: named end-to-end metrics per workload (the record's ``named`` block)
NAMED = {
    "spatial_queries": {
        "setup_s": "s", "failed_ratio": "ratio", "queries_per_s": "1/s",
        "interactive_p90_s": "s", "window_p50_s": "s", "knn_p50_s": "s",
        "zone_join_p50_s": "s", "complex_join_p50_s": "s",
        "way_join_p50_s": "s", "tiling_p50_s": "s", "commit_p50_s": "s",
        "snapshot_scan_p50_s": "s"},
    "tile_reencode": {
        "setup_s": "s", "failed_ratio": "ratio", "images_per_s": "1/s"},
}

MODULES = ("session", "sources.writer", "sources.points", "sources.catalog",
           "geom.zones", "operators.spatial_join", "operators.knn",
           "operators.way_join", "operators.tileagg", "functions.cells",
           "media.codec")

#: per-layer metrics of the traced run, reported by every workload
LAYERS = {
    "session.build_s": "s",
    "sources.writer.write_gol_layout_s": "s",
    "spark.scan.rows_read_per_row_returned": "ratio",
    "spark.scan.files_read": "count",
    "spark.scan.partitions_read": "count",
    "spark.scan.time_s": "s",
    "operators.knn.jobs_per_query": "count",
    "geom.zones.prepare_zone_s": "s",
    "geom.zones.boundary_cells": "count",
    "geom.zones.inside_cells": "count",
    "operators.spatial_join.arrow_rows_sent": "count",
    "operators.spatial_join.arrow_true_hit_ratio": "ratio",
    "spark.arrow.python_time_s": "s",
    "spark.arrow.bytes_sent": "bytes",
    "operators.way_join.candidates_to_arrow": "count",
    "operators.way_join.decided_in_jvm_ratio": "ratio",
    "spark.exchange.shuffle_bytes": "bytes",
    "spark.exchange.write_s": "s",
    "operators.tileagg.pandas_stages": "count",
    "spark.arrow.boot_s": "s",
    "operators.tileagg.python_body_s": "s",
    "spark.stage.task_time_max_over_p50": "ratio",
    "media.codec.encode_us": "us",
    "media.codec.decode_us": "us",
    "media.codec.psnr_us": "us",
    "media.codec.c_kernel_loaded": "bool",
    "media.codec.bytes_out_per_byte_in": "ratio",
    "sources.catalog.commit_s": "s",
    "sources.catalog.compact_s": "s",
    "sources.catalog.files_per_snapshot": "count",
    "sources.catalog.bytes_written_per_byte_committed": "ratio",
    "sources.catalog.files_kept": "count",
    "sources.catalog.prune_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "driver.peak_rss_mb": "MB",
    "workers.peak_rss_mb": "MB",
    "trace.bookkeeping_s": "s",
}

#: traced-run values the record carries beyond the printed layer metrics
RECORD_LAYERS = ("spark.exchange.fetch_wait_s",
                 *(f"{m}.self_s" for m in MODULES))

#: layer metrics that must be measured (non-zero) on each workload
LIVE = {
    "spatial_queries": ("sources.writer.write_gol_layout_s",
                        "driver.peak_rss_mb", "workers.peak_rss_mb",
                        "spark.scan.files_read",
                        "operators.knn.jobs_per_query",
                        "geom.zones.prepare_zone_s",
                        "operators.spatial_join.arrow_rows_sent",
                        "operators.way_join.candidates_to_arrow",
                        "sources.catalog.commit_s",
                        "sources.catalog.compact_s",
                        "sources.catalog.files_kept"),
    "tile_reencode": ("operators.tileagg.pandas_stages",
                      "operators.tileagg.python_body_s",
                      "spark.exchange.shuffle_bytes"),
}

ENV_KEYS = ("cpus", "nproc", "scale", "seed", "python", "pyspark",
            "loadavg_start", "bandwidth_probe_img_per_s", "contended",
            "c_kernel_loaded")

#: regime record per workload
REGIME_KEYS = {
    "spatial_queries": ("join_arrow_boundary_branch", "knn_jobs_per_query",
                        "batch_rows", "commits"),
    "tile_reencode": ("synth_reencode_shape", "pandas_stages"),
}


def check(workload: str) -> list[str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1",
         "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])
    errs = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        errs.append(f"not correct: {record.get('errors')}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != LAYERS:
        errs.append(f"layer metrics differ: missing "
                    f"{sorted(set(LAYERS) - set(got))}, extra "
                    f"{sorted(set(got) - set(LAYERS))}, units "
                    f"{ {k: got[k] for k in got if LAYERS.get(k, got[k]) != got[k]} }")
    for k in RECORD_LAYERS:
        if not isinstance(record.get("layers", {}).get(k), (int, float)):
            errs.append(f"record lacks layer value {k}")
    for k in LIVE[workload]:
        if not result["metrics"].get(k, {}).get("value"):
            errs.append(f"layer metric {k} reads 0")
    units = record.get("named_units", {})
    for k, u in {**E2E, **NAMED[workload]}.items():
        if not isinstance(record["named"].get(k), (int, float)):
            errs.append(f"named metric {k} missing")
        elif units.get(k) != u:
            errs.append(f"named metric {k} unit {units.get(k)} != {u}")
    for k in ENV_KEYS:
        if k not in record.get("env", {}):
            errs.append(f"env record lacks {k}")
    for k in REGIME_KEYS[workload]:
        if record.get("regime", {}).get(k) is None:
            errs.append(f"regime record lacks {k}")
    if "tracing_overhead" not in record:
        errs.append("no tracing_overhead")
    return errs


def main(argv: list[str]) -> int:
    bad = 0
    for w in argv or list(NAMED):
        errs = check(w)
        print(f"{w}: {'ok' if not errs else 'FAIL'}")
        for e in errs:
            print(f"  {e}")
        bad += bool(errs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
