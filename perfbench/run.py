"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_queries --seed 1 \\
        --seconds 12 --trace 0

Runs one workload (``spatial_queries`` or ``tile_reencode``) on one
driver process at local[nproc]: sets up three times (the median is
``setup_s``), runs a closed loop of ops for ``--seconds``, checks every
op against DuckDB, and prints the full record as one JSON line followed
by the result line::

    {"correct": true, "attempted": 22, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. Everything the run writes goes under
``.perfbench_work/`` at the repository root. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# run as a script, this directory is sys.path[0]; import the benchmark as
# the ``perfbench`` package from the repository root instead
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
        os.path.abspath(__file__)):
    sys.path[0] = ROOT
elif ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.tracing import MODULES  # noqa: E402

#: seconds after start past which the measured loop starts no new cycle
#: (a spatial_queries run takes ~75 s at 4 cpus, a slow one up to ~130 s)
LOOP_DEADLINE_S = 110

#: images in the pre-run bandwidth probe (bench.bandwidth_probe): under
#: a second at 4 cpus; the probe is an environment record, not a gate
PROBE_IMAGES = 500
SETUP_REPS = 3
DRIVER_MEM = "2g"

#: end-to-end metrics every workload reports (trace 0), with their units.
#: ops_per_s is work over the busy time of the closed loop, each op kind
#: counted at its lower-quartile latency; a run's op median or p90 is not
#: reported here because a run holds too few ops of each kind for either
#: to be steady (README.md "Metrics").
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s"}

#: units of the named metrics in the record (each workload reports the
#: ones that apply)
NAMED_UNITS = {
    **E2E_UNITS, "failed_ratio": "ratio", "op_p50_s": "s", "op_p90_s": "s",
    "queries_per_s": "1/s", "interactive_p90_s": "s",
    "interactive_samples": "count", "window_p50_s": "s", "knn_p50_s": "s",
    "zone_join_p50_s": "s", "complex_join_p50_s": "s",
    "way_join_p50_s": "s", "tiling_p50_s": "s", "images_per_s": "1/s",
    "pass_p50_s": "s", "images_per_pass": "count", "commit_p50_s": "s",
    "snapshot_scan_p50_s": "s", "compact_p50_s": "s",
}

#: per-layer metrics of the traced run (trace 1), with their units
LAYER_UNITS = {
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

#: traced-run values kept in the record only: per-module self time, and
#: shuffle fetch wait, which local mode never incurs (it reads 0)
RECORD_ONLY_LAYERS = ("spark.exchange.fetch_wait_s",
                      *(f"{m}.self_s" for m in MODULES))


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv=None):
    from perfbench.inputs import SCALES
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    a = ap.parse_args(argv)
    if a.seed < 0:
        ap.error("--seed must be >= 0")
    return a


def configure_env(run_dir: str):
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for d in ("tmp", "spark_local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(os.path.join(WORK, "fastcodec"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark_local")
    os.environ["SPARK_GRAFT_FASTCODEC_DIR"] = os.path.join(WORK, "fastcodec")
    # the launcher JVM that spark-submit starts first writes no perf
    # file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")


class Ctx:
    """What a workload needs: the session, tracer, oracle and inputs."""

    def __init__(self, args, cpus: int, run_dir: str):
        from perfbench.inputs import SCALES
        from perfbench.tracing import Tracer
        self.seed = args.seed
        self.scale = SCALES[args.scale]
        self.cpus = cpus
        self.run_dir = run_dir
        self.spark = None
        self.tracer = Tracer(lambda: self.spark.sparkContext,
                             enabled=bool(args.trace))
        self.oracle = None
        self.layer_samples: dict[str, list[float]] = {}

    def build_session(self):
        from libgeodesk_spark.session import build_session
        tmp = os.environ["TMPDIR"]
        with self.tracer.span("session.build_session"):
            t0 = time.perf_counter()
            self.spark = build_session(
                "perfbench", cpus=self.cpus, driver_mem=DRIVER_MEM,
                **{"spark.ui.showConsoleProgress": "false",
                   "spark.sql.warehouse.dir": os.path.join(self.run_dir,
                                                           "warehouse"),
                   # -XX:-UsePerfData: no JVM perf file in /tmp
                   "spark.driver.extraJavaOptions":
                       f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} "
                       "-XX:-UsePerfData"})
            self.layer_samples.setdefault("session.build_s", []).append(
                time.perf_counter() - t0)


def setup(ctx: Ctx, wl, oracle_path: str) -> list[float]:
    """SETUP_REPS full set-ups: session (built on the first, reused
    after), input generation and writes, oracle-cache load, warm-up.
    Earlier set-ups' files stay until the run ends: deleting them here
    would put file-system work (discards) into the measured loop."""
    from perfbench.oracle import Oracle
    times = []
    for rep in range(SETUP_REPS):
        rep_dir = os.path.join(ctx.run_dir, f"rep{rep}")
        if rep:
            ctx.oracle.close()
        t0 = time.perf_counter()
        if ctx.spark is None:
            ctx.build_session()
        ctx.oracle = Oracle(oracle_path, ctx.run_dir, ctx.cpus)
        wl.prepare(rep_dir)
        wl.warm_up()
        times.append(time.perf_counter() - t0)
    return times


def measure(wl, seconds: float, deadline: float):
    """Closed loop: whole cycles until ``seconds`` have passed and the
    workload has run its minimum number of cycles. Past ``deadline`` (a
    perf_counter time) no new cycle starts once one has run, so that a
    run on a host slowed 2-3x still ends within the 180 s a run may
    take. Returns the results, the loop time and the cycles run."""
    results = []
    t0 = time.perf_counter()
    n = 0
    while n == 0 or (time.perf_counter() < deadline and (
            n < wl.min_cycles or time.perf_counter() - t0 < seconds)):
        results.extend(wl.cycle(n, len(results)))
        n += 1
    return results, time.perf_counter() - t0, n


def host_counters() -> dict:
    """Seconds since boot, summed over CPUs: the machine's busy CPU time,
    the part of it this run's processes used, the CPU steal time and the
    CPU pressure (time some runnable task waited for a CPU). Their growth
    over the loop says how much the host, not the program, slowed a
    run."""
    from perfbench.tracing import descendants, host_steal_s, proc_table
    tck = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    own = 0
    for pid in (os.getpid(), *descendants(proc_table(), os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            own += int(fields[11]) + int(fields[12])     # utime + stime
        except (OSError, ValueError, IndexError):
            pass
    out = {"busy_cpu_s": (sum(cpu[:3]) + sum(cpu[5:7])) / tck,
           "own_cpu_s": own / tck, "steal_s": host_steal_s()}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        out["cpu_pressure_some_s"] = int(some[-1].split("=")[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return out


def jvm_counters(spark) -> dict:
    """The driver JVM's garbage-collection and JIT-compilation time so
    far, in seconds. Spark generates and compiles new code for most
    queries, so JIT compilation keeps running through the loop."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {"gc_s": sum(b.getCollectionTime()
                        for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "jit_compile_s":
                mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def host_delta(before: dict, after: dict) -> dict:
    d = {k: after[k] - before[k] for k in after if k in before}
    d["other_cpu_s"] = d["busy_cpu_s"] - d["own_cpu_s"]
    return d


def codec_microbench(pids) -> dict:
    """Per-image encode / decode / psnr cost of the driver-side codec on
    the workload's own pid sample."""
    from libgeodesk_spark.media import codec
    from libgeodesk_spark.sources.images import fmt_for, size_for
    enc = dec = ps = 0.0
    b_in = b_out = 0
    for pid in pids:
        w, h = size_for(pid)
        px = codec.synth_pixels(pid, w, h)
        t0 = time.perf_counter()
        blob = codec.encode(px, fmt_for(pid))
        t1 = time.perf_counter()
        px2, f = codec.decode(blob)
        t2 = time.perf_counter()
        codec.psnr(px, px2)
        t3 = time.perf_counter()
        enc, dec, ps = enc + t1 - t0, dec + t2 - t1, ps + t3 - t2
        b_in += len(blob)
        b_out += len(codec.encode(px2, f))
    n = max(len(pids), 1)
    return {"media.codec.encode_us": enc / n * 1e6,
            "media.codec.decode_us": dec / n * 1e6,
            "media.codec.psnr_us": ps / n * 1e6,
            "media.codec.c_kernel_loaded": int(codec._fc() is not None),
            "media.codec.bytes_out_per_byte_in": b_out / max(b_in, 1)}


def e2e_metrics(results, setup_times, wl) -> dict:
    from perfbench.workloads import pct
    lat = sorted(r.latency_s for r in results)
    m = wl.metrics(results)
    m.update({"setup_s": statistics.median(setup_times),
              "op_p50_s": statistics.median(lat),
              "op_p90_s": pct(lat, 90)})
    return m


def layer_metrics(ctx: Ctx, wl, results, rss) -> dict:
    """Per-layer metrics of the measured loop. Spark-side sums are per op
    (divided by the number of ops) unless the name says otherwise."""
    from perfbench.tracing import is_python_node, plan_metrics
    tr = ctx.tracer
    t0 = time.perf_counter()
    per_op = []
    for r in results:
        nodes = [n for df in r.dfs
                 for n in plan_metrics(df._jdf.queryExecution()
                                       .executedPlan())]
        per_op.append((r, nodes, tr.stage_stats(r.op)))
    tr.bookkeeping_s += time.perf_counter() - t0
    n = max(len(results), 1)

    def tot(pred, key, kinds=None):
        return sum(nd["metrics"].get(key, 0) for r, nodes, _ in per_op
                   if kinds is None or r.kind in kinds
                   for nd in nodes if pred(nd["node"]))

    def scan(c):
        return c.startswith("FileSourceScan")

    def exch(c):
        return c.startswith("ShuffleExchange")

    # rows read per row returned, over the ops whose rows are points
    # (an aggregate's output rows would say nothing about pruning)
    kinds = wl.point_kinds
    returned = sum(r.rows_out for r in results if r.kind in kinds)
    stats = [s for _, _, s in per_op]
    m = dict.fromkeys((*LAYER_UNITS, *RECORD_ONLY_LAYERS), 0.0)
    m.update({
        "session.build_s": ctx.layer_samples["session.build_s"][0],
        "sources.writer.write_gol_layout_s": _median0(
            ctx.layer_samples.get("sources.writer.write_gol_layout_s")),
        "spark.scan.rows_read_per_row_returned":
            tot(scan, "numOutputRows", kinds) / max(returned, 1),
        "spark.scan.files_read": tot(scan, "numFiles") / n,
        "spark.scan.partitions_read": tot(scan, "numPartitions") / n,
        "spark.scan.time_s": tot(scan, "scanTime") / 1e3 / n,
        "spark.arrow.python_time_s":
            tot(is_python_node, "pythonTotalTime") / 1e3 / n,
        "spark.arrow.bytes_sent": tot(is_python_node, "pythonDataSent") / n,
        "spark.arrow.boot_s": tot(is_python_node, "pythonBootTime") / 1e3 / n,
        "spark.exchange.shuffle_bytes": tot(exch, "shuffleBytesWritten") / n,
        "spark.exchange.write_s": tot(exch, "shuffleWriteTime") / 1e9 / n,
        "spark.exchange.fetch_wait_s": tot(exch, "fetchWaitTime") / 1e3 / n,
        "spark.jobs_per_op": sum(s["jobs"] for s in stats) / n,
        "spark.stages_per_op": sum(s["stages"] for s in stats) / n,
        "spark.stage.task_time_max_over_p50": _median0(
            [s["skew"] for s in stats if s["skew"] is not None]),
        "driver.peak_rss_mb": rss.driver_peak_kb / 1024,
        "workers.peak_rss_mb": rss.workers_peak_kb / 1024,
    })
    m.update(codec_microbench(wl.sample_pids()))
    m.update(wl.layer_metrics(per_op))
    for mod, s in tr.self_times(min_op=0).items():
        m[f"{mod}.self_s"] = s / n
    m["trace.bookkeeping_s"] = tr.bookkeeping_s / n
    return m


def _median0(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tracing_overhead(args, named: dict) -> dict:
    """Traced minus untraced end-to-end values, against the newest
    untraced record of this workload (same seed preferred)."""
    import glob
    recs = []
    for p in glob.glob(os.path.join(WORK, "results",
                                    f"{args.workload}-*-trace0.json")):
        with open(p) as f:
            rec = json.load(f)
        if rec.get("scale") == args.scale:
            recs.append((rec["seed"] == args.seed, os.path.getmtime(p), rec))
    if not recs:
        return {"basis": None}
    _, _, base = max(recs, key=lambda t: (t[0], t[1]))
    out = {"basis": f"untraced run, seed {base['seed']}"}
    for k, v in named.items():
        b = base["named"].get(k)
        if isinstance(v, (int, float)) and isinstance(b, (int, float)):
            out[k] = v - b
    return out


def env_record(args, cpus: int, probe) -> dict:
    import pyspark

    from libgeodesk_spark.media import codec
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": cpus, "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
            "scale": args.scale, "seed": args.seed,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "loadavg_start": load,
            "driver_mem": DRIVER_MEM,
            "bandwidth_probe_img_per_s": probe,
            "bandwidth_probe_width": cpus,
            # bench.py pins no quiet-window probe value for this width,
            # so the probe is recorded without a contention verdict
            "contended": None,
            "c_kernel_loaded": codec._fc() is not None}


def shutdown(ctx: Ctx):
    """Stop Spark, end the JVM and wait for every process the run
    started; kill what does not end."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants, proc_table
    kids = set(descendants(proc_table(), os.getpid()))
    gw = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:       # noqa: BLE001 - the JVM may be gone already
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:   # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if _running(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return " Z " not in f.read(200)
    except OSError:
        return False


def main(argv=None) -> int:
    t_start = time.perf_counter()
    needed = (os.path.join("libgeodesk_spark", "__init__.py"), "bench.py",
              "__spark_entry__.py")
    if not all(os.path.isfile(os.path.join(ROOT, p)) for p in needed):
        fail("libgeodesk_spark/, bench.py and __spark_entry__.py must sit "
             "beside perfbench/ (run from the root of a repository checkout)")
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    configure_env(run_dir)

    import shutil

    from bench import bandwidth_probe
    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS

    probe = bandwidth_probe(n_images=PROBE_IMAGES, procs=cpus)
    ctx = Ctx(args, cpus, run_dir)
    wl = WORKLOADS[args.workload](ctx)
    oracle_path = os.path.join(
        WORK, "oracle", f"{args.workload}-{args.scale}-seed{args.seed}.json")
    rss = RssSampler().start() if args.trace else None
    try:
        setup_times = setup(ctx, wl, oracle_path)
        host0, jvm0 = host_counters(), jvm_counters(ctx.spark)
        results, loop_s, cycles = measure(wl, args.seconds,
                                          t_start + LOOP_DEADLINE_S)
        host1, jvm1 = host_counters(), jvm_counters(ctx.spark)
        if rss:
            rss.stop()
        wl.check(results)
        named = e2e_metrics(results, setup_times, wl)
        failed = sum(r.error is not None for r in results)
        named["failed_ratio"] = failed / len(results)
        record = {
            "workload": args.workload, "seed": args.seed,
            "scale": args.scale, "trace": args.trace,
            "seconds": args.seconds, "loop_s": loop_s, "cycles": cycles,
            "env": env_record(args, cpus, probe),
            "host_during_loop": host_delta(host0, host1),
            "jvm_during_loop": {k: jvm1[k] - jvm0[k] for k in jvm1},
            "regime": wl.regime(results),
            "setup_s_reps": setup_times,
            "named": named,
            "named_units": {k: NAMED_UNITS[k] for k in named},
            "ops": len(results), "failed": failed,
            "op_latencies_s": [[r.kind, r.latency_s] for r in results],
            "op_steal_s": [r.steal_s for r in results],
            "errors": [r.error for r in results if r.error][:5],
        }
        if args.trace:
            layers = layer_metrics(ctx, wl, results, rss)
            record["layers"] = layers
            record["tracing_overhead"] = tracing_overhead(args, named)
            ctx.tracer.dump(os.path.join(
                WORK, "results",
                f"{args.workload}-seed{args.seed}-spans.jsonl"))
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": named[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(
                WORK, "results",
                f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump(record, f, indent=1)
    finally:
        if rss:
            rss.stop()
        if ctx.oracle is not None:
            ctx.oracle.close()
        shutdown(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(results),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
