"""Benchmark of the georasters_spark engine.

    python3 perfbench/run.py --workload batch_scan --seed 1 --seconds 12 --trace 0

Runs one workload (batch_scan or serve_mixed; see README.md) from one
client thread against a local[N] session, checks
every response against a numpy oracle, and prints human-readable
``#`` lines followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reruns the
workload with spans and the Spark event log on and reports the
per-layer metrics. Run it from the root of a source checkout; it writes
only under ``.bench_run/`` there and removes its files when done.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOAD_NAMES = ("batch_scan", "serve_mixed")  # workloads.WORKLOADS, importable only later
SETUP_REPS = 3  # set-ups per run; setup_s is their median
MAX_CORES = 4
# a fixed, pre-touched driver heap: the JVM's resident size then does
# not depend on when the collector chose to grow the heap, and
# peak_pss_mb moves with off-heap, Python worker and driver memory
DRIVER_GB = 1
# the JVM compiles with C1 only: with C2 on, a warm-up that fits the
# time budget left each run on the warm-up slope (latencies still fell
# by half over ten more requests), and where a run landed on it depended
# on how busy the host was. With C1 only, the second request of a kind
# is within about 20% of the settled cost
JIT_OPTS = "-XX:TieredStopAtLevel=1"

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_req": "ms",
    "peak_pss_mb": "MB",
    "stored_bytes_per_px": "B/px",
}

# spans that run Spark jobs; each gets the SPAN_COUNTERS below
SPARK_SPANS = ("synth.build_images", "catalog.setup_write", "spatial_join.zonal_fused",
               "pixels.lookup_fused", "knn.knn_tiles", "catalog.append",
               "reproject.warp", "algebra.polygonize")
SPAN_COUNTERS = {  # metric suffix -> (unit, SpanSummary field)
    "spark_jobs": ("count", "jobs"),
    "spark_stages": ("count", "stages"),
    "spark_tasks": ("count", "tasks"),
    "shuffle_write_mb": ("MB", "shuffle_write_mb"),
    "shuffle_read_mb": ("MB", "shuffle_read_mb"),
    "task_busy_s": ("s", "task_busy_s"),
    "core_util": ("ratio", "core_util"),
}
# span wall metrics: name -> (span, unit); ms metrics scale by 1000
SPAN_WALLS = {
    "session.start_s": ("session.start", "s"),
    "synth.build_images_s": ("synth.build_images", "s"),
    "catalog.setup_write_s": ("catalog.setup_write", "s"),
    "spatial_join.zonal_fused_s": ("spatial_join.zonal_fused", "s"),
    "pixels.lookup_fused_ms": ("pixels.lookup_fused", "ms"),
    "knn.knn_tiles_ms": ("knn.knn_tiles", "ms"),
    "catalog.scan_bbox_ms": ("catalog.scan_bbox", "ms"),
    "catalog.append_ms": ("catalog.append", "ms"),
    "reproject.warp_s": ("reproject.warp", "s"),
    "algebra.polygonize_s": ("algebra.polygonize", "s"),
}
LAYER_RATES = {
    "codec.decode_mpx_per_s": "Mpx/s",
    "codec.encode_mpx_per_s": "Mpx/s",
    "geometry.points_in_rings_mpts_per_s": "Mpt/s",
    "geometry.cells_touched_mpts_per_s": "Mpt/s",
    "cells.cell_of_mpts_per_s": "Mpt/s",
    "cells.kring_us": "us",
}
RATIOS = ("spatial_join.tiles_kept_ratio", "catalog.files_kept_ratio")


def per_layer_units() -> dict[str, str]:
    units = {}
    for span in SPARK_SPANS:
        for suffix, (unit, _) in SPAN_COUNTERS.items():
            units[f"{span}.{suffix}"] = unit
    units.update({name: unit for name, (_, unit) in SPAN_WALLS.items()})
    units["request.p50_ms"] = "ms"
    units["request.self_ms"] = "ms"
    units.update(LAYER_RATES)
    units.update({name: "ratio" for name in RATIOS})
    units.update({"catalog.stored_bytes": "B", "spark.gc_s": "s", "spark.spill_mb": "MB",
                  "trace.overhead_ratio": "ratio"})
    return units


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


# ---------------------------------------------------------------------------
# runtime
# ---------------------------------------------------------------------------

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_runtime(run_dir: str) -> dict:
    """Environment for the JVM and its Python workers, set before either
    starts: cores <= the CPUs this process may use, a driver heap that
    fits the machine, one BLAS/OpenMP thread, the checkout on the
    workers' import path, and every scratch directory inside run_dir."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)
    mem = mem_total_bytes()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{DRIVER_GB}g",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return {"nproc": nproc, "cores": cores, "mem_total_gb": round(mem / (1 << 30), 2),
            "driver_mem": f"{DRIVER_GB}g"}


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
    lines = [ln for ln in (out.stderr + out.stdout).splitlines() if "version" in ln]
    return lines[0] if lines else "unknown"


def source_identity() -> dict:
    """git commit when the checkout is a repository, and always a digest
    of the engine sources (checkouts without .git still differ by it)."""
    commit = None
    if os.path.isdir(os.path.join(REPO, ".git")):
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=60)
        commit = out.stdout.strip() or None
    h = hashlib.sha1()
    pkg = os.path.join(REPO, "georasters_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "engine_sha1": h.hexdigest()}


def start_session(name: str, trace: bool, run_dir: str):
    from georasters_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_GB}g -XX:+AlwaysPreTouch {JIT_OPTS}"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait until it has exited
    (its Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Loop:
    """Closed-loop results: per-request latency (s), CPU time (s) by
    `cpu_clock`, kind and outcome."""

    def __init__(self, cpu_clock):
        self.cpu_clock = cpu_clock
        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.kinds: list[str] = []  # kind of each timed request
        self.sent: set[str] = set()  # kinds sent, timed or failed
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0

    def send(self, req, tr=None) -> None:
        self.attempted += 1
        self.sent.add(req.kind)
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            if tr is None:
                res = req.run()
            else:
                with tr.span("request"):
                    res = req.run()
        except Exception:  # a failed request is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        self.lat.append(time.perf_counter() - t0)
        self.cpu.append(self.cpu_clock() - c0)
        self.kinds.append(req.kind)
        try:
            ok = bool(req.check(res))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"check failed: {req.kind} request", file=sys.stderr)
            self.failed += 1

    def run_for(self, reqs, seconds: float, kinds, tr=None) -> "Loop":
        """Send requests for `seconds`, and on until each of `kinds` has
        been sent at least once."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not set(kinds) <= self.sent:
            self.send(next(reqs), tr)
        self.wall = time.perf_counter() - t0
        return self


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str, ctx: dict) -> dict:
    import numpy as np

    import layers
    import stats
    import tracing
    import workloads as W

    tr = tracing.Tracer(trace)
    wl = W.WORKLOADS[workload](W.FULL[workload], seed, tr)
    marks = {"start": time.perf_counter()}
    host_before = stats.gemm_sample()
    setups: list[float] = []
    spark = None
    probes: list[W.Workload] = []
    extra: dict[str, float] = {}
    ratios: dict[str, dict] = {}
    sampler = stats.MemorySampler()

    def cpu_clock() -> float:
        """CPU seconds of the process tree, less the memory sampler's."""
        return stats.tree_cpu_seconds(os.getpid()) - sampler.cpu_s

    with sampler:
        try:
            with tr.span("session.start"):
                spark = start_session(workload, trace, run_dir)
            tr.bind(spark)
            marks["session"] = time.perf_counter()
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(spark, tr, os.path.join(run_dir, f"setup{rep}"))
                setups.append(time.perf_counter() - t0)
            marks["setup"] = time.perf_counter()
            wl.prepare()
            marks["prepare"] = time.perf_counter()
            warm = Loop(cpu_clock)
            for req in wl.requests(np.random.default_rng([seed, 5]), kinds=wl.WARMUP):
                warm.send(req)
            reqs = wl.requests(np.random.default_rng([seed, 1]))
            phase_a = None
            if trace:
                # the same loop with spans off: base of trace.overhead_ratio
                with tr.paused():
                    phase_a = Loop(cpu_clock).run_for(reqs, seconds / 2, wl.MIX)
            marks["warm-up"] = time.perf_counter()
            main = Loop(cpu_clock).run_for(reqs, seconds, wl.MIX, tr)
            marks["loop"] = time.perf_counter()
            stored, stored_px = wl.stored()
            if trace:
                missing = set(tracing.OP_SPANS) - set(wl.layer_spans)
                for cls in W.WORKLOADS.values():
                    kinds = [k for k, spans in cls.KIND_SPANS.items() if set(spans) <= missing]
                    if cls is type(wl) or not kinds:
                        continue
                    p = cls(W.PROBE, seed, tr)
                    with tr.paused():
                        p.setup(spark, tr, os.path.join(run_dir, f"probe-{cls.name}"))
                        p.prepare()
                    for req in p.requests(np.random.default_rng([seed, 4]), kinds=kinds):
                        warm.send(req)
                    probes.append(p)
                with tr.paused():
                    for p in [wl] + probes:
                        for k, v in p.ratios(spark).items():
                            ratios.setdefault(k, v)
                    tiles = wl.table.select("bytes", "fmt", "w", "h", "ndv").limit(
                        layers.SAMPLE_TILES).collect()
                extra = layers.sample(tiles, seed)
                tr.harvest()
        finally:
            if spark is not None:
                spark.stop()
            marks["trace extras"] = time.perf_counter()
            shutdown_jvm()
    host_after = stats.gemm_sample()
    marks["teardown"] = time.perf_counter()

    attempted = warm.attempted + main.attempted + (phase_a.attempted if phase_a else 0)
    failed = warm.failed + main.failed + (phase_a.failed if phase_a else 0)
    p50, mean = stats.mix_latency(main.lat, main.kinds, wl.MIX)
    cpu50, _ = stats.mix_latency(main.cpu, main.kinds, wl.MIX)
    say(f"context {json.dumps({**ctx, 'host_gemm1200_s_before': host_before, 'host_gemm1200_s_after': host_after})}")
    names = list(marks)
    say("phase walls (s): " + ", ".join(f"{b} {marks[b] - marks[a]:.1f}" for a, b in zip(names, names[1:])))
    say(f"session_start_s {marks['session'] - marks['start']:.3f} (JVM launch, one sample)")
    say(f"setup_s samples={[round(s, 4) for s in setups]} (the first also starts the Python workers)")
    say(f"requests: {len(main.lat)} timed in {main.wall:.3f} s, {warm.attempted} untimed "
        f"(warm-up and layer probes); fewer than 20, so no tail percentile is reported"
        if len(main.lat) < 20 else f"requests: {len(main.lat)} timed in {main.wall:.3f} s")
    fr = stats.ratio(failed, attempted)
    say(f"ops_failed_ratio {fr['value']} = {failed} failed / {attempted} attempted")
    for kind, w in wl.MIX.items():
        ks = [t for t, k in zip(main.lat, main.kinds) if k == kind]
        cs = [c for c, k in zip(main.cpu, main.kinds) if k == kind]
        say(f"  {kind}_p50_ms {statistics.median(ks) * 1e3:.3f} (n={len(ks)}, mix weight {w}; "
            f"all: {', '.join(f'{t * 1e3:.0f}' for t in ks)}); "
            f"cpu ms: {', '.join(f'{c * 1e3:.0f}' for c in cs)}")
    say(f"cpu_ms_per_req {cpu50 * 1e3:.3f}")
    say(f"mix_p50_ms {p50 * 1e3:.3f}; ops_per_s {1 / mean:.4f} = 1 / mix-weighted mean latency")
    say(f"px_per_s {wl.source_px() / p50:.1f} = {wl.source_px()} source px per request / mix_p50")
    say(f"stored_bytes_per_px {stored / stored_px:.4f} = {stored} B / {stored_px} px")
    say("peak_pss_mb by process: " + ", ".join(
        f"{k} {v / 1e6:.0f}" for k, v in sorted(sampler.peak_by_name.items()))
        + f" (sampler thread CPU {sampler.cpu_s:.2f} s, not in cpu_ms_per_req)")

    if not trace:
        metrics = {
            "setup_s": statistics.median(setups),
            "cpu_ms_per_req": cpu50 * 1e3,
            "peak_pss_mb": sampler.peak / 1e6,
            "stored_bytes_per_px": stored / stored_px,
        }
        units = END_TO_END_UNITS
    else:
        metrics = layer_metrics(tr, run_dir, int(ctx["cores"]), extra, ratios, stored,
                                p50 / stats.mix_latency(phase_a.lat, phase_a.kinds, wl.MIX)[0])
        metrics["request.p50_ms"] = p50 * 1e3
        units = per_layer_units()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def layer_metrics(tr, run_dir, cores, extra, ratios, stored, overhead) -> dict:
    import tracing

    groups = tracing.read_event_logs(os.path.join(run_dir, "eventlog"))
    summ = tracing.summarize(tr.spans, groups, cores)
    out = {}
    for span in SPARK_SPANS:
        s = summ.get(span)
        for suffix, (_, field) in SPAN_COUNTERS.items():
            out[f"{span}.{suffix}"] = getattr(s, field) if s else 0.0
        if s:
            say(f"span {span}: n={s.n} wall_s={s.wall_s:.4f} jobs={s.jobs} stages={s.stages} "
                f"tasks={s.tasks} busy_s={s.task_busy_s:.3f} gc_s={s.gc_s:.3f} spill_mb={s.spill_mb:.3f}")
    for name, (span, unit) in SPAN_WALLS.items():
        s = summ.get(span)
        out[name] = (s.wall_s * (1e3 if unit == "ms" else 1.0)) if s else 0.0
    req = summ.get("request")
    out["request.self_ms"] = req.self_s * 1e3 if req else 0.0
    out.update(extra)
    for name in RATIOS:
        r = ratios.get(name) or {"value": None, "num": 0, "den": 0}
        say(f"{name} {r['value']} = {r['num']} / {r['den']}")
        out[name] = r["value"] if r["value"] is not None else 0.0
    out["catalog.stored_bytes"] = stored
    out["spark.gc_s"] = sum(g["gc_ms"] for g in groups.values()) / 1e3
    out["spark.spill_mb"] = sum(g["spill_bytes"] for g in groups.values()) / 1e6
    out["trace.overhead_ratio"] = overhead
    say(f"trace.overhead_ratio {overhead:.4f} = traced mix_p50 / untraced mix_p50 in the same session")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "georasters_spark")):
        print(f"perfbench: no georasters_spark package next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(REPO, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        env = pin_runtime(run_dir)
        sys.path[:0] = [REPO, HERE]
        import pyspark

        ctx = {**env, "pyspark": pyspark.__version__, "java": java_version(),
               "python": sys.version.split()[0], "workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace, **source_identity()}
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
