"""Benchmark entry point.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. One run is one process with one
fresh Spark JVM in local mode on every CPU the process may use:

1. start the session, then build and cache the seeded inputs
   `SETUP_REPS` times (`setup_s` = session start + median input set-up);
2. compute the expected results with numpy, outside any timed region;
3. run passes: the first is `cold_pass_s`, the next `WARMUP_PASSES` are
   warm-up and discarded, then passes run for `--seconds` and
   `rows_per_s` comes from their median;
4. check every pass against the expectation; an exception or mismatch
   is a failed pass, never retried.

`--trace 1` makes the same run with spans and the Spark event log on
and prints the per-layer metrics instead; the spans are written under
`.bench_work/trace/`. The last line of stdout is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

SETUP_REPS = 3
WARMUP_PASSES = 1
MIN_WINDOW = 2
# With a 2g heap, how far G1 grew it varied by ≈500 MB between identical
# runs and dominated the spread of peak_rss_mb (perfbench/NOTES.md).
DRIVER_MEM = "1g"
WORK = ".bench_work"

END_TO_END = {
    "rows_per_s": "1/s",
    "cold_pass_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer span metrics: "<span name>.s", the median over steady passes
# (or over set-up repetitions, for spans that only occur in set-up) of
# the summed span durations in one pass. A layer a workload bypasses
# reads 0.
SPAN_METRICS = [
    "session.get_spark",
    "corpus.generate",
    "corpus.load",
    "sources.geojson.point_spans",
    "sources.geojson.geometry_spans",
    "operators.pip.pip_join",
    "operators.tiling.media_spans",
    "operators.tiling.assign_tiles_from_anchors",
    "operators.knn.knn_join",
    "operators.layers.merge_layers",
    "operators.reproject.reproject_layers",
    "operators.layers.normalize_layer",
    "plans.table.commit",
    "operators.layers.layer_summary",
]
# Spans whose Spark jobs get event-log task metrics. Jobs belong to the
# innermost open span; normalize_layer submits none of its own (its
# projection runs in the commit's write job).
EVENT_SPANS = [
    "sources.geojson.point_spans",
    "sources.geojson.geometry_spans",
    "operators.pip.pip_join",
    "operators.tiling.assign_tiles_from_anchors",
    "operators.knn.knn_join",
    "operators.layers.merge_layers",
    "operators.reproject.reproject_layers",
    "plans.table.commit",
    "operators.layers.layer_summary",
]
EVENT_UNITS = {
    "cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "tasks": "count", "tasks_failed": "count",
}
COUNT_METRICS = {
    "operators.knn.knn_join.jobs": "count",
    "plans.table.bytes_written_mb": "MB",
    "plans.table.files_written": "count",
}
KERNEL_METRICS = [
    "functions.geomkern.points_in_single_polygon.rows_per_s",
    "functions.tiles.quadkey_list.rows_per_s",
    "functions.cells.cell_encode.rows_per_s",
    "functions.projection.to_wgs84.rows_per_s",
]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {f"{n}.s": "s" for n in SPAN_METRICS}
    for name in EVENT_SPANS:
        for field, unit in EVENT_UNITS.items():
            units[f"{name}.{field}"] = unit
    units.update(COUNT_METRICS)
    units.update({k: "1/s" for k in KERNEL_METRICS})
    units["trace.pass_s"] = "s"
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-tests use a small one)")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Size the engine to this machine through its own environment
    variables, and keep every temporary file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f} s] {msg}", file=sys.stderr)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for all of them to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in procs:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Passes:
    """Runs and checks passes; keeps timings by phase."""

    def __init__(self, wl, tracer, want, rss=None):
        self.wl = wl
        self.tracer = tracer
        self.want = want
        self.rss = rss
        self.peak_rss: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.layer_counts: list[dict] = []
        self.phases: list[str] = []

    def run(self, phase: str) -> float | None:
        index = self.attempted
        self.attempted += 1
        self.phases.append(phase)
        self.tracer.phase = phase
        if self.rss:
            self.rss.restart()
        peak = None
        try:
            t0 = time.perf_counter()
            got = self.wl.run_pass(index)
            dt = time.perf_counter() - t0
            if self.rss:
                peak = self.rss.peak
                if phase.startswith("window"):
                    self.peak_rss.append(peak)
            problems = self.wl.check(index, got, self.want)
            if phase.startswith("window"):
                self.layer_counts.append(self.wl.layer_counts(index))
        except Exception:
            traceback.print_exc()
            problems, dt = ["pass raised"], None
        finally:
            self.wl.after_pass(index)
        if problems:
            self.failed += 1
            print(f"pass {index} ({phase}) FAILED: {'; '.join(problems)}", file=sys.stderr)
            return None
        rss = f", peak RSS {peak / 1e6:.0f} MB" if peak else ""
        print(f"pass {index} ({phase}) {dt:.3f} s{rss}", file=sys.stderr)
        return dt


def measure(wl, tracer, seconds: float, rss):
    """Cold pass, WARMUP_PASSES discarded passes, then the steady window
    of at least MIN_WINDOW passes lasting `seconds`."""
    want = wl.expected()
    log("expected results computed")
    p = Passes(wl, tracer, want, rss)
    cold = p.run("cold")
    for i in range(WARMUP_PASSES):
        p.run(f"warm{i}")
    window = []
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or len(window) < MIN_WINDOW:
        dt = p.run(f"window{i}")
        i += 1
        if dt is not None:
            window.append(dt)
        elif i >= 4 * MIN_WINDOW and not window:
            break
    return cold, window, p


def kernel_rates(seed: int) -> dict[str, float]:
    """Rows per second of the numpy kernels the UDFs call, run in the
    driver on seeded arrays (median of repeated calls)."""
    import numpy as np

    from geo_import_spark.functions import cells, geomkern, projection, tiles
    from perfbench import inputs

    n = 200_000
    lon, lat = inputs.point_lonlat(inputs.order_keys(seed, 9, n))
    ang = np.linspace(0.0, 2 * np.pi, 65)
    rx = 40.0 * np.cos(ang) * (1.0 + 0.3 * np.cos(5 * ang))
    ry = 40.0 * np.sin(ang) * (1.0 + 0.3 * np.cos(5 * ang))
    ring = np.array([0, len(rx)], dtype=np.int64)
    tx, ty = tiles.tile_xy(lon, lat, 12)
    mx, my = inputs.mercator_xy(inputs.order_keys(seed, 10, n))
    calls = {
        KERNEL_METRICS[0]: lambda: geomkern.points_in_single_polygon(lon, lat, ring, rx, ry),
        KERNEL_METRICS[1]: lambda: tiles.quadkey_list(tx, ty, 12),
        KERNEL_METRICS[2]: lambda: cells.cell_encode(lon, lat, 13),
        KERNEL_METRICS[3]: lambda: projection.to_wgs84("EPSG:3857", mx, my),
    }
    rates = {}
    for name, call in calls.items():
        times = []
        t_end = time.perf_counter() + 0.5
        while len(times) < 3 or (time.perf_counter() < t_end and len(times) < 20):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        rates[name] = n / statistics.median(times)
    return rates


def layer_metrics(tracer, events, jobs, window_phases, setup_phases, counts, kernels):
    """Collapse spans, event-log task metrics, per-pass counts and
    kernel rates into the per-layer metric values."""
    spans = tracer.finished()

    def by_phase(name, value_of):
        acc: dict[str, float] = {}
        for s in spans:
            if s["name"] == name:
                acc[s["phase"]] = acc.get(s["phase"], 0.0) + value_of(s)
        for phases in (window_phases, setup_phases):
            vals = [acc.get(ph, 0.0) for ph in phases]
            if any(ph in acc for ph in phases):
                return statistics.median(vals)
        return sum(acc.values())

    out = {}
    for name in SPAN_METRICS:
        out[f"{name}.s"] = by_phase(name, lambda s: s["dur_s"])
    for name in EVENT_SPANS:
        for field in EVENT_UNITS:
            out[f"{name}.{field}"] = by_phase(
                name, lambda s, f=field: events.get(s["id"], {}).get(f, 0.0))
    for k in COUNT_METRICS:
        vals = [c[k] for c in counts if k in c]
        out[k] = statistics.median(vals) if vals else 0.0
    out["operators.knn.knn_join.jobs"] = by_phase(
        "operators.knn.knn_join", lambda s: jobs.get(s["id"], 0))
    out.update(kernels)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geo_import_spark", "session.py")):
        print("run from the root of a geo_import_spark source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(root, WORK, run_id)
    os.makedirs(work, exist_ok=True)
    prepare_environment(work)
    try:
        return run(args, root, work, run_id, trace, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root, work, run_id, trace, workloads) -> int:
    from geo_import_spark.session import get_spark

    extra_conf = None
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        # plain JSON lines in one file: the stdlib has no zstd reader
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    with trace.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=extra_conf)
        session_s = time.perf_counter() - T_START
        get_spark_s = time.perf_counter() - t0
        log(f"session ready ({get_spark_s:.3f} s in get_spark)")
        try:
            tracer = trace.Tracer(spark.sparkContext, run_id) if args.trace else trace.NullTracer()
            wl = workloads.WORKLOADS[args.workload](
                spark, os.path.join(work, "data"), args.seed, args.scale, tracer)
            setup_times = []
            for rep in range(SETUP_REPS):
                if rep:
                    wl.release()
                tracer.phase = f"setup{rep}"
                t0 = time.perf_counter()
                wl.setup(rep)
                setup_times.append(time.perf_counter() - t0)
                log(f"setup rep {rep} {setup_times[-1]:.3f} s")
            cold, window, passes = measure(wl, tracer, args.seconds, rss)
        finally:
            log("passes done")
            stop_spark(spark)
            log("spark stopped")

    if not window or cold is None:
        print("no pass succeeded; no result", file=sys.stderr)
        return 1
    median_pass = statistics.median(window)
    result = {
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
    }
    print(f"workload {args.workload} seed {args.seed}: {wl.rows()} input rows per pass, "
          f"{len(window)} steady passes (median {median_pass:.4f} s), "
          f"error_rate {passes.failed / passes.attempted:.4f} "
          f"({passes.failed}/{passes.attempted})")
    baseline_path = os.path.join(root, WORK, "untraced", f"{args.workload}.json")
    if not args.trace:
        values = {
            "rows_per_s": wl.rows() / median_pass,
            "cold_pass_s": cold,
            "setup_s": session_s + statistics.median(setup_times),
            "peak_rss_mb": statistics.median(passes.peak_rss) / 1e6,
        }
        units = END_TO_END
        os.makedirs(os.path.dirname(baseline_path), exist_ok=True)
        with open(baseline_path, "w") as f:
            json.dump({"seed": args.seed, "pass_s": median_pass}, f)
    else:
        events, jobs = trace.event_log_by_span(event_dir)
        window_phases = [ph for ph in passes.phases if ph.startswith("window")]
        setup_phases = [f"setup{i}" for i in range(SETUP_REPS)]
        values = layer_metrics(
            tracer, events, jobs, window_phases, setup_phases,
            passes.layer_counts, kernel_rates(args.seed))
        values["session.get_spark.s"] = get_spark_s
        values["trace.pass_s"] = median_pass
        units = per_layer_units()
        trace_dir = os.path.join(root, WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        spans_path = os.path.join(trace_dir, f"{run_id}.spans.jsonl")
        tracer.write(spans_path)
        print(f"spans: {spans_path}")
        print_self_times(tracer.finished(), window_phases)
        if os.path.exists(baseline_path):
            with open(baseline_path) as f:
                base = json.load(f)
            print(f"tracing overhead: {100.0 * (median_pass / base['pass_s'] - 1.0):+.1f}% "
                  f"median pass ({median_pass:.4f} s traced vs {base['pass_s']:.4f} s "
                  f"untraced, seed {base['seed']})")
        else:
            print("tracing overhead: no untraced run of this workload in this checkout yet")
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    result["metrics"] = {n: {"value": values[n], "unit": u} for n, u in units.items()}
    print(json.dumps(result))
    return 0


def print_self_times(spans, window_phases) -> None:
    """Median per steady pass of each span's total and self time."""
    names = sorted({s["name"] for s in spans if s["phase"] in window_phases})
    for name in names:
        tot = [sum(s["dur_s"] for s in spans if s["name"] == name and s["phase"] == ph)
               for ph in window_phases]
        own = [sum(s["self_s"] for s in spans if s["name"] == name and s["phase"] == ph)
               for ph in window_phases]
        print(f"span {name}: total {statistics.median(tot):.4f} s, "
              f"self {statistics.median(own):.4f} s per pass")


if __name__ == "__main__":
    sys.exit(main())
