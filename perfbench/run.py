"""Benchmark entry point: run one workload with one seed and print the result.

    python3 perfbench/run.py --workload registry_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from the seed and cached
under ``.perfbench_cache/``; Spark's scratch files, checkpoints, event logs
and temporary files go under ``.perfbench_work/`` and are removed at exit.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate, traced
run). The exit code is non-zero when any output failed its check.
perfbench/NOTES.md describes the workloads and every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2  # set-ups per run (one cold, one warm restart); setup_s is their median
DRIVER_MEMORY = "1g"
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_rows_per_s": "rows/s",
    "batch_ms_p50": "ms",
    "batch_ms_p95": "ms",
    "jvm_peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def per_layer_names() -> list[str]:
    """Every per-layer metric, in output order (see BENCHMARK.json)."""
    from workloads import MIX_QUERIES, NPM_STAGES, SKETCH_OPS

    import layers

    names = ["session.jvm_start_s", "session.get_spark_s", "session.warmup_s"]
    names += [f"stream.{k}" for k in layers.STREAM_PHASES]
    names += ["stream.state_rows_total", "stream.state_memory_bytes", "stream.state_commit_ms", "stream.batches"]
    names += ["registry.rows_emitted"]
    names += [f"fetch.{k}" for k in ("calls", "retries", "status_200_share", "transcript_loads", "transcript_load_ms")]
    names += [f"npm.{s}_ms" for s in NPM_STAGES] + ["npm.versions_per_package"]
    names += [f"spark.{k}" for k in layers.SPARK_KEYS]
    for op in SKETCH_OPS:
        names += [f"sketch.{op}.batch_ms_p50", f"sketch.{op}.state_bytes"]
    for q in MIX_QUERIES:
        names += [f"query.{q}.wall_s", f"query.{q}.jobs", f"query.{q}.executor_cpu_ms"]
    names += ["baseline.local1_wall_s", "trace.overhead_share", "failed_share"]
    return names


def _per_layer_units(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or name in ("spark.util",):
        return "ratio"
    if name == "npm.versions_per_package":
        return "versions/package"
    return "count"


class Session:
    """Owns the SparkSession and the py4j gateway JVM behind it."""

    def __init__(self, work: str, cpus: int, event_log: str | None = None) -> None:
        self.work, self.cpus, self.event_log = work, cpus, event_log
        self.spark = None

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every micro-batch's progress (the default keeps 100)
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_log
            conf["spark.eventLog.compress"] = "false"  # plain JSON lines
        return conf

    def start(self):
        from akkastreamprocessnpmpackagedependencies_spark.session import get_spark
        from akkastreamprocessnpmpackagedependencies_spark.sources.registry import register

        self.spark = get_spark(
            "perfbench", shuffle_partitions=self.cpus, extra_conf=self.conf(), cpus=self.cpus
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        register(self.spark)
        if self.event_log:
            import layers

            self.spark.dataSource.register(layers.TracedRegistrySource)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def shutdown_gateway() -> None:
    """Stop the gateway JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, spark, seconds: float, min_passes: int = 1):
    """Closed loop: passes back to back until ``seconds`` have elapsed and
    at least ``min_passes`` have run. A pass that raises counts as one
    failed operation."""
    from workloads import PassResult

    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        try:
            passes.append(wl.run_pass(spark))
        except Exception:
            traceback.print_exc()
            passes.append(PassResult(float("nan"), [], 1, 1))
    return passes


def summarize(wl, passes) -> dict[str, float]:
    from layers import percentile

    walls = [p.wall_s for p in passes if p.wall_s == p.wall_s]
    units = [u for p in passes for u in p.unit_ms]
    wall = statistics.median(walls) if walls else float("nan")
    return {
        "wall_s": wall,
        "throughput_rows_per_s": wl.input_rows / wall if walls else 0.0,
        "batch_ms_p50": percentile(units, 50) if units else float("nan"),
        "batch_ms_p95": percentile(units, 95) if units else float("nan"),
        "units": float(len(units)),
    }


def baseline_local1(args) -> float:
    """``registry_batch`` at ``local[1]`` in its own process: the wall of its
    measured pass."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", "registry_batch",
        "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--cpus", "1", "--setups", "1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError("local[1] baseline run failed")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def setup(session: Session, wl) -> tuple[float, float, float]:
    """One set-up: start the session (``get_spark`` + registration) and run
    the warm-up. Returns (total, start, warm-up) seconds."""
    t0 = time.perf_counter()
    spark = session.start()
    t1 = time.perf_counter()
    wl.warmup(spark)
    t2 = time.perf_counter()
    return t2 - t0, t1 - t0, t2 - t1


def end_to_end(args, wl, cpus: int):
    """Untraced run: the set-ups (the first launches the JVM, the others
    restart the session in it), then the measured passes."""
    import layers

    session = Session(args.work, cpus)
    setups = []
    for i in range(args.setups):
        if i:
            session.stop()
        setups.append(setup(session, wl))
    passes = measure(wl, session.spark, args.seconds, wl.min_passes)
    metrics = {"setup_s": statistics.median(s[0] for s in setups), **summarize(wl, passes)}
    metrics["jvm_peak_rss_mb"] = layers.jvm_peak_rss_mb(session.spark)
    session.stop()
    print(json.dumps({"setups": setups, "passes": [p.wall_s for p in passes], "units": metrics["units"]}))
    return {k: metrics[k] for k in E2E_UNITS}, passes


def per_layer(args, wl, cpus: int):
    """Traced run: an untraced session, then a traced session (Spark event
    log on, registry stream through the counting source), each set up and
    measured alike. The tracing overhead compares their walls."""
    import layers

    out = dict.fromkeys(per_layer_names(), 0.0)
    log_dir = os.path.join(args.work, "eventlog")
    runs, setups = [], []
    for event_log in (None, log_dir):
        session = Session(args.work, cpus, event_log)
        wl.traced = bool(event_log)
        setups.append(setup(session, wl))
        passes = measure(wl, session.spark, args.seconds)
        if event_log:
            out.update(wl.trace_extra(session.spark))
        session.stop()
        runs.append(passes)
    wl.traced = False
    print(json.dumps({"setups": setups, "passes": [[p.wall_s for p in r] for r in runs]}))
    traced = runs[1]
    events = layers.read_event_log(log_dir)
    out["session.jvm_start_s"] = setups[0][1]
    out["session.get_spark_s"] = statistics.median(s[1] for s in setups)
    out["session.warmup_s"] = statistics.median(s[2] for s in setups)
    rep = sorted(traced, key=lambda p: p.wall_s)[len(traced) // 2]  # the median traced pass
    out.update(rep.layers)
    # Spark figures per pass: totals over every traced operation's window
    # (each closes before its check), divided by the number of passes
    sl = layers.spark_layers(events, [(w0, w1) for p in traced for _, w0, w1 in p.windows], cpus)
    for k, v in sl.items():
        out[f"spark.{k}"] = v if k == "util" else v / len(traced)
    for name, w0, w1 in rep.windows:
        if f"query.{name}.jobs" in out:
            sl = layers.spark_layers(events, [(w0, w1)], cpus)
            out[f"query.{name}.jobs"] = sl["jobs"]
            out[f"query.{name}.executor_cpu_ms"] = sl["executor_cpu_ms"]
    out["trace.overhead_share"] = summarize(wl, traced)["wall_s"] / summarize(wl, runs[0])["wall_s"] - 1.0
    if wl.name == "registry_batch":
        out["baseline.local1_wall_s"] = baseline_local1(args)
    passes = [p for r in runs for p in r]
    out["failed_share"] = sum(p.failed for p in passes) / max(sum(p.attempted for p in passes), 1)
    return {n: out[n] for n in per_layer_names()}, passes


def run(args) -> int:
    import akkastreamprocessnpmpackagedependencies_spark  # noqa: F401  fail fast without the engine
    from workloads import WORKLOADS

    cpus = args.cpus or _cores()
    cache = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, cache, args.work)
    wl.prepare()
    print(json.dumps({"config": {"master": f"local[{cpus}]", "shuffle_partitions": cpus,
                                 "driver_memory": DRIVER_MEMORY, "seconds": args.seconds},
                      "inputs": {"rows": wl.input_rows, "prepare_s": time.perf_counter() - t0,
                                 **wl.stats}}))
    try:
        if args.trace:
            values, passes = per_layer(args, wl, cpus)
            units = {n: _per_layer_units(n) for n in values}
        else:
            values, passes = end_to_end(args, wl, cpus)
            units = E2E_UNITS
    finally:
        shutdown_gateway()
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    metrics = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="local[N] width (default: usable cores)")
    ap.add_argument("--setups", type=int, default=SETUPS, help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    # everything this process and its children write stays in the checkout
    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine package from the checkout, and the
    # traced registry source imports ``layers`` from the benchmark directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    try:
        return run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent too, once no run uses it
            os.rmdir(os.path.dirname(args.work))


if __name__ == "__main__":
    sys.exit(main())
