"""Per-layer measurement helpers: Spark event-log totals over the measured
operations' time windows, streaming-progress statistics, and counters of
the fetch layer inside the registry source.

The first two read artifacts Spark writes itself (the event log, the
``StreamingQueryProgress`` records). The fetch counters come from a traced
copy of the ``npmregistry`` source that wraps the engine's fetch classes in
the source's own process, so the engine needs no instrumentation.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from akkastreamprocessnpmpackagedependencies_spark.sources.registry import (
    NpmRegistryDataSource,
    NpmRegistryStreamReader,
)

STREAM_PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "python_worker_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "util",
    "driver_only_ms",
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def data_progress(query) -> list[dict]:
    """Every progress record of ``query`` whose micro-batch read data, as
    dicts. Relies on ``spark.sql.streaming.numRecentProgressUpdates`` being
    set above the run's batch count (the default keeps only 100)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if int(d.get("numInputRows", 0)) > 0:
            out.append(d)
    return out


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Medians of the per-batch phase durations, plus state-store totals
    from the last batch and the median state commit time."""
    out: dict[str, float] = {}
    for key, phase in STREAM_PHASES.items():
        vals = [float(d["durationMs"].get(phase, 0)) for d in progress]
        out[key] = statistics.median(vals) if vals else 0.0
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    out["state_rows_total"] = float(sum(op.get("numRowsTotal", 0) for op in last_ops))
    out["state_memory_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for op in last_ops))
    commits = [
        float(sum(op.get("commitTimeMs", 0) for op in d.get("stateOperators", []))) for d in progress
    ]
    out["state_commit_ms"] = statistics.median(commits) if commits else 0.0
    out["batches"] = float(len(progress))
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the finished, uncompressed application log in
    ``log_dir``, which Spark 4 writes as ``eventlog_v2_<app>/events_<n>_*``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_layers(events: list[dict], windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Job, stage and task totals for work submitted inside any of
    ``windows`` (epoch-millisecond intervals, one per measured operation,
    each closing before that operation's check starts), plus executor
    utilization and the wall time outside every job (driver-only time),
    both over the windows' summed length."""

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs: dict[int, list[float]] = {}
    stages = tasks = 0
    run_ms = cpu_ns = gc_ms = 0.0
    sh_read = sh_write = spill = 0.0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = float(e.get("Submission Time", 0))
            if inside(t):
                jobs[e["Job ID"]] = [t, t]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = float(e.get("Completion Time", jobs[e["Job ID"]][0]))
        elif kind == "SparkListenerStageCompleted":
            if inside(float(e["Stage Info"].get("Submission Time", 0))):
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            if not inside(float(e.get("Task Info", {}).get("Launch Time", 0))):
                continue
            tasks += 1
            m = e.get("Task Metrics") or {}
            run_ms += float(m.get("Executor Run Time", 0))
            cpu_ns += float(m.get("Executor CPU Time", 0))
            gc_ms += float(m.get("JVM GC Time", 0))
            r = m.get("Shuffle Read Metrics", {})
            sh_read += float(r.get("Remote Bytes Read", 0)) + float(r.get("Local Bytes Read", 0))
            sh_write += float(m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
            spill += float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0))
    wall_ms = max(sum(b - a for a, b in windows), 1e-9)
    busy = 0.0
    for a, b in windows:  # the union of job intervals, clipped to each window
        end = a
        for s, f in sorted(jobs.values()):
            s, f = max(s, end), min(max(f, s), b)
            if f > s:
                busy += f - s
                end = f
    cpu_ms = cpu_ns / 1e6
    return {
        "jobs": float(len(jobs)),
        "stages": float(stages),
        "tasks": float(tasks),
        "executor_run_ms": run_ms,
        "executor_cpu_ms": cpu_ms,
        "python_worker_ms": max(run_ms - cpu_ms, 0.0),
        "gc_ms": gc_ms,
        "shuffle_read_bytes": sh_read,
        "shuffle_write_bytes": sh_write,
        "spill_bytes": spill,
        "util": run_ms / (wall_ms * cores),
        "driver_only_ms": max(wall_ms - busy, 0.0),
    }


# ------------------------------------------------------------ fetch layer

# Counters of the fetch layer in the process that runs a traced registry
# source; written to the query's trace file after every micro-batch.
_FETCH = {"calls": 0, "fetches": 0, "ok": 0, "load_ms": []}


def _count_fetch_layer(transcript_path: str) -> None:
    """Wrap the engine's fetch layer in this process, once: count transport
    calls (every attempt, retries included), fetcher calls and their 200
    outcomes, and time every load of the replay transcript."""
    from akkastreamprocessnpmpackagedependencies_spark import fetch

    if getattr(fetch, "_perfbench_counted", False):
        return
    fetch._perfbench_counted = True
    transport_call = fetch.ReplayTransport.__call__
    fetcher_call = fetch.ThrottledFetcher.__call__
    json_load = json.load

    def counted_transport(self, name):
        _FETCH["calls"] += 1
        return transport_call(self, name)

    def counted_fetcher(self, name):
        code, text = fetcher_call(self, name)
        _FETCH["fetches"] += 1
        _FETCH["ok"] += code == 200
        return code, text

    def timed_load(fp, *args, **kwargs):
        if getattr(fp, "name", None) != transcript_path:
            return json_load(fp, *args, **kwargs)
        t0 = time.perf_counter()
        out = json_load(fp, *args, **kwargs)
        _FETCH["load_ms"].append((time.perf_counter() - t0) * 1e3)
        return out

    fetch.ReplayTransport.__call__ = counted_transport
    fetch.ThrottledFetcher.__call__ = counted_fetcher
    json.load = timed_load


class _TracedReader(NpmRegistryStreamReader):
    def __init__(self, options: dict) -> None:
        super().__init__(options)
        _count_fetch_layer(options["transcript_path"])
        _FETCH.update(calls=0, fetches=0, ok=0, load_ms=[])  # one query per reader

    def _dump(self) -> None:
        with open(self.options["trace_file"], "w") as f:
            json.dump(_FETCH, f)

    def read(self, start):
        out = super().read(start)
        self._dump()
        return out


class TracedRegistrySource(NpmRegistryDataSource):
    """The engine's ``npmregistry`` source under the name
    ``npmregistry_traced``, with its stream reader's fetch layer counted
    (see ``_count_fetch_layer``). The option ``trace_file`` names where the
    counters go. Only the traced run uses it; the source process imports
    this module from the benchmark directory."""

    @classmethod
    def name(cls) -> str:
        return "npmregistry_traced"

    def simpleStreamReader(self, schema):
        return _TracedReader(self.options)


def fetch_layers(trace_file: str) -> dict[str, float]:
    """The fetch figures one traced stream's source process wrote: transport
    calls, retries (transport calls beyond one per fetch), the share of
    fetches answered 200, the number of transcript loads and the median
    time of one."""
    with open(trace_file) as f:
        c = json.load(f)
    return {
        "calls": float(c["calls"]),
        "retries": float(c["calls"] - c["fetches"]),
        "status_200_share": c["ok"] / max(c["fetches"], 1),
        "transcript_loads": float(len(c["load_ms"])),
        "transcript_load_ms": statistics.median(c["load_ms"]) if c["load_ms"] else 0.0,
    }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the driver JVM, in MiB."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc status")
