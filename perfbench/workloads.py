"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``, untimed and
cached per seed), runs its unmeasured warm-up during each set-up, and then
runs measured passes in a closed loop with a single client: one query or
streaming query at a time, the next starting when the previous one has
finished and its output has been checked.

A pass returns its wall time, the latency of each unit of work in it (one
micro-batch on the streaming workloads, one query on the batch ones), the
operations attempted and failed, and the layer figures it could read from
Spark's own progress records.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
import layers

REGISTRY_PACKAGES = 10_000  # registry_batch: packages in the generated registry
DOCS_FILES = 8  # docs parquet part files (input splits)
BATCH_WARM_PASSES = 3  # registry_batch: unmeasured passes per set-up (JIT warm-up)
BATCH_MIN_PASSES = 10  # registry_batch: measured passes per untraced run, at least
STREAM_PACKAGES = 10_000  # registry_stream: packages in the replay transcript
STREAM_RATE = 1_000  # registry_stream: packages admitted per micro-batch
STREAM_WARM_PACKAGES = 100
SKETCH_FILES = 2  # operator_mix: event files = micro-batches per sketch query
SKETCH_EVENTS_PER_FILE = 10_000
MIX_SF = 0.01  # operator_mix: scale of the generated library tables
MIX_MIN_PASSES = 2  # operator_mix: measured passes per untraced run, at least

SKETCH_OPS = (
    "streaming_heavy_hitters",
    "streaming_quantiles_gk",
    "streaming_distinct_hll",
    "streaming_freq_cms",
    "streaming_reservoir_sample",
    "streaming_seen_bloom",
)
# one registered query per library module: relational, timeseries, textops,
# udx. The dedup, similarity, quality and multimodal queries (0.9-2.6 s each,
# plus their cold start) do not fit the benchmark's time budget (see NOTES.md).
MIX_QUERIES = (
    "pricing_summary",
    "events_sessionize",
    "contamination_ngram_hits",
    "udtf_sentences",
)
MIX_TABLES = ("lineitem", "events", "documents")
NPM_STAGES = ("scan_join", "parse", "explode", "count", "accumulate", "report")


@dataclass
class PassResult:
    wall_s: float
    unit_ms: list[float]
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    windows: list[tuple[str, float, float]] = field(default_factory=list)  # (name, t0, t1) epoch ms


def _now_ms() -> float:
    return time.time() * 1e3


def _fail(what: str) -> None:
    print(f"CHECK FAILED: {what}", file=sys.stderr)


def _stream_to_memory(df, name: str, mode: str, checkpoint: str):
    shutil.rmtree(checkpoint, ignore_errors=True)
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )


class Workload:
    name = ""
    input_rows = 0
    traced = False  # set while the traced session of a --trace 1 run measures
    min_passes = 1  # measured passes per untraced run, at least

    def __init__(self, seed: int, cache: str, work: str) -> None:
        self.seed = seed
        self.cache = cache
        self.work = work
        self.stats: dict = {}  # input edge-case shares, printed with the result
        self._n = 0

    def _tag(self) -> str:
        self._n += 1
        return f"{self.name}_{os.getpid()}_{self._n}"

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        self.run_pass(spark)

    def run_pass(self, spark) -> PassResult:
        raise NotImplementedError

    def trace_extra(self, spark) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ registry


def _cached(path: str, build) -> None:
    """Run ``build(tmp_dir)`` once per cache key; the rename publishes it."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, path)


def _registry_inputs(cache: str, seed: int, n: int):
    """Generate (once per seed and size) and load one registry's inputs.
    Returns (directory, oracle rows, listed package count, stats)."""
    import pyarrow.parquet as pq

    out = os.path.join(cache, f"registry-{seed}-{n}")

    def build(tmp: str) -> None:
        import pyarrow as pa

        reg = gen.registry(seed, n)
        paths = gen.write_registry(reg, tmp)
        # docs as several part files, like a registry dump split for parallel
        # reads. Docs are dealt to the files largest first, so every file
        # carries the same share of the long tail for every seed: task skew,
        # and so the wall time, does not depend on where the seed put the
        # largest packages.
        docs = pq.read_table(paths["docs"])
        os.remove(paths["docs"])
        os.makedirs(paths["docs"])
        by_size = np.argsort([-len(d[2]) for d in reg["docs"]], kind="stable")
        for i in range(DOCS_FILES):
            rows = np.sort(by_size[i::DOCS_FILES])
            pq.write_table(docs.take(rows), os.path.join(paths["docs"], f"part-{i:02d}.parquet"))
        want = gen.oracle_counts(reg["docs"], reg["packages"])
        pq.write_table(
            pa.table(
                {
                    "package": [w[0] for w in want],
                    "version": [w[1] for w in want],
                    "dependencies": pa.array([w[2] for w in want], pa.int64()),
                    "devDependencies": pa.array([w[3] for w in want], pa.int64()),
                }
            ),
            os.path.join(tmp, "expected.parquet"),
        )
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(reg["stats"], f)

    _cached(out, build)
    with open(os.path.join(out, "stats.json")) as f:
        stats = json.load(f)
    expected = _rows(pq.read_table(os.path.join(out, "expected.parquet")))
    return out, expected, pq.read_metadata(os.path.join(out, "packages.parquet")).num_rows, stats


def _rows(table) -> list[tuple]:
    cols = ("package", "version", "dependencies", "devDependencies")
    return sorted(zip(*(table.column(c).to_pylist() for c in cols)))


class RegistryBatch(Workload):
    """``npm.dependency_counts(packages, docs)`` over parquet; the result is
    collected and its full row multiset compared with the oracle's."""

    name = "registry_batch"
    min_passes = BATCH_MIN_PASSES

    def prepare(self) -> None:
        self.dir, self.expected, self.input_rows, self.stats = _registry_inputs(
            self.cache, self.seed, REGISTRY_PACKAGES
        )

    def warmup(self, spark) -> None:
        for _ in range(BATCH_WARM_PASSES):
            self.run_pass(spark)

    def _frames(self, spark):
        packages = spark.read.parquet(os.path.join(self.dir, "packages.parquet"))
        docs = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        return packages, docs

    def run_pass(self, spark) -> PassResult:
        from akkastreamprocessnpmpackagedependencies_spark.operators import npm

        w0, t0 = _now_ms(), time.perf_counter()
        table = npm.dependency_counts(*self._frames(spark)).toArrow()
        wall = time.perf_counter() - t0
        window = (self.name, w0, _now_ms())
        failed = 0
        if _rows(table) != self.expected:
            _fail(f"{self.name}: dependency counts differ from the oracle ({table.num_rows} rows)")
            failed = 1
        return PassResult(wall, [wall * 1e3], 1, failed, windows=[window])

    def trace_extra(self, spark) -> dict[str, float]:
        """Stage ladder: run each pipeline prefix to the noop sink; a
        stage's cost is the increase over the previous prefix."""
        from akkastreamprocessnpmpackagedependencies_spark.operators import npm

        steps = (
            npm.attach_registry_docs,
            npm.parse_registry,
            npm.explode_versions,
            npm.count_dependencies,
            npm.accumulate_counts,
            npm.report,
        )
        walls = []
        for k in range(len(steps)):
            reps = []
            for _ in range(2):
                df = steps[0](*self._frames(spark))
                for step in steps[1 : k + 1]:
                    df = step(df)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                reps.append((time.perf_counter() - t0) * 1e3)
            walls.append(statistics.median(reps))
        out = {f"npm.{NPM_STAGES[0]}_ms": walls[0]}
        for k in range(1, len(steps)):
            out[f"npm.{NPM_STAGES[k]}_ms"] = walls[k] - walls[k - 1]
        out["npm.versions_per_package"] = self.stats["versions_per_package"]
        return out


class RegistryStream(Workload):
    """``streaming_dependency_counts`` over the ``npmregistry`` source in
    replay mode (``ThrottledFetcher`` over a ``ReplayTransport`` transcript,
    politeness sleep off), complete mode into the memory sink so the final
    result can be checked against the oracle."""

    name = "registry_stream"

    def prepare(self) -> None:
        self.dir, self.expected, self.input_rows, self.stats = _registry_inputs(
            self.cache, self.seed, STREAM_PACKAGES
        )
        self.warm_dir = _registry_inputs(self.cache, self.seed, STREAM_WARM_PACKAGES)[0]

    def _query(self, spark, src: str, trace_file: str | None = None):
        from akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline import (
            streaming_dependency_counts,
        )

        reader = spark.readStream.format("npmregistry")
        if trace_file:  # the same source with its fetch layer counted
            reader = spark.readStream.format("npmregistry_traced").option("trace_file", trace_file)
        stream = (
            reader.option("mode", "replay")
            .option("packages_path", os.path.join(src, "packages.txt"))
            .option("transcript_path", os.path.join(src, "transcript.json"))
            .option("rate_per_sec", "0")
            .option("rate", str(STREAM_RATE))
            .load()
        )
        return streaming_dependency_counts(stream)

    def warmup(self, spark) -> None:
        tag = self._tag()
        trace_file = os.path.join(self.work, f"{tag}.fetch.json") if self.traced else None
        q = _stream_to_memory(
            self._query(spark, self.warm_dir, trace_file), tag, "complete", os.path.join(self.work, tag)
        )
        q.processAllAvailable()
        q.stop()
        spark.catalog.dropTempView(tag)

    def run_pass(self, spark) -> PassResult:
        tag = self._tag()
        trace_file = os.path.join(self.work, f"{tag}.fetch.json") if self.traced else None
        w0, t0 = _now_ms(), time.perf_counter()
        q = _stream_to_memory(self._query(spark, self.dir, trace_file), tag, "complete", os.path.join(self.work, tag))
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = layers.data_progress(q)
        q.stop()
        window = (self.name, w0, _now_ms())
        table = spark.table(tag).toArrow()
        spark.catalog.dropTempView(tag)
        failed = 0
        if _rows(table) != self.expected:
            _fail(f"{self.name}: streamed dependency counts differ from the oracle ({table.num_rows} rows)")
            failed = 1
        stats = {f"stream.{k}": v for k, v in layers.stream_layers(progress).items()}
        stats["registry.rows_emitted"] = float(sum(int(p["numInputRows"]) for p in progress))
        if trace_file:
            stats.update({f"fetch.{k}": v for k, v in layers.fetch_layers(trace_file).items()})
        units = [float(p["durationMs"]["triggerExecution"]) for p in progress]
        return PassResult(wall, units, 1, failed, stats, [window])


# ------------------------------------------------------------ sketches


class OperatorMix(Workload):
    """Operators outside the registry path, one at a time in a seeded order:
    the six sketch operators as streaming queries over seeded event files
    (one file per micro-batch), each checked against the sketch's documented
    guarantee on exact answers, and one registered query from each of four
    library modules, each checked against its DuckDB ``oracle_sql()``
    through ``tools/oracle_check.py``'s comparator."""

    name = "operator_mix"
    min_passes = MIX_MIN_PASSES

    def prepare(self) -> None:
        import importlib.util

        import duckdb
        import pandas as pd
        import pyarrow.parquet as pq

        self.dir = os.path.join(self.cache, f"events-{self.seed}-{SKETCH_FILES}x{SKETCH_EVENTS_PER_FILE}")

        def build(tmp: str) -> None:
            frames = gen.events(self.seed, SKETCH_FILES, SKETCH_EVENTS_PER_FILE)
            for sub, chosen in (("src", frames), ("warm", frames[:1])):
                os.makedirs(os.path.join(tmp, sub))
                for i, frame in enumerate(chosen):
                    path = os.path.join(tmp, sub, f"part-{i:03d}.parquet")
                    frame.to_parquet(path, index=False)
                    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))  # file order = arrival order

        _cached(self.dir, build)
        self.events = pd.read_parquet(os.path.join(self.dir, "src"))

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location("oracle_check", os.path.join(root, "tools", "oracle_check.py"))
        self.oc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oc)
        import __spark_entry__ as entry

        self.tables = os.path.join(self.cache, f"tables-{self.seed}-{MIX_SF}")
        _cached(self.tables, lambda tmp: gen.write_tables(gen.tables(self.seed, MIX_SF), tmp))
        con = duckdb.connect()
        for t in MIX_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.tables, t + '.parquet')}')")
        self.oracle = _CachedOracle(con)
        self.queries, sqls = entry.queries(), entry.oracle_sql()
        self.sql = {q: sqls[q] for q in MIX_QUERIES}
        for q in MIX_QUERIES:
            self.oracle.sql(self.sql[q])

        ops = [("sketch", op) for op in SKETCH_OPS] + [("query", q) for q in MIX_QUERIES]
        rng = np.random.default_rng([self.seed, 4])
        self.order = [ops[i] for i in rng.permutation(len(ops))]
        self.input_rows = len(self.events) + sum(
            pq.read_metadata(os.path.join(self.tables, f"{t}.parquet")).num_rows for t in MIX_TABLES
        )

    def _sketch(self, spark, op: str, src: str):
        from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

        tag = self._tag()
        w0, t0 = _now_ms(), time.perf_counter()
        df = getattr(sp, op)(sp.read_events_stream(spark, src, max_files=1))
        q = _stream_to_memory(df, tag, "update", os.path.join(self.work, tag))
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = layers.data_progress(q)
        q.stop()
        window = (op, w0, _now_ms())
        out = spark.table(tag).toPandas()
        spark.catalog.dropTempView(tag)
        return wall, window, progress, out

    def _query(self, spark, name: str):
        w0, t0 = _now_ms(), time.perf_counter()
        df = self.queries[name](spark, self.tables)
        rows = df.collect()
        return time.perf_counter() - t0, (name, w0, _now_ms()), _Collected(rows, df.columns)

    def warmup(self, spark) -> None:
        for kind, name in self.order:
            if kind == "sketch":
                self._sketch(spark, name, os.path.join(self.dir, "warm"))
            else:
                self._query(spark, name)

    def run_pass(self, spark) -> PassResult:
        res = PassResult(0.0, [])
        stream_progress, state_rows, state_bytes = [], 0.0, 0.0
        for kind, name in self.order:
            res.attempted += 1
            try:  # an operator that raises counts as a failed operation
                if kind == "sketch":
                    wall, window, progress, out = self._sketch(spark, name, os.path.join(self.dir, "src"))
                    problem = check_sketch(name, out, self.events)
                else:
                    wall, window, got = self._query(spark, name)
                    with contextlib.redirect_stdout(sys.stderr):
                        ok = self.oc.compare(name, got, self.sql[name], self.oracle)
                    problem = None if ok else "result differs from the DuckDB oracle"
            except Exception:
                traceback.print_exc()
                res.failed += 1
                continue
            res.windows.append(window)
            res.wall_s += wall
            if problem:
                _fail(f"{self.name}/{name}: {problem}")
                res.failed += 1
            if kind == "query":
                res.layers[f"query.{name}.wall_s"] = wall
                continue
            ms = [float(p["durationMs"]["triggerExecution"]) for p in progress]
            res.unit_ms += ms
            st = layers.stream_layers(progress)
            res.layers[f"sketch.{name}.batch_ms_p50"] = statistics.median(ms) if ms else 0.0
            res.layers[f"sketch.{name}.state_bytes"] = st["state_memory_bytes"]
            stream_progress += progress
            state_rows += st["state_rows_total"]
            state_bytes += st["state_memory_bytes"]
        st = layers.stream_layers(stream_progress)
        st["state_rows_total"], st["state_memory_bytes"] = state_rows, state_bytes
        res.layers.update({f"stream.{k}": v for k, v in st.items()})
        return res


def _latest(out):
    """Rows of each shard's last emitted summary (largest ``shard_n``)."""
    last = out.groupby("shard")["shard_n"].transform("max")
    return out[out["shard_n"] == last]


def check_sketch(op: str, out, events) -> str | None:
    """The documented guarantee of each sketch, checked against exact
    answers over the same events. Returns a description of the first
    violation, or None."""
    from akkastreamprocessnpmpackagedependencies_spark.streaming import pipeline as sp

    n = len(events)
    if op == "streaming_heavy_hitters":
        last = _latest(out)
        for shard, grp in events.groupby(events["user_id"] % sp.MG_SHARDS):
            truth = grp["user_id"].value_counts()
            rows = last[last["shard"] == shard]
            if rows.empty or int(rows["shard_n"].iloc[0]) != len(grp):
                return f"shard {shard} summary covers {0 if rows.empty else int(rows['shard_n'].iloc[0])} of {len(grp)} events"
            est = dict(zip(rows["user_id"], rows["mg_count"]))
            under = truth - truth.index.map(lambda k: est.get(k, 0)).to_numpy()
            bound = len(grp) / (sp.MG_CAPACITY + 1)
            if (under < 0).any() or (under > bound).any():
                return f"shard {shard} Misra-Gries undercount outside [0, {bound:.1f}]"
        return None
    if op == "streaming_quantiles_gk":
        last = _latest(out)
        for shard, grp in events.groupby(events["user_id"] % sp.GK_SHARDS):
            xs = np.sort(grp["value"].to_numpy())
            rows = last[last["shard"] == shard]
            if len(rows) != len(sp.GK_PHIS) or int(rows["shard_n"].iloc[0]) != len(xs):
                return f"shard {shard}: incomplete quantile summary"
            slack = sp.GK_EPS * len(xs) + 1
            for phi, est in zip(rows["phi"], rows["estimate"]):
                lo = np.searchsorted(xs, est, "left") + 1
                hi = np.searchsorted(xs, est, "right")
                if not lo - slack <= phi * len(xs) <= hi + slack:
                    return f"shard {shard} phi {phi}: rank [{lo}, {hi}] outside eps*n of {phi * len(xs):.0f}"
        return None
    if op == "streaming_distinct_hll":
        last = _latest(out)
        tol = 3 * 1.04 / math.sqrt(1 << sp.HLL_B)
        for shard, grp in events.groupby(events["event_id"] % sp.HLL_SHARDS):
            rows = last[last["shard"] == shard]
            truth = grp["user_id"].nunique()
            if rows.empty or abs(float(rows["estimate"].iloc[0]) - truth) > tol * truth:
                return f"shard {shard} distinct estimate outside {tol:.3f} of {truth}"
        merged = sp.hll_merged_distinct(list(last["regs"]))
        truth = events["user_id"].nunique()
        if abs(merged - truth) > tol * truth:
            return f"merged distinct {merged:.0f} outside {tol:.3f} of {truth}"
        return None
    if op == "streaming_freq_cms":
        last = _latest(out)
        if int(last["shard_n"].sum()) != n:
            return f"CMS summaries cover {int(last['shard_n'].sum())} of {n} events"
        truth = events["user_id"].value_counts()
        est = sp.cms_merged_counts(list(last["tab"]), list(truth.index))
        over = np.array([est[int(k)] for k in truth.index]) - truth.to_numpy()
        bound = math.e / (1 << sp.CMS_W_BITS) * n
        if (over < 0).any():
            return "count-min undercount"
        if (over > bound).mean() > math.exp(-sp.CMS_DEPTH):
            return f"count-min overcount beyond eps*n={bound:.1f} on {(over > bound).mean():.4f} of keys"
        return None
    if op == "streaming_reservoir_sample":
        last = _latest(out)
        k = sp.RSV_CAPACITY
        for shard, grp in events.groupby(events["event_id"] % sp.RSV_SHARDS):
            if (last["shard"] == shard).sum() != min(k, len(grp)):
                return f"shard {shard} reservoir size != min(k, n)"
        merged = sp.reservoir_merged(list(last.itertuples(index=False)), k)
        if len(merged) != min(k, n):
            return f"merged reservoir size {len(merged)} != {min(k, n)}"
        by_id = events.set_index("event_id")
        for eid, uid, val, _ in merged:
            if eid not in by_id.index or (by_id.at[eid, "user_id"], by_id.at[eid, "value"]) != (uid, val):
                return f"reservoir member {eid} not drawn from the input"
        return None
    if op == "streaming_seen_bloom":
        last = _latest(out)
        keys = events["user_id"].unique()
        seen = sp.bloom_might_contain(list(last["bits"]), keys)
        missing = [k for k, v in seen.items() if not v]
        return f"Bloom false negatives: {missing[:5]}" if missing else None
    raise ValueError(op)


# ------------------------------------------------------------ library mix


class _Collected:
    """The comparator's view of an already-collected result."""

    def __init__(self, rows, columns) -> None:
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class _CachedOracle:
    """A DuckDB connection whose ``sql`` answers are computed once per run,
    so each pass's check does not re-run the oracle."""

    class _Result:
        def __init__(self, rel) -> None:
            self.columns = rel.columns
            self._rows = rel.fetchall()

        def fetchall(self):
            return self._rows

    def __init__(self, con) -> None:
        self._con, self._memo = con, {}

    def sql(self, query: str):
        if query not in self._memo:
            self._memo[query] = self._Result(self._con.sql(query))
        return self._memo[query]


WORKLOADS = {w.name: w for w in (RegistryBatch, RegistryStream, OperatorMix)}
