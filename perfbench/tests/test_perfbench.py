"""Tests of the benchmark itself (no Spark): generator determinism, the
oracle against the engine's golden fixture answer, the sketch checks, and
the agreement between the printed metric names and BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _same_tree(a: str, b: str) -> None:
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for n in names:
        pa_, pb = os.path.join(a, n), os.path.join(b, n)
        if os.path.isdir(pa_):
            _same_tree(pa_, pb)
        else:
            assert filecmp.cmp(pa_, pb, shallow=False), n


def test_registry_generator_is_byte_identical_per_seed(tmp_path):
    for sub in ("a", "b"):
        gen.write_registry(gen.registry(7, 400), str(tmp_path / sub))
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    other = gen.registry(8, 400)
    assert other["docs"] != gen.registry(7, 400)["docs"]


def test_event_and_table_generators_are_byte_identical_per_seed(tmp_path):
    for sub in ("a", "b"):
        os.makedirs(tmp_path / sub)
        for i, frame in enumerate(gen.events(3, 2, 500)):
            frame.to_parquet(tmp_path / sub / f"e{i}.parquet", index=False)
        gen.write_tables(gen.tables(3, 0.001), str(tmp_path / sub / "tables"))
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_registry_carries_every_edge_case():
    stats = gen.registry(5, 3000)["stats"]
    for key in (
        "non200_share", "malformed_share", "no_versions_share", "bad_versions_share",
        "missing_name_share", "duplicate_name_share", "no_deps_share", "no_dev_share", "empty_deps_share",
    ):
        assert stats[key] > 0, key
    assert stats["shared_semver_strings"] > 1


def test_oracle_matches_golden_fixture_counts():
    from akkastreamprocessnpmpackagedependencies_spark import fixtures

    got = gen.oracle_counts(fixtures.registry_docs(), fixtures.package_names())
    assert got == fixtures.expected_counts()


def test_oracle_last_writer_wins_and_drops_unlisted():
    docs = [
        ("a", 200, json.dumps({"versions": {"1": {"dependencies": {"x": "1"}}}})),
        ("b", 200, json.dumps({"versions": {"1": {"devDependencies": {"y": "1", "z": "2"}}}})),
        ("c", 404, json.dumps({"versions": {"1": {}}})),
        ("d", 200, '{"versions": {'),
    ]
    assert gen.oracle_counts(docs, ["a", "b", "b", "c", "d"]) == [("a", "1", 1, 0), ("b", "1", 0, 2)]
    assert gen.oracle_counts(docs, ["b"]) == [("b", "1", 0, 2)]


def _mg_output(events, capacity, shards, undercount=0):
    rows = []
    for shard, grp in events.groupby(events["user_id"] % shards):
        top = grp["user_id"].value_counts().head(capacity)
        for uid, c in top.items():
            rows.append((shard, uid, c - undercount, len(grp)))
    return pd.DataFrame(rows, columns=["shard", "user_id", "mg_count", "shard_n"])


def test_sketch_check_accepts_exact_and_rejects_a_broken_guarantee():
    sp = pytest.importorskip("akkastreamprocessnpmpackagedependencies_spark.streaming.pipeline")
    events = gen.events(1, 1, 2000)[0]
    ok = _mg_output(events, sp.MG_CAPACITY, sp.MG_SHARDS)
    assert workloads.check_sketch("streaming_heavy_hitters", ok, events) is None
    bad = _mg_output(events, sp.MG_CAPACITY, sp.MG_SHARDS, undercount=10_000)
    assert workloads.check_sketch("streaming_heavy_hitters", bad, events) is not None

    bloom = np.zeros(sp.BLOOM_BITS >> 3, dtype=np.uint8)
    sp._bloom_update(bloom, events["user_id"].to_numpy(np.int64)[:-50])
    out = pd.DataFrame({"shard": [0], "shard_n": [len(events)], "bits": [bloom.tobytes()]})
    missing = set(events["user_id"].iloc[-50:]) - set(events["user_id"].iloc[:-50])
    verdict = workloads.check_sketch("streaming_seen_bloom", out, events)
    assert (verdict is None) == (not missing)


def test_percentile_interpolates():
    assert layers.percentile([1.0], 95) == 1.0
    assert layers.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert layers.percentile([0.0, 10.0], 95) == pytest.approx(9.5)


def test_spark_layers_counts_only_the_window():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 1100},
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 200_000_000}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 5050},
         "Task Metrics": {"Executor Run Time": 50, "Executor CPU Time": 0}},
    ]
    got = layers.spark_layers(events, [(900, 2000)], cores=2)
    assert (got["jobs"], got["tasks"]) == (1.0, 1.0)
    assert got["python_worker_ms"] == pytest.approx(100.0)
    assert got["driver_only_ms"] == pytest.approx(1100 - 400)
    assert got["util"] == pytest.approx(300 / (1100 * 2))
    both = layers.spark_layers(events, [(900, 2000), (4900, 5200)], cores=2)
    assert (both["jobs"], both["tasks"]) == (2.0, 2.0)
    assert both["driver_only_ms"] == pytest.approx(1100 - 400 + 300 - 100)
    assert layers.spark_layers(events, [(1500, 4000)], cores=2)["tasks"] == 0.0


def test_fetch_layers_reads_the_source_counters(tmp_path):
    path = tmp_path / "fetch.json"
    path.write_text(json.dumps({"calls": 12, "fetches": 10, "ok": 9, "load_ms": [5.0, 7.0, 6.0]}))
    got = layers.fetch_layers(str(path))
    assert got == {"calls": 12.0, "retries": 2.0, "status_200_share": 0.9,
                   "transcript_loads": 3.0, "transcript_load_ms": 6.0}


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    assert all(m["unit"] == run._per_layer_units(m["name"]) for m in bench["per_layer"])
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
