"""Seeded input generators for the benchmark and the plain-Python oracle.

Everything here is a pure function of its seed: the same seed writes the
same bytes. Nothing imports Spark or the engine package, so the oracle
stays independent of the code it checks.

- ``registry``: a synthetic npm registry with long-tail (Pareto) version
  and dependency counts and fixed rates of every registry edge case the
  engine's fixtures pin (non-200, malformed JSON, no ``versions``,
  non-object ``versions``, missing dependency keys, empty objects, semver
  strings shared across packages, package-list names with no document,
  duplicated package-list names).
- ``oracle_counts``: the flagship query in plain Python (``json`` + ``dict``,
  last-writer-wins like ``AccumulatedDependencyCount``).
- ``events``: sketch-stream events with Zipf-skewed ``user_id`` and a fixed
  share of late / out-of-order arrivals, split into files.
- ``tables``: the library tables (lineitem, events, documents) in the
  layout of the engine's testdata.
"""

from __future__ import annotations

import json
import os

import numpy as np

# Registry edge-case rates (fixed, so every seed carries the same mix).
NON200_RATE = 0.02  # 404 / 403 / 410 responses (never retried by the fetcher)
MALFORMED_RATE = 0.01  # truncated JSON body
NO_VERSIONS_RATE = 0.01  # doc without a "versions" key
BAD_VERSIONS_RATE = 0.01  # "versions" is a string, not an object
MISSING_NAME_RATE = 0.01  # package-list names with no document at all
DUPLICATE_NAME_RATE = 0.01  # package-list names listed twice
NO_DEPS_RATE = 0.10  # version without "dependencies"
NO_DEV_RATE = 0.20  # version without "devDependencies"
EMPTY_DEPS_RATE = 0.05  # version with "dependencies": {}

MAX_VERSIONS = 120
MAX_DEPS = 60
VERSIONS_ALPHA = 1.49  # Pareto exponent of versions per package: mean 4.1 (see NOTES.md)
DEPS_ALPHA = 1.1  # Pareto exponent of runtime dependencies per version
DEV_ALPHA = 1.3  # Pareto exponent of dev dependencies per version
DEP_POOL = 4096
_NON200 = (404, 403, 410)


def _strata(rng, n: int) -> np.ndarray:
    """``n`` uniforms in (0, 1), one per equal-width stratum, in seeded
    order: every seed gets the same multiset of values, so totals and
    edge-case shares are identical across seeds while their placement
    differs."""
    return (rng.permutation(n) + 0.5) / n


def _even_strata(rng, n: int) -> np.ndarray:
    """The values of ``_strata``, placed along a golden-ratio sequence with
    a seeded start: every run of consecutive positions covers the strata
    about evenly, so equal slices of the output carry equal work."""
    seq = (rng.random() + np.arange(n) * 0.6180339887498949) % 1.0
    return (np.argsort(np.argsort(seq)) + 0.5) / n


def _pareto(u: np.ndarray, alpha: float, lo: int, hi: int) -> np.ndarray:
    """Long-tail integers from uniforms ``u``: floor of a Pareto(alpha) with
    scale ``lo + 1`` shifted to start at ``lo``, capped at ``hi``."""
    x = (lo + 1) * (1.0 - u) ** (-1.0 / alpha) - 1
    return np.minimum(np.floor(x).astype(np.int64), hi)


def _pareto_counts(rng, n: int, alpha: float, lo: int, hi: int) -> np.ndarray:
    """Stratified long-tail draws, so the total (the run's work) does not
    vary with the seed."""
    return _pareto(_strata(rng, n), alpha, lo, hi)


def _version_strings(k: int) -> list[str]:
    """Version ``i`` of every package is the same semver string, so the
    strings are shared across packages (grouping must key on the pair)."""
    return [f"{i // 10}.{i % 10}.{i % 3}" if i % 7 else f"{i // 10}.{i % 10}.0-beta.{i}" for i in range(k)]


def registry(seed: int, n_packages: int) -> dict:
    """Generate one registry. Returns ``docs`` [(name, status, doc)] in
    generation order, ``packages`` (the input list, shuffled, with missing and
    duplicated names) and ``stats`` (each edge case's measured share)."""
    rng = np.random.default_rng([seed, n_packages, 1])
    pool = [f"dep-{j:04d}" for j in range(DEP_POOL)]
    names = []
    for i in range(n_packages):
        r = i % 20
        if r == 0:
            names.append(f"@scope{i % 97}/pkg-{i:07d}")
        elif r == 1:
            names.append(f"Pkg{i:07d}")
        else:
            names.append(f"pkg-{i:07d}")
    # version counts laid out along the sorted names, the order the stream
    # source admits them in: every micro-batch gets the same share of the
    # long tail whatever the seed
    u = np.empty(n_packages)
    u[np.argsort(names)] = _even_strata(rng, n_packages)
    n_versions = _pareto(u, VERSIONS_ALPHA, 1, MAX_VERSIONS)
    kind = _strata(rng, n_packages)
    cut = np.cumsum([NON200_RATE, MALFORMED_RATE, NO_VERSIONS_RATE, BAD_VERSIONS_RATE])
    statuses = rng.choice(_NON200, n_packages)
    total_v = int(n_versions.sum())
    n_deps = _pareto_counts(rng, total_v, DEPS_ALPHA, 0, MAX_DEPS)
    n_dev = _pareto_counts(rng, total_v, DEV_ALPHA, 0, MAX_DEPS)
    vshape = np.stack([_strata(rng, total_v), _strata(rng, total_v)], axis=1)
    starts = rng.integers(0, DEP_POOL, (total_v, 2))
    vers = _version_strings(MAX_VERSIONS + 1)

    docs = []
    counts = dict.fromkeys(
        ("non200", "malformed", "no_versions", "bad_versions", "no_deps", "no_dev", "empty_deps"), 0
    )
    v = 0
    for i, name in enumerate(names):
        k = int(n_versions[i])
        versions = {}
        for j in range(k):
            vd: dict = {"name": name, "version": vers[j]}
            a, b = vshape[v]
            nd, ndev = int(n_deps[v]), int(n_dev[v])
            if a < NO_DEPS_RATE:
                counts["no_deps"] += 1
            elif a < NO_DEPS_RATE + EMPTY_DEPS_RATE:
                vd["dependencies"] = {}
                counts["empty_deps"] += 1
            else:
                s = int(starts[v, 0])
                vd["dependencies"] = {pool[(s + 7 * t) % DEP_POOL]: f"^{t % 5}.{t % 3}.0" for t in range(nd)}
            if b < NO_DEV_RATE:
                counts["no_dev"] += 1
            else:
                s = int(starts[v, 1])
                vd["devDependencies"] = {pool[(s + 11 * t) % DEP_POOL]: f"~{t % 4}.0.{t % 9}" for t in range(ndev)}
            versions[vers[j]] = vd
            v += 1
        body = {"name": name, "versions": versions}
        status = 200
        u = kind[i]
        if u < cut[0]:
            status = int(statuses[i])
            counts["non200"] += 1
            doc = json.dumps(body)
        elif u < cut[1]:
            doc = json.dumps(body)
            doc = doc[: max(8, len(doc) // 2)]  # truncated mid-object
            counts["malformed"] += 1
        elif u < cut[2]:
            doc = json.dumps({"name": name})
            counts["no_versions"] += 1
        elif u < cut[3]:
            doc = json.dumps({"name": name, "versions": "not-an-object"})
            counts["bad_versions"] += 1
        else:
            doc = json.dumps(body)
        docs.append((name, status, doc))

    listed = list(names)
    n_missing = int(round(MISSING_NAME_RATE * n_packages))
    n_dup = int(round(DUPLICATE_NAME_RATE * n_packages))
    listed += [f"missing-{i:07d}" for i in range(n_missing)]
    listed += [names[int(i)] for i in rng.choice(n_packages, n_dup, replace=False)]
    order = rng.permutation(len(listed))
    packages = [listed[int(i)] for i in order]

    shared = sum(1 for j in range(MAX_VERSIONS) if (n_versions > j).sum() >= 2)
    stats = {
        "packages": n_packages,
        "versions": total_v,
        "non200_share": counts["non200"] / n_packages,
        "malformed_share": counts["malformed"] / n_packages,
        "no_versions_share": counts["no_versions"] / n_packages,
        "bad_versions_share": counts["bad_versions"] / n_packages,
        "missing_name_share": n_missing / len(packages),
        "duplicate_name_share": n_dup / len(packages),
        "no_deps_share": counts["no_deps"] / total_v,
        "no_dev_share": counts["no_dev"] / total_v,
        "empty_deps_share": counts["empty_deps"] / total_v,
        "shared_semver_strings": shared,
        "versions_per_package": total_v / n_packages,
    }
    return {"docs": docs, "packages": packages, "stats": stats}


def oracle_counts(docs, packages) -> list[tuple[str, str, int, int]]:
    """The flagship query in plain Python: inner join of the package list
    with the docs, status 200 only, parse, one row per (package, version)
    with the key counts of ``dependencies`` / ``devDependencies`` (0 when
    absent or not an object), folded with last-writer-wins."""
    listed = set(packages)
    out: dict[tuple[str, str], tuple[int, int]] = {}
    for name, status, doc in docs:
        if name not in listed or status != 200 or doc is None:
            continue
        try:
            parsed = json.loads(doc)
        except json.JSONDecodeError:
            continue
        versions = parsed.get("versions") if isinstance(parsed, dict) else None
        if not isinstance(versions, dict):
            continue
        for ver, vdoc in versions.items():
            deps = vdoc.get("dependencies") if isinstance(vdoc, dict) else None
            dev = vdoc.get("devDependencies") if isinstance(vdoc, dict) else None
            out[(name, ver)] = (
                len(deps) if isinstance(deps, dict) else 0,
                len(dev) if isinstance(dev, dict) else 0,
            )
    return sorted((p, v, d, dd) for (p, v), (d, dd) in out.items())


def write_registry(reg: dict, out_dir: str) -> dict:
    """Write docs parquet, the package list (parquet for the batch query,
    text for the stream source) and the replay transcript. Returns paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = reg["docs"]
    paths = {
        "docs": os.path.join(out_dir, "docs.parquet"),
        "packages": os.path.join(out_dir, "packages.parquet"),
        "packages_txt": os.path.join(out_dir, "packages.txt"),
        "transcript": os.path.join(out_dir, "transcript.json"),
    }
    pq.write_table(
        pa.table(
            {
                "name": [d[0] for d in docs],
                "status_code": pa.array([d[1] for d in docs], pa.int32()),
                "doc": [d[2] for d in docs],
            }
        ),
        paths["docs"],
        row_group_size=max(1, len(docs) // 8),
    )
    pq.write_table(pa.table({"name": reg["packages"]}), paths["packages"])
    with open(paths["packages_txt"], "w") as f:
        f.write("\n".join(reg["packages"]) + "\n")
    with open(paths["transcript"], "w") as f:
        json.dump({n: [[s, d if s == 200 else ""]] for n, s, d in docs}, f)
    return paths


# ------------------------------------------------------------ sketch events

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LATE_SHARE = 0.05  # events stamped up to two hours before their file's slice
_T0_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


def events(seed: int, n_files: int, per_file: int) -> list:
    """Sketch-stream events as ``n_files`` pandas frames in the raw layout
    the engine's file stream reads (``ts`` as int64 nanoseconds). ``user_id``
    is Zipf-skewed; a ``LATE_SHARE`` of events carries a timestamp up to two
    hours older than its file's time slice (late and out of order)."""
    import pandas as pd

    rng = np.random.default_rng([seed, n_files, per_file, 2])
    n = n_files * per_file
    user = (rng.zipf(1.3, n) - 1) % 50_000
    step = 3_600_000_000_000 // per_file  # one hour of event time per file
    ts = _T0_NS + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    late = rng.random(n) < LATE_SHARE
    ts[late] -= rng.integers(1, 7_200_000_000_000, int(late.sum()))
    frame = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": user.astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), n)],
            "value": np.round(rng.lognormal(3.0, 1.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    return [frame.iloc[i * per_file : (i + 1) * per_file].reset_index(drop=True) for i in range(n_files)]


# ----------------------------------------------------- library-mix tables

_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query big order stream group filter vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")


def tables(seed: int, sf: float) -> dict:
    """The library tables in the engine's testdata layout (column names and
    types of lineitem, events, documents). Documents carry
    near-duplicates, sentences and probe-set overlap so the dedup, text and
    contamination operators have real work."""
    import pandas as pd

    rng = np.random.default_rng([seed, int(sf * 1e6), 3])
    n_li = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_li),
            "l_partkey": rng.integers(0, int(200_000 * sf), n_li),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pd.to_datetime("1995-01-01")
            + pd.to_timedelta(rng.integers(0, 2500, n_li), unit="D"),
        }
    )

    n_ev = int(1_000_000 * sf)
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events_t = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(ev_ts, unit="us"),
            "user_id": rng.integers(0, max(2, int(15_000 * sf)), n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), n_ev)],
            "value": np.round(rng.lognormal(3.0, 1.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    n_docs = int(50_000 * sf)
    words = np.array(_WORDS)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.08:  # near-duplicate of an earlier doc: a few words swapped
            base = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(base), 3):
                base[int(j)] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(base))
            continue
        toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        if i >= 20 and r < 0.12:  # shares a run of words with a probe doc
            probe = texts[int(rng.integers(0, 10))].split(" ")
            toks[2:2] = probe[:8]
        for j in range(int(rng.integers(0, 4))):  # sentence breaks
            k = int(rng.integers(1, len(toks)))
            toks[k] = toks[k] + "."
        texts.append(" ".join(str(t) for t in toks))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    return {"lineitem": lineitem, "events": events_t, "documents": documents}


def write_tables(tabs: dict, out_dir: str) -> None:
    """One parquet file per table, timestamps as timestamp[us] without a
    zone (the layout the engine's ``load_events`` normalizes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, frame in tabs.items():
        t = pa.Table.from_pandas(frame, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), coerce_timestamps="us")
