"""Tests of the benchmark's own logic: seeded generators, the tail
percentile rule, span self-time arithmetic, and a tiny run of every
workload through the command the benchmark contract names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


# -- generators ------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda seed, d: gen.file_backlog(seed, "0A", d, 30, 200_000),
    lambda seed, d: gen.corpus(seed, 0, os.path.join(d, "c.parquet"), 120),
    lambda seed, d: gen.tpch_tables(seed, d, 600),
    lambda seed, d: gen.vectors_parquet(
        gen.VectorSource(seed).draw(50, "base"), 0,
        os.path.join(d, "v.parquet")),
], ids=["file_batch", "corpus", "tpch", "vectors"])
def test_generators_are_byte_identical_per_seed(tmp_path, make):
    digests = []
    for run, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / run
        d.mkdir()
        make(seed, str(d))
        digests.append(_tree_digest(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_file_sizes_hit_the_total_and_are_log_normal_shaped():
    sizes = gen.file_sizes(gen.rng_for(3, "t"), 200, 8 << 20)
    assert sizes.sum() == 8 << 20 and sizes.min() >= 1
    assert (sizes < 10_240).sum() > 100          # many small files
    assert sizes.max() > 1 << 20                  # and a megabyte one


def test_file_sizes_differ_between_seeds_only_in_order():
    a = gen.file_sizes(gen.rng_for(1, "t"), 60, 3 << 20)
    b = gen.file_sizes(gen.rng_for(2, "t"), 60, 3 << 20)
    assert not np.array_equal(a, b)
    assert np.array_equal(np.sort(a), np.sort(b))


def test_corpus_plants_what_it_reports(tmp_path):
    import pyarrow.parquet as pq
    path = str(tmp_path / "c.parquet")
    t = gen.corpus(5, 0, path, 200)
    texts = pq.read_table(path).column("text").to_pylist()
    assert len(texts) == t["docs"] == 200
    for i in t["exact_ids"]:
        assert texts.count(texts[i]) >= 2
    for a, b in t["near_pairs"]:
        sa, sb = gen.shingles(texts[a]), gen.shingles(texts[b])
        assert texts[a] != texts[b]
        assert len(sa & sb) / len(sa | sb) >= 0.6


def test_tokens_match_the_engine_tokenizer_rules():
    assert gen.tokens("The  cat's #hat, 42x!") == ["the", "cat", "s", "hat",
                                                  "42x"]
    assert gen.shingles("a b c a b") == {"a b", "b c", "c a"}


def test_vector_draws_are_unit_norm_and_independent_of_order():
    src = gen.VectorSource(11)
    a1 = src.draw(20, "query", 3)
    src.draw(100, "base")
    a2 = src.draw(20, "query", 3)
    assert np.array_equal(a1, a2)
    assert np.allclose(np.linalg.norm(a1, axis=1), 1.0, atol=1e-6)


# -- statistics and spans --------------------------------------------------

def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert trace.tail(list(range(20))) is None
    t = trace.tail(list(range(21)))
    assert t == {"value": 10, "pct": 52, "n": 21}
    t = trace.tail(list(range(100, 0, -1)))          # order-insensitive
    assert t == {"value": 90, "pct": 90, "n": 100}
    assert sum(x > t["value"] for x in range(1, 101)) == 10
    assert trace.tail(list(range(1000)))["pct"] == 99


def test_covered_merges_overlapping_intervals():
    assert trace.covered([]) == 0
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.covered([(0, 10), (2, 3)]) == 10


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_self_time_subtracts_child_coverage(monkeypatch):
    clock = _Clock()
    monkeypatch.setattr(trace.time, "perf_counter", clock)
    tr = trace.Tracer()
    tr.request = 4
    with tr.span("outer"):            # 0 .. 10
        clock.t = 1
        with tr.span("inner"):        # 1 .. 4
            clock.t = 4
        clock.t = 6
        with tr.span("inner"):        # 6 .. 7
            clock.t = 7
        clock.t = 10
    with tr.span("outer"):            # 10 .. 12, no children
        clock.t = 12
    layers = tr.layers()
    assert layers["outer"]["calls"] == 2
    assert layers["outer"]["total_s"] == 12
    assert layers["outer"]["self_s"] == (10 - 4) + 2
    assert layers["inner"]["self_s"] == 4
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, None]
    assert {s["request"] for s in tr.spans} == {4}


def test_wrap_traces_and_restores_a_module_function():
    import types
    mod = types.SimpleNamespace(f=lambda x: x * 2)
    original = mod.f
    tr = trace.Tracer()
    with tr.wrap(mod, "f", "layer.f"):
        assert mod.f(3) == 6
    assert mod.f is original
    assert [s["name"] for s in tr.spans] == ["layer.f"]


def test_tree_rss_counts_this_process():
    assert trace.tree_rss_bytes(os.getpid()) > 1 << 20
    assert os.getpid() in trace.tree_pids(os.getpid())


# -- the command -----------------------------------------------------------

def test_metric_tables_match_the_workloads_and_the_spec():
    from perfbench import run, workloads
    assert set(run.SQL_TEMPLATES) == set(workloads.TEMPLATES)
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    for wl in workloads.WORKLOADS.values():
        assert wl.PRIMARY in wl.PATTERN and set(wl.ITEMS) == set(wl.PATTERN)
    per_layer = (set(run.LAYER_TIMERS) | set(run.LAYER_COUNTS)
                 | set(run.LAYER_JOBS) | set(run.RUN_METRICS))
    assert per_layer == {m["name"] for m in SPEC["per_layer"]}
    assert set(run.END_TO_END) == {m["name"] for m in SPEC["end_to_end"]}


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_of_each_workload(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "0.1",
              "--trace", "0", "--size", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = map(json.loads, p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["checks"]
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    assert report["checks"]["passed"]


def test_traced_run_reports_every_per_layer_metric():
    p = _run(["--workload", "serving", "--seed", "4", "--seconds", "0.1",
              "--trace", "1", "--size", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = map(json.loads, p.stdout.strip().splitlines()[-2:])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = result["metrics"]
    assert m["similarity.ivf_index_probe_s"]["value"] > 0
    assert m["catalog.register_views_s"]["value"] > 0
    assert m["similarity.probe_jobs"]["value"] >= 1
    assert os.path.exists(os.path.join(ROOT, report["trace_file"]))


def test_run_fails_without_the_engine_sources(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "serving", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert "correct" not in p.stdout
