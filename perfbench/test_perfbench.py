"""Tests for the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from visigoth_spark.corpus import build_vocabulary  # noqa: E402

def test_query_stream_is_deterministic_per_seed():
    a = inputs.query_stream(3, 1, 200)
    assert a == inputs.query_stream(3, 1, 200)
    assert a != inputs.query_stream(4, 1, 200)
    assert a != inputs.query_stream(3, 2, 200)


def test_query_stream_class_counts_do_not_depend_on_seed():
    counts = [collections.Counter(c for c, _, _ in
                                  inputs.query_stream(s, 1, 200))
              for s in (1, 2, 3)]
    assert counts[0] == counts[1] == counts[2]
    assert sum(counts[0].values()) == 200
    assert all(counts[0][cls] >= 2 for cls, _, _ in inputs.MIX)


def test_engine_queries_have_generate_queries_shape():
    """1-4 vocabulary words, each term count a quarter of the queries."""
    vocab = set(build_vocabulary())
    stream = inputs.query_stream(5, 1, 400)
    shaped = [t.split(" ") for c, _, t in stream
              if c not in ("head", "no_match", "stopwords")]
    assert all(w in vocab for words in shaped for w in words)
    n_terms = collections.Counter(len(words) for words in shaped)
    assert set(n_terms) == {1, 2, 3, 4}
    assert max(n_terms.values()) - min(n_terms.values()) <= 10


def test_write_stream_is_deterministic_and_consistent():
    a = inputs.write_stream(5, 1000, 3, 100, 10)
    b = inputs.write_stream(5, 1000, 3, 100, 10)
    base, slices, dels = a
    assert np.array_equal(base, b[0])
    assert all(np.array_equal(x, y) for x, y in zip(slices, b[1]))
    assert all(np.array_equal(x, y) for x, y in zip(dels, b[2]))
    assert np.all(np.diff(base) > 0)
    held = np.concatenate(slices)
    assert len(set(held) | set(base)) == 1000
    ingested = set(base)
    for c in range(3):
        assert set(dels[c]) <= ingested  # only documents already indexed
        ingested = (ingested - set(dels[c])) | set(slices[c])
    other = inputs.write_stream(6, 1000, 3, 100, 10)
    assert not np.array_equal(base, other[0])


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = pq.read_table(inputs.corpus_parquet(str(tmp_path / "a"), 60, 9))
    b = pq.read_table(inputs.corpus_parquet(str(tmp_path / "b"), 60, 9))
    c = pq.read_table(inputs.corpus_parquet(str(tmp_path / "c"), 60, 10))
    assert a.equals(b)
    assert not a.equals(c)
    urls = a.column("url").to_pylist()
    assert urls == sorted(urls)  # assume_sorted builds rely on this
    rows = np.array([1, 5, 6, 40])
    sub = pq.read_table(inputs.subset_parquet(
        inputs.corpus_parquet(str(tmp_path / "a"), 60, 9), rows, "t"))
    assert sub.column("url").to_pylist() == [urls[i] for i in rows]


def test_nesting_error_catches_a_child_outside_its_parent():
    t = spans.Tracer()
    t.spans = [
        {"name": "op", "op": "op#0", "parent": None, "start": 0.0, "end": 1.0},
        {"name": "a", "op": "op#0", "parent": 0, "start": 0.1, "end": 0.5},
    ]
    assert t.nesting_error() == 0.0
    assert abs(t.root_self_share() - 0.6) < 1e-12
    t.spans.append(
        {"name": "b", "op": "op#0", "parent": 0, "start": 0.4, "end": 1.2})
    assert t.nesting_error() > 0.19  # b ends 0.2 past its parent


def test_every_printed_metric_is_declared():
    """Every workload prints every metric of its kind, so the lists are
    the manifest's, name for name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, names in (("end_to_end", workloads.END_TO_END),
                       ("per_layer", workloads.PER_LAYER)):
        declared = [m["name"] for m in spec[key]]
        assert sorted(names) == sorted(declared), key
        assert len(set(names)) == len(names), key
    assert set(workloads.WORKLOADS) == {w["name"] for w in spec["workloads"]}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_every_workload_runs_every_phase():
    for mix in workloads.WORKLOADS.values():
        assert mix.cycles >= 2  # merge_appends needs two appended batches
        assert mix.reads >= 1 and mix.burst >= 1
        assert mix.cycle_docs >= 1 and mix.delete_calls >= 1
        assert mix.positions or all(e != "phrase" for _, e, _ in mix.queries)


def test_short_streams_hold_every_class():
    """The read phase reaches every route even when it is short."""
    for mix in (inputs.MIX, inputs.NO_PHRASE_MIX):
        for seed in range(1, 6):
            stream = inputs.query_stream(seed, 1000, 12, mix)
            assert len(stream) == 12
            assert {c for c, _, _ in stream} == {c for c, _, _ in mix}


def test_fails_without_the_program(tmp_path):
    """Outside a checkout (only BENCHMARK.json and perfbench/) the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert "visigoth_spark" in p.stderr
    assert '"correct"' not in p.stdout
