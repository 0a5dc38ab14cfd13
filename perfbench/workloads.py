"""The benchmark's workloads, driven through ``visigoth_spark``'s public API
from outside the package.

Both workloads run the same life of an index, so each measures every
metric: a warm-up build (set-up), cold ``build_index`` runs of the base
corpus, a closed-loop read phase, append / delete / refresh / query-burst
cycles, ``merge_appends``, ``compact_index`` and a final burst. They differ
in the index and in where the work goes (``Mix``):

- ``serve``: a positional index and a long read phase, with small writes.
- ``maintain``: an index without positions, a short read phase and larger,
  more frequent writes, each followed by a burst on a cold cache.

Each workload reports its end-to-end metrics (tracing off) or, with tracing
on, its per-layer metrics. Correctness checks run outside every timed region
and count into ``attempted`` / ``failed``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import itertools
import os
import re
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

from visigoth_spark import build as vbuild
from visigoth_spark import query as vquery
from visigoth_spark import storage as vstore
from visigoth_spark.analysis import analyze_flat
from visigoth_spark.codec import decode_segment, encode_groups

import inputs
import oracles
from spans import SparkJobs, Tracer, driver_peak_rss_mb, tree_cpu_seconds

CORPUS_DOCS = 6_000       # both workloads share one cached corpus per seed
BUILDS = 2                # timed cold builds (traced runs add one traced)
WARM_QUERIES = 4
BATCH_PASSES = 3
CHECK_QUERIES = 2         # re-run on the distributed route
EXHAUSTIVE_CHECKS = 5     # bm25 queries re-run with bm25_exhaustive
DELETE_URLS = 10          # per delete_docs call
# driver_local_max_postings is 800k for a ~300k-doc index; scaling it with
# the corpus keeps the share of distributed-route queries the same
ROUTE_BOUND_PER_DOC = 800_000 / 300_000
K = 10


@dataclasses.dataclass(frozen=True)
class Mix:
    """Where one workload puts its work in the shared life of an index."""
    positions: bool      # build_index(store_positions=...)
    reads: int           # read phase: at least this many queries
    cycles: int          # append / delete / refresh / burst cycles (>= 2,
    #                      so merge_appends has batches to merge)
    cycle_docs: int      # documents appended per cycle, held out of the base
    delete_calls: int    # delete_docs calls per cycle
    burst: int           # queries after each refresh and after compaction
    queries: tuple       # query classes, as inputs.MIX


WORKLOADS = {
    "serve": Mix(positions=True, reads=40, cycles=2, cycle_docs=300,
                 delete_calls=3, burst=4, queries=inputs.MIX),
    "maintain": Mix(positions=False, reads=12, cycles=2, cycle_docs=500,
                    delete_calls=3, burst=10, queries=inputs.NO_PHRASE_MIX),
}

# Every workload prints all of these: the end-to-end metrics with tracing
# off, the per-layer ones with tracing on. BENCHMARK.json declares them.
END_TO_END = (
    "setup_s", "build_docs_per_s", "build_cpu_us_per_doc",
    "index_bytes_per_posting", "search_rows_p50_ms", "search_empty_p50_ms",
    "append_docs_per_s", "delete_ms", "merge_s", "compact_s",
    "driver_rss_mb",
)
_KIND_NAMES = ("segment", "docmap", "termdict", "manifests")
PER_LAYER = (
    "build.offsets_s", "build.batch_s", "build.finalize_s",
    "build.termdict_s", "build.manifests_s", "build.cpu_s",
    "build.spark_jobs", "build.spark_tasks",
    "analysis.tokens", "analysis.ns_per_token",
    "codec.postings", "codec.decode_ns_per_posting",
    "codec.encode_ns_per_posting",
    *(f"storage.bytes_written.{k}" for k in _KIND_NAMES),
    *(f"storage.files_written.{k}" for k in _KIND_NAMES),
    "storage.store_calls", "storage.store_ms",
    "query.route_driver_share", "query.route_spark_share",
    "query.route_empty_share", "query.driver_route_p50_ms",
    "query.spark_route_p50_ms", "query.empty_p50_ms",
    "query.seg_files_planned", "query.cache_hit_ratio", "query.term_df_ms",
    "query.search_call_ms", "query.collect_ms", "query.spark_jobs",
    "query.spark_tasks", "query.batch_qps", "query.batch_spark_jobs",
    "query.refresh_ms", "query.tombstones", "storage.manifest_bytes",
    "storage.compact_write_amp", "build.compact_cpu_s",
    "build.append_spark_jobs", "build.delete_spark_jobs",
    "build.merge_spark_jobs",
    "trace.overhead_pct", "trace.closure_error", "trace.root_self_share",
    "trace.spans",
)


def _row(r) -> tuple:
    """A result row as compared across paths: (url, score to 1e-9, hits)."""
    return r["url"], round(float(r["score"]), 9), int(r["hits"])


def _rows(df) -> list[tuple]:
    return [_row(r) for r in df.collect()]


class Run:
    """State shared by one workload run: the session, the tracer, the
    correctness tally and the metrics being reported."""

    def __init__(self, spark, state: str, workload: str, seed: int,
                 seconds: float, trace: bool, session_s: float):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.workload = workload
        self.trace, self.session_s = trace, session_s
        self.cache = os.path.join(state, "cache")
        self.work = os.path.join(state, "work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer()
        self.jobs = SparkJobs(spark)
        self.attempted = self.failed = 0
        self.seen: dict[str, int] = {}  # single queries run, per class
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.t0 = time.perf_counter()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {what}", file=sys.stderr)

    def log(self, phase: str) -> None:
        """Progress to stderr: seconds since the run object was made."""
        print(f"# {time.perf_counter() - self.t0:7.1f}s {phase}",
              file=sys.stderr, flush=True)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    @contextlib.contextmanager
    def op(self, name: str, traced: bool):
        """One benchmark operation. Traced operations get a root span, the
        function wrappers and a Spark job group; untraced ones run bare, so
        the two can be compared for the tracing overhead."""
        if not traced:
            yield None
            return
        t = self.tracer
        t.wrap(vquery.SearchIndex, "term_df", "query.term_df")
        for owner, names in ((vstore.LocalStore, (
                "exists", "isdir", "listdir", "makedirs", "read_bytes",
                "write_atomic", "remove", "rmtree", "rename", "getsize",
                "create_exclusive", "open_seekable")),
                (vstore.Store, ("read_json", "write_json_atomic"))):
            for n in names:
                t.wrap(owner, n, "storage.store")
        t.enabled = True
        info = {"op": f"{name}#{len(t.spans)}"}
        try:
            with self.jobs.group(name) as counts, t.span(name, info["op"]):
                yield info
        finally:
            t.enabled = False
            t.unwrap_all()
            info.update(counts)


# ---------------------------------------------------------------- helpers --

def _build(run: Run, corpus, out: str, traced: bool, **kw):
    """Cold ``build_index`` into a fresh ``out``. Returns (metrics, wall,
    tree-CPU seconds, op info, captured VISIGOTH_TIMING phase lines)."""
    shutil.rmtree(out, ignore_errors=True)
    buf = io.StringIO()
    if traced:
        os.environ["VISIGOTH_TIMING"] = "1"
    cpu0 = tree_cpu_seconds()
    t0 = time.perf_counter()
    try:
        with run.op("build_index", traced) as info, \
                contextlib.redirect_stdout(buf):
            m = vbuild.build_index(run.spark, corpus, out,
                                   assume_sorted=True, **kw)
    finally:
        os.environ.pop("VISIGOTH_TIMING", None)
    wall = time.perf_counter() - t0
    return m, wall, tree_cpu_seconds() - cpu0, info, buf.getvalue()


_PHASE = re.compile(r"# build phase (.+?): ([0-9.]+)s")


def _build_layers(run: Run, builds: list, out: str) -> None:
    """Per-layer build metrics from traced builds (median per build)."""
    phases: dict[str, list[float]] = {}
    for *_, log in builds:
        for label, secs in _PHASE.findall(log):
            key = ("offsets" if label == "offsets" else
                   "finalize" if label.endswith("finalize") else
                   "manifests" if label == "file manifests" else None)
            if key:
                phases.setdefault(key, []).append(float(secs))
    for key in ("offsets", "finalize", "manifests"):
        run.layer(f"build.{key}_s", statistics.median(phases[key]), "s")
    man = os.path.join(out, "_manifests")
    store = vstore.LocalStore()
    run.layer("build.batch_s",
              store.read_json(os.path.join(man, "batch_0.json"))["wall_sec"],
              "s")
    run.layer("build.termdict_s",
              store.read_json(os.path.join(man, "termdict.json"))["wall_sec"],
              "s")
    run.layer("build.cpu_s", statistics.median(b[2] for b in builds), "s")
    for k in ("jobs", "tasks"):
        run.layer(f"build.spark_{k}",
                  statistics.median(b[3][k] for b in builds), "count")


_KINDS = (("kind=s", "segment"), ("kind=d", "docmap"),
          ("termdict", "termdict"), ("_manifests", "manifests"),
          ("stats.json", "manifests"))


def _storage_layers(run: Run, index_dir: str) -> None:
    size = {k: 0 for _, k in _KINDS}
    files = dict(size)
    for root, _, names in os.walk(index_dir):
        for n in names:
            path = os.path.join(root, n)
            kind = next((k for key, k in _KINDS if key in path), None)
            if kind:
                size[kind] += os.path.getsize(path)
                files[kind] += 1
    for kind in size:
        run.layer(f"storage.bytes_written.{kind}", size[kind], "B")
        run.layer(f"storage.files_written.{kind}", files[kind], "count")


def _store_layers(run: Run, root: str) -> None:
    """Store calls and their self time per ``root`` operation."""
    spans = run.tracer.spans
    ops = {s["op"] for s in spans if s["parent"] is None and s["name"] == root}
    st = [t for s, t in zip(spans, run.tracer.self_times())
          if s["name"] == "storage.store" and s["op"] in ops]
    run.layer("storage.store_calls", len(st) / len(ops), "count")
    run.layer("storage.store_ms", 1e3 * sum(st) / len(ops), "ms")


def _analysis_layers(run: Run, texts: pd.Series) -> None:
    t0 = time.perf_counter_ns()
    terms, _ = analyze_flat(texts)
    dt = time.perf_counter_ns() - t0
    run.layer("analysis.tokens", len(terms), "count")
    run.layer("analysis.ns_per_token", dt / max(1, len(terms)), "ns")


def _codec_layers(run: Run, index_dir: str, terms: list[str]) -> None:
    """Decode the segment blobs of ``terms`` (read with pyarrow) and encode
    the decoded postings again, timing both per posting."""
    import glob

    import pyarrow.dataset as ds

    files = sorted(glob.glob(os.path.join(index_dir, "data", "batch=*",
                                          "kind=s", "*.parquet")))
    tbl = ds.dataset(files, format="parquet").to_table(
        columns=["term", "blob"], filter=ds.field("term").isin(terms))
    blobs = [bytes(b) for b in tbl["blob"].to_pylist()]
    t0 = time.perf_counter_ns()
    decoded = [decode_segment(b) for b in blobs]
    dec_ns = time.perf_counter_ns() - t0
    n = sum(len(d[0]) for d in decoded)
    ids = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dls = np.concatenate([d[2] for d in decoded])
    starts = np.cumsum([0] + [len(d[0]) for d in decoded[:-1]])
    t0 = time.perf_counter_ns()
    encode_groups(starts, ids, tfs, dls)
    enc_ns = time.perf_counter_ns() - t0
    run.layer("codec.postings", n, "count")
    run.layer("codec.decode_ns_per_posting", dec_ns / n, "ns")
    run.layer("codec.encode_ns_per_posting", enc_ns / n, "ns")


def _trace_summary(run: Run, queries: list) -> None:
    """Tracing overhead from the single queries run traced and untraced in
    this run, plus the span nesting check. Latency falls in two groups
    (~50 ms for a query that finds rows, 0.3 s or more for one that finds
    none or runs distributed), and the traced and untraced halves hold
    different shares of each, so the medians are compared within the first
    group."""
    fast = [q for q in queries if q.rows and q.cls != "head"]
    tr = [q.ms for q in fast if q.plan]
    un = [q.ms for q in fast if not q.plan]
    run.layer("trace.overhead_pct",
              100.0 * (statistics.median(tr) / statistics.median(un) - 1.0),
              "%")
    err = run.tracer.nesting_error()
    run.check(err <= 0.01, f"spans nest within 1% of their wall: {err}")
    run.layer("trace.closure_error", err, "ratio")
    run.layer("trace.root_self_share", run.tracer.root_self_share(), "ratio")
    run.layer("trace.spans", len(run.tracer.spans), "count")


class _Query:
    """One timed single query: plan (search call) and execute (collect)."""

    def __init__(self, run: Run, si, cls: str, engine: str, text: str,
                 traced: bool):
        self.cls, self.engine, self.text = cls, engine, text
        self.plan = si.explain_query(text, engine, K) if traced else None
        t0 = time.perf_counter()
        with run.op("query", traced) as self.info:
            with run.tracer.span("query.search_call") as s1:
                df = si.search(text, engine=engine, k=K)
            with run.tracer.span("query.collect") as s2:
                rows = df.collect()
        self.ms = 1e3 * (time.perf_counter() - t0)
        self.rows = [_row(r) for r in rows]
        if traced:
            self.call_ms = 1e3 * (s1["end"] - s1["start"])
            self.collect_ms = 1e3 * (s2["end"] - s2["start"])


def _run_queries(run: Run, si, stream, min_n: int, seconds: float):
    """Closed loop, one client: each query starts when the last returns.
    Runs at least ``min_n`` queries and at least ``seconds``."""
    done = []
    t0 = time.perf_counter()
    for cls, engine, text in stream:
        if len(done) >= min_n and time.perf_counter() - t0 >= seconds:
            break
        # traced and untraced alternate within each class, starting with a
        # traced one, so every class (and with it every route) that a run
        # makes has traced queries
        run.seen[cls] = run.seen.get(cls, 0) + 1
        traced = run.trace and run.seen[cls] % 2 == 1
        try:
            q = _Query(run, si, cls, engine, text, traced)
        except Exception as e:  # counted, never fatal to the run
            run.check(False, f"{engine} {text!r}: {e!r}")
            continue
        run.check(len(q.rows) <= K, f"{engine} {text!r} over k")
        if cls in ("no_match", "stopwords"):
            run.check(not q.rows, f"{engine} {text!r} should be empty")
        done.append(q)
    return done


def _query_layers(run: Run, queries: list) -> None:
    traced = [q for q in queries if q.plan is not None]
    route = [q.plan["route"].split()[0] for q in traced]
    n = len(traced)
    for key, name in (("driver", "driver"), ("spark", "spark"),
                      ("none", "empty")):
        ms = [q.ms for q, r in zip(traced, route) if r == key]
        run.layer(f"query.route_{name}_share", len(ms) / n, "ratio")
        run.layer(f"query.{name}_route_p50_ms" if key != "none"
                  else "query.empty_p50_ms", statistics.median(ms), "ms")
    planned = [q.plan["seg_files_planned"] for q in traced
               if q.plan["seg_files_planned"] is not None]
    run.layer("query.seg_files_planned",
              statistics.mean(planned) if planned else 0.0, "count")
    n_terms = sum(len(q.plan["terms"]) for q in traced)
    n_cached = sum(len(q.plan["cached_terms"]) for q in traced)
    run.layer("query.cache_hit_ratio", n_cached / max(1, n_terms), "ratio")
    selfs = run.tracer.self_times()
    per_op: dict[str, float] = {}
    for s, t in zip(run.tracer.spans, selfs):
        if s["name"] == "query.term_df":
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + t
    run.layer("query.term_df_ms", 1e3 * statistics.median(
        per_op.get(q.info["op"], 0.0) for q in traced), "ms")
    run.layer("query.search_call_ms",
              statistics.median(q.call_ms for q in traced), "ms")
    run.layer("query.collect_ms",
              statistics.median(q.collect_ms for q in traced), "ms")
    run.layer("query.spark_jobs",
              statistics.mean(q.info["jobs"] for q in traced), "count")
    run.layer("query.spark_tasks",
              statistics.mean(q.info["tasks"] for q in traced), "count")


def _search_index(run: Run, index_dir: str, n_docs: int):
    return vquery.SearchIndex(
        run.spark, index_dir,
        driver_local_max_postings=int(ROUTE_BOUND_PER_DOC * n_docs))


# ---------------------------------------------------------------- workload --

def _batch(run: Run, si, queries: list) -> None:
    """Traced runs only: the read phase's queries batched per engine, one
    ``search_many`` call each, checked against ``search``; three passes for
    a median throughput."""
    by_engine: dict[str, list] = {}
    for q in queries:
        by_engine.setdefault(q.engine, []).append(q)
    qps, jobs = [], []
    for _ in range(BATCH_PASSES):
        t_pass = 0.0
        for engine, qs in by_engine.items():
            t0 = time.perf_counter()
            with run.op("search_many", True) as info:
                rows = si.search_many([q.text for q in qs], engine=engine,
                                      k=K).collect()
            t_pass += time.perf_counter() - t0
            jobs.append(info["jobs"])
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(r["qid"], []).append(_row(r))
            for i, q in enumerate(qs):
                run.check(got.get(i, []) == q.rows,
                          f"search_many {engine} {q.text!r} != search")
        qps.append(len(queries) / t_pass)
    run.layer("query.batch_qps", statistics.median(qps), "q/s")
    run.layer("query.batch_spark_jobs", statistics.mean(jobs), "count")


def _cross_path_checks(run: Run, si, queries: list) -> None:
    """A fixed sample of the queries that found rows, re-run on the
    distributed route, and the first bm25 ones with bm25_exhaustive: the
    rows must be identical."""
    rng = np.random.RandomState([run.seed, 5])
    light = [q for q in queries if q.rows and q.cls in (
        "bm25", "bm25_or", "hits", "linear", "phrase")]
    for i in rng.choice(len(light), min(CHECK_QUERIES, len(light)),
                        replace=False):
        q = light[i]
        run.check(_rows(si.search(q.text, engine=q.engine, k=K,
                                  route="spark")) == q.rows,
                  f"route=spark {q.engine} {q.text!r}")
    for q in [q for q in light if q.engine == "bm25"][:EXHAUSTIVE_CHECKS]:
        run.check(_rows(si.search(q.text, engine="bm25_exhaustive",
                                  k=K)) == q.rows,
                  f"bm25_exhaustive {q.text!r}")


def lifecycle(run: Run) -> None:
    """One life of an index, the same for every workload; ``WORKLOADS``
    says how much of each phase a workload runs."""
    mix = WORKLOADS[run.workload]
    spark = run.spark
    path = inputs.corpus_parquet(run.cache, CORPUS_DOCS, run.seed)
    pdf = inputs.read_texts(path)
    urls = pdf["url"].to_numpy()
    base_rows, slices, dels = inputs.write_stream(
        run.seed, len(pdf), mix.cycles, mix.cycle_docs,
        mix.delete_calls * DELETE_URLS)
    tag = f"{mix.cycles}x{mix.cycle_docs}"
    base = spark.read.parquet(inputs.subset_parquet(
        path, base_rows, f"base{tag}"))
    held = spark.read.parquet(inputs.subset_parquet(
        path, np.sort(np.concatenate(slices)), f"held{tag}"))
    run.log("inputs ready")

    # set-up: a warm-up build of the held-out documents into a scratch
    # index. The first build in a JVM runs several times slower than later
    # ones (JIT, codegen, Python worker start), whatever its size.
    t0 = time.perf_counter()
    vbuild.build_index(spark, held, os.path.join(run.work, "warm"),
                       assume_sorted=True, store_positions=mix.positions)
    setup_s = run.session_s + time.perf_counter() - t0
    run.log("setup done")

    # build phase: the query layers are idle
    out = os.path.join(run.work, "idx")
    builds = []
    for i in range(BUILDS + run.trace):
        builds.append(_build(run, base, out, run.trace and i % 2 == 1,
                             store_positions=mix.positions))
        run.check(builds[-1][0].n_docs == len(base_rows), "base n_docs")
    run.log("builds done")
    si = _search_index(run, out, CORPUS_DOCS)
    # checked at the end, against counts made in a child process
    df_terms = oracles.sample_terms(pdf["text"].iloc[base_rows[:200]],
                                    run.seed)
    df_got = si.term_df(df_terms)
    if run.trace:  # before maintenance rewrites the base manifests
        _build_layers(run, [b for b in builds if b[3]], out)
        _store_layers(run, "build_index")
        _storage_layers(run, out)

    # read phase: a disjoint warm-up stream leaves the hot-term cache with
    # the hit share the distribution naturally has
    for _, engine, text in inputs.query_stream(run.seed, 2, WARM_QUERIES,
                                               mix.queries):
        si.search(text, engine=engine, k=K).collect()
    # blocks with fixed class counts: the queries a run makes hold every
    # class, and so every route
    stream = (q for b in itertools.count() for q in inputs.query_stream(
        run.seed, 1000 + b, mix.reads, mix.queries))
    queries = _run_queries(run, si, stream, mix.reads, run.seconds)
    run.log(f"read phase done: {len(queries)} queries")
    if run.trace:
        _batch(run, si, queries)
    _cross_path_checks(run, si, queries)

    # write phase: every commit swaps the snapshot and evicts the cache
    deleted: set[str] = set()
    appends, deletes, refresh_ms, ops = [], [], [], []

    def burst(salt: int) -> list:
        qs = _run_queries(run, si, inputs.query_stream(
            run.seed, salt, mix.burst, mix.queries), mix.burst, 0.0)
        for q in qs:
            run.check(not deleted & {r[0] for r in q.rows},
                      f"deleted url returned for {q.text!r}")
        return qs

    for c in range(mix.cycles):
        part = _frame(spark, pdf, slices[c])
        t0 = time.perf_counter()
        with run.op("append_index", run.trace) as info:
            vbuild.append_index(spark, part, out)
        appends.append(mix.cycle_docs / (time.perf_counter() - t0))
        ops.append(("append", info))
        for d in range(mix.delete_calls):
            gone = urls[dels[c][d * DELETE_URLS:(d + 1) * DELETE_URLS]]
            t0 = time.perf_counter()
            with run.op("delete_docs", run.trace) as info:
                n_del = vbuild.delete_docs(spark, out, urls=gone.tolist())
            deletes.append(1e3 * (time.perf_counter() - t0))
            ops.append(("delete", info))
            run.check(n_del == len(gone), f"delete_docs {n_del}/{len(gone)}")
            deleted.update(gone)
        t0 = time.perf_counter()
        si.refresh()
        refresh_ms.append(1e3 * (time.perf_counter() - t0))
        queries += burst(100 + c)
    run.log("cycles done")

    # merge is layout-only: the last burst's queries that found rows (same
    # snapshot) must come back row for row
    t0 = time.perf_counter()
    with run.op("merge_appends", run.trace) as info:
        merged = vbuild.merge_appends(spark, out)
    merge_s = time.perf_counter() - t0
    ops.append(("merge", info))
    run.check(merged is not None, "merge_appends merged nothing")
    si.refresh()
    for q in [q for q in queries[-mix.burst:] if q.rows]:
        run.check(_rows(si.search(q.text, engine=q.engine, k=K)) == q.rows,
                  f"merge changed {q.engine} {q.text!r}")
    run.log("merge done")

    pre_bytes = _tree_bytes(out)
    manifest_bytes = _tree_bytes(os.path.join(out, "_manifests"))
    cpu0 = tree_cpu_seconds()
    t0 = time.perf_counter()
    with run.op("compact_index", run.trace):
        vbuild.compact_index(spark, out)
    compact_s = time.perf_counter() - t0
    compact_cpu = tree_cpu_seconds() - cpu0
    si.refresh()
    queries += burst(200)
    run.log("compact done")

    # compaction purges tombstones and recomputes corpus statistics, so
    # its bm25 results must equal a from-scratch score over live documents
    final = [q for q in queries[-mix.burst:] if q.engine == "bm25"]
    df_want, wants = oracles.in_child(
        (oracles.term_df, path, base_rows, df_terms),
        (oracles.bm25_top_k, path,
         np.sort(np.concatenate([base_rows, *slices])), sorted(deleted),
         [q.text for q in final], K))
    for t in df_terms:
        run.check(df_got[t] == df_want[t],
                  f"term_df({t!r}) {df_got[t]} != {df_want[t]}")
    for q, want in zip(final, wants):
        got = q.rows
        run.check(len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= 1e-9 * max(1.0, abs(w[1]))
            for g, w in zip(got, want)), f"compacted bm25 {q.text!r}")
    run.log("checks done")

    if not run.trace:
        m = builds[-1][0]
        n = len(base_rows)
        run.put("setup_s", setup_s, "s")
        run.put("build_docs_per_s",
                statistics.median(n / b[1] for b in builds), "docs/s")
        run.put("build_cpu_us_per_doc",
                statistics.median(1e6 * b[2] / n for b in builds), "us/doc")
        run.put("index_bytes_per_posting", m.bytes_blob / m.n_postings, "B")
        # latency falls in two groups: ~50 ms for a query that finds rows,
        # 0.3 s or more for one that finds none, which collects an empty
        # result through a Spark job. One median per group; a median over
        # both would jump between them with a few queries either way.
        for name, group in (("rows", [q.ms for q in queries if q.rows]),
                            ("empty", [q.ms for q in queries
                                       if not q.rows])):
            run.put(f"search_{name}_p50_ms", statistics.median(group), "ms")
        run.put("append_docs_per_s", statistics.median(appends), "docs/s")
        run.put("delete_ms", statistics.median(deletes), "ms")
        run.put("merge_s", merge_s, "s")
        run.put("compact_s", compact_s, "s")
        return
    _analysis_layers(run, pdf["text"])
    _query_layers(run, queries)
    run.layer("query.refresh_ms", statistics.median(refresh_ms), "ms")
    run.layer("query.tombstones", statistics.mean(
        q.plan["n_tombstones"] for q in queries if q.plan), "count")
    run.layer("storage.manifest_bytes", manifest_bytes, "B")
    run.layer("storage.compact_write_amp", _tree_bytes(out) / pre_bytes,
              "ratio")
    run.layer("build.compact_cpu_s", compact_cpu, "s")
    for kind in ("append", "delete", "merge"):
        run.layer(f"build.{kind}_spark_jobs", statistics.mean(
            i["jobs"] for k, i in ops if k == kind), "count")
    _codec_layers(run, out, sorted({t for q in queries if q.plan
                                    for t in q.plan["terms"]}))
    _trace_summary(run, queries)

def _frame(spark, pdf: pd.DataFrame, rows: np.ndarray):
    return spark.createDataFrame(pdf.iloc[rows][["url", "text", "lang"]])


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def finish(run: Run) -> dict:
    """The result object: end-to-end metrics untraced, per-layer traced."""
    if not run.trace:
        run.put("driver_rss_mb", driver_peak_rss_mb(), "MB")
    chosen = run.layers if run.trace else run.metrics
    want = PER_LAYER if run.trace else END_TO_END
    if set(chosen) != set(want):
        raise RuntimeError(f"{run.workload} metrics differ from its list: "
                           f"{sorted(set(chosen) ^ set(want))}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(chosen.items())},
    }
