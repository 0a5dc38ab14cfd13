"""Seeded inputs for the benchmark workloads.

Everything is derived from ``--seed`` alone: documents come from
``visigoth_spark.corpus.write_corpus_parquet``; queries are drawn the way
``corpus.generate_queries`` draws them (1-4 terms, each a uniform word of a
uniformly chosen vocabulary zone: head ranks 0-50, torso 50-2000, tail 2000
and up), with fixed per-class counts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from visigoth_spark.corpus import build_vocabulary, write_corpus_parquet
from visigoth_spark.stopwords_es import SPANISH_STOPWORDS

_VOCAB = build_vocabulary()
_ZONES = ((0, 50), (50, 2000), (2000, len(_VOCAB)))  # generate_queries' zones
# the highest-df content words of the head zone: five of them sum past the
# scaled routing bound
TOP_HEAD = [w for w in _VOCAB[:50] if w.lower() not in SPANISH_STOPWORDS][:7]
STOPWORDS = sorted(w for w in SPANISH_STOPWORDS if " " not in w)

# Query classes per 100 queries: (class, engine, count). Every engine class
# draws its text as generate_queries does. The three named classes add what
# that draw rarely or never yields: "head" (five top head words, summed df
# past the routing bound: the distributed route), "no_match" (a term absent
# from the corpus) and "stopwords" (nothing left after analysis). bm25 is
# the majority; every other engine gets about 5 %, so each has some ten
# queries in a 200-query run.
MIX = (
    ("bm25", "bm25", 63), ("bm25_or", "bm25_or", 8), ("hits", "hits", 5),
    ("linear", "linear", 5), ("phrase", "phrase", 6),
    ("bm25_prefix", "bm25_prefix", 5), ("bm25_fuzzy", "bm25_fuzzy", 4),
    ("head", "bm25", 1), ("no_match", "bm25", 2), ("stopwords", "bm25", 1),
)
# the same without phrase queries, for an index built without positions
# (phrase needs them)
NO_PHRASE_MIX = tuple(m for m in MIX if m[1] != "phrase")


def corpus_parquet(cache_dir: str, n_docs: int, seed: int) -> str:
    """Sorted corpus parquet for (n_docs, seed), generated once and cached:
    generation is pure Python (~3k docs/s) and stays outside every timing."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"corpus-{n_docs}-{seed}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        write_corpus_parquet(tmp, n_docs, seed)
        os.replace(tmp, path)
    return path


def subset_parquet(path: str, rows: np.ndarray, tag: str) -> str:
    """The ascending ``rows`` of a sorted corpus parquet as their own file,
    still sorted by url and with the same row-group sizing, cached beside
    it."""
    import pyarrow.parquet as pq

    out = path.replace(".parquet", f"-{tag}.parquet")
    if not os.path.exists(out):
        tmp = f"{out}.tmp{os.getpid()}"
        pq.write_table(pq.read_table(path).take(rows), tmp,
                       row_group_size=max(1024, len(rows) // 256))
        os.replace(tmp, out)
    return out


def read_texts(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["url", "text", "lang"]).to_pandas()


def _generated(j: int, rng) -> str:
    """A query shaped like generate_queries': ``1 + j % 4`` terms (the term
    count cycles, so every seed has the same count mix), each a uniform word
    of a uniformly chosen zone."""
    return " ".join(_VOCAB[rng.randint(*_ZONES[rng.randint(0, 3)])]
                    for _ in range(1 + j % 4))


def _query(cls: str, j: int, rng) -> str:
    """The ``j``-th query of class ``cls``."""
    if cls == "head":
        return " ".join(rng.permutation(TOP_HEAD)[:5])
    if cls == "no_match":
        return "qx" + "".join(rng.choice(list("bcdfghjkmnpv"), 6))
    if cls == "stopwords":
        return " ".join(rng.choice(STOPWORDS, 1 + j % 3))
    return _generated(j, rng)


def query_stream(seed: int, salt: int, n: int,
                 mix=MIX) -> list[tuple[str, str, str]]:
    """``n`` queries as (class, engine, text). Class counts are fixed per
    ``n`` (largest remainder over ``mix``, each class at least once when
    ``n`` allows it); ``salt`` gives disjoint draws,
    e.g. a warm-up stream beside the timed one."""
    rng = np.random.RandomState([seed, salt])
    total = sum(c for *_, c in mix)
    raw = [c * n / total for *_, c in mix]
    counts = [int(r) for r in raw]
    for i in sorted(range(len(mix)), key=lambda i: counts[i] - raw[i])[
            :n - sum(counts)]:
        counts[i] += 1
    # every class at least once (taken from the largest), so that a short
    # stream still reaches every route
    for i in range(len(mix)):
        if counts[i] == 0 and n >= len(mix):
            counts[i] = 1
            counts[counts.index(max(counts))] -= 1
    out = [(cls, eng, _query(cls, j, rng))
           for (cls, eng, _), c in zip(mix, counts) for j in range(c)]
    return [out[i] for i in rng.permutation(len(out))]


def write_stream(seed: int, n_docs: int, n_cycles: int, docs: int,
                 deletes: int):
    """The write stream over a corpus of ``n_docs`` rows: the base
    rows (sorted, so the base keeps the corpus' url order), the rows
    appended in each cycle (held out of the base), and per cycle the rows
    deleted, drawn from documents ingested before that cycle."""
    rng = np.random.RandomState([seed, 7])
    order = rng.permutation(n_docs)
    held = n_cycles * docs
    base = np.sort(order[held:])
    slices = [order[c * docs:(c + 1) * docs] for c in range(n_cycles)]
    live = base.copy()
    dels = []
    for c in range(n_cycles):
        gone = rng.choice(len(live), deletes, replace=False)
        dels.append(live[gone])
        live = np.concatenate([np.delete(live, gone), slices[c]])
    return base, slices, dels
