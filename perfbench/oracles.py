"""Independent answers for the workloads' correctness checks.

They hold every token of the corpus in Python objects, so the workload runs
them in a child process (``in_child``): their memory then stays out of the
driver's peak resident set, which ``driver_rss_mb`` reports.
"""

from __future__ import annotations

import pickle
import subprocess
import sys

import numpy as np
import pandas as pd

from visigoth_spark.analysis import analyze_flat, analyze_series

import inputs


def in_child(*calls):
    """Each ``(fn, *args)`` of ``calls`` in one fresh interpreter, which has
    exited on return; the list of their results."""
    p = subprocess.run(
        [sys.executable, __file__],
        input=pickle.dumps([(fn.__name__, *args) for fn, *args in calls]),
        stdout=subprocess.PIPE, check=True)
    return pickle.loads(p.stdout)


def _docs(path: str, rows: np.ndarray) -> pd.DataFrame:
    return inputs.read_texts(path).iloc[rows].reset_index(drop=True)


def sample_terms(texts: pd.Series, seed: int, n: int = 24) -> list[str]:
    """``n`` terms of the analyzed ``texts`` plus one that no document
    holds."""
    vocab = sorted({t for d in analyze_series(texts) for t in d})
    rng = np.random.RandomState([seed, 3])
    return [*rng.choice(vocab, n, replace=False).tolist(), "qxzzyqx"]


def term_df(path: str, rows: np.ndarray, terms: list[str]) -> dict[str, int]:
    """Document frequency of ``terms`` over the documents ``rows`` of the
    corpus at ``path``, counted with ``analysis.analyze_series``."""
    want = dict.fromkeys(terms, 0)
    for d in analyze_series(_docs(path, rows)["text"]):
        for t in want.keys() & set(d):
            want[t] += 1
    return want


def bm25_top_k(path: str, rows: np.ndarray, deleted: list[str],
               queries: list[str], k: int) -> list[list[tuple]]:
    """AND-BM25 top-``k`` of each query over the documents ``rows`` minus
    the ``deleted`` urls, in plain numpy with the formula of
    ``reference_engine.bm25_search``: the expected result of a compacted
    index, whose statistics count only live documents."""
    pdf = _docs(path, rows)
    pdf = pdf[~pdf["url"].isin(deleted)]
    terms, lens = analyze_flat(pdf["text"])
    urls = pdf["url"].to_numpy()
    avgdl = lens.sum() / len(pdf)
    doc = np.repeat(np.arange(len(pdf)), lens)
    toks = np.asarray(terms.to_pylist(), dtype=object)
    k1, b, n = 1.2, 0.75, len(urls)
    out = []
    for query in queries:
        qterms = sorted(set(analyze_series(pd.Series([query])).iloc[0]))
        tf = {}
        for t in qterms:
            ids, counts = np.unique(doc[toks == t], return_counts=True)
            tf[t] = dict(zip(ids.tolist(), counts.tolist()))
        hits = []
        for d in set.intersection(*(set(tf[t]) for t in qterms)) \
                if qterms else ():
            norm = k1 * (1.0 - b + b * lens[d] / avgdl)
            score = 0.0
            for t in qterms:
                df = len(tf[t])
                idf = np.log((n - df + 0.5) / (df + 0.5) + 1.0)
                score += idf * (tf[t][d] * (k1 + 1.0)) / (tf[t][d] + norm)
            hits.append((str(urls[d]), float(score)))
        hits.sort(key=lambda r: (-r[1], r[0]))
        out.append(hits[:k])
    return out


if __name__ == "__main__":
    calls = pickle.load(sys.stdin.buffer)
    sys.stdout.buffer.write(pickle.dumps(
        [globals()[name](*args) for name, *args in calls]))
