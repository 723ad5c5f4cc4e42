"""Independent BM25 reference for the search and ingest workloads.

Single-threaded numpy over the same documents the engine indexed,
written apart from the engine: its own tokenizer (the documented
lower-then-split-on-[^a-z0-9] grammar), its own postings, and
``avgdl = sum_dl / n_docs`` from integer sums, so no float sum depends
on partitioning.

Deletes follow ``index/deletes.py``'s documented rule: corpus and term
statistics count every document still physically in the index,
deleted or not, and deleted documents never appear in results.

Comparison is tie-aware: docs whose reference scores lie within
``TOL`` of each other may come back in any order, and which of several
such docs fills the last result slots is free.

``python3 perfbench/reference.py`` cross-checks this reference
against the engine's pure-Python ``OracleIndex`` on a small corpus.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
# relative tolerance on scores: engine and reference sum the same
# float64 terms, possibly in another order (~1e-15 apart)
TOL = 1e-9

_TOKEN = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


class Bm25Reference:
    """BM25 over a mutable document set (add, delete, purge)."""

    def __init__(self):
        self.tfs: dict[int, Counter] = {}  # doc_id -> term -> tf
        self.dl: dict[int, int] = {}
        self.postings: dict[str, set[int]] = {}  # term -> doc ids ever added
        self.deleted: set[int] = set()

    def add(self, docs: dict[int, str]) -> None:
        for doc_id, text in docs.items():
            if doc_id in self.dl:
                raise ValueError(f"doc id {doc_id} added twice")
            toks = tokenize(text)
            self.dl[doc_id] = len(toks)
            c = Counter(toks)
            self.tfs[doc_id] = c
            for t in c:
                self.postings.setdefault(t, set()).add(doc_id)

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids if int(d) in self.dl)

    def purge(self, doc_ids) -> None:
        """Drop docs physically (a merge rewrote their segment)."""
        for d in doc_ids:
            d = int(d)
            for t in self.tfs.pop(d):
                self.postings[t].discard(d)
            del self.dl[d]
            self.deleted.discard(d)

    def scores(
        self, terms: list[str], mode: str = "or", exclude: list[str] | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, scores) of every matching live doc, best first."""
        terms = list(dict.fromkeys(terms))
        n_docs = len(self.dl)
        sum_dl = sum(self.dl.values())
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if not terms or not n_docs:
            return empty
        lists = {t: self.postings.get(t, set()) for t in terms}
        present = [t for t in terms if lists[t]]
        if mode == "and":
            if len(present) != len(terms):
                return empty
            cand = set.intersection(*(lists[t] for t in terms))
        else:
            cand = set().union(*(lists[t] for t in present))
        for t in exclude or []:
            cand -= self.postings.get(t, set())
        cand -= self.deleted
        if not cand:
            return empty
        ids = np.fromiter(sorted(cand), np.int64, len(cand))
        dl = np.array([self.dl[d] for d in ids], np.float64)
        norm = K1 * (1.0 - B + B * dl / (sum_dl / n_docs))
        total = np.zeros(ids.size)
        for t in present:
            df = len(lists[t])
            w = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            tf = np.array([self.tfs[d].get(t, 0) for d in ids], np.float64)
            total += np.where(tf > 0, w * tf * (K1 + 1.0) / (tf + norm), 0.0)
        order = np.lexsort((ids, -total))
        return ids[order], total[order]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


def check_topk(got: list[tuple[int, float]], ref_ids, ref_scores, k: int) -> str | None:
    """None when ``got`` is a valid top-k of the reference, else why not."""
    want = min(k, len(ref_ids))
    if len(got) != want:
        return f"{len(got)} rows, expected {want}"
    if not want:
        return None
    ref = dict(zip(ref_ids.tolist(), ref_scores.tolist()))
    kth = ref_scores[want - 1]
    seen = set()
    prev = math.inf
    for doc, score in got:
        if doc in seen:
            return f"doc {doc} returned twice"
        seen.add(doc)
        if doc not in ref:
            return f"doc {doc} does not match (or is deleted)"
        if not _close(score, ref[doc]):
            return f"doc {doc} score {score!r}, reference {ref[doc]!r}"
        if score > prev and not _close(score, prev):
            return "scores not in descending order"
        prev = score
        if ref[doc] < kth and not _close(ref[doc], kth):
            return f"doc {doc} (score {ref[doc]!r}) is below the k-th score {kth!r}"
    for doc, s in ref.items():
        if s > kth and not _close(s, kth) and doc not in seen:
            return f"doc {doc} (score {s!r}) missing from the top-{k}"
    return None


def crosscheck_oracle(n_docs: int = 300, seed: int = 1) -> int:
    """Compare this reference with the engine's OracleIndex on a small
    generated corpus; returns the number of disagreeing queries."""
    import tempfile

    import pyarrow.parquet as pq

    from ocaml_lucene_spark.oracle import OracleIndex
    from ocaml_lucene_spark.sources.corpus import generate_corpus, generate_query_set

    with tempfile.TemporaryDirectory(dir=".") as d:
        texts = pq.read_table(generate_corpus(d, n_docs, seed=seed)).column("text")
        docs = dict(enumerate(texts.to_pylist()))
    ref = Bm25Reference()
    ref.add(docs)
    oracle = OracleIndex.from_texts(docs)
    bad = 0
    for q in generate_query_set(seed=seed, n_queries=60):
        ids, scores = ref.scores(q["terms"], q["mode"])
        got = oracle.query(q["terms"], q["mode"], q["k"])
        why = check_topk(list(got), ids, scores, q["k"])
        if why:
            bad += 1
            print(f"query {q}: {why}")
    return bad


if __name__ == "__main__":
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n_bad = crosscheck_oracle()
    print("reference agrees with OracleIndex" if not n_bad else f"{n_bad} queries disagree")
    sys.exit(1 if n_bad else 0)
