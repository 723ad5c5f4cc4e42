"""Deletes: the Lucene liveDocs analogue.

Lucene marks deletions in per-segment .liv bitmaps written as new
generations; deleted docs stop appearing in results immediately, but
corpus/term statistics still include them until a merge rewrites the
segment (docFreq "includes deleted documents" — Lucene's documented
behavior). This module reproduces those semantics index-wide:

- ``delete_docs`` appends a new generation file under
  ``<index>/deletes/`` (atomic tmp+rename; generations accumulate like
  segments_N, so concurrent readers never see a partial write).
- Query paths filter results with ``drop_deleted`` (top-k is
  computed AFTER the filter, so deleted docs don't occupy result
  slots) while scoring stats stay untouched.
- ``merge_segments(purge_deleted=True)`` (the default) drops deleted
  docs' postings and norms while rewriting blocks, subtracts them from
  the merged stats, and rewrites the deletes files without the purged
  ids — after a full merge the index is physically clean.

At cluster scale the deleted set is result-filter-sized metadata
(Lucene keeps it in memory per segment); it broadcasts with the query,
never joins against the corpus.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np


def _deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def _gen_files(index_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(_deletes_dir(index_dir), "gen-*.json")))


def delete_docs(index_dir: str, doc_ids) -> int:
    """Mark ``doc_ids`` deleted (append-only generation). Returns the
    total deleted count after the append."""
    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        return int(deleted_ids(index_dir).size)
    d = _deletes_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    existing = _gen_files(index_dir)
    gen = (
        max(int(os.path.basename(p)[4:-5]) for p in existing) + 1 if existing else 1
    )
    path = os.path.join(d, f"gen-{gen:06d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ids, f)
    os.replace(tmp, path)  # atomic publish
    return int(deleted_ids(index_dir).size)


def deleted_ids(index_dir: str) -> np.ndarray:
    """Sorted unique int64 array of all deleted doc ids (union of
    generations); empty array when no deletes exist."""
    out: set[int] = set()
    for p in _gen_files(index_dir):
        with open(p) as f:
            out.update(json.load(f))
    return np.asarray(sorted(out), dtype=np.int64)


def deleted_frame(spark, ids: np.ndarray):
    """The ids as a broadcast one-column ``doc_id`` frame built in the
    JVM from one JSON literal: no Python task runs to make it (a
    ``createDataFrame`` over a Python list costs one), and its size is
    the deleted-id count. The one owner of the deleted-doc set: query
    results anti-join it (``drop_deleted``), a purging merge keeps its
    docs out of the merged norms. (A ``doc_id IN (...)`` literal list
    is as fast for a few ids but took ~1 s to plan at 50,000.)"""
    from pyspark.sql import functions as F

    ids_json = F.lit(json.dumps(ids.tolist()))
    return F.broadcast(
        spark.range(0, 1, 1, 1).select(
            F.explode(F.from_json(ids_json, "array<long>")).alias("doc_id")
        )
    )


def drop_deleted(df, index_dir: str):
    """The liveDocs filter: ``df`` (with a ``doc_id`` column) without
    the index's deleted docs; ``df`` itself when there are none. For
    results only: scoring stats still count deleted docs until a
    purging merge (Lucene semantics)."""
    ids = deleted_ids(index_dir)
    if not ids.size:
        return df
    return df.join(deleted_frame(df.sparkSession, ids), "doc_id", "left_anti")


def rewrite_deletes(index_dir: str, doc_ids) -> None:
    """Replace all generations with one holding exactly ``doc_ids``
    (used after a purging merge removed the rest physically).

    Publish-then-prune: the replacement is written as the NEXT
    generation BEFORE the older generations are unlinked, so a
    concurrent reader (which unions all generations) sees at worst a
    transient superset of the deleted ids — never a transient empty
    set that would briefly resurrect deletes covering non-merged
    segments."""
    d = _deletes_dir(index_dir)
    ids = sorted({int(i) for i in doc_ids})
    old = _gen_files(index_dir)
    if ids:
        os.makedirs(d, exist_ok=True)
        gen = (
            max(int(os.path.basename(p)[4:-5]) for p in old) + 1 if old else 1
        )
        path = os.path.join(d, f"gen-{gen:06d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ids, f)
        os.replace(tmp, path)  # atomic publish of the full replacement
    for p in old:
        os.remove(p)
