"""Impacts-consuming BM25 top-k over an opened Lucene directory.

This is what the skip entries' competitive (freq, norm) impacts are
FOR: the reference stores skip data so posting iterators can jump
blocks (codec/terms_enumerator.ml:154-161) but stubs iteration before
any of it is consumed (codec/lucene_84_postings_reader.ml:51-53);
interop/postings_stream.py reads and cross-level-verifies the impact
sets, and this module closes the loop by turning them into per-block
BM25 upper bounds that drive the engine's fuzzed block-max WAND
(query/wand.py — pareto block bounds, lazy positioning, leapfrog,
early-exit partial scoring; Ding & Suel 2011, public literature).

What is shared vs. new:
- the WAND loop is query/wand.block_max_wand, UNCHANGED — the four
  pruning layers stay fuzzed in one place; this module only supplies
  a PostingList subclass whose ``_decode_payload`` reads a Lucene84
  .doc packed block (PFOR doc deltas + PFOR freqs) instead of an
  engine parquet block;
- per-block upper bounds come from the level-0 skip impacts: ub =
  max over the competitive (freq, norm) pairs of
  bm25_scores(idf, freq, dl=byte4_to_int(norm)) — exact, because BM25 is
  monotone increasing in tf and decreasing in dl and the pareto set
  dominates every posting in the block;
- per-doc lengths come from the Lucene80 norms pair
  (interop/norms.py): dl is the SmallFloat-QUANTIZED length, exactly
  the number Lucene's own BM25Similarity scores with. This is
  deliberately Lucene's scoring model, not the engine's exact-dl
  BM25 — the correctness contract here is WAND == exhaustive over
  the SAME quantized inputs (tests/test_wand_interop.py), with the
  one canonical K1/B/idf shape shared via oracle.py.

Uncovered spans decode EAGERLY at list-build time (bounded, <= 255
postings per term): the final packed block when 128 | df (the writer
never gives the last block a skip point — (df-1)//128 points) and the
vint tail have no impact set, so their exact span maximum plays the
block bound. Terms with df <= 128 have no skip list at all and are
fully eager the same way.

Like open_index, this is the driver-side interop/inspection surface —
metadata plus the touched blocks of a handful of query terms; the
distributed path over 100 TB remains import_lucene_index -> the
engine's partitioned WAND/exec plans.

Statistics are INDEX-global (summed over segments from .tmd field
metas: doc_count, sum_total_term_freq; per-term df summed over the
segments' term states) — Lucene's IndexSearcher collects exactly
these before scoring, which is what makes multi-segment top-k merge
exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..query.wand import PostingList, block_max_wand, bm25_scores
from .norms import byte4_to_int
from .open_index import LuceneIndex, SegmentReader
from .postings_stream import (
    BLOCK_SIZE,
    SkipListReader,
    SkipPoint,
    pfor_decode_at,
    read_term_postings,
)

_DL_LUT = np.array([byte4_to_int(b) for b in range(256)], dtype=np.float64)


def _idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _impact_ub(pairs, idf: float, avgdl: float) -> float:
    """Exact block bound from a competitive impact set: the pareto
    frontier dominates every (freq, norm) in the covered block, and
    the score is monotone in both coordinates. Computed by
    bm25_scores, as the block's decoded posting scores are: with idf
    multiplied outside the tf part, the bound could land one ulp under
    a real posting's score and prune a tied doc."""
    tf = np.array([f for f, _ in pairs], dtype=np.float64)
    dl = _DL_LUT[np.array([n for _, n in pairs], dtype=np.int64)]
    return float(bm25_scores(idf, tf, dl, avgdl).max())


@dataclass(eq=False)  # iterator state: identity equality (wand.py)
class LuceneTermList(PostingList):
    """PostingList over a term's Lucene84 .doc stream: covered packed
    blocks decode lazily via pfor_decode_at; the uncovered span is one
    eager pseudo-block. ``first_doc`` for a lazy block is the previous
    skip entry's last_doc + 1 — a LOWER bound on the block's real
    first doc (the wire stores only last docs). That keeps every
    current_doc() a valid lower bound, which is all the WAND loop's
    pruning relies on; the only cost is that is_exact() may claim a
    block-start position that resolves to a later real doc, turning
    some skips into (harmless, exact) evaluations."""

    doc_data: bytes = b""
    dl_by_doc: np.ndarray | None = None  # float64 quantized lengths

    def _decode_payload(self):
        payload = self.payloads[self.bi]
        if payload[0] == "eager":
            return payload[1], payload[2]
        _tag, fp, base_doc = payload
        deltas, p = pfor_decode_at(self.doc_data, fp, BLOCK_SIZE)
        freqs, _p = pfor_decode_at(self.doc_data, p, BLOCK_SIZE)
        docs = base_doc + np.cumsum(deltas.astype(np.int64))
        tf = freqs.astype(np.float64)
        dl = self.dl_by_doc[docs]
        return docs, bm25_scores(self.idf, tf, dl, self.avgdl)


def _eager_payload(docs, freqs, idf, dl_by_doc, avgdl):
    tf = freqs.astype(np.float64)
    dl = dl_by_doc[docs]
    return ("eager", docs, bm25_scores(idf, tf, dl, avgdl))


def _segment_dl(seg: SegmentReader, field: str) -> np.ndarray:
    norms = seg.norms(field)
    if norms is None:
        raise ValueError(
            f"segment {seg.seg_name} has no norms for field {field!r}: "
            "impacts-consuming BM25 needs the Lucene80 .nvd/.nvm pair"
        )
    if norms.min() < 0 or norms.max() > 255:
        raise ValueError(
            f"field {field!r} norms are not SmallFloat bytes "
            f"(range {norms.min()}..{norms.max()}); not a BM25 text field"
        )
    return _DL_LUT[norms]


def _build_term_list(
    seg: SegmentReader,
    field: str,
    term: str,
    idf: float,
    avgdl: float,
    dl_by_doc: np.ndarray,
) -> LuceneTermList | None:
    state = seg.seek_exact(field, term.encode())
    if state is None:
        return None
    flags = seg.field_readers[field].flags
    data = seg.doc_reader.data if seg.doc_reader is not None else b""
    df = state.doc_freq

    first_docs: list[int] = []
    last_docs: list[int] = []
    ubs: list[float] = []
    payloads: list[tuple] = []

    n_points = (df - 1) // BLOCK_SIZE
    point: SkipPoint | None = None
    if state.singleton_doc_id is not None:
        docs = np.array([state.singleton_doc_id], dtype=np.int64)
        freqs = np.array([state.total_term_freq], dtype=np.int64)
        payloads.append(_eager_payload(docs, freqs, idf, dl_by_doc, avgdl))
    elif n_points == 0:
        docs, freqs = read_term_postings(data, state, flags)
        payloads.append(_eager_payload(docs, freqs, idf, dl_by_doc, avgdl))
    else:
        sk = SkipListReader(
            data,
            state.doc_start_fp + state.skip_offset,
            n_points,
            has_positions=flags.has_positions,
            has_pay_data=flags.has_positions
            and (flags.has_payloads or flags.has_offsets),
            has_payloads=flags.has_payloads,
        )
        prev_doc = 0
        prev_fp = 0
        for j, entry in enumerate(sk.entries[0]):
            last_doc, next_fp = entry[0], entry[1]
            pairs = sk.impacts[0][j]
            if not pairs:
                raise ValueError(
                    f"term {term!r} block {j} has an empty impact set: "
                    "the index was written without norms-fed impacts"
                )
            first_docs.append(prev_doc + 1 if j else 0)
            last_docs.append(last_doc)
            ubs.append(_impact_ub(pairs, idf, avgdl))
            payloads.append(
                ("lazy", state.doc_start_fp + prev_fp, prev_doc)
            )
            prev_doc, prev_fp = last_doc, next_fp
        last = sk.entries[0][-1]
        point = SkipPoint(
            last_doc=last[0],
            next_block_fp=last[1],
            block_index=n_points,
            pos_fp=last[2],
            pos_upto=last[3],
            pay_fp=last[4],
            pay_upto=last[5],
        )
        # the uncovered span: always non-empty here (df % 128 != 0 ->
        # the vint tail; 128 | df -> the final packed block, which the
        # writer never gives a skip point)
        docs, freqs = read_term_postings(
            data, state, flags, target=point.last_doc + 1, _point=point
        )
        if docs.size:
            payloads.append(
                _eager_payload(docs, freqs, idf, dl_by_doc, avgdl)
            )

    # metadata rows for every eager payload (incl. singleton)
    while len(first_docs) < len(payloads):
        tag, docs_e, scores_e = payloads[len(first_docs)]
        assert tag == "eager"
        first_docs.append(int(docs_e[0]))
        last_docs.append(int(docs_e[-1]))
        ubs.append(float(scores_e.max()))

    return LuceneTermList(
        term=term,
        idf=idf,
        avgdl=avgdl,
        first_doc=np.array(first_docs, dtype=np.int64),
        last_doc=np.array(last_docs, dtype=np.int64),
        ub=np.array(ubs, dtype=np.float64),
        payloads=payloads,
        doc_data=data,
        dl_by_doc=dl_by_doc,
    )


def _global_stats(index: LuceneIndex, field: str, terms: list[str]):
    """Index-level (n_docs, avgdl, per-term df) from metadata only."""
    n_docs = 0
    sum_ttf = 0
    dfs = {t: 0 for t in terms}
    for seg in index.segments:
        fr = seg.field_readers.get(field)
        if fr is None:
            raise KeyError(f"field {field!r} has no terms dictionary")
        n_docs += fr.meta["doc_count"]
        sum_ttf += fr.meta["sum_total_term_freq"]
        for t in terms:
            state = seg.seek_exact(field, t.encode())
            if state is not None:
                dfs[t] += state.doc_freq
    if n_docs <= 0:
        raise ValueError(f"field {field!r} has no documents")
    return n_docs, sum_ttf / n_docs, dfs


def bm25_topk(
    index: LuceneIndex,
    field: str,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
) -> tuple[list[tuple[int, float]], dict]:
    """Exact top-k [(global_doc_id, score)] over the opened index,
    block-max pruned by the stored skip impacts. Doc ids are rebased
    by cumulative .si max_doc (Lucene's ordinal composition, the same
    rebase import_index uses). Returns (results, metrics) — metrics
    carries decoded_blocks / total_blocks so callers (and tests) can
    see the pruning actually happen."""
    terms = list(dict.fromkeys(terms))
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    n_docs, avgdl, dfs = _global_stats(index, field, terms)
    present = [t for t in terms if dfs[t] > 0]
    if mode == "and" and len(present) != len(terms):
        return [], {"decoded_blocks": 0, "total_blocks": 0, "n_lists": 0}
    idfs = {t: _idf(dfs[t], n_docs) for t in present}

    merged: list[tuple[float, int]] = []  # (score, global_doc)
    decoded = 0
    total = 0
    n_lists = 0
    doc_base = 0
    for seg in index.segments:
        dl_by_doc = _segment_dl(seg, field)
        lists = []
        for t in present:
            pl = _build_term_list(
                seg, field, t, idfs[t], avgdl, dl_by_doc
            )
            if pl is not None:
                lists.append(pl)
        if mode == "and" and len(lists) != len(present):
            doc_base += seg.segment_info["doc_count"]
            continue
        if lists:
            hits, metrics = block_max_wand(
                lists,
                k,
                require_all_terms=set(present) if mode == "and" else None,
                term_order=present,
            )
            decoded += metrics["decoded_blocks"]
            total += metrics["total_blocks"]
            n_lists += metrics["n_lists"]
            merged.extend((s, d + doc_base) for d, s in hits)
        doc_base += seg.segment_info["doc_count"]

    merged.sort(key=lambda x: (-x[0], x[1]))
    out = [(d, s) for s, d in merged[:k]]
    return out, {
        "decoded_blocks": decoded,
        "total_blocks": total,
        "n_lists": n_lists,
    }


def bm25_topk_exhaustive(
    index: LuceneIndex,
    field: str,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
) -> list[tuple[int, float]]:
    """The no-pruning scorer over the same quantized inputs: full
    postings decode, identical per-posting arithmetic, per-doc fold in
    query-term order (wand.fold_score's contract). The equality
    WAND == exhaustive is this module's exactness test surface."""
    terms = list(dict.fromkeys(terms))
    n_docs, avgdl, dfs = _global_stats(index, field, terms)
    present = [t for t in terms if dfs[t] > 0]
    if mode == "and" and (len(present) != len(terms) or not terms):
        return []
    idfs = {t: _idf(dfs[t], n_docs) for t in present}

    per_doc: dict[int, dict[str, float]] = {}
    doc_base = 0
    for seg in index.segments:
        dl_by_doc = _segment_dl(seg, field)
        flags = seg.field_readers[field].flags
        data = seg.doc_reader.data if seg.doc_reader is not None else b""
        for t in present:
            state = seg.seek_exact(field, t.encode())
            if state is None:
                continue
            if state.singleton_doc_id is not None:
                docs = np.array([state.singleton_doc_id], dtype=np.int64)
                freqs = np.array([state.total_term_freq], dtype=np.int64)
            else:
                docs, freqs = read_term_postings(data, state, flags)
            tf = freqs.astype(np.float64)
            dl = dl_by_doc[docs]
            scores = bm25_scores(idfs[t], tf, dl, avgdl)
            for d, s in zip((docs + doc_base).tolist(), scores.tolist()):
                per_doc.setdefault(d, {})[t] = s
        doc_base += seg.segment_info["doc_count"]

    out = []
    for d, parts in per_doc.items():
        if mode == "and" and len(parts) != len(present):
            continue
        score = 0.0
        for t in present:  # fold in query-term order, like fold_score
            s = parts.get(t)
            if s is not None:
                score += s
        out.append((d, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def main(argv: list[str] | None = None) -> int:
    """CLI: score a query against a real Lucene directory.

        python -m ocaml_lucene_spark.interop.wand_search \\
            DIR FIELD TERM [TERM ...] [--k K] [--mode or|and]
    """
    import argparse

    from .open_index import open_index

    ap = argparse.ArgumentParser(
        prog="ocaml_lucene_spark.interop.wand_search",
        description="impacts-pruned BM25 top-k over a Lucene directory",
    )
    ap.add_argument("dir")
    ap.add_argument("field")
    ap.add_argument("terms", nargs="+")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["or", "and"], default="or")
    args = ap.parse_args(argv)
    hits, metrics = bm25_topk(
        open_index(args.dir), args.field, args.terms,
        k=args.k, mode=args.mode,
    )
    for doc, score in hits:
        print(f"{doc}\t{score:.6f}")
    print(
        f"# decoded {metrics['decoded_blocks']}/{metrics['total_blocks']} "
        f"blocks over {metrics['n_lists']} lists"
    )
    return 0 if hits else 1


if __name__ == "__main__":
    raise SystemExit(main())


__all__ = ["LuceneTermList", "bm25_topk", "bm25_topk_exhaustive"]
