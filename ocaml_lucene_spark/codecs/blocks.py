"""Postings block framing: 128-doc blocks with skip metadata.

Mirrors the reference's postings layout semantics (/root/reference/codec/
lucene_84_postings_reader.ml streams; skip pointers decoded at
/root/reference/codec/terms_enumerator.ml:154-161): a term's posting
list is chunked into BLOCK_SIZE-doc blocks; docIDs are delta+FOR/PFOR
packed, term frequencies PFOR packed, positions (within-doc deltas)
PFOR stream packed. Each block is independently decodable (its first
docID is stored absolutely), so a reader can *skip* whole blocks using
the columnar skip metadata (first_doc/last_doc/max_tf/min_dl) — that
metadata replaces Lucene's interleaved multi-level skip lists and also
carries what block-max WAND needs (upper-bounding BM25 via max_tf and
min_dl, both monotone in the score).

Every postings reader decodes through ``decode_postings``: one Arrow
batch of block rows at a time (under mapInArrow, or over a pyarrow read
on the driver), into numpy columns. The per-block ``decode_*`` helpers
are the reference it is tested against, and WAND's lazy single-block
decode.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .bitpack import BLOCK_SIZE
from .delta import delta_decode, delta_encode, stream_decode, stream_encode
from . import pfor


@dataclass
class PostingBlock:
    block_no: int
    n: int
    first_doc: int
    last_doc: int
    max_tf: int
    sum_tf: int
    min_dl: int
    doc_bytes: bytes
    tf_bytes: bytes
    dl_bytes: bytes | None  # per-posting doc length (denormalized norms —
    # Lucene keeps norms in a separate doc-values file; inlining them
    # makes a block self-scoring, no norms join at query time)
    pos_bytes: bytes | None
    off_bytes: bytes | None = None  # .pay analogue: per-occurrence char
    # start offsets (within-doc deltas, same framing as positions)
    ub_tfs: list[int] | None = None  # pareto frontier of (tf, dl) pairs:
    ub_dls: list[int] | None = None  # the non-dominated postings (tf max,
    # dl min). For ANY query-time avgdl, max over the frontier of
    # tfn(tf_j, dl_j, avgdl) is the EXACT block-max BM25 tf-norm — a far
    # tighter WAND bound than pairing max_tf with min_dl when the two
    # come from different postings (the hot+mid pruning headroom).


def _pareto_frontier(tf: np.ndarray, dl: np.ndarray) -> tuple[list[int], list[int]]:
    """Non-dominated (tf, dl) points of one block: no other point has
    tf' >= tf and dl' <= dl. BM25's tf-norm is increasing in tf and
    decreasing in dl, so for any avgdl the block-max score is attained
    on this frontier. Sorted by tf desc / dl asc; strictly-decreasing
    dl scan keeps it (n <= BLOCK_SIZE, typically a handful of points)."""
    order = np.lexsort((dl, -tf))
    tfs, dls = tf[order], dl[order]
    keep = np.empty(dls.size, dtype=bool)
    keep[0] = True
    keep[1:] = dls[1:] < np.minimum.accumulate(dls)[:-1]
    return tfs[keep].tolist(), dls[keep].tolist()


def _per_doc_delta_stream(
    values: np.ndarray, tf: np.ndarray, pos_offsets: np.ndarray, start: int, end: int
) -> bytes:
    """Pack a flat per-occurrence value stream (ascending within each
    doc) as within-doc deltas: first value of each doc absolute."""
    chunk = values[pos_offsets[start] : pos_offsets[end]].astype(np.int64)
    deltas = np.diff(chunk, prepend=np.int64(0))
    starts = (pos_offsets[start:end] - pos_offsets[start]).astype(np.int64)
    deltas[starts] = chunk[starts]
    return stream_encode(deltas.astype(np.uint64))


def encode_posting_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None = None,
    dls: np.ndarray | None = None,
    offsets: np.ndarray | None = None,
) -> list[PostingBlock]:
    """Chunk one term's (docID-ascending) postings into packed blocks.

    positions: concatenation of every doc's ascending position list
    (lengths given by tfs). dls: doc length per posting row (for the
    min_dl WAND bound); defaults to 0 (bound disabled -> conservative).
    offsets: per-occurrence char start offsets, same flat layout as
    positions (.pay stream analogue, highlighting-class features).
    """
    ids = np.asarray(doc_ids, dtype=np.int64)
    tf = np.asarray(tfs, dtype=np.int64)
    blocks: list[PostingBlock] = []
    pos_offsets = None
    if positions is not None or offsets is not None:
        pos_offsets = np.concatenate([[0], np.cumsum(tf)])
    for bno, start in enumerate(range(0, ids.size, BLOCK_SIZE)):
        end = min(start + BLOCK_SIZE, ids.size)
        cid = ids[start:end]
        ctf = tf[start:end]
        pos_b = (
            _per_doc_delta_stream(positions, ctf, pos_offsets, start, end)
            if positions is not None
            else None
        )
        off_b = (
            _per_doc_delta_stream(offsets, ctf, pos_offsets, start, end)
            if offsets is not None
            else None
        )
        if dls is not None:
            ub_tfs, ub_dls = _pareto_frontier(ctf, dls[start:end])
        else:
            ub_tfs, ub_dls = [int(ctf.max())], [0]
        blocks.append(
            PostingBlock(
                block_no=bno,
                n=int(end - start),
                first_doc=int(cid[0]),
                last_doc=int(cid[-1]),
                max_tf=int(ctf.max()),
                sum_tf=int(ctf.sum()),
                min_dl=int(dls[start:end].min()) if dls is not None else 0,
                doc_bytes=delta_encode(cid),
                tf_bytes=pfor.encode(ctf.astype(np.uint64)),
                dl_bytes=(
                    pfor.encode(np.asarray(dls[start:end], dtype=np.uint64))
                    if dls is not None
                    else None
                ),
                pos_bytes=pos_b,
                off_bytes=off_b,
                ub_tfs=ub_tfs,
                ub_dls=ub_dls,
            )
        )
    return blocks


def decode_doc_ids(doc_bytes: bytes) -> np.ndarray:
    return delta_decode(doc_bytes)


def decode_tfs(tf_bytes: bytes, n: int) -> np.ndarray:
    return pfor.decode(tf_bytes, n).astype(np.int64)


def decode_positions(pos_bytes: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Return per-doc ascending position arrays (also decodes the
    offsets stream, which shares the framing)."""
    deltas = stream_decode(pos_bytes).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(np.asarray(tfs, dtype=np.int64))])
    return [np.cumsum(deltas[offsets[i] : offsets[i + 1]]) for i in range(len(tfs))]


def isin_sorted(docs: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Boolean mask of the ``docs`` found in the ascending array
    ``sorted_ids``: one searchsorted, no sort of ``docs``."""
    if not sorted_ids.size:
        return np.zeros(docs.size, dtype=bool)
    at = np.minimum(np.searchsorted(sorted_ids, docs), sorted_ids.size - 1)
    return sorted_ids[at] == docs


# the per-occurrence streams: column -> (decoded name, the error when a
# build without that index option left the column null)
_OCCURRENCE_STREAMS = {
    "pos_bytes": ("positions", "index was built without positions"),
    "off_bytes": ("starts", "index was built without offsets"),
}


def _concat(parts: list[np.ndarray]) -> np.ndarray:
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def decode_postings(batch, deleted: np.ndarray | None = None) -> dict[str, np.ndarray]:
    """The block decoder every postings reader shares: one Arrow
    RecordBatch of postings-parquet block rows -> numpy int64 columns
    concatenated over the whole batch, in block-row then posting order.

    Decodes whichever streams the batch carries: ``doc_bytes`` ->
    ``doc_id`` (always), ``tf_bytes`` -> ``tf``, ``dl_bytes`` -> ``dl``,
    ``pos_bytes`` -> ``positions`` and ``off_bytes`` -> ``starts`` (both
    flat, one value per occurrence; a posting's count is its tf, so
    either needs ``tf_bytes``). ``row`` is each posting's row index in
    the batch. Postings of the docs in the ascending ``deleted`` ids are
    dropped, their occurrences with them. A null ``off_bytes`` or
    ``pos_bytes`` raises ValueError naming the index option it needs
    (offsets are checked first)."""
    names = set(batch.schema.names)
    flat = [c for c in ("off_bytes", "pos_bytes") if c in names]
    for col in flat:
        if batch.column(col).null_count:
            raise ValueError(_OCCURRENCE_STREAMS[col][1])
    doc_blocks = [delta_decode(b) for b in batch.column("doc_bytes").to_pylist()]
    counts = np.array([d.size for d in doc_blocks], dtype=np.int64)
    out = {
        "row": np.repeat(np.arange(counts.size, dtype=np.int64), counts),
        "doc_id": _concat(doc_blocks),
    }
    ns = counts.tolist()
    for col, name in (("tf_bytes", "tf"), ("dl_bytes", "dl")):
        if col in names:
            out[name] = _concat(
                [pfor.decode(b, n) for b, n in zip(batch.column(col).to_pylist(), ns)]
            ).astype(np.int64)
    if flat:
        tf = out["tf"]
        first = np.concatenate([[0], np.cumsum(tf)])[:-1]  # each doc's first occurrence
    for col in flat:
        # within-doc deltas, each doc's first value absolute: the
        # values are a running sum less the sum before the doc's first
        deltas = _concat([stream_decode(b) for b in batch.column(col).to_pylist()])
        deltas = deltas.astype(np.int64)
        c = np.cumsum(deltas)
        out[_OCCURRENCE_STREAMS[col][0]] = c - np.repeat(c[first] - deltas[first], tf)
    if deleted is not None:
        keep = ~isin_sorted(out["doc_id"], deleted)
        if not keep.all():
            occ = np.repeat(keep, out["tf"]) if flat else None
            out = {k: v[occ if k in ("positions", "starts") else keep] for k, v in out.items()}
    return out


def occurrence_lists(values: np.ndarray, tf: np.ndarray):
    """A flat per-occurrence column of decode_postings (positions or
    starts) as an Arrow list<int64> column, one list of tf values per
    posting."""
    import pyarrow as pa

    offsets = pa.array(np.concatenate([[0], np.cumsum(tf)]), pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(values, pa.int64()))
